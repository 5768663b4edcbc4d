"""Generate REGISTRY.md — the discoverability index over the query
registry (r9 VERDICT #8: "which of the 400+ queries demonstrates X?").

One row per registered query: name, family (name prefix), defining
module, oracle kind, latest bench number (headline best-of-3 or
coverage single-pass, labeled), scaling-probe row count, and the first
sentence of the query's docstring. Derived ENTIRELY from the live
registry + committed records (BENCH_FULL.json, SCALING_*.json) — never
hand-maintained; tests/test_registry_md.py asserts it is in sync.

Usage: python tools/gen_registry.py   (writes /root/repo/REGISTRY.md)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.match(r"(.+?[.!?])(\s|$)", text)
    s = m.group(1) if m else text
    return (s[:157] + "...") if len(s) > 160 else s


def _family(name: str) -> str:
    return name.split("_", 1)[0]


def _oracle_kind(sql: str | None) -> str:
    if sql is None:
        return "rows-only"
    if re.search(r"\bTRUE\s+AS\b", sql, re.IGNORECASE):
        return "property"
    return "exact"


def build() -> str:
    from etl_neotel_sql_automation_spark import workload

    workload._ensure_loaded()
    reg = workload.REGISTRY

    bench_head: dict[str, float] = {}
    bench_cov: dict[str, float] = {}
    bp = os.path.join(REPO, "BENCH_FULL.json")
    if os.path.exists(bp):
        with open(bp) as f:
            b = json.load(f)
        bench_head = b.get("queries", {})
        bench_cov = b.get("coverage_pass_seconds", {})

    probes: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "SCALING_*.json")):
        with open(path) as f:
            data = json.load(f)
        for leg, scales in data.items():
            if leg in reg:
                probes[leg] = max(probes.get(leg, 0), len(scales))

    lines = [
        "# REGISTRY — query index (generated by tools/gen_registry.py; do not edit)",
        "",
        f"{len(reg)} registered queries. Bench column: `H` = headline "
        "best-of-3, `C` = coverage single-pass (seconds at sf0.1, from "
        "BENCH_FULL.json). Probe column: number of scales recorded in "
        "SCALING_*.json for a same-named leg.",
        "",
        "## Declared-semantics re-declarations",
        "",
        "- **dedup_token_jaccard** (round 11, commit 534cc98; recorded "
        "here per r11 VERDICT #8): the declared computation changed from "
        "the UNTHRESHOLDED per-block pair listing to the >= 1/2-"
        "thresholded exact Jaccard join, computed via the prefix-filtered "
        "(AllPairs/PPJoin) candidate path — the r10 VERDICT #1 mandate. "
        "The unthresholded listing is quadratic in a source block as the "
        "corpus grows, so thresholding BOTH the query and its brute-force "
        "DuckDB oracle (llm_ops.py) was a deliberate re-declaration, not "
        "an oracle weakening: the oracle remains an independent exact "
        "computation, and passing it verifies the prefix-filter "
        "no-false-negatives lemma (444,872 identical rows at sf0.1). The "
        "old unthresholded form stays available for bounded blocks as "
        "`ops.dedup.token_jaccard_pairs`.",
        "",
        "| query | family | module | oracle | bench s | probe | summary |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in sorted(reg):
        w = reg[name]
        mod = w.fn.__module__.rsplit(".", 1)[-1]
        if name in bench_head:
            bench = f"{bench_head[name]:.2f} H"
        elif name in bench_cov:
            bench = f"{bench_cov[name]:.2f} C"
        else:
            bench = "—"
        probe = f"{probes[name]}x" if name in probes else "—"
        summary = _first_sentence(w.fn.__doc__).replace("|", "\\|")
        lines.append(
            f"| {name} | {_family(name)} | {mod} | {_oracle_kind(w.oracle)}"
            f" | {bench} | {probe} | {summary} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(REPO, "REGISTRY.md")
    with open(out, "w") as f:
        f.write(build())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
