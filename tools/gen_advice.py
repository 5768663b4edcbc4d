"""Regenerate ADVICE.md from the advice ledger (r10 VERDICT #7).

The advisor writes fresh items into ADVICE.md at round start; fixed
items used to linger there across rounds (the r9 items were still
listed after r10 fixed all five), so a future round could re-read
stale advice. This tool is the per-round refresh (the gen_registry.py
discipline): LEDGER below records every advisor item with its current
status and resolution anchor; `python tools/gen_advice.py` rewrites
ADVICE.md with OPEN items first (or an explicit "none") and resolved
items in a dated archive section.

Round workflow: paste new advisor items into LEDGER as status="open";
flip to status="fixed" with the resolving commit/anchor when done;
re-run this tool.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Each item: round it arrived, severity, anchor (file:line at arrival),
# the advisor's ask, status ("open"/"fixed"/"declined"), resolution.
LEDGER = [
    {
        "round": 10,
        "severity": "low",
        "anchor": "etl_neotel_sql_automation_spark/workload/llm_ops.py:1260",
        "ask": (
            "sim_pq_topk / sim_ivf_pq_topk hardcode the local trainer "
            "with no train_fraction; past _LOCAL_TRAIN_CAP the query raises "
            "where the ml path still worked."
        ),
        "status": "fixed",
        "resolution": (
            "r11: _collect_train_sample caps by a deterministic hash-order "
            "top-k instead of raising - the local backend now runs at any "
            "SF (ops/similarity.py; test_local_train_sample_cap_guard)."
        ),
    },
    {
        "round": 10,
        "severity": "low",
        "anchor": "etl_neotel_sql_automation_spark/workload/graph_ops.py:227",
        "ask": (
            "graph_triangle_count gained construct-time localCheckpoints "
            "but was not added to bench CONSTRUCT_SPLIT."
        ),
        "status": "fixed",
        "resolution": (
            "r11: graph_triangle_count + graph_closeness_bfs (and the "
            "r11 cluster family) added to CONSTRUCT_SPLIT in bench.py."
        ),
    },
    {
        "round": 10,
        "severity": "low",
        "anchor": "tools/scaling_record.py:25",
        "ask": (
            "_META_KEYS was a hand-maintained denylist; a future numeric "
            "metadata key would be silently recorded as a timing leg."
        ),
        "status": "fixed",
        "resolution": (
            "r11: record(family, scale, legs) takes an explicit "
            "timings-only legs dict; non-numeric legs raise; all 19+1 "
            "probes migrated (test_record_contract_rejects_non_timings)."
        ),
    },
    {
        "round": 10,
        "severity": "low",
        "anchor": "etl_neotel_sql_automation_spark/ops/multimodal.py:119",
        "ask": (
            "wav_meta trusted the declared data-chunk length; a truncated "
            "WAV with an intact header returned wrong n_samples."
        ),
        "status": "fixed",
        "resolution": (
            "r11: the chunk walk raises ValueError when a declared chunk "
            "length runs past the payload "
            "(test_wav_meta_rejects_truncated_data_chunk)."
        ),
    },
]


def build() -> str:
    open_items = [i for i in LEDGER if i["status"] == "open"]
    done_items = [i for i in LEDGER if i["status"] != "open"]
    lines = [
        "# ADVICE",
        "",
        "(regenerated by tools/gen_advice.py - r10 VERDICT #7: only OPEN",
        "items live here; resolved items move to the archive below so a",
        "future round never re-reads stale advice)",
        "",
        "## Open items",
        "",
    ]
    if not open_items:
        lines.append("None.")
    for i in open_items:
        lines.append(
            f"- **{i['severity']}** {i['anchor']} (r{i['round']}) — {i['ask']}"
        )
    lines += ["", "## Resolved", ""]
    for i in done_items:
        lines.append(
            f"- r{i['round']} **{i['severity']}** {i['anchor']} — {i['ask']}"
        )
        lines.append(f"  _{i['resolution']}_")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    path = os.path.join(REPO, "ADVICE.md")
    with open(path, "w") as f:
        f.write(build())
    print(f"wrote {path}")
