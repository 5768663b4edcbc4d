"""Parent-vs-change fingerprint of the registered queries of some
workload modules: same results, same plan shape, same oracle rows.

Usage: python tools/ab_fingerprint.py PARENT_TREE MODULE... --sf SF_DIR [--out FILE]

PARENT_TREE is a checkout of the parent commit (``git archive`` or
``git clone``); the change tree is the checkout holding this script.
Each tree runs in one fresh Python process that imports the package
from that tree (local[4], ``spark.sql.shuffle.partitions=4``, ANSI on,
its own temporary warehouse). A MODULE is a ``workload`` module name; a
query is compared when its defining module is one of them in either
tree, so a query that moved between modules is matched by name. Per
query it records:

- ``registry``: ``[count, sum(xxhash64(all columns))]`` with AQE on;
- ``plans_aqe_off``: the ``[Exchange, BroadcastExchange]`` node counts
  of the executed plan with AQE off;
- ``oracle_duckdb``: for every oracle whose text differs between the
  trees, both texts' DuckDB ``[rows, sha256 of the sorted rows]``.

It also compares the sorted registry names of the two trees. The record
is printed, or written to FILE.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile

CHANGE_TREE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _worker(tree: str, sf_dir: str, out: str, modules: list[str]) -> None:
    """Fingerprint the queries of ``modules`` as defined in ``tree``."""
    sys.path.insert(0, tree)
    import etl_neotel_sql_automation_spark as pkg
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark import workload

    workload._ensure_loaded()
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("ab_fingerprint")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ab-fingerprint-warehouse-"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rec: dict = {"package": os.path.dirname(pkg.__file__), "names": sorted(workload.REGISTRY), "queries": {}}
    for name, w in workload.REGISTRY.items():
        module = w.fn.__module__.rsplit(".", 1)[-1]
        if module not in modules:
            continue
        q = rec["queries"][name] = {"module": module, "oracle": w.oracle}
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            plan = w.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            q["plan"] = [len(re.findall(r"\bExchange\b", plan)), len(re.findall(r"\bBroadcastExchange\b", plan))]
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            df = w.fn(spark, sf_dir)
            n, s = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
                F.count("*"), F.sum("h")
            ).first()
            q["fingerprint"] = [n, str(s)]
        except Exception as e:  # noqa: BLE001
            q["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        print(name, q.get("fingerprint", q.get("error")), q.get("plan"), flush=True)
    spark.stop()
    with open(out, "w") as f:
        json.dump(rec, f)


def _run_tree(tree: str, sf_dir: str, modules: list[str]) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        out = f.name
    env = dict(os.environ, PYTHONPATH=tree)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", tree, sf_dir, out, *modules],
        cwd=tree, env=env, check=True,
    )
    with open(out) as f:
        rec = json.load(f)
    os.unlink(out)
    if os.path.realpath(rec["package"]) != os.path.realpath(os.path.join(tree, "etl_neotel_sql_automation_spark")):
        raise SystemExit(f"{tree}: imported the package from {rec['package']}")
    return rec


def _duckdb(sf_dir: str, sql: str) -> list:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    rows = sorted(repr(tuple(r)) for r in con.execute(sql).fetchall())
    return [len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]]


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        tree, sf_dir, out, *modules = sys.argv[2:]
        _worker(tree, sf_dir, out, modules)
        return
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_tree")
    ap.add_argument("modules", nargs="+")
    ap.add_argument("--sf", required=True, help="parquet directory, e.g. an sf0.01 test-data dir")
    ap.add_argument("--out")
    args = ap.parse_args()
    sides = {
        "parent": _run_tree(os.path.abspath(args.parent_tree), args.sf, args.modules),
        "change": _run_tree(CHANGE_TREE, args.sf, args.modules),
    }
    p, c = sides["parent"]["queries"], sides["change"]["queries"]
    names = sorted(set(p) | set(c))
    registry, plans, oracles = {}, {}, {}
    for n in names:
        pq, cq = p.get(n, {}), c.get(n, {})
        registry[n] = {
            "module": [pq.get("module"), cq.get("module")],
            "parent": pq.get("fingerprint", pq.get("error")),
            "change": cq.get("fingerprint", cq.get("error")),
        }
        plans[n] = {"parent": pq.get("plan"), "change": cq.get("plan")}
        if pq.get("oracle") != cq.get("oracle") and pq.get("oracle") and cq.get("oracle"):
            oracles[n] = {s: _duckdb(args.sf, q["oracle"]) for s, q in (("parent", pq), ("change", cq))}

    def unequal(rec: dict) -> list[str]:
        return [n for n, r in rec.items() if r["parent"] != r["change"] or not isinstance(r["parent"], list)]

    gaining = [
        n for n, r in plans.items()
        if r["parent"] and r["change"] and sum(r["change"]) > sum(r["parent"])
    ]
    record = {
        "_meta": {
            "modules": args.modules,
            "sf_dir": os.path.basename(os.path.normpath(args.sf)),
            "registry_names_equal": sides["parent"]["names"] == sides["change"]["names"],
            "registry_names": len(sides["change"]["names"]),
            "queries": len(names),
            "queries_not_equal": unequal(registry),
            "plans_not_equal": unequal(plans),
            "queries_gaining_an_exchange": gaining,
            "oracles_text_changed": len(oracles),
            "oracles_not_equal": unequal(oracles),
        },
        "registry": registry,
        "plans_aqe_off": plans,
        "oracle_duckdb": oracles,
    }
    text = json.dumps(record, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(json.dumps(record["_meta"], indent=1))


if __name__ == "__main__":
    main()
