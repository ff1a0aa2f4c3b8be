#!/usr/bin/env python3
"""Regenerate ``goldens.json`` for the analytics op pass.

    python3 perfbench/make_goldens.py [--oracle]

Runs the 14 ops on the fixed tables in ``tables/`` and stores each result's
row count and digest. ``--oracle`` also runs each op's DuckDB ``oracle_sql()``
on the same tables and refuses to write unless every result matches
(``tests/entry_compare.compare``), so the goldens are pinned to the
independent oracle, not only to Spark's own output. Run it from the
repository root; it needs ``duckdb``.
"""

from __future__ import annotations

import argparse
import json
import sys
import types

import analytics
from run import Run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    run = Run(types.SimpleNamespace(workload="goldens", seed=0, size="full",
                                    trace=0))
    try:
        tables = analytics.TABLES
        spark = run.spark()
        ops, problems = analytics.run_pass(spark, tables, seed=0)
        if args.oracle:
            import __spark_entry__ as entry
            import duckdb
            from tests.entry_compare import compare
            con = duckdb.connect()
            for t in ("documents", "embeddings", "events", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{tables}/{t}.parquet'")
            osql, queries = entry.oracle_sql(), entry.queries()
            for op in analytics.OPS:
                got = queries[op](spark, tables).toPandas()
                bad = compare(got, con.execute(osql[op]).df())
                print(f"{op}: rows={len(got)} oracle "
                      f"{'OK' if not bad else bad}", flush=True)
                problems += [f"{op}: {b}" for b in bad]
    finally:
        run.close()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    gold = {op: {"rows": r["rows"], "digest": r["digest"]}
            for op, r in sorted(ops.items())}
    with open(analytics.GOLDENS, "w") as f:
        json.dump(gold, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {analytics.GOLDENS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
