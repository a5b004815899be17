#!/usr/bin/env python
"""Plan audit: per-query scan / exchange / cache-read counts for every
registered query, sorted worst-first.

This is the tool that caught the branch-recomputation pathology fixed
in round 3 (funnel_view_click_purchase planned 24 parquet scans;
token_triangle_counts 26; token_cooccurrence_pmi re-ran its explode +
distinct four times): when several branches consume one derived
relation, column pruning gives each branch a differently-pruned copy
of the subtree, ReuseExchange no longer fires, and the whole
derivation re-executes per branch. The fix is either a one-pass
rewrite (funnel) or persisting the shared relation (triangles, PMI,
basket lift).

Reading the output:
- `scan` counts FileScan nodes in the SIMPLE explain string. For
  queries that persist, scans inside an InMemoryRelation's build plan
  are still printed per cache reference, so `scan` OVERSTATES runtime
  work whenever `cache` > 0 — a high scan count with zero cache reads
  is the real smell.
- `cache` counts InMemoryTableScan nodes (branches served by a
  persisted relation).
- `hash`/`range`/`bcast` count exchange nodes; iterative queries
  (token_pagerank) legitimately repeat their per-iteration exchange.
- the closing `decisions` section prints, for each query whose build
  went through a decision site, the JSON of its
  ``decisions.record()`` (which arm each site picked and the measured
  inputs), without the exact encoding's vocabulary list. It is the
  source of the per-corpus picks in README "Decision sites".

Usage::

    python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multithreaded_mapreduce_spark.plans import decisions  # noqa: E402
from multithreaded_mapreduce_spark.plans.registry import all_queries  # noqa: E402
from multithreaded_mapreduce_spark.session import get_spark  # noqa: E402


def plan_counts(spark, builder, sf_dir: str) -> dict[str, int]:
    df = builder(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    return {
        "scan": plan.count("FileScan"),
        "cache": plan.count("InMemoryTableScan"),
        "hash": plan.count("Exchange hashpartitioning"),
        "range": plan.count("Exchange rangepartitioning"),
        "bcast": plan.count("BroadcastExchange"),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    from multithreaded_mapreduce_spark.plans.caching import (
        release_result_memos,
        release_tracked,
    )

    rows = []
    records = {}
    for name, q in all_queries().items():
        try:
            rows.append((name, plan_counts(spark, q.builder, sf_dir)))
            records[name] = {
                site: {k: v for k, v in d.items() if k != "vocab"}
                for site, d in decisions.record().items()
            }
        except Exception as ex:  # streaming-only builders etc.
            print(f"{name:40s} ERR {str(ex)[:60]}", file=sys.stderr)
        finally:
            release_tracked()  # no persisted relation outlives its query
            release_result_memos()  # audited plans must be the COLD shape
    rows.sort(key=lambda r: (r[1]["cache"] == 0, r[1]["scan"]), reverse=True)
    print(f"{'query':40s} {'scan':>5s} {'cache':>5s} {'hash':>5s} {'range':>5s} {'bcast':>5s}")
    for name, c in rows:
        flag = "  <-- rescans, no cache" if c["scan"] >= 10 and c["cache"] == 0 else ""
        print(
            f"{name:40s} {c['scan']:5d} {c['cache']:5d} {c['hash']:5d} "
            f"{c['range']:5d} {c['bcast']:5d}{flag}"
        )
    leaked = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    print(f"persistent RDDs after sweep: {leaked}" + (" <-- CACHE LEAK" if leaked else ""))
    print("decisions")
    for name, rec in sorted(records.items()):
        if rec:
            print(f"{name:40s} {json.dumps(rec, sort_keys=True)}")
    spark.stop()
    return 1 if leaked else 0


if __name__ == "__main__":
    raise SystemExit(main())
