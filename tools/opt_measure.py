"""Round-8 optimization measurement harness.

Times individual queries exactly the way bench.py does (min of K
``.count()`` runs, cache cleared between runs) and captures
``explain('formatted')`` to ``plans/r08/<query>_<tag>.txt`` so plan
claims in OPTIMIZATION_r08.md are verifiable without running Spark.

Usage:
    python tools/opt_measure.py [--tag before|after] [--runs K] q51_provider_ingest q205_cc_scrape_router ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r09"
)

# iterative operators truncate lineage per round; their returned frame
# explains as a 3-node checkpoint-leaf stub. Capture the first few
# PRE-truncation plans via the plan-audit hook so the committed dumps
# show the per-round exchanges/joins (round-8 verdict item 7).
PRETRUNCATE_CAP = 4


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="write plans/r09/<q>_<tag>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-time", action="store_true", help="only capture plans")
    args = ap.parse_args()

    from cccatalog_spark.plans.queries import all_queries
    from cccatalog_spark.session import get_spark

    spark = get_spark("cccatalog-opt-measure")
    queries = all_queries()
    # same warmup as bench.py
    queries["q01_pricing_summary"](spark, SF_DIR).count()
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(0, n_workers * 10, 1, n_workers).mapInPandas(
        lambda batches: (b for b in batches), "id long"
    ).count()
    spark.catalog.clearCache()

    os.makedirs(PLANS_DIR, exist_ok=True)
    out = {}
    for name in args.queries:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.tag:
            from cccatalog_spark.operators import dedup as _dedup

            captured: list[str] = []

            def _hook(pre_df, _c=captured):
                if len(_c) < PRETRUNCATE_CAP:
                    try:
                        _c.append(
                            pre_df._jdf.queryExecution()
                            .explainString(
                                spark._jvm.org.apache.spark.sql.execution
                                .ExplainMode.fromString("formatted")
                            )
                        )
                    except Exception:  # noqa: BLE001
                        pass

            _dedup.PRETRUNCATE_HOOK = _hook
            try:
                df = queries[name](spark, SF_DIR)
            finally:
                _dedup.PRETRUNCATE_HOOK = None
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            if captured:
                plan += (
                    "\n\n== Pre-truncation plans (plan-audit hook; "
                    f"first {len(captured)} lineage-truncation points; "
                    "the returned frame above is a checkpoint-leaf "
                    "readback) ==\n\n"
                ) + "\n\n---\n\n".join(captured)
            with open(
                os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w"
            ) as f:
                f.write(plan)
            spark.catalog.clearCache()
        if args.no_time:
            continue
        spark.sparkContext.setJobDescription(f"opt-measure {name}")
        draws = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).count()
            draws.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        out[name] = min(draws)
        print(json.dumps({name: out[name], "draws": draws}), flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
