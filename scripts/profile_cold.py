#!/usr/bin/env python3
"""Break a COLD catalog-query pass into its three cost components:

* construct — Python-side DataFrame/expression-tree building (py4j
  round trips in the catalog function body);
* plan      — JVM-side analysis + optimization + physical planning
  (forced via ``queryExecution().executedPlan()``, no execution);
* execute   — run the prepared physical plan and materialize the
  result driver-side via Arrow (the bench's encoding).

Usage:
    python scripts/profile_cold.py [entry ...]      # default: HEADLINE

Environment matches bench.py ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS),
same hot-table-cache + memoized-engine setup, so construct+plan+execute
here ≈ the bench's cold_queries seconds. min over 3 passes per entry.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PASSES = int(os.environ.get("PROFILE_PASSES", "3"))


def main() -> int:
    import bench
    import __spark_entry__ as entry
    from hadoop_search_spark.session import get_spark
    from hadoop_search_spark import catalog as _cat

    names = sys.argv[1:] or list(bench.HEADLINE)
    spark = get_spark(app_name="profile_cold", cpus=CPUS)
    qs = entry.queries()

    # identical serving setup to bench.py (hot table cache + memoized
    # offline builds), so the cold pass isolates per-query cost
    for tbl in ("lineitem", "orders", "customer", "supplier", "nation",
                "region", "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{tbl}.parquet").cache().count()
    _cat._events(spark, SF_DIR).cache().count()
    _cat._t(spark, _cat._ANISO_DIR, "embeddings").cache().count()
    _cat._engine(spark, SF_DIR).plan("table").collect()
    _cat.search_stemmed_cnf(spark, SF_DIR).limit(1).collect()
    _cat._ropq_published_index(spark)
    for name in names:  # warm-up (JIT, codegen cache, shuffle services)
        bench.materialize(qs[name](spark, SF_DIR), name)

    rows = []
    best: dict[str, tuple] = {}
    for _ in range(PASSES):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile_cold {name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            bench.materialize(df, name)
            t3 = time.time()
            cur = (t3 - t0, t1 - t0, t2 - t1, t3 - t2)
            if name not in best or cur[0] < best[name][0]:
                best[name] = cur
    print(f"{'entry':<34} {'total':>7} {'constr':>7} {'plan':>7} {'exec':>7}")
    tot = [0.0, 0.0, 0.0, 0.0]
    for name in names:
        t, c, p, e = best[name]
        tot = [a + b for a, b in zip(tot, best[name])]
        print(f"{name:<34} {t:7.3f} {c:7.3f} {p:7.3f} {e:7.3f}")
    print(f"{'TOTAL':<34} {tot[0]:7.3f} {tot[1]:7.3f} {tot[2]:7.3f} {tot[3]:7.3f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
