"""Profile registered queries: split wall time into plan-build (fn call,
which includes eager memo/checkpoint work), first action, and a warm
second action, each with the number of classes Janino compiled in it
(`compiles=build/first/second`; the generated-code cache serves the
rest). Mimics bench's extra-sweep protocol (clearCache between
queries) so numbers line up with BENCH_DETAIL's queries_extra.

Usage: python tools/profile_queries.py [--sf DIR] [--repeat N] names...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_streaming_etl_spark import registry
from banking_streaming_etl_spark.session import codegen_compiles, get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    repeat = 1
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--repeat":
            repeat = int(next(it))
        else:
            names.append(a)
    spark = get_spark(app_name="profile")
    queries = registry.all_queries()
    # one trivial job to absorb JVM/codegen cold start
    spark.range(1000000).selectExpr("sum(id)").collect()
    # warm the session-shared family memos exactly like bench does
    # before its EXTRA sweep, so numbers line up with queries_extra
    import bench as _bench

    t0 = time.perf_counter()
    _bench._warm_family_memos(spark, sf_dir)
    print(f"# family memo warm: {time.perf_counter()-t0:.3f}s")
    t0 = time.perf_counter()
    spark.range(1000000).selectExpr("id % 32 AS k").groupBy("k").count().count()
    print(f"# baseline tiny shuffle job: {time.perf_counter()-t0:.3f}s")
    for name in names:
        if name not in queries:
            print(f"# skip {name}")
            continue
        for r in range(repeat):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            c0 = codegen_compiles(spark)
            tb0 = time.perf_counter()
            df = queries[name].fn(spark, sf_dir)
            tb = time.perf_counter() - tb0
            c1 = codegen_compiles(spark)
            tc0 = time.perf_counter()
            n = df.count()
            tc = time.perf_counter() - tc0
            c2 = codegen_compiles(spark)
            tw0 = time.perf_counter()
            df.count()
            tw = time.perf_counter() - tw0
            c3 = codegen_compiles(spark)
            print(
                f"{name}\trun{r}\tbuild={tb:.3f}\tfirst_count={tc:.3f}\t"
                f"warm_count={tw:.3f}\ttotal={tb+tc:.3f}\trows={n}\t"
                f"compiles={c1-c0}/{c2-c1}/{c3-c2}"
            )
            spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
