"""Per-query steady-state profiler: wall vs Σ(job durations).

The r13 detector, made reusable: for each named query run it twice
(the first run pays one-time plan compile / cache effects), and on the
SECOND run record wall-clock and the sum of Spark job durations read
from the status store. ``driver_side ≈ wall − Σ(jobs)`` is Catalyst
analysis/optimization/codegen plus py4j/driver work — "jobs ≈ wall"
means execution-bound, a big gap means planning-bound (guide §7.3).

Usage:
    python tools/profile_queries.py <sf_dir> name1 [name2 ...]
    python tools/profile_queries.py <sf_dir> --top N   # N slowest from BENCH_DETAIL.json

Prints one line per query plus a JSON tail. Concurrent jobs make
Σ(jobs) an overestimate of busy wall (they overlap), so driver_side is
a LOWER bound in that case — cross-check with the job count.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import (  # noqa: E402
    get_spark,
)


def _jobs_snapshot(spark) -> dict[int, float]:
    """{jobId: duration_seconds} for all COMPLETED jobs in the status
    store (py4j walk of the Scala Seq[v1.JobData])."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out: dict[int, float] = {}
    it = seq.iterator()
    while it.hasNext():
        j = it.next()
        st = j.submissionTime()
        ct = j.completionTime()
        if st.isDefined() and ct.isDefined():
            dur = (ct.get().getTime() - st.get().getTime()) / 1000.0
            out[j.jobId()] = dur
    return out


def main() -> None:
    sf_dir = sys.argv[1]
    args = sys.argv[2:]
    qs = entrymod.queries()
    if args and args[0] == "--top":
        n = int(args[1])
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
            detail = json.load(fh)["queries"]
        names = [
            k
            for k, v in sorted(
                ((k, v) for k, v in detail.items() if isinstance(v, (int, float))),
                key=lambda kv: -kv[1],
            )
        ][:n]
    else:
        names = args
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("lakeflow-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(100).select(_warm("id")).count()
    spark.range(100, numPartitions=32).mapInPandas(lambda it: it, "id long").count()

    results = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # run 1: warm
        t0 = time.time()
        qs[name](spark, sf_dir).collect()
        warm_wall = time.time() - t0
        # run 2: measured
        before = _jobs_snapshot(spark)
        t0 = time.time()
        qs[name](spark, sf_dir).collect()
        wall = time.time() - t0
        after = _jobs_snapshot(spark)
        new_jobs = {k: v for k, v in after.items() if k not in before}
        jobs_sum = sum(new_jobs.values())
        results[name] = {
            "wall": round(wall, 2),
            "warm_wall": round(warm_wall, 2),
            "jobs_sum": round(jobs_sum, 2),
            "n_jobs": len(new_jobs),
            "driver_side": round(wall - jobs_sum, 2),
        }
        r = results[name]
        print(
            f"{name:40s} wall={r['wall']:6.2f} jobs={r['jobs_sum']:6.2f} "
            f"njobs={r['n_jobs']:3d} driver={r['driver_side']:6.2f}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
