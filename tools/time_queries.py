"""Spot-timer for a subset of registered queries, mirroring bench.py's
forcing and memo-release policy exactly (noop write, release between
queries, min of N reps). Each rep also prints how many classes Janino
compiled during it: 0 once a query's generated classes are cached, so
an eviction regression shows up as a count, not only as time. Usage:

    python tools/time_queries.py [--json OUT.json] <sf_dir> [reps] query [query ...]

--json additionally writes a bench.py-shaped payload (metric/value/
queries/cold) for committed scale-tier artifacts (e.g. BENCH_SF3.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from youtube_api_batch_process_with_analytics_spark.operators.memo import (
    release_session_frames,
)
from youtube_api_batch_process_with_analytics_spark.session import (
    codegen_compiles,
    get_spark,
)


def main() -> None:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        if len(args) < 2:
            sys.exit("usage: time_queries.py [--json OUT] sf_dir [reps] query...")
        json_out = args[1]
        args = args[2:]
    if len(args) < 2:
        sys.exit("usage: time_queries.py [--json OUT] sf_dir [reps] query...")
    sf_dir = args[0]
    if args[1].isdigit():
        reps, names = int(args[1]), args[2:]
    else:
        reps, names = 3, args[1:]
    if reps < 1 or not names:
        sys.exit("need reps >= 1 and at least one query name")
    spark = get_spark(app_name="time_queries")
    qs = entrymod.queries()

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    force(list(qs.values())[0](spark, sf_dir))  # session warm-up
    para = spark.sparkContext.defaultParallelism
    force(
        spark.range(0, para, 1, para).mapInPandas(
            lambda batches: batches, "id long"
        )
    )
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        release_session_frames()
        samples, compiles = [], []
        for _ in range(reps):
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
            compiles.append(codegen_compiles(spark) - c0)
        cold[name] = samples[0]
        timings[name] = min(samples)
        print(
            f"{name:32s} min={min(samples):7.3f}  reps={samples}  compiles={compiles}",
            flush=True,
        )
    release_session_frames()
    if json_out:
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        with open(json_out, "w") as f:
            json.dump(
                {
                    "metric": "suite_total",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "queries": timings,
                    "cold": cold,
                    "cold_total": round(sum(cold.values()), 3),
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    "sf_dir": sf_dir,
                    "reps": reps,
                },
                f,
                indent=1,
            )
    spark.stop()


if __name__ == "__main__":
    main()
