"""Each generated class compiles once per session.

Spark's codegen cache is an LRU of ``spark.sql.codegen.cache.maxEntries``
classes, sized once per JVM when ``CodeGenerator`` is first used. A
query's classes must still be cached when it runs again, however many
distinct classes ran in between. Both tests compile ``N_PLANS`` distinct
plans twice and count the Janino compiles of the second round: 0 with
the session's cache, all of them with Spark's default of 100 entries.

Run as a script, this file is the fresh-JVM case: ``get_spark``, then
the session's first compile inside a ``run_batch`` worker thread, then
the two rounds; it prints the two rounds' compile counts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N_PLANS = 150


def compile_rounds(spark, n: int = N_PLANS) -> list[int]:
    """Janino compiles of each of two rounds that plan and compile ``n``
    distinct one-stage queries, running no job (``toRdd`` compiles the
    whole-stage code on the driver; without an exchange AQE stays out)."""
    from youtube_api_batch_process_with_analytics_spark.session import (
        codegen_compiles,
    )

    counts = []
    for _ in range(2):
        before = codegen_compiles(spark)
        for i in range(n):
            spark.range(1).selectExpr(f"id + {i} AS x")._jdf.queryExecution().toRdd()
        counts.append(codegen_compiles(spark) - before)
    return counts


def test_second_round_compiles_nothing(spark):
    first, second = compile_rounds(spark)
    assert first >= N_PLANS and second == 0, (first, second)


def test_first_compile_in_batch_worker_keeps_cache(tmp_path):
    """On a fresh JVM whose first compile runs in a ``run_batch`` worker
    thread, the cache still holds every class of the two rounds."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first >= N_PLANS and second == 0, (first, second)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from youtube_api_batch_process_with_analytics_spark.plans.batch import (
        BatchRequest,
        run_batch,
    )
    from youtube_api_batch_process_with_analytics_spark.session import get_spark

    spark = get_spark(app_name="codegen_cache")

    def first_compile(spark_, sf_dir):
        df = spark_.range(3).selectExpr("id * 7 AS y")
        df._jdf.queryExecution().toRdd()
        return df

    res = run_batch(spark, "", [BatchRequest("first")], {"first": first_compile})
    assert res["first_0"]["status"] == "success", res
    print(json.dumps(compile_rounds(spark)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
