"""Tests for the scale utilities: sketches bound their error vs the exact
answer; salted plans must be bit-identical to their unsalted twins; the
streaming log sink (S6) must round-trip records into parquet."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.operators.sketches import (
    approx_usage_sketch,
    usage_sketch_raw,
)
from youtube_api_batch_process_with_analytics_spark.operators.skew import (
    salted_agg_count_sum,
    salted_join,
)
from youtube_api_batch_process_with_analytics_spark.sources import load_table


def test_approx_sketch_attestation_booleans(spark, sf_dir):
    """The gated within-bound query must attest TRUE for every key (its
    oracle emits constant TRUE, so a False here is a red gate row)."""
    rows = approx_usage_sketch(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.hll_within_bound and r.p50_within_bound, r


def test_approx_sketch_error_bounds(spark, sf_dir):
    got = {r.event_type: r for r in usage_sketch_raw(spark, sf_dir).collect()}
    exact = {
        r.event_type: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("d"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact) and len(got) > 0
    for et, e in exact.items():
        g = got[et]
        # HLL++ at 2% rsd: allow 5 sigma
        assert abs(g.approx_distinct_users - e.d) <= max(3, 0.1 * e.d)
        assert g.n_events == e.n
        # percentile_approx with accuracy 10k on small data ≈ exact
        assert abs(g.p50 - e.p50) <= 0.05 * abs(e.p50) + 1.0


def test_salted_agg_matches_unsalted(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    salted = {
        r.event_type: (r.n, r.total)
        for r in salted_agg_count_sum(
            events, "event_type", "value", "event_id"
        ).collect()
    }
    plain = {
        r.event_type: (r.n, r.total)
        for r in events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert salted == plain  # bit-identical: DECIMAL partials are exact


def test_salted_join_matches_plain(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "user_total")
    )
    salted = salted_join(events, users, "user_id", "event_id")
    plain = events.join(users, "user_id")
    assert salted.count() == plain.count()
    assert (
        salted.exceptAll(plain).count() == 0
        and plain.exceptAll(salted).count() == 0
    )


def test_streaming_log_sink_parquet(spark, sf_dir, tmp_path):
    """S6 (sqlite_logger.py:65-110): append-mode log sink, streaming form —
    foreachBatch writing parquet. Unlike the reference's lossy non-blocking
    SQLite sink (drops lines on contention, sqlite_logger.py:105-107), the
    exactly-once file sink loses nothing; the round-trip count pins that."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    out = str(tmp_path / "log_sink")
    ckpt = str(tmp_path / "ckpt")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    def write_batch(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    sunk = spark.read.parquet(out)
    assert sunk.count() == events.count()
    assert "batch_id" in sunk.columns


def test_run_batch_mixed_requests(spark, sf_dir):
    """§3.2 batch envelope: concurrent dispatch, per-item error isolation,
    reference-style result keys (api_server.py:523)."""
    import __spark_entry__ as entrymod
    from youtube_api_batch_process_with_analytics_spark.plans.batch import (
        BatchRequest,
        run_batch,
    )

    registry = entrymod.queries()
    out = run_batch(
        spark,
        sf_dir,
        [
            BatchRequest("log_level_stats"),
            BatchRequest("video_type_distribution"),
            BatchRequest("no_such_query"),
        ],
        registry,
        collect=True,
    )
    assert set(out) == {
        "log_level_stats_0",
        "video_type_distribution_1",
        "no_such_query_2",
    }
    assert out["log_level_stats_0"]["status"] == "success"
    assert out["log_level_stats_0"]["data"]["rows"] > 0
    assert out["video_type_distribution_1"]["status"] == "success"
    assert out["no_such_query_2"]["status"] == "error"
    assert out["no_such_query_2"]["error"]


def test_run_batch_bounds_concurrency(spark, sf_dir):
    """C4's dispatch bound: the batch envelope must never run more than
    MAX_CONCURRENT_WORKERS requests simultaneously — the reference's
    ≤5-thread pool (config.py:40, youtube_api_handler.py:895), pinned by
    a high-water-mark counter inside a registry stub."""
    import threading
    import time

    from youtube_api_batch_process_with_analytics_spark.plans.batch import (
        MAX_CONCURRENT_WORKERS,
        BatchRequest,
        run_batch,
    )

    lock = threading.Lock()
    state = {"now": 0, "peak": 0}

    def tracked(spark_, sf_dir_):
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        time.sleep(0.05)  # hold the slot so overlap is observable
        with lock:
            state["now"] -= 1
        return spark_.range(1)

    out = run_batch(
        spark,
        sf_dir,
        [BatchRequest("tracked") for _ in range(15)],
        {"tracked": tracked},
        collect=True,
    )
    assert all(v["status"] == "success" for v in out.values())
    assert state["peak"] <= MAX_CONCURRENT_WORKERS, state
    # and the pool genuinely overlaps work (not serialized dispatch)
    assert state["peak"] >= 2, state


def test_run_batch_timeout_keeps_finished_results(spark, sf_dir, monkeypatch):
    """A request that overruns the batch deadline must not take the rest
    of the batch with it: the fast item comes back as ``success``, the
    slow one as a ``timeout`` error, and the call returns at the deadline
    instead of waiting for the slow item to finish."""
    import threading
    import time

    from youtube_api_batch_process_with_analytics_spark.plans import batch

    monkeypatch.setattr(batch, "FUTURE_TIMEOUT_S", 1.0)
    release = threading.Event()

    def slow(spark_, sf_dir_):
        release.wait(30)
        return spark_.range(1)

    try:
        t0 = time.perf_counter()
        out = batch.run_batch(
            spark,
            sf_dir,
            [batch.BatchRequest("fast"), batch.BatchRequest("slow")],
            {"fast": lambda spark_, sf_dir_: spark_.range(3), "slow": slow},
        )
        elapsed = time.perf_counter() - t0
    finally:
        release.set()
    assert out["fast_0"]["status"] == "success"
    assert out["slow_1"] == {"status": "error", "data": None, "error": "timeout"}
    assert elapsed < 10, elapsed


def test_run_batch_jobs_carry_their_request(spark, sf_dir):
    """Each request of a batch runs under a job group of its own whose
    description is the request's type: its build and count jobs carry
    that description, and the session's conf is left as it was."""
    from youtube_api_batch_process_with_analytics_spark.plans.batch import (
        BatchRequest,
        run_batch,
    )

    sc = spark.sparkContext
    groups = {}

    def query(n):
        def fn(spark_, sf_dir_):
            groups[n] = sc.getLocalProperty("spark.jobGroup.id")
            spark_.range(n).collect()  # a build job
            return spark_.range(n)

        return fn

    before = dict(spark.conf.getAll)
    out = run_batch(
        spark,
        sf_dir,
        [BatchRequest("alpha"), BatchRequest("beta")],
        {"alpha": query(3), "beta": query(5)},
        collect=True,
    )
    assert dict(spark.conf.getAll) == before
    assert out["alpha_0"]["data"]["rows"] == 3 and out["beta_1"]["data"]["rows"] == 5
    assert groups[3] and groups[5] and groups[3] != groups[5]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    for n, name in ((3, "alpha"), (5, "beta")):
        jobs = list(sc.statusTracker().getJobIdsForGroup(groups[n]))
        assert len(jobs) >= 2, (name, jobs)
        assert {store.job(j).description().get() for j in jobs} == {name}


def test_run_batch_latches_leave_session_conf_alone(spark, sf_dir, duck):
    """Two streaming latches and an unrelated query in one concurrent
    batch: every result is hash-equal to its DuckDB twin, and the shared
    session's conf is exactly what it was before the call — no request
    writes session-global state another request could observe."""
    import __spark_entry__ as entrymod
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.plans.batch import (
        BatchRequest,
        run_batch,
    )

    names = ["quota_latch_final", "quota_latch_final", "log_level_stats"]
    oracles = entrymod.oracle_sql()
    before = dict(spark.conf.getAll)
    out = run_batch(
        spark, sf_dir, [BatchRequest(n) for n in names], entrymod.queries()
    )
    assert dict(spark.conf.getAll) == before
    for i, name in enumerate(names):
        res = out[f"{name}_{i}"]
        assert res["status"] == "success", res["error"]
        assert_oracle_match(res["data"], duck, oracles[name])


def test_engine_reads_only_deployment_env_vars():
    """Execution routes are chosen by data volume, never by environment
    switches: the only environment variables the engine package reads
    are deployment settings. Every ``environ``/``getenv`` use must be a
    ``.get``/``getenv``/subscript with a literal name from that set."""
    import ast
    import pathlib

    import youtube_api_batch_process_with_analytics_spark as pkg

    allowed = {
        "SPARK_GRAFT_CPUS",
        "SPARK_MASTER",
        "SPARK_SQL_SHUFFLE_PARTITIONS",
        "SPARK_UI_ENABLED",
        "SPARK_DRIVER_MEMORY",
        "SPARK_GRAFT_SF_DIR",
    }
    read: set[str] = set()
    bad: list[str] = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "environ":
                use = parents[node]
                if isinstance(use, ast.Attribute) and use.attr == "get":
                    arg = parents[use].args[0] if isinstance(parents[use], ast.Call) else None
                elif isinstance(use, ast.Subscript):
                    arg = use.slice
                else:
                    arg = None
            elif isinstance(node, ast.Call) and getattr(
                node.func, "attr", getattr(node.func, "id", None)
            ) == "getenv":
                arg = node.args[0] if node.args else None
            else:
                continue
            where = f"{path.name}:{node.lineno}"
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                read.add(arg.value)
            else:
                bad.append(where)
    assert not bad, f"non-literal environment access at {bad}"
    assert read <= allowed, sorted(read - allowed)
    assert "SPARK_GRAFT_CPUS" in read  # the scan sees session.py's reads


def test_session_state_has_one_owner():
    """Session state is keyed, raced and released in one module: the only
    module-level locks in the package are memo's and dedup's per-call CC
    cache, and the only keys built from the Spark application id are
    memo's and the two catalog handles (tables, language)."""
    import ast
    import pathlib

    import youtube_api_batch_process_with_analytics_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    locks: set[str] = set()
    app_keys: set[str] = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(
                node.func, "attr", getattr(node.func, "id", None)
            ) in ("Lock", "RLock"):
                locks.add(rel)
            elif isinstance(node, ast.Attribute) and node.attr == "applicationId":
                app_keys.add(rel)
    assert locks == {"operators/memo.py", "operators/dedup.py"}, sorted(locks)
    assert app_keys <= {
        "operators/memo.py", "sources/tables.py", "functions/language.py"
    }, sorted(app_keys)
    assert "operators/memo.py" in app_keys


def test_pricing_summary_concurrent_first_calls_on_two_corpora(spark, sf_dir, tmp_path):
    """Two first calls of the SQL gate on different corpora, started
    together in one batch, each read their own ``lineitem``: the scan is
    a ``spark.sql`` argument, so no session-global view can point one
    call at the other corpus. Each result is hash-equal to its own
    DuckDB twin."""
    import os
    import threading

    import duckdb

    from tests.oracle_utils import fetch_duck, value_hash
    from youtube_api_batch_process_with_analytics_spark.plans.batch import (
        BatchRequest,
        run_batch,
    )
    from youtube_api_batch_process_with_analytics_spark.plans.sql_api import (
        ORACLES,
        pricing_summary,
    )

    corpora = {}
    for tier in ("sf0.001", "sf0.01"):
        d = tmp_path / tier  # a new path: nothing is cached for it yet
        d.mkdir()
        tier_dir = os.path.join(os.path.dirname(sf_dir), tier)
        os.symlink(f"{tier_dir}/lineitem.parquet", d / "lineitem.parquet")
        corpora[tier] = str(d)
    start = threading.Barrier(len(corpora))

    def call(d):
        def run(spark_, _sf_dir):
            start.wait(timeout=30)
            return pricing_summary(spark_, d)

        return run

    out = run_batch(
        spark,
        "",
        [BatchRequest(tier) for tier in corpora],
        {tier: call(d) for tier, d in corpora.items()},
        max_workers=len(corpora),
    )
    hashes = set()
    for i, (tier, d) in enumerate(corpora.items()):
        res = out[f"{tier}_{i}"]
        assert res["status"] == "success", res["error"]
        df = res["data"]
        rows = [tuple(r) for r in df.collect()]
        with duckdb.connect() as con:
            con.execute(
                f"CREATE VIEW lineitem AS SELECT * FROM '{d}/lineitem.parquet'"
            )
            dcols, drows = fetch_duck(con, ORACLES["pricing_summary"])
        got = value_hash(rows, df.columns)
        assert got == value_hash(drows, dcols), tier
        hashes.add(got)
    assert len(hashes) == len(corpora)
