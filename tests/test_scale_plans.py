"""Storage-layout scale levers, pinned as tests: bucketed co-located joins
(shuffle-free) and partition pruning. These are the mechanisms a 100 TB
deployment uses to avoid re-shuffling fact tables on every join and to skip
irrelevant data at the source; the fixture tables are plain single-file
parquet, so the tests build tiny layout-bearing copies.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.sources import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key with matching bucket counts →
    the join consumes the layout directly: no Exchange on either side.
    This is how repeated fact-fact joins amortize their shuffle at scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    (
        orders.write.mode("overwrite")
        .option("path", str(tmp_path / "orders_b"))
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("orders_b")
    )
    (
        customer.write.mode("overwrite")
        .option("path", str(tmp_path / "customer_b"))
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("customer_b")
    )
    ob = spark.table("orders_b")
    cb = spark.table("customer_b")
    # disable broadcast so the co-located layout, not a broadcast, is what
    # avoids the shuffle (at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).select(
            "o_orderkey", "c_name"
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        rows = joined.count()
        assert rows == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_partition_pruning_skips_days(spark, sf_dir, tmp_path):
    """Events written day-partitioned; a day-equality filter must prune at
    the source (PartitionFilters), not scan-then-filter."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_by_day")
    events.write.mode("overwrite").partitionBy("day").parquet(out)

    part = spark.read.parquet(out)
    one_day = part.filter(F.col("day") == "2024-01-03").select("event_id")
    plan = _plan(one_day)
    assert "PartitionFilters" in plan and "day" in plan, plan
    # pruned read returns exactly that day's rows
    expected = events.filter(F.col("day") == "2024-01-03").count()
    assert one_day.count() == expected


def test_cc_survivorship_has_no_static_broadcast_hint(spark, sf_dir):
    """The per-component `sizes` frame in connected-components survivorship
    is one row per near-dup cluster — unbounded at corpus scale. A static
    broadcast() hint there OOMs a 100-TB run regardless of runtime size, so
    the analyzed plan must carry NO broadcast hint anywhere; AQE may still
    choose a runtime broadcast when the frame proves small (that path is
    size-bounded and safe)."""
    from youtube_api_batch_process_with_analytics_spark.operators.dedup import (
        dedup_connected_components,
        release_cc_caches,
    )

    out = dedup_connected_components(spark, sf_dir)
    try:
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed
        assert out.count() > 0
    finally:
        release_cc_caches()


def test_lsh_band_join_hot_bucket_splits_under_aqe(spark, tmp_path, monkeypatch):
    """A hot LSH band bucket (600 near-identical docs hash to one
    (band_idx, band_key)) is the canonical skew hazard of the candidate
    self-join. Since round 9 the DEFAULT path's structural defense is the
    bucket cap (pool ≤ cap per group → |bucket|·cap work, see
    test_lsh_bucket_cap_bounds_hot_bucket); the window pass that
    implements it sits between the exchange and the join, which takes the
    plan out of OptimizeSkewedJoin's SMJ(sort(shuffle)) match. The
    UNGUARDED escape hatch (bucket_cap=None) must therefore remain the
    AQE-splittable shape: with skew-join forced and fixture-scale
    thresholds, its executed plan must show the skewed partition actually
    split (SortMergeJoin(skew=true)).

    AQE splits a skewed partition by ranges of map tasks, so the hot rows
    must come from several of them, as they do from a many-split scan.
    The fixture's hot docs all sit in one of its two files, so spread()'s
    row floor is forced to 0: the 800-row scan fans out like a large one."""
    import random

    from youtube_api_batch_process_with_analytics_spark.operators.dedup import (
        dedup_minhash_lsh,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import tables

    monkeypatch.setattr(tables, "SPREAD_MIN_ROWS", 0)

    hot = [
        (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3,
         "en", "web", 100)
        for i in range(600)
    ]
    rng = random.Random(7)
    cold = [
        (1000 + i,
         " ".join(rng.choice("abcdefghijklmnop") + str(rng.randint(0, 999))
                  for _ in range(12)),
         "en", "web", 100)
        for i in range(200)
    ]
    spark.createDataFrame(
        hot + cold, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_minhash_lsh(spark, str(tmp_path), bucket_cap=None)
        rows = out.collect()
        # every hot pair is an exact duplicate → jaccard 1.0 → all survive
        assert len(rows) >= 600 * 599 // 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_bucket_cap_bounds_hot_bucket(spark, tmp_path):
    """Hostile boilerplate corpus (round-8 verdict task #1): 50% of the
    docs are byte-identical, so every band bucket they share holds 250
    docs with ONE full signature — the degenerate class that owes K²
    candidate pairs unguarded. Pin that with a small cap the pair volume
    is linear (each pair's left element ranks within the cap lowest ids:
    Σ_{i≤cap} (K−i) pairs, not K(K−1)/2), that every duplicate still
    pairs with the class MINIMUM (rank 1 — what connected-components
    survivorship consumes), and that the default 4096 cap reproduces the
    unguarded output bit-for-bit on a below-cap corpus."""
    import random

    from youtube_api_batch_process_with_analytics_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    k_hot, cap = 250, 3
    hot = [
        (i, "omega psi chi phi upsilon tau sigma rho pi omicron " * 4,
         "en", "web", 100)
        for i in range(k_hot)
    ]
    rng = random.Random(13)
    cold = [
        (1000 + i,
         " ".join(rng.choice("abcdefghijklmnop") + str(rng.randint(0, 9999))
                  for _ in range(12)),
         "en", "web", 100)
        for i in range(k_hot)
    ]
    spark.createDataFrame(
        hot + cold,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    capped = dedup_minhash_lsh(spark, str(tmp_path), bucket_cap=cap)
    hot_pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in capped.collect()
        if r["doc_id_a"] < 1000 and r["doc_id_b"] < 1000
    }
    # linear envelope: left elements only from the cap lowest ids
    expected = {
        (a, b) for a in range(cap) for b in range(a + 1, k_hot)
    }
    assert hot_pairs == expected, (len(hot_pairs), len(expected))
    assert len(hot_pairs) == sum(k_hot - i for i in range(1, cap + 1))
    # survivorship: every duplicate pairs with the class minimum (id 0)
    assert all((0, b) in hot_pairs for b in range(1, k_hot))

    # exactness below the cap: default guard == unguarded, bit-for-bit
    default = sorted(
        map(tuple, dedup_minhash_lsh(spark, str(tmp_path)).collect())
    )
    unguarded = sorted(
        map(
            tuple,
            dedup_minhash_lsh(spark, str(tmp_path), bucket_cap=None).collect(),
        )
    )
    assert default == unguarded
    assert len(default) >= k_hot * (k_hot - 1) // 2


def test_pack_segmented_matches_plain_and_splits_hot_source(spark):
    """pack_sequences_segmented must (a) reproduce pack_sequences bit-for-
    bit on a corpus where one source dominates 90% of rows, and (b) run
    its heavy window partitioned by (source, _seg) so the hot source
    spreads over many partitions instead of serializing through one."""
    import random

    from youtube_api_batch_process_with_analytics_spark.operators.chunking import (
        pack_sequences,
        pack_sequences_segmented,
    )

    rng = random.Random(11)
    rows = [(i, "hot" if i % 10 else "cold", rng.randint(1, 200))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")

    plain = {tuple(r) for r in pack_sequences(df, budget=256).collect()}
    seg = pack_sequences_segmented(df, budget=256, segment_size=64)
    got = {tuple(r) for r in seg.collect()}
    assert got == plain

    plan = seg._jdf.queryExecution().executedPlan().toString()
    # the data-sized window's shuffle must be keyed on (source, _seg)
    assert "hashpartitioning(source" in plan and "_seg" in plan, plan[:4000]


def test_posting_list_keeps_shingle_work_out_of_scan_filter(spark, sf_dir):
    """Regression pin for the InferFiltersFromGenerate trap: with a plain
    explode, Catalyst pushes an inferred size(shingles)>0 filter into the
    parquet scan with the shingle expression inlined, re-running the regex
    split per element_at — O(tokens²) (measured 120ms/doc). The operator
    uses explode_outer + a repartition barrier; the scan's filter must
    therefore contain no split/transform work."""
    from youtube_api_batch_process_with_analytics_spark.operators.dedup import (
        benchmark_contamination_query,
    )

    plan = benchmark_contamination_query(spark, sf_dir)._sc._jvm.PythonSQLUtils.explainString(
        benchmark_contamination_query(spark, sf_dir)._jdf.queryExecution(), "formatted"
    )
    for section in plan.split("\n\n"):
        if "Scan parquet" in section and "DataFilters" in section:
            assert "split(" not in section, section


def test_cc_long_chain_converges_through_checkpoints(spark, tmp_path):
    """An adversarial chain corpus (doc i near-dups doc i±1 via a sliding
    token window) forces min-label propagation through many rounds — well
    past CC_CHECKPOINT_INTERVAL, so the localCheckpoint lineage guard is
    actually exercised — and must still converge to ONE component rooted
    at the smallest doc_id."""
    from youtube_api_batch_process_with_analytics_spark.operators import dedup

    tokens = [f"w{i}" for i in range(200)]
    window = 40
    rows = [
        (i, " ".join(tokens[i % 120: i % 120 + window]), "en", "web", 100)
        for i in range(150)
    ]
    # i % 120 wraps the stream so texts repeat with period 120 — adjacent
    # docs overlap by window-1 tokens (J >> threshold), and the whole set
    # chains into a single component.
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = dedup.dedup_connected_components(spark, str(tmp_path))
    try:
        comp = {r.doc_id: r.component_id for r in out.collect()}
        assert set(comp.values()) == {0}, sorted(set(comp.values()))[:5]
        assert len(comp) == 150
        assert dedup.CC_LAST_ROUNDS > dedup.CC_CHECKPOINT_INTERVAL, (
            f"chain resolved in {dedup.CC_LAST_ROUNDS} rounds — fixture no "
            "longer exercises the checkpoint path"
        )
    finally:
        dedup.release_cc_caches()


def test_spread_noop_on_multisplit_input(spark, tmp_path, monkeypatch):
    """spread() must be a NO-OP when the input already has >= the session's
    default parallelism partitions — on a real cluster the scan arrives as
    many splits, and an unconditional round-robin repartition there is a
    full-corpus shuffle bought for nothing (the round-4 verdict's single
    most pervasive scale smell). Single-split inputs above the row floor
    still fan out; the floor is forced to 0 for that half, so the 10k-row
    fixture stands for a large single-split scan."""
    from youtube_api_batch_process_with_analytics_spark.sources import spread, tables

    para = spark.sparkContext.defaultParallelism

    # Multi-split: parquet written as `para` files reads back as >= para
    # splits; spread must add no Exchange (same plan object, even).
    multi = spark.range(0, 10_000, 1, para).selectExpr(
        "id AS doc_id", "repeat('x', 50) AS text"
    )
    multi.write.mode("overwrite").parquet(str(tmp_path / "multi.parquet"))
    scan = spark.read.parquet(str(tmp_path / "multi.parquet"))
    out = spread(scan)
    assert out is scan, "spread() repartitioned a multi-split input"
    assert "Exchange" not in _plan(out.select("doc_id"))

    # Single-split: must still repartition to the session parallelism.
    monkeypatch.setattr(tables, "SPREAD_MIN_ROWS", 0)
    single = spark.read.parquet(str(tmp_path / "multi.parquet")).coalesce(1)
    fanned = spread(single)
    assert fanned is not single
    assert "Exchange" in _plan(fanned)
    assert fanned.rdd.getNumPartitions() == para

    # Explicit floor override honored.
    assert spread(scan, min_partitions=10**6) is not scan


def test_spread_shuffled_guard_on_dedup_candidates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """spread_shuffled() guards post-shuffle fan-out sites (the LSH
    candidate set in dedup_embedding_cosine) without ever probing the
    shuffle output itself — probing a frame behind an Exchange under AQE
    EXECUTES the upstream stages, doubling the band join. The decision
    comes from the scan-shaped probe: wide scan → NO-OP (no pointless
    exchange at 100 TB), narrow fixture scan → fan-out survives. The row
    floor is forced to 0, so the small fixtures stand for large scans and
    only the partition guard decides."""
    from youtube_api_batch_process_with_analytics_spark.operators.dedup import (
        dedup_embedding_cosine,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import (
        load_table,
        spread_shuffled,
        tables,
    )

    monkeypatch.setattr(tables, "SPREAD_MIN_ROWS", 0)
    para = spark.sparkContext.defaultParallelism

    # Helper semantics: wide probe → identity; narrow probe → repartition.
    emb = load_table(spark, sf_dir, "embeddings")
    wide_probe = spark.range(0, 1000, 1, para).selectExpr("id AS doc_id")
    wide_probe.write.mode("overwrite").parquet(str(tmp_path / "wide.parquet"))
    wide_scan = spark.read.parquet(str(tmp_path / "wide.parquet"))
    shuffled = emb.groupBy("vec_id").count()
    assert spread_shuffled(shuffled, probe=wide_scan) is shuffled
    narrow = wide_scan.coalesce(1)
    fanned = spread_shuffled(shuffled, probe=narrow)
    assert fanned is not shuffled
    assert fanned.rdd.getNumPartitions() == para

    # Site pin: against a multi-split embeddings layout the operator's plan
    # must carry NO round-robin exchange (the fan-out is a no-op at scale);
    # against the single-split fixture it must keep the fan-out.
    multi_dir = tmp_path / "multi_sf"
    emb.repartition(para).write.mode("overwrite").parquet(
        str(multi_dir / "embeddings.parquet")
    )
    plan_multi = _plan(dedup_embedding_cosine(spark, str(multi_dir)))
    assert "RoundRobinPartitioning" not in plan_multi, plan_multi
    plan_single = _plan(dedup_embedding_cosine(spark, sf_dir))
    assert "RoundRobinPartitioning" in plan_single, plan_single


def test_spread_skips_scans_below_row_floor(spark, sf_dir):
    """At the default floor a 500-row single-split scan gets no fan-out —
    the frame comes back as is, and neither a document query's plan nor a
    post-shuffle site probed by that scan carries an Exchange from it."""
    from youtube_api_batch_process_with_analytics_spark.operators.text_analysis import (
        doc_text_stats,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import (
        footer_rows,
        spread,
        spread_shuffled,
        tables,
    )

    assert footer_rows(sf_dir, "documents") < tables.SPREAD_MIN_ROWS
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1
    assert spread(docs) is docs
    assert "Exchange" not in _plan(spread(docs).select("doc_id", "text"))
    shuffled = docs.groupBy("lang").count()
    assert spread_shuffled(shuffled, probe=docs) is shuffled
    assert "RoundRobinPartitioning" not in _plan(doc_text_stats(spark, sf_dir))


def test_value_hash_invariant_to_input_layout(spark, sf_dir, tmp_path):
    """Determinism under parallelism, pinned at the data level: the same
    tables written as ONE file vs SEVEN uneven splits must produce
    bit-identical value hashes for a representative slice of the gated
    surface (window ops, salted joins, LSH self-joins, model fits, the
    Arrow GEMM kernel — everything whose per-partition execution order
    differs between the two layouts). This is the claim the README makes
    ('the value-hash matches DuckDB at any partition count') as a test."""
    import shutil

    import __spark_entry__ as em
    import tools.compare_oracle as co
    from youtube_api_batch_process_with_analytics_spark.sources import TABLES

    one = tmp_path / "layout1"
    many = tmp_path / "layout7"
    one.mkdir(), many.mkdir()
    for t in TABLES:
        src = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        shutil.copy(f"{sf_dir}/{t}.parquet", one / f"{t}.parquet")
        # uneven split: range-ish repartition by an expression spreads rows
        # across 7 files with different per-file orders than the original
        src.repartition(7).write.mode("overwrite").parquet(
            str(many / f"{t}.parquet")
        )

    sample = [
        "hourly_usage_windows",     # calendar window agg
        "user_sessions",            # session_window
        "dedup_minhash_lsh",        # persist + band self-join
        "bigram_lm_quality",        # salted joins + localCheckpoint
        "pack_sequences",           # running-sum window packing
        "stratified_sample",        # salted two-stage per-stratum top-k
        "kmeans_cells",             # model FIT + assignment (refit per dir)
        "duplicate_spans",          # posting lists + islands merge
        "ann_vectorized_bound",     # Arrow kernel batches split differently
        "channel_video_metrics",    # flagship grouping-sets matrix
        "perplexity_buckets",       # LM fit + bounded-histogram cumsum
        "dsir_importance_weights",  # hashed-bucket stats + broadcast join
        "cluster_balanced_sample",  # fitted cells + salted two-stage top-k
    ]
    qs = em.queries()
    for name in sample:
        a = qs[name](spark, str(one))
        b = qs[name](spark, str(many))
        ha = co.value_hash([tuple(r) for r in a.collect()], a.columns)
        hb = co.value_hash([tuple(r) for r in b.collect()], b.columns)
        assert ha == hb, f"{name}: layout-dependent result"


def test_retention_drop_days_matches_gated_query(spark, sf_dir, tmp_path):
    """S8 retention composed end-to-end on the day-partitioned layout
    (round-8 verdict task #3): after `retention_drop_days`, (a) the
    surviving table is EXACTLY the keep-side of the gated
    `retention_cleanup` query — same per-level counts, and the audit's
    kept/deleted totals equal the query's sums; (b) the delete touched
    only pruned directories — every untouched day's files are
    byte-identical (same names, sizes, mtimes), dropped days are gone,
    and exactly one boundary day was rewritten."""
    import os

    from youtube_api_batch_process_with_analytics_spark.operators.logs import (
        retention_cleanup,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import (
        load_table,
        write_events_day_partitioned,
    )
    from youtube_api_batch_process_with_analytics_spark.sources.partitioned import (
        retention_drop_days,
    )

    events = load_table(spark, sf_dir, "events")
    root = str(tmp_path / "events_byday")
    write_events_day_partitioned(events, root)

    def _files(d):
        p = os.path.join(root, d)
        return sorted(
            (f, os.path.getsize(os.path.join(p, f)),
             os.path.getmtime(os.path.join(p, f)))
            for f in os.listdir(p)
        )

    before = {
        d: _files(d) for d in os.listdir(root) if d.startswith("day=")
    }

    gated = {
        r["level"]: (r["kept_count"], r["deleted_count"])
        for r in retention_cleanup(spark, sf_dir, days=7).collect()
    }
    audit = retention_drop_days(spark, root, days=7)

    # (a) audit totals == the gated query's keep/delete sums
    assert audit["kept"] == sum(k for k, _ in gated.values())
    assert audit["deleted"] == sum(d for _, d in gated.values())
    # the surviving table IS the keep-side: per-level counts match
    survivors = (
        spark.read.parquet(root)
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type")
        .count()
        .collect()
    )
    assert {r["event_type"]: r["count"] for r in survivors} == {
        lvl: k for lvl, (k, _) in gated.items() if k > 0
    }

    # (b) the pass touched only pruned directories
    assert audit["dropped_days"], "fixture must contain expired days"
    assert len(audit["rewritten_days"]) <= 1
    for d in audit["dropped_days"]:
        assert not os.path.exists(os.path.join(root, d))
    for d in audit["untouched_days"]:
        assert before[d] == _files(d), f"untouched partition {d} changed"
    for d in audit["rewritten_days"]:
        assert before[d] != _files(d)


def test_day_partitioned_events_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """The 100-TB events layout (sources/partitioned.py): a day predicate
    on the partition column must compile to PartitionFilters on the file
    scan — directory-level pruning — NOT a post-scan data filter. Pinned:
    (a) PartitionFilters carries the day equality, (b) `day` is absent
    from the data-filter/ReadSchema side, (c) the pruned read returns
    exactly the full scan's rows for that day, and (d) the anti-pattern
    (filtering on to_date(ts) instead of the partition column) leaves
    PartitionFilters empty — the regression this pin exists to catch."""
    from youtube_api_batch_process_with_analytics_spark.sources import (
        load_table,
        read_events_day,
        write_events_day_partitioned,
    )
    from youtube_api_batch_process_with_analytics_spark.sources.partitioned import (
        F as _F,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    root = str(tmp_path / "events_byday")
    write_events_day_partitioned(events, root)

    full = spark.read.parquet(root)
    days = sorted(r["day"] for r in full.select("day").distinct().collect())
    assert len(days) > 1  # fixture spans multiple days, else pruning is moot
    target = days[len(days) // 2]

    import re

    pruned = read_events_day(spark, root, day=target)
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert pf and re.search(r"day#\d+ = ", pf.group(1)), scan[:2000]
    # day must not appear as a pushed/data filter (it is not in the files)
    for kind in ("PushedFilters", "DataFilters"):
        m = re.search(rf"{kind}: \[([^\]]*)\]", scan)
        assert m is not None and "day" not in m.group(1), scan[:2000]

    want = {tuple(r) for r in full.filter(full.day == target).collect()}
    got = {tuple(r) for r in pruned.collect()}
    assert got == want and len(got) > 0

    # anti-pattern control: the same predicate phrased over ts defeats
    # pruning — PartitionFilters stays empty, every partition is listed
    bad = spark.read.parquet(root).filter(_F.to_date("ts") == _F.lit(target))
    bad_scan = bad._jdf.queryExecution().executedPlan().toString()
    bad_pf = re.search(r"PartitionFilters: \[([^\]]*)\]", bad_scan)
    assert bad_pf is not None and not re.search(
        r"day#\d+ = ", bad_pf.group(1)
    ), bad_scan[:2000]


def test_retention_applied_gate_reads_post_drop_layout(spark, duck, sf_dir):
    """The gated retention_applied query: its session-staged root has
    demonstrably FEWER day directories than a fresh layout of the same
    corpus (the drop really ran), and the post-drop read hash-matches the
    keep-side oracle on the original table."""
    import os

    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.sources import (
        load_table,
        write_events_day_partitioned,
    )
    from youtube_api_batch_process_with_analytics_spark.operators.memo import (
        acquire_staged,
        release_staged,
    )
    from youtube_api_batch_process_with_analytics_spark.sources.partitioned import (
        ORACLE_RETENTION_APPLIED,
        _stage_retention_applied,
        retention_applied,
    )

    out = retention_applied(spark, sf_dir)
    assert_oracle_match(out, duck, ORACLE_RETENTION_APPLIED)

    # the gate's staged root: same key, so acquire returns it unrestaged
    root = acquire_staged(
        spark, sf_dir, "retention_applied",
        lambda p: _stage_retention_applied(spark, sf_dir, p),
    )
    try:
        post_days = {d for d in os.listdir(root) if d.startswith("day=")}
    finally:
        release_staged(root)
    import tempfile

    fresh = tempfile.mkdtemp(prefix="retention_fresh_")
    try:
        write_events_day_partitioned(load_table(spark, sf_dir, "events"), fresh)
        pre_days = {d for d in os.listdir(fresh) if d.startswith("day=")}
    finally:
        import shutil

        shutil.rmtree(fresh, ignore_errors=True)
    assert post_days < pre_days  # strictly fewer: expired days are GONE


def test_retention_drop_days_no_aged_rows_is_noop(spark, tmp_path):
    """An events layout whose every row has NULL ts has no age anchor:
    the pass must return the zero audit and leave the layout untouched
    (the anchor-None early return, previously unpinned)."""
    import os

    from youtube_api_batch_process_with_analytics_spark.sources import (
        write_events_day_partitioned,
    )
    from youtube_api_batch_process_with_analytics_spark.sources.partitioned import (
        retention_drop_days,
    )

    events = spark.createDataFrame(
        [(i, "click", None) for i in range(20)],
        "user_id long, event_type string, ts timestamp",
    )
    root = str(tmp_path / "null_ts_events")
    write_events_day_partitioned(events, root)
    before = sorted(os.listdir(root))
    audit = retention_drop_days(spark, root, days=7)
    assert audit == {
        "kept": 0,
        "deleted": 0,
        "dropped_days": [],
        "rewritten_days": [],
        "untouched_days": [],
    }
    assert sorted(os.listdir(root)) == before
