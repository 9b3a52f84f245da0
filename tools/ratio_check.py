"""Cross-engine ratio tripwire (round-10 verdict item 7).

`bm25_search` (5.7× DuckDB at sf1) and `benchmark_contamination` (3.36×
at sf3) were judge-found, not machine-found — this makes the per-query
spark/duck ratio check structural, the `growth_check.py` precedent:
given a Spark bench payload and its same-tier DuckDB payload (both from
the SAME session pair — host throughput drifts ±10% day-to-day, so only
back-to-back ratios are meaningful), compute

    ratio = t_spark / t_duck          per query

and flag data-path entries breaching the 2× letter. Floors are
ASYMMETRIC: the Spark side must be ≥ 1s (below that it is py4j plan
construction, not data-path cost), the DuckDB side ≥ 0.2s (below THAT
the ratio denominators are parse floor — but a duck under 1s is still a
meaningful comparator: bm25_search's 5.7× at sf1 had duck at 0.28s and
a both-sides-1s floor would have hidden it, the exact judge-found case
this tool exists to machine-flag). Declared streaming-engine
attestations (the quota latch runs a real Structured Streaming query;
DuckDB has no streaming engine to price) are annotated, not flagged.

Usage:
    python tools/ratio_check.py BENCH_SF1.json BENCH_DUCK_SF1.json [--apply]

--apply writes back into the SPARK payload: "ratios" (per-query, only
entries where both engines ≥ MIN_SEC) and "ratio_flags" (the >2× list).
Exit 0 always — a report, not a gate; round close fixes or declares
each flag.
"""

from __future__ import annotations

import json
import sys

RATIO_TRIPWIRE = 2.0   # the judge's >2× perf-weak letter
MIN_SPARK_SEC = 1.0    # below this the Spark time is orchestration floor
MIN_DUCK_SEC = 0.2     # below this the duck denominator is parse floor

# Adjudication classes (round-11 verdict item 6: the classification must
# ride the payload, not README prose — a future judge or the driver reads
# it where the flags are). Four classes (round 13 added host-variance):
#   orchestration-floor — fixed per-query driver/orchestration cost over a
#       sub-second vectorized-C++ denominator; the absolute gap is 1-5 s
#       and the per-row growth is SUB-linear (growth table corroborates),
#       so it amortizes at scale rather than compounding;
#   declared-device     — the query deliberately does MORE work than its
#       twin by documented construction (differential attestation,
#       didactic all-pairs baseline, real streaming engine);
#   host-variance       — a >2× reading on UNTOUCHED code that a prior
#       round's committed same-code pair measured ≤~1×, where the gap is
#       attributed to the measuring box, with ALL THREE evidence legs
#       cited in the entry: (1) the prior committed pair ratio, (2) a
#       same-box warm re-measurement well below the flagged number, and
#       (3) a measured per-job boundary floor explaining the delta. Not
#       a license to ignore regressions — touched code never qualifies;
#   breach              — a real >2× data-path gap; must be fixed or
#       re-adjudicated by round close. UNLISTED flags default here.
ADJUDICATION: dict[str, tuple[str, str]] = {
    # --- declared devices (annotated even when not flagged) ---
    "quota_latch_final": (
        "declared-device", "real Structured Streaming engine attestation"
    ),
    "ingest_dedup_incremental": (
        "declared-device",
        "real Structured Streaming engine attestation (stream-static "
        "anti-join through file source -> memory sink); the twin is the "
        "same anti-join as plain SQL with no engine to spin up",
    ),
    "ann_vectorized_bound": (
        "declared-device",
        "differential attestation device: executes BOTH the fold "
        "expression path and the Arrow kernel and checks them equal "
        "rank-wise; the twin computes only the fold side",
    ),
    "ngram_jaccard_pairs": (
        "declared-device",
        "the DECLARED didactic all-pairs baseline; its production twin "
        "ngram_jaccard_block_capped runs well under its DuckDB twin",
    ),
    # --- orchestration floors (README 'fixed-floor' class; every entry
    #     has sub-linear normalized growth in the committed growth table
    #     and a 1-5 s absolute Spark time over a <1 s duck denominator) ---
    "final_metrics_struct": (
        "orchestration-floor",
        "~1.4 s fixed plan/launch over a 0.1-0.3 s duck scan",
    ),
    "channel_type_classification": (
        "orchestration-floor",
        "same classifier-projection floor class as final_metrics_struct",
    ),
    "language_mode": (
        "orchestration-floor",
        "3-row argmax; Spark pays job launch, duck pays a vector scan",
    ),
    "events_asof_latest_order": (
        "orchestration-floor",
        "as-of bucket join floor; sub-linear growth across tiers",
    ),
    "key_rotation_least_used": (
        "orchestration-floor",
        "admission-pool machinery floor (shared with round_robin/seeded)",
    ),
    "key_rotation_seeded": (
        "orchestration-floor",
        "admission-pool machinery floor (shared with round_robin/seeded)",
    ),
    "key_rotation_round_robin": (
        "orchestration-floor",
        "closed-form rollup since round 12 (served = (N-1-slot) DIV n "
        "+ 1); residual cost is the shared admission chain",
    ),
    "corpus_curation_funnel": (
        "orchestration-floor",
        "multi-stage funnel rollup: ~1 s fixed multi-job launch over a "
        "sub-second duck denominator at small tiers; the ratio collapses "
        "to ~1.0x at sf3 where the data path dominates (committed sf3 "
        "pairs r11/r12), the amortization signature of a floor",
    ),
    # --- round-13 box attributions (every leg measured this round and
    #     recorded in OPTIMIZATION_r13.md: r12 committed sf1 pair ratios
    #     0.78x/0.58x/1.03x/1.12x on the SAME untouched code; warm
    #     same-box rechecks 1.94/2.83/1.23/2.53 s vs suite 2.75/7.54/
    #     6.67/3.98 s with rep spreads like [13.6, 2.8, 26.1]; measured
    #     Python-boundary floor ~0.5 s/Arrow job vs 0.12 s JVM) ---
    "ann_cosine_topk": (
        "host-variance",
        "untouched similarity.py; r12 same-code sf1 pair 0.78x; warm "
        "recheck 1.94 s vs suite 2.75 s; Arrow-kernel boundary floor "
        "~0.5 s/job on this box",
    ),
    "ann_ivf_kmeans": (
        "host-variance",
        "untouched fit chain; r12 same-code sf1 pair 0.58x; warm recheck "
        "2.83 s with same-session rep spread [13.6, 2.8, 26.1] — Python "
        "worker latency spikes, not plan cost",
    ),
    "ann_ivf_topk": (
        "host-variance",
        "untouched; r12 same-code sf1 pair 1.03x; warm recheck 1.23 s vs "
        "suite 6.67 s (5.4x same-box spread on the Arrow shortlist path)",
    ),
    "rss_xml_roundtrip": (
        "host-variance",
        "untouched; r12 same-code sf1 pair 1.12x; warm recheck 2.53 s vs "
        "suite 3.98 s; duck denominator drifted 1.75->1.89 s in lockstep",
    ),
    "dedup_simhash": (
        "host-variance",
        "untouched dedup.py map-only path; r12 committed same-code sf3 "
        "pair 1.36x; idle-box warm recheck 1.43 s (= 0.92x the same duck "
        "denominator) vs suite 9.22 s with rep spread [17.0, 21.5, 9.2] — "
        "the measured hypervisor steal bursts (SCALING_SF1.json "
        "diagnosis: 32-way stages sample steal 32x per wave) hitting a "
        "sub-2 s JVM query under sustained suite load",
    ),
    "events_in_order_window": (
        "orchestration-floor",
        "bucket-explode range join: ~2.8 s at sf3 = exploded build + "
        "9 M-row (custkey,bucket) shuffle vs DuckDB's in-memory IEJoin; "
        "day-grain probe pre-agg measured 2.85->8.2 s and REJECTED "
        "(aggregate-derived join input, operators/skew.py finding); "
        "the single-node inequality join cannot shard, this shape can",
    ),
}
# Back-compat alias: names annotated-not-flagged when they breach 2×.
DECLARED = {
    k: v[1] for k, v in ADJUDICATION.items() if v[0] == "declared-device"
}

# Fit-dependent queries (round-12 verdict item 4 / README "Fit-eligibility
# rule"): their warm `queries` number is the PREPARED-SERVING steady state
# — session-memoized fit artifacts built on rep 1, reused by reps 2-3 —
# while the DuckDB twin re-runs its fit CTEs every rep. Every ratio for
# these names is stamped with the convention AND the second reading
# (warm + fit) / duck, the fit-amortized upper band, computed from the
# spark payload's own `fit` column. Names = every query whose plan embeds
# a memo.session_frame artifact or a driver-side fitted model (the README
# inventory, mapped to registered queries).
FIT_DEPENDENT = {
    # ranking / LM family (tfidf_scored, bm25_base, lm_scores frames)
    "tfidf_top_terms", "bm25_search", "bigram_lm_quality",
    "perplexity_buckets", "dsir_importance_weights",
    # span family (span_toks/grain/dupfps/doctotals/dupgrain/duphits)
    "duplicate_spans", "remove_duplicate_spans", "doc_novelty",
    "source_overlap_matrix", "winnowing_fingerprints",
    # tokenized-scan consumers (curation_toked frame)
    "curation_pipeline_v2", "corpus_curation_funnel",
    # sampler doc-bucket frame
    "mixture_temperature_sample",
    # fitted Lloyd / PQ / IVF / BPE models (driver-side value caches)
    "kmeans_cells", "ann_ivf_kmeans", "ann_ivf_topk", "ivf_pq_topk",
    "pq_codes", "pq_adc_topk", "semantic_dedup",
    "semantic_dedup_gate_combined", "cluster_balanced_sample",
    "ann_cosine_topk", "bpe_merges", "bpe_fertility", "pack_sequences_bpe",
    # export composes chunk/pack/shards over the fitted BPE merges
    "export_pipeline",
    # staged retention layout (once per session)
    "retention_applied",
}
FIT_CONVENTION = "spark-warm-vs-duck-cold"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--apply"]
    apply = "--apply" in sys.argv[1:]
    if len(args) != 2:
        sys.exit("usage: ratio_check.py SPARK_BENCH.json DUCK_BENCH.json [--apply]")
    spark = json.load(open(args[0]))
    duck = json.load(open(args[1]))
    sq, dq = spark.get("queries", {}), duck.get("queries", {})
    fit = spark.get("fit", {})
    ratios: dict[str, float] = {}
    flags: list[str] = []
    declared: dict[str, str] = {}
    adjudication: dict[str, dict[str, str]] = {}
    conventions: dict[str, dict] = {}
    for name in sorted(set(sq) & set(dq)):
        ts, td = sq[name], dq[name]
        # fit-dependent names get their convention + amortized band
        # stamped for EVERY comparable entry, flagged or not (round-12
        # verdict item 4: a cited ratio must name its convention)
        if name in FIT_DEPENDENT and td >= MIN_DUCK_SEC:
            conventions[name] = {
                "convention": FIT_CONVENTION,
                "ratio_warm": round(ts / td, 2),
                "ratio_fit_amortized": round(
                    (ts + fit.get(name, 0.0)) / td, 2
                ),
                "fit_sec": fit.get(name, 0.0),
            }
        if ts < MIN_SPARK_SEC or td < MIN_DUCK_SEC:
            continue  # orchestration/parse floor
        r = round(ts / td, 2)
        ratios[name] = r
        if r > RATIO_TRIPWIRE:
            cls, why = ADJUDICATION.get(
                name,
                ("breach", "unadjudicated >2x data-path gap — fix or "
                           "classify by round close"),
            )
            adjudication[name] = {"class": cls, "why": why}
            if name in conventions:
                adjudication[name].update(conventions[name])
            if cls == "declared-device":
                declared[name] = why
            else:
                flags.append(name)
    width = max((len(n) for n in ratios), default=10)
    for name, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        cls = adjudication.get(name, {}).get("class")
        mark = f" <-- {cls.upper()}" if cls else ""
        print(f"{name:{width}s} spark={sq[name]:7.2f} duck={dq[name]:7.2f} "
              f"ratio={r:5.2f}{mark}")
    breaches = [n for n in flags
                if adjudication[n]["class"] == "breach"]
    print(f"\n{len(ratios)} comparable (spark>={MIN_SPARK_SEC}s, "
          f"duck>={MIN_DUCK_SEC}s); "
          f"flags: {flags or 'none'}; breaches: {breaches or 'none'}; "
          f"declared: {sorted(declared) or 'none'}")
    if apply:
        spark["ratios"] = ratios
        spark["ratio_flags"] = flags
        # every flag carries its machine-readable class here (round-11
        # verdict item 6) — ratio_declared is the adjudication map, one
        # entry per >2x name, never empty while flags are non-empty
        spark["ratio_declared"] = adjudication
        # every comparable fit-dependent query names its convention and
        # ships the fit-amortized second reading (round-12 verdict item 4)
        spark["ratio_conventions"] = conventions
        with open(args[0], "w") as f:
            json.dump(spark, f, indent=1)
        print(f"applied to {args[0]}")


if __name__ == "__main__":
    main()
