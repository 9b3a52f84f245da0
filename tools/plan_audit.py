"""Physical-plan audit across every registered query.

Builds each ``queries()`` entry and counts the plan features that matter
at 100 TB: shuffles (Exchange), broadcasts, token explodes (Generate),
global sorts, and Python execution nodes. Emits a markdown table, one row
per query sorted by name (PLANS.md when given ``--write``), so plan
regressions show up in review diffs, not in production wall-clock.
Queries are BUILT in registration order: a persisted session frame prints
its cached plan, which is the first consumer's, so building in another
order changes the counts of queries that share one (bigram_lm_quality,
doc_novelty).

Note on cost: building a query is usually plan-only, but model-fitting
queries (kmeans_cells, ann_ivf_kmeans, pq_codes, the BPE family —
bpe_merges, bpe_fertility, pack_sequences_bpe — and curation_pipeline_v2's
LM stats) run their bounded fitting jobs at construction — the audit
therefore costs a few such jobs at the audit sf_dir, not zero.

Counting uses the pre-execution physical plan (AQE initial plan): that is
the statically-chosen shape; AQE can only improve it at runtime.

Usage:
    python tools/plan_audit.py [sf_dir] [--write]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from youtube_api_batch_process_with_analytics_spark.session import get_spark

# Queries whose construction runs an UNBOUNDED amount of work (the full
# streaming engine; a data-dependent convergence loop) — their plan
# discipline is pinned by dedicated tests instead, and the rendered
# table notes their exclusion.
SKIP = {"quota_latch_final", "dedup_connected_components"}

FEATURES = {
    "exchanges": r"\bExchange\b",
    "broadcasts": r"\bBroadcastExchange\b",
    "generates": r"\bGenerate\b",
    "global_sorts": r"\bSort \[.*\], true\b",
    "python": r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)\b",
}


def audit(sf_dir: str) -> list[tuple[str, dict[str, int]]]:
    spark = get_spark(app_name="plan_audit")
    rows = []
    for name, fn in entrymod.queries().items():
        if name in SKIP:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        counts = {k: len(re.findall(p, plan)) for k, p in FEATURES.items()}
        rows.append((name, counts))
    return sorted(rows, key=lambda r: r[0])


def render(rows) -> str:
    out = [
        "# Plan audit — statically-chosen physical plans per gated query",
        "",
        "Generated by `python tools/plan_audit.py --write` (AQE initial "
        "plans; runtime re-planning only improves these). `python` counts "
        "Arrow-batched nodes — the only sanctioned Python execution; "
        "`global_sorts` should be 0 except inside top-k limits.",
        "",
        "Excluded (construction runs unbounded work; plan discipline "
        f"pinned by dedicated tests): {', '.join(sorted(SKIP))}.",
        "",
        "| query | exchanges | broadcasts | generates | global_sorts | python |",
        "|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        out.append(
            f"| {name} | {c['exchanges']} | {c['broadcasts']} | "
            f"{c['generates']} | {c['global_sorts']} | {c['python']} |"
        )
    return "\n".join(out) + "\n"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--write"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    text = render(audit(sf_dir))
    if "--write" in sys.argv:
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    else:
        print(text)


if __name__ == "__main__":
    main()
