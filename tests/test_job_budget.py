"""Job budget of the cold refit queries.

A Spark job has a fixed cost (scheduling, task launch, a listener-bus
round trip) that dominates on small corpus versions, so the number of jobs
a query launches is part of its contract. Each query below runs on a new
corpus path — every table scan, fitted value and memo frame misses — and
must launch no more build jobs (while ``queries()[name]`` constructs the
DataFrame: fits, memo frames) and no more exec jobs (while the result is
forced) than its budget.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as em
from youtube_api_batch_process_with_analytics_spark.sources import TABLES

# name -> (build jobs, exec jobs) on a fresh path
BUDGET = {
    "ann_ivf_kmeans": (1, 3),
    "kmeans_cells": (1, 1),
    "cluster_balanced_sample": (1, 3),
    "bpe_fertility": (2, 3),
    "tfidf_top_terms": (4, 2),
}


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_cold_refit_query_job_budget(spark, sf_dir, tmp_path, jobs_in_group, name):
    for t in TABLES:
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    fresh = str(tmp_path)
    df, build = jobs_in_group(lambda: em.queries()[name](spark, fresh))
    _, execute = jobs_in_group(
        lambda: df.write.mode("overwrite").format("noop").save()
    )
    max_build, max_exec = BUDGET[name]
    assert len(build) <= max_build, (name, build)
    assert len(execute) <= max_exec, (name, execute)
