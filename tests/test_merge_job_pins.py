"""Spark job-count pins, one per MERGE flavor. Every flavor runs through
the one MERGE prepare (``_prepare_merge_into``); each pin counts the
jobs one ``tx_merge`` call starts on a small fixed table and asserts
the count is no higher than its ceiling.

The ceilings are the counts of the one prepare. The comment after each
gives the count measured before it, with the keyed upsert on its own
prepare and the clause engine profiling the source and evaluating its
join more than once (same fixture, default session config). A change
that adds a job to any flavor fails here and must say why."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.txlog import (
    tx_merge,
    tx_read,
    tx_write,
)

# flavor -> (tx_merge kwargs, rows after the merge, job ceiling). The
# comment after each ceiling is the count before the one prepare.
FLAVORS = {
    "upsert_cdf": ({}, 205, 14),  # 18
    "upsert_nocdf": ({"cdf": False}, 205, 12),  # 12
    "clauses_del_upd_ins": (
        {
            "when_matched": [
                {"action": "delete", "condition": "s.tag = 'del'"},
                {"action": "update", "set": {"qty": "s.qty"}},
            ],
            "when_not_matched": [{}],
        },
        201,
        14,  # 22
    ),
    "insert_only": ({"when_not_matched": [{}]}, 205, 8),  # 10
    "by_source": (
        {
            "when_matched": [{}],
            "when_not_matched_by_source": [
                {"action": "delete", "condition": "t.id >= 190"}
            ],
        },
        190,
        12,  # 20
    ),
}


def _table(spark, t):
    # four files with disjoint, logged id ranges: [0,50) [50,100) ...
    for lo in range(0, 200, 50):
        tx_write(
            spark.range(lo, lo + 50, 1, 1).select(
                "id",
                (F.col("id") * 10).alias("qty"),
                F.lit("base").alias("tag"),
            ),
            t,
            stats_cols=["id"],
        )


def _source(spark):
    # 20 keys matching two files ([40, 60); every fifth tagged 'del')
    # plus 5 new keys below the table's range, so range pruning touches
    # those two files only
    rows = [
        (i, i * 100, "del" if i % 5 == 0 else "upd")
        for i in list(range(40, 60)) + list(range(-5, 0))
    ]
    return spark.createDataFrame(rows, "id long, qty long, tag string")


def _jobs_during(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs. Job ids only grow, so the
    jobs newer than the last id seen before the call are the call's
    own — robust to the UI's retained-job cap evicting old ids."""
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    fn()
    return sum(1 for j in tracker.getJobIdsForGroup(None) if j > before)


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
def test_merge_job_count_pinned(spark, tmp_path, flavor):
    kwargs, rows_after, ceiling = FLAVORS[flavor]
    t = str(tmp_path / "t")
    _table(spark, t)
    src = _source(spark)
    jobs = _jobs_during(spark, lambda: tx_merge(src, t, "id", **kwargs))
    assert tx_read(spark, t).count() == rows_after
    assert jobs <= ceiling, (
        f"{flavor} ran {jobs} Spark jobs, above its ceiling {ceiling}"
    )
