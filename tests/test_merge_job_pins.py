"""Spark job-count pins for the row-level mutations: one per MERGE
flavor and one per UPDATE / DELETE WHERE / positional-delete flavor.
Each pin counts the jobs one call starts on the same small fixed table
and asserts the count is no higher than its ceiling.

Every MERGE flavor runs through the one MERGE prepare
(``_prepare_merge_into``); UPDATE and DELETE WHERE run through one DML
body and every data commit through ``_commit_rewrite``. The ceilings
are the counts of those paths. The comment after each gives the count
measured before them: for MERGE with the keyed upsert on its own
prepare and the clause engine profiling the source and evaluating its
join more than once; for the DML flavors with their own bodies and a
separate deletion-vector commit (same fixture, default session
config). A change that adds a job to any flavor fails here and must
say why."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.txlog import (
    tx_delete_positions,
    tx_delete_where,
    tx_merge,
    tx_read,
    tx_scan_with_pos,
    tx_update,
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


#: the DML matched set: rows 40..59, two of the four files after
#: stats pruning
_COND, _PRUNE = "id BETWEEN 40 AND 59", ("id", 40, 59)

# flavor -> (call on the table path, rows after, job ceiling). The
# comment after each ceiling is the count before the one DML body.
DML_FLAVORS = {
    "update_dv": (
        lambda spark, t: tx_update(
            spark, t, _COND, {"tag": "'upd'"}, prune=_PRUNE
        ),
        200,
        10,  # 10
    ),
    "update_dv_nocdf": (
        lambda spark, t: tx_update(
            spark, t, _COND, {"tag": "'upd'"}, prune=_PRUNE, cdf=False
        ),
        200,
        9,  # 9
    ),
    "update_cow": (
        lambda spark, t: tx_update(
            spark, t, _COND, {"tag": "'upd'"}, prune=_PRUNE,
            mode="copy_on_write",
        ),
        200,
        10,  # 10
    ),
    "delete_where_dv": (
        lambda spark, t: tx_delete_where(spark, t, _COND, prune=_PRUNE),
        180,
        6,  # 6
    ),
    "delete_where_dv_nocdf": (
        lambda spark, t: tx_delete_where(
            spark, t, _COND, prune=_PRUNE, cdf=False
        ),
        180,
        5,  # 5
    ),
    "delete_where_cow": (
        lambda spark, t: tx_delete_where(
            spark, t, _COND, prune=_PRUNE, mode="copy_on_write"
        ),
        180,
        10,  # 10
    ),
    "delete_positions": (
        lambda spark, t: tx_delete_positions(
            tx_scan_with_pos(spark, t).filter("id % 10 = 0"), t
        ),
        180,
        11,  # 11
    ),
}


@pytest.mark.parametrize("flavor", sorted(DML_FLAVORS))
def test_dml_job_count_pinned(spark, tmp_path, flavor):
    call, rows_after, ceiling = DML_FLAVORS[flavor]
    t = str(tmp_path / "t")
    _table(spark, t)
    jobs = _jobs_during(spark, lambda: call(spark, t))
    assert tx_read(spark, t).count() == rows_after
    assert jobs <= ceiling, (
        f"{flavor} ran {jobs} Spark jobs, above its ceiling {ceiling}"
    )
