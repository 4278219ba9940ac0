"""Storage and driver-local frame helpers (functions/ckpt.py,
functions/localrows.py): a release must really release, and a malformed
row must fail loudly instead of quietly taking a slower path."""

from __future__ import annotations

import pytest

from big_data_analytics_machine_learning_poc_spark.functions.ckpt import (
    release_local_checkpoint,
    unpersist_all,
)
from big_data_analytics_machine_learning_poc_spark.functions.localrows import local_rows_df


def _ckpt_rdd_id(df) -> int:
    plan = df._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() == "SubqueryAlias":
        plan = plan.child()
    return plan.rdd().id()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_local_checkpoint_frees_eager_lazy_and_aliased(spark):
    eager = spark.range(100).selectExpr("id % 7 AS k").localCheckpoint()
    lazy = spark.range(100).selectExpr("id % 5 AS k").localCheckpoint(eager=False)
    assert lazy.count() == 100  # materialize the lazy checkpoint
    aliased = spark.range(100).selectExpr("id % 3 AS k").localCheckpoint().alias("a")
    for df in (eager, lazy, aliased):
        rdd_id = _ckpt_rdd_id(df)
        assert rdd_id in _persistent_ids(spark)
        assert release_local_checkpoint(df) is True
        assert rdd_id not in _persistent_ids(spark)


def test_release_local_checkpoint_is_false_only_for_non_checkpoint_frames(spark):
    assert release_local_checkpoint(spark.range(3)) is False


def test_unpersist_all_releases_every_persistent_rdd(spark):
    spark.range(10).localCheckpoint()
    assert _persistent_ids(spark)
    assert unpersist_all(spark, blocking=True) >= 1
    assert not _persistent_ids(spark)


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_rows_df_wrong_arity_raises(spark, arrow, monkeypatch):
    """A short or long row is a caller bug: it must raise at the call,
    not fall through to the 1-slice path (which would fail only at the
    first action) or be padded with NULLs by pandas."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for rows in ([(1, "a"), (2,)], [(1, "a", "extra")]):
            with pytest.raises(ValueError, match="fields; schema has 2"):
                local_rows_df(spark, rows, "k BIGINT, v STRING")
        ok = local_rows_df(spark, [(1, "a"), (2, None)], "k BIGINT, v STRING")
        assert [tuple(r) for r in ok.collect()] == [(1, "a"), (2, None)]
    finally:
        spark.conf.set(key, prior)
