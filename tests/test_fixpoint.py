"""operators/fixpoint.py: `release` frees both kinds of materialized
frame, `fixpoint` holds exactly one materialized round state, and the
iterative graph queries leave at most their result's checkpoint behind
after their action."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from challenge8_movies_etl_spark.operators.fixpoint import fixpoint, release
from challenge8_movies_etl_spark.registry import QUERIES, load_all
from tests.conftest import SF_SMOKE

load_all()


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def _free_since(spark, start: set[int]) -> None:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in _persisted(spark) - start:
        rdds[rdd_id].unpersist(False)


def _is_checkpoint(df) -> bool:
    return df._jdf.queryExecution().logical().nodeName() == "LogicalRDD"


def test_release_frees_checkpoint_and_persist(spark):
    start = _persisted(spark)
    ck = spark.range(50).localCheckpoint(eager=True)
    kept = spark.range(60).persist()
    kept.count()
    assert len(_persisted(spark) - start) == 2
    ck.unpersist()  # the trap release exists for: this frees nothing
    assert len(_persisted(spark) - start) == 2
    release(ck)
    release(kept)
    assert _persisted(spark) == start


@pytest.mark.parametrize("rounds,every", [(5, 1), (6, 3), (5, 2)])
def test_fixpoint_holds_only_final_state(spark, rounds, every):
    start = _persisted(spark)
    seen = []

    def step(df, i):
        seen.append(_is_checkpoint(df))
        return df.select((F.col("x") + 1).alias("x"))

    out = fixpoint(spark.range(10).select(F.col("id").alias("x")), step,
                   rounds, every=every)
    assert sorted(r["x"] for r in out.collect()) == list(range(rounds,
                                                               rounds + 10))
    # round i reads round i-1's state: materialized every `every`-th
    # round only (the lazy init is never checkpointed)
    assert seen == [i > 0 and i % every == 0 for i in range(rounds)]
    assert _is_checkpoint(out)
    assert len(_persisted(spark) - start) == 1
    release(out)
    assert _persisted(spark) == start


def test_fixpoint_tuple_state_checkpoints_only_new_frames(spark):
    start = _persisted(spark)
    a0 = spark.range(3).select(F.col("id").alias("a"))
    b0 = spark.range(4).select(F.col("id").alias("b"))

    def step(state, i):  # alternate: even rounds move a, odd move b
        a, b = state
        if i % 2 == 0:
            return a.select((F.col("a") + 1).alias("a")), b
        return a, b.select((F.col("b") + 10).alias("b"))

    a, b = fixpoint((a0, b0), step, 4)
    assert sorted(r["a"] for r in a.collect()) == [2, 3, 4]
    assert sorted(r["b"] for r in b.collect()) == [20, 21, 22, 23]
    assert len(_persisted(spark) - start) == 2
    release(a)
    release(b)
    assert _persisted(spark) == start


def _capped_step(df, _):
    # x climbs by one per round until 5: round 5 is the first to change
    # nothing, for x starting in 0..4
    return df.select(F.least(F.col("x") + 1, F.lit(5)).alias("x"),
                     F.col("x").alias("_prev"))


def _converge(spark, step, cap):
    """x in 0..4 stepped toward 5, counting changed rows per round."""
    return fixpoint(
        spark.range(5).select(F.col("id").alias("x")), step, cap,
        observe=(F.count(F.when(F.col("x") != F.col("_prev"), 1))
                 .alias("chg"),),
        changed=lambda stat, prev: stat["chg"])


def test_observed_zero_stops_early(spark):
    start = _persisted(spark)
    rounds = []

    def step(df, i):
        rounds.append(i)
        return _capped_step(df, i)

    out = _converge(spark, step, 50)
    assert rounds == list(range(6))
    assert sorted(r["x"] for r in out.collect()) == [5] * 5
    assert len(_persisted(spark) - start) == 1
    release(out)


def test_cap_hit_while_changing_raises(spark):
    start = _persisted(spark)
    with pytest.raises(RuntimeError, match="still changing after 3 rounds"):
        _converge(spark, _capped_step, 3)
    # the superseded rounds were released on the way; only the last
    # round's checkpoint is left
    assert len(_persisted(spark) - start) == 1
    _free_since(spark, start)


@pytest.mark.parametrize("qid", ["q_graph_components", "q_graph_sssp"])
def test_graph_loops_leave_at_most_their_result(spark, qid):
    start = _persisted(spark)
    QUERIES[qid](spark, SF_SMOKE).write.format("noop").mode(
        "overwrite").save()
    left = len(_persisted(spark) - start)
    assert left <= 1, f"{qid} left {left} persisted RDDs"
    _free_since(spark, start)
