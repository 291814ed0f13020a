"""The round driver of the iterative operators (operators/iterate.py):
how many jobs it materializes, how often it steps, where a fixpoint stops
it — and that a gradient-descent query checkpoints once per round."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.operators.iterate import iterate
from taxi_data_datapipeline_spark.queries import QUERIES, clear_memos


@pytest.fixture
def checkpoints(spark, monkeypatch):
    """Counts ``localCheckpoint`` calls; the checkpoints still happen."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    return calls


def test_rounds_chain_per_job(spark, checkpoints):
    steps = []

    def step(s):
        steps.append(1)
        return s.select((F.col("x") + 1).alias("x"))

    jobs = iterate(spark.range(3).select(F.col("id").alias("x")), step, 5, per_job=2)
    assert len(steps) == 5
    assert len(checkpoints) == 3
    # one frame per job: after rounds 2, 4 and 5
    assert [sorted(r.x for r in j.collect()) for j in jobs] == [
        [2, 3, 4],
        [4, 5, 6],
        [5, 6, 7],
    ]


def test_fixpoint_stops_at_first_repeat(spark, checkpoints):
    steps = []

    def step(s):
        steps.append(1)
        return s.select(F.least(F.col("x") + 1, F.lit(2)).alias("x"))

    jobs = iterate(
        spark.range(1).select(F.lit(0).alias("x")), step, 10, fixpoint=[F.sum("x")]
    )
    # observations 1, 2, 2: the third job repeats the second and stops
    assert len(steps) == len(checkpoints) == len(jobs) == 3
    assert [j.collect()[0].x for j in jobs] == [1, 2, 2]


def test_gradient_descent_checkpoints_once_per_round(spark, checkpoints):
    clear_memos()
    QUERIES["perceptron_train"](spark, SF_SMOKE)
    assert len(checkpoints) == 3
