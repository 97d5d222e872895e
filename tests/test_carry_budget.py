"""Both sides of the carry-table size selection in exact.py: a driver
carry table is a literal map up to _EDGE_LITERAL_MAX entries and a
broadcast left-join past it. With the budget forced down to 1, every
range-partitioned verb must give the same answers as on the literal
side — each case re-runs an existing equivalence test on both sides,
over several range partitions so the carries are not trivial."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mlrsketch.verbs import exact as ev
from tests import test_ordered_scale as tos
from tests import test_small_verbs as tsv
from tests import test_verbs_exact as tve
from tests.test_ordered_scale import collect_map, data  # noqa: F401  (fixture)


@pytest.fixture(params=["literal", "join"])
def side(request, spark, monkeypatch):
    """Run on the literal side (default budget) or the join side
    (budget 1), both with AQE partition coalescing off: test-sized
    range exchanges otherwise collapse to ONE partition, whose carry
    table has a single entry and carries nothing across partitions."""
    if request.param == "join":
        monkeypatch.setattr(ev, "_EDGE_LITERAL_MAX", 1)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield request.param
    spark.conf.set(key, prev)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_attach_selects_literal_map_then_broadcast_join(spark, monkeypatch):
    df = spark.range(0, 6).withColumn("k", (F.col("id") % 4).cast("int"))
    table = {0: 1.5, 1: None, 2: 7}  # 3: missing; None: no entry
    lit = ev._attach(df, F.col("k"), table, "c", "double")
    assert "BroadcastHashJoin" not in _plan(lit)
    monkeypatch.setattr(ev, "_EDGE_LITERAL_MAX", 1)
    joined = ev._attach(df, F.col("k"), table, "c", "double")
    assert "BroadcastHashJoin" in _plan(joined)
    assert "SinglePartition" not in _plan(joined)
    assert joined.columns == lit.columns == ["id", "k", "c"]
    exp = {0: 1.5, 1: None, 2: 7.0, 3: None}
    for out in (lit, joined):
        assert {r["id"]: r["c"] for r in out.collect()} == {i: exp[i % 4] for i in range(6)}


def test_step_lag_lead(spark, side):
    tos.test_step_lag_spans_multiple_tiny_partitions(spark)


def test_step_ungrouped(data, side):
    # het gates, lag/lead edges, rsum/rprod/counter and ewma carries
    tos.test_step_ungrouped_matches_naive(data)


def test_fill_down_slwin_rank(data, side):
    tos.test_fill_down_ungrouped_matches_naive(data)
    tos.test_slwin_ungrouped_matches_naive(data)
    tos.test_rank_ungrouped_matches_naive(data)


def test_global_row_number(spark, side):
    tsv.test_global_row_number_distributed(spark)


def test_stats1_iterative(spark, abixy, side):
    tve.test_stats1_iterative_matches_sequential(spark, abixy.repartition(4))


def test_percentiles_rank(spark, side):
    # 3 groups over the range partitions: far more (partition, group)
    # entries than the budget
    tve.test_percentiles_rank_matches_window_free(spark)
    tve.test_percentiles_rank_null_group_keys_do_not_collide(spark)


def test_fraction_cumulative_ungrouped(data, side):
    got = collect_map(ev.fraction(data, "x", cumulative=True, order_by=["ord"]))
    w = Window.partitionBy().orderBy("ord").rowsBetween(Window.unboundedPreceding, 0)
    total = data.agg(F.sum("x")).first()[0]
    exp = collect_map(data.withColumn("e", F.when(F.col("x").isNotNull(),
                                                  F.sum("x").over(w) / total)))
    for k, r in exp.items():
        g, e = got[k]["x_cumulative_fraction"], r["e"]
        assert (g is None) == (e is None), k
        if e is not None:
            assert math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-12), (k, g, e)
