"""pin() — lineage truncation with stats reset + partitioning carry.

The r5 rebuild path (plans/lineage.py) copies the checkpoint's own
LogicalRDD minus originStats, so stats reset to the conf default while a
captured outputPartitioning survives. Spark 4.1 caveat pinned here: the
checkpoint only *captures* a partitioning when AQE is off; under AQE the
adaptive root reports UnknownPartitioning at checkpoint time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pasgal_spark.plans.lineage import collect_within, local_relation, pin
from tests.conftest import edges_df


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def test_pin_preserves_values_and_schema(spark):
    df = edges_df(spark, [(0, 1), (1, 2), (2, 0)]).withColumn(
        "w", F.col("src") * 10 + F.col("dst")
    )
    p = pin(df)
    assert p.schema == df.schema
    assert sorted(p.collect()) == sorted(df.collect())


def test_pin_resets_inherited_stats(spark):
    # Self-join doubles the carried sizeInBytes bit length per generation
    # when stats are inherited; pin must reset to the conf default.
    default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes"))
    df = edges_df(spark, [(0, 1), (1, 2)])
    gen = pin(df)
    for _ in range(3):
        nxt = gen.alias("a").join(gen.alias("b"), "src").select(
            F.col("a.src"), F.col("a.dst")
        )
        gen = pin(nxt)
    size = int(str(_analyzed(gen).stats().sizeInBytes()))
    assert size == default_size


def test_pin_carries_captured_partitioning_when_aqe_off(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = (
            spark.range(200)
            .select((F.col("id") % 13).alias("k"), F.col("id").alias("v"))
            .repartition(4, "k")
        )
        p = pin(df)
        part = _analyzed(p).outputPartitioning().toString()
        assert "hashpartitioning(k" in part, part
        # A same-key aggregation reuses the materialized layout: no Exchange.
        agg = p.groupBy("k").agg(F.sum("v").alias("s"))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_pin_under_aqe_checkpoint_captures_unknown(spark):
    # Documents (and alerts on change of) the Spark 4.1 behavior that makes
    # the AQE path re-exchange state: the checkpoint itself captures
    # UnknownPartitioning, so there is nothing for pin to preserve. If a
    # Spark upgrade starts capturing it, this test fails and the BASELINE
    # note should flip to "partitioning reused under AQE too".
    df = (
        spark.range(100)
        .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
        .repartition(4, "k")
    )
    bare = df.localCheckpoint(eager=True)
    part = _analyzed(bare).outputPartitioning().toString()
    assert "UnknownPartitioning" in part, part


def test_fast_pin_fallback_logs_once(monkeypatch, caplog):
    # A frame without a classic JVM plan (a Connect session) comes back
    # unchanged, and the fallback says so once, like pin's does.
    from pasgal_spark.plans import lineage

    monkeypatch.setattr(lineage, "_warned_fast_fallback", False)
    plain = object()
    with caplog.at_level("WARNING", logger=lineage.__name__):
        assert lineage.fast_pin(plain) is plain
        assert lineage.fast_pin(plain) is plain
    assert sum("fast_pin" in r.getMessage() for r in caplog.records) == 1


def test_local_relation_is_a_zero_job_local_relation_with_arrow_off(spark):
    # A vanilla session (Arrow off) must still get a LocalRelation with the
    # DDL's exact types, empty input included, and reading it runs no job.
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()
    key = "spark.sql.execution.arrow.pyspark.enabled"
    spark.conf.set(key, "false")
    try:
        one = local_relation(spark, "id long, dist int", [7], [0])
        empty = local_relation(spark, "id long, scc long", [], [])
        for df in (one, empty):
            assert _analyzed(df).getClass().getSimpleName() == "LocalRelation"
        assert one.dtypes == [("id", "bigint"), ("dist", "int")]
        assert empty.dtypes == [("id", "bigint"), ("scc", "bigint")]
        listeners.waitUntilEmpty()
        before = len(tracker.getJobIdsForGroup(None))
        assert [tuple(r) for r in one.collect()] == [(7, 0)]
        assert empty.collect() == []
        listeners.waitUntilEmpty()
        assert len(tracker.getJobIdsForGroup(None)) == before
    finally:
        spark.conf.set(key, "true")


def test_collect_within_returns_typed_arrays_up_to_the_budget(spark):
    df = spark.range(5).select(
        F.col("id"), F.col("id").cast("int").alias("i"), (F.col("id") / 2).alias("h")
    )
    got = collect_within(df, 5)
    assert [c.dtype.name for c in got] == ["int64", "int32", "float64"]
    assert sorted(got[0].tolist()) == [0, 1, 2, 3, 4]
    assert collect_within(df, 4) is None
    empty = collect_within(df.filter(F.col("id") < 0), 0)
    assert [(c.dtype.name, len(c)) for c in empty] == [
        ("int64", 0), ("int32", 0), ("float64", 0)
    ]


def test_collect_within_reads_a_local_relation_without_a_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()

    def jobs(group, df):
        sc.setJobGroup(group, "collect_within jobs")
        try:
            out = collect_within(df, 2)
        finally:
            sc._jsc.clearJobGroup()
        listeners.waitUntilEmpty()
        return out, len(tracker.getJobIdsForGroup(group))

    local = local_relation(spark, "id long, dist int", [7, 8], [0, 1])
    (ids, dist), n_local = jobs("cw-local", local)
    assert (ids.tolist(), dist.tolist(), dist.dtype.name) == ([7, 8], [0, 1], "int32")
    assert n_local == 0
    assert jobs("cw-local-over", local_relation(spark, "id long", [1, 2, 3]))[0] is None
    _, n_plain = jobs("cw-plain", local.select((F.col("id") + 1).alias("id")))
    assert n_plain >= 1
