"""Lineage truncation that also resets Catalyst's inherited statistics.

``pin(df)`` is the engine's materialize-and-truncate primitive, used by
every iterative kernel in place of a bare ``localCheckpoint``.

Why not plain ``localCheckpoint``: in Spark 4 (classic) a checkpoint's
``LogicalRDD`` *inherits* the statistics of the plan it truncates
(``LogicalRDD.rewriteStatsAndConstraints``, sql/execution/ExistingRDD).
Catalyst's size-only stats visitor multiplies child sizes at every join,
so a superstep that references the previous generation twice (message
join + convergence/self join) doubles the carried ``sizeInBytes`` bit
length — and because checkpoints *propagate* the product instead of
resetting it, an iterative pipeline with G generations carries
``O(2^G)``-bit BigIntegers. Measured here: the 40+-generation BCC euler
path spent 20+ minutes of driver CPU inside ``BigInteger.multiply``
during planning (stack: ``SizeInBytesOnlyStatsPlanVisitor`` →
``rewriteStatsAndConstraints`` → ``Dataset.checkpoint``).

``pin`` materializes via eager ``localCheckpoint`` (same fault-tolerance
story) and then rebuilds the DataFrame directly over the checkpointed
``RDD[InternalRow]`` (``SparkSession.internalCreateDataFrame``), which
constructs a fresh ``LogicalRDD`` *without* the stats rewrite — its
sizeInBytes is the conf default, so per-generation stats stay O(1) bits
and planning cost is flat no matter how many supersteps run. Join
strategy is unaffected: state relations were never auto-broadcast
anyway (both the inherited product and the default exceed any broadcast
threshold); explicit ``F.broadcast`` hints still apply.

On a cluster the same role is played by parquet/Iceberg checkpoints
(``pasgal_spark.plans.checkpoints``), whose read-back scans carry real
file-size stats — naturally bounded. ``pin`` is the in-memory analog.

``local_relation`` is the other direction: the one way the package turns
driver-side rows (a BFS seed, a union-find fix-up map, a NumPy fast
path's result) into a relation. ``collect_within`` is the way back: the
one driver collect of every fast path, bounded by ``DRIVER_ROWS``.
"""

from __future__ import annotations

import logging
from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

_log = logging.getLogger(__name__)
_warned_fallback = False
_warned_fast_fallback = False

# The driver budget: the most rows any fast path collects to the driver
# (and the default of every budget keyword in the package).
DRIVER_ROWS = 4_000_000


def local_relation(
    spark: SparkSession, schema: str, *columns: Sequence
) -> DataFrame:
    """A driver-built relation: DDL ``schema`` (``"id long, dist int"``)
    over one array per column (lists or NumPy arrays, cast to the DDL
    types; all empty for an empty relation).

    Built from a ``pyarrow.Table``, so Spark plans a ``LocalRelation``
    whatever the session's Arrow setting: reads are ``LocalTableScan``s
    and a ``collect()`` runs no job. A Python list handed to
    ``createDataFrame`` instead plans a ``LogicalRDD`` over a pickled
    ``parallelize`` (and so does a pandas frame with Arrow off): every read
    is a job run by Python workers — 2.0 s when they start cold, 0.34-0.40
    s warm, against 0.02 s and no job here, for one row of integers
    (4 cores, Spark 4.1).

    The returned frame keeps its Arrow table, so ``collect_within`` reads
    it back without a job.
    """
    struct = _parse_datatype_string(schema)
    table = pa.table(list(columns), names=struct.names).cast(to_arrow_schema(struct))
    df = spark.createDataFrame(table, struct)
    df._driver_table = table  # read by collect_within
    return df


def collect_within(
    df: DataFrame, budget: int = DRIVER_ROWS
) -> tuple[np.ndarray, ...] | None:
    """``df``'s columns as NumPy arrays, in column order, or ``None`` when
    ``df`` has more than ``budget`` rows.

    One Arrow job, ``df.limit(budget + 1).toArrow()``, serves as both the
    budget probe and the collect. A frame ``local_relation`` returned runs
    no job: its table is read back as it was built. (Arrow ``toPandas``
    runs a job even over a ``LocalTableScan``.)
    """
    table = vars(df).get("_driver_table")
    if table is None:
        table = df.limit(budget + 1).toArrow()
    if table.num_rows > budget:
        return None
    return tuple(col.to_numpy() for col in table.columns)


def fast_pin(df: DataFrame) -> DataFrame:
    """Logical-lineage truncation without an action (r6): rebuild ``df``
    as a ``LogicalRDD`` leaf over its compiled RDD.

    Why it exists: a superstep that only ``cache()``s its generations
    keeps the full logical tree, and because each generation references
    the previous one twice (state row + message join), Catalyst's
    canonicalization / cache-lookup walks expand the shared DAG into a
    tree — measured 4x cost growth PER GENERATION in round 6 (54 s for
    superstep 8 of a trivial 157k-edge hash-min loop). ``pin`` fixes that
    with an eager localCheckpoint, but that is one extra JOB per
    generation. ``fast_pin`` gets the O(1) logical plan without the
    checkpoint: ``queryExecution.toRdd()`` compiles the plan to its RDD,
    and ``internalCreateDataFrame`` wraps it as a stats-fresh LogicalRDD
    leaf — the same construction as ``pin``'s fallback path, minus the
    materialization.

    Jobs: it is zero-job only with AQE off. Under the engine's AQE default
    ``toRdd()`` finalizes the adaptive plan, which runs its shuffle query
    stages as jobs (3 measured for a join of two aggregates) before any
    action, under the calling thread's local properties — its job group
    included. The probe loop (``kernels._iterate``) calls it on a
    background ``pyspark.InheritableThread`` that copies the caller's
    local properties, so those jobs stay in the caller's job group.

    Idiom: ``fast_pin(df).cache()``, then one action — rebind FIRST,
    cache the leaf. The plan compiles once, the action fills the cache,
    and every later reference to the leaf reads it, the copies a
    self-join or self-union makes included (a plain ``LogicalRDD`` leaf's
    copy hits the cache; see ``pin``'s ``hash_cols`` caveat for one that
    does not). Uncached, the leaf re-runs ``df``'s whole computation on
    every action. The RDD lineage keeps growing until a real ``pin``
    truncates it, so iterative kernels still pin every few generations
    (the _StateChain cadence).
    """
    try:
        jdf = df._jdf  # type: ignore[attr-defined]
        jrdd = jdf.queryExecution().toRdd()
        jschema = jdf.schema()
        jss = df.sparkSession._jsparkSession  # type: ignore[attr-defined]
        fresh = jss.internalCreateDataFrame(jrdd, jschema, False)
        return DataFrame(fresh, df.sparkSession)
    except Exception:  # non-classic sessions (Connect)
        global _warned_fast_fallback
        if not _warned_fast_fallback:
            _warned_fast_fallback = True
            _log.warning(
                "fast_pin: LogicalRDD rebind unavailable (non-classic "
                "session?); returning the plan unchanged — iterative plans "
                "keep their full logical tree (see fast_pin's docstring)"
            )
        return df


def pin(df: DataFrame, *, hash_cols: tuple[str, ...] | None = None) -> DataFrame:
    """Eagerly materialize ``df``, truncate lineage, and reset plan stats.

    The rebuilt ``LogicalRDD`` is a case-class ``copy`` of the checkpoint's
    own plan with ``originStats``/``originConstraints`` dropped: stats reset
    to the conf default (O(1) bits per generation), while everything the
    checkpoint captured — output attributes, ``outputPartitioning``,
    ``outputOrdering`` — carries through, so a consumer keyed on the same
    columns can reuse the materialized layout instead of re-exchanging the
    state side.

    Measured caveat (Spark 4.1, recorded in BASELINE.md r5): with AQE
    enabled (the engine default) ``Dataset.localCheckpoint`` itself captures
    ``UnknownPartitioning`` — the adaptive physical root does not expose the
    final partitioning at checkpoint time — so under AQE this preserves
    nothing and the (small, O(n)-row) state side re-exchanges per superstep,
    exactly as with a bare checkpoint. With AQE off the partitioning is
    captured and reused (explain-asserted in tests). The engine's explain
    assertions (scripts/explain_plans.py) pin down that the *edge* side —
    the O(m) relation — never re-exchanges either way.

    ``hash_cols`` caveat (measured, Spark 4.1): the copy of a
    hash-declared leaf that ``DeduplicateRelations`` makes for a self-join
    or self-union misses the leaf's ``.cache()`` (a plain leaf's copy hits
    it), and every plan derived above that copy differs from the one
    derived above the original, so a cached derived plan misses on it
    too. A plan derived from such a leaf that a query references twice
    is therefore rebound before it is cached:
    ``fast_pin(derived).cache()`` (``kernels._oriented``); a bare
    ``derived.cache()`` is read by one reference and recomputed by the
    other.
    """
    global _warned_fallback
    ck = df.localCheckpoint(eager=True)
    try:
        sess = ck.sparkSession
        jvm = sess._jvm  # type: ignore[attr-defined]
        lr = ck._jdf.queryExecution().analyzed()  # type: ignore[attr-defined]
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        partitioning = lr.outputPartitioning()
        ordering = lr.outputOrdering()
        if hash_cols:
            # Declare HashPartitioning over the LEAF'S OWN output attrs
            # (r6). The checkpoint's captured partitioning is useless for
            # join-exchange elision in practice: under AQE it is
            # UnknownPartitioning, and even when captured its expressions
            # reference the EXECUTED plan's attribute ids, which do not
            # match the rebuilt leaf's output ids — so EnsureRequirements
            # re-exchanges the pinned table at every superstep join (the
            # round-6 explain gate caught exactly this). The caller
            # asserts the rows really are hash-partitioned by these
            # columns (a preceding repartition(N, cols)); hash
            # partitioning is a pure function of the VALUES, so the
            # declaration stays valid across the attr-id rewrite. N is
            # read from the checkpointed RDD itself.
            out = lr.output()
            by_name = {out.apply(i).name(): out.apply(i) for i in range(out.size())}
            to_seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq
            partitioning = jvm.org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
                to_seq([by_name[c] for c in hash_cols]),
                lr.rdd().getNumPartitions(),
            )
            ordering = to_seq([])
        fresh = lr.copy(
            lr.output(), lr.rdd(), partitioning, ordering,
            lr.isStreaming(), lr.stream(), sess._jsparkSession, none, none,
        )
        jds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            sess._jsparkSession, fresh
        )
        return DataFrame(jds, sess)
    except Exception:
        if hash_cols:
            raise  # the caller relies on the declared layout — fail loud
        pass
    try:
        # Older fallback: rebuild over the checkpointed RDD (stats reset,
        # partitioning dropped) — covers a non-LogicalRDD analyzed plan.
        jdf = ck._jdf  # type: ignore[attr-defined]
        jrdd = jdf.queryExecution().toRdd()
        jschema = jdf.schema()
        jss = ck.sparkSession._jsparkSession  # type: ignore[attr-defined]
        fresh = jss.internalCreateDataFrame(jrdd, jschema, False)
        return DataFrame(fresh, ck.sparkSession)
    except Exception:  # pragma: no cover - non-classic sessions (Connect)
        if not _warned_fallback:
            _warned_fallback = True
            _log.warning(
                "pin: stats-reset rebuild unavailable (non-classic session?); "
                "falling back to bare localCheckpoint — deep iterative plans "
                "may hit the Spark 4 inherited-stats planning blowup "
                "(see plans/lineage.py docstring)"
            )
        return ck
