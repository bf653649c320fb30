"""Resumable superstep execution: checkpoints, run manifests, metrics.

The north_rule requires iterative kernels to be (a) resumable from a
checkpoint and (b) observable via per-superstep convergence metrics and
per-partition lineage records. The drivers here run the kernels' own
supersteps (``kernels.pagerank_step``, ``kernels.min_label_step``) through
ONE loop, ``_Resumable._loop``: per superstep it runs the step, pins the
new state and probes it with one aggregate (PageRank's max |Δr|, CC's
label-sum potential, LPA's frontier size), then commits in this order:

1. the state as parquet, ``<workdir>/state_%05d`` (every
   ``checkpoint_every`` supersteps and at convergence; on a cluster an
   Iceberg table);
2. ``<workdir>/MANIFEST.json`` (run_id, superstep, state path, probe
   value), atomically replaced — the analog of an Iceberg snapshot pointer;
3. one ``<workdir>/metrics`` row per (superstep, partition): row counts
   (lineage), the probe value and the wall time — the Spark translation of
   the reference's TSV metric sinks (src/BFS/bfs.cpp:30-32).

A driver constructed over a directory holding a manifest resumes from the
recorded superstep; the result is identical to an uninterrupted run because
each superstep is a pure function of the previous state
(tests/test_resume_streaming.py). Supersteps replayed after the manifest
were already recorded, so each gets its metrics rows once per run_id.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pasgal_spark.graph.kernels import (
    _changed,
    _frontier_size,
    _pagerank_base,
    cc_phase2_union_find,
    min_label_step,
    pagerank_step,
)
from pasgal_spark.plans.lineage import DRIVER_ROWS, pin


@dataclass
class RunManifest:
    run_id: str
    superstep: int
    state_path: str
    delta: float

    @classmethod
    def load(cls, path: str) -> "RunManifest | None":
        f = os.path.join(path, "MANIFEST.json")
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            return cls(**json.load(fh))

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "MANIFEST.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(self.__dict__, fh)
        os.replace(tmp, os.path.join(path, "MANIFEST.json"))


class _Resumable:
    """Base of the resumable drivers: workdir, metrics and the loop."""

    def __init__(self, spark: SparkSession, workdir: str, run_id: str) -> None:
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self._metrics_path = os.path.join(workdir, "metrics")

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path)

    def _loop(
        self,
        *,
        initial: Callable[[], DataFrame],
        step: Callable[[DataFrame], DataFrame],
        probe: Callable[[DataFrame], float | None],
        supersteps: int,
        every: int = 1,
        done: Callable[[float], bool] = lambda value: False,
    ) -> DataFrame:
        """Run (or resume) up to superstep ``supersteps``, stopping at the
        first probe value that is ``done``; returns the last state. A
        manifest whose value is already ``done`` is returned unstepped."""
        manifest = RunManifest.load(self.workdir)
        if manifest is None:
            state, it = initial(), 0
        else:
            state = self.spark.read.parquet(manifest.state_path)
            it = manifest.superstep
            if done(manifest.delta):
                return state
        recorded = 0  # the replay guard: supersteps already in metrics
        if os.path.exists(self._metrics_path):
            recorded = self.metrics().filter(F.col("run_id") == self.run_id).agg(
                F.max("superstep")
            ).first()[0] or 0
        while it < supersteps:
            t0 = time.time()
            state = step(state).transform(pin)
            # empty state => aggregates are NULL; the manifest needs a float
            value = float(probe(state) or 0)
            it += 1
            finished = done(value)
            if it % every == 0 or finished:
                path = os.path.join(self.workdir, f"state_{it:05d}")
                state.write.mode("overwrite").parquet(path)
                RunManifest(self.run_id, it, path, value).save(self.workdir)
            if it > recorded:
                wall_ms = (time.time() - t0) * 1000
                (
                    state.groupBy(F.spark_partition_id().alias("partition_id"))
                    .agg(F.count(F.lit(1)).alias("rows"))
                    .select(
                        F.lit(self.run_id).alias("run_id"),
                        F.lit(it).alias("superstep"),
                        "partition_id",
                        "rows",
                        F.lit(value).alias("delta"),
                        F.lit(wall_ms).alias("wall_ms"),
                    )
                    .write.mode("append")
                    .parquet(self._metrics_path)
                )
            if finished:
                break
        return state


def _identity_labels(vertices: DataFrame, col: str) -> DataFrame:
    """Round-0 ``min_label_step`` state: every vertex its own label, and
    ``old`` NULL so every vertex sends in the first round."""
    return vertices.select(
        "id", vertices.id.alias(col), F.lit(None).cast("long").alias("old")
    )


class CheckpointedPageRank(_Resumable):
    """PageRank with parquet checkpoints, resume, and metrics records:
    ``kernels.pagerank_step`` until max |Δr| < tol, the state checkpointed
    every ``checkpoint_every`` supersteps and at convergence."""

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        vertices: DataFrame,
        workdir: str,
        *,
        run_id: str = "pagerank",
        damping: float = 0.85,
        checkpoint_every: int = 5,
    ) -> None:
        super().__init__(spark, workdir, run_id)
        self.edges = edges
        self.damping = damping
        self.checkpoint_every = checkpoint_every
        self.base, self.n, self.has_dangling = _pagerank_base(edges, vertices)

    def run(self, *, tol: float = 1e-6, max_supersteps: int = 200) -> DataFrame:
        """Run (or resume) to convergence; returns (id, rank)."""
        try:
            return self._loop(
                initial=lambda: self.base.withColumn("rank", F.lit(1.0 / self.n)),
                step=lambda s: pagerank_step(
                    self.edges, s,
                    n=self.n, damping=self.damping, has_dangling=self.has_dangling,
                ),
                probe=lambda s: s.agg(
                    F.max(F.abs(F.col("rank") - F.col("prev_rank")))
                ).first()[0],
                supersteps=max_supersteps,
                every=self.checkpoint_every,
                done=lambda delta: delta < tol,
            ).select("id", "rank")
        finally:
            self.base.unpersist()


class CheckpointedConnectedComponents(_Resumable):
    """Two-phase connected components with parquet checkpoints, resume, and
    per-superstep metrics — the resumable driver for
    ``kernels.connected_components_two_phase`` (same semantics: canonical
    min-id labels; FIXED shrink superstep count + driver union-find,
    reference src/BCC/connectivity.h:44-107). Every shrink round
    (``kernels.min_label_step`` with pointer jumping) is checkpointed with
    its ``old`` column, and probed by the label-sum potential (strictly
    decreasing until fixpoint)."""

    def __init__(
        self,
        spark: SparkSession,
        sym: DataFrame,
        vertices: DataFrame,
        workdir: str,
        *,
        run_id: str = "cc",
        shrink_rounds: int = 3,
        max_residual: int = DRIVER_ROWS,
    ) -> None:
        super().__init__(spark, workdir, run_id)
        self.sym = sym
        self.vertices = vertices
        self.shrink_rounds = shrink_rounds
        self.max_residual = max_residual

    def run(self) -> DataFrame:
        """Run (or resume) the shrink supersteps, then finish with the
        driver union-find; returns (id, component)."""
        changed = _changed("component")
        labels = self._loop(
            initial=lambda: _identity_labels(self.vertices, "component"),
            step=lambda s: min_label_step(
                self.sym, s, s.filter(changed), "component", pointer_jump=True
            ),
            probe=lambda s: s.agg(F.sum("component")).first()[0],
            supersteps=self.shrink_rounds,
        )
        return cc_phase2_union_find(
            self.sym, labels, max_residual=self.max_residual,
            context=f"after {self.shrink_rounds} checkpointed shrink rounds",
        )


class CheckpointedLabelPropagation(_Resumable):
    """Frontier LPA with parquet checkpoints, resume, and metrics — the
    resumable driver for ``kernels.label_propagation`` (same semantics:
    synchronous min-label adoption; after k rounds label(v) = min id in
    v's k-hop closed neighborhood). Every round is checkpointed; its probe
    is the frontier size (vertices whose label changed), and 0 — a
    fixpoint before the round budget — ends the run."""

    def __init__(
        self,
        spark: SparkSession,
        sym: DataFrame,
        vertices: DataFrame,
        workdir: str,
        *,
        run_id: str = "lpa",
        rounds: int = 5,
    ) -> None:
        super().__init__(spark, workdir, run_id)
        self.sym = sym
        self.vertices = vertices
        self.rounds = rounds

    def run(self) -> DataFrame:
        """Run (or resume) the LPA rounds; returns (id, label)."""
        changed = _changed("label")
        return self._loop(
            initial=lambda: _identity_labels(self.vertices, "label"),
            step=lambda s: min_label_step(self.sym, s, s.filter(changed), "label"),
            probe=lambda s: _frontier_size(s, changed),
            supersteps=self.rounds,
            done=lambda n_frontier: n_frontier == 0,
        ).select("id", "label")
