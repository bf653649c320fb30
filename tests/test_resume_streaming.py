"""Resumability of the checkpointed drivers (north_rule: identical result
after restart-from-checkpoint)."""

from __future__ import annotations

import math

from pasgal_spark.plans import CheckpointedPageRank, RunManifest
from tests.conftest import edges_df, vertices_df
from tests.oracles import pagerank_oracle

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 3)]
N = 6  # vertex 5 isolated + dangling


def _assert_one_wall_per_superstep(driver):
    """Replayed supersteps are not re-recorded: exactly one wall_ms per
    (run_id, superstep), for supersteps 1..last without a gap."""
    m = driver.metrics().select("run_id", "superstep", "wall_ms").distinct().toPandas()
    assert not m.duplicated(["run_id", "superstep"]).any()
    assert sorted(m["superstep"]) == list(range(1, len(m) + 1))


def test_checkpointed_pagerank_resume_identical(spark, tmp_path):
    edges = edges_df(spark, EDGES)
    verts = vertices_df(spark, range(N))

    # uninterrupted run
    full_dir = str(tmp_path / "full")
    full = CheckpointedPageRank(
        spark, edges, verts, full_dir, checkpoint_every=2
    ).run(tol=1e-5)
    full_ranks = dict(full.collect())

    # interrupted run: stop after 3 supersteps (manifest at superstep 2)
    part_dir = str(tmp_path / "part")
    cp = CheckpointedPageRank(spark, edges, verts, part_dir, checkpoint_every=2)
    cp.run(tol=1e-5, max_supersteps=3)
    m = RunManifest.load(part_dir)
    assert m is not None and m.superstep == 2

    # "crash": new object over the same workdir resumes from the manifest,
    # replaying superstep 3 (recorded, but past the last checkpoint)
    cp = CheckpointedPageRank(spark, edges, verts, part_dir, checkpoint_every=2)
    resumed_ranks = dict(cp.run(tol=1e-5).collect())
    _assert_one_wall_per_superstep(cp)

    assert all(
        math.isclose(full_ranks[u], resumed_ranks[u], abs_tol=1e-12) for u in range(N)
    )
    # and both match the sequential oracle
    exp = pagerank_oracle(N, EDGES, tol=1e-5)
    assert all(math.isclose(full_ranks[u], exp[u], abs_tol=1e-4) for u in range(N))


def test_rerun_of_converged_run_is_a_noop(spark, tmp_path):
    """A second run() over the workdir of a converged run returns the
    recorded state: no further superstep, the same ranks, the manifest
    untouched (LPA at its fixpoint: test_checkpointed_lpa_fixpoint_early_stop)."""
    edges = edges_df(spark, EDGES)
    verts = vertices_df(spark, range(N))
    workdir = str(tmp_path / "pr")
    first = CheckpointedPageRank(spark, edges, verts, workdir, checkpoint_every=3)
    first_ranks = dict(first.run(tol=1e-2).collect())
    converged_at = RunManifest.load(workdir).superstep

    again = CheckpointedPageRank(spark, edges, verts, workdir, checkpoint_every=3)
    assert dict(again.run(tol=1e-2).collect()) == first_ranks
    assert RunManifest.load(workdir).superstep == converged_at


def test_metrics_record_per_partition_lineage(spark, tmp_path):
    edges = edges_df(spark, EDGES)
    verts = vertices_df(spark, range(N))
    cp = CheckpointedPageRank(spark, edges, verts, str(tmp_path / "m"))
    cp.run(tol=1e-3)
    m = cp.metrics().toPandas()
    assert {"run_id", "superstep", "partition_id", "rows", "delta", "wall_ms"} <= set(
        m.columns
    )
    assert m["superstep"].max() >= 2
    # lineage: per-superstep partition rows sum to the vertex count
    per_step = m.groupby("superstep")["rows"].sum()
    assert (per_step == N).all()
    # convergence metric is monotone-ish decreasing overall
    deltas = m.groupby("superstep")["delta"].first()
    assert deltas.iloc[-1] < deltas.iloc[0]


def test_checkpointed_cc_resume_identical(spark, tmp_path):
    """Two-phase CC through the resumable driver: a run interrupted after
    one shrink superstep, resumed by a fresh object over the same workdir,
    must produce the identical canonical labeling as an uninterrupted run
    (and both match plain connected_components_two_phase)."""
    from pasgal_spark.graph.kernels import connected_components_two_phase
    from pasgal_spark.plans.checkpoints import CheckpointedConnectedComponents

    # two components: a 5-cycle and a chain, plus an isolated vertex
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (5, 6), (6, 7)]
    sym_pairs = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    sym = edges_df(spark, sym_pairs)
    verts = vertices_df(spark, range(9))

    want = {
        r["id"]: r["component"]
        for r in connected_components_two_phase(sym, verts).collect()
    }

    full_dir = str(tmp_path / "ccfull")
    full = CheckpointedConnectedComponents(spark, sym, verts, full_dir).run()
    assert {r["id"]: r["component"] for r in full.collect()} == want

    # interrupted: run only 1 of 3 shrink rounds, then resume fresh
    part_dir = str(tmp_path / "ccpart")
    CheckpointedConnectedComponents(
        spark, sym, verts, part_dir, shrink_rounds=1
    ).run()
    m = RunManifest.load(part_dir)
    assert m is not None and m.superstep == 1

    resumed = CheckpointedConnectedComponents(spark, sym, verts, part_dir).run()
    assert {r["id"]: r["component"] for r in resumed.collect()} == want

    # metrics: label-sum potential recorded per superstep, non-increasing
    cp = CheckpointedConnectedComponents(spark, sym, verts, part_dir)
    _assert_one_wall_per_superstep(cp)
    deltas = (
        cp.metrics().select("superstep", "delta").distinct().toPandas()
        .sort_values("superstep")["delta"].tolist()
    )
    assert deltas == sorted(deltas, reverse=True)


def test_checkpointed_lpa_resume_identical(spark, tmp_path):
    """Frontier LPA through the resumable driver: a run interrupted after
    one round, resumed by a fresh object over the same workdir, must
    produce the identical labels as an uninterrupted run (and both match
    plain kernels.label_propagation at the same round count)."""
    from pasgal_spark.graph.kernels import label_propagation
    from pasgal_spark.plans.checkpoints import CheckpointedLabelPropagation
    from tests.oracles import lpa_oracle

    # long path (needs many rounds) + separate triangle + isolated vertex
    pairs = [(i, i + 1) for i in range(7)] + [(8, 9), (9, 10), (8, 10)]
    n = 12
    sym_pairs = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    sym = edges_df(spark, sym_pairs)
    verts = vertices_df(spark, range(n))
    rounds = 4

    want = {
        r["id"]: r["label"]
        for r in label_propagation(sym, verts, rounds=rounds).collect()
    }
    assert want == lpa_oracle(n, pairs, rounds)

    full_dir = str(tmp_path / "lpafull")
    full = CheckpointedLabelPropagation(
        spark, sym, verts, full_dir, rounds=rounds
    ).run()
    assert {r["id"]: r["label"] for r in full.collect()} == want

    # interrupted: run only 1 of 4 rounds, then resume fresh
    part_dir = str(tmp_path / "lpapart")
    CheckpointedLabelPropagation(spark, sym, verts, part_dir, rounds=1).run()
    m = RunManifest.load(part_dir)
    assert m is not None and m.superstep == 1

    resumed = CheckpointedLabelPropagation(
        spark, sym, verts, part_dir, rounds=rounds
    ).run()
    assert {r["id"]: r["label"] for r in resumed.collect()} == want

    # metrics: per-round frontier size recorded; the path keeps shrinking
    cp = CheckpointedLabelPropagation(spark, sym, verts, part_dir)
    _assert_one_wall_per_superstep(cp)
    deltas = (
        cp.metrics().select("superstep", "delta").distinct().toPandas()
        .sort_values("superstep")["delta"].tolist()
    )
    assert len(deltas) == rounds
    assert deltas == sorted(deltas, reverse=True)  # monotone on this fixture


def test_checkpointed_lpa_fixpoint_early_stop(spark, tmp_path):
    """An empty frontier ends the run early; labels equal the fixed-round
    kernel's (fixpoint: further rounds are no-ops). A second run() over
    the workdir runs no round."""
    from pasgal_spark.graph.kernels import label_propagation
    from pasgal_spark.plans.checkpoints import CheckpointedLabelPropagation

    pairs = [(0, 1), (1, 2)]  # converges in 2 rounds
    sym_pairs = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    sym = edges_df(spark, sym_pairs)
    verts = vertices_df(spark, range(3))

    got = CheckpointedLabelPropagation(
        spark, sym, verts, str(tmp_path / "lpafix"), rounds=10
    ).run()
    want = label_propagation(sym, verts, rounds=10)
    assert {r["id"]: r["label"] for r in got.collect()} == {
        r["id"]: r["label"] for r in want.collect()
    }
    m = RunManifest.load(str(tmp_path / "lpafix"))
    assert m is not None and m.superstep < 10  # stopped at the fixpoint

    again = CheckpointedLabelPropagation(
        spark, sym, verts, str(tmp_path / "lpafix"), rounds=10
    ).run()
    assert sorted(again.collect()) == sorted(got.collect())
    assert RunManifest.load(str(tmp_path / "lpafix")).superstep == m.superstep
