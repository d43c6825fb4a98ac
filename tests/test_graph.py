"""Unit tests for the iterative connected-components operator — the
oracle differential (test_oracle.py::graph_components) checks the 1-NN
graph end-to-end; these check the algorithm on adversarial shapes."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from pymapreduce_spark.operators.graph import connected_components


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components(edges).collect()
    return {r.node: r.component for r in rows}


def test_long_chain_converges_within_log_rounds(spark):
    """A 200-node path has diameter 199 — plain min-propagation needs
    ~200 rounds; pointer jumping must finish within the default 12."""
    labels = _cc(spark, [(i, i + 1) for i in range(199)])
    assert len(labels) == 200
    assert set(labels.values()) == {0}


def test_disjoint_components_and_cycle(spark):
    """Two components (a triangle cycle and a star), labels = min id."""
    tri = [(10, 11), (11, 12), (12, 10)]
    star = [(20, 21), (20, 22), (20, 23)]
    labels = _cc(spark, tri + star)
    assert {labels[n] for n in (10, 11, 12)} == {10}
    assert {labels[n] for n in (20, 21, 22, 23)} == {20}


def _jobs_outside_checkpoints(spark, build, monkeypatch, group):
    """Run ``build()`` and count the Spark jobs it runs OUTSIDE
    ``DataFrame.localCheckpoint`` calls: each checkpoint runs under its
    own job group, everything else under ``group``."""
    frame = type(spark.range(0))  # the classic DataFrame, not the ABC
    sc = spark.sparkContext
    checkpoint = frame.localCheckpoint

    def grouped(self, *args, **kwargs):
        sc.setJobGroup(group + "-ckpt", group + "-ckpt")
        try:
            return checkpoint(self, *args, **kwargs)
        finally:
            sc.setJobGroup(group, group)

    monkeypatch.setattr(frame, "localCheckpoint", grouped)
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        monkeypatch.undo()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(group + "-ckpt")  # the loop ran
    return len(tracker.getJobIdsForGroup(group))


def test_convergence_rides_the_checkpoint_job(spark, monkeypatch):
    """Each round's convergence sum is observed on the rows its
    checkpoint job writes, so no job runs outside the checkpoints (a
    separate aggregate would add two per round under AQE: its shuffle
    map stage and its result stage), and the rounds to the fixed point
    stay 7 for a 200-node path and 2 for a triangle plus a star."""
    for name, pairs, rounds in (
        ("chain", [(i, i + 1) for i in range(199)], 7),
        ("tri-star", [(10, 11), (11, 12), (12, 10),
                      (20, 21), (20, 22), (20, 23)], 2),
    ):
        edges = spark.createDataFrame(pairs, "src long, dst long")
        stats: dict = {}
        outside = _jobs_outside_checkpoints(
            spark,
            lambda: connected_components(edges, stats=stats),
            monkeypatch,
            f"cc-jobs-{name}",
        )
        assert outside == 0, (name, outside)
        assert stats == {"rounds": rounds, "converged": True}, (name, stats)


def test_bfs_convergence_rides_the_checkpoint_job(spark, sf_dir, monkeypatch):
    """graph_bfs_distance observes its (count, Σdist) key on each hop's
    checkpoint: the only job outside the checkpoints is the kNN tile
    fetch that builds the 1-NN graph."""
    from pymapreduce_spark.operators import llm_vector
    from pymapreduce_spark.operators.graph import graph_bfs_distance

    llm_vector.load_embeddings(spark, sf_dir)  # warm the canonicalization memo
    outside = _jobs_outside_checkpoints(
        spark,
        lambda: graph_bfs_distance(spark, sf_dir),
        monkeypatch,
        "bfs-jobs",
    )
    assert outside == 1, outside


@pytest.mark.parametrize(
    "pairs, expected",
    [
        ([], {}),
        ([(1, 2)], {1: 1, 2: 1}),
        ([(5, 5)], {5: 5}),
    ],
    ids=["no-edges", "one-edge", "self-loop"],
)
def test_degenerate_graphs_converge(spark, pairs, expected):
    """Degenerate graphs reach the fixed point. Run on a daemon thread
    under a timeout, so an Observation that never fills (its metrics
    ride the checkpoint job; an empty plan may run no task) fails the
    test instead of hanging the suite."""
    out: dict = {}

    def run():
        try:
            out["labels"] = _cc(spark, pairs)
        except Exception as exc:  # noqa: BLE001 - re-raised below
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=180)
    assert not t.is_alive(), "connected_components did not return in 180 s"
    if "error" in out:
        raise out["error"]
    assert out["labels"] == expected
