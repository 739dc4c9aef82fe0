"""Unit tests for the checkpoint storage-lifecycle scope
(operators/ckpt.py) — the edge cases the operator integrations rely on.
"""

from __future__ import annotations

import os

import pytest

from results_ingestor_spark.operators.ckpt import (
    CheckpointScope, release_result)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_scope_attributes_and_releases_blocks(spark):
    base = _n_persistent(spark)
    scope = CheckpointScope(spark)
    a = scope.checkpoint(spark.range(100))
    b = scope.checkpoint(a.selectExpr("id * 2 AS id"))
    assert _n_persistent(spark) == base + 2
    scope.release(a)
    assert _n_persistent(spark) == base + 1
    assert b.count() == 100  # successor blocks independent of parent
    scope.release_all_except()
    assert _n_persistent(spark) == base


def test_release_unknown_frame_is_a_noop(spark):
    scope = CheckpointScope(spark)
    kept = scope.checkpoint(spark.range(10))
    scope.release(spark.range(5))   # never checkpointed through scope
    scope.release(kept)
    scope.release(kept)             # double release: no error
    assert kept is not None


def test_release_all_except_keeps_named_result(spark):
    base = _n_persistent(spark)
    scope = CheckpointScope(spark)
    tmp = scope.checkpoint(spark.range(50))
    final = scope.checkpoint(tmp.selectExpr("id + 1 AS id"))
    scope.release_all_except(final)
    assert _n_persistent(spark) == base + 1
    assert final.count() == 50
    final._ckpt_scope = scope
    release_result(final)
    assert _n_persistent(spark) == base
    assert tmp is not None


def test_lazy_checkpoint_registers_immediately(spark):
    base = _n_persistent(spark)
    scope = CheckpointScope(spark)
    lazy = scope.checkpoint(spark.range(20), eager=False)
    # lazy persistence registers before any blocks materialize, so the
    # id-diff attribution (and later release) still works
    assert _n_persistent(spark) == base + 1
    assert lazy.count() == 20
    scope.release_all_except()
    assert _n_persistent(spark) == base


def test_direct_attribution_matches_id_diff(spark):
    # The scope owns exactly the frame's own LogicalRDD id — the same
    # single id the old getPersistentRDDs diff measured (both modes).
    scope = CheckpointScope(spark)
    for eager in (True, False):
        before = {int(i) for i in
                  spark.sparkContext._jsc.getPersistentRDDs()
                  .keySet().toArray()}
        out = scope.checkpoint(spark.range(40), eager=eager)
        after = {int(i) for i in
                 spark.sparkContext._jsc.getPersistentRDDs()
                 .keySet().toArray()}
        assert scope._owned[-1][1] == after - before
        assert scope._owned[-1][1] == {
            out._jdf.queryExecution().analyzed().rdd().id()}
    scope.release_all_except()


def test_foreign_persist_inside_window_is_not_claimed(spark, monkeypatch):
    # A concurrently-persisted RDD (another thread / user .cache())
    # materializing between the scope's 'before' and 'after' snapshots
    # must NOT be claimed and later released — the round-6 ownership
    # fix (ADVICE r5).  The race is simulated by persisting a foreign
    # RDD from inside the localCheckpoint call itself.
    DF = type(spark.range(1))  # the concrete (classic) DataFrame class
    base = _n_persistent(spark)
    orig = DF.localCheckpoint
    holder = {}

    def racing(self, eager=True):
        holder["foreign"] = spark.sparkContext.parallelize(
            range(30), 4).persist()
        holder["foreign"].count()
        return orig(self, eager=eager)

    monkeypatch.setattr(DF, "localCheckpoint", racing)
    scope = CheckpointScope(spark)
    ck = scope.checkpoint(spark.range(60))
    monkeypatch.undo()
    foreign = holder["foreign"]
    assert all(foreign.id() not in ids for _, ids in scope._owned)
    scope.release_all_except()
    assert _n_persistent(spark) == base + 1  # foreign persist survives
    assert foreign.count() == 30
    foreign.unpersist()
    assert ck is not None


def test_attribution_failure_owns_nothing(spark, monkeypatch):
    # ADVICE r6: when the direct py4j attribution throws, the scope
    # owns NOTHING — the block lingers until JVM GC (the module's
    # documented failure mode) rather than falling back to a
    # getPersistentRDDs id-diff that can claim a foreign RDD.
    DF = type(spark.range(1))
    base_ids = {int(i) for i in
                spark.sparkContext._jsc.getPersistentRDDs()
                .keySet().toArray()}
    orig = DF.localCheckpoint

    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("py4j surface unavailable")

    def breaking(self, eager=True):
        out = orig(self, eager=eager)
        object.__setattr__(out, "_jdf", _Boom())
        return out

    monkeypatch.setattr(DF, "localCheckpoint", breaking)
    scope = CheckpointScope(spark)
    ck = scope.checkpoint(spark.range(70))
    monkeypatch.undo()
    assert scope._owned[-1][1] == set()     # owned nothing
    scope.release_all_except()              # ... so releases nothing
    after_ids = {int(i) for i in
                 spark.sparkContext._jsc.getPersistentRDDs()
                 .keySet().toArray()}
    new_ids = after_ids - base_ids
    assert len(new_ids) == 1                # block still persisted
    assert ck is not None
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in new_ids:                     # manual cleanup
        jm.get(rid).unpersist(False)


def test_release_result_without_scope_attr_is_a_noop(spark):
    df = spark.range(3)
    release_result(df)  # plain frame, no _ckpt_scope: nothing happens
    assert df.count() == 3


def test_checkpoint_mode_defaults_to_local(spark, monkeypatch):
    # r12 at-scale switch (VERDICT r11 item 5): with no checkpoint dir
    # and no env override, scopes use localCheckpoint (blocks appear in
    # getPersistentRDDs); the env override flips a fresh scope to
    # reliable Dataset.checkpoint (files under the checkpoint dir, no
    # persistent block), and "0" forces local even with a dir set.
    import tempfile

    from results_ingestor_spark.operators.ckpt import (
        CheckpointScope, use_reliable_checkpoints)

    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CKPT", raising=False)
    assert use_reliable_checkpoints(spark) is False
    scope = CheckpointScope(spark)
    assert scope._reliable is False
    ck = scope.checkpoint(spark.range(10))
    assert len(scope._owned[-1][1]) == 1    # a persisted local block
    assert ck.count() == 10
    scope.release_all_except()

    with tempfile.TemporaryDirectory() as d:
        spark.sparkContext.setCheckpointDir(d)
        try:
            assert use_reliable_checkpoints(spark) is True
            monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "0")
            assert use_reliable_checkpoints(spark) is False
            monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "1")
            rel = CheckpointScope(spark)
            assert rel._reliable is True
            out = rel.checkpoint(spark.range(25))
            assert out.count() == 25
            assert any(os.scandir(d))       # files written to the dir
            rel.release_all_except()        # no-op for reliable ckpts
            assert out.count() == 25        # frame still usable
        finally:
            monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CKPT", raising=False)
            # unset the dir so later tests' scopes stay in local mode
            # (no public API: assign scala None through py4j)
            none_opt = spark._jvm.scala.Option.apply(None)
            getattr(spark.sparkContext._jsc.sc(),
                    "checkpointDir_$eq")(none_opt)
            assert use_reliable_checkpoints(spark) is False


def test_reliable_env_without_checkpoint_dir_is_rejected(spark, monkeypatch):
    # A half-set configuration — reliable checkpoints requested, no
    # checkpoint dir — fails at scope creation with an error naming
    # both knobs, not at the first checkpoint with Spark's "Checkpoint
    # directory has not been set".
    from results_ingestor_spark.operators.ckpt import (
        use_reliable_checkpoints)

    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "1")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        use_reliable_checkpoints(spark)
    with pytest.raises(ValueError, match="SPARK_GRAFT_RELIABLE_CKPT"):
        CheckpointScope(spark)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "0")
    assert use_reliable_checkpoints(spark) is False


def test_iterate_leaves_only_the_final_state_persisted(spark):
    base = _n_persistent(spark)
    scope = CheckpointScope(spark)
    start = scope.checkpoint(spark.range(10))
    out = scope.iterate(start, lambda df: df.selectExpr("id + 1 AS id"), 3)
    assert _n_persistent(spark) == base + 1  # every superseded state went
    assert sorted(r.id for r in out.collect()) == list(range(3, 13))
    scope.release_all_except()
    assert _n_persistent(spark) == base


def test_iterate_stops_after_a_round_with_unchanged_signature(spark):
    steps = []

    def step(df):
        steps.append(1)
        return df.selectExpr("least(id + 1, 3) AS id")

    scope = CheckpointScope(spark)
    out = scope.iterate(scope.checkpoint(spark.range(1)), step, 10,
                        signature=lambda s: s.first().id)
    # 0→1→2→3 changes it three times; the fourth round leaves it at 3
    assert len(steps) == 4
    assert out.first().id == 3
    scope.release_all_except()


def test_iterate_without_signature_runs_every_round(spark):
    steps = []

    def step(df):  # a fixpoint from the start: only a signature could stop
        steps.append(1)
        return df

    scope = CheckpointScope(spark)
    out = scope.iterate(scope.checkpoint(spark.range(4)), step, 5)
    assert len(steps) == 5
    assert out.count() == 4
    scope.release_all_except()


def _iterative_results(spark, sf_dir):
    """Exact rowsets of every operator on ``CheckpointScope.iterate``."""
    from pyspark.sql import functions as F

    from results_ingestor_spark.operators.dedup import connected_components
    from results_ingestor_spark.operators.graph import (
        copurchase_edges, k_core, lpa_communities, shortest_paths,
        symmetrize)
    from results_ingestor_spark.sources.tables import load_tables
    from tools.check_correctness import _rowset

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    e = copurchase_edges(li)
    strong = copurchase_edges(li, min_weight=2)
    seeds = F.col("u") % 199 == 0
    frames = {
        "lpa": lpa_communities(strong),
        "k_core": k_core(e),
        "cc": connected_components(
            strong.select(F.col("u").alias("id_a"), F.col("v").alias("id_b")),
            symmetrize(strong).select(F.col("u").alias("doc_id")).distinct()),
        "hops": shortest_paths(symmetrize(e), seeds, F.lit(1)),
        "weighted": shortest_paths(
            e.unionByName(e.select(F.col("v").alias("u"),
                                   F.col("u").alias("v"), "w")),
            seeds, F.col("w")),
    }
    out = {}
    for name, df in frames.items():
        out[name] = _rowset(df.columns, [tuple(r) for r in df.collect()])
        release_result(df)
    return out


def test_iterative_operators_agree_across_checkpoint_modes(
        spark, sf_dir, monkeypatch):
    # The loop's release policy must not change a result whichever
    # checkpoint kind backs it: localCheckpoint blocks vs reliable
    # checkpoint files (a checkpoint dir set, as on a cluster).
    import tempfile

    from results_ingestor_spark.operators.ckpt import (
        use_reliable_checkpoints)

    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CKPT", raising=False)
    local = _iterative_results(spark, sf_dir)
    assert all(local.values())
    with tempfile.TemporaryDirectory() as d:
        spark.sparkContext.setCheckpointDir(d)
        try:
            assert use_reliable_checkpoints(spark) is True
            reliable = _iterative_results(spark, sf_dir)
            assert any(os.scandir(d))       # files written to the dir
        finally:
            none_opt = spark._jvm.scala.Option.apply(None)
            getattr(spark.sparkContext._jsc.sc(),
                    "checkpointDir_$eq")(none_opt)
            assert use_reliable_checkpoints(spark) is False
    assert reliable == local


@pytest.mark.parametrize("name", [
    "graph_sssp_frontier", "graph_sssp_weighted", "graph_k_core",
    "graph_lpa_communities", "dedup_clusters", "er_candidate_records",
    "bpe_train_merges", "wordpiece_train_merges"])
def test_loop_entries_match_oracle(assert_matches_oracle, name):
    """The entries on the checkpointed-iteration loop and on the shared
    greedy-merge trainer equal their DuckDB oracles cell-for-cell; the
    oracles unroll every round, so a wrong early exit or a dropped
    round shows."""
    assert_matches_oracle(name)


@pytest.mark.parametrize("name", [
    "graph_sssp_frontier", "graph_sssp_weighted", "graph_k_core",
    "graph_lpa_communities", "graph_lpa_modularity", "er_golden_record",
    "er_candidate_records", "sampling_cluster_aware_split"])
def test_release_result_frees_derived_entry_results(spark, sf_dir, name):
    """Entries that return a groupBy, orderBy or join of an iterative
    operator's checkpointed result hand the operator's scope on, so
    release_result on the returned frame leaves no block persisted.
    Compared as id sets: JVM GC may unpersist older frames meanwhile."""
    from results_ingestor_spark.plans import QUERIES

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    base = ids()
    df = QUERIES[name](spark, sf_dir)
    df.collect()
    assert ids() - base  # the result's checkpoint is persisted
    release_result(df)
    assert not ids() - base
