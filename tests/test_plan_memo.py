"""The per-session plan memo in ``plans/registry.py``: a job-free build
is analyzed once per (session, sf_dir, entry, conf) and every later call
gets a new Dataset over that plan; builds that run jobs, carry a
checkpoint scope or read an RDD are rebuilt on every call."""

from __future__ import annotations

import gc
import os
import uuid

import pytest
from pyspark.sql import functions as F

from results_ingestor_spark.metrics import jobs_submitted
from results_ingestor_spark.plans import QUERIES, registry
from results_ingestor_spark.plans.registry import query

# perfbench's scan_shuffle entries, and the flagship
SCAN_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority",
    "q21_suppliers_kept_waiting", "window_rank_orders", "dedup_minhash_lsh",
    "dedup_cdc_chunks", "search_rrf_hybrid", "embedding_covariance",
)
FLAGSHIP = "rollup_contest_county"


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def _memo_keys(name, sf_dir):
    base = os.path.abspath(sf_dir)
    return {k for k in registry._PLAN_MEMO if k[1:3] == (base, name)}


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """``py4j_calls(fn)`` -> (fn's result, py4j round trips fn made)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    def counting(*args, **kwargs):
        count[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def run(fn):
        # a cyclic-GC pass during fn would count the release of earlier
        # JVM proxies as fn's traffic
        gc.collect()
        gc.disable()
        try:
            count[0] = 0
            out = fn()
        finally:
            gc.enable()
        return out, count[0]

    return run


@pytest.fixture
def probe_entry():
    """``probe_entry(fn)`` -> ``fn`` wrapped as a registry entry (not
    left registered) and the list its calls are appended to."""
    names = []

    def make(fn):
        name = f"__memo_probe_{uuid.uuid4().hex[:8]}"
        calls = []

        def body(spark, sf_dir):
            calls.append(sf_dir)
            return fn(spark)

        query(name)(body)
        names.append(name)
        return QUERIES[name], calls

    yield make
    for name in names:
        QUERIES.pop(name, None)


def test_hit_is_a_new_dataset_over_the_same_plan(spark, sf_dir,
                                                 fresh_alias):
    sf = fresh_alias(sf_dir)
    miss = QUERIES["q3_shipping_priority"](spark, sf)
    assert len(_memo_keys("q3_shipping_priority", sf)) == 1
    hit = QUERIES["q3_shipping_priority"](spark, sf)
    again = QUERIES["q3_shipping_priority"](spark, sf)
    assert hit is not miss and again is not hit
    assert not hit._jdf.equals(again._jdf)
    assert _analyzed(hit).sameResult(_analyzed(miss))
    assert hit.schema == miss.schema


def test_hit_runs_no_job_and_few_round_trips(spark, sf_dir, fresh_alias,
                                             py4j_calls):
    sf = fresh_alias(sf_dir)
    j0 = jobs_submitted(spark)
    _, miss_calls = py4j_calls(lambda: QUERIES[FLAGSHIP](spark, sf))
    j1 = jobs_submitted(spark)
    _, hit_calls = py4j_calls(lambda: QUERIES[FLAGSHIP](spark, sf))
    assert jobs_submitted(spark) == j1 == j0
    assert hit_calls < 20 < miss_calls


def test_hits_execute_independently(spark, sf_dir):
    QUERIES["q1_pricing_summary"](spark, sf_dir)
    a = QUERIES["q1_pricing_summary"](spark, sf_dir)
    b = QUERIES["q1_pricing_summary"](spark, sf_dir)
    j0 = jobs_submitted(spark)
    rows_a = a.collect()
    j1 = jobs_submitted(spark)
    rows_b = b.collect()
    j2 = jobs_submitted(spark)
    assert j1 > j0 and j2 > j1  # each hit plans and runs its own jobs
    assert sorted(rows_a) == sorted(rows_b)
    # QueryExecution compares by identity: each hit holds its own, and
    # with it its own executed plan
    assert not a._jdf.queryExecution().equals(b._jdf.queryExecution())


def test_builds_with_jobs_or_scope_are_rebuilt(spark, sf_dir,
                                               fresh_alias):
    sf = fresh_alias(sf_dir)
    for _ in range(2):
        j0 = jobs_submitted(spark)
        df = QUERIES["dedup_minhash_lsh"](spark, sf)
        assert jobs_submitted(spark) > j0  # its eager checkpoint
        assert getattr(df, "_ckpt_scope", None) is not None
        assert not _memo_keys("dedup_minhash_lsh", sf)
        from results_ingestor_spark.operators.ckpt import release_result
        release_result(df)


def test_memo_rule_on_probe_entries(spark, sf_dir, probe_entry):
    from results_ingestor_spark.operators.ckpt import CheckpointScope

    def job_free(s):
        return s.range(5)

    def runs_a_job(s):
        s.range(3).count()
        return s.range(5)

    def scoped(s):
        out = s.range(5)
        out._ckpt_scope = CheckpointScope(s)
        return out

    for fn, memoized in ((job_free, True), (runs_a_job, False),
                         (scoped, False)):
        entry, calls = probe_entry(fn)
        outs = [entry(spark, sf_dir) for _ in range(3)]
        assert len(calls) == (1 if memoized else 3), fn.__name__
        assert all(o.count() == 5 for o in outs)


def test_plan_over_a_lazy_checkpoint_is_rebuilt(spark, sf_dir,
                                                probe_entry):
    """A lazy ``localCheckpoint`` runs no job at build time and carries
    no scope, so only its ``LogicalRDD`` leaf keeps the plan out of the
    memo, in the main tree or in a scalar subquery."""

    def lazy(s):
        return s.range(5).localCheckpoint(eager=False)

    def lazy_in_subquery(s):
        top = lazy(s).agg(F.max("id"))
        return s.range(8).where(F.col("id") <= top.scalar())

    for fn in (lazy, lazy_in_subquery):
        entry, calls = probe_entry(fn)
        j0 = jobs_submitted(spark)
        outs = [entry(spark, sf_dir) for _ in range(3)]
        assert jobs_submitted(spark) == j0, fn.__name__  # no build job
        assert len(calls) == 3, fn.__name__
        assert all(o.count() == 5 for o in outs)


def test_conf_change_rebuilds(spark, sf_dir, fresh_alias, probe_entry):
    entry, calls = probe_entry(lambda s: s.range(5))
    sf = fresh_alias(sf_dir)
    sql_conf = spark._jsparkSession.sessionState().conf()
    keys = ("spark.sql.ansi.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) if sql_conf.contains(k) else None
             for k in keys}
    ansi = spark.conf.get(keys[0])
    try:
        entry(spark, sf)
        entry(spark, sf)
        assert len(calls) == 1
        spark.conf.set(keys[0], "false" if ansi == "true" else "true")
        entry(spark, sf)
        assert len(calls) == 2
        spark.conf.set(keys[1], "-1")
        entry(spark, sf)
        assert len(calls) == 3
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    entry(spark, sf)  # the original confs again: their plan is served
    assert len(calls) == 3
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        entry(spark, sf)
        assert len(calls) == 4
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_build_that_changes_the_conf_is_not_stored(spark, sf_dir,
                                                   probe_entry):
    """A hit would skip the build's conf change (load_tables pinning UTC
    on a session built elsewhere), so only a build that leaves the conf
    as it found it is stored."""
    def pins_utc(s):
        s.conf.set("spark.sql.session.timeZone", "UTC")
        return s.range(5)

    entry, calls = probe_entry(pins_utc)
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        entry(spark, sf_dir)  # changes the conf: rebuilt next time
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        entry(spark, sf_dir)  # conf unchanged: stored
        entry(spark, sf_dir)
        assert len(calls) == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_plans_stay_with_their_session(spark, sf_dir, probe_entry):
    entry, calls = probe_entry(lambda s: s.range(5))
    entry(spark, sf_dir)
    other = spark.newSession()
    out = entry(other, sf_dir)
    assert len(calls) == 2 and out.sparkSession is other
    # a miss evicts the entries of every other (stopped) application
    stale = ("stopped-session", os.path.abspath(sf_dir), "q1", 0)
    registry._PLAN_MEMO[stale] = ("app-stopped-0000", None)
    probe_entry(lambda s: s.range(6))[0](spark, sf_dir)
    assert stale not in registry._PLAN_MEMO
    app = spark.sparkContext.applicationId
    assert {v[0] for v in registry._PLAN_MEMO.values()} == {app}


@pytest.mark.parametrize("name", SCAN_QUERIES + (FLAGSHIP,))
def test_hits_match_oracle(name, assert_matches_oracle):
    assert_matches_oracle(name)  # a miss, unless an earlier test built it
    assert_matches_oracle(name)  # a hit for every job-free entry
