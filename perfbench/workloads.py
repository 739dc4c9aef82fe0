"""The benchmark's workloads: what one pass runs, and how its outputs
are checked.

Every call into the program goes through ``Bench``, which times it,
charges it to a span, and checks what it produced.  A pass is a fixed
list of operations (one query, the CSV ingest, or one sink write);
``attempted`` and ``failed`` count those operations.

The first pass of a run is the correctness pass: each output is
collected (or read back from its sink) and compared, order-insensitively,
with its DuckDB oracle.  Every later pass runs the same operations to
the noop sink or the real sinks and checks them from the status store
instead: no SQL execution may record an error, and where the plan's top
node counts its output rows, they must equal the oracle's row count.
The parquet and Derby sinks must hold the oracle's row count.
"""

from __future__ import annotations

import contextlib
import os
import pickle
import shutil
import sys
import time
from collections import Counter

from spans import (
    SQL_METRICS, drain_listener_bus, execution_count, executions,
    job_group_counts, log)

ROLLUP = "rollup_contest_county"
CSV_INGEST = "csv_ingest"
DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DERBY_TABLE = "ROLLUP_SINK"

# Executor-bound queries: TPC-H scan/aggregate, join top-k and the
# correlated q21, a window, the text dedup shuffles and hybrid search
# (consumers of the widening exchange), and the Arrow/mapInPandas
# covariance kernel.  dedup_minhash_lsh also builds an eager checkpoint.
SCAN_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority",
    "q21_suppliers_kept_waiting", "window_rank_orders", "dedup_minhash_lsh",
    "dedup_cdc_chunks", "search_rrf_hybrid", "embedding_covariance",
)

# Tables each workload loads at set-up (and whose rows it reads).
TABLES = {
    "ingest_sink": ("lineitem", "supplier", "nation"),
    "scan_shuffle": ("region", "nation", "customer", "supplier", "orders",
                     "lineitem", "documents", "embeddings"),
}


# ---------------------------------------------------------------- inputs

def make_corpus(seed: int, pinned: str, work: str) -> tuple[str, str]:
    """(tag, directory) of the seed's input tables.  Seed 0 is the
    pinned corpus; seed n > 0 is lottery draw ((n - 1) % 9) + 1 of it,
    generated once into the work directory."""
    if seed == 0:
        return "seed0", pinned
    from tools.gen_lottery_corpus import DRAWS, generate
    draw = (seed - 1) % len(DRAWS) + 1
    tag = f"draw{draw}"
    out = os.path.join(work, "corpus", tag)
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            generate(pinned, tmp, draw)
        os.replace(tmp, out)
    return tag, out


def stage_csv(spark, corpus: str, out: str) -> str:
    """The election-results CSV the ingest reads, made from the corpus
    with the program's own contest_precinct frame (once per corpus)."""
    if os.path.isdir(out):
        return out
    from pyspark.sql import functions as F
    from results_ingestor_spark.operators.election import (
        contest_precinct_frame)
    cols = {"contest_name": "Contest Name", "county": "County Name",
            "precinct": "Precinct", "candidate": "Choice",
            "party_candidate": "Choice Party",
            "election_day": "Election Day", "one_stop": "One Stop",
            "absentee_by_mail": "Absentee by Mail",
            "provisional": "Provisional", "total_votes": "Total Votes",
            "winner_flag": "Winner"}
    frame = contest_precinct_frame(spark, corpus).select(
        [F.col(c).alias(a) for c, a in cols.items()])
    tmp = f"{out}.tmp{os.getpid()}"
    frame.coalesce(4).write.mode("overwrite").option(
        "header", "true").csv(tmp)
    for f in os.listdir(tmp):  # keep only the part-*.csv files
        if not f.endswith(".csv"):
            os.remove(os.path.join(tmp, f))
    os.replace(tmp, out)
    return out


def table_rows(corpus: str, names) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(corpus, f"{n}.parquet"))
               .metadata.num_rows for n in names)


def row_multiset(cols, rows) -> Counter:
    """Rows as a multiset of canonical tuples, columns in name order:
    the order-insensitive, type-tagged, exact cell comparison of
    tools/check_correctness.py."""
    from tools.check_correctness import _canon
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def oracle_answer(name: str, corpus: str, cache_dir: str):
    """(sorted column names, canonical row multiset) of a query's
    DuckDB oracle on the corpus, cached per corpus."""
    path = os.path.join(cache_dir, f"{name}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import duckdb
    from results_ingestor_spark.plans import ORACLES
    from results_ingestor_spark.sources.tables import TABLE_NAMES
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{corpus}/{t}.parquet')")
    rel = con.sql(ORACLES[name])
    cols = rel.columns
    ans = (sorted(cols), row_multiset(cols, rel.fetchall()))
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(ans, f)
    os.replace(tmp, path)
    return ans


def csv_answer(csv_dir: str) -> tuple[int, int]:
    """(rows, total votes) of the staged CSV, read by DuckDB."""
    import duckdb
    con = duckdb.connect()
    n, votes = con.sql(
        f"SELECT count(*), sum(\"Total Votes\")::BIGINT FROM read_csv("
        f"'{csv_dir}/*.csv', header=true)").fetchone()
    con.close()
    return int(n), int(votes)


# ----------------------------------------------------------------- bench

class Bench:
    """Runs one workload's passes against a live session."""

    def __init__(self, spark, workload: str, corpus: str, tag: str,
                 work: str, tracer, cpus: int):
        self.spark = spark
        self.workload = workload
        self.corpus = corpus
        self.tag = tag
        self.work = work
        self.tracer = tracer
        self.cpus = cpus
        self.attempted = 0
        self.failed_ops: set[tuple[int, str]] = set()
        self.pass_no = 0
        self.parquet_dir = os.path.join(work, "sink", f"{workload}.parquet")
        self.csv_dir = None
        self.csv_expect = None
        self._answers: dict = {}  # query → oracle answer, read once
        self._groups: list[tuple[str, str]] = []
        self._executions: list[tuple[str, int, int, int | None]] = []
        self.counts: dict[str, float] = {}  # this pass's layer counts
        self.pass_times: dict[int, float] = {}
        self.pass_counts: dict[int, dict[str, float]] = {}
        self.op_times: dict[int, dict[str, float]] = {}  # pass → op → s

    # -- bookkeeping
    def _fail(self, op: str, why: str) -> None:
        self.failed_ops.add((self.pass_no, op))
        log(f"FAIL pass {self.pass_no} {op}: {why}")

    def _group(self, phase: str, query: str) -> None:
        if self.tracer.enabled:
            gid = f"perfbench-{self.pass_no}-{query}-{phase}"
            self.spark.sparkContext.setJobGroup(gid, gid)
            self._groups.append((phase, gid))

    def _count(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + v

    # -- calls into the program
    def build(self, query: str, fn):
        self._group("build", query)
        with self.tracer.span("build", self.pass_no, query):
            return fn()

    def execute(self, query: str, df, write=None, span="exec",
                target=None, expect_rows=None):
        """Run ``write`` (default: the noop sink) on ``df``; returns what
        it returned.  Traced passes run it through
        metrics.execution_metrics, inside a "status" span, and add up
        the executed plan's metrics.  Every pass records the SQL
        executions it made so their status can be checked once the pass
        clock has stopped."""
        from results_ingestor_spark.metrics import execution_metrics
        self._group(span, query)
        box = {}

        def action(d):
            with self.tracer.span(span, self.pass_no, query) as rec:
                if rec is not None and target:
                    rec["target"] = target
                if write is None:
                    d.write.format("noop").mode("overwrite").save()
                else:
                    box["out"] = write(d)
            drain_listener_bus(self.spark)

        drain_listener_bus(self.spark)
        first = execution_count(self.spark)
        if self.tracer.enabled:
            with self.tracer.span("status", self.pass_no, query):
                m = execution_metrics(df, action)
            for k, layer in SQL_METRICS.items():
                self._count(layer, m.get(k, 0.0))
        else:
            action(df)
        self._executions.append(
            (f"{query}:{target}" if target else query, first,
             execution_count(self.spark), expect_rows))
        return box.get("out")

    def _check_executions(self) -> None:
        """No SQL execution of the pass recorded an error, and
        each write's output rows, as the status store counted them,
        equal the expected rows."""
        for op, first, stop, expect in self._executions:
            n, ok, rows = executions(self.spark, first, stop)
            if not n:
                self._fail(op, "no SQL execution recorded")
            elif not ok:
                self._fail(op, "a SQL execution recorded an error")
            elif expect is not None and rows not in (None, expect):
                self._fail(op, f"status store counted {rows} output rows, "
                               f"expected {expect}")

    def release(self, query: str, df) -> None:
        from results_ingestor_spark.operators.ckpt import release_result
        with self.tracer.span("release", self.pass_no, query):
            release_result(df)

    # -- passes
    def run_pass(self, verify: bool) -> float:
        """One pass; returns its wall time.  Checks that need the
        outputs read back run after the clock stops."""
        self._groups = []
        self._executions = []
        self.counts = {}
        after = []
        t0 = time.perf_counter()
        with self.tracer.span("pass", self.pass_no):
            if self.workload == "scan_shuffle":
                ops = [(q, lambda v, q=q: self._query_op(q, v))
                       for q in SCAN_QUERIES]
            else:
                ops = [(CSV_INGEST, self._ingest_op),
                       (ROLLUP, self._rollup_sinks_op)]
            times = self.op_times[self.pass_no] = {}
            for name, op in ops:
                tq = time.perf_counter()
                after += op(verify) or []
                times[name] = time.perf_counter() - tq
        wall = time.perf_counter() - t0
        drain_listener_bus(self.spark)
        if not verify:
            self._check_executions()
        for check in after:
            check()
        if self.tracer.enabled:
            drain_listener_bus(self.spark)
            for phase, gid in self._groups:
                jobs, stages, tasks = job_group_counts(
                    self.spark.sparkContext, gid)
                if phase == "build":
                    self._count("plans.build_jobs", jobs)
                    self._count("plans.build_tasks", tasks)
                else:
                    self._count("spark.jobs", jobs)
                    self._count("spark.stages", stages)
                    self._count("spark.tasks", tasks)
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None)
        return wall

    def _query_op(self, q: str, verify: bool) -> None:
        from results_ingestor_spark.plans import QUERIES
        self.attempted += 1
        try:
            df = self.build(q, lambda: QUERIES[q](self.spark, self.corpus))
            if verify:
                rows = self.execute(q, df, write=lambda d: d.collect())
                self._check_oracle(q, df.columns, rows)
            else:
                self.execute(q, df, expect_rows=self._answer(q)[1].total())
            self.release(q, df)
        except Exception as ex:  # an operation that fails counts as failed
            self._fail(q, f"{type(ex).__name__}: {ex}")

    def _answer(self, q: str):
        if q not in self._answers:
            self._answers[q] = oracle_answer(
                q, self.corpus, os.path.join(self.work, "oracle", self.tag))
        return self._answers[q]

    def _check_oracle(self, q: str, cols, rows) -> None:
        want_cols, want = self._answer(q)
        if sorted(cols) != want_cols:
            self._fail(q, f"columns {sorted(cols)} != oracle {want_cols}")
        elif row_multiset(cols, rows) != want:
            self._fail(q, f"{len(rows)} rows differ from the oracle's "
                          f"{want.total()}")

    def _ingest_op(self, verify: bool) -> None:
        import pyarrow.compute as pc
        from results_ingestor_spark.operators.ingest import (
            ingest_result_files)
        self.attempted += 1
        try:
            df = self.build(CSV_INGEST, lambda: ingest_result_files(
                self.spark, self.csv_dir))
            if verify:
                out = self.execute(CSV_INGEST, df, write=lambda d: d.toArrow())
                got = (out.num_rows,
                       pc.sum(out.column("total_votes")).as_py() or 0)
                if got != self.csv_expect:
                    self._fail(CSV_INGEST, f"(rows, votes) {got} != "
                                           f"{self.csv_expect}")
            else:
                self.execute(CSV_INGEST, df, expect_rows=self.csv_expect[0])
            self.release(CSV_INGEST, df)
        except Exception as ex:
            self._fail(CSV_INGEST, f"{type(ex).__name__}: {ex}")

    def _rollup_sinks_op(self, verify: bool) -> list:
        """The rollup, written to parquet and to Derby; returns the
        checks that read the sinks back."""
        from results_ingestor_spark.plans import QUERIES
        from results_ingestor_spark.sources.jdbc_sink import (
            write_jdbc_append, write_parquet)
        after = []
        self.attempted += 2
        try:
            df = self.build(ROLLUP, lambda: QUERIES[ROLLUP](
                self.spark, self.corpus))
        except Exception as ex:  # neither sink write can run
            for target in ("parquet", "jdbc"):
                self._fail(f"{ROLLUP}:{target}", f"{type(ex).__name__}: {ex}")
            return after
        sinks = (
            ("parquet", lambda d: write_parquet(d, self.parquet_dir),
             self._parquet_check),
            ("jdbc", lambda d: write_jdbc_append(
                d, DERBY_URL, DERBY_TABLE, driver=DERBY_DRIVER,
                num_partitions=self.cpus), self._jdbc_check))
        for target, write, check in sinks:
            op = f"{ROLLUP}:{target}"
            try:
                self.execute(ROLLUP, df, write=write, span="sink",
                             target=target)
                after.append(lambda op=op, check=check: check(op, verify))
            except Exception as ex:
                self._fail(op, f"{type(ex).__name__}: {ex}")
        try:
            self.release(ROLLUP, df)
        except Exception as ex:
            self._fail(f"{ROLLUP}:jdbc", f"release: {type(ex).__name__}: {ex}")
        return after

    def _parquet_check(self, op: str, verify: bool) -> None:
        """The parquet sink holds the oracle's rows (all of them on the
        correctness pass, their count on timed passes)."""
        import duckdb
        con = duckdb.connect()
        try:
            src = f"read_parquet('{self.parquet_dir}/*.parquet')"
            want_cols, want = self._answer(ROLLUP)
            if verify:
                rel = con.sql(f"SELECT * FROM {src}")
                cols = rel.columns
                if (sorted(cols) != want_cols
                        or row_multiset(cols, rel.fetchall()) != want):
                    self._fail(op, "parquet sink differs from the oracle")
                n = want.total()
            else:
                n = con.sql(f"SELECT count(*) FROM {src}").fetchone()[0]
                if n != want.total():
                    self._fail(op, f"parquet sink holds {n} rows, "
                                   f"oracle {want.total()}")
            self._count("sources.rows_written", n)
        except Exception as ex:
            self._fail(op, f"{type(ex).__name__}: {ex}")
        finally:
            con.close()

    def _jdbc_check(self, op: str, verify: bool) -> None:
        """The Derby table holds the oracle's row count; it is dropped
        so every pass appends into an empty table."""
        jvm = self.spark.sparkContext._jvm
        try:
            conn = jvm.java.sql.DriverManager.getConnection(DERBY_URL)
            try:
                st = conn.createStatement()
                rs = st.executeQuery(f"SELECT COUNT(*) FROM {DERBY_TABLE}")
                rs.next()
                n = rs.getLong(1)
                st.execute(f"DROP TABLE {DERBY_TABLE}")
            finally:
                conn.close()
            want = self._answer(ROLLUP)[1].total()
            if n != want:
                self._fail(op, f"Derby table holds {n} rows, oracle {want}")
            self._count("sources.rows_written", n)
        except Exception as ex:
            self._fail(op, f"{type(ex).__name__}: {ex}")
