"""The benchmark's workloads, driven through ``ReplicationEngine`` only.

Each run goes through the same phases, one after the other, so no timed
phase shares the cores with another:

1. set-up: session, seeded source tables registered with ``register_table``;
   for ``cdc_bulk`` the seeding (every snapshot row of the CDC tables as an
   insert transaction) and a backlog of large mixed commits with DDLs
   between them, written to the change feed as one file;
2. full load (timed): only the snapshotting task runs — a
   ``full-load-and-cdc`` task in ``cdc_trickle`` (snapshot, then the table
   materialized with ``overwrite``), a ``full-load`` task in ``cdc_bulk``;
   done when the consumer has seen every snapshot envelope and every table
   the task materializes exists;
3. CDC (timed): ``cdc_trickle`` commits small transactions on novels
   open-loop at a fixed rate, with an ALTER ADD COLUMN among them, into the
   running task; ``cdc_bulk`` starts its CDC task on the pre-written feed,
   drained in one micro-batch. Done when the consumer has seen every
   commit;
4. reads, with the consumer stopped: closed-loop SQL over the drained,
   static state — each CDC table's full contents (the final-state check),
   counts, the novels⋈authors join, a post-ALTER projection and key lookups
   — every answer compared with the model;
5. checks (untimed): envelopes exactly once and in commit order per shard
   and task, statistics and post-ALTER schemas equal to the model; apply
   exceptions, failed tasks, unseen commits and raising queries are failed
   operations; no streaming query or persisted RDD may outlive the run.

A phase that does not finish by the run's deadline, or a task that fails,
ends the run early: it is recorded as a failed check and what was not seen
is counted as failed.

The engine receives only generated inputs, through ``register_table`` and
``ChangeFeed.append_changes``.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import tempfile
import threading
import time
from collections import Counter
from dataclasses import dataclass

import model as M

EXCEPTIONS_TABLE = "awsdms_apply_exceptions"
SOURCE = "bench-source"
FULL_LOAD = ("full-load", "full-load-and-cdc")  # task types that snapshot
CDC = ("cdc", "full-load-and-cdc")  # task types that stream the feed


class Abort(Exception):
    """A phase did not finish: deadline passed, a task failed or the
    consumer raised. The run stops early and reports it as a failed check."""


@dataclass(frozen=True)
class Workload:
    name: str
    rows_per_table: int  # snapshot rows per source table
    shards: int  # 0 = one per core
    partition_key_type: str
    tasks: tuple[tuple[str, str, str], ...]  # (task id, table LIKE pattern, migration type)
    # tables the source changes and CDC materializes; the others are only
    # full-loaded into the stream
    cdc_tables: tuple[str, ...]
    # the closed-loop read mix over the drained state: (kind, table)
    reads: tuple[tuple[str, str | None], ...]
    # cdc_trickle: open-loop commits on novels for --seconds
    commit_rate: float = 0.0  # single-row commits per second
    ddl_every: int = 0  # one alter-table add-column in every ddl_every commits
    # cdc_bulk: the seeding, then data commits with DDLs between them,
    # written as one feed file so that one micro-batch drains them
    backlog_commits: int = 0
    backlog_rows_per_s: int = 0  # backlog rows per second of --seconds
    backlog_ddls: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="cdc_trickle",
            rows_per_table=500,
            shards=1,
            partition_key_type="schema-table",
            # the novels table of fixtures.reference_pipeline, one shard
            tasks=(("flc-task", "novels", "full-load-and-cdc"),),
            cdc_tables=("novels",),
            # ten timed reads, two of them full-table: p90 is the second
            # slowest, not the maximum of a few similar sub-second reads
            reads=(("state", "novels"), ("count", "novels"), ("projection", None),
                   ("pk_lookup", "novels"), ("count", "novels"), ("pk_lookup", "novels"),
                   ("state", "novels"), ("projection", None), ("count", "novels"),
                   ("pk_lookup", "novels")),
            # one single-row commit a second (4 in 4 s, the 4th an ALTER):
            # the first has the task's first, cold micro-batch to itself, the
            # rest share the second. Single rows keep the PK buckets a batch
            # rewrites (about 1 s each) nearly the same from seed to seed
            commit_rate=1.0,
            ddl_every=4,
        ),
        Workload(
            name="cdc_bulk",
            rows_per_table=300,
            shards=0,
            partition_key_type="primary-key",
            tasks=(("bulk-full-load", "%", "full-load"), ("bulk-cdc", "%", "cdc")),
            cdc_tables=("authors", "novels"),
            reads=(("state", "authors"), ("state", "novels"), ("join", "novels"),
                   ("projection", None), ("count", "novels"), ("pk_lookup", "novels")),
            backlog_commits=3,
            backlog_rows_per_s=240,
            backlog_ddls=2,
        ),
    )
}


def selects(pattern: str, table: str) -> bool:
    """Whether a task's table LIKE pattern (``%`` suffix only) selects a table."""
    if pattern.endswith("%"):
        return table.startswith(pattern[:-1])
    return table == pattern


class Consumer:
    """Tails every shard with ``get_shard_iterator``/``get_records`` and
    feeds the freshness book; ``poll`` is one round over the shards.

    The stream becomes readable when the sink's parquet files land in its
    record directory, so the loop lists that directory every ``WATCH_S``
    and polls as soon as a file is new. A commit is seen when the
    ``get_records`` call that returns its last envelope returns — not
    rounded up to a poll interval, and with no Spark job while nothing
    changed."""

    WATCH_S = 0.02

    def __init__(self, engine, shards: int, book: M.FreshnessBook, clock):
        self.iters = [engine.get_shard_iterator(s) for s in range(shards)]
        self.records_dir = os.path.join(engine.store.path, "records")
        self.book = book
        self.clock = clock
        self.records: list[dict] = []
        self.lock = threading.Lock()
        self._files: set[str] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.error: BaseException | None = None

    def start(self) -> None:
        self._thread.start()

    def poll(self) -> None:
        for shard, it in enumerate(self.iters):
            recs = it.get_records(limit=None)
            now = self.clock()
            with self.lock:
                for r in recs:
                    meta = r["Data"]["metadata"]
                    self.records.append(
                        {
                            "shard": shard,
                            "seq": r["SequenceNumber"],
                            "txn": meta["transaction-id"],
                            "op": meta["operation"],
                            "table": meta["table-name"],
                            "data": r["Data"]["data"],
                        }
                    )
                    if meta["transaction-id"] is not None:
                        self.book.seen(meta["transaction-id"], now)
                self.book.note_backlog()

    def _new_files(self) -> bool:
        files = {f for f in os.listdir(self.records_dir) if f.endswith(".parquet")}
        new = bool(files - self._files)
        self._files = files
        return new

    def _loop(self) -> None:
        try:
            while not self._stop.is_set():
                if self._new_files():
                    self.poll()
                else:
                    self._stop.wait(self.WATCH_S)
        except BaseException as exc:  # noqa: BLE001 — re-raised by the run
            self.error = exc

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=60)
            if self._thread.is_alive():
                raise RuntimeError("consumer thread did not stop")

    def count(self, pred) -> int:
        with self.lock:
            return sum(1 for r in self.records if pred(r))


class Reader:
    """Closed-loop SQL through ``engine.query_result`` over static state:
    each query is issued when the previous one returned; every answer is
    compared with the model.

    The first read after the writes rebuilds the engine's views
    (``engine.refresh_views``). It is checked but not timed: as one of the
    timed reads it alone set ``query_p90_s``, which then jumped between two
    levels from run to run; its cost is the traced ``query.refresh_ms``."""

    def __init__(self, engine, model: M.SourceModel, clock, seed: int, visible_column, reads):
        self.engine = engine
        self.reads = reads
        self.model = model
        self.clock = clock
        self.rng = random.Random(seed ^ 0x5EED)
        self.visible_column = visible_column
        self.results: list[dict] = []

    def _plan(self, kind: str, table: str | None):
        m = self.model
        if kind == "state":
            cols = m.columns[table]
            sql = ", ".join(f"CAST(`{c}` AS STRING) AS `{c}`" for c in cols)
            pk = M.PK[table]
            return f"SELECT {sql} FROM {table}", lambda rows: {
                int(r[pk]): r for r in rows
            } == m.rows[table]
        if kind == "count":
            return f"SELECT count(*) AS n FROM {table}", lambda rows: rows[0]["n"] == len(m.rows[table])
        if kind == "join":
            return (
                "SELECT count(*) AS n FROM novels n JOIN authors a ON n.author_id = a.author_id",
                lambda rows: rows[0]["n"] == m.join_count(),
            )
        if kind == "projection":
            table, col = self.visible_column()
            pk = M.PK[table]
            lo = self.rng.choice(sorted(m.rows[table]))
            want = {(k, r[col]) for k, r in m.rows[table].items() if lo <= k <= lo + 99}
            return (
                f"SELECT {pk}, CAST({col} AS STRING) AS v FROM {table} "
                f"WHERE {pk} BETWEEN {lo} AND {lo + 99}",
                lambda rows: {(r[pk], r["v"]) for r in rows} == want,
            )
        pk = M.PK[table]
        k = self.rng.choice(sorted(m.rows[table]))
        return f"SELECT * FROM {table} WHERE {pk} = {k}", lambda rows: len(rows) == 1

    def run(self) -> None:
        for kind, table in (("count", "novels"),) + self.reads:
            sql, correct = self._plan(kind, table)
            start = self.clock()
            ok, rows, err = True, None, None
            try:
                rows = self.engine.query_result(sql)
            except Exception as exc:  # noqa: BLE001 — a raising query is a failed operation
                ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
            self.results.append(
                {"kind": kind, "table": table, "start": start, "latency": self.clock() - start,
                 "ok": ok, "correct": ok and correct(rows), "error": err,
                 "timed": bool(self.results)}
            )

    def timed(self) -> list[dict]:
        return [r for r in self.results if r["timed"]]


class Run:
    """One benchmark run of one workload; owns the workdir, the session and
    every thread it starts."""

    def __init__(self, workload: Workload, seed: int, seconds: int, trace: bool,
                 root: str, deadline: float) -> None:
        self.w = workload
        self.deadline = deadline  # perf_counter time by which every phase must end
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.clock = time.perf_counter
        self.workdir = os.path.join(
            root, ".bench_work", f"{workload.name}-s{seed}-p{os.getpid()}"
        )
        self.problems: list[str] = []
        self.query_errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.engine = None
        self.consumer: Consumer | None = None
        self.reader: Reader | None = None
        self.tracer = None
        self.listener = None
        self.all_commits: list[dict] = []
        self.alter_cols: dict[str, tuple[str, str]] = {}
        self.gen_max_late = 0.0
        self.aborted = False
        self.loaded = False  # the full load finished

    # -- set-up ------------------------------------------------------------
    def _session(self):
        from sample_dms_kinesis_rds_mariadb_spark.session import get_session

        self.cpus = min(4, os.cpu_count() or 1)
        # every temporary file of Python, the JVMs and Spark stays in the
        # run's work directory
        local = os.path.join(self.workdir, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = local
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
        conf = {
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
        }
        if self.trace:
            # jobs are counted per job group; keep every finished job listed
            conf["spark.ui.retainedJobs"] = "1000000"
        return get_session(app_name=f"perfbench-{self.w.name}", cpus=self.cpus, extra_conf=conf)

    def _spec(self):
        from sample_dms_kinesis_rds_mariadb_spark.spec import (
            EndpointSpec, PipelineSpec, SelectionRule, TaskSettings, TaskSpec,
        )

        # as fixtures.reference_pipeline: before-images on tasks that stream
        cdc = TaskSettings(before_image=True, partition_key_type=self.w.partition_key_type)
        full = TaskSettings(partition_key_type=self.w.partition_key_type)
        ep = EndpointSpec(
            SOURCE, "memory",
            {"schema_name": M.DB, "changefeed_path": os.path.join(self.workdir, "feed")},
        )
        tasks = [
            TaskSpec(tid, SOURCE, kind, [SelectionRule(M.DB, pat)], cdc if kind in CDC else full)
            for tid, pat, kind in self.w.tasks
        ]
        return PipelineSpec(endpoints=[ep], tasks=tasks, shards=self.shards)

    def _source_frame(self, table: str, rows: list[dict]):
        """The seeded source table as a typed DataFrame: the generator's
        string rows are written as JSON lines and cast to the reference
        schema on read (JVM-side; no Python rows cross into Spark)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from sample_dms_kinesis_rds_mariadb_spark.fixtures import TABLES as REF

        schema = REF[table][0]
        path = os.path.join(self.workdir, "source", f"{table}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        raw = T.StructType([T.StructField(c, T.StringType()) for c in schema.names])
        return self.spark.read.schema(raw).json(path).select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    def setup(self) -> None:
        from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
        from sample_dms_kinesis_rds_mariadb_spark.fixtures import TABLES as REF

        shutil.rmtree(self.workdir, ignore_errors=True)
        os.makedirs(self.workdir)
        self.spark = self._session()
        self.t_session = self.clock()
        self.shards = self.w.shards or self.cpus
        for t in M.TABLES:
            if REF[t][0].names != M.COLUMNS[t]:
                raise RuntimeError(f"benchmark model of {t} is out of date with fixtures.py")
        self.gen = M.ChangeGenerator(self.seed)
        self.snapshot = self.gen.snapshot(self.w.rows_per_table)
        self.engine = ReplicationEngine(self.spark, self._spec(), os.path.join(self.workdir, "engine"))
        for t in M.TABLES:
            _, _, pk, defaults = REF[t]
            self.engine.register_table(SOURCE, M.DB, t, self._source_frame(t, self.snapshot[t]), pk, defaults)
        self.feed = self.engine.changefeed(SOURCE)
        self.book = M.FreshnessBook()
        self.consumer = Consumer(self.engine, self.shards, self.book, self.clock)
        if self.trace:
            self._install_tracing()
        # cdc_bulk, before any timer: the seeding and a backlog of large
        # mixed commits with DDLs between them, as one feed file
        if self.w.backlog_commits:
            commits = self.gen.seeding_commits(self.snapshot, self.w.cdc_tables)
            per_commit = self.w.backlog_rows_per_s * self.seconds // self.w.backlog_commits
            for i in range(self.w.backlog_commits):
                if i < self.w.backlog_ddls:
                    commits.append(self._alter(self.w.cdc_tables[i % len(self.w.cdc_tables)]))
                commits.append(self.gen.commit(max(1, per_commit), self.w.cdc_tables))
            self._commit(commits, 0.0)  # due when the CDC task starts

    def _install_tracing(self) -> None:
        from tracing import ProgressListener, Tracer

        eng = self.engine
        tr = self.tracer = Tracer(self.spark)
        tables_dir = eng.materializer.path
        seen_versions: set[str] = set()

        def new_version_bytes(_result, _args):
            total = 0
            for dirpath, _dirs, files in os.walk(tables_dir):
                if os.path.basename(dirpath).startswith("v") and dirpath not in seen_versions:
                    seen_versions.add(dirpath)
                    total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            return {"bytes": total}

        records_dir = os.path.join(eng.store.path, "records")
        record_files: set[str] = set()

        def new_record_bytes(result, _args):
            new = {f for f in os.listdir(records_dir) if f.endswith(".parquet")} - record_files
            record_files.update(new)
            return {
                "bytes": sum(os.path.getsize(os.path.join(records_dir, f)) for f in new),
                "records": result,
            }

        tr.wrap(eng.materializer, "apply_change_batch", "apply", measure=new_version_bytes)
        tr.wrap(eng.materializer, "register_view", "apply.register_view")
        # the overwrite's bucket versions are its own, not the next apply's
        tr.wrap(eng.materializer, "overwrite", "apply.overwrite", measure=new_version_bytes)
        tr.wrap(eng.store, "append_envelopes", "sink", measure=new_record_bytes)
        tr.wrap(eng.stats, "record_batch", "stats")
        tr.wrap(eng.registry, "apply_ddl", "ddl")
        tr.wrap(eng, "query", "query")
        tr.wrap(eng, "query_result", "query.result")
        tr.wrap(eng, "refresh_views", "query.refresh")
        tr.wrap(self.feed, "append_changes", "feed.append")
        for it in self.consumer.iters:
            tr.wrap(it, "get_records", "consumer.get_records",
                    measure=lambda res, _a: {"records": len(res)})
        self.listener = ProgressListener(self.spark)
        self.spark.streams.addListener(self.listener)

    # -- shared pieces ---------------------------------------------------------
    def _tasks(self, kinds: tuple[str, ...]) -> list[tuple[str, str, str]]:
        return [t for t in self.w.tasks if t[2] in kinds]

    def full_load_tables(self) -> list[str]:
        return [t for t in M.TABLES if any(selects(pat, t) for _, pat, _ in self._tasks(FULL_LOAD))]

    def overwritten_tables(self) -> list[str]:
        """Tables a full-load-and-cdc task materializes after its snapshot."""
        return [
            t for t in M.TABLES
            if any(selects(pat, t) for _, pat, _ in self._tasks(("full-load-and-cdc",)))
        ]

    def _snapshot_envelopes(self) -> int:
        """Rows plus drop-table and create-table per full-loaded table."""
        return (self.w.rows_per_table + 2) * len(self.full_load_tables())

    def _is_snapshot(self, r: dict) -> bool:
        return r["txn"] is None and r["table"] != EXCEPTIONS_TABLE

    def _full_load_done(self) -> bool:
        return self.consumer.count(self._is_snapshot) >= self._snapshot_envelopes() and all(
            self.engine.materializer.exists(M.DB, t) for t in self.overwritten_tables()
        )

    def _cdc_idle(self) -> bool:
        queries = self.spark.streams.active
        return bool(queries) and all(
            q.status["message"] == "Waiting for data to arrive" for q in queries
        )

    def _commit(self, txns: list[list[dict]], due: float) -> None:
        """Write transactions, each due at ``due``, as one feed file."""
        for changes in txns:
            txn = changes[0]["txn_id"]
            self.book.committed(txn, due, len(changes))
            self.all_commits.append({"txn": txn, "changes": changes})
        self.feed.append_changes([c for changes in txns for c in changes])

    def _alter(self, table: str) -> list[dict]:
        changes = self.gen.alter(table)
        c = changes[0]
        self.alter_cols[c["txn_id"]] = (c["table"], c["ddl"]["column"])
        return changes

    def _latest_visible_column(self) -> tuple[str, str]:
        """The newest added column whose ALTER the consumer has seen."""
        best = None
        for txn, (table, col) in self.alter_cols.items():
            if txn in self.book.visible and (best is None or M.txn_number(txn) > best[0]):
                best = (M.txn_number(txn), table, col)
        return ("novels", "page_count") if best is None else (best[1], best[2])

    def _wait(self, done, what: str) -> None:
        while not done():
            if self.clock() > self.deadline:
                raise Abort(f"{what} did not finish by the run's deadline")
            for tid, _, _ in self.w.tasks:
                if self.engine.task_status(tid) == "failed":
                    raise Abort(f"task {tid} failed during {what}: {self.engine.tasks[tid].error}")
            if self.consumer.error is not None:
                err = self.consumer.error
                raise Abort(f"consumer raised during {what}: {type(err).__name__}: {err}"[:500])
            time.sleep(0.02)

    def _gc(self) -> int:
        from tracing import gc_ms

        return gc_ms(self.spark)

    def timed_rows(self) -> int:
        """Row changes of every commit (all are timed), DDLs excluded."""
        return sum(
            len(c["changes"]) for c in self.all_commits if c["changes"][0]["op"] != "alter-table"
        )

    def _trickle_plan(self) -> list[bool]:
        """Whether each commit due in ``--seconds`` is an ALTER ADD COLUMN,
        in order: the 4th of every ``ddl_every`` commits is, so it lands
        inside a micro-batch; the others change one row each."""
        n = math.ceil(self.seconds * self.w.commit_rate)
        return [i % self.w.ddl_every == 3 for i in range(n)]

    # -- the run -------------------------------------------------------------------
    def run(self) -> None:
        """The timed phases, then the reads; an ``Abort`` ends the run early
        as a failed check (counted by ``check``)."""
        try:
            self._run()
        except Abort as exc:
            self.aborted = True
            self._problem(f"run ended early: {exc}")

    def _run(self) -> None:
        self.gc0 = self._gc()
        self.t_start = self.clock()
        self.consumer.start()
        self._full_load_phase()
        self._cdc_phase()
        self.gc1 = self._gc()
        # the reads run with nothing else polling the stream
        self.consumer.stop()
        self.t_reads0 = self.clock()
        self.reader = Reader(self.engine, self.gen.model, self.clock, self.seed,
                             self._latest_visible_column, self.w.reads)
        self.reader.run()

    def _full_load_phase(self) -> None:
        self.t_full0 = self.clock()
        for tid, _, _ in self._tasks(FULL_LOAD):
            self.engine.start_task(tid)
        self._wait(self._full_load_done, "full load")
        self.t_full1 = self.clock()
        self.loaded = True

    def _cdc_phase(self) -> None:
        self.t_cdc0 = start = self.clock()
        # cdc_bulk: the CDC task starts only now, on the pre-written feed;
        # every commit in it is due at the start
        for txn in self.book.due:
            self.book.due[txn] = start
        for tid, _, _ in self._tasks(("cdc",)):
            self.engine.start_task(tid)
        if self.w.commit_rate:
            # cdc_trickle: commit into a running query, not one still
            # starting up: wait, untimed, until the task's streaming query
            # idles between triggers
            self._wait(self._cdc_idle, "CDC query start")
            self.t_cdc0 = start = self.clock()
            for n, alter in enumerate(self._trickle_plan()):
                due = start + n / self.w.commit_rate
                delay = due - self.clock()
                if delay > 0:
                    time.sleep(delay)
                self.gen_max_late = max(self.gen_max_late, self.clock() - due)
                if alter:
                    changes = self._alter(self.w.cdc_tables[0])
                else:
                    changes = self.gen.commit(1, self.w.cdc_tables)
                self._commit([changes], due)
        self._wait(self.book.all_visible, "CDC")
        self.t_cdc1 = self.clock()

    # -- checks ---------------------------------------------------------------------
    def _problem(self, msg: str) -> None:
        self.problems.append(msg)

    def check(self) -> None:
        """Count attempted and failed operations and run every check; an
        aborted run is checked as far as it got."""
        eng = self.engine
        model = self.gen.model
        reads = self.reader.results if self.reader is not None else []
        self.attempted += len(self.all_commits) + len(reads) + len(self.full_load_tables())
        if not self.loaded:
            self.failed += len(self.full_load_tables())
        missing = self.book.missing()
        self.failed += len(missing)
        if missing:
            self._problem(f"{len(missing)} commit(s) never visible, e.g. {missing[:3]}")
        self.query_errors = [r["error"] for r in reads if not r["ok"]]
        self.failed += len(self.query_errors)
        if self.query_errors:
            self._problem(f"reads over static state raised: {self.query_errors[0]}")
        wrong = [(r["kind"], r["table"]) for r in reads if r["ok"] and not r["correct"]]
        if wrong:
            self._problem(f"reads over static state disagree with the model: {wrong}")
        for tid, _, _ in self.w.tasks:
            if eng.task_status(tid) == "failed":
                self.failed += 1
                self._problem(f"task {tid} failed: {eng.tasks[tid].error}")
        if eng.materializer.exists(M.DB, EXCEPTIONS_TABLE):
            n_exc = eng.query_result(f"SELECT count(*) AS n FROM {EXCEPTIONS_TABLE}")[0]["n"]
            self.failed += n_exc
            if n_exc:
                self._problem(f"{n_exc} row(s) in {EXCEPTIONS_TABLE}")
        if self.aborted:
            return  # the state is not final: the remaining checks do not apply
        self._check_envelopes()
        for t in M.TABLES:
            if (t in self.w.cdc_tables) != eng.materializer.exists(M.DB, t):
                self._problem(f"{t}: materialized is {eng.materializer.exists(M.DB, t)}")
            fields = [d["Field"] for d in eng.describe_table(M.DB, t)]
            if fields != model.columns[t]:
                self._problem(f"{t}: describe_table columns {fields} != {model.columns[t]}")
        for tid, pat, kind in self.w.tasks:
            stats = {s["TableName"]: s for s in eng.describe_table_statistics(tid)}
            for t in M.TABLES:
                if not selects(pat, t):
                    continue
                want = model.expected_statistics(t, full_load=kind in FULL_LOAD, cdc=kind in CDC)
                got = {k: stats.get(t, {}).get(k, 0) for k in want}
                if got != want:
                    self._problem(f"{tid}/{t}: statistics {got} != {want}")

    def _check_envelopes(self) -> None:
        self.consumer.poll()  # anything appended after the last commit became visible
        records = self.consumer.records
        mine = lambda r: r["txn"] is not None and r["txn"].startswith(f"txn-{self.seed}-")  # noqa: E731
        want = Counter()
        for c in self.all_commits:
            want += M.expected_envelopes(c["changes"])
        got, loads, controls = Counter(), Counter(), Counter()
        for r in records:
            if mine(r):
                pk = None if r["op"] == "alter-table" else r["data"][M.PK[r["table"]]]
                got[(r["txn"], r["op"], r["table"], pk)] += 1
            elif r["op"] == "load":
                loads[r["table"]] += 1
            else:
                controls[(r["op"], r["table"])] += 1
        if got != want:
            lost, extra = want - got, got - want
            self._problem(
                f"CDC envelopes differ: {sum(lost.values())} missing, {sum(extra.values())} "
                f"unexpected, e.g. {list(lost)[:2]} {list(extra)[:2]}"
            )
        want_loads = dict.fromkeys(self.full_load_tables(), self.w.rows_per_table)
        if dict(loads) != want_loads:
            self._problem(f"full-load envelopes {dict(loads)} != {want_loads}")
        want_controls = Counter(
            {(op, t): 1 for t in self.full_load_tables() for op in ("drop-table", "create-table")}
        )
        want_controls[("create-table", EXCEPTIONS_TABLE)] = len(self._tasks(CDC))
        if controls != want_controls:
            self._problem(f"control envelopes {dict(controls)} != {dict(want_controls)}")
        if len(records) != sum(want_controls.values()) + sum(want_loads.values()) + sum(want.values()):
            self._problem(f"stream holds {len(records)} envelopes")
        by_shard: dict[int, list[dict]] = {}
        for r in records:
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, recs in by_shard.items():
            seqs = [r["seq"] for r in recs]
            if seqs != sorted(set(seqs)):
                self._problem(f"shard {shard}: sequence numbers not strictly increasing")
            # each task is its own stream: commit order holds per task
            for tid, pat, _ in self.w.tasks:
                order = [M.txn_number(r["txn"]) for r in recs if mine(r) and selects(pat, r["table"])]
                if order != sorted(order):
                    self._problem(f"shard {shard}: {tid} envelopes out of commit order")
            if self.shards == 1:
                for t in self.full_load_tables():
                    ops = [r["op"] for r in recs if r["table"] == t and not mine(r)]
                    if ops[:2] != ["drop-table", "create-table"]:
                        self._problem(f"{t}: full-load controls do not lead its rows")

    # -- metrics ----------------------------------------------------------------------
    def end_to_end(self) -> dict:
        fresh = self.book.freshness()
        lat = [r["latency"] for r in self.reader.timed()]
        return {
            "setup_s": self.setup_s,
            "freshness_p50_s": M.percentile(fresh, 50),
            "freshness_p80_s": M.percentile(fresh, 80),
            "query_p50_s": M.percentile(lat, 50),
            "query_p90_s": M.percentile(lat, 90),
            "cdc_rows_per_s": self.timed_rows() / (self.t_cdc1 - self.t_cdc0),
            "full_load_rows_per_s": self.w.rows_per_table * len(self.full_load_tables())
            / (self.t_full1 - self.t_full0),
        }

    def info(self) -> dict:
        fresh = self.book.freshness()
        reads = self.reader.timed() if self.reader is not None else []
        return {
            "workload": self.w.name,
            "seed": self.seed,
            "timed_commits": len(fresh),
            "freshness_p80_samples_beyond": M.samples_beyond(len(fresh), 80),
            "freshness_supported_percentile": M.supported_percentile(len(fresh)),
            "queries": len(reads),
            "query_p90_samples_beyond": M.samples_beyond(len(reads), 90),
            "query_errors": self.query_errors,
            "freshness_s": fresh,
            "generator_max_late_s": self.gen_max_late,
            "backlog_commits_max": self.book.backlog_max,
        }

    # -- teardown -----------------------------------------------------------------------
    def teardown(self) -> None:
        """Stop every task, thread and the session; no query or cached data
        may outlive the run."""
        try:
            if self.consumer is not None:
                self.consumer.stop()
            if self.engine is not None:
                for tid in self.engine.tasks:
                    self.engine.stop_task(tid)
            if self.spark is not None:
                if self.listener is not None:
                    self.spark.streams.removeListener(self.listener)
                if self.spark.streams.active:
                    self._problem(f"{len(self.spark.streams.active)} streaming queries still active")
                persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
                if persisted:
                    self._problem(f"{persisted} persisted RDD(s) remain")
        finally:
            if self.spark is not None:
                stop_session(self.spark)
            shutil.rmtree(self.workdir, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — it did not; kill it
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
