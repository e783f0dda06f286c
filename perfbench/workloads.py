"""The benchmark's workloads: set-up, one op, and the check of its output.

Each workload is a closed loop with one client: the next op starts when
the previous one returned. An op's output is checked after its clock
stops; a wrong output counts the op as failed.

- ``report_closed_loop``: requests over the landed tables of a seeded
  workspace, each one of the two budget reports or an ad-hoc SQL aggregate
  over a seeded date window (read-heavy; every report shares the task
  hierarchy). A traced run also makes the full ELT run over the
  workspace, ``run_pipeline`` landing all five datasets as parquet
  (write-heavy; dimension enrichment runs the recursive breadcrumb walks).
- ``report_sql``: the same client and tables with the ad-hoc SQL
  aggregates only, which never reach the task hierarchy. A traced run also
  makes one `CurationBatch`: ``curate.curate`` over a corpus with planted
  exact and near duplicates, written as parquet (Spark-side text,
  MinHash-LSH and graph kernels the reports bypass).
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from good_enough_timecamp_data_pipeline_spark import curate, sqlrunner
from good_enough_timecamp_data_pipeline_spark.plans import reports
from good_enough_timecamp_data_pipeline_spark.sources import io, schemas
from good_enough_timecamp_data_pipeline_spark.sources.pipeline import DATASETS, run_pipeline

from corpus import make_corpus
from workspace import WorkspaceTransport, make_workspace, write_fact_entries


@dataclass
class OpResult:
    kind: str
    seconds: float
    #: rows of input the op processed (facts aggregated, docs, landed rows)
    rows: int = 0
    #: bytes and rows the op wrote, for bytes per row
    bytes_written: int = 0
    rows_written: int = 0
    error: str | None = None
    wrong: str | None = None
    #: per-layer counts the op's inputs report (client requests and retries)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or self.wrong is not None


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def check_landed(con, ws, out_dir: str, names) -> str | None:
    """The tables ``names`` under ``out_dir`` against the generator: every
    row of tasks, users and entries, and the row count of any other table."""
    for name in names:
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            return f"{name}: not landed"
        if name in ws.tables:
            got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()
            if Counter(got) != Counter(ws.tables[name]):
                missing = Counter(ws.tables[name]) - Counter(got)
                return (f"{name}: {len(got)} rows landed, {len(ws.tables[name])} expected; "
                        f"e.g. missing {next(iter(missing), None)!r}")
        else:
            got = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
            if got != ws.expected_rows[name]:
                return f"{name}: {got} rows landed, {ws.expected_rows[name]} expected"
    return None


class Workload:
    name = ""
    #: ops a measured phase runs at the least: the latencies are medians
    #: over the same number of samples in a slow run as in a fast one
    MIN_OPS = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        #: a `tracing.Tracer` during the traced phase of a run
        self.tracer = None

    @contextmanager
    def clock(self, r: OpResult):
        """Time the op's own work into ``r.seconds``; an exception ends
        the op as failed, and the run goes on."""
        span = self.tracer.span(f"op.{r.kind}") if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                yield
        except Exception as e:  # noqa: BLE001 - any raising op is a failed op
            r.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        finally:
            r.seconds = time.perf_counter() - t0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> list[OpResult]:
        """Ops run before timing starts; counted in the set-up time."""
        raise NotImplementedError

    def op(self) -> OpResult:
        raise NotImplementedError

    def at_block_end(self) -> bool:
        """Whether a measured phase may stop after the last op."""
        return True

    def traced_extra(self) -> OpResult | None:
        """One more op a traced run makes, for layers the workload's own
        ops do not reach."""
        return None

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# report closed loop
# ---------------------------------------------------------------------------

_CLOSURE = """
t AS (SELECT task_id, parent_id, name, budgeted FROM tasks),
closure(descendant_id, ancestor_id, depth) AS (
    SELECT task_id, task_id, 0 FROM t
    UNION ALL
    SELECT c.descendant_id, t.parent_id, c.depth + 1
    FROM closure c JOIN t ON c.ancestor_id = t.task_id
    WHERE t.parent_id IS NOT NULL AND c.depth < 8
)"""

PROJECT_ORACLE = f"""
WITH RECURSIVE {_CLOSURE},
projects AS (SELECT task_id AS project_id, name AS project_name FROM t WHERE parent_id IS NULL),
pd AS (SELECT p.project_id, c.descendant_id FROM projects p
       JOIN closure c ON c.ancestor_id = p.project_id),
tracked AS (SELECT pd.project_id, SUM(e.duration) AS s FROM entries e
            JOIN pd ON e.task_id = pd.descendant_id
            WHERE e.date BETWEEN $lo AND $hi GROUP BY 1),
budget AS (SELECT pd.project_id, SUM(t.budgeted) AS b FROM t
           JOIN pd ON t.task_id = pd.descendant_id GROUP BY 1)
SELECT p.project_id, p.project_name, COALESCE(tr.s, 0) AS cum, COALESCE(b.b, 0) AS bud
FROM projects p LEFT JOIN tracked tr USING (project_id) LEFT JOIN budget b USING (project_id)
ORDER BY cum DESC, p.project_id
"""

TASK_ORACLE = f"""
WITH RECURSIVE {_CLOSURE},
crumbs AS (SELECT c.descendant_id, string_agg(t.name, ' / ' ORDER BY c.depth DESC) AS crumb
           FROM closure c JOIN t ON c.ancestor_id = t.task_id GROUP BY 1),
tracked AS (SELECT c.ancestor_id, SUM(e.duration) AS s FROM entries e
            JOIN closure c ON e.task_id = c.descendant_id
            WHERE e.date BETWEEN $lo AND $hi GROUP BY 1)
SELECT t.task_id, t.name, cr.crumb, t.budgeted, COALESCE(tr.s, 0) AS cum
FROM t LEFT JOIN tracked tr ON t.task_id = tr.ancestor_id
LEFT JOIN crumbs cr ON cr.descendant_id = t.task_id
WHERE t.budgeted > 0
ORDER BY cum DESC, t.task_id
"""

# ad-hoc aggregates an analyst runs beside the reports; {lo}/{hi} are dates
SQL_TEMPLATES = (
    """SELECT u.group_name AS group_name, COUNT(*) AS n_entries,
              COUNT(DISTINCT e.user_id) AS n_users, SUM(e.duration) AS seconds
       FROM entries e JOIN users u ON e.user_id = u.user_id
       WHERE e.date BETWEEN DATE '{lo}' AND DATE '{hi}'
       GROUP BY u.group_name ORDER BY seconds DESC, group_name""",
    """SELECT t.task_level_1 AS project, COUNT(*) AS n_entries, SUM(e.duration) AS seconds
       FROM entries e JOIN tasks t ON e.task_id = t.task_id
       WHERE e.date BETWEEN DATE '{lo}' AND DATE '{hi}'
       GROUP BY t.task_level_1 ORDER BY seconds DESC, project""",
)


def _hm(s: int) -> str:
    return f"{s // 3600}h {s % 3600 // 60:02d}m"


def _hm_signed(s: int) -> str:
    return "-" + _hm(-s) if s < 0 else _hm(s)


def _hours(s: int) -> str:
    return "%.4f" % (s / 3600.0)


class ReportClosedLoop(Workload):
    name = "report_closed_loop"
    KINDS = ("task_budget", "project_budget", "sql")
    #: the workspace the ELT run lands in a traced run; its tasks and users
    #: are the report's hierarchy dimensions
    SIZE = dict(n_tasks=3000, n_users=400, n_entries=30_000, n_activities=4_000, n_apps=200)
    #: rows of the report's fact table
    N_FACTS = 1_000_000
    WINDOW_DAYS = 28
    #: a fresh JVM answers these requests faster block after block: on a
    #: 4-core VM, after one warm-up block the next take 7.5, 6, 5.5 and 5 s
    WARMUP_BLOCKS = 2
    #: three blocks, so every kind has a median of three
    MIN_OPS = 3 * len(KINDS)
    #: the warm-up runs the costliest kind first (the last one)
    WARMUP_ORDER = ("sql", "task_budget", "project_budget")

    def setup(self) -> None:
        """Land the report's tables: the generator's tasks and users with
        the program's table writer, checked, and `N_FACTS` entries over
        them written straight as parquet. The generator's rows reach the
        writer as a parquet file, which a cold session reads seconds
        faster than it builds a DataFrame from Python rows."""
        self.ws = make_workspace(self.seed, **self.SIZE)
        self.land = os.path.join(self.work, "landed")
        for name in ("tasks", "users"):
            schema = schemas.TABLE_SCHEMAS[name]
            staged = os.path.join(self.work, "generated", name)
            os.makedirs(staged)
            rows = [dict(zip(schema.names, row)) for row in self.ws.tables[name]]
            pq.write_table(pa.Table.from_pylist(rows, to_arrow_schema(schema)),
                           os.path.join(staged, "part-0.parquet"))
            io.write_table(self.spark.read.schema(schema).parquet(staged), self.land, name)
        # bytes per row of what the program wrote
        self.landed_bytes = parquet_bytes(self.land)[0]
        self.landed_rows = len(self.ws.tables["tasks"]) + len(self.ws.tables["users"])
        self.con = duckdb.connect()
        write_fact_entries(self.con, self.ws, self.N_FACTS, os.path.join(self.land, "entries"))
        for t in ("tasks", "users", "entries"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{self.land}/{t}/*.parquet')")
        wrong = check_landed(self.con, self.ws, self.land, ("tasks", "users"))
        if wrong is not None:
            raise RuntimeError(f"landing the report tables went wrong: {wrong}")
        self._queue: list[str] = []
        self._sql_ops = 0

    def traced_extra(self) -> OpResult:
        """The full ELT run over the workspace, landing all five datasets
        in a directory of its own, checked against the generator."""
        transport = WorkspaceTransport(self.ws)
        out = os.path.join(self.work, "elt")
        r = OpResult("elt", 0.0)
        with self.clock(r):
            res = run_pipeline(self.spark, transport, out, self.ws.from_date,
                               self.ws.to_date, dates=self.ws.dates)
        self.spark.catalog.clearCache()  # the pipeline persists activities
        if r.error is not None:
            raise RuntimeError(f"the ELT run failed: {r.error}")
        r.rows = r.rows_written = sum(res.row_counts.values())
        r.bytes_written = parquet_bytes(out)[0]
        r.counts = {"client.requests": transport.requests, "client.retries": transport.retries}
        r.wrong = check_landed(self.con, self.ws, out, DATASETS)
        shutil.rmtree(out)
        return r

    def at_block_end(self) -> bool:
        # phases hold whole blocks, so each kind is one third of the ops
        return not self._queue

    def _window(self) -> tuple[datetime.date, datetime.date]:
        # a four-week window at a seeded start: every request aggregates
        # about the same share of the facts, so seeds differ in which
        # facts a request reads, not in how many
        lo = self.rng.randrange(0, len(self.ws.dates) - self.WINDOW_DAYS + 1)
        d0 = datetime.date.fromisoformat(self.ws.dates[0])
        return d0 + datetime.timedelta(days=lo), d0 + datetime.timedelta(days=lo + self.WINDOW_DAYS - 1)

    def warm_up(self) -> list[OpResult]:
        # blocks in the same order for every seed, the costliest kind
        # first, so every run starts timing from the same warm state
        ops = []
        for _ in range(self.WARMUP_BLOCKS):
            self._queue = list(self.WARMUP_ORDER)
            ops += [self.op() for _ in self.KINDS]
        return ops

    def op(self) -> OpResult:
        # every block of three requests holds each kind once, in seeded order
        if not self._queue:
            self._queue = self.rng.sample(self.KINDS, len(self.KINDS))
        kind = self._queue.pop()
        lo, hi = self._window()
        stmt = None
        if kind == "sql":
            # the templates take turns, so every two blocks hold each once
            stmt = SQL_TEMPLATES[self._sql_ops % len(SQL_TEMPLATES)].format(lo=lo, hi=hi)
            self._sql_ops += 1
        r = OpResult(kind, 0.0)
        # the task report raises AMBIGUOUS_REFERENCE on the landed tasks
        # table (it already carries task_breadcrumb): a known defect,
        # counted as a failed op
        with self.clock(r):
            if stmt is not None:
                df = sqlrunner.run_sql(self.spark, stmt, self.land)
                got = [tuple(x) for x in self._collect(df, "sqlrunner.collect")]
            else:
                tasks = io.read_table(self.spark, self.land, "tasks")
                entries = io.read_table(self.spark, self.land, "entries").filter(
                    F.col("date").between(F.lit(lo), F.lit(hi)))
                with self._span("reports.plan"):
                    report = (reports.task_budget_report if kind == "task_budget"
                              else reports.project_budget_report)
                    df = report(tasks, entries, max_depth=8)
                got = [tuple(x) for x in self._collect(df, "reports.collect")]
        if r.error is not None:
            return r
        # the facts the request aggregates
        r.rows = self.con.execute("SELECT count(*) FROM entries WHERE date BETWEEN $lo AND $hi",
                                  {"lo": lo, "hi": hi}).fetchone()[0]
        want = self._oracle(kind, lo, hi, stmt)
        if got != want:
            r.wrong = f"{kind} {lo}..{hi}: {len(got)} rows differ from DuckDB's {len(want)}"
        return r

    def _collect(self, df, span: str) -> list:
        with self._span(span) as s:
            rows = df.collect()
            if s is not None:
                s.counts["rows"] = len(rows)
        return rows

    def _oracle(self, kind: str, lo, hi, stmt: str | None) -> list[tuple]:
        if kind == "sql":
            return [tuple(x) for x in self.con.execute(stmt).fetchall()]
        params = {"lo": lo, "hi": hi}
        if kind == "project_budget":
            rows = self.con.execute(PROJECT_ORACLE, params).fetchall()
            return [(p, n, c, b, _hours(c), _hours(b)) for p, n, c, b in rows]
        rows = self.con.execute(TASK_ORACLE, params).fetchall()
        return [(t, n, cr, b, c, b - c, _hm(c), _hm_signed(b - c), _hm(b))
                for t, n, cr, b, c in rows]

    def close(self) -> None:
        self.con.close()


class ReportSql(ReportClosedLoop):
    """`ReportClosedLoop` with its ad-hoc SQL requests only."""
    name = "report_sql"
    KINDS = ("sql",)
    WARMUP_ORDER = KINDS
    #: a request takes ~1 s once warm, so the warm-up is eight of them
    WARMUP_BLOCKS = 8
    MIN_OPS = 9

    def traced_extra(self) -> OpResult:
        batch = CurationBatch(self.spark, self.seed, self.work)
        batch.tracer = self.tracer
        batch.setup()
        try:
            return batch.op()
        finally:
            batch.close()


# ---------------------------------------------------------------------------
# curation batch
# ---------------------------------------------------------------------------

class CurationBatch(Workload):
    """``curate.curate`` over `N_DOCS` docs of a seeded corpus. Its
    latency, measured as a workload of its own, spread more between runs
    than a bound allows, so the traced run of `ReportSql` makes one batch
    for its layers instead."""
    N_DOCS = 300

    def setup(self) -> None:
        self.con = duckdb.connect()
        ids, texts = zip(*make_corpus(self.seed, self.N_DOCS).docs)
        self.src = os.path.join(self.work, "corpus")
        os.makedirs(self.src)
        docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})
        pq.write_table(docs, os.path.join(self.src, "part-0.parquet"))
        self.ids = set(ids)
        # the exact stage must keep one doc per distinct text
        self.distinct = len(set(texts))

    def op(self) -> OpResult:
        src, ids, distinct, n = self.src, self.ids, self.distinct, self.N_DOCS
        out = os.path.join(self.work, "curated")
        r = OpResult("curate", 0.0)
        with self.clock(r):
            docs = self.spark.read.parquet(src)
            with self._span("curate.plan"):
                curated, obs = curate.curate(self.spark, docs)
            with self._span("curate.write"):
                curated.write.mode("overwrite").partitionBy("split").parquet(out)
            with self._span("curate.stats") as s:
                stats = {stage: o.get["rows"] for stage, o in obs.items()}
                if s is not None:
                    s.counts.update(stats)
        if r.error is not None:
            shutil.rmtree(out, ignore_errors=True)
            return r
        r.rows, r.rows_written = n, stats["output"]
        r.bytes_written = parquet_bytes(out)[0]
        kept = [d for (d,) in self.con.execute(
            f"SELECT doc_id FROM read_parquet('{out}/*/*.parquet')").fetchall()]
        if stats["exact"] != distinct:
            r.wrong = f"exact stage kept {stats['exact']} of {n} docs, {distinct} distinct texts"
        elif len(kept) != stats["output"] or not set(kept) <= ids:
            r.wrong = f"{len(kept)} output docs, {stats['output']} observed or ids not in input"
        self.spark.catalog.clearCache()  # curation pins its stage frames
        shutil.rmtree(out)
        return r

    def close(self) -> None:
        self.con.close()


WORKLOADS = {w.name: w for w in (ReportClosedLoop, ReportSql)}
