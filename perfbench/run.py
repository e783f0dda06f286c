#!/usr/bin/env python3
"""Benchmark of the TimeCamp ELT pipeline, the budget reports and corpus curation.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload report_closed_loop --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one process each
    python3 perfbench/run.py --check-inputs --seed 1      # generator determinism check

One run is one process: it starts a Spark session with the program's own
``session.get_spark`` at ``local[<cpus available>]``, makes the workload's
inputs from ``--seed``, warms up (all of which is the set-up time), then
runs ops back to back for ``--seconds`` of op time, and at least the
workload's ``MIN_OPS`` ops, with tracing off. With
``--trace 1``, the workload's extra op (the ELT run for
``report_closed_loop``, a curation batch for ``report_sql``) and one more
block of ops then run with spans around every call into the program's layers (see
tracing.py); their per-layer figures, and the tracing overhead against
the untraced phase, replace the end-to-end ones in the result.

Every metric is printed as ``name value unit`` on its own line; the last
line of standard output is the JSON result
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes goes under ``.perfbench/`` in the checkout; the scratch part is
deleted before the process exits, and the span log of a traced run is
kept in ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "good_enough_timecamp_data_pipeline_spark"
OUT = os.path.join(ROOT, ".perfbench")

def _metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


WORKLOAD_NAMES = ("report_closed_loop", "report_sql")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=(*WORKLOAD_NAMES, "all"), default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="op time measured per phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--check-inputs", action="store_true",
                   help="check that the input generators are deterministic, then exit")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (nearest
    rank), and its label. Below 21 samples that percentile is not above
    the median, and the maximum stands in for it."""
    s = sorted(values)
    n = len(s)
    if n < 21:
        return s[-1], f"max of n={n}"
    i = n - 11
    return s[i], f"p{100 * (i + 1) / n:.0f} of n={n}"


def peak_rss_mb(spark) -> float:
    """High-water resident set of this process plus the Spark JVM."""
    total_kb = 0
    for pid in (os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_times() -> list[int]:
    """The machine's cpu jiffies from /proc/stat: user .. steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of cpu time the hypervisor took between two `cpu_times`."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def end_to_end(wl, ops, setup_s: float, rss: float, elt=None) -> tuple[dict, list[str]]:
    """Latencies over the ops that succeeded: the geometric mean over op
    kinds of each kind's median (or tail), so that every kind moves them
    and a kind's share of the ops does not."""
    ok = [r for r in ops if not r.failed]
    if not ok:
        raise RuntimeError("no op succeeded: " + "; ".join(sorted({str(r.error or r.wrong)
                                                                   for r in ops})))
    kinds = {r.kind: [x.seconds for x in ok if x.kind == r.kind] for r in ok}
    tails = {k: tail(v) for k, v in kinds.items()}
    busy = sum(r.seconds for r in ok)
    m = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.geometric_mean(statistics.median(v) for v in kinds.values()),
        "bytes_per_row": wl.landed_bytes / wl.landed_rows,
    }
    # printed, not bounded: below 21 samples a kind's tail is its maximum,
    # mostly the first measured op, which moves with the JIT warm-up
    tail_s = statistics.geometric_mean(t for t, _ in tails.values())
    # throughput and the same figures under the names of the workload's domain
    named = {
        "report.fact_rows_per_s": (sum(r.rows for r in ok) / busy, "1/s"),
        **({"elt.rows_per_s": (elt.rows / elt.seconds, "1/s"),
            "elt.bytes_per_row": (elt.bytes_written / elt.rows_written, "B")}
           if elt is not None and not elt.failed else {}),
        **{f"report.{k}_p50_s": (statistics.median(
            [r.seconds for r in ops if r.kind == k]), "s") for k in wl.KINDS},
        "report.latency_p50_s": (m["latency_p50_s"], "s"),
        "report.latency_tail_s": (tail_s, "s"),
    }
    named["failed_ratio"] = (sum(r.failed for r in ops) / len(ops), "ratio")
    # printed, not bounded: the JVM grows its heap as its collector sees
    # fit, so the high-water mark differs by a third between seeds
    named["peak_rss_mb"] = (rss, "MB")
    lines = [f"{k} {v!r} {u}" for k, (v, u) in named.items()]
    lines.append("# the latency tail is the geometric mean of " + ", ".join(
        f"{k}: {label}" for k, (_, label) in tails.items()))
    lines.append(f"# {len(ops)} ops, {len(ok)} succeeded, {busy:.2f} s busy in those")
    lines.append("# op seconds: " + "; ".join(
        k + " " + " ".join(f"{r.seconds:.2f}{'' if not r.failed else '(failed)'}"
                           for r in ops if r.kind == k)
        for k in dict.fromkeys(r.kind for r in ops)))
    if elt is not None:
        lines.append(f"# elt.* are from the traced ELT run: {elt.rows} rows in {elt.seconds:.2f} s")
    return m, lines


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

def instrument(tracer) -> None:
    """Wrap the public calls of every layer the workloads reach."""
    from good_enough_timecamp_data_pipeline_spark import sqlrunner
    from good_enough_timecamp_data_pipeline_spark.operators import dedup
    from good_enough_timecamp_data_pipeline_spark.plans import reports
    from good_enough_timecamp_data_pipeline_spark.sources import client, ingest, io
    from good_enough_timecamp_data_pipeline_spark.sources.pipeline import DATASETS

    from workloads import parquet_bytes

    for m in ("get_tasks", "get_users", "get_user_settings", "get_user_details",
              "get_time_entries", "get_computer_activities", "get_applications"):
        tracer.instrument(client.TimeCampClient, m, f"client.{m}")
    for d in DATASETS:
        tracer.instrument(ingest, f"build_{d}", f"ingest.build.{d}", materialize=True)
    tracer.instrument(ingest, "breadcrumbs", "hierarchy.breadcrumbs", materialize=True)
    tracer.instrument(reports, "transitive_closure", "hierarchy.closure", materialize=True)

    def written(span, path, args, kwargs):
        span.counts["bytes"], span.counts["files"] = parquet_bytes(path)

    tracer.instrument(io, "write_table", lambda df, base, table, *a, **k: f"io.write.{table}",
                      after=written)
    tracer.instrument(sqlrunner, "register_data_views", "sqlrunner.register_views")
    tracer.instrument(sqlrunner, "run_sql", "sqlrunner.run_sql")
    tracer.instrument(dedup, "band_bucket_candidates", "dedup.lsh_candidates", materialize=True)
    tracer.instrument(dedup, "verify_candidate_pairs", "dedup.lsh_verify", materialize=True)


def per_layer(tracer, ops, untraced, session_s: float, extra=None) -> dict[str, float]:
    """Per-op sums of each layer's self time and counts over the traced
    ``ops``, as the median over the ops that reached the layer (0 where
    none did). The ELT run counts as one op of its own; the scheduler
    figures come from the ``untraced`` ops."""
    selfs = tracer.self_times()
    per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def add(op, metric, v):
        per_op[op][metric] += v

    for s in tracer.spans:
        n, op, st = s.name, s.op, selfs[s.sid]
        jobs = len(s.jobs) + len(s.noop_jobs)
        if n.startswith("client."):
            add(op, "client.request_s", st)
        elif n.startswith("ingest.build."):
            d = n.split(".", 2)[2]
            add(op, f"ingest.build_s.{d}", st)
            add(op, f"ingest.rows.{d}", s.counts.get("rows", 0))
        elif n in ("hierarchy.breadcrumbs", "hierarchy.closure"):
            add(op, f"{n}_s", st)
            add(op, f"{n}_jobs", jobs)
            if n == "hierarchy.closure":
                add(op, "hierarchy.closure_rows", s.counts.get("rows", 0))
        elif n.startswith("io.write."):
            t = n.split(".", 2)[2]
            add(op, f"io.write_s.{t}", st)
            add(op, f"io.write_jobs.{t}", jobs)
            add(op, "io.bytes_written", s.counts.get("bytes", 0))
            add(op, "io.files_written", s.counts.get("files", 0))
        elif n in ("reports.plan", "reports.collect", "curate.plan", "curate.write") \
                or n.startswith("sqlrunner."):
            add(op, f"{n}_s", st)
            if n == "reports.collect":
                add(op, "reports.rows_out", s.counts.get("rows", 0))
        elif n == "curate.stats":
            for stage, v in s.counts.items():
                add(op, f"curate.stage_rows.{stage}", v)
        elif n == "dedup.lsh_candidates":
            add(op, "dedup.lsh_candidates", s.counts.get("rows", 0))
        elif n == "dedup.lsh_verify":
            add(op, "dedup.lsh_verified", s.counts.get("rows", 0))
    if extra is not None:
        for k, v in extra.counts.items():
            add(EXTRA_OP, k, v)
    for i, r in enumerate(untraced):
        for k, v in r.counts.items():
            add(("untraced", i), k, v)
    for d in per_op.values():
        if d.get("dedup.lsh_candidates"):
            d["dedup.lsh_precision"] = d["dedup.lsh_verified"] / d["dedup.lsh_candidates"]

    out: dict[str, float] = {}
    for metric in _metrics("per_layer"):
        vals = [d[metric] for d in per_op.values() if metric in d]
        out[metric] = statistics.median(vals) if vals else 0
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = (statistics.median(r.seconds for r in ops)
                               - statistics.median(r.seconds for r in untraced))
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

EXTRA_OP = -1


@contextmanager
def traced_by(wl, tracer, op: int | None = None):
    """Trace the workload's calls into the program inside the block."""
    if tracer is None:
        yield
        return
    instrument(tracer)
    wl.tracer = tracer
    tracer.op = op
    try:
        yield
    finally:
        tracer.restore()
        wl.tracer = None


def loop(wl, seconds: float, tracer=None, min_ops: int = 1) -> list:
    """Ops back to back until ``seconds`` of op time have passed, at
    least ``min_ops`` ops have run and a block of ops is complete. With a
    tracer, each op is traced when the workload is instrumented, and run
    under a job group that counts its scheduler work when it is not."""
    ops = []
    busy = 0.0
    while len(ops) < min_ops or busy < seconds or not wl.at_block_end():
        if tracer is None:
            r = wl.op()
        elif wl.tracer is tracer:
            tracer.op = len(ops)
            r = wl.op()
            tracer.release()
        else:
            with tracer.counted() as counts:
                r = wl.op()
            r.counts.update({f"spark.{k}_per_op": v for k, v in counts.items()})
        ops.append(r)
        busy += r.seconds
    return ops


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the session runs at local[<cpus available to this process>], with all
    # of Spark's and Python's scratch files inside the work directory
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.chdir(work)  # derby.log, spark-warehouse and the like land here too
    spark = None
    try:
        from good_enough_timecamp_data_pipeline_spark.session import get_spark

        from tracing import Tracer
        from workloads import WORKLOADS

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        })
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup()
        inputs_s = time.perf_counter() - t0 - session_s
        warm = wl.warm_up()
        setup_s = time.perf_counter() - t0
        lines = [f"# set-up: session {session_s:.2f} s, inputs {inputs_s:.2f} s, warm-up ops "
                 + " ".join(f"{r.seconds:.2f}" for r in warm) + " s"]

        tracer = Tracer(spark) if args.trace else None
        cpu0 = cpu_times()
        ops = loop(wl, args.seconds, tracer, wl.MIN_OPS)
        lines.append(f"# cpu steal during the measured ops: {steal_share(cpu0, cpu_times()):.1%}")
        checked = warm + ops
        extra = None
        if tracer is not None:
            with traced_by(wl, tracer, op=EXTRA_OP):
                extra = wl.traced_extra()
                tracer.release()
            if extra is not None:
                checked.append(extra)
            # one block: every op kind once, to stay within the run's time
            with traced_by(wl, tracer):
                traced = loop(wl, 0.0, tracer)
            checked += traced
            # tracing overhead: the traced ops against the untraced ones
            layers = per_layer(tracer, traced, ops, session_s, extra)
            os.makedirs(os.path.join(OUT, "spans"), exist_ok=True)
            spans = os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(spans)
            lines.append(f"# spans written to {os.path.relpath(spans, ROOT)}")
        elt = extra if extra is not None and extra.kind == "elt" else None
        metrics, named = end_to_end(wl, ops, setup_s, peak_rss_mb(spark), elt)
        lines[:0] = named
        wl.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    wrong = [r.wrong for r in checked if r is not None and r.wrong]
    errors = sorted({r.error for r in checked if r.error})
    for w in wrong[:5]:
        lines.append(f"# wrong output: {w}")
    for e in errors:
        lines.append(f"# failed op: {e}")
    e2e = {k: (metrics[k], u) for k, u in _metrics("end_to_end").items()}
    chosen = {k: (layers[k], u) for k, u in _metrics("per_layer").items()} if args.trace else e2e
    for k, (v, u) in {**e2e, **chosen}.items():
        print(f"{k} {v!r} {u}")
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": not wrong,
        "attempted": len(ops),
        "failed": sum(r.failed for r in ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own fresh process; all their figures printed."""
    result = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not out:
            print(f"error: workload {name} exited with {proc.returncode}", file=sys.stderr)
            return 1
        print(f"== {name}")
        print("\n".join(out[:-1]))
        one = json.loads(out[-1])
        result["correct"] &= one["correct"]
        result["attempted"] += one["attempted"]
        result["failed"] += one["failed"]
        result["metrics"].update({f"{name}.{k}": v for k, v in one["metrics"].items()})
    print(json.dumps(result))
    return 0


def check_inputs(seed: int) -> int:
    """Same seed, same inputs; another seed, other inputs."""
    import hashlib

    import duckdb

    from corpus import make_corpus
    from workspace import make_workspace, write_fact_entries

    size = dict(n_tasks=300, n_users=60, n_entries=3000, n_activities=1000, n_apps=50)
    work = os.path.join(OUT, f"check-{os.getpid()}")

    def facts(s: int) -> str:
        path = os.path.join(work, f"entries-{len(os.listdir(work))}")
        write_fact_entries(duckdb.connect(), make_workspace(s, **size), 20_000, path)
        with open(os.path.join(path, "part-0.parquet"), "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    gens = {"workspace": lambda s: make_workspace(s, **size).fingerprint(),
            "corpus": lambda s: make_corpus(s, 500).fingerprint(),
            "fact entries": facts}
    os.makedirs(work)
    ok = True
    for name, fp in gens.items():
        same, other = fp(seed) == fp(seed), fp(seed) != fp(seed + 1)
        print(f"{name}: same seed identical={same}, next seed different={other}")
        ok &= same and other
    shutil.rmtree(work)
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.check_inputs:
        return check_inputs(args.seed)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"error: {PACKAGE}/ not found in {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
