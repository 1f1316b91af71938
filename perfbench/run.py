"""Benchmark of the cubefs_hadoop_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload {analytics,ingest} --seed N \\
        --seconds S --trace {0,1} [--sf {0.01,0.001}]

One process, one SparkSession on ``local[<cores>]``, one closed-loop
client: each operation starts after the previous one returned.  The
inputs are the repository's fixture tables, vendored under
``perfbench/data`` (sf0.01; sf0.001 for the self-test).  The seed draws
the workload's inputs from them: the query order of each pass, the ingest
read ranges and the upsert and delete keys.  Every expected result is
computed with DuckDB before any timer starts.

A run sets up ``SETUP_REPEATS`` times (session start, staging and a first
query) and reports the median set-up, runs the workload's fixed number
of warm-up passes, then measures passes until ``--seconds`` seconds have passed,
with the drift canary (``q01_scan_count``) before each pass.  Every
result is checked (perfbench/workloads.py); a wrong result or an
exception counts as a failed operation and never aborts the run.

With ``--trace 0`` the last stdout line holds the end-to-end metrics:

* ``setup_s``     median CPU seconds of one set-up;
* ``pass_cpu_s``  median CPU seconds of one measured pass;
* ``peak_rss_mb`` peak RSS of the Python driver plus its JVM.

CPU seconds are those of this process and every process it started (the
JVM and its Python workers).  They stand in for wall time because on a
shared host other guests take 0-35% of the CPU in bursts, which moves
wall times by up to 2x from run to run but CPU time far less.  Wall
times are in the per-layer line (``untraced.pass_s``, ``op_p50_s``,
``query.*``, the ingest latencies) and in the record, with the run's CPU
steal share.

With ``--trace 1`` the measured passes alternate untraced and traced,
starting and ending with an untraced one.
Traced passes install span and counter recorders around each layer's
public functions (perfbench/tracing.py) and read Spark's status stores
after every operation; the last line holds the per-layer metrics, see
``per_layer``.  The full record of a run, stamped with cores, sf, seed,
git revision, source digest, load and CPU steal, goes to
``perfbench/out/<workload>-c<cores>-s<seed>-trace<0|1>.json``.

Exit status 2, and no result line, when the engine or the inputs are
missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
PKG_DIR = os.path.join(ROOT, "cubefs_hadoop_spark")

SETUP_REPEATS = 3
# A fixed, pre-touched driver heap: peak RSS then moves with off-heap and
# Python memory, not with when the JVM chose to grow its heap.
HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cores()),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
            "PYSPARK_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher too: no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    tempfile.tempdir = None


def start_session():
    from cubefs_hadoop_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(PKG_DIR)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the peak RSS of its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except Exception:  # noqa: BLE001 — report the Python side alone
        pass
    return (py_kb + jvm_kb) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started (the JVM, Python workers), reaped children included."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                line = f.read()
        except OSError:  # exited while we listed
            continue
        fields = line[line.rindex(")") + 2:].split()
        # ppid, utime + stime + cutime + cstime
        stats[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class Ctx:
    """Run state shared with the workloads: session, inputs, timers, checks."""

    def __init__(self, args, work: str) -> None:
        from tracing import Recorder

        self.args = args
        self.work = work
        self.data_dir = os.path.join(HERE, "data", f"sf{args.sf}")
        self.rng = random.Random(args.seed)
        self.rec = Recorder()
        self.spark = None
        self.stats = None  # SparkStats while a traced pass runs
        self.pass_no = -1
        self.ops: list[dict] = []  # every timed operation
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.bytes_per_row: list[float] = []
        self.spark_totals: dict[str, float] = {}
        self._corrupt = args.corrupt

    @contextmanager
    def op(self, kind: str, name: str, top: bool = False, leaf: bool = True):
        """Time one operation.  ``top`` operations make up a pass's wall
        time; ``leaf`` operations count as attempted (a non-leaf one only
        when it raises)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench:{name}", f"{self.args.workload}:{name}")
        rec = {"kind": kind, "name": name, "top": top,
               "pass": self.pass_no, "traced": self.stats is not None}
        if leaf:
            self.attempted += 1
        self.rec.op = name
        if self.stats is not None and top:
            self.stats.begin()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.rec.span(f"op.{kind}"):
                yield
        except Exception as ex:  # noqa: BLE001 — counted, never fatal
            if not leaf:
                self.attempted += 1
            self.fail(name, f"{type(ex).__name__}: {ex}")
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            self.ops.append(rec)
            if self.stats is not None and top:
                for k, v in self.stats.end().items():
                    self.spark_totals[k] = self.spark_totals.get(k, 0.0) + v
            sc.setLocalProperty("spark.jobGroup.id", None)

    def query(self, name: str):
        """Run one registered query: build, then collect to pandas."""
        from cubefs_hadoop_spark.queries import QUERIES

        self.spark.catalog.clearCache()
        pdf = None
        with self.op("query", name, top=True):
            with self.rec.span("queries.build"):
                df = QUERIES[name](self.spark, self.data_dir)
            with self.rec.span("queries.collect"):
                pdf = df.toPandas()
        return pdf

    def check(self, name: str, ok: bool) -> None:
        if not ok:
            self.fail(name, "wrong result")

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"pass {self.pass_no} {name}: {why}"[:400])

    def maybe_corrupt(self, pdf):
        """Self-test hook: drop one row of the first checked result."""
        if self._corrupt and len(pdf):
            self._corrupt = False
            return pdf.iloc[1:]
        return pdf


def canary(ctx: Ctx) -> float:
    """Time the drift canary, a one-column count, and check it."""
    from cubefs_hadoop_spark.queries import QUERIES

    ctx.attempted += 1
    t0 = time.perf_counter()
    try:
        n = QUERIES["q01_scan_count"](ctx.spark, ctx.data_dir).collect()[0][0]
    except Exception as ex:  # noqa: BLE001 — counted, never fatal
        ctx.fail("canary", f"{type(ex).__name__}: {ex}")
        return time.perf_counter() - t0
    dt = time.perf_counter() - t0
    if n != ctx.n_lineitem:
        ctx.fail("canary", f"count {n} != {ctx.n_lineitem}")
    return dt


def setup_once(ctx: Ctx, wl) -> tuple[float, float, float]:
    """Session start, workload staging and a first query.  Returns
    (set-up seconds, session-start seconds, set-up CPU seconds)."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    if ctx.spark is not None:
        ctx.spark.stop()
    ctx.spark = start_session()
    t_session = time.perf_counter() - t0
    wl.stage(ctx)
    canary(ctx)
    return time.perf_counter() - t0, t_session, tree_cpu_s() - c0


def run_one_pass(ctx: Ctx, wl, traced: bool) -> float:
    from tracing import SparkStats, install

    ctx.pass_no += 1
    first = len(ctx.ops)
    patches = None
    if traced:
        ctx.stats = SparkStats(ctx.spark)
        patches = install(ctx.rec)
    ctx.rec.enabled = traced
    try:
        wl.run_pass(ctx, ctx.pass_no)
    except Exception as ex:  # noqa: BLE001 — a pass that dies counts once
        ctx.attempted += 1
        ctx.fail("pass", f"{type(ex).__name__}: {ex}")
    finally:
        if patches is not None:
            patches.restore()
        ctx.stats = None
        ctx.rec.enabled = False
    return sum(o["s"] for o in ctx.ops[first:] if o["top"])


def pass_sums(ops: list[dict], key: str = "s", names: tuple[str, ...] = ()) -> list[float]:
    """Per pass, the sum of ``key`` over its top-level operations, or over
    the operations named ``names``."""
    by: dict[int, float] = {}
    for o in ops:
        if o["name"] in names if names else o["top"]:
            by[o["pass"]] = by.get(o["pass"], 0.0) + o[key]
    return list(by.values())


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def p90(xs, default=0.0):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else median(xs, default)


def samples(ops: list[dict]) -> dict[str, list[float]]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    return by


def end_to_end(ctx: Ctx, setup_cpu: list[float], ops: list[dict]) -> dict:
    return {
        "setup_s": (median(setup_cpu), "s"),
        "pass_cpu_s": (median(pass_sums(ops, "cpu_s")), "s"),
        "peak_rss_mb": (peak_rss_mb(ctx.spark), "MB"),
    }


def ingest_metrics(ctx: Ctx, wl, ops: list[dict]) -> dict:
    """The ingest latencies the issue names, from untraced passes: p50 and
    p90 of each per-batch operation with its sample count, the per-pass
    upsert (merge + delete) and maintenance (binpack + expire) times, the
    drain rate, bytes on disk per live row, and the failed share."""
    by = samples(ops)
    m = {}
    for k in ("commit", "read", "fold"):
        xs = by.get(k, [])
        m[f"{k}_p50_s"] = (median(xs), "s")
        m[f"{k}_p90_s"] = (p90(xs), "s")
        m[f"{k}_samples"] = (len(xs), "count")
    m["upsert_s"] = (median(pass_sums(ops, names=("merge", "delete"))), "s")
    m["maintain_s"] = (median(pass_sums(ops, names=("binpack", "expire"))), "s")
    drains = by.get("drain", [])
    rows = getattr(wl, "n_events", 0)
    m["rows_per_s"] = (rows / median(drains) if drains else 0.0, "1/s")
    m["bytes_per_row"] = (median(ctx.bytes_per_row), "B")
    m["failed_frac"] = (ctx.failed / max(1, ctx.attempted), "frac")
    return m


def per_layer(ctx: Ctx, wl, session_s, canaries, untraced, traced, ops) -> dict:
    """Per-layer metrics.  Times are seconds per traced pass; fs verb
    counts, files and manifest bytes are per versioned commit; query.*
    and the ingest latencies come from the untraced measured passes.

    The end-to-end metric each should move, and on which workload (the
    wall-time ones named here are per-layer themselves, see the module
    docstring):

    session.start_s                          setup_s (both)
    queries.build_s, materialize.*,
      spark.driver_idle_frac, query.x28_*    pass_cpu_s (analytics), driver
    queries.collect_s, spark.* times and
      bytes, query.q*                        pass_cpu_s (analytics), executors
    spark.jobs/stages/tasks/sql_executions   pass_cpu_s (both)
    versioning.commit_version_s,
      manifest_commit_s, data_stage_s,
      files_per_commit, manifest_bytes,
      fs.*                                   commit_p50/p90_s, pass_cpu_s (ingest)
    versioning.read_manifest_s,
      prune_kept_frac                        read_p50/p90_s, pass_cpu_s (ingest)
    versioning.binpack_s, expire_s,
      files_reclaimed                        maintain_s, bytes_per_row
    streaming.batch_s, trigger_overhead_s    rows_per_s, pass_cpu_s (ingest)
    state_sink.fold_s                        fold_p50/p90_s, pass_cpu_s (ingest)
    engine.merge_s, engine.delete_s          upsert_s, pass_cpu_s (ingest)
    canary.q01_s, trace.overhead_frac        none: host drift, tracing cost

    Metrics of a layer a workload does not reach read 0 there."""
    from tracing import FS_VERBS
    from workloads import CURATION_QUERIES, OLAP_QUERIES

    rec = ctx.rec
    n = max(1, len(traced))
    wall = sum(traced) or 1.0
    tot = rec.totals()
    calls = rec.calls()
    names = {i: s[0] for i, s in enumerate(rec.spans)}
    fs_top = sum(
        t1 - t0
        for name, t0, t1, parent, _ in rec.spans
        if name.startswith("fs.") and not names.get(parent, "").startswith("fs.")
    )
    c = rec.counts
    commits = calls.get("versioning.commit_version", 0)
    per_commit = lambda v: v / commits if commits else 0.0  # noqa: E731
    s = lambda k: tot.get(k, 0.0) / n  # noqa: E731
    sp = ctx.spark_totals
    m = {
        "session.start_s": (session_s, "s"),
        "canary.q01_s": (median(canaries), "s"),
        "untraced.pass_s": (median(untraced), "s"),
        # wall latency of the unit operation: a query, or a commit
        "op_p50_s": (median([o["s"] for o in ops if o["kind"] in ("query", "commit")]), "s"),
        "traced.pass_s": (median(traced), "s"),
        # each traced pass against the mean of the untraced passes around
        # it: pass times still fall from pass to pass as the JIT warms up
        "trace.overhead_frac": (
            median([t * 2 / (untraced[i] + untraced[i + 1]) for i, t in enumerate(traced)]) - 1,
            "frac",
        ),
        "queries.build_s": (s("queries.build"), "s"),
        "queries.collect_s": (s("queries.collect"), "s"),
    }
    by = samples(ops)
    for q in OLAP_QUERIES + CURATION_QUERIES:
        m[f"query.{q}_s"] = (median(by.get(q, [])), "s")
    for k in ("jobs", "stages", "tasks", "sql_executions"):
        m[f"spark.{k}"] = (sp.get(k, 0.0) / n, "count")
    for k in ("executor_run_s", "executor_cpu_s"):
        m[f"spark.{k}"] = (sp.get(k, 0.0) / n, "s")
    for k in ("input_mb", "shuffle_read_mb", "shuffle_write_mb"):
        m[f"spark.{k}"] = (sp.get(k, 0.0) / n, "MB")
    m["spark.driver_idle_frac"] = (
        1 - sp.get("executor_run_s", 0.0) / (wall * cores()), "frac"
    )
    m.update(
        {
            "materialize.barrier_calls": (calls.get("materialize.barrier", 0) / n, "count"),
            "materialize.barrier_s": (s("materialize.barrier"), "s"),
            "materialize.async_wait_s": (s("materialize.async_wait"), "s"),
            "versioning.commit_version_s": (s("versioning.commit_version"), "s"),
            "versioning.manifest_commit_s": (s("versioning.manifest_commit"), "s"),
            "versioning.data_stage_s": (
                s("versioning.commit_version") - s("versioning.manifest_commit"), "s"
            ),
            "versioning.files_per_commit": (per_commit(c.get("commit.files", 0)), "count"),
            "versioning.manifest_bytes": (
                per_commit(c.get("fs.create_if_absent.bytes", 0)), "B"
            ),
            "versioning.read_manifest_s": (s("versioning.read_manifest"), "s"),
            "versioning.prune_kept_frac": (
                c.get("prune.kept", 0) / c["prune.listed"] if c.get("prune.listed") else 0.0,
                "frac",
            ),
            "versioning.binpack_s": (s("versioning.binpack"), "s"),
            "versioning.expire_s": (s("versioning.expire"), "s"),
            "versioning.files_reclaimed": (c.get("expire.files_reclaimed", 0) / n, "count"),
        }
    )
    for verb in FS_VERBS:
        m[f"fs.{verb}_calls"] = (per_commit(calls.get(f"fs.{verb}", 0)), "count")
    m["fs.time_s"] = (fs_top / n, "s")
    m["streaming.batch_s"] = (s("streaming.batch"), "s")
    m["streaming.trigger_overhead_s"] = (s("streaming.drain") - s("streaming.batch"), "s")
    m["state_sink.fold_s"] = (s("state_sink.fold"), "s")
    m["engine.merge_s"] = (s("engine.merge"), "s")
    m["engine.delete_s"] = (s("engine.delete"), "s")
    m.update(ingest_metrics(ctx, wl, ops))
    return m


def op_summary(ops: list[dict]) -> dict:
    """Median, p90 and sample count per operation name."""
    return {
        k: {"p50_s": median(v), "p90_s": p90(v), "n": len(v), "samples_s": v}
        for k, v in sorted(samples(ops).items())
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="analytics", choices=["analytics", "ingest"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=["0.01", "0.001"], default="0.01",
                    help="fixture scale; 0.001 is for the self-test")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="self-test: corrupt one checked result; it must count as failed",
    )
    args = ap.parse_args()

    data_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    for need in (PKG_DIR, data_dir):
        if not os.path.isdir(need):
            print(f"perfbench: {need} not found", file=sys.stderr)
            return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    sys.path[:0] = [ROOT]
    try:
        import cubefs_hadoop_spark.queries  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine: {ex}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    from workloads import WORKLOADS, duck_views

    load_start = os.getloadavg()[0]
    ctx = Ctx(args, work)
    wl = WORKLOADS[args.workload]()
    try:
        # seeded inputs and expected results, before any timer
        wl.prepare(ctx)
        con = duck_views(ctx.data_dir)
        ctx.n_lineitem = con.sql("SELECT count(*) FROM lineitem").fetchone()[0]
        con.close()

        setups = [setup_once(ctx, wl) for _ in range(SETUP_REPEATS)]

        warm = [run_one_pass(ctx, wl, traced=False) for _ in range(wl.warm_passes)]
        first_op = len(ctx.ops)
        untraced: list[float] = []
        traced: list[float] = []
        canaries: list[float] = []
        steal0 = cpu_steal_ticks()
        t0 = time.perf_counter()
        # traced runs alternate untraced and traced passes and end on an
        # untraced one, so that each traced pass sits between two untraced
        while time.perf_counter() - t0 < args.seconds or (
            args.trace and (not traced or len(untraced) <= len(traced))
        ):
            canaries.append(canary(ctx))
            tracing_now = bool(args.trace) and len(untraced) > len(traced)
            dt = run_one_pass(ctx, wl, traced=tracing_now)
            (traced if tracing_now else untraced).append(dt)
        window_s = time.perf_counter() - t0
        steal1 = cpu_steal_ticks()
        steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        measured = [o for o in ctx.ops[first_op:] if not o["traced"]]
        e2e = end_to_end(ctx, [s[2] for s in setups], measured)
        if args.trace:
            metrics = per_layer(
                ctx, wl, median([s[1] for s in setups]), canaries, untraced, traced,
                measured,
            )
        else:
            metrics = e2e
        record = {
            "stamp": {
                "workload": args.workload,
                "cores": cores(),
                "sf": args.sf,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "git_rev": git_rev(),
                "source_digest": source_digest(),
                "load_1min_start": load_start,
                "load_1min_end": os.getloadavg()[0],
                # share of all CPU time the hypervisor gave to other guests
                # while the passes were measured
                "cpu_steal_frac": steal_frac,
            },
            "setup_s": [s[0] for s in setups],
            "session_start_s": [s[1] for s in setups],
            "setup_cpu_s": [s[2] for s in setups],
            "warmup_pass_s": warm,
            "untraced_pass_s": untraced,
            "untraced_pass_cpu_s": pass_sums(measured, "cpu_s"),
            "traced_pass_s": traced,
            "canary_s": canaries,
            "window_s": window_s,
            "ops": op_summary(measured),
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "failures": ctx.failures,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        os.makedirs(OUT, exist_ok=True)
        out_path = os.path.join(
            OUT, f"{args.workload}-c{cores()}-s{args.seed}-trace{args.trace}.json"
        )
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        result = {
            "correct": ctx.failed == 0,
            "attempted": max(1, ctx.attempted),
            "failed": ctx.failed,
            "metrics": record["metrics"],
        }
    finally:
        stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in ctx.failures[:20]:
        print(f"perfbench: failed {line}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
