"""Span and counter recorders for the traced run.

``Recorder`` keeps spans in memory (name, start, end, parent, operation)
and aggregates them per name.  ``install`` wraps the public functions of
the engine's layers with recorders, patched in every package module that
bound the original function by name, and returns a handle whose
``restore()`` puts the originals back.  ``SparkStats`` reads Spark's own
status stores after each operation: jobs, stages, tasks, executor time and
bytes, and SQL executions.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "cubefs_hadoop_spark"

# fs verbs counted per commit: the metadata calls a remote store charges for
FS_VERBS = (
    "create_if_absent", "list_dir", "walk_files", "exists", "is_dir",
    "rename", "read_text",
)
_FS_TIMED = FS_VERBS + ("write_text", "delete", "mkdirs")


class Recorder:
    """In-memory spans plus free counters."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = ""
        self.enabled = False
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            n, t0, _, p, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, op)

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _, _ in self.spans:
            out[name] += t1 - t0
        return out

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for name, *_ in self.spans:
            out[name] += 1
        return out


class Patches:
    """Installed wrappers and the originals they replaced."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def function(self, module, attr: str, make) -> None:
        orig = getattr(module, attr)
        new = make(orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, new)
                    self._undo.append((mod, key, orig))

    def method(self, cls, attr: str, make) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, make(orig))
        self._undo.append((cls, attr, orig))

    def restore(self) -> None:
        for owner, key, orig in reversed(self._undo):
            setattr(owner, key, orig)
        self._undo.clear()


def _timed(rec: Recorder, name: str, after=None):
    def make(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with rec.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        return wrapper

    return make


def _timed_iter(rec: Recorder, name: str):
    """Like ``_timed`` for a generator: times each step, not the consumer."""

    def make(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with rec.span(name):
                it = iter(fn(*args, **kwargs))
            while True:
                with rec.span(name + ".next"):
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                yield item

        return wrapper

    return make


def install(rec: Recorder) -> Patches:
    """Wrap each layer's public functions with span/counter recorders."""
    from cubefs_hadoop_spark import engine, fs, versioning
    from cubefs_hadoop_spark.plans import materialize

    p = Patches()

    def pruned(args, kwargs, out):
        manifest = args[0] if args else kwargs["manifest"]
        rec.add("prune.listed", len(manifest["files"]))
        rec.add("prune.kept", len(out))

    def expired(args, kwargs, out):
        rec.add("expire.files_reclaimed", out["files_removed"])

    def committed(args, kwargs, out):
        files = args[1] if len(args) > 1 else kwargs["files"]
        rec.add("commit.files", len(files))

    for attr, name, after in (
        ("commit_version", "versioning.commit_version", None),
        ("commit_staged_files", "versioning.manifest_commit", committed),
        ("read_manifest", "versioning.read_manifest", None),
        ("prune_files", "versioning.prune_files", pruned),
        ("read_version", "versioning.read_version", None),
        ("binpack_version", "versioning.binpack", None),
        ("expire_versions", "versioning.expire", expired),
    ):
        p.function(versioning, attr, _timed(rec, name, after))
    p.function(materialize, "barrier", _timed(rec, "materialize.barrier"))
    for attr in ("join", "wait"):
        p.method(
            materialize.AsyncMaterialization, attr,
            _timed(rec, "materialize.async_wait"),
        )
    p.method(engine.Engine, "merge_table", _timed(rec, "engine.merge"))
    p.method(engine.Engine, "delete_from", _timed(rec, "engine.delete"))

    def manifest_bytes(args, kwargs, out):
        text = args[2] if len(args) > 2 else kwargs["text"]
        rec.add("fs.create_if_absent.bytes", len(text))

    for cls in (fs.LocalFS, fs.HadoopFS):
        for verb in _FS_TIMED:
            if verb not in cls.__dict__:
                continue
            if verb == "walk_files":
                make = _timed_iter(rec, "fs.walk_files")
            else:
                after = manifest_bytes if verb == "create_if_absent" else None
                make = _timed(rec, f"fs.{verb}", after)
            p.method(cls, verb, make)
    return p


class SparkStats:
    """Totals from Spark's status stores for the jobs one operation ran.

    Jobs are attributed by job-id range (``begin()`` .. ``end()``): one
    closed-loop client runs one operation at a time, and a stream's
    micro-batch jobs run under the stream's own job group, not the
    caller's."""

    FIELDS = (
        "jobs", "stages", "tasks", "sql_executions", "executor_run_s",
        "executor_cpu_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb",
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mark = (0, 0)

    def begin(self) -> None:
        self._mark = (self._dag.numTotalJobs(), int(self._sql.executionsCount()))

    def end(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        first_job, first_sql = self._mark
        out = dict.fromkeys(self.FIELDS, 0.0)
        stage_ids: set[int] = set()
        for jid in range(first_job, self._dag.numTotalJobs()):
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                out["jobs"] += 1
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_mb"] += st.inputBytes() / 2**20
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["sql_executions"] = int(self._sql.executionsCount()) - first_sql
        return out
