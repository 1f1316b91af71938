"""Snapshot/versioned tables — the Iceberg-capability analog (SURVEY §3;
reference README.md:79-83 ships Trino+Iceberg jars: "Put the two jars to
$TRINO_HOME/plugin/iceberg for iceberg table").

Re-expressed Spark-first instead of porting Iceberg: a versioned table is a
directory of immutable data files plus a chain of small manifest files,
one per committed version:

    <db>/<table>/
      _manifests/v00001.json   {"version","parent","files":[...],"ts_ms",...}
      _manifests/v00002.json
      data/<8-hex stage id>/part-*.parquet

Commit protocol (optimistic concurrency, Iceberg-style):
  1. Spark writes the new data files into a fresh staging dir under a
     random id — never visible to readers until a manifest references it.
  2. The manifest is published with the backend's atomic
     ``create_if_absent`` primitive (fs.py): content lands in a hidden
     tmp name first, then one atomic publish step (POSIX ``os.link`` on
     LocalFS, no-overwrite rename on HadoopFS) — the no-overwrite
     atomicity the HCFS N10 rename contract provides on CubeFS/HDFS
     (CubefsFileSystem.java:221-223 returns false when dst exists).  Two
     racing writers compute the same next version; exactly one publish
     succeeds, the loser gets VersionConflictError.
  3. Every versioning verb publishes through ONE loop, ``_publish``:
     read the chain head -> copy the carried keys -> apply the verb's
     ``build`` -> stamp version/parent/mode/ts_ms, the batch watermark
     and the files_added/files_removed metrics -> publish -> on conflict
     re-read and rebuild.  Retry policy: append, merge-on-read delete and
     merge-on-read merge retry (they commute with a competing append);
     overwrite, compact, binpack, alter, rollback, publish, branch and
     adopt raise — the caller decides whose table wins.
  4. Readers resolve a version (default: highest committed manifest) and
     read exactly the files it lists — they can never observe a
     half-committed version, and old versions stay readable (time travel)
     until expired.

All filesystem access goes through a ``WarehouseFS`` (fs.py), so versioned
tables work over any Hadoop-FS warehouse root, not just local paths.

Scale notes: the commit is O(1) metadata operations regardless of data
size; manifests list files explicitly so appends never rewrite data; at
real Iceberg scale the file list itself would be stored columnar
(avro/parquet manifest trees) — the JSON form keeps the same semantics at
this repo's scale and is noted as the swap point.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubefs_hadoop_spark.errors import (
    EngineIOError,
    TableNotFoundError,
    VersionConflictError,
)
from cubefs_hadoop_spark.fs import LocalFS, WarehouseFS

_MANIFEST_DIR = "_manifests"
_PAGES_DIR = "pages"
_BRANCH_DIR = "branches"
_DATA_DIR = "data"
_LOCAL = LocalFS()

# File-list paging threshold (VERDICT r05 #6): a manifest whose file list
# exceeds this many entries is committed as a format-2 ROOT (summary
# header + per-page [min,max] bounds) plus page files of at most this
# many entries each — the Iceberg manifest-list/manifest split.  At 100
# TB / ~800k files a monolithic JSON parse per read is a driver
# bottleneck; pages bound the parse unit, and a predicate read loads
# ONLY the pages whose bounds survive (page-level skipping on top of
# file-level).  Format-1 (inline) manifests keep reading unchanged.
MANIFEST_PAGE_ROWS = 10_000


def _fs(fs: WarehouseFS | None) -> WarehouseFS:
    return _LOCAL if fs is None else fs


def _manifest_dir(
    table_path: str, fs: WarehouseFS, branch: str | None = None
) -> str:
    if branch is None:
        return fs.join(table_path, _MANIFEST_DIR)
    return fs.join(table_path, _MANIFEST_DIR, _BRANCH_DIR, branch)


def _manifest_path(
    table_path: str, version: int, fs: WarehouseFS, branch: str | None = None
) -> str:
    return fs.join(
        _manifest_dir(table_path, fs, branch), f"v{version:05d}.json"
    )


def is_versioned(table_path: str, fs: WarehouseFS | None = None) -> bool:
    """True only when at least one COMMITTED manifest exists — a bare
    ``_manifests/`` dir left by a crash between mkdirs and the publish
    must not flip the table into versioned mode (it would brick every
    read with 'no committed versions')."""
    fs = _fs(fs)
    if not fs.is_dir(_manifest_dir(table_path, fs)):
        return False
    return bool(list_versions(table_path, fs))


def list_versions(
    table_path: str,
    fs: WarehouseFS | None = None,
    branch: str | None = None,
) -> list[int]:
    fs = _fs(fs)
    out = []
    for name, is_dir in fs.list_dir(_manifest_dir(table_path, fs, branch)):
        if not is_dir and name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(
    table_path: str,
    fs: WarehouseFS | None = None,
    branch: str | None = None,
) -> int:
    vs = list_versions(table_path, fs, branch)
    if not vs:
        raise TableNotFoundError(
            "no committed versions"
            + (f" on branch {branch!r}" if branch else ""),
            table_path,
        )
    return vs[-1]


def _page_match(bounds: dict, predicates: list[tuple]) -> bool:
    """prune_files' conservative bound test at PAGE granularity: can any
    file in a page with these aggregated [min, max] bounds match ALL
    predicates?  A column absent from ``bounds`` (some file in the page
    had no stats for it) never prunes."""
    # bounds live in JSON-manifest form (_stat_json: datetimes as ISO
    # strings, decimals as floats) — normalize the predicate values the
    # same way or every timestamp/date comparison is a TypeError
    # conservative-keep and page skipping silently never fires
    for col, op, val in ((c, o, _stat_json(v)) for c, o, v in predicates):
        b = bounds.get(col)
        if not b or b[0] is None or b[1] is None:
            continue
        mn, mx = b
        try:
            if op in ("=", "=="):
                ok = mn <= val <= mx
            elif op == "<":
                ok = mn < val
            elif op == "<=":
                ok = mn <= val
            elif op == ">":
                ok = mx > val
            else:
                ok = mx >= val
        except TypeError:
            continue  # incomparable: conservative keep
        if not ok:
            return False
    return True


def read_manifest(
    table_path: str,
    version: int,
    fs: WarehouseFS | None = None,
    predicates: list[tuple] | None = None,
    light: bool = False,
    branch: str | None = None,
) -> dict:
    """Load a committed manifest.  Format-1 manifests return verbatim.
    Format-2 (paged) roots are reassembled transparently — callers see
    the same ``files`` / ``file_seq`` / ``stats`` keys either way.

    ``light=True`` returns just the format-2 root (schema, schema_ops,
    deletes, partition_by — everything O(1)) with an EMPTY file list and
    ``"light": True``; the schema/op-chain lookups that plan a scan need
    nothing more, and skipping the page reads keeps them metadata-rate.

    ``predicates`` ([(col, op, value)]) skips whole PAGES whose
    aggregated bounds refute a predicate before any page JSON is parsed;
    the assembled dict then carries ``"page_pruned": True`` and holds
    only the surviving pages' files.  prune_files over that subset yields
    the identical final file set (page bounds envelop file bounds), so
    only predicate-scoped readers (read_version, the cfstable planner)
    may pass predicates — never commit/diff/GC paths, which need the
    full census."""
    fs = _fs(fs)
    try:
        m = json.loads(
            fs.read_text(_manifest_path(table_path, version, fs, branch))
        )
    except FileNotFoundError:
        raise TableNotFoundError(
            f"version {version} not found"
            + (f" on branch {branch!r}" if branch else ""),
            table_path,
        ) from None
    pages = m.get("pages")
    if pages is None:
        return m
    if light:
        m["files"] = []
        m["light"] = True
        return m
    md = _manifest_dir(table_path, fs, branch)
    files: list[str] = []
    file_seq: dict = {}
    stats: dict = {}
    skipped = False
    for p in pages:
        if predicates and not _page_match(p.get("bounds", {}), predicates):
            skipped = True
            continue
        try:
            body = json.loads(fs.read_text(fs.join(md, p["path"])))
        except FileNotFoundError:
            raise EngineIOError(
                f"manifest v{version} page {p['path']} missing (partial "
                "GC or tampering)",
                table_path,
            ) from None
        files.extend(body["files"])
        file_seq.update(body.get("file_seq", {}))
        stats.update(body.get("stats", {}))
    m["files"] = files
    if file_seq:
        m["file_seq"] = file_seq
    if stats:
        m["stats"] = stats
    if skipped:
        m["page_pruned"] = True
    return m


def _maybe_page(
    table_path: str,
    manifest: dict,
    version: int,
    fs: WarehouseFS,
    branch: str | None = None,
) -> tuple[dict, list[str]]:
    """Split an oversized file list into page files (written immediately
    — they are invisible until the root publishes) and return the
    format-2 root + the written page paths (manifest-dir-relative) for
    conflict cleanup."""
    files = manifest["files"]
    if len(files) <= MANIFEST_PAGE_ROWS:
        return manifest, []
    file_seq = manifest.get("file_seq", {})
    stats = manifest.get("stats", {})
    md = _manifest_dir(table_path, fs, branch)
    fs.mkdirs(fs.join(md, _PAGES_DIR))
    uniq = uuid.uuid4().hex[:8]  # concurrent committers of the same
    # version number must not collide on page names; the loser's pages
    # are orphans expire_versions reaps
    pages = []
    written = []
    for i in range(0, len(files), MANIFEST_PAGE_ROWS):
        chunk = files[i : i + MANIFEST_PAGE_ROWS]
        body = {
            "files": chunk,
            "file_seq": {f: file_seq[f] for f in chunk if f in file_seq},
            "stats": {f: stats[f] for f in chunk if f in stats},
        }
        # aggregate per-column bounds over the page: a column prunes the
        # page only if EVERY file in the page has non-null bounds for it
        bounds: dict = {}
        if body["stats"] and len(body["stats"]) == len(chunk):
            cols = set.intersection(
                *(set(st) for st in body["stats"].values())
            )
            for c in cols:
                bs = [body["stats"][f][c] for f in chunk]
                if any(b[0] is None or b[1] is None for b in bs):
                    continue
                try:
                    bounds[c] = [
                        min(b[0] for b in bs),
                        max(b[1] for b in bs),
                    ]
                except TypeError:
                    continue
        rel = f"{_PAGES_DIR}/v{version:05d}-{uniq}-{i // MANIFEST_PAGE_ROWS:04d}.json"
        fs.write_text(fs.join(md, rel), json.dumps(body, sort_keys=True))
        written.append(rel)
        pages.append(
            {"path": rel, "count": len(chunk), "bounds": bounds}
        )
    root = {
        k: v
        for k, v in manifest.items()
        if k not in ("files", "file_seq", "stats")
    }
    root["format"] = 2
    root["file_count"] = len(files)
    root["pages"] = pages
    return root, written


def _commit_manifest(
    table_path: str,
    manifest: dict,
    version: int,
    fs: WarehouseFS,
    branch: str | None = None,
) -> int:
    """Atomically publish ``manifest`` as ``version`` (paged to format 2
    first when the file list exceeds MANIFEST_PAGE_ROWS).

    Raises VersionConflictError if that version was committed concurrently
    (the backend's no-overwrite publish — the N10 false-if-dst-exists
    analog — refused)."""
    fs.mkdirs(_manifest_dir(table_path, fs, branch))
    manifest, pages = _maybe_page(table_path, manifest, version, fs, branch)
    final = _manifest_path(table_path, version, fs, branch)
    if not fs.create_if_absent(final, json.dumps(manifest, sort_keys=True)):
        md = _manifest_dir(table_path, fs, branch)
        for rel in pages:  # loser's pages: reclaim eagerly
            fs.delete(fs.join(md, rel), recursive=False)
        raise VersionConflictError(
            f"version {version} committed concurrently", table_path
        )
    return version


# What a commit inherits from the manifest it builds on, with the value
# an older manifest that lacks the key reads as.  ``stats`` and
# ``schema_ops`` are recorded only when non-empty.
_CARRIED = {
    "files": [],
    "file_seq": {},
    "deletes": [],
    "partition_by": [],
    "schema": None,
    "stats": {},
    "schema_ops": [],
}


def _publish(
    table_path: str,
    fs: WarehouseFS,
    mode: str,
    build: Callable[[dict | None, int], dict],
    *,
    branch: str | None = None,
    retries: int = 0,
    parent: dict | None = None,
    source: dict | None = None,
) -> int:
    """The one manifest commit loop every versioning verb publishes
    through.  Reads the chain head ``pm`` (``parent`` when the caller
    already read it; ``{}`` when it knows the chain is empty), copies
    the ``_CARRIED`` keys of ``source`` (a branch fork's base, a
    fast-forwarded branch head, a rollback target) or else of the head,
    applies ``build(pm, v)``'s overrides, stamps version, parent, mode,
    ts_ms, the batch watermark (max over the head and the source) and
    the files_added/files_removed metrics against the head's file list,
    then publishes.  A conflict re-reads the head and rebuilds up to
    ``retries`` times, then raises VersionConflictError."""
    for attempt in range(retries + 1):
        if parent is None:
            vs = list_versions(table_path, fs, branch)
            pm = read_manifest(table_path, vs[-1], fs, branch=branch) if vs else None
        else:
            pm = parent or None
        v = pm["version"] + 1 if pm else 1
        src = source or pm
        manifest = {k: src.get(k, d) for k, d in _CARRIED.items()} if src else {}
        manifest.update(build(pm, v))
        for k in ("stats", "schema_ops"):
            if not manifest.get(k):
                manifest.pop(k, None)
        manifest.update(
            version=v,
            parent=pm["version"] if pm else None,
            mode=mode,
            ts_ms=int(time.time() * 1000),
        )
        _stamp_watermark(manifest, *(m for m in (pm, source) if m))
        before = set(pm["files"]) if pm else set()
        after = set(manifest["files"])
        manifest["files_added"] = len(after - before)
        manifest["files_removed"] = len(before - after)
        try:
            return _commit_manifest(table_path, manifest, v, fs, branch)
        except VersionConflictError:
            if attempt == retries:
                # the staged files are orphans expire_versions() reaps
                raise
            parent = None


def _stage_write(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None,
    fs: WarehouseFS,
    write_opts: dict | None = None,
) -> tuple[str, list[str]]:
    """Write df's data files under data/<stage-id>/ and return the
    (stage_id, table-relative file paths).  Invisible to readers until a
    manifest references them.  ``write_opts`` pass straight to the
    parquet writer (e.g. ``parquet.bloom.filter.enabled#col``)."""
    stage = uuid.uuid4().hex[:8]
    stage_dir = fs.join(table_path, _DATA_DIR, stage)
    writer = df.write.mode("errorifexists")
    for k, val in (write_opts or {}).items():
        writer = writer.option(k, val)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)
    files = []
    for rel, _size, _mtime in fs.walk_files(stage_dir):
        if rel.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue
        files.append(f"{_DATA_DIR}/{stage}/{rel}")
    return stage, sorted(files)


def last_committed_batch(
    table_path: str,
    fs: WarehouseFS | None = None,
    branch: str | None = None,
) -> int | None:
    """The exactly-once streaming ledger as a WATERMARK: Structured
    Streaming batch ids are monotonically increasing per checkpoint, so
    "already committed" is exactly ``batch_id <= max committed id``.  The
    watermark rides every manifest (``batch_id_max``), making the ledger
    ONE metadata read and O(1) bytes regardless of stream length, and it
    survives ``expire_versions`` GC (the latest manifest is always
    retained).  Falls back to scanning per-commit ``batch_id`` fields for
    chains written before the watermark field existed."""
    fs = _fs(fs)
    vs = list_versions(table_path, fs, branch)
    if not vs:
        return None
    latest = read_manifest(table_path, vs[-1], fs, branch=branch)
    if "batch_id_max" in latest:
        return int(latest["batch_id_max"])
    if latest.get("batch_ids"):
        # chains written when the ledger was a cumulative id list
        return max(int(b) for b in latest["batch_ids"])
    seen = [
        int(b)
        for v in vs
        if (b := read_manifest(table_path, v, fs, branch=branch).get("batch_id"))
        is not None
    ]
    return max(seen) if seen else None


def _stamp_watermark(manifest: dict, *parents: dict) -> None:
    """Set ``manifest``'s ``batch_id_max`` to the highest of the parents'
    watermarks and the manifest's own ``batch_id``.  ``_publish`` calls
    this on every commit, so the streaming exactly-once watermark rides
    every version: a manual commit, a compaction or a branch publish
    between batches never drops it."""
    marks = [int(p["batch_id_max"]) for p in parents if "batch_id_max" in p]
    if manifest.get("batch_id") is not None:
        marks.append(int(manifest["batch_id"]))
    if marks:
        manifest["batch_id_max"] = max(marks)


def commit_batch(
    frame_fn: Callable[[], DataFrame],
    table_path: str,
    batch_id: int,
    mode: str = "append",
    fs: WarehouseFS | None = None,
    stats_cols: list[str] | None = None,
    branch: str | None = None,
) -> int | None:
    """Commit one Structured Streaming micro-batch exactly once — the
    protocol every streaming sink shares (``streaming.ops`` appends batch
    rows, ``streaming.state_sink`` overwrites folded state).

    foreachBatch is at-least-once around checkpoint boundaries and batch
    ids increase per checkpoint, so "already committed" is exactly
    ``batch_id <= last_committed_batch``: such a replay returns None
    BEFORE ``frame_fn`` runs, so a frame with side effects is never
    rebuilt for a committed batch.  Otherwise ``frame_fn()`` commits as
    a new version stamped with ``batch_id`` and the advanced watermark,
    and the version number is returned.  A crash before the manifest
    publishes leaves the watermark where it was — the replay commits
    again, and the dead attempt's staged files are orphans that
    ``expire_versions`` reaps."""
    fs = _fs(fs)
    mark = last_committed_batch(table_path, fs, branch)
    if mark is not None and int(batch_id) <= mark:
        return None
    return commit_version(
        frame_fn(),
        table_path,
        mode=mode,
        fs=fs,
        extra={"batch_id": int(batch_id)},
        stats_cols=stats_cols,
        branch=branch,
    )


def tag_version(
    table_path: str,
    tag: str,
    version: int | None = None,
    fs: WarehouseFS | None = None,
) -> int:
    """Pin a named, IMMUTABLE tag to a version (Iceberg tag semantics:
    a tag is a permanent name for a snapshot — re-tagging is refused,
    delete_tag first).  Tagged versions are exempt from expire_versions
    GC.  Published with the same atomic no-overwrite primitive as
    manifests."""
    if not tag.replace("_", "").replace("-", "").isalnum():
        raise EngineIOError(f"invalid tag name {tag!r}", table_path)
    fs = _fs(fs)
    v = current_version(table_path, fs) if version is None else version
    if v not in list_versions(table_path, fs):
        raise TableNotFoundError(f"version {v} not found", table_path)
    p = fs.join(_manifest_dir(table_path, fs), f"tag-{tag}.json")
    if not fs.create_if_absent(p, json.dumps({"version": v})):
        raise EngineIOError(
            f"tag {tag!r} already exists (tags are immutable; "
            "delete_tag first)",
            table_path,
        )
    # close the tag-vs-GC race: an expire sweep that snapshotted the
    # version list BEFORE this tag published may have deleted v in the
    # window between our existence check and the publish.  Re-verify and
    # withdraw the tag rather than leave a dangling pin.
    if not fs.exists(_manifest_path(table_path, v, fs)):
        fs.delete(p, recursive=False)
        raise TableNotFoundError(
            f"version {v} expired while tagging", table_path
        )
    return v


def list_tags(table_path: str, fs: WarehouseFS | None = None) -> dict:
    fs = _fs(fs)
    out = {}
    for name, is_dir in fs.list_dir(_manifest_dir(table_path, fs)):
        if not is_dir and name.startswith("tag-") and name.endswith(".json"):
            t = name[4:-5]
            try:
                out[t] = int(
                    json.loads(
                        fs.read_text(
                            fs.join(_manifest_dir(table_path, fs), name)
                        )
                    )["version"]
                )
            except (ValueError, KeyError) as ex:
                # a torn tag sidecar must fail LOUDLY and name its file:
                # GC consults tags for snapshot pinning, so silently
                # skipping one could reap a promised-readable version
                raise EngineIOError(
                    f"corrupt tag sidecar {name} (torn write?); restore "
                    f"or delete it: {ex}",
                    table_path,
                ) from ex
    return out


def resolve_tag(
    table_path: str, tag: str, fs: WarehouseFS | None = None
) -> int:
    tags = list_tags(table_path, fs)
    if tag not in tags:
        raise TableNotFoundError(f"tag {tag!r} not found", table_path)
    return tags[tag]


def ts_to_ms(ts: str | int) -> int:
    """Canonical timestamp-input parser for every TIMESTAMP AS OF
    surface: epoch millis (int or digit string) or ISO
    'YYYY-MM-DD[ HH:MM:SS[.fff]]' (naive = UTC, matching the pinned
    session timezone)."""
    if isinstance(ts, int):
        return ts
    if ts.isdigit():
        return int(ts)
    import datetime

    dt = datetime.datetime.fromisoformat(ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


def resolve_timestamp(
    table_path: str,
    ts_ms: int,
    fs: WarehouseFS | None = None,
) -> int:
    """TIMESTAMP AS OF resolution: the latest version whose commit time
    is <= ``ts_ms`` (the Iceberg/Delta contract — "the table as it was
    at that moment").  O(versions) light manifest reads; raises when the
    timestamp predates the first commit."""
    fs = _fs(fs)
    best = None
    for v in list_versions(table_path, fs):
        m = read_manifest(table_path, v, fs, light=True)
        if int(m.get("ts_ms", 0)) <= ts_ms:
            best = v
    if best is None:
        raise TableNotFoundError(
            f"no version committed at or before ts {ts_ms}", table_path
        )
    return best


def delete_tag(
    table_path: str, tag: str, fs: WarehouseFS | None = None
) -> bool:
    fs = _fs(fs)
    return fs.delete(
        fs.join(_manifest_dir(table_path, fs), f"tag-{tag}.json"),
        recursive=False,
    )


# -- table properties ------------------------------------------------------
#
# Durable key-value settings on a versioned table (the Iceberg/Delta
# TBLPROPERTIES surface), stored as a sidecar like tags — NOT in the
# manifest chain, so setting one is O(1) and touches no commit path.
# The engine consults the cfs.* keys as writer defaults:
#   cfs.stats.cols        comma list -> default stats_cols on commits
#   cfs.bloom.cols        comma list -> default bloom_cols on commits
#   cfs.target.file.bytes int        -> default maintenance target size
# Properties are settings, not data: they are last-writer-wins and do
# not time-travel (a snapshot's DATA is immutable; how future writers
# behave is not part of any snapshot).

_PROPS_FILE = "props.json"


def set_properties(
    table_path: str, props: dict, fs: WarehouseFS | None = None
) -> dict:
    """Merge ``props`` into the table's property sidecar; a None value
    unsets the key.  Returns the resulting full property map."""
    fs = _fs(fs)
    if not is_versioned(table_path, fs):
        raise TableNotFoundError(
            "table properties require a versioned table", table_path
        )
    cur = get_properties(table_path, fs)
    for k, v in props.items():
        if not isinstance(k, str) or not k:
            raise EngineIOError(f"invalid property key {k!r}", table_path)
        if v is None:
            cur.pop(k, None)
        else:
            cur[k] = str(v)
    fs.write_text(
        fs.join(_manifest_dir(table_path, fs), _PROPS_FILE),
        json.dumps(cur, sort_keys=True),
    )
    return cur


def get_properties(
    table_path: str, fs: WarehouseFS | None = None
) -> dict:
    fs = _fs(fs)
    try:
        return json.loads(
            fs.read_text(
                fs.join(_manifest_dir(table_path, fs), _PROPS_FILE)
            )
        )
    except FileNotFoundError:
        return {}
    except ValueError as ex:
        # a torn sidecar (non-atomic backend crash mid-write) must fail
        # LOUDLY, not silently drop the table's declared layout contract
        raise EngineIOError(
            f"corrupt {_PROPS_FILE} (torn write?); restore or delete it: "
            f"{ex}",
            table_path,
        ) from ex


# -- branches (write-audit-publish) --------------------------------------
#
# A branch is a SECOND manifest chain under _manifests/branches/<name>/
# sharing the table's data/ dirs: branch commits stage bytes exactly like
# main commits (invisible until a manifest references them), so creating
# a branch moves zero data and a branch of a 100 TB table costs one JSON
# write.  The Iceberg WAP workflow: write to the branch, audit it (run
# expectations/queries against read_version(branch=...)), then
# fast_forward publishes the branch head onto main as one atomic commit.
# Branch manifests pin their files against GC until drop_branch.


_BRANCH_NAME = re.compile(r"^[\w-]+$")


def create_branch(
    table_path: str,
    branch: str,
    from_version: int | None = None,
    fs: WarehouseFS | None = None,
) -> int:
    """Fork a named branch at main's ``from_version`` (default: head).
    The branch's v1 duplicates that snapshot's manifest — files by
    REFERENCE, no data movement at any scale."""
    fs = _fs(fs)
    if not _BRANCH_NAME.match(branch):
        raise EngineIOError(f"invalid branch name {branch!r}", table_path)
    if list_versions(table_path, fs, branch):
        raise EngineIOError(
            f"branch {branch!r} already exists", table_path
        )
    base = (
        current_version(table_path, fs)
        if from_version is None
        else from_version
    )
    return _publish(
        table_path,
        fs,
        "branch",
        lambda pm, v: {"base_version": base},
        branch=branch,
        parent={},
        source=read_manifest(table_path, base, fs),
    )


def list_branches(
    table_path: str, fs: WarehouseFS | None = None
) -> list[str]:
    fs = _fs(fs)
    root = fs.join(_manifest_dir(table_path, fs), _BRANCH_DIR)
    if not fs.is_dir(root):
        return []
    return sorted(
        d
        for d, is_dir in fs.list_dir(root)
        if is_dir and list_versions(table_path, fs, d)
    )


def drop_branch(
    table_path: str, branch: str, fs: WarehouseFS | None = None
) -> bool:
    """Delete the branch's manifest chain (metadata only).  Data files
    the branch staged become unreferenced and are reclaimed by the next
    ``expire_versions`` sweep after the orphan grace."""
    fs = _fs(fs)
    if not _BRANCH_NAME.match(branch):
        raise EngineIOError(f"invalid branch name {branch!r}", table_path)
    return fs.delete(
        fs.join(_manifest_dir(table_path, fs), _BRANCH_DIR, branch),
        recursive=True,
    )


def expire_branches(
    table_path: str,
    max_age_ms: int,
    fs: WarehouseFS | None = None,
) -> list[str]:
    """Drop branches whose HEAD commit is older than ``max_age_ms`` —
    the leak plug for forgotten audit branches, which otherwise pin
    their staged files against GC forever.  Age is measured from the
    branch's last commit, so an actively-written branch never expires.
    Returns the dropped branch names; their files become unreferenced
    and the next ``expire_versions`` sweep reclaims them."""
    fs = _fs(fs)
    now_ms = int(time.time() * 1000)
    dropped = []
    for b in list_branches(table_path, fs):
        head = read_manifest(
            table_path, current_version(table_path, fs, b), fs,
            light=True, branch=b,
        )
        if now_ms - int(head.get("ts_ms", 0)) > max_age_ms:
            drop_branch(table_path, b, fs)
            dropped.append(b)
    return dropped


def fast_forward(
    table_path: str,
    branch: str,
    fs: WarehouseFS | None = None,
    force: bool = False,
    drop: bool = True,
) -> int:
    """Publish the branch head onto main as one atomic commit (mode
    ``publish``) — the audit-passed WAP step.  Refused when main has
    advanced past the branch's fork point (the audit no longer describes
    what publishing would clobber) unless ``force``.  ``drop`` deletes
    the branch chain after a successful publish."""
    fs = _fs(fs)
    bv = current_version(table_path, fs, branch)
    bh = read_manifest(table_path, bv, fs, branch=branch)
    b1 = read_manifest(table_path, 1, fs, branch=branch)
    main_head = current_version(table_path, fs)
    base = b1.get("base_version")
    if not force and main_head != base:
        raise VersionConflictError(
            f"main advanced to v{main_head} past branch {branch!r}'s "
            f"fork point v{base}; re-audit on a fresh branch or "
            "fast_forward(force=True)",
            table_path,
        )
    out = _publish(
        table_path,
        fs,
        "publish",
        lambda pm, v: {"branch": branch, "branch_version": bv},
        parent=read_manifest(table_path, main_head, fs),
        source=bh,
    )
    if drop:
        drop_branch(table_path, branch, fs)
    return out


def _layout_partitioned(files: list[str]) -> bool:
    """True when any file path carries a Hive-style ``key=value`` dir
    segment (partitioned write layout)."""
    return any("=" in seg for f in files for seg in f.split("/")[:-1])


def _stat_json(v):
    """A min/max value in JSON-manifest form: numbers/strings/bools pass
    through, datetimes/dates become ISO strings (ISO order == time order,
    so string comparison prunes correctly), Decimals become floats."""
    import datetime
    import decimal

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def _footer_stats(
    table_path: str,
    files: list[str],
    stats_cols: list[str],
    fs: WarehouseFS,
) -> tuple[dict, list[str]]:
    """Harvest per-file [min, max] from the parquet FOOTERS — metadata-only
    IO, O(files) footer reads, zero data pages touched (the Iceberg
    production path for commit-time column stats).

    Returns (stats, fallback_cols).  A column lands in ``fallback_cols``
    — to be resolved by the exact distributed scan instead — whenever its
    footer bounds cannot be trusted as EXACT values:

    * string/binary/decimal physical types: writers (parquet-mr, and
      pyarrow beyond its truncate length) truncate long bounds; the
      truncated values are still valid BOUNDS, but the repo's stats tests
      and z-order manifest contract record exact values, so the scan wins
      the tie for those types;
    * a chunk with no usable statistics (INT96 timestamps, stats
      disabled, nulls-only chunks report None);
    * a column absent from the file's top-level physical schema (nested
      or mis-declared -> the scan raises the proper typed error);
    * a non-local FS backend where footers aren't directly openable.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    safe = (
        pa.types.is_integer,
        pa.types.is_floating,
        pa.types.is_boolean,
        pa.types.is_date,
        pa.types.is_timestamp,
    )
    out: dict = {f: {} for f in files}
    fallback: set[str] = set()
    acc: dict[tuple[str, str], list] = {}  # (file, col) -> [mn, mx]
    for f in files:
        try:
            pf = pq.ParquetFile(fs.join(table_path, f))
        except Exception:
            return {}, list(stats_cols)  # non-local/unreadable: full scan
        md = pf.metadata
        schema = pf.schema_arrow
        idx = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        } if md.num_row_groups else {}
        for c in stats_cols:
            if c in fallback:
                continue
            if c not in idx or c not in schema.names or not any(
                t(schema.field(c).type) for t in safe
            ):
                fallback.add(c)
                continue
            for g in range(md.num_row_groups):
                col = md.row_group(g).column(idx[c])
                st = col.statistics
                if md.row_group(g).num_rows == 0:
                    continue
                if st is None or not st.has_min_max:
                    fallback.add(c)
                    break
                cur = acc.setdefault((f, c), [st.min, st.max])
                if st.min < cur[0]:
                    cur[0] = st.min
                if st.max > cur[1]:
                    cur[1] = st.max
    import datetime

    def _norm(v):
        # footer timestamps surface tz-aware (isAdjustedToUTC); the scan
        # path records naive UTC (session tz is pinned UTC) — normalize,
        # or the ISO strings gain a "+00:00" suffix that breaks the
        # lexical bound comparison in prune_files
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v

    for (f, c), (mn, mx) in acc.items():
        if c not in fallback:
            out[f][c] = [_stat_json(_norm(mn)), _stat_json(_norm(mx))]
    return out, sorted(fallback)


def _collect_file_stats(
    spark: SparkSession,
    table_path: str,
    stage: str,
    files: list[str],
    stats_cols: list[str],
    fs: WarehouseFS,
) -> dict:
    """Per-file [min, max] of ``stats_cols`` over the staged files — the
    Iceberg column-stats analog that makes scan-time file skipping
    possible.  The result is file-count-sized: manifest-scale data (100k
    files x a few columns is megabytes), never corpus-scale.  Stats cols
    must be physical data columns (dir-encoded partition columns are
    already prunable by path).

    Commit-time cost (VERDICT r05 #5): numeric/bool/date/timestamp
    columns harvest straight from the parquet FOOTERS (_footer_stats) —
    O(files) metadata reads, no data pages.  Only columns whose footer
    bounds parquet writers may truncate (string/binary/decimal) or that
    lack usable chunk statistics fall back to ONE distributed scan of
    exactly those columns, grouped by input_file_name — a few % of the
    bytes just written, and zero bytes when every stats col is numeric."""
    if not stats_cols or not files:
        return {}
    footer, scan_cols = _footer_stats(table_path, files, stats_cols, fs)
    if not scan_cols:
        return {f: st for f, st in footer.items() if st}
    sdf = spark.read.parquet(*(fs.join(table_path, f) for f in files))
    missing = [c for c in scan_cols if c not in sdf.columns]
    if missing:
        # dir-encoded partition columns are not in the data files — they
        # are already prunable by path, so stats on them are meaningless
        raise EngineIOError(
            f"stats_cols {missing} not present in the staged data files "
            "(partition columns are path-prunable, not stats-prunable)",
            table_path,
        )
    aggs = []
    for i, c in enumerate(scan_cols):
        aggs += [
            F.min(c).alias(f"_mn{i}"),
            F.max(c).alias(f"_mx{i}"),
        ]
    rows = (
        sdf.groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect()
    )
    marker = f"/{_DATA_DIR}/{stage}/"
    out: dict = {f: dict(st) for f, st in footer.items()}
    for r in rows:
        i = r["_f"].find(marker)
        if i < 0:
            continue
        rel = r["_f"][i + 1 :]
        out.setdefault(rel, {}).update(
            {
                c: [_stat_json(r[f"_mn{j}"]), _stat_json(r[f"_mx{j}"])]
                for j, c in enumerate(scan_cols)
            }
        )
    return {f: st for f, st in out.items() if st}


def _schema_shape(schema_json: dict) -> dict:
    """{name: type} with nullability/metadata stripped (recursively), for
    append-compatibility checks — writers legitimately disagree on
    nullable flags, never on names or types."""

    def norm(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {
                    "struct": {
                        f["name"]: norm(f["type"]) for f in t["fields"]
                    }
                }
            if t.get("type") == "array":
                return {"array": norm(t["elementType"])}
            if t.get("type") == "map":
                return {
                    "map": [norm(t["keyType"]), norm(t["valueType"])]
                }
            return {k: v for k, v in t.items() if k != "nullable"}
        return t

    return {f["name"]: norm(f["type"]) for f in schema_json["fields"]}


_PRUNE_OPS = ("<", "<=", ">", ">=", "=", "==")


def prune_files(
    manifest: dict, predicates: list[tuple] | None
) -> list[str]:
    """The file subset of ``manifest`` that can contain rows matching ALL
    ``predicates`` (list of (col, op, value)), judged by per-file
    [min, max] stats.  Conservative: a file with no stats entry, no entry
    for the column, or a null bound is always kept.  Pruning is a plan
    optimization, not a truth source — the caller still applies the exact
    predicate to the surviving rows."""
    files = manifest["files"]
    stats = manifest.get("stats")
    if not stats or not predicates:
        return files
    for _c, op, _v in predicates:
        if op not in _PRUNE_OPS:
            raise EngineIOError(f"unsupported prune op {op!r}")
    keep = []
    norm = [(c, op, _stat_json(v)) for c, op, v in predicates]
    for f in files:
        st = stats.get(f)
        ok = True
        if st:
            for col, op, val in norm:
                bounds = st.get(col)
                if not bounds or bounds[0] is None or bounds[1] is None:
                    continue
                mn, mx = bounds
                try:
                    if op in ("=", "=="):
                        ok = mn <= val <= mx
                    elif op == "<":
                        ok = mn < val
                    elif op == "<=":
                        ok = mn <= val
                    elif op == ">":
                        ok = mx > val
                    else:
                        ok = mx >= val
                except TypeError:
                    ok = True  # incomparable types: conservative keep
                if not ok:
                    break
        if ok:
            keep.append(f)
    return keep


def _apply_predicates(df: DataFrame, predicates: list[tuple]) -> DataFrame:
    """The exact residual filter for ``predicates`` (pruning only cut the
    file list; row-level truth happens here)."""
    for col, op, val in predicates:
        c = F.col(col)
        if op in ("=", "=="):
            df = df.filter(c == F.lit(val))
        elif op == "<":
            df = df.filter(c < F.lit(val))
        elif op == "<=":
            df = df.filter(c <= F.lit(val))
        elif op == ">":
            df = df.filter(c > F.lit(val))
        else:
            df = df.filter(c >= F.lit(val))
    return df


def _enforce_constraints(df: DataFrame, table_path: str, props: dict) -> None:
    """Persisted CHECK constraints (property ``cfs.checks``, a JSON
    {name: sql_expr} map — ALTER TABLE ADD CONSTRAINT): every versioned
    commit proves them in ONE distributed pass before any data stages;
    a NULL predicate counts as a violation (the row failed to prove the
    constraint).  Runs on every producer that commits a DataFrame —
    engine verbs, the streaming sink, direct commit_version callers."""
    raw = props.get("cfs.checks")
    if not raw:
        return
    checks = json.loads(raw)
    if not checks:
        return
    aggs = [
        F.count(
            F.when(~F.coalesce(F.expr(c), F.lit(False)), 1)
        ).alias(f"_c{i}")
        for i, c in enumerate(checks.values())
    ]
    row = df.agg(*aggs).first()
    bad = {
        name: int(row[f"_c{i}"])
        for i, name in enumerate(checks)
        if int(row[f"_c{i}"])
    }
    if bad:
        raise EngineIOError(
            f"CHECK constraint violations, commit refused: {bad} "
            f"(constraints: { {k: checks[k] for k in bad} })",
            table_path,
        )


def _prop_cols(props, key: str, columns=None) -> list[str]:
    """Column names from the comma-list property ``key`` of ``props`` (a
    table's property map, or any mapping with ``.get`` such as the
    session conf), keeping only names in ``columns`` when given."""
    names = (c.strip() for c in (props.get(key, None) or "").split(","))
    return [c for c in names if c and (columns is None or c in columns)]


def _prop_write_opts(props: dict, df: DataFrame) -> dict | None:
    """Parquet writer options implied by table properties: bloom filters
    for ``cfs.bloom.cols`` (columns present in the written frame)."""
    return {
        f"parquet.bloom.filter.enabled#{c}": "true"
        for c in _prop_cols(props, "cfs.bloom.cols", df.columns)
    } or None


def _commit_props(table_path: str, fs: WarehouseFS) -> dict:
    """The property sidecar a commit consults — read once per commit,
    and not at all before the table's first commit."""
    if not fs.is_dir(_manifest_dir(table_path, fs)):
        return {}
    return get_properties(table_path, fs)


def _declared_stats(
    table_path: str, files: list[str], props: dict, fs: WarehouseFS
) -> dict:
    """Per-file stats for the table's declared tier (``cfs.stats.cols``)
    harvested straight from the staged parquet FOOTERS — metadata-only
    IO, so producers with no Spark session (the cfstable Arrow writer)
    get them too.  String/decimal columns (footer bounds truncatable)
    stay un-statted here; the distributed scan in _collect_file_stats is
    the exact tier for those."""
    cols = _prop_cols(props, "cfs.stats.cols")
    if not cols or not files:
        return {}
    footer, _fallback = _footer_stats(table_path, files, cols, fs)
    return {f: st for f, st in footer.items() if st}


def commit_version(
    df: DataFrame,
    table_path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_retries: int = 3,
    fs: WarehouseFS | None = None,
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
    write_opts: dict | None = None,
    branch: str | None = None,
) -> int:
    """Write ``df`` as a new committed version of the table.

    ``overwrite``: the new version's file set is just the new files (old
    files stay on disk for time travel until expired).
    ``append``: new file set = parent's files + new files.  Append commits
    retry on version conflicts (they commute); overwrite conflicts raise —
    the caller must decide whose table wins.

    A version's file set must be layout-homogeneous: appending
    unpartitioned files onto a Hive-partitioned parent (or vice versa)
    is refused — one read of the mixed set could not recover the
    dir-encoded partition columns consistently.  Overwrite/compact may
    change the layout (they replace the file set wholesale).
    """
    fs = _fs(fs)
    if mode not in ("overwrite", "append"):
        raise EngineIOError(f"invalid version commit mode {mode!r}")
    # table-property defaults: EVERY producer (engine, streaming sink,
    # direct callers) inherits the table's declared layout contract —
    # stats tier, bloom columns and CHECK constraints
    props = _commit_props(table_path, fs)
    if stats_cols is None:
        stats_cols = _prop_cols(props, "cfs.stats.cols")
    if write_opts is None:
        write_opts = _prop_write_opts(props, df)
    _enforce_constraints(df, table_path, props)
    stage, files = _stage_write(df, table_path, partition_by, fs, write_opts)
    new_stats = _collect_file_stats(
        df.sparkSession, table_path, stage, files, stats_cols, fs
    ) or _declared_stats(table_path, files, props, fs)
    return commit_staged_files(
        table_path,
        files,
        df.schema.jsonValue(),
        mode=mode,
        partition_by=partition_by,
        new_stats=new_stats,
        stage=stage,
        extra=extra,
        max_retries=max_retries,
        fs=fs,
        branch=branch,
    )


def commit_staged_files(
    table_path: str,
    files: list[str],
    schema_json: dict,
    mode: str = "append",
    partition_by: list[str] | None = None,
    new_stats: dict | None = None,
    stage: str | None = None,
    extra: dict | None = None,
    max_retries: int = 3,
    fs: WarehouseFS | None = None,
    branch: str | None = None,
) -> int:
    """Publish ALREADY-STAGED data files as a new committed version — the
    manifest-assembly half of ``commit_version``, exposed for writers
    that stage bytes themselves (the ``cfstable`` DataSource writer
    stages parquet via pyarrow on the executors, then commits here).
    Same optimistic-concurrency semantics: appends retry (they commute),
    overwrite conflicts raise.  ``new_stats=None`` harvests the table's
    declared stats tier from the staged footers (_declared_stats)."""
    fs = _fs(fs)
    if mode not in ("overwrite", "append"):
        raise EngineIOError(f"invalid version commit mode {mode!r}")
    if branch is not None and not list_versions(table_path, fs, branch):
        # an implicit chain here would silently fork from EMPTY, not from
        # main's head — make branch creation an explicit, audited step
        raise TableNotFoundError(
            f"branch {branch!r} does not exist; create_branch first",
            table_path,
        )
    if new_stats is None and files:
        new_stats = _declared_stats(
            table_path, files, _commit_props(table_path, fs), fs
        )

    def build(pm: dict | None, v: int) -> dict:
        # overwrite replaces the file set wholesale: an empty base resets
        # the sequence map, pending deletes, stats and the op chain
        base = pm if pm and mode == "append" else {}
        base_files = base.get("files", [])
        if base_files and _layout_partitioned(base_files) != bool(
            partition_by
        ):
            raise EngineIOError(
                "append layout mismatch: parent version is "
                f"{'partitioned' if _layout_partitioned(base_files) else 'unpartitioned'} "
                f"but this append is {'partitioned' if partition_by else 'unpartitioned'}; "
                "match partition_by or overwrite the table",
                table_path,
            )
        if (
            base.get("schema")
            and schema_json
            and schema_json.get("fields") is not None
        ):
            # SCHEMA ENFORCEMENT (the Delta write-path contract): a
            # mismatched append would SILENTLY corrupt — extra
            # columns vanish (reads serve the manifest schema) and
            # missing columns read as NULL.  Evolution is explicit:
            # ALTER TABLE first, then append in the evolved shape.
            # Only TYPE CONFLICTS refuse: a column present on both
            # sides with different types is unrecoverable (the mixed
            # parquet read crashes or silently nulls).  Column
            # add/remove across appends stays allowed — that is the
            # documented merge-schema contract (Engine.table /
            # read_version(merge_schema=True) reconcile them).
            want = _schema_shape(base["schema"])
            got = _schema_shape(schema_json)
            changed = sorted(
                c for c in set(want) & set(got) if want[c] != got[c]
            )
            if changed:
                raise EngineIOError(
                    f"append type conflict on column(s) {changed}: "
                    "the table's and the append's types disagree; "
                    "align the writer (column add/remove is the "
                    "merge-schema path, type changes are not)",
                    table_path,
                )
        # the op chain must keep conforming the parent's files; the
        # appended files (new schema) pass through it untouched because
        # apply_schema_ops is idempotent — EXCEPT a dropped name
        # physically reintroduced by this append: the inherited drop op
        # would silently null the new rows' values (idempotence holds
        # for add/rename, not drop-then-readd), so refuse instead
        drops = {
            c["name"] for c in base.get("schema_ops", []) if c["op"] == "drop"
        }
        readded = drops and sorted(
            drops & {f["name"] for f in schema_json.get("fields", [])}
        )
        if readded:
            raise EngineIOError(
                f"append reintroduces dropped column(s) "
                f"{readded}; compact_version first (the pending "
                "drop op would silently null the appended "
                "values)",
                table_path,
            )
        # sequence-number bookkeeping (Iceberg v2 analog): every data file
        # remembers the version that ADDED it, so a merge-on-read delete
        # (commit_delete) can scope itself to rows that existed when it
        # committed.  Appended files keep the parent's per-file stats
        # (stats ride the FILE, not the version).
        return {
            **({"stage": stage} if stage else {}),
            "partition_by": list(partition_by or []),
            "files": sorted(base_files + files),
            "file_seq": {**base.get("file_seq", {}), **dict.fromkeys(files, v)},
            "deletes": list(base.get("deletes", [])),
            "schema": schema_json,
            "stats": {**base.get("stats", {}), **(new_stats or {})},
            "schema_ops": base.get("schema_ops", []),
            **(extra or {}),
        }

    return _publish(
        table_path,
        fs,
        mode,
        build,
        branch=branch,
        retries=max_retries if mode == "append" else 0,
    )


def _require_head(pm: dict | None, table_path: str) -> dict:
    if pm is None:
        raise TableNotFoundError("no committed versions", table_path)
    return pm


def commit_delete(
    table_path: str,
    predicate: str,
    fs: WarehouseFS | None = None,
    max_retries: int = 3,
) -> int:
    """Merge-on-read DELETE: commit a new version whose manifest carries
    the predicate as a pending delete — O(1) metadata, NO data rewrite
    (the Iceberg v2 delete-file tier, here as a replayable SQL predicate
    since Spark is the only reader).  Readers apply it as a read-time
    filter scoped by sequence number: only rows in files that existed at
    commit time are affected; files appended later are untouched even if
    their rows match.  ``compact_version`` materializes pending deletes
    and clears them.

    The right tier for high-frequency small deletes where copy-on-write
    (Engine.delete_from's default) would rewrite the table per statement;
    reads pay one extra filter per pending delete until compaction.
    Retries through append conflicts (a delete observes whatever state it
    lands on)."""

    def build(pm: dict | None, v: int) -> dict:
        pm = _require_head(pm, table_path)
        return {
            "deletes": pm.get("deletes", []) + [{"seq": v, "pred": predicate}]
        }

    return _publish(table_path, _fs(fs), "delete", build, retries=max_retries)


def commit_merge(
    df: DataFrame,
    table_path: str,
    on: str | list[str],
    fs: WarehouseFS | None = None,
    max_retries: int = 3,
) -> int:
    """Merge-on-read UPSERT: append ``df``'s rows AND record an
    EQUALITY-DELETE entry (a staged parquet of ``df``'s key tuples, the
    Iceberg v2 equality-delete-file analog) in one commit.  Readers
    anti-join pre-existing files against the key file — matched old rows
    vanish, the appended batch provides their replacements — scoped by
    sequence number so the batch does not delete itself and later
    appends are untouched.  No data rewrite: commit cost is the new rows
    plus one key file, independent of table size.

    Refused onto a Hive-partitioned layout (the appended rows would lack
    the dir-encoded partition column); ``compact_version`` first."""
    fs = _fs(fs)
    keys = [on] if isinstance(on, str) else list(on)
    stage, files = _stage_write(df, table_path, None, fs)
    _kstage, kfiles = _stage_write(
        df.select(*keys).distinct(), table_path, None, fs
    )
    schema = df.schema.jsonValue()

    def build(pm: dict | None, v: int) -> dict:
        pm = _require_head(pm, table_path)
        if _layout_partitioned(pm["files"]):
            raise EngineIOError(
                "merge-on-read upsert onto a Hive-partitioned layout is "
                "not supported (appended rows would lack the dir-encoded "
                "partition column); compact_version first",
                table_path,
            )
        # parent files keep their prune stats; the merge batch's new
        # files simply have no entries (conservative: never pruned)
        return {
            "stage": stage,
            "partition_by": [],
            "files": sorted(pm["files"] + files),
            "file_seq": {**pm.get("file_seq", {}), **dict.fromkeys(files, v)},
            "deletes": pm.get("deletes", [])
            + [{"seq": v, "eq_cols": keys, "eq_files": kfiles}],
            "schema": schema,
        }

    return _publish(table_path, fs, "merge", build, retries=max_retries)


def adopt_plain_table(table_path: str, fs: WarehouseFS | None = None) -> int:
    """Commit the PRE-EXISTING plain-parquet contents of ``table_path`` as
    version 1, referencing the files in place — no rewrite, O(1) metadata.

    The bridge from an unversioned table to the versioned protocol: once
    ``_manifests/`` exists, readers serve only the manifest snapshot, so a
    versioned append onto a plain table would otherwise silently shadow
    every pre-existing row (ADVICE r04).  Raises EngineIOError if the table
    is already versioned or has no data files to adopt."""
    fs = _fs(fs)
    if is_versioned(table_path, fs):
        raise EngineIOError("table is already versioned", table_path)
    files = []
    for rel, _size, _mtime in fs.walk_files(table_path):
        top = rel.split("/", 1)[0]
        if top in (_MANIFEST_DIR, _DATA_DIR):
            continue
        if rel.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue
        files.append(rel)
    if not files:
        raise EngineIOError("no plain data files to adopt", table_path)
    return _publish(
        table_path,
        fs,
        "adopt",
        lambda pm, v: {"files": sorted(files), "schema": None},
        parent={},
    )


def _read_files(
    spark: SparkSession,
    table_path: str,
    files: list[str],
    fs: WarehouseFS,
    merge_schema: bool = False,
) -> DataFrame:
    """Read an explicit manifest file list, recovering dir-encoded
    partition columns.

    Explicit file lists disable Hive-style partition discovery, which
    would silently DROP partition columns from a ``partition_by`` commit
    (``data/<stage>/p=1/part-*.parquet`` reads back without ``p``), and a
    single ``basePath`` cannot span several staged commits (each stage
    dir is its own partition root -> CONFLICTING_DIRECTORY_STRUCTURES).
    So: group the files by partition root (path prefix up to the first
    ``key=value`` segment), scan each group with ITS root as basePath,
    and union the groups by name — the per-manifest-group scan shape an
    Iceberg reader uses.  Unpartitioned layouts form one rootless group
    and read exactly as before."""
    groups: dict[str | None, list[str]] = {}
    for f in files:
        segs = f.split("/")
        kv = next((i for i, s in enumerate(segs[:-1]) if "=" in s), None)
        root = "/".join(segs[:kv]) if kv is not None else None
        groups.setdefault(root, []).append(f)
    dfs = []
    for root in sorted(groups, key=lambda r: (r is not None, r or "")):
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if root is not None:
            base = fs.join(table_path, root) if root else table_path
            reader = reader.option("basePath", base)
        dfs.append(
            reader.parquet(*(fs.join(table_path, f) for f in groups[root]))
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def read_version(
    spark: SparkSession,
    table_path: str,
    version: int | str | None = None,
    fs: WarehouseFS | None = None,
    merge_schema: bool = False,
    predicates: list[tuple] | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read a committed version (default: latest) — exactly the files its
    manifest lists, so concurrent commits never tear a read.
    ``merge_schema`` reconciles parts committed with evolved schemas
    across appends (same contract as Engine.table).

    ``predicates`` — [(col, op, value)], op in <,<=,>,>=,= — prunes the
    DATA file list against the manifest's per-file [min, max] stats
    (``stats_cols`` at commit time) before any scan is planned, then
    applies the exact filter to the surviving rows.  At 100 TB this is
    the decisive mechanism: a selective predicate over a stats/Z-ordered
    column turns a full-table scan into a handful of file reads without
    touching a footer.  Equality-delete key files are never pruned (they
    are row-level tombstones, not data)."""
    fs = _fs(fs)
    if isinstance(version, str):
        if branch is not None:
            raise EngineIOError(
                "tags name MAIN-chain snapshots; a branch read takes a "
                "numeric branch version",
                table_path,
            )
        # a string names a TAG first (immutable wins any ambiguity),
        # falling back to a BRANCH head — the Iceberg VERSION AS OF
        # name-resolution order
        try:
            version = resolve_tag(table_path, version, fs)
        except TableNotFoundError:
            if not list_versions(table_path, fs, version):
                raise
            branch, version = version, None
    v = (
        current_version(table_path, fs, branch)
        if version is None
        else version
    )
    # paged manifests skip whole pages on these predicates before any
    # page JSON is parsed; file-level pruning below then sees only the
    # surviving pages' entries (same final set, bounded driver work)
    m = read_manifest(
        table_path, v, fs, predicates=predicates, branch=branch
    )
    data_files = prune_files(m, predicates)
    # post-alter reads mix file generations with different physical
    # schemas; merge-read + op-chain conformance reconcile them
    if m.get("schema_ops"):
        merge_schema = True

    def _post(df: DataFrame) -> DataFrame:
        df = _conform_schema(df, m)
        return _apply_predicates(df, predicates) if predicates else df

    if not data_files:
        from pyspark.sql import types as T

        return spark.createDataFrame([], T.StructType.fromJson(m["schema"]))
    deletes = m.get("deletes", [])
    if not deletes:
        return _post(
            _read_files(spark, table_path, data_files, fs, merge_schema)
        )
    # merge-on-read: apply pending deletes scoped by sequence number — a
    # delete at seq d affects only files added STRICTLY BEFORE d (an
    # upsert batch must not delete its own rows; legacy manifests without
    # file_seq read as seq 0: every delete applies).  Files group by
    # their applicable-delete set, each group reads + filters/anti-joins
    # independently, union by name; group count is bounded by the
    # pending-delete count, which compaction resets.
    from pyspark.sql import functions as F

    fseq = m.get("file_seq", {})
    by_dels: dict[tuple[int, ...], list[str]] = {}
    for f in data_files:
        add_seq = int(fseq.get(f, 0))
        dd = tuple(
            i for i, d in enumerate(deletes) if add_seq < int(d["seq"])
        )
        by_dels.setdefault(dd, []).append(f)
    parts = []
    for dd, files in sorted(by_dels.items()):
        part = _read_files(spark, table_path, files, fs, merge_schema)
        # conform BEFORE delete application: deletes recorded after an
        # alter reference post-alter names, which pre-alter files only
        # acquire through the op chain (alter refuses pending deletes,
        # so no delete can predate the ops that precede it)
        part = _conform_schema(part, m)
        for i in dd:
            d = deletes[i]
            if "pred" in d:
                # DELETE removes rows where pred IS TRUE; NULL-pred rows
                # stay (three-valued logic)
                part = part.filter(
                    ~F.coalesce(F.expr(d["pred"]), F.lit(False))
                )
            else:
                keys = _read_files(spark, table_path, d["eq_files"], fs)
                part = part.join(keys, d["eq_cols"], "left_anti")
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return _post(out)


# DDL type name -> Spark schema-JSON type name (simple types; decimal
# strings pass through verbatim — both forms are valid schema JSON)
_DDL_TO_JSON = {
    "bigint": "long", "long": "long", "int": "integer",
    "integer": "integer", "smallint": "short", "tinyint": "byte",
    "string": "string", "double": "double", "float": "float",
    "boolean": "boolean", "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz", "binary": "binary",
}


def apply_schema_ops(df: DataFrame, ops: list[dict]) -> DataFrame:
    """Conform a frame to a chain of schema-evolution ops, idempotently:
    ``add`` only when the column is absent (files written after the
    alter already carry it), ``rename`` only while the old name is
    present, ``drop`` whenever the column exists.  Idempotence is what
    lets ONE op chain serve every file generation in a mixed read."""
    for op in ops:
        if op["op"] == "add" and op["name"] not in df.columns:
            df = df.withColumn(
                op["name"], F.lit(None).cast(op["type"])
            )
        elif op["op"] == "rename" and op["from"] in df.columns:
            if op["to"] in df.columns:
                # a merged read holds BOTH physical columns (file
                # generations on each side of the rename); every row has
                # its value in exactly one of them — coalesce into the
                # new name rather than skipping (which would NULL the
                # pre-alter generation's values)
                df = df.withColumn(
                    op["to"],
                    F.coalesce(F.col(op["to"]), F.col(op["from"])),
                ).drop(op["from"])
            else:
                df = df.withColumnRenamed(op["from"], op["to"])
        elif op["op"] == "drop" and op["name"] in df.columns:
            df = df.drop(op["name"])
    return df


def file_column_map(
    phys_names: list[str], ops: list[dict]
) -> dict[str, str | None]:
    """Per-FILE schema conformance plan: one file generation's physical
    column names -> ``{target_name: physical_source_name | None}``
    through the schema-op chain (None = the column was added after this
    file was written; its value reads as null).

    The file-level analog of ``apply_schema_ops`` for readers that scan
    files individually (the ``cfstable`` DataSource, the CDC tail)
    instead of through one merged DataFrame: the same idempotence rules
    replayed over a NAME SET instead of a frame, so a pre-alter file
    resolves renamed columns to their old physical names, post-alter
    files resolve identically, and dropped columns simply vanish from
    the request list (column-pruned at the parquet scan)."""
    mapping: dict[str, str | None] = {n: n for n in phys_names}
    for op in ops:
        if op["op"] == "add":
            if op["name"] not in mapping:
                mapping[op["name"]] = None
        elif op["op"] == "rename":
            if op["from"] in mapping:
                if op["to"] in mapping:
                    # a single parquet file never carries both sides of
                    # a metadata-only rename; if a hand-built file does,
                    # the post-alter name wins (matches apply_schema_ops'
                    # coalesce preferring the new column)
                    mapping.pop(op["from"])
                else:
                    mapping[op["to"]] = mapping.pop(op["from"])
        elif op["op"] == "drop":
            mapping.pop(op["name"], None)
    return mapping


def _conform_schema(df: DataFrame, m: dict) -> DataFrame:
    ops = m.get("schema_ops") or []
    if not ops:
        return df
    df = apply_schema_ops(df, ops)
    return df.select(*[f["name"] for f in m["schema"]["fields"]])


def alter_schema(
    table_path: str, ops: list[dict], fs: WarehouseFS | None = None
) -> int:
    """METADATA-ONLY schema evolution (the Iceberg alter path): commit a
    new version with the SAME file set and an updated schema + op chain;
    zero data rewritten at any table size.  Reads conform every file
    generation through the op chain (apply_schema_ops), so time travel
    to pre-alter versions still serves the old shape.

    ops: ``{"op": "add", "name", "type"}`` (nullable, DDL type string),
    ``{"op": "rename", "from", "to"}``, ``{"op": "drop", "name"}``.

    Refused while merge-on-read deletes are pending: delete predicates
    are recorded against commit-time column names, and without field IDs
    a rename underneath them would silently mis-apply — ``compact_version``
    first (exactly Iceberg's name-mapping caveat).  Renames/drops remap
    the per-file prune stats so file skipping keeps working."""
    fs = _fs(fs)
    pm = read_manifest(table_path, current_version(table_path, fs), fs)
    if pm.get("deletes"):
        raise EngineIOError(
            "schema alter with pending merge-on-read deletes is not "
            "supported (predicates reference commit-time names); "
            "compact_version first",
            table_path,
        )
    if not pm.get("schema"):
        raise EngineIOError("manifest records no schema", table_path)
    fields = [dict(f) for f in pm["schema"]["fields"]]
    stats = {f: dict(st) for f, st in pm.get("stats", {}).items()}
    chain = list(pm.get("schema_ops", []))
    for op in ops:
        names = [f["name"] for f in fields]
        if op["op"] == "add":
            if op["name"] in names:
                raise EngineIOError(
                    f"column {op['name']!r} already exists", table_path
                )
            if any(
                c["op"] == "drop" and c["name"] == op["name"]
                for c in chain
            ):
                # drop-then-readd breaks op-chain idempotence: files
                # written AFTER the re-add physically carry the name, and
                # the inherited drop op would silently null their values
                # (the drop can't tell generations apart without field
                # IDs).  Materialize the drop first.
                raise EngineIOError(
                    f"column {op['name']!r} was previously dropped; "
                    "re-adding it requires compact_version first (the "
                    "pending drop op cannot distinguish pre-drop files "
                    "from re-added data)",
                    table_path,
                )
            t = op["type"].strip().lower()
            jt = _DDL_TO_JSON.get(t)
            if jt is None and not t.startswith("decimal"):
                raise EngineIOError(
                    f"unsupported ADD COLUMN type {op['type']!r}",
                    table_path,
                )
            fields.append(
                {
                    "name": op["name"],
                    "type": jt or t,
                    "nullable": True,
                    "metadata": {},
                }
            )
        elif op["op"] == "rename":
            if op["from"] not in names:
                raise EngineIOError(
                    f"column {op['from']!r} not found", table_path
                )
            if op["to"] in names:
                raise EngineIOError(
                    f"column {op['to']!r} already exists", table_path
                )
            for f in fields:
                if f["name"] == op["from"]:
                    f["name"] = op["to"]
            for st in stats.values():
                if op["from"] in st:
                    st[op["to"]] = st.pop(op["from"])
        elif op["op"] == "drop":
            if op["name"] not in names:
                raise EngineIOError(
                    f"column {op['name']!r} not found", table_path
                )
            if len(fields) == 1:
                raise EngineIOError(
                    "cannot drop the last column", table_path
                )
            fields = [f for f in fields if f["name"] != op["name"]]
            for st in stats.values():
                st.pop(op["name"], None)
        else:
            raise EngineIOError(
                f"unknown schema op {op.get('op')!r}", table_path
            )
        chain.append(op)
    return _publish(
        table_path,
        fs,
        "alter",
        lambda pm, v: {
            "schema": {"type": "struct", "fields": fields},
            "schema_ops": chain,
            "stats": stats,
        },
        parent=pm,
    )


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    fs: WarehouseFS | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Incremental scan (Iceberg incremental-read analog): the rows ADDED
    between ``from_version`` (exclusive) and ``to_version`` (inclusive,
    default latest) — i.e. exactly the files present in the target
    manifest but not in the base manifest.  The CDC-read primitive for
    append-shaped pipelines: a consumer that remembers its last version
    reads only new data, never rescans the table.

    Raises EngineIOError when the range contains a non-additive commit
    (overwrite/compact/rollback dropped files) — the file-set diff would
    not equal the row-level change set, so refusing beats silently wrong
    incremental results."""
    fs = _fs(fs)
    to_v = (
        current_version(table_path, fs, branch)
        if to_version is None
        else to_version
    )
    # branch form: base 0 means "since the fork point" — the branch's v1
    # duplicates main's snapshot, so its own deltas start at v1
    base_m = read_manifest(
        table_path, max(from_version, 1) if branch else from_version,
        fs, branch=branch,
    )
    base = set(base_m["files"])
    target_m = read_manifest(table_path, to_v, fs, branch=branch)
    target = set(target_m["files"])
    removed = base - target
    if removed:
        raise EngineIOError(
            f"non-additive commit in ({from_version}, {to_v}]: "
            f"{len(removed)} file(s) removed; incremental read is only "
            "defined over append-only ranges",
            table_path,
        )
    if base_m.get("deletes", []) != target_m.get("deletes", []):
        # a merge-on-read delete removes ROWS without removing files —
        # the file-set diff would misreport the change set
        raise EngineIOError(
            f"non-additive commit in ({from_version}, {to_v}]: pending "
            "merge-on-read deletes changed; incremental read is only "
            "defined over append-only ranges",
            table_path,
        )
    added = sorted(target - base)
    if not added:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [], T.StructType.fromJson(target_m["schema"])
        )
    # partition-root-grouped read: keeps dir-encoded partition columns;
    # merge-read + op-chain conformance when the range crosses a schema
    # alter (files added pre-alter carry pre-alter physical names)
    evolved = bool(target_m.get("schema_ops"))
    out = _read_files(spark, table_path, added, fs, merge_schema=evolved)
    return _conform_schema(out, target_m) if evolved else out


def rollback(
    table_path: str, to_version: int, fs: WarehouseFS | None = None
) -> int:
    """Commit a NEW version whose file set duplicates ``to_version`` —
    history stays append-only (Iceberg rollback semantics), so the bad
    version remains inspectable."""
    fs = _fs(fs)
    # restore the TARGET's file, delete and sequence state: rolling back
    # past a merge-on-read delete must resurrect its rows
    m = read_manifest(table_path, to_version, fs)
    return _publish(
        table_path,
        fs,
        "rollback",
        lambda pm, v: {"rollback_of": to_version},
        parent=read_manifest(table_path, current_version(table_path, fs), fs),
        source=m,
    )


def compact_version(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    fs: WarehouseFS | None = None,
    zorder_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Compact the CURRENT version's file set into ~target-sized files and
    commit the result as a new version (mode ``compact``) — content
    identical, history intact (Iceberg rewrite-data-files semantics).  The
    superseded small files stay reachable through older manifests until
    ``expire_versions`` reclaims them.

    ``zorder_by``: lay the rewrite out along a Morton curve over the given
    integer columns (plans/zorder.py) instead of hash-repartitioning —
    every output file then covers a tight [min, max] range in EVERY
    Z column, which is what makes ``stats_cols`` + read-time
    ``predicates`` pruning effective on all of them (the Delta/Iceberg
    OPTIMIZE ... ZORDER BY maintenance verb)."""
    import math

    fs = _fs(fs)
    parent = current_version(table_path, fs)
    pm = read_manifest(table_path, parent, fs)
    df = read_version(spark, table_path, parent, fs)
    props = get_properties(table_path, fs)
    # size the rewrite from the actual on-disk bytes of the parent set
    sizes = {rel: size for rel, size, _m in fs.walk_files(table_path)}
    est = sum(sizes.get(f, 0) for f in pm["files"])
    n = max(1, math.ceil(est / target_file_bytes))
    if zorder_by:
        from cubefs_hadoop_spark.plans.zorder import zorder_layout

        out_df = zorder_layout(df, zorder_by, n)
    else:
        out_df = df.repartition(n)
    stage, files = _stage_write(
        out_df, table_path, None, fs, _prop_write_opts(props, out_df)
    )
    if stats_cols is None:
        stats_cols = _prop_cols(props, "cfs.stats.cols")
    stats = _collect_file_stats(spark, table_path, stage, files, stats_cols, fs)
    # the rewrite read applied pending MoR deletes and the op chain, so
    # both are now MATERIALIZED: fresh sequence numbers, no deletes, no ops
    return _publish(
        table_path,
        fs,
        "compact",
        lambda pm, v: {
            "stage": stage,
            "files": files,
            "file_seq": dict.fromkeys(files, v),
            "deletes": [],
            "partition_by": [],
            "schema": df.schema.jsonValue(),
            "stats": stats,
            "schema_ops": [],
        },
        parent=pm,
    )


def binpack_version(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
    stats_cols: list[str] | None = None,
    fs: WarehouseFS | None = None,
) -> int | None:
    """Incremental small-file compaction (Iceberg rewrite-data-files
    binpack / Delta OPTIMIZE semantics): rewrite ONLY the current
    snapshot's files smaller than ``min_file_bytes`` (default 3/4 of
    target, the Iceberg convention) into ~target-sized files, and commit
    a new version that keeps every already-well-sized file untouched —
    inheriting its sequence number and harvested column stats verbatim.

    This is the 100 TB maintenance verb ``compact_version`` cannot be:
    a streaming-ingest table accretes thousands of small commit files,
    and a full rewrite is O(table) every time, while binpack is O(small
    files) — the big files written by earlier binpacks never move again.

    Returns the committed version, or ``None`` when nothing qualifies
    (fewer than two small files — rewriting one file buys nothing).

    Refused on pending merge-on-read deletes or schema evolution: a
    partial rewrite would leave a manifest where rewritten files have the
    deletes/ops applied and kept files do not; ``compact_version``
    materializes both and is the documented route."""
    import math

    fs = _fs(fs)
    parent = current_version(table_path, fs)
    pm = read_manifest(table_path, parent, fs)
    if pm.get("deletes"):
        raise EngineIOError(
            "binpack with pending merge-on-read deletes would apply them "
            "to rewritten files only; run compact_version first",
            table_path,
        )
    if pm.get("schema_ops"):
        raise EngineIOError(
            "binpack with pending schema evolution would conform rewritten "
            "files only; run compact_version first",
            table_path,
        )
    if min_file_bytes is None:
        min_file_bytes = (target_file_bytes * 3) // 4
    sizes = {rel: size for rel, size, _m in fs.walk_files(table_path)}
    small = [f for f in pm["files"] if sizes.get(f, 0) < min_file_bytes]
    if len(small) < 2:
        return None
    small_set = set(small)
    keep = [f for f in pm["files"] if f not in small_set]
    partition_by = pm.get("partition_by") or []
    if partition_by:
        # recover the Hive-encoded partition columns via basePath — per
        # STAGE dir, because each commit staged under its own
        # data/<stage>/ prefix and one table-wide basePath makes Spark's
        # partition discovery see conflicting directory structures
        groups: dict[str, list[str]] = {}
        for f in small:
            stage_root = "/".join(f.split("/")[:2])  # data/<stage>
            groups.setdefault(stage_root, []).append(f)
        parts = [
            spark.read.option("basePath", fs.join(table_path, root)).parquet(
                *(fs.join(table_path, f) for f in fl)
            )
            for root, fl in groups.items()
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
    else:
        df = spark.read.parquet(*(fs.join(table_path, f) for f in small))
    est = sum(sizes.get(f, 0) for f in small)
    n = max(1, math.ceil(est / target_file_bytes))
    out_df = df.repartition(n) if not partition_by else df.repartition(
        n, *partition_by
    )
    props = get_properties(table_path, fs)
    stage, new_files = _stage_write(
        out_df,
        table_path,
        partition_by or None,
        fs,
        _prop_write_opts(props, out_df),
    )
    old_stats = pm.get("stats") or {}
    if stats_cols is None:
        # re-harvest whatever the parent snapshot tracked; if it tracked
        # nothing (e.g. string-typed cols through the footer-only staged
        # path), fall back to the table's declared tier like compact does
        stats_cols = sorted(
            {c for st in old_stats.values() for c in st}
        ) or _prop_cols(props, "cfs.stats.cols")
    new_stats = _collect_file_stats(
        spark, table_path, stage, new_files, stats_cols, fs
    )
    seqs = pm.get("file_seq") or {}
    # kept files inherit their sequence number and stats verbatim
    return _publish(
        table_path,
        fs,
        "binpack",
        lambda pm, v: {
            "stage": stage,
            "files": keep + new_files,
            "file_seq": {
                **{f: seqs.get(f, parent) for f in keep},
                **dict.fromkeys(new_files, v),
            },
            "stats": {
                **{f: old_stats[f] for f in keep if f in old_stats},
                **new_stats,
            },
        },
        parent=pm,
    )


def expire_versions(
    table_path: str,
    keep_last: int = 1,
    fs: WarehouseFS | None = None,
    orphan_grace_ms: int = 15 * 60 * 1000,
) -> dict:
    """Drop all but the last ``keep_last`` manifests and delete data files
    no retained version references (incl. orphaned staging dirs from failed
    commits).  The time-travel GC: bounded metadata, bounded storage.

    Two classes of unreferenced data file, treated differently (the
    Iceberg orphan-file-cleanup age-cutoff pattern):

    * files referenced by an EXPIRED manifest — provably superseded table
      data; reclaimed immediately.
    * files referenced by NO manifest this sweep can see — possibly the
      staged parquet of an IN-FLIGHT ``commit_version`` (written by
      ``_stage_write`` before its manifest publishes, or by a commit that
      landed after our ``list_versions`` snapshot).  Deleting those would
      publish a manifest pointing at vanished files.  Reclaimed only when
      older than ``orphan_grace_ms`` — a genuinely crashed stage, not a
      live one.
    """
    fs = _fs(fs)
    vs = list_versions(table_path, fs)
    if not vs:
        return {"versions_removed": 0, "files_removed": 0}
    keep = set(vs[-max(keep_last, 1):])
    # tagged versions are pinned: a tag is a promise the snapshot stays
    # readable (Iceberg tag-retention semantics)
    keep |= {v for v in list_tags(table_path, fs).values() if v in vs}
    referenced: set[str] = set()
    expired_refs: set[str] = set()
    live_pages: set[str] = set()
    torn_roots: list[int] = []
    for v in vs:
        try:
            m = read_manifest(table_path, v, fs)
        except EngineIOError:
            if v in keep:
                raise  # a LIVE version with missing pages is corruption
            # an EXPIRED root whose pages a crashed pre-reorder sweep
            # already reclaimed: self-heal by dropping the root; its
            # files are either referenced by other versions (kept) or
            # expired anyway (grace-reaped as never-referenced)
            torn_roots.append(v)
            continue
        refs = set(m["files"])
        for d in m.get("deletes", []):
            # equality-delete key files are live data too: reaping them
            # would break every read of a version holding the entry
            refs.update(d.get("eq_files", []))
        (referenced if v in keep else expired_refs).update(refs)
        if v in keep:
            live_pages.update(p["path"] for p in m.get("pages", []))
    # live BRANCHES pin their file sets too: a WAP audit branch must stay
    # readable until drop_branch, whatever main expires underneath it
    # (branch page files live under the branch dir, outside this sweep's
    # pages/ scan, so only the data-file census needs them)
    for b in list_branches(table_path, fs):
        for bv in list_versions(table_path, fs, b):
            bm = read_manifest(table_path, bv, fs, branch=b)
            referenced.update(bm["files"])
            for d in bm.get("deletes", []):
                referenced.update(d.get("eq_files", []))
    expired_refs -= referenced
    removed_versions = 0
    md = _manifest_dir(table_path, fs)
    now_ms = int(time.time() * 1000)
    # ROOTS FIRST, pages second: a crash between the two leaves orphan
    # PAGES (reaped by the next sweep's grace logic below) — the reverse
    # order would leave a root pointing at deleted pages, and the next
    # sweep's census (full read_manifest) would fail forever on it
    for v in vs:
        if v not in keep:
            fs.delete(_manifest_path(table_path, v, fs), recursive=False)
            removed_versions += 1
    for rel, _size, mtime_ms in list(fs.walk_files(md)):
        # sweep orphaned publish tmp files left by a crash mid-commit —
        # ONLY when old enough that no in-flight commit can still own
        # them (a concurrent writer is between tmp-write and publish for
        # milliseconds, not minutes)
        if rel.startswith(".tmp-") and now_ms - mtime_ms > orphan_grace_ms:
            fs.delete(fs.join(md, rel), recursive=False)
        # manifest PAGES (format 2): a page not referenced by any kept
        # root is either an expired version's (provably superseded:
        # its vNNNNN prefix names a dropped version whose root is
        # already gone — reclaim now) or a conflict-loser orphan whose
        # root never published (reclaim after the same grace as
        # crashed data stages)
        if rel.startswith(f"{_PAGES_DIR}/") and rel not in live_pages:
            name = rel.rsplit("/", 1)[-1]
            pv = None
            if name.startswith("v"):
                try:
                    pv = int(name[1:].split("-", 1)[0])
                except ValueError:
                    pv = None
            superseded = pv is not None and pv in vs and pv not in keep
            if superseded or now_ms - mtime_ms > orphan_grace_ms:
                fs.delete(fs.join(md, rel), recursive=False)
    removed_files = 0
    data_root = fs.join(table_path, _DATA_DIR)
    for rel, _size, mtime_ms in list(fs.walk_files(data_root)):
        full_rel = f"{_DATA_DIR}/{rel}"
        if full_rel in referenced:
            continue
        if full_rel not in expired_refs and now_ms - mtime_ms <= orphan_grace_ms:
            continue  # never-referenced and fresh: may be an in-flight stage
        fs.delete(fs.join(data_root, rel), recursive=False)
        removed_files += 1
    # ADOPTED files (adopt_plain_table) live at the table root, outside
    # data/ — reclaim them too once expired manifests are their only
    # reference (no age guard needed: a manifest provably referenced
    # them, so they are not an in-flight stage)
    for rel in sorted(expired_refs):
        if rel.startswith(f"{_DATA_DIR}/"):
            continue  # handled by the data_root sweep above
        fp = fs.join(table_path, rel)
        if fs.exists(fp):
            fs.delete(fp, recursive=False)
            removed_files += 1
    # the same grace guards empty-DIR pruning: an empty dir can be a
    # concurrent Spark write's just-created _temporary attempt dir, and
    # rmdir'ing it aborts that task
    fs.cleanup_empty_dirs(data_root, min_age_ms=orphan_grace_ms)
    return {"versions_removed": removed_versions, "files_removed": removed_files}
