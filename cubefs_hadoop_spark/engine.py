"""Engine — the reference's HCFS storage contract re-expressed at table level.

The reference (io.cubefs.CubefsFileSystem) implements byte-level filesystem
verbs; a Spark-native engine exposes the same *capability* as a table
warehouse over parquet directories.  The mapping (SURVEY §2A):

    N1  initialize           -> Engine(spark, warehouse_root); cfspark.* conf
                                keys mirror cfs.* (CubefsConfigs.java:21-49)
    N3  open/scan            -> Engine.table -> spark.read.parquet
    N6  create (+overwrite)  -> write_table(mode='overwrite'|'errorifexists')
                                (create's EEXIST/O_TRUNC branch,
                                CubefsFileSystem.java:180-186)
    N8  append               -> write_table(mode='append')  — Spark appends
                                new part files to the table directory rather
                                than bytes to one file (CubefsFileSystem.java:195-209)
    N9  flush/sync           -> parquet committer + _SUCCESS marker
    N10 rename (commit)      -> rename_table; refuses when dst exists, the
                                reference's documented semantics
                                (CubefsFileSystem.java:221-223)
    N11 delete recursive     -> drop_table (CubefsFileSystem.java:248-277)
    N12 listStatus           -> list_tables / describe
                                (CubefsFileSystem.java:280-336)
    N13 getFileStatus        -> table_exists / describe (:382-393)
    N14 mkdirs               -> create_database (:355-380)
    N18 getContentSummary    -> table_stats (:432-436)
    N19 close                -> close (:443-447)
    N20 errno mapping        -> typed errors (errors.py)

Everything data-plane (buffering, batched listing, split planning) is
delegated to Spark's parquet source exactly the way the reference delegates
query compute to its host engines.
"""

from __future__ import annotations

import re
import weakref

from pyspark.sql import DataFrame, SparkSession

from cubefs_hadoop_spark.errors import (
    EngineIOError,
    NotATableError,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from cubefs_hadoop_spark.fs import warehouse_fs

_VALID_MODES = ("errorifexists", "overwrite", "append", "ignore")


def _ts_to_ms(ts: str | int) -> int:
    from cubefs_hadoop_spark import versioning

    return versioning.ts_to_ms(ts)


def _split_top_level(s: str) -> list[str]:
    """Split a SQL list on commas that sit at paren depth 0 outside string
    literals — `SET a = f(x, y), b = 'p,q'` is two assignments, not four."""
    parts, depth, quote, start = [], 0, None, 0
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p for p in parts if p.strip()]

# SparkSession -> names of temp views Engines registered on it (weak so a
# stopped session's entry does not outlive it)
_SESSION_TEMP_VIEWS: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = (
    weakref.WeakKeyDictionary()
)


def _session_engine_temp_views(spark: SparkSession) -> set[str]:
    views = _SESSION_TEMP_VIEWS.get(spark)
    if views is None:
        views = set()
        _SESSION_TEMP_VIEWS[spark] = views
    return views


class Engine:
    """Table warehouse over a root directory of parquet part-file tables.

    Layout convention: ``<warehouse_root>/<database>/<table>/part-*.parquet``
    with Spark's ``_SUCCESS`` commit marker — the same directory-of-parts
    shape the reference's host engines produce through the
    create/mkdirs/rename/delete contract (SURVEY §3 E2).

    The warehouse root may be a bare local path OR any Hadoop-FS URI the
    session resolves (``file://``, ``hdfs://``, ``s3a://``, a ``cfs://``
    connector like the reference): the data plane already rides Spark, and
    every metadata verb routes through a ``WarehouseFS`` backend (fs.py) —
    the reference's whole value proposition (a Hadoop FileSystem over a
    distributed store, CubefsFileSystem.java:43,58) preserved here.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        database: str = "default",
        create: bool = True,
    ):
        # N1 initialize: read cfspark.* conf (mirror of cfs.* keys,
        # CubefsConfigs.java:21-49); warehouse root is the volume analog.
        self.spark = spark
        conf_root = None
        try:
            conf_root = spark.conf.get("cfspark.warehouse.root", None)
        except Exception:
            pass
        self.warehouse_root = warehouse_root or conf_root
        if not self.warehouse_root:
            # missing-required-key behavior mirrors CubefsFileSystem.java:68-86
            raise EngineIOError("cfspark.warehouse.root / warehouse_root required")
        self.database = database
        self._closed = False
        self.fs = warehouse_fs(spark, self.warehouse_root)
        # catalog-first sql() state: when sync_catalog has registered this
        # database, sql() delegates to the session catalog and reconciles
        # only entries dirtied since the last statement (VERDICT r02 #6)
        self._synced_db: str | None = None
        self._dirty_tables: set[str] = set()
        self._catalog_known: set[str] = set()
        self._views_dirty = False
        # bcache analog (cfs.enable.bcache): cached table handles
        self._cached: dict[str, DataFrame] = {}
        # views registered as TEMP views (they reference versioned tables
        # and cannot be persistent): name -> SQL text, re-registered after
        # every dirty reconcile so they track the current snapshot
        self._temp_fallback_views: dict[str, str] = {}
        # every temp-view name AN ENGINE registered on this SparkSession
        # (bridge views, versioned-snapshot views, fallback views,
        # time-travel views).  Engine code may only dropTempView names in
        # this set — a same-named temp view the USER registered is not
        # ours to destroy (ADVICE r04; the rule drop_view/unsync_catalog
        # already honor).  Session-scoped, not instance-scoped: temp views
        # are session-global, so a later Engine must still be able to
        # clear a stale bridge view a PRIOR Engine leaked (it would shadow
        # catalog tables and serve stale data).
        self._engine_temp_views: set[str] = _session_engine_temp_views(spark)
        if create:
            self.create_database(database)

    # -- namespace ---------------------------------------------------------

    def _check_open(self) -> None:
        # N19 fidelity: the reference's closed native client rejects every
        # subsequent call (cfs_close_client, CubefsFileSystem.java:443-447);
        # a closed Engine does the same instead of silently operating.
        if self._closed:
            raise EngineIOError("engine is closed")

    @staticmethod
    def _validate_name(name: str, kind: str) -> str:
        """Reject names that would resolve outside the warehouse root.

        EINVAL analog (CubefsMount.java:92-99): ``drop_table('../x')`` or a
        rename to an absolute path must fail loudly, never rmtree an
        arbitrary directory.  Every verb resolves through _db_path /
        _table_path, so this is the single enforcement point for the whole
        Python API (the SQL router's identifier regex is separate)."""
        if not isinstance(name, str) or not name:
            raise EngineIOError(f"invalid {kind} name (empty)", str(name))
        bad = (
            "/" in name
            or "\\" in name
            or "\x00" in name
            or ":" in name
            or name in (".", "..")
            or name.startswith(".")
        )
        if bad:
            raise EngineIOError(f"invalid {kind} name", name)
        return name

    def _db_path(self, database: str | None = None) -> str:
        # single chokepoint: every verb resolves a path through here
        self._check_open()
        # substitute the session database only for None — an explicit ""
        # must fail validation, not silently mean "current database"
        db = self._validate_name(
            self.database if database is None else database, "database"
        )
        return self.fs.join(self.warehouse_root, db)

    def _table_path(self, name: str, database: str | None = None) -> str:
        db_path = self._db_path(database)
        return self.fs.join(db_path, self._validate_name(name, "table"))

    def create_database(self, database: str) -> None:
        """N14 mkdirs analog (CubefsFileSystem.java:355-380).  Idempotent,
        like the reference's re-mkdirs behavior (CubeFileSystemTest.java:44-61)."""
        self.fs.mkdirs(self._db_path(database))

    def use(self, database: str) -> None:
        """N16 working-directory analog (CubefsFileSystem.java:338-353)."""
        if not self.fs.is_dir(self._db_path(database)):
            raise TableNotFoundError("database not found", database)
        if database != self.database:
            # the synced-catalog delegation is per-database; a switch falls
            # back to the temp-view bridge until the new db is synced
            self._synced_db = None
        self.database = database

    # -- read path ---------------------------------------------------------

    def table(self, name: str, merge_schema: bool = False) -> DataFrame:
        """N3 open/scan analog.  Schema resolution performs the N13 stat
        check first so a missing table raises the typed ENOENT analog.

        ``merge_schema=True`` reconciles parts written with evolved schemas
        (new nullable columns appear as null in old parts) — reads every
        footer instead of one, so keep it off for stable-schema tables."""
        if name in self._cached:
            # bcache tier: serve the pinned handle (invalidated on any
            # write through this engine; external writers bypass it, the
            # standard cache-coherency bound of a client-side cache)
            return self._cached[name]
        path = self._table_path(name)
        if not self.fs.exists(path):
            raise TableNotFoundError("table not found", name)
        if not self.fs.is_dir(path):
            raise NotATableError("path is not a table directory", name)
        from cubefs_hadoop_spark import versioning

        if versioning.is_versioned(path, self.fs):
            # manifest-backed table: resolve the latest committed snapshot
            # (reading the raw directory would mix versions)
            return versioning.read_version(
                self.spark, path, fs=self.fs, merge_schema=merge_schema
            )
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(path)

    def sql(self, query: str) -> DataFrame:
        """Run SQL over the warehouse and delegate to Catalyst (the
        host-engine delegation the reference exists for, README.md:61-88).

        Catalog-first: once ``sync_catalog`` has registered the database,
        statements run against session-catalog tables and only entries
        dirtied since the last statement are reconciled — O(changes), not
        O(#tables) temp-view re-registrations per call.  Unsynced engines
        keep the original temp-view bridge (identical behavior)."""
        if self._synced_db is not None:
            return self._sql_catalog(query)
        for name in self.list_tables():
            self._register_temp_view(self.table(name), name)
        for name, text in self._views().items():
            self._register_temp_view(self.spark.sql(text), name)
        return self.spark.sql(query)

    def _register_temp_view(self, df: DataFrame, name: str) -> None:
        df.createOrReplaceTempView(name)
        self._engine_temp_views.add(name)

    def _drop_engine_temp_view(self, name: str) -> None:
        """Drop a temp view only if an Engine (this session) registered
        it — never a user-created temp view."""
        if name in self._engine_temp_views:
            self.spark.catalog.dropTempView(name)
            self._engine_temp_views.discard(name)

    def _mark_dirty(self, *names: str) -> None:
        if self._synced_db is not None:
            self._dirty_tables.update(names)
        for n in names:
            # a write invalidates the bcache tier for that table
            cached = self._cached.pop(n, None)
            if cached is not None:
                try:
                    cached.unpersist()
                except Exception:
                    pass

    def bcache_enabled(self) -> bool:
        """cfs.enable.bcache analog (CubefsConfigs.java:21-49, default
        false): when true, cache_table pins table blocks in Spark's
        block-manager cache — the client-side cache tier."""
        try:
            return (
                str(
                    self.spark.conf.get("cfspark.enable.bcache", "false")
                ).lower()
                == "true"
            )
        except Exception:
            return False

    def cache_table(self, name: str) -> DataFrame:
        """Pin ``name`` in the block-manager cache (bcache tier).  A
        no-op returning the plain scan when ``cfspark.enable.bcache`` is
        false — the reference's disabled-client-cache default.  Any write
        through this engine invalidates the cached handle."""
        if not self.bcache_enabled():
            return self.table(name)
        if name not in self._cached:
            self._cached[name] = self.table(name).cache()
        return self._cached[name]

    def uncache_table(self, name: str) -> None:
        cached = self._cached.pop(name, None)
        if cached is not None:
            cached.unpersist()

    def _sql_catalog(self, query: str) -> DataFrame:
        db, spark = self._synced_db, self.spark
        # ONE warehouse listing per statement (the budget VERDICT r02 #6
        # prescribes): catches tables another Engine/process created or
        # dropped in this warehouse since our sync — our own writes are in
        # the dirty set already.  Cross-engine APPENDS to an existing
        # table still need that engine's refresh (documented; detecting
        # them would cost a stat per table per statement).
        from cubefs_hadoop_spark import versioning

        current = set(self.list_tables())
        self._dirty_tables.update(current ^ self._catalog_known)
        self._catalog_known = current
        versioned_touched = False
        for name in sorted(self._dirty_tables):
            qn = f"{db}.{name}"
            if self.table_exists(name):
                if versioning.is_versioned(self._table_path(name), self.fs):
                    # manifest-backed: refresh the snapshot temp view (a
                    # LOCATION table would mix versions); drop any stale
                    # plain-table entry from a pre-versioned life
                    self._register_temp_view(self.table(name), name)
                    spark.sql(f"DROP TABLE IF EXISTS {qn}")
                    versioned_touched = True
                elif spark.catalog.tableExists(qn):
                    # appended/compacted data: drop cached file listings
                    spark.catalog.refreshTable(qn)
                else:
                    path = self._table_path(name).replace("'", "''")
                    spark.sql(
                        f"CREATE TABLE IF NOT EXISTS {qn} "
                        f"USING parquet LOCATION '{path}'"
                    )
                    self._drop_engine_temp_view(name)
            else:
                spark.sql(f"DROP TABLE IF EXISTS {qn}")
                self._drop_engine_temp_view(name)
        self._dirty_tables.clear()
        if self._views_dirty:
            self._sync_catalog_views(db)
            self._views_dirty = False
        elif versioned_touched and self._temp_fallback_views:
            # temp-fallback views capture one snapshot's file list at
            # registration; re-register them so they track the versioned
            # table state the reconcile just updated.  A view whose base
            # was dropped must not fail unrelated statements — prune it.
            prev = spark.catalog.currentDatabase()
            spark.catalog.setCurrentDatabase(db)
            broken = []
            try:
                for vname, text in self._temp_fallback_views.items():
                    try:
                        self._register_temp_view(spark.sql(text), vname)
                    except Exception:
                        self._drop_engine_temp_view(vname)
                        broken.append(vname)
            finally:
                spark.catalog.setCurrentDatabase(prev)
            for vname in broken:
                self._temp_fallback_views.pop(vname, None)
        prev = spark.catalog.currentDatabase()
        spark.catalog.setCurrentDatabase(db)
        try:
            # spark.sql resolves table identifiers at analysis time, so
            # restoring the previous database here is safe for the
            # returned (lazy) DataFrame
            return spark.sql(query)
        finally:
            spark.catalog.setCurrentDatabase(prev)

    # -- views (Hive-metastore parity: named saved queries) ----------------

    def _views_path(self) -> str:
        return self.fs.join(self._db_path(), "_views.json")

    def _views(self) -> dict[str, str]:
        import json

        try:
            return json.loads(self.fs.read_text(self._views_path()))
        except FileNotFoundError:
            return {}

    def _mviews_path(self) -> str:
        return self.fs.join(self._db_path(), "_mviews.json")

    def _mviews(self) -> dict[str, dict]:
        import json

        try:
            return json.loads(self.fs.read_text(self._mviews_path()))
        except FileNotFoundError:
            return {}

    def _save_mviews(self, mviews: dict) -> None:
        import json

        self.fs.mkdirs(self._db_path())
        self.fs.write_text(self._mviews_path(), json.dumps(mviews))

    @staticmethod
    def _is_row_local(df: DataFrame) -> bool:
        """True when every output row is a function of ONE input row —
        the class of views maintainable by applying the view query to
        just the base's delta and appending.  Judged from the ANALYZED
        logical plan: any cross-row operator (aggregate, join, window,
        distinct, sort/limit, set ops) disqualifies; Filter / Project /
        Generate(explode) are row-local."""
        plan = df._jdf.queryExecution().analyzed().toString()
        barriers = (
            "Aggregate", "Join", "Window", "Distinct", "Deduplicate",
            "Sort", "GlobalLimit", "LocalLimit", "Union", "Intersect",
            "Except",
        )
        return not any(b in plan for b in barriers)

    def create_materialized_view(
        self, name: str, select: str, base: str, replace: bool = False
    ) -> None:
        """MATERIALIZED view: the query result stored as a versioned
        table plus refresh metadata (_mviews.json).  ``base`` names the
        single source table the view reads.

        Refresh strategy is decided at creation from the analyzed plan:
        a ROW-LOCAL view (filter/projection/explode) over a VERSIONED
        base refreshes INCREMENTALLY — the view query runs over only the
        rows appended since the last refresh (versioning.read_changes)
        and the result appends to the store, O(delta) instead of
        O(base).  Anything cross-row (aggregate/join/window/distinct)
        or a plain-table base refreshes by full recompute."""
        mviews = self._mviews()
        if name in mviews and not replace:
            raise TableAlreadyExistsError(
                "materialized view already exists", name
            )
        if name in self._views() or (
            name not in mviews and self.table_exists(name)
        ):
            raise TableAlreadyExistsError(
                "view or table with this name exists", name
            )
        from cubefs_hadoop_spark import versioning

        df = self.sql(select)
        base_versioned = versioning.is_versioned(
            self._table_path(base), self.fs
        )
        self.write_table_version(df, name, mode="overwrite")
        mviews[name] = {
            "sql": select,
            "base": base,
            "base_version": (
                versioning.current_version(self._table_path(base), self.fs)
                if base_versioned
                else None
            ),
            "incremental": base_versioned and self._is_row_local(df),
        }
        self._save_mviews(mviews)
        self._mark_dirty(name)

    def refresh_materialized_view(self, name: str) -> dict:
        """Bring a materialized view up to date with its base.  Returns
        {"mode": "noop" | "incremental" | "full", "base_version": n}.
        Incremental maintenance falls back to a full recompute when the
        base history is non-additive since the last refresh (overwrite/
        compact — read_changes refuses the diff)."""
        from cubefs_hadoop_spark import versioning

        mviews = self._mviews()
        if name not in mviews:
            raise TableNotFoundError("materialized view not found", name)
        meta = mviews[name]
        base_path = self._table_path(meta["base"])
        base_versioned = versioning.is_versioned(base_path, self.fs)
        base_cur = (
            versioning.current_version(base_path, self.fs)
            if base_versioned
            else None
        )
        if base_versioned and base_cur == meta["base_version"]:
            return {"mode": "noop", "base_version": base_cur}
        mode = "full"
        if (
            meta["incremental"]
            and base_versioned
            and meta["base_version"] is not None
        ):
            try:
                delta = versioning.read_changes(
                    self.spark, base_path, meta["base_version"], base_cur,
                    fs=self.fs,
                )
                # evaluate the view text over ONLY the delta: a temp view
                # named like the base shadows the engine table for this
                # one statement (row-local SQL reads nothing else)
                self._register_temp_view(delta, meta["base"])
                try:
                    out = self.spark.sql(meta["sql"])
                    versioning.commit_version(
                        out,
                        self._table_path(name),
                        mode="append",
                        fs=self.fs,
                    )
                finally:
                    self._drop_engine_temp_view(meta["base"])
                mode = "incremental"
            except (EngineIOError, TableNotFoundError):
                # non-additive base history OR the recorded base_version
                # expired under GC (expire_versions -> manifest gone,
                # raised as TableNotFoundError): recompute from scratch
                # rather than leaving the MV permanently unrefreshable
                mode = "full"
        if mode == "full":
            self.write_table_version(
                self.sql(meta["sql"]), name, mode="overwrite"
            )
        meta["base_version"] = base_cur
        self._save_mviews(mviews)
        self._mark_dirty(name)
        return {"mode": mode, "base_version": base_cur}

    def mview_staleness(self, name: str) -> int | None:
        """Versions committed to the base since the last refresh (None
        for a plain-table base — no change tracking)."""
        from cubefs_hadoop_spark import versioning

        meta = self._mviews().get(name)
        if meta is None:
            raise TableNotFoundError("materialized view not found", name)
        if meta["base_version"] is None:
            return None
        return (
            versioning.current_version(
                self._table_path(meta["base"]), self.fs
            )
            - meta["base_version"]
        )

    def drop_materialized_view(self, name: str) -> None:
        mviews = self._mviews()
        if name not in mviews:
            raise TableNotFoundError("materialized view not found", name)
        del mviews[name]
        self._save_mviews(mviews)
        self.drop_table(name, ignore_missing=True)

    def create_view(self, name: str, select: str, replace: bool = False) -> None:
        """Persist a named view definition in the database ( _views.json —
        metadata-only, like a metastore entry; expanded lazily at sql()
        time so views always see current table data)."""
        import json

        views = self._views()
        if name in views and not replace:
            raise TableAlreadyExistsError("view already exists", name)
        if self.table_exists(name):
            raise TableAlreadyExistsError("table with this name exists", name)
        views[name] = select
        self.fs.mkdirs(self._db_path())
        self.fs.write_text(self._views_path(), json.dumps(views))
        self._views_dirty = True

    def drop_view(self, name: str, ignore_missing: bool = False) -> bool:
        import json

        views = self._views()
        if name not in views:
            if ignore_missing:
                return False
            raise TableNotFoundError("view not found", name)
        del views[name]
        self.fs.write_text(self._views_path(), json.dumps(views))
        self._views_dirty = True
        was_fallback = self._temp_fallback_views.pop(name, None) is not None
        if self._synced_db is not None:
            self.spark.sql(f"DROP VIEW IF EXISTS {self._synced_db}.{name}")
            if was_fallback:
                # drop OUR temp-view registration only — a same-named
                # user temp view is not ours to destroy (the rule
                # unsync_catalog honors)
                self._drop_engine_temp_view(name)
        return True

    def list_views(self) -> list[str]:
        return sorted(self._views())

    # -- session-catalog integration (metastore parity, SURVEY §3 E3) ------

    def sync_catalog(self, database: str | None = None) -> list[str]:
        """Register every warehouse table into Spark's SESSION CATALOG as
        an external parquet table, and every saved view as a catalog view —
        the Hive-metastore-parity path (the reference carries hive-metastore
        deps for exactly this, reference pom.xml:147-160).

        After syncing, plain ``spark.sql("SELECT ... FROM db.t")`` and the
        ``spark.catalog`` API (and therefore any Spark-connected tool —
        thriftserver, notebooks) see the warehouse without going through
        ``Engine.sql()``'s temp-view bridge.  Tables are EXTERNAL (LOCATION
        = the warehouse path): dropping the catalog entry never deletes
        data, and appends through the Engine are visible after the refresh
        this method performs.  Returns the qualified names registered.
        """
        db = self._validate_name(
            self.database if database is None else database, "database"
        )
        from cubefs_hadoop_spark import versioning

        spark = self.spark
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        registered = []
        versioned_tables: list[str] = []
        for name in self.list_tables():
            if versioning.is_versioned(self._table_path(name), self.fs):
                # a manifest-backed table has no single static file set; a
                # raw LOCATION catalog table would scan EVERY snapshot's
                # files (mixing versions).  Registered below as a temp
                # view over the current snapshot instead.
                versioned_tables.append(name)
                continue
            path = self._table_path(name).replace("'", "''")
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {db}.{name} "
                f"USING parquet LOCATION '{path}'"
            )
            # external location: new part files (Engine.append) appear on
            # refresh; without it Spark may serve cached file listings
            spark.catalog.refreshTable(f"{db}.{name}")
            registered.append(f"{db}.{name}")
        # Drop the temp views the unsynced bridge registered for these
        # names BEFORE creating catalog views: temp views shadow catalog
        # tables at analysis, so a stale bridge view would either serve old
        # data to the catalog-first path or make CREATE VIEW fail with
        # INVALID_TEMP_OBJ_REFERENCE when the view body names the table.
        for name in set(self.list_tables()) | set(self._views()):
            self._drop_engine_temp_view(name)
        for name in versioned_tables:
            # current snapshot as a session view; the per-statement dirty
            # reconcile refreshes it after each versioned commit.  Drop
            # any stale plain LOCATION entry from before the table became
            # versioned — a qualified db.t query would scan raw files
            # (temp views do not shadow qualified names).
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
            self._register_temp_view(self.table(name), name)
            registered.append(name)
        registered.extend(self._sync_catalog_views(db))
        if db == self._validate_name(self.database, "database"):
            # activate catalog-first sql() delegation for this engine
            self._synced_db = db
            self._dirty_tables.clear()
            self._catalog_known = set(self.list_tables())
            self._views_dirty = False
        return registered

    def _sync_catalog_views(self, db: str) -> list[str]:
        # Saved-view SQL references bare warehouse names.  A persisted
        # Spark view captures the CURRENT DATABASE at creation and resolves
        # its unqualified identifiers against it forever after (immune even
        # to later temp-view shadowing) — so create each view with the
        # current database set to ``db`` and let the analyzer do the
        # qualification.  (Replaces a round-2 regex word-boundary rewrite
        # of the view text, which could over-qualify a column that shared a
        # table's name — VERDICT r02 "What's wrong" #4.)
        spark = self.spark
        registered: list[str] = []
        pending = dict(self._views())
        self._temp_fallback_views = {}  # rebuilt by the fallback below
        prev_db = spark.catalog.currentDatabase()
        spark.catalog.setCurrentDatabase(db)
        try:
            for _ in range(max(len(pending), 1)):
                if not pending:
                    break
                failed: dict[str, str] = {}
                for vname, text in pending.items():
                    try:
                        spark.sql(f"CREATE OR REPLACE VIEW {db}.{vname} AS {text}")
                        registered.append(f"{db}.{vname}")
                    except Exception:
                        # may depend on a not-yet-created sibling view
                        failed[vname] = text
                if len(failed) == len(pending):
                    # No progress.  A view over a manifest-backed table
                    # cannot be a persistent catalog view (it would
                    # reference the snapshot TEMP view); register such
                    # views as temp views instead.  Anything still failing
                    # after that raises its real error.
                    still: dict[str, str] = {}
                    for vname, text in failed.items():
                        try:
                            self._register_temp_view(spark.sql(text), vname)
                            self._temp_fallback_views[vname] = text
                            registered.append(vname)
                        except Exception:
                            still[vname] = text
                    if len(still) == len(failed):
                        vname, text = next(iter(still.items()))
                        spark.sql(
                            f"CREATE OR REPLACE VIEW {db}.{vname} AS {text}"
                        )
                    failed = still
                pending = failed
        finally:
            spark.catalog.setCurrentDatabase(prev_db)
        return registered

    def analyze_table(
        self,
        name: str,
        columns: list[str] | None = None,
        enable_cbo: bool = True,
    ) -> dict:
        """Collect table (and optionally per-column) statistics into the
        session catalog — ANALYZE TABLE — so Catalyst's cost-based
        optimizer has real cardinalities for join reordering and
        broadcast-side selection (the reference leans on its host engines'
        ANALYZE for the same purpose; hive-metastore deps in reference
        pom.xml:147-160).

        Scale note: at 100 TB, CBO stats are what keep an 8-table join
        from picking a shuffle order that materializes a huge intermediate
        — size/rowCount are computed distributed (one scan), stored O(1)
        in the metastore.  Requires ``sync_catalog`` first (stats attach
        to catalog entries, not paths).  Returns the recorded stats.
        """
        if self._synced_db is None:
            raise EngineIOError(
                "analyze_table requires sync_catalog() first "
                "(statistics attach to session-catalog tables)"
            )
        if not self.table_exists(name):
            raise TableNotFoundError("table not found", name)
        qn = f"{self._synced_db}.{self._validate_name(name, 'table')}"
        spark = self.spark
        if enable_cbo:
            # runtime-settable SQL confs; harmless if already on
            spark.conf.set("spark.sql.cbo.enabled", "true")
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        # reconcile pending dirt so ANALYZE sees current files
        self._sql_catalog("SELECT 1")
        spark.sql(f"ANALYZE TABLE {qn} COMPUTE STATISTICS")
        if columns:
            cols = ", ".join(self._validate_name(c, "column") for c in columns)
            spark.sql(f"ANALYZE TABLE {qn} COMPUTE STATISTICS FOR COLUMNS {cols}")
        stats: dict = {}
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {qn}").collect():
            if row.col_name == "Statistics":
                stats["summary"] = row.data_type
        for c in columns or []:
            desc = spark.sql(
                f"DESCRIBE TABLE EXTENDED {qn} {c}"
            ).collect()
            stats[c] = {r.info_name: r.info_value for r in desc}
        return stats

    def unsync_catalog(self, database: str | None = None) -> None:
        """Remove this warehouse's entries from the session catalog
        (metadata only — external tables, data untouched)."""
        db = self._validate_name(
            self.database if database is None else database, "database"
        )
        if db == self._synced_db:
            self._synced_db = None
        if not any(d.name == db for d in self.spark.catalog.listDatabases()):
            return
        for t in self.spark.catalog.listTables(db):
            if t.isTemporary:
                continue  # session temp views are not ours to drop
            kind = "VIEW" if t.tableType == "VIEW" else "TABLE"
            self.spark.sql(f"DROP {kind} IF EXISTS {db}.{t.name}")

    def execute(self, stmt: str) -> DataFrame | None:
        """Hive/FsShell-parity statement router (the E3 metadata path plus
        Hive's CTAS/INSERT DML, SURVEY §3).  DDL/DML statements map onto the
        storage contract; anything else is a query delegated to sql().

          CREATE TABLE [IF NOT EXISTS] t AS <select>   -> write_table
          CREATE TABLE t2 CLONE t [VERSION AS OF n]    -> clone_table
          CREATE [OR REPLACE] VIEW v AS <select>       -> create_view
          INSERT INTO t <select>                       -> append
          INSERT OVERWRITE [TABLE] t <select>          -> atomic replace
          UPDATE t SET c = e[, ...] [WHERE <pred>]     -> update_table
          TRUNCATE [TABLE] t                           -> truncate_table
          DELETE FROM t WHERE <pred>                   -> delete_from
          MERGE INTO t USING (<select>) ON c1[, c2...] -> merge_table
          DROP TABLE [IF EXISTS] t                     -> drop_table
          DROP VIEW [IF EXISTS] v                      -> drop_view
          SHOW TABLES                                  -> list_tables
          DESCRIBE t                                   -> describe
          DESCRIBE HISTORY t                           -> table_history
          DESCRIBE DETAIL t                            -> table_detail
          SHOW TAGS t / SHOW BRANCHES t                -> tag/branch lists
          DESCRIBE FILES t                             -> table_files
          DESCRIBE PARTITIONS t                        -> table_partitions
          CREATE [OR REPLACE] MATERIALIZED VIEW m AS.. -> materialized view
          REFRESH MATERIALIZED VIEW m                  -> incremental/full
          DROP MATERIALIZED VIEW m                     -> drop_materialized_view
          ALTER TABLE t ADD CONSTRAINT n CHECK (e)     -> persisted check
          ALTER TABLE t DROP CONSTRAINT n              -> drop check
          ALTER TABLE t SET TBLPROPERTIES ('k'='v')    -> set_table_properties
          ALTER TABLE t UNSET TBLPROPERTIES ('k')      -> unset keys
          SHOW TBLPROPERTIES t                         -> table_properties
          ALTER TABLE t CREATE/DROP/PUBLISH BRANCH b   -> WAP branches
          ALTER TABLE t ADD COLUMN c type              -> alter_table
          ALTER TABLE t RENAME COLUMN a TO b           -> alter_table
          ALTER TABLE t DROP COLUMN c                  -> alter_table
          OPTIMIZE t                                   -> compact_table
          OPTIMIZE t BINPACK                           -> binpack_table
          OPTIMIZE t ZORDER BY (c1, c2)                -> optimize_table
          VACUUM                                       -> vacuum
          ANALYZE TABLE t [FOR COLUMNS c1, c2]         -> analyze_table
          ... FROM t VERSION AS OF n ...               -> time-travel read
          ... FROM t VERSION AS OF 'tag-or-branch' ... -> named-snapshot read
          ... FROM t TIMESTAMP AS OF 'iso-ts' ...      -> as-of-moment read
          RESTORE TABLE t TO VERSION AS OF n           -> rollback_table

        MERGE uses a restricted ANSI form (upsert-by-key: matched rows
        replaced, unmatched inserted — the same semantics merge_table
        implements); WHEN-clause grammars are out of scope.
        """
        s = stmt.strip().rstrip(";")
        # RESTORE must match BEFORE the time-travel rewrites (its tail is
        # literally `VERSION AS OF n`, which the rewrite would mangle)
        m = re.match(
            r"RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.rollback_table(m.group(1), int(m.group(2)))
            return None
        m = re.match(
            r"CREATE\s+TABLE\s+(\w+)\s+CLONE\s+(\w+)"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.clone_table(
                m.group(2),
                m.group(1),
                int(m.group(3)) if m.group(3) else None,
            )
            return None
        # time travel: rewrite `t VERSION AS OF n` to a temp view over the
        # snapshot (Iceberg SQL parity for versioned tables)
        tt = re.findall(r"(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)", s, re.IGNORECASE)
        for tname, ver in tt:
            view = f"__timetravel_{tname}_v{ver}"
            self._register_temp_view(self.read_version(tname, int(ver)), view)
            s = re.sub(
                rf"\b{re.escape(tname)}\s+VERSION\s+AS\s+OF\s+{ver}\b",
                view,
                s,
                flags=re.IGNORECASE,
            )
        # `t TIMESTAMP AS OF '2026-08-14 12:00:00'` — the table as it was
        # at that moment (latest commit <= ts, Iceberg/Delta contract)
        tt = re.findall(
            r"(\w+)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'", s, re.IGNORECASE
        )
        for tname, ts in tt:
            import hashlib

            view = (
                f"__timetravel_{tname}_ts_"
                f"{hashlib.md5(ts.encode()).hexdigest()[:8]}"
            )
            self._register_temp_view(
                self.read_version(tname, at_timestamp=ts), view
            )
            s = re.sub(
                rf"\b{re.escape(tname)}\s+TIMESTAMP\s+AS\s+OF\s+'{re.escape(ts)}'",
                view,
                s,
                flags=re.IGNORECASE,
            )
        # tag form: `t VERSION AS OF 'baseline'` (immutable named snapshot)
        tt = re.findall(
            r"(\w+)\s+VERSION\s+AS\s+OF\s+'([\w-]+)'", s, re.IGNORECASE
        )
        for tname, tag in tt:
            # tag names allow hyphens (tag_version's [\w-]); a raw tag in
            # the view name would be an invalid SQL identifier, so
            # sanitize and length-disambiguate (md5 keeps 'a-b' and 'a_b'
            # from colliding on the same view name)
            import hashlib

            safe = tag.replace("-", "_")
            uniq = hashlib.md5(tag.encode()).hexdigest()[:6]
            view = f"__timetravel_{tname}_t{safe}_{uniq}"
            self._register_temp_view(self.read_version(tname, tag), view)
            s = re.sub(
                rf"\b{re.escape(tname)}\s+VERSION\s+AS\s+OF\s+'{tag}'",
                view,
                s,
                flags=re.IGNORECASE,
            )
        m = re.match(
            r"DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)", s, re.IGNORECASE | re.DOTALL
        )
        if m:
            self.delete_from(m.group(1), m.group(2))
            return None
        m = re.match(
            r"UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            assigns = {}
            for part in _split_top_level(m.group(2)):
                am = re.match(r"(\w+)\s*=\s*(.+)$", part.strip(), re.DOTALL)
                if not am:
                    raise EngineIOError(f"cannot parse SET clause: {part!r}")
                assigns[am.group(1)] = am.group(2)
            self.update_table(m.group(1), assigns, m.group(3))
            return None
        m = re.match(r"TRUNCATE\s+(?:TABLE\s+)?(\w+)$", s, re.IGNORECASE)
        if m:
            self.truncate_table(m.group(1))
            return None
        m = re.match(
            r"MERGE\s+INTO\s+(\w+)\s+USING\s+\((.+)\)\s+ON\s+([\w\s,]+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            name, select, keys = m.group(1), m.group(2), m.group(3)
            self.merge_table(
                self.sql(select), name, [k.strip() for k in keys.split(",")]
            )
            return None
        m = re.match(
            r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.+)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            self.create_view(m.group(2), m.group(3), replace=bool(m.group(1)))
            return None
        m = re.match(r"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(\w+)", s, re.IGNORECASE)
        if m:
            self.drop_view(m.group(2), ignore_missing=bool(m.group(1)))
            return None
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+(.+)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            if_not_exists, name, select = m.group(1), m.group(2), m.group(3)
            if if_not_exists and self.table_exists(name):
                return None
            self.write_table(self.sql(select), name)
            return None
        m = re.match(
            r"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?(\w+)\s+(.+)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            verb, name, select = m.group(1).upper(), m.group(2), m.group(3)
            df = self.sql(select)
            target = set(self.table(name).columns)
            if set(df.columns) != target:
                raise EngineIOError(
                    f"INSERT {verb} {name}: column mismatch "
                    f"{sorted(df.columns)} vs {sorted(target)}"
                )
            if verb == "INTO":
                self.append(df, name)
            else:
                # INSERT OVERWRITE may SELECT from the target itself
                self._rewrite(name, df)
            return None
        m = re.match(
            r"CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(\w+)\s+"
            r"AS\s+(.+)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            select = m.group(3)
            fm = re.search(r"\bFROM\s+(\w+)", select, re.IGNORECASE)
            if not fm:
                raise EngineIOError(
                    "cannot infer the base table from the view query; "
                    "use create_materialized_view(name, sql, base=...)"
                )
            self.create_materialized_view(
                m.group(2), select, fm.group(1), replace=bool(m.group(1))
            )
            return None
        m = re.match(
            r"REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)$", s, re.IGNORECASE
        )
        if m:
            self.refresh_materialized_view(m.group(1))
            return None
        m = re.match(
            r"DROP\s+MATERIALIZED\s+VIEW\s+(\w+)$", s, re.IGNORECASE
        )
        if m:
            self.drop_materialized_view(m.group(1))
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS?\s+\(?(\w+)\s+"
            r"([\w(),\s]+?)\)?$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.alter_table(
                m.group(1),
                [{"op": "add", "name": m.group(2),
                  "type": m.group(3).strip()}],
            )
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.alter_table(
                m.group(1),
                [{"op": "rename", "from": m.group(2), "to": m.group(3)}],
            )
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMNS?\s+\(?(\w+)\)?$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.alter_table(
                m.group(1), [{"op": "drop", "name": m.group(2)}]
            )
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
            r"CHECK\s*\((.+)\)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            self.add_table_constraint(m.group(1), m.group(2), m.group(3))
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.drop_table_constraint(m.group(1), m.group(2))
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+(SET|UNSET)\s+TBLPROPERTIES\s*"
            r"\((.+)\)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            tname, verb, body = m.group(1), m.group(2).upper(), m.group(3)
            if verb == "SET":
                kvs = re.findall(r"'([^']+)'\s*=\s*'([^']*)'", body)
                if not kvs:
                    raise EngineIOError(
                        "SET TBLPROPERTIES expects 'key'='value' pairs"
                    )
                self.set_table_properties(tname, dict(kvs))
            else:
                keys = re.findall(r"'([^']+)'", body)
                self.set_table_properties(tname, {k: None for k in keys})
            return None
        m = re.match(r"SHOW\s+TBLPROPERTIES\s+(\w+)$", s, re.IGNORECASE)
        if m:
            return self.spark.createDataFrame(
                sorted(self.table_properties(m.group(1)).items())
                or [],
                "key string, value string",
            )
        m = re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+(CREATE|DROP|PUBLISH)\s+BRANCH\s+"
            r"([\w-]+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            tname, verb, b = m.group(1), m.group(2).upper(), m.group(3)
            if verb == "CREATE":
                self.create_table_branch(tname, b)
            elif verb == "DROP":
                self.drop_table_branch(tname, b)
            else:
                self.publish_branch(tname, b)
            return None
        m = re.match(
            r"OPTIMIZE\s+(\w+)\s+ZORDER\s+BY\s+\(?([\w\s,]+?)\)?$",
            s,
            re.IGNORECASE,
        )
        if m:
            cols = [c.strip() for c in m.group(2).split(",")]
            self.optimize_table(m.group(1), zorder_by=cols)
            return None
        m = re.match(r"OPTIMIZE\s+(\w+)\s+BINPACK$", s, re.IGNORECASE)
        if m:
            self.binpack_table(m.group(1))
            return None
        m = re.match(r"OPTIMIZE\s+(\w+)$", s, re.IGNORECASE)
        if m:
            self.compact_table(m.group(1))
            return None
        if re.match(r"VACUUM$", s, re.IGNORECASE):
            self.vacuum()
            return None
        m = re.match(
            r"ANALYZE\s+TABLE\s+(\w+)(?:\s+FOR\s+COLUMNS\s+([\w\s,]+))?$",
            s,
            re.IGNORECASE,
        )
        if m:
            cols = (
                [c.strip() for c in m.group(2).split(",")]
                if m.group(2)
                else None
            )
            self.analyze_table(m.group(1), columns=cols)
            return None
        m = re.match(
            r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)", s, re.IGNORECASE
        )
        if m:
            self.drop_table(m.group(2), ignore_missing=bool(m.group(1)))
            return None
        m = re.match(r"SHOW\s+TAGS\s+(\w+)$", s, re.IGNORECASE)
        if m:
            return self.spark.createDataFrame(
                sorted(self.table_tags(m.group(1)).items()) or [],
                "tag string, version int",
            )
        m = re.match(r"DESCRIBE\s+DETAIL\s+(\w+)$", s, re.IGNORECASE)
        if m:
            return self.table_detail(m.group(1))
        m = re.match(r"SHOW\s+BRANCHES\s+(\w+)$", s, re.IGNORECASE)
        if m:
            return self.spark.createDataFrame(
                [(b,) for b in self.table_branches(m.group(1))],
                "branch string",
            )
        if re.match(r"SHOW\s+TABLES$", s, re.IGNORECASE):
            return self.spark.createDataFrame(
                [(t,) for t in self.list_tables()], "table string"
            )
        m = re.match(
            r"DESCRIBE\s+(HISTORY|FILES|PARTITIONS)\s+(\w+)$", s, re.IGNORECASE
        )
        if m:
            verb, tname = m.group(1).upper(), m.group(2)
            if verb == "HISTORY":
                return self.table_history(tname)
            if verb == "FILES":
                return self.table_files(tname)
            return self.table_partitions(tname)
        m = re.match(r"DESCRIBE\s+(\w+)$", s, re.IGNORECASE)
        if m:
            return self.describe(m.group(1))
        return self.sql(s)

    # -- write path --------------------------------------------------------

    def write_table(
        self,
        df: DataFrame,
        name: str,
        mode: str = "errorifexists",
        partition_by: list[str] | None = None,
    ) -> None:
        """N6 create + N7 buffered write + N9 flush + N10 rename-commit,
        all delegated to Spark's parquet committer.

        Mode mapping to the reference's create() flags
        (CubefsFileSystem.java:158-193):
          errorifexists -> plain O_CREAT; EEXIST raises (ref :180-183)
          overwrite     -> O_CREAT|O_TRUNC (ref :184-186)
          append        -> N8 append (ref :195-209), as new part files

        Versioned-table safety (VERDICT r02 #5): writing to a table created
        by ``write_table_version`` routes through the manifest commit
        protocol instead of rewriting the directory around the
        ``_manifests/`` chain — time travel stays intact.
        """
        from cubefs_hadoop_spark import versioning

        if mode not in _VALID_MODES:
            raise EngineIOError(f"invalid write mode {mode!r}")
        path = self._table_path(name)
        exists = self.fs.exists(path)
        if exists and versioning.is_versioned(path, self.fs):
            if mode == "ignore":
                return
            if mode == "errorifexists":
                raise TableAlreadyExistsError("table already exists", name)
            versioning.commit_version(
                df, path, mode=mode, partition_by=partition_by, fs=self.fs
            )
            self._mark_dirty(name)
            return
        if mode == "errorifexists" and exists:
            raise TableAlreadyExistsError("table already exists", name)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._mark_dirty(name)

    def append(self, df: DataFrame, name: str) -> None:
        self.write_table(df, name, mode="append")

    def merge_table(
        self, df: DataFrame, name: str, on: str | list[str],
        strategy: str = "cow",
    ) -> None:
        """Upsert — the MERGE INTO capability the reference's host engines
        get from Iceberg (reference README.md:79-83): rows of ``df``
        replace the table's rows with matching ``on`` keys; unmatched
        table rows are kept; new keys are inserted.

        ``strategy="cow"`` (default): one anti-join + union committed
        atomically — versioned tables get a new snapshot (old versions
        stay readable); plain tables stage to a temp dir and swap via the
        N10 rename primitive so readers never see a half-merged table.
        Scale note: the anti-join shuffles on the merge key only; at
        100 TB partition the table by the merge key's bucket to make this
        co-located.

        ``strategy="mor"``: merge-on-read — commit the batch plus an
        equality-delete key file; NO rewrite of existing data (commit
        cost independent of table size), readers anti-join old files
        against the keys until ``compact_table`` materializes.  Requires
        a versioned table; right for high-frequency small upserts."""
        from cubefs_hadoop_spark import versioning

        keys = [on] if isinstance(on, str) else list(on)
        current = self.table(name)
        missing = [k for k in keys if k not in current.columns]
        if missing:
            raise EngineIOError(f"merge keys not in table: {missing}", name)
        if set(df.columns) != set(current.columns):
            raise EngineIOError(
                f"MERGE {name}: column mismatch "
                f"{sorted(df.columns)} vs {sorted(current.columns)}"
            )
        path = self._table_path(name)
        if strategy == "mor":
            if not versioning.is_versioned(path, self.fs):
                raise EngineIOError(
                    "merge-on-read upsert requires a versioned table "
                    "(write_table_version first, or use strategy='cow')",
                    name,
                )
            versioning.commit_merge(df, path, keys, fs=self.fs)
            self._mark_dirty(name)
            return
        if strategy != "cow":
            raise EngineIOError(f"invalid merge strategy {strategy!r}")
        kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
        self._rewrite(name, kept.unionByName(df))

    def delete_from(
        self, name: str, predicate: str, strategy: str = "cow"
    ) -> None:
        """Row-level DELETE: drop rows matching ``predicate`` (a SQL
        boolean expression).  The 100 TB right-to-be-forgotten verb: one
        filtered scan, no driver loop.

        ``strategy="cow"`` (default): copy-on-write — rewrite the live
        file set and commit atomically (versioned snapshot or staged
        rename swap).  Right for batch-cadence deletes.
        ``strategy="mor"``: merge-on-read — an O(1) metadata commit
        records the predicate; readers apply it scoped to the rows that
        existed at delete time, and ``compact_table`` materializes it
        (the Iceberg v2 delete tier).  Right for high-frequency small
        deletes; requires a versioned table."""
        from cubefs_hadoop_spark import versioning
        from pyspark.sql import functions as F

        path = self._table_path(name)
        if strategy == "mor":
            if not versioning.is_versioned(path, self.fs):
                raise EngineIOError(
                    "merge-on-read delete requires a versioned table "
                    "(write_table_version first, or use strategy='cow')",
                    name,
                )
            versioning.commit_delete(path, predicate, fs=self.fs)
            self._mark_dirty(name)
            return
        if strategy != "cow":
            raise EngineIOError(f"invalid delete strategy {strategy!r}")
        # SQL DELETE semantics: remove rows where the predicate IS TRUE;
        # rows where it evaluates NULL are KEPT (a bare ~pred would drop
        # them — three-valued logic)
        self._rewrite(
            name,
            self.table(name).filter(
                ~F.coalesce(F.expr(predicate), F.lit(False))
            ),
        )

    def update_table(
        self,
        name: str,
        set_exprs: dict[str, str],
        predicate: str | None = None,
    ) -> None:
        """Row-level UPDATE (copy-on-write): rows where ``predicate`` IS
        TRUE get each target column replaced by its SET expression; NULL
        predicate rows are untouched (same three-valued rule as
        delete_from).  All RHS expressions evaluate against the PRE-update
        row (ANSI UPDATE: ``SET a = b, b = a`` swaps), which the single
        projection below guarantees — chained withColumn would leak
        earlier assignments into later RHSs.

        One filtered-rewrite scan committed atomically (versioned
        snapshot or staged rename swap) — the same 100 TB shape as
        delete_from: no shuffle at all unless the table is versioned-
        partitioned.  A merge-on-read tier for UPDATE would need
        positional deletes (out of scope; use merge_table(strategy='mor')
        with full replacement rows for that cadence)."""
        from pyspark.sql import functions as F

        current = self.table(name)
        missing = [c for c in set_exprs if c not in current.columns]
        if missing:
            raise EngineIOError(f"UPDATE {name}: unknown columns {missing}")
        cond = (
            F.coalesce(F.expr(predicate), F.lit(False))
            if predicate is not None
            else F.lit(True)
        )
        updated = current.select(
            *[
                F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c))
                .cast(current.schema[c].dataType)
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in current.columns
            ]
        )
        self._rewrite(name, updated)

    def truncate_table(self, name: str) -> None:
        """TRUNCATE TABLE: drop every row, keep the table and its schema
        (an empty parquet part preserves the footer schema).  Versioned
        tables get an empty snapshot — history and time travel to the
        pre-truncate versions stay intact, exactly the Iceberg behavior
        the reference's Trino/Spark users rely on."""
        self._rewrite(name, self.table(name).limit(0))

    def _rewrite(self, name: str, df: DataFrame) -> None:
        """Copy-on-write commit of ``df`` as the whole of ``name``: a
        versioned table gets an overwrite version (the manifest commit
        stages new files first, so ``df`` may read the target itself); a
        plain table keeps the staged rename swap — the Hive-compatible
        layout of the N10 contract."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if versioning.is_versioned(path, self.fs):
            versioning.commit_version(df, path, mode="overwrite", fs=self.fs)
        else:
            self._swap_rewrite(name, df)
        self._mark_dirty(name)

    def _swap_rewrite(self, name: str, df: DataFrame) -> None:
        """Rewrite ``name`` with ``df`` atomically: stage to a temp dir,
        swap via the N10 rename primitive (same pattern as compact_table).
        Spark refuses to overwrite a path it is lazily reading from, and a
        direct overwrite would tear concurrent readers anyway."""
        path = self._table_path(name)
        tmp = path + ".__merging"
        self.fs.delete(tmp, recursive=True)
        df.write.mode("errorifexists").parquet(tmp)
        self._swap_in(name, tmp)

    def _swap_in(self, name: str, tmp: str) -> None:
        """Swap staged dir ``tmp`` in as table ``name`` via two N10
        renames.  EVERY rename result is checked: on a failed second
        rename the ``.__old`` dir — the only committed copy — is left in
        place for ``vacuum()`` to restore; it is deleted only after the
        staged data is live."""
        path = self._table_path(name)
        old = path + ".__old"
        if not self.fs.rename(path, old):
            raise EngineIOError("stale .__old dir blocks rewrite", name)
        if not self.fs.rename(tmp, path):
            raise EngineIOError(
                "swap-in rename failed; original preserved in .__old "
                "(vacuum() restores it)",
                name,
            )
        self.fs.delete(old, recursive=True)

    def rename_table(self, src: str, dst: str) -> bool:
        """N10 rename with the reference's exact semantics: returns False when
        dst exists (CubefsFileSystem.java:221-223), True on success, raises
        ENOENT analog when src is missing."""
        src_path = self._table_path(src)
        dst_path = self._table_path(dst)
        try:
            ok = self.fs.rename(src_path, dst_path)
        except FileNotFoundError:
            raise TableNotFoundError("table not found", src) from None
        if ok:
            self._mark_dirty(src, dst)
        return ok

    def drop_table(self, name: str, ignore_missing: bool = False) -> bool:
        """N11 recursive delete (CubefsFileSystem.java:248-277)."""
        path = self._table_path(name)
        if not self.fs.exists(path):
            if ignore_missing:
                return False
            raise TableNotFoundError("table not found", name)
        self.fs.delete(path, recursive=True)
        self._mark_dirty(name)
        return True

    def compact_table(
        self, name: str, target_file_bytes: int = 128 << 20
    ) -> int:
        """Rewrite a table's parts toward target-sized files (the small-
        files maintenance op; default = the reference's 128 MiB block size,
        CubefsFileSystem.java:97).  Committed via the N10 rename primitive:
        the rewrite lands in a temp dir and swaps in atomically, so readers
        never see a half-committed table.

        Versioned-table safety (VERDICT r02 #5): compacting a
        ``write_table_version`` table commits the compacted file set as a
        NEW version through the manifest protocol — identical content,
        history intact — instead of rewriting around ``_manifests/``."""
        from cubefs_hadoop_spark import versioning
        from cubefs_hadoop_spark.plans.layout import compact

        path = self._table_path(name)
        if not self.fs.is_dir(path):
            raise TableNotFoundError("table not found", name)
        if versioning.is_versioned(path, self.fs):
            versioning.compact_version(
                self.spark, path, target_file_bytes, fs=self.fs
            )
            self._mark_dirty(name)
            m = versioning.read_manifest(
                path, versioning.current_version(path, self.fs), self.fs
            )
            return len(m["files"])
        tmp = path + ".__compacting"
        self.fs.delete(tmp, recursive=True)
        n = compact(self.table(name), tmp, target_file_bytes)
        self._swap_in(name, tmp)
        self._mark_dirty(name)
        return n

    # -- versioned tables (Iceberg-capability analog, versioning.py) -------

    def expect(self, df: DataFrame, checks: list[str]) -> dict[str, int]:
        """Data-quality expectations (the Delta-Live-Tables/Great-
        Expectations shape): per-check VIOLATION counts, computed in ONE
        distributed pass (each check is a conditional count over the
        same scan — no per-check jobs).  A NULL predicate counts as a
        violation (the row failed to prove the expectation)."""
        from pyspark.sql import functions as F

        aggs = [
            F.count(
                F.when(~F.coalesce(F.expr(c), F.lit(False)), 1)
            ).alias(f"_c{i}")
            for i, c in enumerate(checks)
        ]
        row = df.agg(*aggs).first()
        return {c: int(row[f"_c{i}"]) for i, c in enumerate(checks)}

    def write_table_version(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        stats_cols: list[str] | None = None,
        checks: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        branch: str | None = None,
    ) -> int:
        """Commit ``df`` as a new snapshot version of ``name`` (atomic
        multi-file commit; old versions stay readable).  Returns the
        committed version number.  See versioning.py for the protocol —
        the reference's Iceberg path (README.md:79-83) re-expressed on the
        N10 rename/create-if-absent primitive.

        ``checks``: SQL boolean expressions every row must satisfy
        (write-time expectations).  Violations abort the commit BEFORE
        any data stages — the table never holds a version that failed
        its contract."""
        from cubefs_hadoop_spark import versioning

        if checks:
            violations = {
                c: n for c, n in self.expect(df, checks).items() if n
            }
            if violations:
                raise EngineIOError(
                    f"expectation violations, commit refused: {violations}",
                    name,
                )
        path = self._table_path(name)
        # cfs.stats.cols resolves inside commit_version (every producer
        # inherits it); bloom is a writer option, resolved here.
        # Property-derived cols FILTER to the written schema (a
        # merge-schema append legitimately lacks some columns); only an
        # EXPLICIT bloom_cols argument still validates strictly.
        if bloom_cols is None and self.fs.is_dir(path):
            props = versioning.get_properties(path, self.fs)
            if props.get("cfs.bloom.cols"):
                bloom_cols = versioning._prop_cols(
                    props, "cfs.bloom.cols", df.columns
                )
        v = versioning.commit_version(
            df,
            path,
            mode=mode,
            partition_by=partition_by,
            fs=self.fs,
            stats_cols=stats_cols,
            write_opts=self._bloom_opts(bloom_cols, df.columns),
            branch=branch,
        )
        if branch is None:
            self._mark_dirty(name)
        return v

    def _bloom_opts(
        self, bloom_cols: list[str] | None, df_cols: list[str]
    ) -> dict | None:
        """Parquet bloom-filter writer options for ``bloom_cols``
        (defaulting to the session conf ``cfspark.write.bloom.columns``).
        Blooms are the skipping tier min/max stats cannot provide: a
        point lookup on a high-cardinality column (doc_id, user_id) whose
        values interleave across files passes every [min, max] check, but
        the reader's row-group bloom probe skips the group without
        touching a data page — parquet-native, works at any scale, and
        costs ~1 byte/row at write time."""
        if bloom_cols is None:
            from cubefs_hadoop_spark import versioning

            bloom_cols = versioning._prop_cols(
                self.spark.conf, "cfspark.write.bloom.columns"
            )
        bad = [c for c in bloom_cols if c not in df_cols]
        if bad:
            raise EngineIOError(
                f"bloom columns {bad} not in the written schema"
            )
        return {
            f"parquet.bloom.filter.enabled#{c}": "true" for c in bloom_cols
        } or None

    def tag_table(
        self, name: str, tag: str, version: int | None = None
    ) -> int:
        """Pin an immutable named tag to a version (default latest).
        Tagged versions survive expire_table_versions GC; read them with
        ``read_version(name, "tagname")``."""
        from cubefs_hadoop_spark import versioning

        return versioning.tag_version(
            self._table_path(name), tag, version, fs=self.fs
        )

    def table_tags(self, name: str) -> dict:
        from cubefs_hadoop_spark import versioning

        return versioning.list_tags(self._table_path(name), self.fs)

    def delete_table_tag(self, name: str, tag: str) -> bool:
        from cubefs_hadoop_spark import versioning

        return versioning.delete_tag(self._table_path(name), tag, self.fs)

    def create_table_branch(
        self, name: str, branch: str, from_version: int | None = None
    ) -> int:
        """Fork a write-audit-publish branch at ``from_version`` (default
        head): a second manifest chain sharing the table's data by
        reference — zero bytes move at any table size.  Write to it with
        ``write_table_version(..., branch=...)``, audit it with
        ``read_version(branch=...)`` / ``expect``, then ``publish_branch``
        lands the whole audited state on main as ONE atomic commit."""
        from cubefs_hadoop_spark import versioning

        return versioning.create_branch(
            self._table_path(name), branch, from_version, fs=self.fs
        )

    def table_branches(self, name: str) -> list[str]:
        from cubefs_hadoop_spark import versioning

        return versioning.list_branches(self._table_path(name), self.fs)

    def drop_table_branch(self, name: str, branch: str) -> bool:
        from cubefs_hadoop_spark import versioning

        return versioning.drop_branch(
            self._table_path(name), branch, self.fs
        )

    def expire_table_branches(self, name: str, max_age_ms: int) -> list[str]:
        """Drop branches whose head is older than ``max_age_ms`` — the
        cleanup for audit branches abandoned after a failed check, which
        otherwise pin their staged files against GC forever."""
        from cubefs_hadoop_spark import versioning

        return versioning.expire_branches(
            self._table_path(name), max_age_ms, fs=self.fs
        )

    def publish_branch(
        self, name: str, branch: str, force: bool = False, drop: bool = True
    ) -> int:
        """Fast-forward main to the branch head (mode ``publish``) — the
        WAP publish step.  Refused when main advanced past the branch's
        fork point unless ``force``; ``drop`` removes the branch chain
        after publishing.  Returns the new main version."""
        from cubefs_hadoop_spark import versioning

        v = versioning.fast_forward(
            self._table_path(name), branch, fs=self.fs, force=force,
            drop=drop,
        )
        self._mark_dirty(name)
        return v

    def read_version(
        self,
        name: str,
        version: int | str | None = None,
        predicates: list[tuple] | None = None,
        branch: str | None = None,
        at_timestamp: str | int | None = None,
    ) -> DataFrame:
        """Time-travel read: the exact file set version ``version`` (default
        latest) committed — concurrent commits can never tear the read.
        ``predicates`` ([(col, op, value)]) prunes data files against the
        manifest's per-file [min, max] stats before the scan is planned
        (commit with ``stats_cols`` / ``optimize_table`` to record them),
        then applies the exact residual filter."""
        from cubefs_hadoop_spark import versioning

        if at_timestamp is not None:
            if version is not None or branch is not None:
                raise EngineIOError(
                    "at_timestamp excludes version/branch", name
                )
            version = versioning.resolve_timestamp(
                self._table_path(name),
                _ts_to_ms(at_timestamp),
                self.fs,
            )
        return versioning.read_version(
            self.spark,
            self._table_path(name),
            version,
            fs=self.fs,
            predicates=predicates,
            branch=branch,
        )

    def alter_table(self, name: str, ops: list[dict]) -> None:
        """ALTER TABLE schema evolution.  Versioned tables evolve
        METADATA-ONLY (versioning.alter_schema: same files, new schema +
        op chain, zero bytes rewritten at any size — the Iceberg path);
        plain tables rewrite through the atomic stage-and-swap (the
        copy-on-write fallback).  ops: {"op": "add", "name", "type"} /
        {"op": "rename", "from", "to"} / {"op": "drop", "name"}."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not self.fs.is_dir(path):
            raise TableNotFoundError("table not found", name)
        if versioning.is_versioned(path, self.fs):
            versioning.alter_schema(path, ops, fs=self.fs)
        else:
            df = versioning.apply_schema_ops(self.table(name), ops)
            self._swap_rewrite(name, df)
        self._mark_dirty(name)

    def optimize_table(
        self,
        name: str,
        zorder_by: list[str] | None = None,
        stats_cols: list[str] | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> int:
        """OPTIMIZE [ZORDER BY]: rewrite the versioned table's current
        file set into ~target-sized files laid out along a Morton curve
        over ``zorder_by`` (plans/zorder.py) and record per-file [min,
        max] stats for ``stats_cols`` (defaults to ``zorder_by``) — the
        Delta/Iceberg table-maintenance verb that turns selective scans
        into a handful of file reads via ``read_version(predicates=...)``.
        Returns the committed version number."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not versioning.is_versioned(path, self.fs):
            raise TableNotFoundError(
                "optimize_table requires a versioned table", name
            )
        v = versioning.compact_version(
            self.spark,
            path,
            target_file_bytes,
            fs=self.fs,
            zorder_by=zorder_by,
            stats_cols=stats_cols or zorder_by,
        )
        self._mark_dirty(name)
        return v

    def binpack_table(
        self,
        name: str,
        target_file_bytes: int = 128 << 20,
        min_file_bytes: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> int | None:
        """Incremental OPTIMIZE: rewrite only the current snapshot's
        small files into ~target-sized ones, keeping well-sized files
        (and their stats/sequence numbers) untouched — O(small files)
        instead of ``optimize_table``'s O(table) full rewrite.  The
        routine maintenance verb for streaming-ingest tables at scale.
        Returns the committed version, or None when fewer than two files
        qualify."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not versioning.is_versioned(path, self.fs):
            raise TableNotFoundError(
                "binpack_table requires a versioned table", name
            )
        v = versioning.binpack_version(
            self.spark,
            path,
            target_file_bytes,
            min_file_bytes=min_file_bytes,
            stats_cols=stats_cols,
            fs=self.fs,
        )
        if v is not None:
            self._mark_dirty(name)
        return v

    def table_constraints(self, name: str) -> dict:
        import json as _json

        raw = self.table_properties(name).get("cfs.checks")
        return _json.loads(raw) if raw else {}

    def add_table_constraint(self, name: str, cname: str, expr: str) -> None:
        """Persisted CHECK constraint (Delta ADD CONSTRAINT parity):
        stored in the ``cfs.checks`` property, proven against the
        EXISTING data first (a constraint the table already violates is
        refused), then enforced on every subsequent versioned commit by
        every producer."""
        import json as _json

        cons = self.table_constraints(name)
        if cname in cons:
            raise EngineIOError(
                f"constraint {cname!r} already exists", name
            )
        # existing rows must satisfy it, or reads and writes disagree
        # about the table's contract from day one
        bad = self.expect(self.read_version(name), [expr])[expr]
        if bad:
            raise EngineIOError(
                f"existing data violates {cname!r} ({bad} row(s)); "
                "clean the table first",
                name,
            )
        cons[cname] = expr
        self.set_table_properties(
            name, {"cfs.checks": _json.dumps(cons, sort_keys=True)}
        )

    def drop_table_constraint(self, name: str, cname: str) -> None:
        import json as _json

        cons = self.table_constraints(name)
        cons.pop(cname, None)
        self.set_table_properties(
            name,
            {"cfs.checks": _json.dumps(cons, sort_keys=True) if cons else None},
        )

    def table_properties(self, name: str) -> dict:
        from cubefs_hadoop_spark import versioning

        return versioning.get_properties(self._table_path(name), self.fs)

    def set_table_properties(self, name: str, props: dict) -> dict:
        """Durable TBLPROPERTIES (None value unsets a key).  The cfs.*
        keys steer writers table-locally: ``cfs.stats.cols`` /
        ``cfs.bloom.cols`` default every commit's stats/bloom columns,
        ``cfs.target.file.bytes`` the maintenance target — set once at
        table creation, every producer (batch, streaming, cfstable) on
        any session inherits the layout contract."""
        from cubefs_hadoop_spark import versioning

        return versioning.set_properties(
            self._table_path(name), props, self.fs
        )

    def maintain_table(
        self,
        name: str,
        target_file_bytes: int | None = None,
        keep_last: int = 10,
        orphan_grace_ms: int = 15 * 60 * 1000,
    ) -> dict:
        """One-call routine maintenance policy for a versioned table —
        the nightly-cron verb that keeps a streaming-ingest table healthy
        without an operator deciding which tool applies:

        1. pending merge-on-read deletes or schema ops -> full
           ``compact_version`` (materializes both; the only correct
           rewrite in that state);
        2. otherwise -> incremental BINPACK (O(small files), no-op when
           fewer than two files are under threshold);
        3. always -> version GC beyond ``keep_last`` (tagged snapshots
           and live branches stay pinned).

        Each step is itself atomic and crash-safe, so a failure between
        steps leaves a consistent table — rerunning is always safe.
        Returns ``{"compacted": v|None, "binpacked": v|None,
        "gc": stats}``."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not versioning.is_versioned(path, self.fs):
            raise TableNotFoundError(
                "maintain_table requires a versioned table", name
            )
        if target_file_bytes is None:
            target_file_bytes = int(
                versioning.get_properties(path, self.fs).get(
                    "cfs.target.file.bytes", 128 << 20
                )
            )
        out: dict = {"compacted": None, "binpacked": None}
        m = versioning.read_manifest(
            path, versioning.current_version(path, self.fs), self.fs
        )
        # whatever stats tier the table tracked must survive the rewrite;
        # per-file stats carry PHYSICAL (pre-alter) names — map them
        # through the op chain so the rewrite harvests current names
        tracked = {c for st in (m.get("stats") or {}).values() for c in st}
        for op in m.get("schema_ops") or []:
            if op["op"] == "rename" and op["from"] in tracked:
                tracked.discard(op["from"])
                tracked.add(op["to"])
            elif op["op"] == "drop":
                tracked.discard(op["name"])
        stats_cols = sorted(tracked)
        if m.get("deletes") or m.get("schema_ops"):
            out["compacted"] = versioning.compact_version(
                self.spark, path, target_file_bytes, fs=self.fs,
                stats_cols=stats_cols or None,
            )
        else:
            out["binpacked"] = versioning.binpack_version(
                self.spark, path, target_file_bytes, fs=self.fs
            )
        out["gc"] = versioning.expire_versions(
            path, keep_last, fs=self.fs, orphan_grace_ms=orphan_grace_ms
        )
        self._mark_dirty(name)
        return out

    def clone_table(
        self,
        src: str,
        dst: str,
        version: int | str | None = None,
        at_timestamp: str | int | None = None,
    ) -> int:
        """Deep clone of ``src``'s snapshot into a NEW versioned table
        ``dst`` (Delta CLONE semantics: an independent copy whose history
        starts fresh; table properties carry over).  Deep by design — the
        manifest protocol stores table-relative paths, so snapshots can
        only reference files under their own root; a shallow clone would
        need cross-table refs that GC could not reason about.  Cost is
        one distributed copy job of the snapshot (not its history)."""
        from cubefs_hadoop_spark import versioning

        if self.table_exists(dst):
            raise TableAlreadyExistsError("table already exists", dst)
        df = self.read_version(src, version, at_timestamp=at_timestamp)
        # the clone's FIRST commit must already carry the source's
        # layout contract — partition dirs, stats tier, bloom tier —
        # not gain it one rewrite later
        src_path = self._table_path(src)
        props = versioning.get_properties(src_path, self.fs)
        sm = versioning.read_manifest(
            src_path, versioning.current_version(src_path, self.fs),
            self.fs,
        )
        pb = [c for c in sm.get("partition_by") or [] if c in df.columns]
        stats_cols = versioning._prop_cols(
            props, "cfs.stats.cols", df.columns
        ) or sorted(
            {
                c
                for st in (sm.get("stats") or {}).values()
                for c in st
                if c in df.columns
            }
        )
        bloom_cols = versioning._prop_cols(props, "cfs.bloom.cols", df.columns)
        v = self.write_table_version(
            df,
            dst,
            partition_by=pb or None,
            stats_cols=stats_cols or None,
            bloom_cols=bloom_cols or None,
        )
        if props:
            versioning.set_properties(
                self._table_path(dst), props, self.fs
            )
        return v

    def table_versions(self, name: str) -> list[int]:
        from cubefs_hadoop_spark import versioning

        return versioning.list_versions(self._table_path(name), self.fs)

    def rollback_table(self, name: str, to_version: int) -> int:
        """Append-only rollback: commits a new version duplicating
        ``to_version``'s file set."""
        from cubefs_hadoop_spark import versioning

        v = versioning.rollback(self._table_path(name), to_version, fs=self.fs)
        self._mark_dirty(name)
        return v

    def read_table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Incremental scan: rows added to ``name`` after ``from_version``
        up to ``to_version`` (default latest).  Append-only ranges only —
        see versioning.read_changes.  A consumer tracking its last-seen
        version (table_history) gets CDC-style reads with no rescan."""
        from cubefs_hadoop_spark import versioning

        return versioning.read_changes(
            self.spark,
            self._table_path(name),
            from_version,
            to_version,
            fs=self.fs,
            branch=branch,
        )

    def table_history(
        self, name: str, branch: str | None = None
    ) -> DataFrame:
        """Snapshot metadata for a versioned table (Iceberg's ``snapshots``
        metadata-table parity): one row per committed version with mode,
        commit timestamp, parent, file count and the commit's operation
        metrics (files added and removed against its parent; null for
        manifests written before the metrics existed).  Metadata-only —
        never touches data files."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        rows = []
        for v in versioning.list_versions(path, self.fs, branch):
            m = versioning.read_manifest(
                path, v, self.fs, light=True, branch=branch
            )
            rows.append(
                (
                    v,
                    m.get("parent"),
                    m.get("mode"),
                    m.get("ts_ms"),
                    # light format-2 roots carry the count, not the list
                    m.get("file_count", len(m.get("files", []))),
                    m.get("batch_id"),
                    m.get("files_added"),
                    m.get("files_removed"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, mode string, ts_ms bigint, "
            "n_files int, batch_id bigint, files_added int, "
            "files_removed int",
        )

    def table_detail(self, name: str) -> DataFrame:
        """One-row summary of a versioned table — DESCRIBE DETAIL
        parity: current version, file/byte counts, partition columns,
        branch/tag inventory, properties.  Metadata-only (manifest +
        dir walk)."""
        import json as _json

        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not versioning.is_versioned(path, self.fs):
            raise EngineIOError(
                "table_detail requires a versioned table", name
            )
        v = versioning.current_version(path, self.fs)
        m = versioning.read_manifest(path, v, self.fs)
        sizes = {
            rel: size for rel, size, _m in self.fs.walk_files(path)
        }
        live = m["files"]
        row = (
            name,
            "parquet",
            path,
            v,
            len(live),
            sum(sizes.get(f, 0) for f in live),
            list(m.get("partition_by") or []),
            sorted(versioning.list_tags(path, self.fs)),
            versioning.list_branches(path, self.fs),
            _json.dumps(
                versioning.get_properties(path, self.fs), sort_keys=True
            ),
        )
        return self.spark.createDataFrame(
            [row],
            "name string, format string, location string, version int, "
            "num_files int, size_bytes bigint, "
            "partition_columns array<string>, tags array<string>, "
            "branches array<string>, properties string",
        )

    def table_files(
        self,
        name: str,
        version: int | str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Per-data-file metadata for a versioned table's snapshot —
        Iceberg's ``files`` metadata-table analog.  One row per live file:
        relative path, on-disk size, commit sequence number, Hive-partition
        values parsed from the path, and the manifest's harvested
        [min, max] column stats as a JSON string.  Metadata-only: the
        manifest plus one directory walk; zero data bytes read.

        Scale note: output is file-count-sized (manifest scale), which is
        exactly what an operator debugging skew or small-file pressure on
        a 100 TB table needs — never a data scan."""
        import json as _json
        from urllib.parse import unquote

        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not versioning.is_versioned(path, self.fs):
            raise EngineIOError(
                "table_files requires a versioned table "
                "(write_table_version / adopt_table first)",
                name,
            )
        if isinstance(version, str) and branch is not None:
            raise EngineIOError(
                "tags name MAIN-chain snapshots; a branch listing takes "
                "a numeric branch version",
                name,
            )
        v = (
            versioning.current_version(path, self.fs, branch)
            if version is None
            else versioning.resolve_tag(path, version, self.fs)
            if isinstance(version, str)
            else version
        )
        m = versioning.read_manifest(path, v, self.fs, branch=branch)
        sizes = {
            rel: (size, mt) for rel, size, mt in self.fs.walk_files(path)
        }
        stats = m.get("stats") or {}
        seqs = m.get("file_seq") or {}
        rows = []
        for f in m["files"]:
            part = {
                k: unquote(val)
                for seg in f.split("/")[:-1]
                if "=" in seg
                for k, _, val in (seg.partition("="),)
            }
            size, mtime = sizes.get(f, (None, None))
            st = stats.get(f)
            rows.append(
                (
                    f,
                    size,
                    mtime,
                    seqs.get(f),
                    part,
                    _json.dumps(st, sort_keys=True) if st else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "file string, size_bytes bigint, mtime_ms bigint, seq int, "
            "partition map<string,string>, stats string",
        )

    def table_partitions(
        self,
        name: str,
        version: int | str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Partition-level rollup of ``table_files`` — Iceberg's
        ``partitions`` metadata table: one row per live Hive partition
        with its file count and byte total.  Unpartitioned snapshots
        return a single row with an empty partition map.  Metadata-only;
        the natural input for 'which partition is skewed / full of small
        files' maintenance decisions at 100 TB."""
        from pyspark.sql import functions as F

        files = self.table_files(name, version, branch)
        return (
            files.groupBy("partition")
            .agg(
                F.count("*").cast("int").alias("n_files"),
                F.sum("size_bytes").alias("total_bytes"),
                F.min("size_bytes").alias("min_file_bytes"),
                F.max("size_bytes").alias("max_file_bytes"),
            )
            .orderBy(F.sort_array(F.map_entries("partition")))
        )

    def expire_table_versions(
        self,
        name: str,
        keep_last: int = 1,
        orphan_grace_ms: int = 15 * 60 * 1000,
    ) -> dict:
        """GC manifests + unreferenced data files beyond ``keep_last``.
        ``orphan_grace_ms``: never-referenced files younger than this are
        spared — they may be an in-flight commit's staged data."""
        from cubefs_hadoop_spark import versioning

        stats = versioning.expire_versions(
            self._table_path(name),
            keep_last,
            fs=self.fs,
            orphan_grace_ms=orphan_grace_ms,
        )
        # catalog/bcache/fallback-view handles may reference reclaimed
        # files; reconcile on the next statement
        self._mark_dirty(name)
        return stats

    def vacuum(self) -> list[str]:
        """Remove orphaned work dirs left by interrupted maintenance ops
        (``*.__compacting`` / ``*.__merging`` / ``*.__old``) and Spark
        ``_temporary`` attempt dirs from crashed writes.

        Crash-recovery rule for ``.__old``: the swap sequence is
        rename(table -> .__old) then rename(staged -> table), so a crash
        BETWEEN the renames leaves ``.__old`` as the only copy of the
        table.  ``.__old`` is therefore deleted only when the base table
        exists (swap completed); otherwise it is RESTORED via the same N10
        rename primitive.  Staging dirs (.__compacting/.__merging) are
        always safe to drop — their content is reproducible."""
        removed = []
        root = self._db_path()
        for d, is_dir in self.fs.list_dir(root):
            p = self.fs.join(root, d)
            if d.endswith((".__compacting", ".__merging")):
                self.fs.delete(p, recursive=True)
                removed.append(d)
            elif d.endswith(".__old"):
                base = self.fs.join(root, d.removesuffix(".__old"))
                if self.fs.exists(base):
                    self.fs.delete(p, recursive=True)
                    removed.append(d)
                else:
                    # interrupted swap: .__old IS the table — roll back
                    self.fs.rename(p, base)
                    removed.append(f"{d} -> restored {d.removesuffix('.__old')}")
            elif is_dir:
                tmp = self.fs.join(p, "_temporary")
                if self.fs.is_dir(tmp):
                    self.fs.delete(tmp, recursive=True)
                    removed.append(d + "/_temporary")
        return removed

    # -- metadata path -----------------------------------------------------

    def status(self) -> dict:
        """FsStatus analog (N22-adjacent; reference getStatus surfaces
        capacity/remaining, CubeFileSystemTest.java:30-36): byte capacity
        report of the store under the warehouse root, through whichever
        backend serves it."""
        self._check_open()
        return self.fs.status(self.warehouse_root)

    def list_tables(self) -> list[str]:
        """N12 listStatus analog (CubefsFileSystem.java:280-336): table names
        are the directories under the database root."""
        root = self._db_path()
        return sorted(d for d, is_dir in self.fs.list_dir(root) if is_dir)

    def table_exists(self, name: str) -> bool:
        """N13 getFileStatus-as-existence-probe (CubefsFileSystem.java:382-393)."""
        return self.fs.is_dir(self._table_path(name))

    def describe(self, name: str) -> DataFrame:
        """FileStatus-shaped listing of a table's part files — the N12/N13
        StatInfo surface (ino,size,mtime,... CubefsLib.java:25-52) as a
        DataFrame."""
        path = self._table_path(name)
        if not self.fs.is_dir(path):
            raise TableNotFoundError("table not found", name)
        rows = []
        # ms-precision mtime, matching the reference's mtime*1000 +
        # nsec/1e6 (CubefsFileSystem.java:327-329)
        for rel, size, mtime_ms in self.fs.walk_files(path):
            base = rel.rsplit("/", 1)[-1]
            rows.append((rel, size, mtime_ms, base == "_SUCCESS"))
        return self.spark.createDataFrame(
            rows, "file string, size bigint, mtime_ms bigint, is_marker boolean"
        )

    def is_committed(self, name: str) -> bool:
        """N9 durability analog: Spark's parquet job commit writes _SUCCESS."""
        return self.fs.exists(
            self.fs.join(self._table_path(name), "_SUCCESS")
        )

    def table_stats(self, name: str) -> dict:
        """N18 getContentSummary analog (CubefsFileSystem.java:432-436):
        recursive walk summing file count and bytes; row count via a
        parquet-metadata-only Spark count."""
        from cubefs_hadoop_spark import versioning

        path = self._table_path(name)
        if not self.fs.is_dir(path):
            raise TableNotFoundError("table not found", name)
        n_files, n_bytes = 0, 0
        if versioning.is_versioned(path, self.fs):
            # logical stats = the CURRENT snapshot's file set; historical
            # versions' bytes are retention cost, not table content
            m = versioning.read_manifest(
                path, versioning.current_version(path, self.fs), self.fs
            )
            live = set(m["files"])
            for rel, size, _mtime in self.fs.walk_files(path):
                if rel in live:
                    n_files += 1
                    n_bytes += size
            return {
                "files": n_files,
                "bytes": n_bytes,
                "rows": self.table(name).count(),
            }
        for rel, size, _mtime in self.fs.walk_files(path):
            # skip commit markers (_SUCCESS) and hidden checksum files
            # (.part-*.crc) — stats cover data content, not bookkeeping
            if rel.rsplit("/", 1)[-1].startswith(("_", ".")):
                continue
            n_files += 1
            n_bytes += size
        return {
            "files": n_files,
            "bytes": n_bytes,
            "rows": self.table(name).count(),
        }

    # -- lifecycle ---------------------------------------------------------

    def close(self) -> None:
        """N19 close analog (CubefsFileSystem.java:443-447).  Does NOT stop
        the SparkSession (it is caller-owned, like the Hadoop FileSystem
        cache); just marks the engine unusable."""
        self._closed = True
