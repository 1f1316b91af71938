"""The benchmark's workloads.

Each workload is a class with three hooks and a warm-up pass count:

* ``prepare(ctx)`` — before any timer: draws the seeded inputs and
  computes every expected result with DuckDB;
* ``stage(ctx)``   — part of each set-up: inputs the passes read;
* ``run_pass(ctx, k)`` — one pass in a closed loop: each operation starts
  after the previous one returned.  Operations are timed with
  ``ctx.op(kind, name)``; a pass's wall time is the sum of its top-level
  operations.  Result checks run outside the operation timers, and a
  wrong result or an exception counts as a failed operation.

The first pass of a fresh JVM loads classes and compiles query code and
takes about twice a warm pass, the second about 1.3x.  Later passes keep
falling by a few percent each for minutes, longer than a run may take, so
each workload warms up for a fixed number of passes (``warm_passes``),
the same in every run: as many as its CPU time per pass needs to vary
little between runs, within the time a run may take.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

# The analytics workload runs both query families in one seeded order per
# pass.  Small subsets, so that set-up, warm-up and two or three measured
# passes fit the time one run may take.
#
# Executor-bound relational shapes (scan + aggregate, join + top-k,
# window rank): catalog, queries and Catalyst/AQE.
OLAP_QUERIES = ("q06_tpch_q1", "q12_tpch_q3", "q20_window_rank")
# Driver-bound curation in extensions and plans.materialize: MinHash LSH
# candidate pairs behind barriers, then the driver-side collect and
# union-find of the connected-components tier.
CURATION_QUERIES = ("x28_canonical_dedup",)

# ingest: micro-batches per replay.  Fixed, so that every seed does the
# same work and pass times compare across seeds; the seed draws the read
# ranges and the upsert and delete keys.
INGEST_BATCHES = 3
UPSERT_ROWS = 40
UPSERT_NEW_ROWS = 10
DELETE_USERS = 2


def canon_hash(pdf: pd.DataFrame) -> tuple[str, tuple[str, ...]]:
    """The oracle gate's order-insensitive result hash plus column names."""
    from tools.oracle_check import canon_hash as _canon

    return _canon(pdf)[0], tuple(sorted(pdf.columns))


def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    from cubefs_hadoop_spark.catalog import FIXTURE_TABLES

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


class QueryWorkload:
    """A fixed list of registered queries, in a seeded order each pass."""

    warm_passes = 3

    def __init__(self, queries: tuple[str, ...]) -> None:
        self.queries = queries

    def prepare(self, ctx) -> None:
        from cubefs_hadoop_spark.queries import ORACLE

        con = duck_views(ctx.data_dir)
        try:
            self.expected = {q: canon_hash(con.sql(ORACLE[q]).df()) for q in self.queries}
        finally:
            con.close()

    def stage(self, ctx) -> None:
        pass

    def run_pass(self, ctx, k: int) -> None:
        order = list(self.queries)
        ctx.rng.shuffle(order)
        for name in order:
            pdf = ctx.query(name)
            if pdf is not None:
                ctx.check(name, canon_hash(ctx.maybe_corrupt(pdf)) == self.expected[name])


class IngestWorkload:
    """Stream replay into a versioned table with read-your-writes reads,
    an exactly-once state fold, a merge-on-read upsert and delete, then
    maintenance.  Every pass starts from an empty warehouse."""

    TABLE = "events"
    warm_passes = 2

    def prepare(self, ctx) -> None:
        from cubefs_hadoop_spark.queries import ORACLE

        rng = ctx.rng
        con = duck_views(ctx.data_dir)
        try:
            ev = con.sql("SELECT * FROM events").df()
            self.n_events = len(ev)
            # stage_replay's equal event-time buckets, one per micro-batch
            ts_us = ev["ts"].values.astype("datetime64[us]").astype(np.int64)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            width = int((hi - lo) / 1e6 * 1e6 / INGEST_BATCHES) + 1
            bucket = np.minimum(INGEST_BATCHES - 1, (ts_us - lo) // width)
            # one seeded read range well inside each batch's event-time
            # range: after batch b commits, all its rows are readable
            self.reads = []
            for b in range(INGEST_BATCHES):
                b_ts = np.sort(ts_us[bucket == b])
                i = rng.randrange(1, len(b_ts) // 2)
                j = i + rng.randrange(len(b_ts) // 8, len(b_ts) // 2)
                r_lo, r_hi = int(b_ts[i]), int(b_ts[j])
                n = int(((ts_us >= r_lo) & (ts_us < r_hi)).sum())
                self.reads.append((_us_to_dt(r_lo), _us_to_dt(r_hi), n))
            # seeded upsert (existing and new keys) and delete
            up = ev.iloc[rng.sample(range(len(ev)), UPSERT_ROWS)].copy()
            new = ev.iloc[rng.sample(range(len(ev)), UPSERT_NEW_ROWS)].copy()
            new["event_id"] = np.arange(len(ev), len(ev) + UPSERT_NEW_ROWS)
            up = pd.concat([up, new], ignore_index=True)
            up["value"] = np.round(up["value"] * 2 + 1, 2)
            up["event_type"] = "purchase"
            self.upserts = up
            users = sorted(rng.sample(sorted(ev["user_id"].unique()), DELETE_USERS))
            self.delete_pred = f"user_id IN ({', '.join(map(str, users))})"
            con.register("up", up)
            final = con.sql(
                "SELECT * FROM (SELECT * FROM events WHERE event_id NOT IN "
                "(SELECT event_id FROM up) UNION ALL SELECT * FROM up) "
                f"WHERE NOT ({self.delete_pred})"
            ).df()
            self.final_hash = canon_hash(final)
            self.x88_hash = canon_hash(con.sql(ORACLE["x88_value_percentiles"]).df())
        finally:
            con.close()

    def stage(self, ctx) -> None:
        from cubefs_hadoop_spark.streaming.ops import stage_replay

        self.stage_dir = os.path.join(ctx.work, "replay")
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        stage_replay(ctx.spark, ctx.data_dir, self.stage_dir, INGEST_BATCHES)

    def run_pass(self, ctx, k: int) -> None:
        from cubefs_hadoop_spark.engine import Engine
        from cubefs_hadoop_spark.extensions.behavior import (
            value_cents_counts,
            value_percentiles_from_counts,
        )
        from cubefs_hadoop_spark.streaming.ops import (
            read_stream,
            versioned_batch_committer,
        )
        from cubefs_hadoop_spark.streaming.state_sink import (
            additive_state_committer,
            read_state,
        )

        spark = ctx.spark
        root = os.path.join(ctx.work, f"ingest-{k}")
        shutil.rmtree(root, ignore_errors=True)
        engine = Engine(spark, os.path.join(root, "warehouse"))
        state_dir = os.path.join(root, "value_counts")
        commit = versioned_batch_committer(engine, self.TABLE, stats_cols=["ts"])
        fold = additive_state_committer(
            state_dir, value_cents_counts, ["event_type", "c"], ["cnt"]
        )

        def batch(df, batch_id: int) -> None:
            with ctx.rec.span("streaming.batch"):
                with ctx.op("commit", "commit"):
                    commit(df, batch_id)
                r_lo, r_hi, want = self.reads[int(batch_id)]
                got = None
                with ctx.op("read", "read"):
                    got = engine.read_version(
                        self.TABLE,
                        predicates=[("ts", ">=", r_lo), ("ts", "<", r_hi)],
                    ).count()
                if got is not None:
                    ctx.check("read", got == want)
                with ctx.op("fold", "fold"), ctx.rec.span("state_sink.fold"):
                    fold(df, batch_id)

        with ctx.op("drain", "drain", top=True, leaf=False), ctx.rec.span("streaming.drain"):
            (
                read_stream(spark, self.stage_dir)
                .writeStream.foreachBatch(batch)
                .option("checkpointLocation", os.path.join(root, "checkpoint"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        # binpack the stream's small files before the merge-on-read
        # upsert and delete: binpack refuses a table with pending deletes
        with ctx.op("maintain", "binpack", top=True):
            engine.binpack_table(self.TABLE)
        schema = engine.table(self.TABLE).schema
        up = spark.createDataFrame(self.upserts[schema.names], schema=schema)
        with ctx.op("upsert", "merge", top=True):
            engine.merge_table(up, self.TABLE, on="event_id", strategy="mor")
        with ctx.op("upsert", "delete", top=True):
            engine.delete_from(self.TABLE, self.delete_pred, strategy="mor")
        with ctx.op("maintain", "expire", top=True):
            engine.expire_table_versions(self.TABLE, keep_last=1, orphan_grace_ms=0)

        ctx.attempted += 2
        final = ctx.maybe_corrupt(engine.table(self.TABLE).toPandas())
        ctx.check("snapshot", canon_hash(final) == self.final_hash)
        folded = value_percentiles_from_counts(read_state(spark, state_dir)).toPandas()
        ctx.check("exactly_once", canon_hash(folded) == self.x88_hash)
        ctx.bytes_per_row.append(_dir_bytes(engine.warehouse_root) / max(1, len(final)))


def _us_to_dt(us: int):
    return pd.Timestamp(us, unit="us").to_pydatetime()


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


WORKLOADS = {
    "analytics": lambda: QueryWorkload(OLAP_QUERIES + CURATION_QUERIES),
    "ingest": IngestWorkload,
}
