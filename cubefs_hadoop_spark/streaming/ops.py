"""Structured Streaming operators S01-S08 (SURVEY §2B).

The reference's streaming story is "Flink/Spark run on CubeFS through the
storage contract" (reference README.md:85-88): the connector supplies a
file source/sink plus flush-durability for checkpoints
(CubefsOutputStream.java:116-141).  Here that story is Spark-native:

- S01 file source/sink: readStream over a directory of parquet parts,
  writeStream with a checkpoint dir — the same create/rename/flush commit
  contract, driven by Spark's own streaming committer.
- S02-S04 windows: tumbling / sliding / session windows over event time.
- S05 watermark: late rows beyond the watermark are dropped in append mode.
- S06 stateful dedup, S07 stream-static join, S08 applyInPandasWithState.

Every operator is a pure stream->stream transform so batch twins
(queries/streaming_twins.py) can assert equality; tests replay ``events``
as a file source with trigger(availableNow) and maxFilesPerTrigger=1 so
multiple micro-batches actually exercise state.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cubefs_hadoop_spark.catalog import load

# Raw schema of the replayed events files (ts kept as int64 nanos exactly as
# in the fixture parquet; converted to timestamp in normalize()).
EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def stage_replay(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4
) -> None:
    """Split the events fixture into n_files parquet files, bucketed by
    time so file-arrival order == event-time order (realistic replay).
    Files land under stage_dir/data/."""
    events = load(spark, sf_dir, "events")
    bounds = events.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo).total_seconds() or 1.0
    bucket = F.least(
        F.lit(n_files - 1),
        F.floor(
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.lit(int(lo.timestamp() * 1_000_000)))
            / F.lit(int(span * 1_000_000 / n_files) + 1)
        ).cast("int"),
    )
    staged = events.withColumn("bucket", bucket)
    for b in range(n_files):
        (
            staged.filter(F.col("bucket") == b)
            .drop("bucket")
            .withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )


def read_stream(spark: SparkSession, stage_dir: str, one_file_per_batch: bool = True) -> DataFrame:
    """S01 source: file-replay readStream with explicit schema (streaming
    sources never infer).  maxFilesPerTrigger=1 => one micro-batch per file
    so stateful operators cross batch boundaries."""
    reader = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
    )
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    raw = reader.load(os.path.join(stage_dir, "data"))
    return normalize(raw)


def normalize(raw: DataFrame) -> DataFrame:
    """int64-nanos ts -> microsecond timestamp (same truncation as
    catalog.load's batch path)."""
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def run_available_now(
    sdf: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    query_name: str = "q",
) -> DataFrame:
    """Drain the stream with trigger(availableNow=True) into a memory sink
    and return the materialized result as a DataFrame."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(query_name)


def sink_parquet(
    sdf: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """S01 sink: parquet writeStream; checkpoint dir is the N9 durability
    analog (cfs_flush -> checkpoint commit log)."""
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# -- windowed aggregations --------------------------------------------------


def tumbling_counts(sdf: DataFrame) -> DataFrame:
    """S02: 1-hour tumbling window counts/sums with a 10-minute watermark."""
    return (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("v"))
        .select(F.col("win.start").alias("w"), "c", "v")
    )


def sliding_counts(sdf: DataFrame) -> DataFrame:
    """S03: 1-hour window sliding every 30 minutes."""
    return (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("win.start").alias("w"), "c")
    )


def session_counts(sdf: DataFrame) -> DataFrame:
    """S04: session windows with a 10-minute gap, per user."""
    return (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "10 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("win.start").alias("s"), "n")
    )


def dedup_stream(sdf: DataFrame) -> DataFrame:
    """S06: stateful exact dedup on the event key."""
    return sdf.dropDuplicates(["event_id"])


def dedup_stream_within_watermark(
    sdf: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """S13: bounded-state dedup — duplicates are only suppressed within the
    watermark horizon, so per-key state is EVICTED once the watermark
    passes it.  This is the 100 TB-correct form of S06: plain
    dropDuplicates keeps every key forever (state grows with the stream),
    while this holds state proportional to (arrival rate × delay).
    Semantics match exact dedup whenever true duplicates arrive within
    ``delay`` of the original (the usual at-least-once-delivery case)."""
    return sdf.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_join(sdf: DataFrame, static_df: DataFrame) -> DataFrame:
    """S07: stream-static equi-join (static side broadcast per micro-batch)."""
    return sdf.join(
        F.broadcast(static_df), sdf.user_id == static_df.c_custkey, "inner"
    )


def stream_stream_interval_join(sdf: DataFrame) -> DataFrame:
    """S09: stream-stream interval join — each 'click' joined to the same
    user's 'purchase' events within [click_ts, click_ts + 1 hour].

    Both sides carry a 30-minute watermark and the join condition bounds
    event time in both directions, so Spark can expire join state: a click
    is held for at most 1h + 30min of event time, a purchase for 30min.
    Without the time bound the state store would grow unboundedly — the
    thing that actually kills stream-stream joins at scale."""
    clicks = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "purchase_id")


def sink_foreach_batch(
    sdf: DataFrame, checkpoint_dir: str, batch_fn
) -> list[int]:
    """S10: foreachBatch sink — hands each micro-batch DataFrame plus its
    batch id to arbitrary engine code (e.g. Engine.append for exactly-once
    idempotent upserts keyed on batch_id).  Returns the seen batch ids."""
    seen: list[int] = []

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        seen.append(batch_id)
        batch_fn(batch_df, batch_id)

    q = (
        sdf.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return seen


def _session_close(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """S11: per-user session accumulator with a processing-time TTL.  While
    events keep arriving the state only accumulates; when the timeout fires
    (no events for the TTL) the finished session is emitted and the state
    cleared — the emit-on-silence pattern session_window cannot express in
    arbitrary-state form."""
    if state.hasTimedOut:
        n, lo, hi = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [key[0]], "events": [n], "first_us": [lo], "last_us": [hi]}
        )
        return
    n, lo, hi = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        us = (pdf["ts"].astype("int64") // 1000).tolist()
        n += len(pdf)
        lo = min([x for x in [lo, *us] if x is not None])
        hi = max([x for x in [hi, *us] if x is not None])
    state.update((n, lo, hi))
    state.setTimeoutDuration(2000)  # 2 s of silence closes the session
    yield pd.DataFrame(
        {"user_id": [], "events": [], "first_us": [], "last_us": []}
    )


def session_close_stateful(sdf: DataFrame) -> DataFrame:
    """S11: applyInPandasWithState with ProcessingTimeTimeout — sessions
    emit when a key goes quiet, state per key is 3 scalars (constant
    memory at any fan-out)."""
    return (
        sdf.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_close,
            outputStructType=(
                "user_id bigint, events bigint, first_us bigint, last_us bigint"
            ),
            stateStructType="n bigint, lo bigint, hi bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def tws_protocol_available() -> bool:
    """True when pyspark's transformWithState wire protocol can run —
    it serializes state requests through generated protobuf stubs
    (StateMessage_pb2), so ``google.protobuf`` must be importable."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _running_count_fallback(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n]})


def running_count_tws(sdf: DataFrame, use_tws: bool | None = None) -> DataFrame:
    """S12: per-user running event count via transformWithStateInPandas —
    the Spark 4 arbitrary-state API (typed ValueState handles, RocksDB
    state store).  Supersedes applyInPandasWithState for new code: state
    is schema'd and composable (value/list/map states, timers) instead of
    one opaque tuple.

    Dependency gate: the transformWithState protocol needs ``protobuf``
    at runtime (pyspark's StateMessage_pb2).  ``use_tws=None`` (default)
    auto-selects: the Spark 4 API when the protocol is importable, else a
    descriptor-free applyInPandasWithState twin with the IDENTICAL output
    contract (one ``(user_id, n)`` row per key per micro-batch, running
    total carried across batches) — so the operator's semantics are
    verifiable in protobuf-less environments and the plan swaps to the
    typed-state API without caller changes where it isn't.  ``True``
    forces the Spark 4 API (ImportError when the protocol is absent);
    ``False`` forces the fallback."""
    if use_tws is None:
        use_tws = tws_protocol_available()
    elif use_tws and not tws_protocol_available():
        # fail at plan time with the fix, not mid-stream in an Arrow worker
        raise ImportError(
            "transformWithStateInPandas needs the protobuf state protocol "
            "(pip install protobuf); use use_tws=None/False for the "
            "applyInPandasWithState twin"
        )
    if not use_tws:
        return (
            sdf.select("user_id", "event_id")
            .groupBy("user_id")
            .applyInPandasWithState(
                _running_count_fallback,
                outputStructType="user_id bigint, n bigint",
                stateStructType="n bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

        def close(self) -> None:
            pass

    return (
        sdf.select("user_id", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningCount(),
            outputStructType="user_id bigint, n bigint",
            outputMode="Update",
            timeMode="None",
        )
    )


# -- arbitrary stateful processing (S08) ------------------------------------


def _running_max(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running max over event time, state carried across
    micro-batches.  Rows within a batch are sorted by (ts, event_id) —
    arrival order inside a batch is not guaranteed."""
    cur = state.get[0] if state.exists else float("-inf")
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        out_max = pdf["value"].cummax().clip(lower=cur if cur != float("-inf") else None)
        cur = max(cur, float(pdf["value"].max()))
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "run_max": out_max,
            }
        )
    state.update((cur,))


def running_max_stateful(sdf: DataFrame) -> DataFrame:
    """S08: applyInPandasWithState running max per user (the arbitrary-
    stateful escape hatch; state is one float per user — constant memory
    per key at any scale)."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_max,
            outputStructType="user_id bigint, event_id bigint, run_max double",
            stateStructType="cur double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def versioned_batch_committer(
    engine,
    table: str,
    stats_cols: list | None = None,
    branch: str | None = None,
):
    """The foreachBatch function behind sink_versioned, exposed so tests
    (and custom writeStream wiring) can drive it directly.

    ``stats_cols``: record per-file [min, max] prune stats on every batch
    commit (versioning stats tier), so a stream-ingested table is
    file-skippable by ``read_version(predicates=...)``/``cfstable`` from
    the first micro-batch on — no OPTIMIZE pass needed before selective
    reads work.

    Exactly-once: each micro-batch commits as a versioned APPEND through
    ``versioning.commit_batch``, which skips a replayed batch id (at or
    under the batch-id watermark every manifest carries — one O(1)
    metadata read that survives version GC) and stamps the new one.  The
    commit itself is the atomic no-overwrite manifest publish
    (versioning.py).  With ``branch`` (WAP streaming) the whole run
    stages on an audit branch that must already exist
    (create_table_branch is the explicit fork step); the watermark rides
    the BRANCH chain, so replays skip there too, and publish carries the
    final watermark onto main."""
    from cubefs_hadoop_spark import versioning

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        path = engine._table_path(table)
        if (
            branch is None
            and engine.fs.exists(path)
            and not versioning.is_versioned(path, engine.fs)
        ):
            # a PLAIN parquet table already lives here: once a manifest
            # publishes, reads serve only the manifest snapshot, so
            # first adopt the existing files as version 1 or every
            # pre-existing row silently vanishes (ADVICE r04).  An
            # empty directory (no data files) has nothing to shadow.
            try:
                versioning.adopt_plain_table(path, engine.fs)
            except versioning.EngineIOError:
                pass  # empty dir: nothing to adopt
            except versioning.VersionConflictError:
                pass  # concurrent committer already adopted
        versioning.commit_batch(
            lambda: batch_df,
            path,
            batch_id,
            mode="append",
            fs=engine.fs,
            stats_cols=stats_cols,
            branch=branch,
        )

    return _commit


def sink_versioned(
    sdf: DataFrame,
    engine,
    table: str,
    checkpoint_dir: str,
    stats_cols: list | None = None,
    branch: str | None = None,
) -> None:
    """S14: stream into a snapshot-versioned table with exactly-once batch
    commits (the Iceberg-sink capability the reference's host engines get
    from Flink+Iceberg, reference README.md:79-88)."""
    q = (
        sdf.writeStream.foreachBatch(
            versioned_batch_committer(engine, table, stats_cols, branch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sink_merge(
    sdf: DataFrame,
    engine,
    table: str,
    on: str | list[str],
    checkpoint_dir: str,
    order_by: str | None = None,
    strategy: str = "cow",
) -> None:
    """S15: CDC-style streaming UPSERT sink — each micro-batch is merged
    into ``table`` by key (matched rows replaced, new keys inserted), the
    Flink/Iceberg upsert-sink capability over this engine's merge_table.

    ``order_by`` names the column that decides which row wins when a batch
    carries several updates to one key (highest value wins — typically the
    event timestamp or a change sequence number).  Without it the pick
    falls back to ordering over all non-key columns: DETERMINISTIC across
    replays, but not "latest" in any temporal sense — pass ``order_by``
    for real CDC streams.  (A physical-order pick via
    monotonically_increasing_id would embed the partition index in the
    high bits and could prefer an OLDER row from a later partition.)

    Effectively exactly-once without a ledger: merge is IDEMPOTENT (re-
    applying a batch replaces keys with identical rows), so foreachBatch's
    at-least-once replay around checkpoint boundaries converges to the
    same table state.  First batch creates the table.

    ``strategy="mor"`` routes each batch through the merge-on-read tier
    (equality-delete commit, versioning.commit_merge): per-batch cost is
    O(batch) instead of O(table) — the difference between a CDC sink
    that keeps up at 100 TB and one that rewrites the table every
    trigger.  First batch creates a VERSIONED table; replays still
    converge (a replayed batch's equality delete removes the earlier
    copy's rows, so content is identical, with the extra stacked
    version reclaimed by compaction + expire)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keys = [on] if isinstance(on, str) else list(on)
        if order_by is not None:
            order_cols = [F.col(order_by).desc()]
        else:
            order_cols = [
                F.col(c).desc() for c in batch_df.columns if c not in keys
            ] or [F.lit(1)]
        w = Window.partitionBy(*keys).orderBy(*order_cols)
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not engine.table_exists(table):
            if strategy == "mor":
                engine.write_table_version(latest, table)
            else:
                engine.write_table(latest, table)
        else:
            engine.merge_table(latest, table, on=keys, strategy=strategy)

    q = (
        sdf.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
