"""Lineage-cut materialization with a durability choice.

Iterative algorithms (connected components) and optimizer barriers (the
expensive-predicate isolation in x02d) need to cut lineage mid-pipeline.
Two tiers:

- ``localCheckpoint`` (default): blocks live on executor block managers.
  Fast (no FS round-trip), but an executor loss kills the job mid-iteration
  — acceptable on local[32] and for short-lived barriers, NOT for long
  iterative jobs on a real cluster (VERDICT r01 "What's wrong" #3).
- ``reliable=True``: ``RDD.checkpoint`` to a fault-tolerant directory under
  the warehouse/checkpoint root — the N9 flush/sync durability analog
  (CubefsOutputStream.java:116-141: data survives the writer); here the
  materialized iteration state survives executor loss.

``ensure_checkpoint_dir`` is idempotent and respects a dir the caller (or
the streaming engine, which already manages checkpoint locations) set
earlier.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def ensure_checkpoint_dir(spark: SparkSession, path: str | None = None) -> str:
    """Set the reliable-checkpoint dir if unset; return the effective dir.

    Default resolution order: explicit ``path`` > already-set dir >
    ``cfspark.checkpoint.dir`` conf > ``<spark.sql.warehouse.dir>/_checkpoints``
    > a tempdir (local mode).  At 100 TB this must be shared storage — the
    same volume the engine's warehouse lives on.
    """
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if path is None and current is not None:
        return current
    if path is None:
        try:
            path = spark.conf.get("cfspark.checkpoint.dir", None)
        except Exception:
            path = None
    if path is None:
        try:
            wh = spark.conf.get("spark.sql.warehouse.dir", None)
        except Exception:
            wh = None
        if wh:
            path = os.path.join(wh.removeprefix("file:"), "_checkpoints")
    if path is None:
        path = os.path.join(tempfile.gettempdir(), "cfspark-checkpoints")
    sc.setCheckpointDir(path)
    return sc.getCheckpointDir() or path


def is_materialized(df: DataFrame) -> bool:
    """True iff ``df``'s plan root is already a checkpoint scan (a
    ``LogicalRDD`` — what both ``checkpoint`` and ``localCheckpoint``
    leave behind).  Used to make double barriers no-ops: re-barriering a
    checkpointed frame buys nothing but a second copy job of the same
    blocks (ADVICE r14: x82's pair frame paid exactly that through
    ``connected_components_auto``)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return plan.getClass().getSimpleName() == "LogicalRDD"
    except Exception:
        return False


def barrier(
    df: DataFrame, eager: bool = True, reliable: bool | None = None
) -> DataFrame:
    """Cut lineage at this point in the plan.

    ``reliable=False`` -> localCheckpoint (executor-local, fast).
    ``reliable=True``  -> fault-tolerant checkpoint; sets a checkpoint dir
    under the warehouse root if none is configured yet.
    ``reliable=None``  -> read ``cfspark.reliable.barriers`` (default
    false): one session conf flips every barrier in the dedup/components
    pipelines to durable checkpoints for real-cluster runs, with no
    signature churn through the registered query functions.

    A frame whose plan root is ALREADY a checkpoint scan is returned
    unchanged — a second barrier would only re-copy the same blocks
    (durability does not compose through the re-copy either: the conf
    governs the FIRST barrier a frame meets).
    """
    if is_materialized(df):
        return df
    if reliable is None:
        try:
            reliable = (
                str(
                    df.sparkSession.conf.get("cfspark.reliable.barriers", "false")
                ).lower()
                == "true"
            )
        except Exception:
            reliable = False
    if reliable:
        ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


class AsyncMaterialization:
    """Handle for a DataFrame being driven to materialization on a
    background thread (guide §2.6 "overlap independent jobs"): Spark's
    scheduler runs several jobs inside one application; actions are only
    sequential because driver code calls them sequentially.  Used where
    one pipeline blocks the DRIVER (a collect/count + Python post-work)
    while an INDEPENDENT pipeline could be filling the otherwise idle
    executors — x82's CC-vs-PageRank, x61's candidate-vs-truth frames.

    Contract: the frame's lazy barriers/caches must not be shared with a
    concurrently-computing pipeline (materialize shared parents eagerly
    FIRST), and ``join()`` must be called before the caller returns so
    no concurrent jobs outlive the operator.  Exceptions propagate on
    ``join()``.  ``pyspark.InheritableThread`` keeps thread-local job
    descriptions/properties correct for the background jobs."""

    def __init__(self, df: DataFrame) -> None:
        from pyspark import InheritableThread

        self._exc: list[BaseException] = []

        def _run() -> None:
            try:
                # count() walks the whole chain, materializing every
                # lazy checkpoint/cache it passes through
                df.count()
            except BaseException as e:  # noqa: BLE001 — re-raised in join
                self._exc.append(e)

        self._t = InheritableThread(target=_run)
        self._t.start()

    def wait(self) -> None:
        """Block until the background job finishes WITHOUT re-raising its
        failure — for exception paths, where raising here would mask the
        foreground error that is already unwinding (ADVICE r14)."""
        self._t.join()

    def join(self) -> None:
        self._t.join()
        if self._exc:
            raise self._exc[0]


def materialize_async(df: DataFrame) -> AsyncMaterialization:
    """Start materializing ``df`` on a background thread; returns a
    handle whose ``join()`` blocks until done (re-raising any failure).
    See :class:`AsyncMaterialization` for the safety contract."""
    return AsyncMaterialization(df)
