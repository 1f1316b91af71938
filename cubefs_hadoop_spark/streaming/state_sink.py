"""Streaming ingest of ADDITIVE sufficient-statistics state (VERDICT r6
item 5): a foreachBatch sink that folds each micro-batch into the
persisted x31b centroid state / x33b DSIR vocabulary (and the other
S16-S39 sketches) exactly once.

The incremental operators (semantic.centroid_state_fold,
search.dsir_state_fold) already prove fold == full-recompute for BATCH
ingest; this module closes the loop for STREAMING ingest: embeddings or
documents arriving as a stream fold into the same state with
exactly-once semantics across checkpoint restarts and replayed batches.

Exactly-once mechanics: every state directory is a versioned table
(versioning.py), and each fold commits through
``versioning.commit_batch`` — the same protocol as ops.sink_versioned.
Structured Streaming batch ids increase monotonically per checkpoint and
foreachBatch is at-least-once around checkpoint boundaries, so "already
folded" is exactly ``batch_id <= versioning.last_committed_batch``; a
replayed batch no-ops before its stats run, so state is never
double-counted.  A fold reads the current version, merges the batch's
statistics into it and publishes the result as a new OVERWRITE version
through the atomic no-overwrite manifest publish (versioning.py; the
reference's false-if-dst-exists contract,
``CubefsFileSystem.java:221-223``).  Readers
resolve the latest manifest, so they never see a half-applied fold; a
crash before the publish leaves staged files no manifest references,
which ``versioning.expire_versions`` reaps.  Every filesystem call goes
through ``fs.warehouse_fs``, so a state directory (and the sinks'
side snapshot directories) may be a bare path or any Hadoop-FS URI.

Scale (100 TB stream): per batch the work is O(batch) map + a
state-sized merge — centroid state is labels x dims rows, DSIR state is
vocabulary-sized; both metadata-scale next to the stream.  The corpus
is never re-read (the whole point of additive sufficient statistics).
The watermark is one manifest read per batch.  Superseded versions stay
on disk for time travel until ``expire_versions`` drops them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark import versioning
from cubefs_hadoop_spark.fs import WarehouseFS, warehouse_fs


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current state snapshot: the latest committed version."""
    return versioning.read_version(
        spark, state_dir, fs=warehouse_fs(spark, state_dir)
    )


def _ledger_committer(
    state_dir: str,
    stats_fn: Callable[[DataFrame], DataFrame],
    merge_fn: "Callable[[DataFrame | None, DataFrame], DataFrame]",
) -> Callable[[DataFrame, int], None]:
    """The ONE exactly-once fold protocol every state sink shares:
    batch-id watermark skip -> merge with the current version -> publish
    the merged frame as a new version (``versioning.commit_batch``).
    Only the MERGE LAW varies by sink — ``fold_keyed`` for every keyed
    state, S29's funnel merge otherwise — so only
    ``merge_fn(prev_or_None, batch_stats)`` is pluggable: a fix to the
    exactly-once mechanics lands once, for every sink."""

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs = warehouse_fs(spark, state_dir)

        def merged() -> DataFrame:
            batch_stats = stats_fn(batch_df)
            prev = None
            if versioning.list_versions(state_dir, fs):
                prev = versioning.read_version(spark, state_dir, fs=fs)
            return merge_fn(prev, batch_stats)

        versioning.commit_batch(
            merged, state_dir, batch_id, mode="overwrite", fs=fs
        )

    return _commit


def fold_keyed(
    prev: DataFrame | None,
    batch_stats: DataFrame,
    key_cols: list[str],
    law: dict[str, str],
) -> DataFrame:
    """THE merge law of every keyed state: ``prev ∪ batch_stats`` (the
    batch under the state's column order; the batch alone on the first
    fold) grouped by ``key_cols``, each ``law`` column folded by its
    ``"sum"``, ``"min"`` or ``"max"``.  All three are associative and
    commutative, so fold(state, batch) == full recompute whatever the
    batch slicing.  An EMPTY law is set union — the distinct key rows,
    idempotent as well, so even a key present in many batches lands one
    row (Bloom's OR of bit vectors, expressed relationally)."""
    both = (
        batch_stats
        if prev is None
        else prev.unionByName(batch_stats.select(*prev.columns))
    )
    if not law:
        return both.select(*key_cols).distinct()
    return both.groupBy(*key_cols).agg(
        *[getattr(F, fn)(c).alias(c) for c, fn in law.items()]
    )


def _keyed_committer(
    state_dir: str,
    stats_fn: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    law: dict[str, str],
) -> Callable[[DataFrame, int], None]:
    """The exactly-once fold of a keyed state under ``fold_keyed``."""
    return _ledger_committer(
        state_dir,
        stats_fn,
        lambda prev, batch_stats: fold_keyed(prev, batch_stats, key_cols, law),
    )


def additive_state_committer(
    state_dir: str,
    stats_fn: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    sum_cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function folding each micro-batch's additive
    sufficient statistics into the persisted state, exactly once.

    ``stats_fn(batch_df)`` must return a frame keyed by ``key_cols``
    whose ``sum_cols`` are associative+commutative sums — then
    fold(state, batch) == full recompute over every row ever ingested,
    to the bit, regardless of how the stream sliced the data into
    batches (the incremental-op contract x31b/x33b hash-prove)."""
    return _keyed_committer(
        state_dir, stats_fn, key_cols, dict.fromkeys(sum_cols, "sum")
    )


def sink_centroid_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> None:
    """Stream (label, embedding) rows into the x31b centroid state: each
    micro-batch's per-(label, dim) (sum_milli, cnt) folds into
    ``state_dir`` exactly once.  ``semantic.centroids_from_state`` /
    ``ncm_classify(state=...)`` consume the result."""
    from cubefs_hadoop_spark.extensions.semantic import label_centroids

    def stats(batch: DataFrame) -> DataFrame:
        return label_centroids(
            batch, label_col=label_col, vec_col=vec_col
        ).select(label_col, "dim", "sum_milli", "cnt")

    _drain(
        sdf,
        additive_state_committer(
            state_dir, stats, [label_col, "dim"], ["sum_milli", "cnt"]
        ),
        checkpoint_dir,
    )


def sink_dsir_state(
    sdf: DataFrame,
    target,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> None:
    """Stream documents into the x33b DSIR LM state: each micro-batch's
    (word, cc, ct) vocabulary counts fold into ``state_dir`` exactly
    once.  ``search.dsir_score`` against the folded state is
    hash-identical to the full x33 recompute over all ingested docs."""
    from cubefs_hadoop_spark.extensions.search import dsir_vocab

    def stats(batch: DataFrame) -> DataFrame:
        return dsir_vocab(batch, target, text_col=text_col)

    _drain(
        sdf,
        additive_state_committer(state_dir, stats, ["word"], ["cc", "ct"]),
        checkpoint_dir,
    )


def _drain(
    sdf: DataFrame,
    commit_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    q = (
        sdf.writeStream.foreachBatch(commit_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sink_cms_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> None:
    """Stream documents into an x42 Count-Min state: each micro-batch's
    (row, bucket) counter increments fold into ``state_dir`` exactly
    once — CMS counters are the textbook additive sketch (merging two
    sketches of two streams IS the sketch of the concatenated stream),
    so the streamed state equals the batch-built sketch to the bit and
    ``sketch.cms_estimates`` serves point queries against it at any
    moment.  State is O(D x W) forever, whatever the stream has seen."""
    from cubefs_hadoop_spark.extensions.sketch import count_min_cells

    def stats(batch: DataFrame) -> DataFrame:
        return count_min_cells(
            batch.select(F.explode(F.split(text_col, " ")).alias("word"))
        )

    _drain(
        sdf,
        additive_state_committer(state_dir, stats, ["row", "bucket"], ["c"]),
        checkpoint_dir,
    )


def sink_histogram_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    lo: int,
    width: int,
    bins: int,
    text_col: str = "text",
    group_cols: list[str] | None = None,
) -> None:
    """Stream documents into an x45-style histogram state (S18): each
    micro-batch's per-doc token counts bucket into FROZEN equi-width
    bins and the (bin, bc) cells fold into ``state_dir`` exactly once —
    bin counts are additive, the same CMS argument, so the streamed
    state equals a batch-built histogram over everything ever ingested
    and ``hist_quantile_from_cells`` serves rank queries against it at
    any moment.  State is O(bins) forever — O(groups x bins) when
    ``group_cols`` (e.g. ``["source"]``) partition the histogram, which
    is exactly the state the x48 drift monitor consumes:
    ``drift_from_cells`` turns a grouped streamed state into the live
    per-source drift table without re-reading anything.

    Bins are frozen at sink creation (``lo``/``width``/``bins``) — the
    one contract difference from batch x45, which derives [lo, hi] from
    the data in a first pass; a stream has no second pass, so the bin
    config is part of the state's identity (values clamp into the edge
    bins).  This is the standard streaming-histogram tradeoff."""
    # a degenerate bin config would not error downstream — Spark's
    # non-ANSI div-by-zero yields NULL and the clamp would silently
    # funnel every document into one edge bin, corrupting the state
    # while looking healthy.  Refuse loudly instead (the x47/x48
    # empty-input contract).
    if int(width) <= 0 or int(bins) <= 0:
        raise ValueError(
            f"sink_histogram_state: invalid bin config width={width} "
            f"bins={bins} (both must be positive)"
        )
    gcols = list(group_cols or [])

    def stats(batch: DataFrame) -> DataFrame:
        # greatest/least SKIP null arguments, so a NULL token count (a
        # null text row) would silently land in bin bins-1 — the exact
        # edge-bin corruption the config guard above refuses loudly.
        # A null text row carries no token-count signal: drop it before
        # binning (ADVICE r7).
        return (
            batch.select(
                *gcols,
                F.size(F.split(text_col, " ")).cast("long").alias("v"),
            )
            .where(F.col("v").isNotNull())
            .select(
                *gcols,
                F.greatest(
                    F.lit(0).cast("long"),
                    F.least(
                        F.lit(int(bins) - 1).cast("long"),
                        F.expr(f"(v - {int(lo)}) div {int(width)}"),
                    ),
                ).alias("bin"),
            )
            .groupBy(*gcols, "bin")
            .agg(F.count(F.lit(1)).cast("long").alias("bc"))
        )

    _drain(
        sdf,
        additive_state_committer(state_dir, stats, gcols + ["bin"], ["bc"]),
        checkpoint_dir,
    )


def drift_from_cells(
    cells: DataFrame, group_col: str = "source", total: int | None = None
) -> DataFrame:
    """The x48 drift table served from grouped histogram cells
    (``(group, bin, bc)``, batch- or stream-built): per group, L1
    distance and worst-bin deviation vs the all-groups histogram, in
    integer millis.  O(groups x bins) compute — the monitoring query a
    pipeline runs against its S18 state between micro-batches.

    This is THE post-cells drift computation — x48's registered entry
    delegates here, so the batch/oracle-checked table and the
    live-served one cannot diverge.  ``total`` optionally pins the
    all-groups count as a plan literal (x48 passes it — the x03e
    pattern); left None it is computed from the cells with a 1-row
    broadcast."""
    srcs = cells.groupBy(group_col).agg(F.sum("bc").alias("ns"))
    gbl = cells.groupBy("bin").agg(F.sum("bc").alias("gc"))
    grid = (
        srcs.crossJoin(F.broadcast(gbl))
        .join(cells, [group_col, "bin"], "left")
        .fillna(0, ["bc"])
    )
    if total is None:
        grid = grid.crossJoin(
            F.broadcast(cells.agg(F.sum("bc").alias("n")))
        )
        dev = F.expr("abs(1000 * bc div ns - 1000 * gc div n)")
    else:
        dev = F.expr(
            f"abs(1000 * bc div ns - 1000 * gc div {int(total)})"
        )
    return (
        grid.groupBy(group_col)
        .agg(
            F.max("ns").cast("long").alias("n_docs"),
            F.sum(dev).cast("long").alias("l1_milli"),
            F.max(dev).cast("long").alias("max_bin_milli"),
        )
        .orderBy(group_col)
    )


def hist_quantile_from_cells(cells: DataFrame, p_milli: int, lo: int, width: int) -> int:
    """Serve a rank query from histogram cells (batch- or stream-built):
    lower edge of the first bin whose cumulative count reaches
    ceil(p * n / 1000).  O(bins) driver-side — the cells frame IS the
    sketch."""
    rows = sorted(
        (r["bin"], r["bc"]) for r in cells.select("bin", "bc").collect()
    )
    n = sum(bc for _, bc in rows)
    target = (p_milli * n + 999) // 1000
    cum = 0
    for b, bc in rows:
        cum += bc
        if cum >= target:
            return int(lo) + int(b) * int(width)
    raise ValueError("empty histogram state")


def sink_srp_bucket_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    hyperplanes: list[tuple[int, list]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Stream embeddings into an x53 LSH bucket-population state (S20):
    each micro-batch's SRP signatures reduce to (band, key, c) cells
    that fold into ``state_dir`` exactly once — bucket counts are
    additive (the CMS argument), so the streamed cells bit-equal a
    batch signature pass over everything ever ingested, and
    ``semantic.bucket_audit_from_cells`` serves the x53 audit against
    them at any moment.  This is the live half of the LSH sizing loop:
    the ingest stream watches cand_pairs/top_share_milli grow and
    re-sizes bits-per-band BEFORE the nightly dedup pays a blown-up
    pair join (the x13 pinned-config lesson, SCALING.md).

    ``hyperplanes`` is a driver-scale [(h, vector), ...] list FROZEN at
    sink creation — like S18's bins, the signature space is part of the
    state's identity (changing planes would alias old and new buckets).
    State is O(bands x 2^bits) cells forever."""
    if not hyperplanes:
        raise ValueError(
            "sink_srp_bucket_state: empty hyperplane list — a signature "
            "space must be frozen at sink creation (collect e.g. the "
            "first bands*bits corpus vectors)"
        )
    from cubefs_hadoop_spark.extensions.semantic import (
        srp_bucket_cells,
        srp_signatures,
    )

    def stats(batch: DataFrame) -> DataFrame:
        hp = batch.sparkSession.createDataFrame(
            [(int(h), list(map(float, v))) for h, v in hyperplanes],
            "h int, hv array<double>",
        )
        sig = srp_signatures(
            batch.select(id_col, F.col(vec_col).cast("array<double>")),
            hp,
            id_col=id_col,
            vec_col=vec_col,
        )
        return srp_bucket_cells(sig)

    _drain(
        sdf,
        additive_state_committer(state_dir, stats, ["band", "key"], ["c"]),
        checkpoint_dir,
    )


def sink_bloom_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> None:
    """Stream documents into an x44 Bloom-filter state (S19): each
    micro-batch's 16-word windows hash into set-bit positions that fold
    into ``state_dir`` by exactly-once set union — Bloom's merge IS
    bitwise OR, so the streamed filter bit-equals the batch-built one
    over everything ever ingested, keeps its definitive-miss guarantee
    (a window seen in ANY past batch always hits), and
    ``sketch.bloom_probe`` serves decontamination lookups against it at
    any moment.  State is <= m rows forever, whatever the stream saw —
    the streaming half of the passage-Bloom decontamination loop (x44
    scores it batch-side)."""
    from cubefs_hadoop_spark.extensions.sketch import _windows, bloom_build

    def keys(batch: DataFrame) -> DataFrame:
        return bloom_build(_windows(batch))

    _drain(
        sdf,
        _keyed_committer(state_dir, keys, ["pos"], {}),
        checkpoint_dir,
    )


def sink_fertility_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str = "source",
    text_col: str = "text",
) -> None:
    """Stream documents into the x58 tokenizer-fertility state (S21):
    each micro-batch's per-source (n_docs, n_words, n_subwords, n_chars)
    sums fold into ``state_dir`` exactly once — the counts are plain
    additive sufficient statistics, so the streamed state bit-equals the
    batch ``fertility_stats`` over everything ever ingested, and
    ``tokenize.fertility_from_stats`` serves the live compression/
    fertility table at any moment (run it per ingest batch and diff the
    ratios — the x48-style drift loop, in tokenizer space)."""
    from cubefs_hadoop_spark.extensions.tokenize import fertility_stats

    def stats(batch: DataFrame) -> DataFrame:
        return fertility_stats(batch, group_col=group_col, text_col=text_col)

    _drain(
        sdf,
        additive_state_committer(
            state_dir,
            stats,
            [group_col],
            ["n_docs", "n_words", "n_subwords", "n_chars"],
        ),
        checkpoint_dir,
    )


def sink_funnel_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    by: str = "source",
    text_col: str = "text",
) -> None:
    """Stream documents into the x63 rejection-funnel state (S22): each
    micro-batch's first-failing-gate attribution counts per (by, stage)
    fold into ``state_dir`` exactly once — the counts are plain
    additive sufficient statistics (the gate attribution is row-local,
    so slicing the corpus into batches cannot change any document's
    charged stage), and the streamed state bit-equals the batch
    ``funnel_counts`` over everything ever ingested.
    ``text.funnel_from_counts`` serves the live per-source loss table
    at any moment — the ingest-time curation dashboard, at
    O(sources x 4) state forever."""
    from cubefs_hadoop_spark.extensions.text import funnel_counts

    def stats(batch: DataFrame) -> DataFrame:
        return funnel_counts(batch, text_col=text_col, by=by)

    _drain(
        sdf,
        additive_state_committer(state_dir, stats, [by, "stage"], ["n_docs"]),
        checkpoint_dir,
    )

def _mirror_batch_cells(
    batch: DataFrame,
    index_dir: str,
    batch_id: int,
    source_col: str,
    text_col: str,
) -> DataFrame:
    """One micro-batch's (source_a, source_b, n_pairs) cells: the x02e
    incremental probe (new-vs-index + within-batch candidate pairs —
    each full-corpus pair is emitted exactly once, in the batch where
    its LATER-arriving member lands), attributed through the persisted
    (doc_id, source) map.  Publishes this batch's bands and source rows
    under per-batch overwrite subdirectories.

    Crash-replay contract (ADVICE r11): a batch the state has already
    committed is skipped entirely by ``_ledger_committer`` — stats_fn
    never re-runs, so the overwrite path is only reached when the
    process died BETWEEN publishing this batch's files and committing
    the state version.  On that replay the index reads would see attempt
    1's own ``batch=N`` files, so both reads partition-prune to
    ``batch < batch_id`` (free — no data scanned) before unioning this
    batch's rows: without the source-map prune, pair attribution would
    join a doubled (doc_id, source) map and inflate every cell 2-4x,
    breaking the exactly-once / bit-equals-batch contract."""
    from cubefs_hadoop_spark.extensions.dedup import (
        _probe_delta,
        lsh_bands,
        minhash_signature,
        mirror_pair_cells,
    )
    from cubefs_hadoop_spark.plans.materialize import barrier

    spark = batch.sparkSession
    fs = warehouse_fs(spark, index_dir)
    bands_dir = fs.join(index_dir, "bands")
    src_dir = fs.join(index_dir, "sources")
    new_bands = barrier(
        lsh_bands(minhash_signature(batch.select("doc_id", text_col))),
        eager=False,
    )
    new_src = batch.select(
        "doc_id", F.coalesce(source_col, F.lit("(null)")).alias("source")
    )
    idx = None
    src_all = new_src
    if fs.exists(bands_dir):
        # read only PRIOR batches' files: on a crash-replay (died after
        # publishing attempt 1's batch=N files but before the state
        # commit) the directory already holds THIS batch's rows — the
        # partition filter prunes them (free: no data read), so the
        # index never double-counts the replaying batch (ADVICE r11)
        idx = (
            spark.read.parquet(bands_dir)
            .filter(F.col("batch") < F.lit(int(batch_id)))
            .select("band", "key", "doc_id")
        )
        src_all = (
            spark.read.parquet(src_dir)
            # same crash-replay partition prune as the band index: the
            # source map must not contain this batch's rows twice, or
            # pair attribution joins a doubled map and inflates every
            # cell 2-4x (ADVICE r11 — pairs survive replay via
            # .distinct(); the source map is guarded here)
            .filter(F.col("batch") < F.lit(int(batch_id)))
            .select("doc_id", "source")  # drop the batch= partition column
            .unionByName(new_src)
        )
    # materialize the pair delta BEFORE publishing this batch's bands —
    # otherwise the lazy cross join could list the just-written files at
    # execution time (the union-distinct would still dedupe them, but
    # the ordering should not rely on that)
    pairs = barrier(_probe_delta(new_bands, "doc_id", idx), eager=True)
    cells = mirror_pair_cells(pairs, src_all)
    new_bands.write.mode("overwrite").parquet(
        fs.join(bands_dir, f"batch={batch_id}")
    )
    new_src.write.mode("overwrite").parquet(
        fs.join(src_dir, f"batch={batch_id}")
    )
    return cells


def sink_mirror_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    source_col: str = "source",
    text_col: str = "text",
) -> None:
    """Stream documents into the x70 mirror-matrix state (S23): each
    micro-batch probes the persisted LSH band index for the candidate
    pairs its arrival creates (the x02e incremental delta — every
    full-corpus pair surfaces exactly once, when its later member
    arrives), attributes them by unordered source pair, and folds the
    (source_a, source_b, n_pairs) cells into ``state_dir`` exactly once
    under the shared commit protocol.  The streamed counts bit-equal a
    batch ``mirror_matrix`` rollup over everything ever ingested, and
    ``dedup.mirror_from_counts`` serves the live mirror table (exact
    milli shares) at any moment — the ingest-time answer to "which
    source pairs are mirroring each other RIGHT NOW".  State is
    O(|sources|^2) cells forever; per batch the work is one batch-scale
    signature pass + one probe join against the band index (a fraction
    of corpus bytes), never a corpus re-scan."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        def stats(batch: DataFrame) -> DataFrame:
            return _mirror_batch_cells(
                batch, index_dir, int(batch_id), source_col, text_col
            )

        additive_state_committer(
            state_dir, stats, ["source_a", "source_b"], ["n_pairs"]
        )(batch_df, batch_id)

    _drain(sdf, commit, checkpoint_dir)


def _latest_snapshot_batch(
    fs: WarehouseFS, snap_dir: str, before: int
) -> int | None:
    """Highest ``batch=K`` subdirectory of ``snap_dir`` with K < before,
    or None.  Listing the filesystem (not reading data) keeps the replay
    contract exact: a crashed batch's own attempt-1 snapshot (K ==
    before) is never its own input."""
    best = None
    for name, is_dir in fs.list_dir(snap_dir):
        if not (is_dir and name.startswith("batch=")):
            continue
        try:
            k = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if k < before and (best is None or k > best):
            best = k
    return best


def _transition_batch_cells(
    batch: DataFrame,
    last_dir: str,
    batch_id: int,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """One micro-batch's (ft, tt, n) transition cells: within-batch
    adjacencies (a lead window over BATCH rows, never the corpus) plus
    the cross-batch BOUNDARY transition from each user's persisted last
    event to their first event in this batch.  Publishes the merged
    per-user last-event snapshot under ``last_dir/batch=N`` (overwrite,
    so the crash-replay of a batch that died pre-commit re-publishes
    identical files and reads only batch < N — the S23 prune
    contract)."""
    from cubefs_hadoop_spark.plans.materialize import barrier

    spark = batch.sparkSession
    ev = batch.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("y"),
    )
    w = Window.partitionBy("u").orderBy("t", "i")
    s = ev.select(
        "u",
        "t",
        "i",
        "y",
        F.lead("y").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    within = s.filter(F.col("nxt").isNotNull()).select(
        F.col("y").alias("ft"), F.col("nxt").alias("tt")
    )
    fs = warehouse_fs(spark, last_dir)
    prior = _latest_snapshot_batch(fs, last_dir, int(batch_id))
    pairs = within
    last_in = ev.groupBy("u").agg(
        F.max(F.struct("t", "i", "y")).alias("last")
    )
    merged = last_in.select("u", "last")
    if prior is not None:
        prev = spark.read.parquet(
            fs.join(last_dir, f"batch={prior}")
        ).select("u", "last")
        first = s.filter(F.col("rn") == 1).select(
            "u",
            F.col("t").alias("ftt_t"),
            F.col("i").alias("ftt_i"),
            F.col("y").alias("ftt"),
        )
        # ENFORCE the append-log contract in-plan: a batch event older
        # than the user's persisted last event means arrival order
        # broke event-time order — the boundary transition (and the
        # counts already folded) would be wrong, so fail the batch
        # loudly BEFORE the state commits (exactly-once preserved)
        # instead of silently folding a corrupt matrix.  assert_true
        # returns NULL on success, so the filter keeps every valid row
        # and the optimizer cannot prune the check.  The guard compares
        # the FULL ordering key (ts, event_id), strictly (ADVICE r12):
        # a ts-only `<=` would admit a cross-batch tie whose (ts, id)
        # order the batch recompute resolves the other way, silently
        # diverging from the bit-equality contract; an equal full key
        # is a duplicate event and equally a violation.
        boundary = (
            prev.join(first, "u")
            .filter(
                F.assert_true(
                    F.struct(
                        F.col("last.t").alias("t"),
                        F.col("last.i").alias("i"),
                    )
                    < F.struct(
                        F.col("ftt_t").alias("t"),
                        F.col("ftt_i").alias("i"),
                    ),
                    F.lit(
                        "sink_transition_state: out-of-order arrival —"
                        " a batch holds an event older than its user's"
                        " persisted last event; the append-log contract"
                        " (per-user event-time order across batches) is"
                        " violated"
                    ),
                ).isNull()
            )
            .select(F.col("last.y").alias("ft"), F.col("ftt").alias("tt"))
        )
        pairs = within.unionByName(boundary)
        merged = (
            prev.unionByName(last_in.select("u", "last"))
            .groupBy("u")
            .agg(F.max("last").alias("last"))
        )
    cells = barrier(
        pairs.groupBy("ft", "tt").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        eager=True,
    )
    merged.write.mode("overwrite").parquet(
        fs.join(last_dir, f"batch={batch_id}")
    )
    return cells


def sink_transition_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    last_dir: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> None:
    """Stream events into the x85 transition-matrix state (S25): each
    micro-batch folds its within-batch transition counts PLUS the
    cross-batch boundary transitions (persisted per-user last event ->
    the user's first event this batch) into ``state_dir`` exactly once
    under the shared commit protocol, and advances the per-user
    last-event snapshot in ``last_dir``.  ``behavior.transitions_from_counts``
    serves the live matrix (exact milli shares) at any moment — the
    ingest-time answer to "which paths are hot RIGHT NOW".

    Contract: per-user event-TIME order must be non-decreasing across
    batches (the append-log case — a user's batch-N events all follow
    their batch-<N events); within a batch order is free (the lead
    window sorts).  Under that contract the folded counts bit-equal a
    batch ``transition_counts`` over everything ever ingested,
    boundary transitions included.  State: |types|^2 cells + one row
    per user seen (user-grain, orders below event grain)."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        def stats(batch: DataFrame) -> DataFrame:
            return _transition_batch_cells(
                batch,
                last_dir,
                int(batch_id),
                user_col,
                type_col,
                ts_col,
                id_col,
            )

        additive_state_committer(state_dir, stats, ["ft", "tt"], ["n"])(
            batch_df, batch_id
        )

    _drain(sdf, commit, checkpoint_dir)


def sink_rfm_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> None:
    """Stream events into the x87 RFM metric state (S26): each
    micro-batch's per-user (last_day, frequency, monetary_cents)
    sufficient statistics fold into ``state_dir`` exactly once under
    the shared commit protocol — the merge law is (MAX date, SUM, SUM),
    all associative+commutative, so the folded state bit-equals the batch
    ``rfm_metric_frame`` over everything ever ingested REGARDLESS of
    how the stream sliced events into batches (no ordering contract,
    unlike S25).  ``behavior.rfm_from_metrics`` serves the live
    segmentation (rank-exact terciles) at any moment — the ingest-time
    "who are the whales RIGHT NOW" table.  State: one row per user
    seen, user-grain forever."""
    from cubefs_hadoop_spark.extensions.behavior import rfm_metric_frame

    def stats(batch: DataFrame) -> DataFrame:
        return rfm_metric_frame(
            batch, user_col, ts_col, type_col, value_col, purchase_type
        )

    law = {"last_day": "max", "frequency": "sum", "monetary_cents": "sum"}
    _drain(
        sdf,
        _keyed_committer(state_dir, stats, ["user_id"], law),
        checkpoint_dir,
    )


def sink_value_counts_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    type_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Stream events into the x88 value-profile state (S27): each
    micro-batch's (event_type, cents, cnt) counts fold into
    ``state_dir`` exactly once — plain additive counters, no ordering
    contract — and ``behavior.value_percentiles_from_counts`` serves
    the live EXACT per-type p50/p90/total profile at any moment (the
    percentile machinery runs on the folded counts, so the streamed
    profile bit-equals the batch x88 over everything ever ingested).
    State: one row per (type, distinct cent value) seen — bounded by
    the value space, not the event count."""
    from cubefs_hadoop_spark.extensions.behavior import value_cents_counts

    def stats(batch: DataFrame) -> DataFrame:
        return value_cents_counts(batch, type_col, value_col)

    _drain(
        sdf,
        additive_state_committer(
            state_dir, stats, [type_col, "c"], ["cnt"]
        ),
        checkpoint_dir,
    )


def sink_split_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    by: str = "source",
    text_col: str = "text",
) -> None:
    """Stream documents into the x76 stratified-split state (S24): each
    micro-batch's (source, split, n_docs) counts fold into
    ``state_dir`` exactly once — split assignment is a row-local
    content hash, so batch slicing cannot change any document's split,
    the counts are plain additive sufficient statistics, and the
    streamed state bit-equals the batch ``split_counts`` over
    everything ever ingested.  ``text.split_audit_from_counts`` serves
    the live per-stratum balance table at any moment — the ingest-time
    "did a stratum lose its eval shard?" dashboard at
    O(strata x 3) state forever."""
    from cubefs_hadoop_spark.extensions.text import split_counts

    def stats(batch: DataFrame) -> DataFrame:
        return split_counts(batch, by=by, text_col=text_col)

    _drain(
        sdf,
        additive_state_committer(
            state_dir, stats, [by, "split"], ["n_docs"]
        ),
        checkpoint_dir,
    )


def _trigram_batch_cells(
    batch: DataFrame,
    last2_dir: str,
    batch_id: int,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """One micro-batch's (t1, t2, t3, n) trigram cells: within-batch
    3-step adjacencies (two leads over BATCH rows) plus the cross-batch
    BOUNDARY trigrams stitched from the persisted per-user last-TWO
    snapshot — a trigram spans at most 3 events, so a boundary trigram
    has either 2 persisted + 1 batch events (via last2/last1) or
    1 persisted + 2 batch events (via last1 + the batch's first two).
    A user whose events trickle in one per batch is covered because the
    snapshot's last2 slot carries the previous last1 forward.

    Publishes the merged per-user snapshot under ``last2_dir/batch=N``
    (overwrite — the S23 crash-replay prune contract: a replayed batch
    reads only batch < N and re-publishes identical files)."""
    from cubefs_hadoop_spark.plans.materialize import barrier

    spark = batch.sparkSession
    ev = batch.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("y"),
    )
    w = Window.partitionBy("u").orderBy("t", "i")
    s = ev.select(
        "u",
        "t",
        "i",
        "y",
        F.lead("y", 1).over(w).alias("n1"),
        F.lead("y", 2).over(w).alias("n2"),
        F.row_number().over(w).alias("rn"),
    )
    within = s.filter(
        F.col("n1").isNotNull() & F.col("n2").isNotNull()
    ).select(
        F.col("y").alias("t1"),
        F.col("n1").alias("t2"),
        F.col("n2").alias("t3"),
    )
    wd = Window.partitionBy("u").orderBy(F.desc("t"), F.desc("i"))
    r2 = ev.withColumn("rd", F.row_number().over(wd)).filter(
        F.col("rd") <= 2
    )
    snap_in = r2.groupBy("u").agg(
        F.max(F.when(F.col("rd") == 1, F.struct("t", "i", "y"))).alias(
            "last1"
        ),
        F.max(F.when(F.col("rd") == 2, F.col("y"))).alias("last2_y"),
    )
    fs = warehouse_fs(spark, last2_dir)
    prior = _latest_snapshot_batch(fs, last2_dir, int(batch_id))
    trigs = within
    merged = snap_in
    if prior is not None:
        prev = spark.read.parquet(
            fs.join(last2_dir, f"batch={prior}")
        ).select("u", "last1", "last2_y")
        f1 = s.filter(F.col("rn") == 1).select(
            "u",
            F.col("t").alias("f1_t"),
            F.col("i").alias("f1_i"),
            F.col("y").alias("f1_y"),
        )
        f2 = s.filter(F.col("rn") == 2).select(
            "u", F.col("y").alias("f2_y")
        )
        # the S25 append-log guard, full (ts, id) ordering key, strict
        b = (
            prev.join(f1, "u")
            .join(f2, "u", "left")
            .filter(
                F.assert_true(
                    F.struct(
                        F.col("last1.t").alias("t"),
                        F.col("last1.i").alias("i"),
                    )
                    < F.struct(
                        F.col("f1_t").alias("t"), F.col("f1_i").alias("i")
                    ),
                    F.lit(
                        "sink_trigram_state: out-of-order arrival — a"
                        " batch holds an event at or before its user's"
                        " persisted last event; the append-log contract"
                        " (per-user (ts, id) order across batches) is"
                        " violated"
                    ),
                ).isNull()
            )
        )
        ta = b.filter(F.col("last2_y").isNotNull()).select(
            F.col("last2_y").alias("t1"),
            F.col("last1.y").alias("t2"),
            F.col("f1_y").alias("t3"),
        )
        tb = b.filter(F.col("f2_y").isNotNull()).select(
            F.col("last1.y").alias("t1"),
            F.col("f1_y").alias("t2"),
            F.col("f2_y").alias("t3"),
        )
        trigs = within.unionByName(ta).unionByName(tb)
        merged = (
            prev.alias("p")
            .join(snap_in.alias("c"), "u", "full")
            .select(
                "u",
                F.coalesce(F.col("c.last1"), F.col("p.last1")).alias(
                    "last1"
                ),
                F.when(
                    F.col("c.last1").isNull(), F.col("p.last2_y")
                )
                .otherwise(
                    F.coalesce(F.col("c.last2_y"), F.col("p.last1.y"))
                )
                .alias("last2_y"),
            )
        )
    cells = barrier(
        trigs.groupBy("t1", "t2", "t3").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        eager=True,
    )
    merged.write.mode("overwrite").parquet(
        fs.join(last2_dir, f"batch={batch_id}")
    )
    return cells


def sink_trigram_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    last2_dir: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> None:
    """Stream events into the x98 trigram state (S28): each micro-batch
    folds its within-batch trigram counts PLUS the cross-batch boundary
    trigrams (stitched from the persisted per-user last-TWO-events
    snapshot) into ``state_dir`` exactly once under the shared commit
    protocol, and advances the snapshot in ``last2_dir``.
    ``behavior.trigrams_from_counts`` serves the live top-k path table
    at any moment — the ingest-time "which 3-step journeys are hot
    RIGHT NOW" view.

    Contract: per-user event-TIME order non-decreasing across batches
    on the full (ts, event_id) key (the S25 append-log contract, same
    in-plan assert).  Under it the folded counts bit-equal a batch
    ``event_path_trigrams`` rollup over everything ever ingested,
    boundary trigrams included.  State: |types|^3 cells + one 2-slot
    row per user seen."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        def stats(batch: DataFrame) -> DataFrame:
            return _trigram_batch_cells(
                batch,
                last2_dir,
                int(batch_id),
                user_col,
                type_col,
                ts_col,
                id_col,
            )

        additive_state_committer(state_dir, stats, ["t1", "t2", "t3"], ["n"])(
            batch_df, batch_id
        )

    _drain(sdf, commit, checkpoint_dir)


def sink_user_funnel_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    steps: tuple = ("view", "click", "purchase"),
    window: str = "interval 1 hour",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> None:
    """Stream events into the x25/x97 funnel state (S29): the state IS
    the per-user (t0..tn) step-timestamp frame — each slot is a
    MONOTONE high-water mark (the first qualifying event's time; once
    set it never changes, because under the append-log contract every
    later event has a later timestamp), so folding a batch is: fill t0
    from the batch's earliest step-1 event where still NULL, then fill
    each t(k) from the batch's earliest step-(k+1) event inside
    (t(k-1), t(k-1) + window] — where t(k-1) may itself have been set
    this batch (the whole funnel can complete inside one batch).
    ``behavior.funnel_rates_from_user_state`` serves the live x97
    3-row conversion table at any moment; the state itself equals the
    batch x25 frame row-for-row (restricted to users that ever emitted
    a step event).

    The append-log contract is ENFORCED like S25/S28: the state carries
    each user's (hw_t, hw_i) last-seen-event high-water mark, and a
    batch holding a step event at or before it fails in-plan before the
    state commits.  State: one row per user seen, user-grain."""

    def stats(batch: DataFrame) -> DataFrame:
        # the batch's step events, event grain (bounded by the batch)
        return batch.filter(F.col(type_col).isin(*steps)).select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("y"),
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("i"),
        )

    n = len(steps)

    def merge(prev: DataFrame | None, be: DataFrame) -> DataFrame:
        spark = be.sparkSession
        # Derive the state's time-slot type from the INCOMING ts column
        # (ADVICE r13): event ts is typically timestamp_ntz, and a
        # hardcoded `timestamp` (TIMESTAMP_LTZ) slot would force an
        # implicit NTZ->LTZ coercion on the first batch — non-injective
        # under a DST-observing session timezone, so the (t > t(k-1)) /
        # window-interval arithmetic could diverge from the batch
        # funnel's pure-NTZ math.  State and batch share one timestamp
        # semantics by construction.
        t_type = be.schema["t"].dataType.simpleString()
        state_schema = (
            "u long, "
            + ", ".join(f"t{k} {t_type}" for k in range(n))
            + f", hw_t {t_type}, hw_i long"
        )
        base = (
            prev
            if prev is not None
            else spark.createDataFrame([], state_schema)
        )
        lohi = be.groupBy("u").agg(
            F.min(F.struct("t", "i")).alias("_lo"),
            F.max(F.struct("t", "i")).alias("_hi"),
        )
        m = (
            base.join(lohi, "u", "full")
            # in-plan append-log guard (strict, full ordering key)
            .filter(
                F.assert_true(
                    F.col("hw_t").isNull()
                    | F.col("_lo").isNull()
                    | (
                        F.struct(
                            F.col("hw_t").alias("t"),
                            F.col("hw_i").alias("i"),
                        )
                        < F.col("_lo")
                    ),
                    F.lit(
                        "sink_user_funnel_state: out-of-order arrival —"
                        " a batch holds a step event at or before its"
                        " user's high-water mark; the append-log"
                        " contract is violated"
                    ),
                ).isNull()
            )
            .select(
                "u",
                *[F.col(f"t{k}") for k in range(n)],
                F.coalesce(F.col("_hi.t"), F.col("hw_t")).alias("hw_t"),
                F.coalesce(F.col("_hi.i"), F.col("hw_i")).alias("hw_i"),
            )
        )
        for k, step in enumerate(steps):
            if k == 0:
                cand = (
                    be.filter(F.col("y") == step)
                    .groupBy("u")
                    .agg(F.min("t").alias("_c"))
                )
            else:
                cand = (
                    be.filter(F.col("y") == step)
                    .join(m.select("u", f"t{k-1}"), "u")
                    .filter(
                        (F.col("t") > F.col(f"t{k-1}"))
                        & (
                            F.col("t")
                            <= F.col(f"t{k-1}") + F.expr(window)
                        )
                    )
                    .groupBy("u")
                    .agg(F.min("t").alias("_c"))
                )
            m = m.join(cand, "u", "left").select(
                "u",
                *[
                    (
                        F.coalesce(F.col(f"t{j}"), F.col("_c")).alias(
                            f"t{j}"
                        )
                        if j == k
                        else F.col(f"t{j}")
                    )
                    for j in range(n)
                ],
                "hw_t",
                "hw_i",
            )
        return m

    _drain(sdf, _ledger_committer(state_dir, stats, merge), checkpoint_dir)


def sink_user_type_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> None:
    """Stream events into the x99 diversity state (S30): the distinct
    ``behavior.user_type_pairs`` (user, event_type) pair set — the batch
    x99 statistic, NULL types kept — folds as idempotent union exactly once
    — NO ordering contract (set union is commutative AND idempotent,
    so batch slicing and even within-contract duplicates cannot change
    the state).  ``behavior.diversity_from_user_types`` serves the live
    x99 distribution at any moment.  State: one row per (user, type)
    pair ever seen — user-grain x the tiny type domain."""

    from cubefs_hadoop_spark.extensions.behavior import user_type_pairs

    def pairs(batch: DataFrame) -> DataFrame:
        return user_type_pairs(batch, user_col, type_col)

    _drain(
        sdf,
        _keyed_committer(state_dir, pairs, ["u", "y"], {}),
        checkpoint_dir,
    )


def sink_conversion_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    purchase_type: str = "purchase",
) -> None:
    """Stream events into the x105 conversion-latency state (S31): per
    user the ``behavior.conversion_firsts`` (first-event,
    first-purchase) epoch-micro pair folds as a MIN merge exactly once — min is associative+commutative, so like
    S26/S27 there is NO ordering contract; events may interleave across
    batches arbitrarily and the folded state still bit-equals the batch
    two-firsts aggregate.  ``behavior.conversion_latency_from_state``
    serves the live x105 percentile row at any moment.  State: one row
    per user seen."""
    from cubefs_hadoop_spark.extensions.behavior import conversion_firsts

    def stats(batch: DataFrame) -> DataFrame:
        return conversion_firsts(
            batch, user_col, type_col, ts_col, purchase_type
        )

    _drain(
        sdf,
        _keyed_committer(state_dir, stats, ["u"], {"e0": "min", "ep": "min"}),
        checkpoint_dir,
    )


def sink_weekly_users_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    anchor: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Stream events into the x107 WAU state (S32): the distinct
    ``behavior.week_user_pairs`` (week, user) pair set folds as
    idempotent union exactly once — no ordering contract; the
    statistic's anchor guard fails a pre-anchor event's batch.  ``anchor`` (an ISO date) PINS week 0: a
    streaming ingest cannot derive the corpus min date (earlier data
    may arrive later and silently renumber every week), so the caller
    fixes the epoch — the production convention for any calendar
    rollup.  ``behavior.wau_from_week_users`` serves the live x107
    table; it matches the batch query when the anchor equals the batch
    corpus' min date.  State: one row per (week, user) pair seen."""

    from cubefs_hadoop_spark.extensions.behavior import week_user_pairs

    def pairs(batch: DataFrame) -> DataFrame:
        return week_user_pairs(batch, anchor, user_col, ts_col)

    _drain(
        sdf,
        _keyed_committer(state_dir, pairs, ["week", "u"], {}),
        checkpoint_dir,
    )


def _session_batch_cells(
    batch: DataFrame,
    open_dir: str,
    batch_id: int,
    gap_us: int,
    user_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """One micro-batch's CLOSED-session depth cells (depth, n) for the
    x110 histogram, plus the advanced per-user OPEN-session snapshot.

    The hard part of folding sessions is that a session itself can span
    any number of batches, so a session is only COUNTED once the stream
    proves it ended: each user's final batch session stays OPEN in the
    snapshot (end_us, depth); the next batch either MERGES it into its
    first session (boundary gap <= gap_us — the depths add) or CLOSES
    it at its recorded depth.  Users absent from a batch keep their
    open row untouched.  No cell is ever decremented — the closed
    histogram is plain additive state.

    Contract: per-user event-TIME order non-decreasing across batches
    (ties allowed here, unlike S25/S28 — session membership does not
    depend on order among equal timestamps, so a cross-batch ts tie
    folds to the same histogram), ENFORCED in-plan (open_end <= first
    batch event).  Publishes the snapshot under ``open_dir/batch=N``
    (overwrite — the S23 replay-prune contract)."""
    from cubefs_hadoop_spark.extensions.behavior import _epoch_us
    from cubefs_hadoop_spark.plans.materialize import barrier

    spark = batch.sparkSession
    ev = batch.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
    )
    us = _epoch_us(ev, "t")
    w = Window.partitionBy("u").orderBy("t", "i")
    flag = F.when(
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > gap_us), 1
    ).otherwise(0)
    s = (
        ev.withColumn("_us", us)
        .withColumn("sess", F.sum(flag).over(w))
        .groupBy("u", "sess")
        .agg(
            F.min("_us").cast("long").alias("start_us"),
            F.max("_us").cast("long").alias("end_us"),
            F.count(F.lit(1)).cast("long").alias("depth"),
        )
    )
    bounds = s.groupBy("u").agg(F.max("sess").alias("s1"))
    s = s.join(bounds, "u")
    fs = warehouse_fs(spark, open_dir)
    prior = _latest_snapshot_batch(fs, open_dir, int(batch_id))
    if prior is None:
        closed = s.filter(F.col("sess") < F.col("s1")).select("depth")
        open_new = s.filter(F.col("sess") == F.col("s1")).select(
            "u", "end_us", "depth"
        )
    else:
        prev = spark.read.parquet(
            fs.join(open_dir, f"batch={prior}")
        ).select(
            "u",
            F.col("end_us").alias("p_end"),
            F.col("depth").alias("p_depth"),
        )
        j = s.join(prev, "u", "left").filter(
            # append-log guard: an open session cannot end AFTER a
            # batch event of the same user (assert_true is NULL on
            # success, so the filter keeps every valid row)
            F.assert_true(
                F.col("p_end").isNull()
                # the running session counter starts at 1; only the
                # FIRST batch session borders the open session
                | (F.col("sess") > F.lit(1))
                | (F.col("p_end") <= F.col("start_us")),
                F.lit(
                    "sink_session_depth_state: out-of-order arrival —"
                    " a batch holds an event before its user's open"
                    " session end; the append-log contract is violated"
                ),
            ).isNull()
        )
        merge = (
            (F.col("sess") == 1)
            & F.col("p_end").isNotNull()
            & (F.col("start_us") - F.col("p_end") <= F.lit(int(gap_us)))
        )
        adj = j.withColumn(
            "depth",
            F.col("depth")
            + F.when(merge, F.col("p_depth")).otherwise(F.lit(0)),
        ).withColumn("_merged", merge)
        closed_batch = adj.filter(F.col("sess") < F.col("s1")).select(
            "depth"
        )
        # a prior open session NOT merged by its user's new events
        # closes at its recorded depth
        closed_prev = (
            adj.filter((F.col("sess") == 1) & ~F.col("_merged"))
            .filter(F.col("p_depth").isNotNull())
            .select(F.col("p_depth").alias("depth"))
        )
        closed = closed_batch.unionByName(closed_prev)
        open_batch = adj.filter(F.col("sess") == F.col("s1")).select(
            "u", "end_us", "depth"
        )
        open_keep = prev.join(s.select("u").distinct(), "u", "left_anti")
        open_new = open_keep.select(
            "u", F.col("p_end").alias("end_us"), F.col("p_depth").alias("depth")
        ).unionByName(open_batch)
    cells = barrier(
        closed.groupBy("depth").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        eager=True,
    )
    open_new.write.mode("overwrite").parquet(
        fs.join(open_dir, f"batch={batch_id}")
    )
    return cells


def sink_session_depth_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    open_dir: str,
    gap_us: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> None:
    """Stream events into the x110 session-depth state (S33): closed
    sessions fold as additive (depth, n) counters exactly once; each
    user's final session stays OPEN in ``open_dir`` until a later batch
    merges or closes it — a session spanning ANY number of batches
    folds to its full depth.  ``behavior.session_depth_from_state``
    serves the live histogram (closed cells + open depths) at any
    moment; it bit-equals the batch x110 over everything ingested.
    State: |depths| cells + one open row per user seen."""
    from cubefs_hadoop_spark.extensions.behavior import _X34_GAP_US

    g = int(gap_us if gap_us is not None else _X34_GAP_US)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        def stats(batch: DataFrame) -> DataFrame:
            return _session_batch_cells(
                batch, open_dir, int(batch_id), g, user_col, ts_col, id_col
            )

        additive_state_committer(state_dir, stats, ["depth"], ["n"])(
            batch_df, batch_id
        )

    _drain(sdf, commit, checkpoint_dir)


def sink_source_lang_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Stream documents into the x103 composition state (S34): the
    (source, lang) doc/char counters fold as plain additive sufficient
    statistics exactly once — no ordering contract — and
    ``text.source_lang_matrix_from_cells`` serves the live cross-tab
    (exact within-source milli shares) at any moment: the ingest-time
    "what mixture am I actually receiving" dashboard.  State:
    sources x langs cells forever."""
    from cubefs_hadoop_spark.extensions.text import source_lang_cells

    _drain(
        sdf,
        additive_state_committer(
            state_dir,
            source_lang_cells,
            ["source", "lang"],
            ["n_docs", "total_chars"],
        ),
        checkpoint_dir,
    )


def sink_doclen_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Stream documents into the x93 length-profile state (S35): the
    per-(source, n_chars) counts fold as additive counters exactly once
    — no ordering contract (exact order statistics need only CUMULATIVE
    counts, the x88/S27 insight) — and
    ``text.doclen_percentiles_from_cells`` serves the live EXACT
    per-source p50/p90 profile at any moment, bit-equal to batch x93
    over everything ingested.  State: one row per (source, distinct
    length) seen — bounded by the length space, not the corpus."""
    from cubefs_hadoop_spark.extensions.text import doclen_cells

    _drain(
        sdf,
        additive_state_committer(
            state_dir, doclen_cells, ["source", "c"], ["cnt"]
        ),
        checkpoint_dir,
    )


def sink_revenue_day_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> None:
    """Stream events into the x112 daily-revenue state (S36): per-day
    purchase cents fold as plain additive sums exactly once — no
    ordering contract — and ``behavior.revenue_spikes_from_cells``
    serves the live spike table (the trailing ROWS window runs over the
    calendar-bounded day frame, never the stream).  The ingest-time
    "is today anomalous" alert.  State: one row per purchase day."""
    from cubefs_hadoop_spark.extensions.behavior import revenue_day_cells

    def stats(batch: DataFrame) -> DataFrame:
        return revenue_day_cells(
            batch, type_col, ts_col, value_col, purchase_type
        )

    _drain(
        sdf,
        additive_state_committer(state_dir, stats, ["day"], ["rev_cents"]),
        checkpoint_dir,
    )


def sink_catalog_week_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    anchor: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    props_col: str = "props",
    item_path: str = "$.k",
    purchase_type: str = "purchase",
) -> None:
    """Stream events into the x113 catalog-turnover state (S37): the
    distinct ``behavior.week_item_pairs`` (week, item) pair set folds as
    idempotent union exactly once under a caller-PINNED week-0 ``anchor`` (the S32 rationale: a
    stream cannot derive the corpus min date).
    ``behavior.catalog_turnover_from_pairs`` serves the live
    items/new-items table — new-item attribution is exact because the
    per-item MIN week over the folded pair set equals the min over
    everything ingested, whatever the arrival order.  State: one row
    per (week, item) pair seen."""

    from cubefs_hadoop_spark.extensions.behavior import week_item_pairs

    def pairs(batch: DataFrame) -> DataFrame:
        return week_item_pairs(
            batch,
            anchor,
            type_col,
            ts_col,
            props_col,
            item_path,
            purchase_type,
        )

    _drain(
        sdf,
        _keyed_committer(state_dir, pairs, ["week", "k"], {}),
        checkpoint_dir,
    )


def sink_hour_cells_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> None:
    """Stream events into the x102/x118 activity-cube state (S38): the
    (event_type, dow, hr) cell counts fold as plain additive sums
    exactly once — no ordering contract (counting is commutative).  ONE
    state serves BOTH live views: ``behavior.peak_hours_from_cells``
    (x102's per-type argmax) and
    ``behavior.hourly_seasonality_from_cells`` (x118's traffic
    matrix).  State: at most |types| x 168 rows."""
    from cubefs_hadoop_spark.extensions.behavior import type_hour_cells

    def stats(batch: DataFrame) -> DataFrame:
        return type_hour_cells(batch, type_col, ts_col)

    _drain(
        sdf,
        additive_state_committer(
            state_dir, stats, ["event_type", "dow", "hr"], ["n"]
        ),
        checkpoint_dir,
    )


def sink_user_span_state(
    sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Stream events into the x125 tenure state (S39): per user the
    ``behavior.user_spans`` (first, last) epoch-micro pair folds as a
    MIN/MAX merge exactly
    once — both are associative+commutative, so like S31 there is NO
    ordering contract.  ``behavior.lifespan_from_spans`` serves the
    live x125 percentile row at any moment.  State: one row per user
    seen."""
    from cubefs_hadoop_spark.extensions.behavior import user_spans

    def stats(batch: DataFrame) -> DataFrame:
        return user_spans(batch, user_col, ts_col)

    _drain(
        sdf,
        _keyed_committer(state_dir, stats, ["u"], {"e0": "min", "e1": "max"}),
        checkpoint_dir,
    )
