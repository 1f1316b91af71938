"""Streaming additive-state ingest (VERDICT r6 item 5): folding x31b
centroid state and x33b DSIR vocabulary per micro-batch with the S14
exactly-once batch-id watermark — folded state == full recompute across
a checkpoint restart, and a replayed batch is a no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _stage_embeddings(spark, out_dir: str, n_files: int = 4) -> None:
    """Write the embeddings fixture as n_files parquet files sliced by
    vec_id range, so file-replay yields deterministic micro-batches."""
    from cubefs_hadoop_spark.catalog import load

    emb = load(spark, SF_SMOKE, "embeddings")
    hi = emb.agg(F.max("vec_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            emb.filter(
                (F.col("vec_id") >= b * step) & (F.col("vec_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(out_dir, "data"))
        )


def _emb_stream(spark, stage_dir: str):
    return (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )


def test_streamed_centroid_state_equals_full_recompute(spark, tmp_path):
    """Embeddings arriving as a 4-batch stream fold into the centroid
    state; the final state's centroids are BIT-identical to the batch
    x31 recompute over the whole corpus (additive sufficient
    statistics)."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import label_centroids
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_centroid_state,
    )

    stage = str(tmp_path / "stage")
    state = str(tmp_path / "state")
    _stage_embeddings(spark, stage)
    sink_centroid_state(
        _emb_stream(spark, stage), state, str(tmp_path / "ckpt")
    )

    got = {
        (r.label, r.dim): (r.sum_milli, r.cnt)
        for r in read_state(spark, state).collect()
    }
    want = {
        (r.label, r.dim): (r.sum_milli, r.cnt)
        for r in label_centroids(load(spark, SF_SMOKE, "embeddings")).collect()
    }
    assert got == want
    # the state is a versioned table carrying the batch-id watermark
    from cubefs_hadoop_spark import versioning

    assert versioning.list_versions(state)
    assert versioning.last_committed_batch(state) >= 0


def test_restart_and_replay_are_noops(spark, tmp_path):
    """Re-running the drained stream with the SAME checkpoint adds no
    batches; manually replaying an already-folded batch id leaves the
    watermark and state untouched (exactly-once, not at-least-once)."""
    from cubefs_hadoop_spark import versioning
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import label_centroids
    from cubefs_hadoop_spark.streaming.state_sink import (
        additive_state_committer,
        read_state,
        sink_centroid_state,
    )

    stage = str(tmp_path / "stage")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _stage_embeddings(spark, stage)
    sink_centroid_state(_emb_stream(spark, stage), state, ckpt)
    mark1 = versioning.last_committed_batch(state)
    vs1 = versioning.list_versions(state)

    # checkpoint restart: drain again, same checkpoint -> no new data,
    # no new versions
    sink_centroid_state(_emb_stream(spark, stage), state, ckpt)
    assert versioning.last_committed_batch(state) == mark1
    assert versioning.list_versions(state) == vs1

    # replayed batch (foreachBatch at-least-once): batch_id 0 again
    emb = load(spark, SF_SMOKE, "embeddings")

    def stats(b):
        return label_centroids(b).select("label", "dim", "sum_milli", "cnt")

    committer = additive_state_committer(
        state, stats, ["label", "dim"], ["sum_milli", "cnt"]
    )
    committer(emb.limit(50), 0)  # id 0 <= watermark: must no-op
    assert versioning.last_committed_batch(state) == mark1
    assert versioning.list_versions(state) == vs1
    # and the state still matches the full recompute
    got = {
        (r.label, r.dim): (r.sum_milli, r.cnt)
        for r in read_state(spark, state).collect()
    }
    want = {
        (r.label, r.dim): (r.sum_milli, r.cnt)
        for r in label_centroids(emb).collect()
    }
    assert got == want


def _centroid_committer(state: str):
    from cubefs_hadoop_spark.extensions.semantic import label_centroids
    from cubefs_hadoop_spark.streaming.state_sink import (
        additive_state_committer,
    )

    def stats(b):
        return label_centroids(b).select("label", "dim", "sum_milli", "cnt")

    return additive_state_committer(
        state, stats, ["label", "dim"], ["sum_milli", "cnt"]
    )


def _state_rows(spark, state: str) -> list:
    from cubefs_hadoop_spark.streaming.state_sink import read_state

    return sorted(map(tuple, read_state(spark, state).collect()))


def test_crash_before_publish_then_replay(spark, tmp_path, monkeypatch):
    """A fold that dies after staging its files but before its manifest
    publishes: readers keep the previous version exactly, replaying the
    batch id folds to state bit-equal to a clean run, and
    expire_versions reaps the dead attempt's staged files."""
    from cubefs_hadoop_spark import versioning
    from cubefs_hadoop_spark.catalog import load

    emb = load(spark, SF_SMOKE, "embeddings")
    mid = (emb.agg(F.max("vec_id")).first()[0] + 1) // 2
    batches = [
        emb.filter(F.col("vec_id") < mid),
        emb.filter(F.col("vec_id") >= mid),
    ]
    clean = str(tmp_path / "clean")
    for bid, b in enumerate(batches):
        _centroid_committer(clean)(b, bid)

    state = str(tmp_path / "state")
    data = os.path.join(state, "data")
    fold = _centroid_committer(state)
    fold(batches[0], 0)
    v1_rows = _state_rows(spark, state)
    v1_stages = set(os.listdir(data))

    real = versioning._commit_manifest
    crashed = []

    def crash_once(*args, **kwargs):
        if not crashed:
            crashed.append(True)
            raise OSError("simulated crash before the manifest publish")
        return real(*args, **kwargs)

    monkeypatch.setattr(versioning, "_commit_manifest", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        fold(batches[1], 1)
    orphans = set(os.listdir(data)) - v1_stages
    assert len(orphans) == 1  # staged, never published
    assert versioning.list_versions(state) == [1]
    assert versioning.last_committed_batch(state) == 0
    assert _state_rows(spark, state) == v1_rows

    fold(batches[1], 1)  # the replay of the crashed batch id folds
    assert versioning.last_committed_batch(state) == 1
    assert _state_rows(spark, state) == _state_rows(spark, clean)

    versioning.expire_versions(state, orphan_grace_ms=0)
    assert not orphans & set(os.listdir(data))
    assert _state_rows(spark, state) == _state_rows(spark, clean)


def test_state_gc_keeps_watermark_and_folds_on(spark, tmp_path):
    """expire_versions(keep_last=1) on a drained multi-batch centroid
    state leaves only the last version's data files and the same state;
    a replayed batch id is still a no-op and a new batch id still folds
    (the state-sink twin of test_s14_ledger_survives_version_gc)."""
    from cubefs_hadoop_spark import versioning
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import label_centroids
    from cubefs_hadoop_spark.streaming.state_sink import sink_centroid_state

    stage = str(tmp_path / "stage")
    state = str(tmp_path / "state")
    _stage_embeddings(spark, stage)
    sink_centroid_state(
        _emb_stream(spark, stage), state, str(tmp_path / "ckpt")
    )
    vs = versioning.list_versions(state)
    assert len(vs) >= 2
    mark = versioning.last_committed_batch(state)
    before = _state_rows(spark, state)

    versioning.expire_versions(state, keep_last=1, orphan_grace_ms=0)
    assert versioning.list_versions(state) == vs[-1:]
    on_disk = {
        os.path.relpath(os.path.join(d, f), state)
        for d, _dirs, files in os.walk(os.path.join(state, "data"))
        for f in files
    }
    assert on_disk == set(versioning.read_manifest(state, vs[-1])["files"])
    assert _state_rows(spark, state) == before
    assert versioning.last_committed_batch(state) == mark

    emb = load(spark, SF_SMOKE, "embeddings")
    fold = _centroid_committer(state)
    fold(emb, 0)  # replay: no-op
    assert versioning.list_versions(state) == vs[-1:]
    assert _state_rows(spark, state) == before

    extra = emb.filter(F.col("vec_id") < 50)
    fold(extra, mark + 1)  # a new batch id folds on top of the GC'd chain
    want = sorted(
        map(
            tuple,
            label_centroids(emb.unionByName(extra))
            .select("label", "dim", "sum_milli", "cnt")
            .collect(),
        )
    )
    assert _state_rows(spark, state) == want


def test_streamed_dsir_state_scores_match_batch_x33(spark, tmp_path):
    """Documents arriving as a 3-batch stream fold into the DSIR LM
    state; scoring against the folded state is hash-identical to the
    batch x33 recompute (same (word, cc, ct) vocabulary to the row)."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.search import dsir_score, dsir_vocab
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_dsir_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )

    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    target = F.col("lang") == "en"
    state = str(tmp_path / "dsir_state")
    sink_dsir_state(sdf, target, state, str(tmp_path / "ckpt"))

    folded = {
        r.word: (r.cc, r.ct) for r in read_state(spark, state).collect()
    }
    full = {
        r.word: (r.cc, r.ct) for r in dsir_vocab(docs, target).collect()
    }
    assert folded == full

    s_folded = {
        r.doc_id: (r.tokens, r.weight_milli)
        for r in dsir_score(docs, read_state(spark, state)).collect()
    }
    s_full = {
        r.doc_id: (r.tokens, r.weight_milli)
        for r in dsir_score(docs, dsir_vocab(docs, target)).collect()
    }
    assert s_folded == s_full


def test_streamed_cms_state_equals_batch_sketch(spark, tmp_path):
    """S17: documents arriving as a 3-batch stream fold into the x42
    Count-Min state; the folded counter table is BIT-identical to the
    batch-built sketch over the whole corpus (CMS merge == counter
    addition), and point estimates against the streamed state keep the
    one-sided est >= exact invariant."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.sketch import (
        cms_estimates,
        count_min_cells,
    )
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_cms_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )
    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    state = str(tmp_path / "cms_state")
    sink_cms_state(sdf, state, str(tmp_path / "ckpt"))

    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    folded = {
        (r.row, r.bucket): r.c for r in read_state(spark, state).collect()
    }
    full = {
        (r.row, r.bucket): r.c for r in count_min_cells(words).collect()
    }
    assert folded == full

    exact = {
        r.word: r["count"] for r in words.groupBy("word").count().collect()
    }
    est = {
        r.word: r.cms_est
        for r in cms_estimates(
            words.distinct(), read_state(spark, state)
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[w] >= exact[w] for w in exact)


def test_streamed_histogram_state_equals_batch_cells(spark, tmp_path):
    """S18: documents arriving as a 3-batch stream fold into a
    frozen-bin histogram state; the folded (bin, bc) cells are
    BIT-identical to a batch build with the same bin config over the
    whole corpus (bin counts are additive — the CMS argument), mass is
    conserved, and a rank query served from the state lands within one
    bin width of the exact quantile."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.streaming.state_sink import (
        hist_quantile_from_cells,
        read_state,
        sink_histogram_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )
    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    LO, WIDTH, BINS = 0, 4, 64
    state = str(tmp_path / "hist_state")
    sink_histogram_state(
        sdf, state, str(tmp_path / "ckpt"), lo=LO, width=WIDTH, bins=BINS
    )

    # batch build with the SAME frozen bins
    batch_cells = {
        r.bin: r.bc
        for r in docs.select(
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(BINS - 1).cast("long"),
                    F.expr(
                        f"(size(split(text, ' ')) - {LO}) div {WIDTH}"
                    ).cast("long"),
                ),
            ).alias("bin")
        )
        .groupBy("bin")
        .count()
        .withColumnRenamed("count", "bc")
        .collect()
    }
    state_df = read_state(spark, state)
    folded = {r.bin: r.bc for r in state_df.collect()}
    assert folded == batch_cells
    assert sum(folded.values()) == docs.count()

    # rank query from the state: within one bin width of the exact p50
    vals = sorted(
        r.v
        for r in docs.select(F.size(F.split("text", " ")).alias("v")).collect()
    )
    exact_p50 = vals[(500 * len(vals) + 999) // 1000 - 1]
    est = hist_quantile_from_cells(state_df, 500, lo=LO, width=WIDTH)
    assert est <= exact_p50 < est + WIDTH


def test_streamed_grouped_histogram_serves_live_drift(spark, tmp_path):
    """S18 grouped mode: per-source frozen-bin cells fold from a
    3-batch stream; drift_from_cells over the streamed state equals
    drift_from_cells over a batch build with the same bins (additivity),
    and a crafted drifted source scores far above the matched ones."""
    from cubefs_hadoop_spark.streaming.state_sink import (
        drift_from_cells,
        read_state,
        sink_histogram_state,
    )

    rows, did = [], 0
    for src in ("a", "b"):
        for ln in [5] * 20 + [50] * 20:
            rows.append((did, " ".join(["w"] * ln), src)); did += 1
    for ln in [200] * 40:
        rows.append((did, " ".join(["w"] * ln), "drifted")); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    stage = str(tmp_path / "stage")
    for b in range(3):
        (
            docs.filter(F.col("doc_id") % 3 == b)
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )
    sdf = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    LO, WIDTH, BINS = 0, 4, 64
    state = str(tmp_path / "hist_state")
    sink_histogram_state(
        sdf, state, str(tmp_path / "ckpt"),
        lo=LO, width=WIDTH, bins=BINS, group_cols=["source"],
    )

    batch_cells = (
        docs.select(
            "source",
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(BINS - 1).cast("long"),
                    F.expr(f"(size(split(text, ' ')) - {LO}) div {WIDTH}"),
                ),
            ).alias("bin"),
        )
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("bc"))
    )
    streamed = read_state(spark, state)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch_cells.collect())
    )
    live = {r.source: r for r in drift_from_cells(streamed).collect()}
    assert live["a"].l1_milli == live["b"].l1_milli
    assert live["drifted"].l1_milli > live["a"].l1_milli + 500
    assert all(r.n_docs == 40 for r in live.values())


def test_streamed_bloom_state_equals_batch_filter(spark, tmp_path):
    """S19: documents arriving as a 3-batch stream fold into the x44
    Bloom state by exactly-once SET UNION (Bloom merge == bitwise OR);
    the streamed set-bit frame equals the batch-built filter over the
    whole corpus, a window from ANY past batch still hits (definitive
    miss preserved across the stream), and a novel window misses."""
    from cubefs_hadoop_spark.extensions.sketch import (
        _windows,
        bloom_build,
        bloom_probe,
    )
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_bloom_state,
    )

    P1 = " ".join(f"a{i}" for i in range(20))
    P2 = " ".join(f"b{i}" for i in range(20))
    P3 = " ".join(f"c{i}" for i in range(20))
    novel = " ".join(f"z{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, P1), (1, P2), (2, P3)], "doc_id long, text string"
    )
    stage = str(tmp_path / "stage")
    for b in range(3):
        (
            docs.filter(F.col("doc_id") == b)
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    state = str(tmp_path / "bloom_state")
    sink_bloom_state(sdf, state, str(tmp_path / "ckpt"))

    streamed = {r.pos for r in read_state(spark, state).collect()}
    batch = {r.pos for r in bloom_build(_windows(docs)).collect()}
    assert streamed == batch  # OR-merge == batch build

    probes = spark.createDataFrame(
        [(10, P1), (11, P3), (12, novel)], "doc_id long, text string"
    )
    hits = {
        (r.doc_id, r.bloom_hit)
        for r in bloom_probe(
            _windows(probes), read_state(spark, state)
        ).collect()
    }
    # every window of the batch-0 and batch-2 passages hits (the filter
    # remembers the WHOLE stream); at this fill ratio the novel doc's
    # windows all miss
    assert all(h for d, h in hits if d in (10, 11))
    assert not any(h for d, h in hits if d == 12)


def test_histogram_sink_refuses_degenerate_bin_config(spark, tmp_path):
    """width=0 / bins=0 would silently funnel every doc into one edge
    bin (non-ANSI div-by-zero -> NULL -> clamp) — the sink must refuse
    loudly before any state is written."""
    import pytest

    from cubefs_hadoop_spark.streaming.state_sink import sink_histogram_state

    spark.createDataFrame(
        [(1, "w w w")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "data"))
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(tmp_path / "data"))
    )
    with pytest.raises(ValueError, match="invalid bin config"):
        sink_histogram_state(
            sdf, str(tmp_path / "s"), str(tmp_path / "c"),
            lo=0, width=0, bins=64,
        )
    with pytest.raises(ValueError, match="invalid bin config"):
        sink_histogram_state(
            sdf, str(tmp_path / "s2"), str(tmp_path / "c2"),
            lo=0, width=4, bins=0,
        )


def test_histogram_sink_drops_null_text_rows(spark, tmp_path):
    """A NULL text row has no token count; greatest/least SKIP null
    arguments, so without the explicit null filter it would silently
    land in bin bins-1 — edge-bin corruption that looks healthy
    (ADVICE r7).  The sink must drop it: cells equal a batch build
    over the non-null rows only, and total mass excludes the null row."""
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_histogram_state,
    )

    spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "a b c d e")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "data"))
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(tmp_path / "data"))
    )
    BINS = 8
    sink_histogram_state(
        sdf, str(tmp_path / "s"), str(tmp_path / "c"),
        lo=0, width=2, bins=BINS,
    )
    cells = {r.bin: r.bc for r in read_state(spark, str(tmp_path / "s")).collect()}
    # 3 tokens -> bin 1, 5 tokens -> bin 2; the null row appears NOWHERE
    assert cells == {1: 1, 2: 1}
    assert BINS - 1 not in cells
    assert sum(cells.values()) == 2


def test_streamed_srp_bucket_state_serves_live_audit(spark, tmp_path):
    """S20: embeddings arriving as a 3-batch stream fold into an LSH
    bucket-population state under frozen hyperplanes; the folded
    (band, key, c) cells are BIT-identical to a batch signature pass
    over the whole corpus (bucket counts are additive), mass is
    conserved per band, and bucket_audit_from_cells over the state
    equals the x53 batch audit — the live half of the LSH sizing loop."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import (
        _X13_H,
        bucket_audit_from_cells,
        lsh_bucket_audit,
        srp_signatures,
    )
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_srp_bucket_state,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    hp_rows = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.filter(F.col("vec_id") < _X13_H).collect()
    ]

    stage = str(tmp_path / "stage")
    n_files = 3
    hi = emb.agg(F.max("vec_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            emb.filter(
                (F.col("vec_id") >= b * step) & (F.col("vec_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )
    sdf = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    state = str(tmp_path / "srp_state")
    sink_srp_bucket_state(sdf, state, str(tmp_path / "ckpt"), hp_rows)

    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    sig = srp_signatures(emb, hp)
    batch_cells = {
        (r.band, r.key): r.c
        for r in sig.groupBy("band", "key").count()
        .withColumnRenamed("count", "c").collect()
    }
    folded = {
        (r.band, r.key): r.c for r in read_state(spark, state).collect()
    }
    assert folded == batch_cells
    n = emb.count()
    per_band: dict[int, int] = {}
    for (band, _), c in folded.items():
        per_band[band] = per_band.get(band, 0) + c
    assert all(v == n for v in per_band.values())  # mass conservation

    live = {
        r.band: tuple(r)
        for r in bucket_audit_from_cells(read_state(spark, state)).collect()
    }
    want = {r.band: tuple(r) for r in lsh_bucket_audit(sig).collect()}
    assert live == want


def test_streamed_fertility_state_equals_batch_stats(spark, tmp_path):
    """S21: documents arriving as a 3-batch stream fold into the x58
    tokenizer-fertility state; the folded per-source sums are
    BIT-identical to the batch fertility_stats over the whole corpus
    (plain additive merge), and the derived audit table equals the
    batch x58 output row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import (
        fertility_from_stats,
        fertility_stats,
        tokenizer_fertility,
    )
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_fertility_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage, "data"))
        )
    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "data"))
    )
    state = str(tmp_path / "fert_state")
    sink_fertility_state(sdf, state, str(tmp_path / "ckpt"))

    folded = {
        r.source: (r.n_docs, r.n_words, r.n_subwords, r.n_chars)
        for r in read_state(spark, state).collect()
    }
    full = {
        r.source: (r.n_docs, r.n_words, r.n_subwords, r.n_chars)
        for r in fertility_stats(docs).collect()
    }
    assert folded == full

    live = sorted(
        map(tuple, fertility_from_stats(read_state(spark, state)).collect())
    )
    batch = sorted(map(tuple, tokenizer_fertility(docs).collect()))
    assert live == batch


def test_streamed_funnel_state_serves_live_loss_table(spark, tmp_path):
    """S22: documents arriving as a 3-batch stream fold into the x63
    rejection-funnel state; the folded (source, stage) counts are
    BIT-identical to batch funnel_counts over the whole corpus (gate
    attribution is row-local, counts are additive), and the derived
    live table equals the registered x63 output row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.text import (
        funnel_counts,
        funnel_from_counts,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_funnel_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage_dir = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step)
                & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )
    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )
    state = str(tmp_path / "funnel_state")
    sink_funnel_state(sdf, state, str(tmp_path / "ckpt"))

    folded = {
        (r.source, r.stage): r.n_docs
        for r in read_state(spark, state).collect()
    }
    full = {
        (r.source, r.stage): r.n_docs
        for r in funnel_counts(docs).collect()
    }
    assert folded == full

    live = sorted(
        map(tuple, funnel_from_counts(read_state(spark, state)).collect())
    )
    batch = sorted(
        map(tuple, QUERIES["x63_rejection_funnel"](spark, SF_SMOKE).collect())
    )
    assert live == batch


def test_streamed_mirror_state_bit_equals_batch_matrix(spark, tmp_path):
    """S23: documents arriving as a 3-batch stream fold into the x70
    mirror-matrix state via the x02e incremental probe (each candidate
    pair surfaces exactly once, when its later member arrives); the
    folded (source_a, source_b, n_pairs) cells are BIT-identical to a
    batch mirror_matrix rollup over the whole corpus, and the derived
    live table equals the registered x70 output row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.dedup import mirror_from_counts
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_mirror_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage_dir = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step)
                & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )
    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )
    state = str(tmp_path / "mirror_state")
    sink_mirror_state(
        sdf, state, str(tmp_path / "ckpt"), str(tmp_path / "lsh_index")
    )

    folded = {
        (r.source_a, r.source_b): r.n_pairs
        for r in read_state(spark, state).collect()
    }
    batch_rows = QUERIES["x70_mirror_matrix"](spark, SF_SMOKE).collect()
    full = {(r.source_a, r.source_b): r.n_pairs for r in batch_rows}
    assert folded == full

    live = sorted(
        map(tuple, mirror_from_counts(read_state(spark, state)).collect())
    )
    assert live == sorted(map(tuple, batch_rows))


def test_mirror_batch_replay_cells_bit_equal_first_attempt(spark, tmp_path):
    """ADVICE r11 (medium): a micro-batch that crashed AFTER publishing
    its batch=N band/source files but BEFORE the ledger commit is
    replayed with its own attempt-1 files already on disk.  The index
    reads partition-prune to batch < N, so the replay's source map and
    pair frame are identical to attempt 1's and the emitted cells are
    bit-equal — without the prune, the doubled (doc_id, source) map
    inflated every cell 2-4x."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.streaming.state_sink import _mirror_batch_cells

    docs = load(spark, SF_SMOKE, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    b0 = docs.filter(F.col("doc_id") <= mid)
    b1 = docs.filter(F.col("doc_id") > mid)
    index_dir = str(tmp_path / "lsh_index")

    cells0 = _mirror_batch_cells(b0, index_dir, 0, "source", "text")
    first0 = sorted(map(tuple, cells0.collect()))
    # batch 0's own replay (index already holds batch=0): must bit-equal
    replay0 = sorted(
        map(
            tuple,
            _mirror_batch_cells(b0, index_dir, 0, "source", "text").collect(),
        )
    )
    assert replay0 == first0

    cells1 = _mirror_batch_cells(b1, index_dir, 1, "source", "text")
    first1 = sorted(map(tuple, cells1.collect()))
    assert first1  # the witness is vacuous if no cross/within pairs exist
    replay1 = sorted(
        map(
            tuple,
            _mirror_batch_cells(b1, index_dir, 1, "source", "text").collect(),
        )
    )
    assert replay1 == first1


def test_streamed_transition_state_bit_equals_batch_x85(spark, tmp_path):
    """S25: events arriving as a 3-batch event-time-ordered stream fold
    into the x85 transition-matrix state; the folded (ft, tt, n) cells
    — cross-batch BOUNDARY transitions included — are BIT-identical to
    a batch transition_counts over the whole corpus, and the derived
    live table equals the registered x85 output row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.behavior import (
        transition_counts,
        transitions_from_counts,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_transition_state,
    )

    ev = load(spark, SF_SMOKE, "events")
    # slice by event time (the sink's append-log contract): percentile
    # cuts put every user's later events in later batches
    lo, hi = ev.agg(
        F.expr("percentile(cast(cast(ts as timestamp) as double), 0.33)"),
        F.expr("percentile(cast(cast(ts as timestamp) as double), 0.66)"),
    ).first()
    stage_dir = str(tmp_path / "stage")
    slices = [
        ev.filter(F.col("ts").cast("timestamp").cast("double") <= lo),
        ev.filter(
            (F.col("ts").cast("timestamp").cast("double") > lo)
            & (F.col("ts").cast("timestamp").cast("double") <= hi)
        ),
        ev.filter(F.col("ts").cast("timestamp").cast("double") > hi),
    ]
    for b, part in enumerate(slices):
        (
            part.coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )
    state = str(tmp_path / "trans_state")
    last_dir = str(tmp_path / "last_event")
    sink_transition_state(sdf, state, str(tmp_path / "ckpt"), last_dir)

    folded = {
        (r.ft, r.tt): r.n for r in read_state(spark, state).collect()
    }
    full = {(r.ft, r.tt): r.n for r in transition_counts(ev).collect()}
    assert folded == full
    # the witness is vacuous unless some transition actually crosses a
    # batch boundary: within-batch counts alone must NOT reproduce it
    within_only = {}
    for part in slices:
        for r in transition_counts(part).collect():
            k = (r.ft, r.tt)
            within_only[k] = within_only.get(k, 0) + r.n
    assert within_only != full

    live = sorted(
        map(tuple, transitions_from_counts(read_state(spark, state)).collect())
    )
    batch_rows = QUERIES["x85_event_transitions"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch_rows))


def test_transition_state_over_hadoop_fs_uris(spark, tmp_path):
    """S25 with ``file://`` URIs for the state and last-event snapshot
    directories (the HadoopFS backend): the folded cells bit-equal the
    bare-path run and the batch x85 counts, boundary transitions
    included."""
    from cubefs_hadoop_spark import versioning
    from cubefs_hadoop_spark.extensions.behavior import (
        transition_counts,
        transitions_from_counts,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_transition_state,
    )

    ev, _slices, data = _stage_event_slices(spark, tmp_path)
    runs = {}
    for name, scheme in (("bare", ""), ("uri", "file://")):
        root = tmp_path / name
        state = scheme + str(root / "state")
        sink_transition_state(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data),
            state,
            str(root / "ckpt"),
            scheme + str(root / "last_event"),
        )
        runs[name] = {
            (r.ft, r.tt): r.n for r in read_state(spark, state).collect()
        }
    full = {(r.ft, r.tt): r.n for r in transition_counts(ev).collect()}
    assert runs["uri"] == runs["bare"] == full
    assert len(versioning.list_versions(str(tmp_path / "uri" / "state"))) == 3
    live = sorted(
        map(
            tuple,
            transitions_from_counts(
                read_state(spark, "file://" + str(tmp_path / "uri" / "state"))
            ).collect(),
        )
    )
    batch_rows = QUERIES["x85_event_transitions"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch_rows))


def test_transition_batch_replay_cells_bit_equal_first_attempt(
    spark, tmp_path
):
    """S25 crash-replay: re-running a batch whose last-event snapshot
    was already published (died pre-ledger) reads only batch < N state,
    so the replayed cells bit-equal attempt 1's."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.streaming.state_sink import (
        _transition_batch_cells,
    )

    ev = load(spark, SF_SMOKE, "events")
    mid = ev.agg(F.expr("percentile(cast(cast(ts as timestamp) as double), 0.5)")).first()[0]
    b0 = ev.filter(F.col("ts").cast("timestamp").cast("double") <= mid)
    b1 = ev.filter(F.col("ts").cast("timestamp").cast("double") > mid)
    last_dir = str(tmp_path / "last_event")

    args = ("user_id", "event_type", "ts", "event_id")
    first0 = sorted(
        map(tuple, _transition_batch_cells(b0, last_dir, 0, *args).collect())
    )
    replay0 = sorted(
        map(tuple, _transition_batch_cells(b0, last_dir, 0, *args).collect())
    )
    assert replay0 == first0
    first1 = sorted(
        map(tuple, _transition_batch_cells(b1, last_dir, 1, *args).collect())
    )
    assert first1
    replay1 = sorted(
        map(tuple, _transition_batch_cells(b1, last_dir, 1, *args).collect())
    )
    assert replay1 == first1


def test_streamed_split_state_serves_live_balance_table(spark, tmp_path):
    """S24: documents arriving as a 3-batch stream fold into the x76
    stratified-split state; the folded (source, split) counts are
    BIT-identical to batch split_counts over the whole corpus (split
    assignment is a row-local content hash), and the derived live
    table equals the registered x76 output row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.text import (
        split_audit_from_counts,
        split_counts,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_split_state,
    )

    docs = load(spark, SF_SMOKE, "documents")
    stage_dir = str(tmp_path / "stage")
    n_files = 3
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            docs.filter(
                (F.col("doc_id") >= b * step)
                & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )
    sdf = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )
    state = str(tmp_path / "split_state")
    sink_split_state(sdf, state, str(tmp_path / "ckpt"))

    folded = {
        (r.source, r.split): r.n_docs
        for r in read_state(spark, state).collect()
    }
    full = {
        (r.source, r.split): r.n_docs for r in split_counts(docs).collect()
    }
    assert folded == full

    live = sorted(
        map(tuple, split_audit_from_counts(read_state(spark, state)).collect())
    )
    batch = sorted(
        map(
            tuple,
            QUERIES["x76_stratified_eval_split"](spark, SF_SMOKE).collect(),
        )
    )
    assert live == batch


def test_streamed_rfm_state_bit_equals_batch_x87(spark, tmp_path):
    """S26: events arriving as a 3-batch stream (sliced by event_id —
    users INTERLEAVE across batches; the RFM stats are additive with no
    ordering contract) fold into the per-user metric state; the folded
    frame bit-equals the batch rfm_metric_frame, and the served
    segmentation equals the registered x87 output row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.behavior import (
        rfm_from_metrics,
        rfm_metric_frame,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_rfm_state,
    )

    ev = load(spark, SF_SMOKE, "events")
    stage_dir = str(tmp_path / "stage")
    n_files = 3
    hi = ev.agg(F.max("event_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            ev.filter(
                (F.col("event_id") >= b * step)
                & (F.col("event_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )
    state = str(tmp_path / "rfm_state")
    sink_rfm_state(sdf, state, str(tmp_path / "ckpt"))

    folded = {
        r.user_id: (r.last_day, r.frequency, r.monetary_cents)
        for r in read_state(spark, state).collect()
    }
    full = {
        r.user_id: (r.last_day, r.frequency, r.monetary_cents)
        for r in rfm_metric_frame(ev).collect()
    }
    assert folded == full
    # users must actually interleave across batches, or the merge law
    # was never exercised beyond disjoint unions
    per_batch_users = []
    for b in range(n_files):
        part = ev.filter(
            (F.col("event_id") >= b * step)
            & (F.col("event_id") < (b + 1) * step)
        )
        per_batch_users.append(
            {r.user_id for r in part.select("user_id").distinct().collect()}
        )
    assert per_batch_users[0] & per_batch_users[1]

    live = sorted(
        map(tuple, rfm_from_metrics(read_state(spark, state)).collect())
    )
    batch_rows = QUERIES["x87_rfm_segments"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch_rows))


def test_streamed_value_counts_state_serves_live_x88(spark, tmp_path):
    """S27: events arriving as a 3-batch stream fold into the x88
    (type, cents) counts state — plain additive counters, no ordering
    contract; the folded counts bit-equal the batch value_cents_counts,
    and the served percentile profile equals the registered x88 output
    row-for-row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.behavior import (
        value_cents_counts,
        value_percentiles_from_counts,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_value_counts_state,
    )

    ev = load(spark, SF_SMOKE, "events")
    stage_dir = str(tmp_path / "stage")
    n_files = 3
    hi = ev.agg(F.max("event_id")).first()[0] + 1
    step = hi // n_files + 1
    for b in range(n_files):
        (
            ev.filter(
                (F.col("event_id") >= b * step)
                & (F.col("event_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(os.path.join(stage_dir, "data"))
        )
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "data"))
    )
    state = str(tmp_path / "vc_state")
    sink_value_counts_state(sdf, state, str(tmp_path / "ckpt"))

    folded = {
        (r.event_type, r.c): r.cnt
        for r in read_state(spark, state).collect()
    }
    full = {
        (r.event_type, r.c): r.cnt for r in value_cents_counts(ev).collect()
    }
    assert folded == full

    live = sorted(
        map(
            tuple,
            value_percentiles_from_counts(
                read_state(spark, state)
            ).collect(),
        )
    )
    batch_rows = QUERIES["x88_value_percentiles"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch_rows))


def test_transition_sink_refuses_out_of_order_arrival(spark, tmp_path):
    """S25 contract enforcement: a batch carrying an event OLDER than
    its user's persisted last event (arrival order broke event-time
    order) must fail loudly before the ledger commits — never silently
    fold a corrupt transition matrix."""
    import pytest as _pytest

    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.streaming.state_sink import (
        _transition_batch_cells,
    )

    ev = load(spark, SF_SMOKE, "events")
    mid = ev.agg(
        F.expr("percentile(cast(cast(ts as timestamp) as double), 0.5)")
    ).first()[0]
    late = ev.filter(F.col("ts").cast("timestamp").cast("double") > mid)
    early = ev.filter(F.col("ts").cast("timestamp").cast("double") <= mid)
    last_dir = str(tmp_path / "last_event")
    args = ("user_id", "event_type", "ts", "event_id")
    # batch 0 = the LATE half; batch 1 = the EARLY half -> violation
    _transition_batch_cells(late, last_dir, 0, *args).collect()
    with _pytest.raises(Exception, match="out-of-order arrival"):
        _transition_batch_cells(early, last_dir, 1, *args).collect()


def test_transition_sink_tie_boundary_full_key_guard(spark, tmp_path):
    """ADVICE r12: the boundary guard compares the FULL (ts, event_id)
    ordering key.  A later batch whose first event shares the persisted
    last event's timestamp with a SMALLER id would be ordered the other
    way by a batch recompute (which sorts by ts, id) — refused; the
    same timestamp with a LARGER id is a consistent tie — folded."""
    import datetime as _dt

    import pytest as _pytest

    from cubefs_hadoop_spark.streaming.state_sink import (
        _transition_batch_cells,
    )

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    args = ("user_id", "event_type", "ts", "event_id")

    # refusal: equal ts, smaller id across the boundary
    last_dir = str(tmp_path / "tie_bad")
    b0 = spark.createDataFrame([(5, t0, 1, "view")], schema)
    _transition_batch_cells(b0, last_dir, 0, *args).collect()
    b1 = spark.createDataFrame([(3, t0, 1, "purchase")], schema)
    with _pytest.raises(Exception, match="out-of-order arrival"):
        _transition_batch_cells(b1, last_dir, 1, *args).collect()

    # consistency: equal ts, larger id is a valid tie — the folded
    # boundary cell matches the batch recompute's (ts, id) order
    last_dir2 = str(tmp_path / "tie_ok")
    _transition_batch_cells(b0, last_dir2, 0, *args).collect()
    b1ok = spark.createDataFrame([(7, t0, 1, "purchase")], schema)
    cells = _transition_batch_cells(b1ok, last_dir2, 1, *args).collect()
    assert [(r.ft, r.tt, r.n) for r in cells] == [("view", "purchase", 1)]


def _stage_event_slices(spark, tmp_path, n=3):
    """Slice sf0.001 events into n event-time-ordered parquet files (the
    append-log contract: strict percentile cuts keep every user's later
    events in later batches) and return (events_df, stage_data_dir)."""
    from cubefs_hadoop_spark.catalog import load

    ev = load(spark, SF_SMOKE, "events")
    cuts = ev.agg(
        *[
            F.expr(
                "percentile(cast(cast(ts as timestamp) as double),"
                f" {q / n})"
            )
            for q in range(1, n)
        ]
    ).first()
    d = F.col("ts").cast("timestamp").cast("double")
    slices, lo = [], None
    for c in list(cuts) + [None]:
        f = ev
        if lo is not None:
            f = f.filter(d > lo)
        if c is not None:
            f = f.filter(d <= c)
        slices.append(f)
        lo = c
    data = os.path.join(str(tmp_path), "stage", "data")
    for b, part in enumerate(slices):
        (
            part.coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(data)
        )
    return ev, slices, data


def test_streamed_trigram_state_bit_equals_batch_x98(spark, tmp_path):
    """S28: events arriving as a 3-batch append-log stream fold into
    the x98 trigram state; the folded (t1, t2, t3, n) cells — BOTH
    boundary shapes (2 persisted + 1 batch, 1 persisted + 2 batch)
    included — bit-equal a batch trigram rollup over the whole corpus,
    and the derived live table equals the registered x98 output."""
    from cubefs_hadoop_spark.extensions.behavior import (
        event_path_trigrams,
        trigrams_from_counts,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_trigram_state,
    )

    ev, slices, data = _stage_event_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "tri_state")
    last2 = str(tmp_path / "last2")
    sink_trigram_state(sdf, state, str(tmp_path / "ckpt"), last2)

    folded = {
        (r.t1, r.t2, r.t3): r.n for r in read_state(spark, state).collect()
    }
    # full batch recompute at count grain (event_path_trigrams is the
    # top-k view; compare the complete cells instead)
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    full = {
        (r.t1, r.t2, r.t3): r.n
        for r in (
            ev.select(
                F.col("event_type").alias("t1"),
                F.lead("event_type", 1).over(w).alias("t2"),
                F.lead("event_type", 2).over(w).alias("t3"),
            )
            .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
            .groupBy("t1", "t2", "t3")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        ).collect()
    }
    assert folded == full
    # the witness is vacuous unless trigrams actually cross batch
    # boundaries: within-batch counts alone must NOT reproduce it
    within_only = {}
    for part in slices:
        wq = _W.partitionBy("user_id").orderBy("ts", "event_id")
        for r in (
            part.select(
                F.col("event_type").alias("t1"),
                F.lead("event_type", 1).over(wq).alias("t2"),
                F.lead("event_type", 2).over(wq).alias("t3"),
            )
            .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
            .groupBy("t1", "t2", "t3")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        ).collect():
            k = (r.t1, r.t2, r.t3)
            within_only[k] = within_only.get(k, 0) + r.n
    assert within_only != full

    live = sorted(
        map(tuple, trigrams_from_counts(read_state(spark, state)).collect())
    )
    batch_rows = QUERIES["x98_event_path_trigrams"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch_rows))


def test_trigram_boundary_one_event_per_batch(spark, tmp_path):
    """S28 carry-forward witness: a user whose 4 events arrive ONE per
    batch still yields both interior trigrams — the snapshot's last2
    slot must carry the previous last1 forward across every batch."""
    import datetime as _dt

    from cubefs_hadoop_spark.streaming.state_sink import (
        _trigram_batch_cells,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    args = ("user_id", "event_type", "ts", "event_id")
    last2 = str(tmp_path / "last2")
    types = ["view", "click", "purchase", "error"]
    total = {}
    for b, y in enumerate(types):
        batch = spark.createDataFrame(
            [(b, _dt.datetime(2024, 1, 1, 12, b), 1, y)], schema
        )
        for r in _trigram_batch_cells(batch, last2, b, *args).collect():
            k = (r.t1, r.t2, r.t3)
            total[k] = total.get(k, 0) + r.n
    assert total == {
        ("view", "click", "purchase"): 1,
        ("click", "purchase", "error"): 1,
    }


def test_trigram_replay_and_out_of_order_refusal(spark, tmp_path):
    """S28 inherits the S25 contracts: a replayed batch's cells
    bit-equal attempt 1 (crash-replay prune), and a batch holding an
    event at or before its user's persisted last event is refused."""
    import pytest as _pytest

    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.streaming.state_sink import (
        _trigram_batch_cells,
    )

    ev = load(spark, SF_SMOKE, "events")
    mid = ev.agg(
        F.expr("percentile(cast(cast(ts as timestamp) as double), 0.5)")
    ).first()[0]
    d = F.col("ts").cast("timestamp").cast("double")
    early, late = ev.filter(d <= mid), ev.filter(d > mid)
    args = ("user_id", "event_type", "ts", "event_id")

    last2 = str(tmp_path / "replay")
    _trigram_batch_cells(early, last2, 0, *args).collect()
    first = sorted(
        map(tuple, _trigram_batch_cells(late, last2, 1, *args).collect())
    )
    replay = sorted(
        map(tuple, _trigram_batch_cells(late, last2, 1, *args).collect())
    )
    assert replay == first and first

    last2b = str(tmp_path / "ooo")
    _trigram_batch_cells(late, last2b, 0, *args).collect()
    with _pytest.raises(Exception, match="out-of-order arrival"):
        _trigram_batch_cells(early, last2b, 1, *args).collect()


def test_streamed_funnel_state_equals_batch_x25_and_x97(spark, tmp_path):
    """S29: events arriving as a 3-batch append-log stream fold into
    the per-user funnel state; the state equals the batch x25 frame
    row-for-row (on users with step events), and the derived live
    conversion table equals the registered x97 output — including
    funnels whose steps SPAN batch boundaries."""
    from cubefs_hadoop_spark.extensions.behavior import (
        funnel,
        funnel_rates_from_user_state,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_user_funnel_state,
    )

    ev, slices, data = _stage_event_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "funnel_state")
    sink_user_funnel_state(sdf, state, str(tmp_path / "ckpt"))

    st = read_state(spark, state)
    got = {
        r.u: (r.t0, r.t1, r.t2)
        for r in st.select("u", "t0", "t1", "t2").collect()
    }
    want = {
        r.user_id: (r.t0, r.t1, r.t2) for r in funnel(ev).collect()
    }
    # the batch x25 frame covers users with a step-1 event; the state
    # additionally holds users who only emitted later-step events
    # (their slots stay NULL) — compare on the x25 domain, and check
    # the extras are all-NULL rows
    assert {u: v for u, v in got.items() if u in want} == want
    assert all(v == (None, None, None) for u, v in got.items() if u not in want)
    live = sorted(
        map(tuple, funnel_rates_from_user_state(st).collect())
    )
    batch_rows = QUERIES["x97_funnel_rates"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch_rows))


def test_funnel_state_refuses_out_of_order_and_replays(spark, tmp_path):
    """S29 contracts: a replayed batch is a ledger no-op; a batch
    holding a step event at or before a user's high-water mark fails
    loudly before the ledger commits."""
    import pytest as _pytest

    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.streaming.state_sink import (
        _ledger_committer,
        read_state,
        sink_user_funnel_state,
    )

    ev, slices, data = _stage_event_slices(spark, tmp_path)
    # ooo: stream the LATE slice first, then the early one
    d = os.path.join(str(tmp_path), "ooo", "data")
    slices[-1].coalesce(1).write.mode("overwrite").parquet(d)
    slices[0].coalesce(1).write.mode("append").parquet(d)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    with _pytest.raises(Exception, match="out-of-order arrival"):
        sink_user_funnel_state(
            sdf, str(tmp_path / "st2"), str(tmp_path / "ck2")
        )


def test_funnel_state_cross_batch_completion_witness(spark, tmp_path):
    """S29 cross-boundary witness (non-vacuous by construction): a
    funnel that STARTS in batch 0 (view) and COMPLETES across batch 1
    (click, purchase) folds correctly — t1/t2 fill from later batches
    against the already-persisted t0 — while a same-batch full funnel
    and a window-expired click behave exactly as the batch funnel()."""
    import datetime as _dt

    from cubefs_hadoop_spark.extensions.behavior import funnel
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_user_funnel_state,
    )

    t = lambda m: _dt.datetime(2024, 1, 1, 12) + _dt.timedelta(minutes=m)  # noqa: E731
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    b0 = [
        (1, t(0), 1, "view"),       # u1 starts; completes in batch 1
        (2, t(0), 2, "view"),       # u2 full funnel inside batch 0
        (3, t(5), 2, "click"),
        (4, t(10), 2, "purchase"),
        (5, t(0), 3, "view"),       # u3's click arrives too late (>1h)
    ]
    b1 = [
        (6, t(20), 1, "click"),
        (7, t(40), 1, "purchase"),
        (8, t(90), 3, "click"),     # outside u3's 1h window
    ]
    data = os.path.join(str(tmp_path), "data")
    spark.createDataFrame(b0, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(data)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(data)
    ev = spark.read.parquet(data)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "st")
    sink_user_funnel_state(sdf, state, str(tmp_path / "ck"))
    got = {
        r.u: (r.t0, r.t1, r.t2)
        for r in read_state(spark, state).collect()
    }
    want = {
        r.user_id: (r.t0, r.t1, r.t2) for r in funnel(ev).collect()
    }
    assert got == want
    assert got[1] == (t(0), t(20), t(40))  # spans the batch boundary
    assert got[3] == (t(0), None, None)    # late click stays excluded


def _stage_event_id_slices(spark, tmp_path, n=3):
    """Slice sf0.001 events into n files by EVENT-ID range — users and
    times interleave arbitrarily across batches, witnessing the
    NO-ordering-contract sinks (S26/S27/S30/S31 family)."""
    from cubefs_hadoop_spark.catalog import load

    ev = load(spark, SF_SMOKE, "events")
    hi = ev.agg(F.max("event_id")).first()[0] + 1
    step = hi // n + 1
    data = os.path.join(str(tmp_path), "idstage", "data")
    for b in range(n):
        (
            ev.filter(
                (F.col("event_id") >= b * step)
                & (F.col("event_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(data)
        )
    return ev, data


def test_streamed_diversity_state_equals_batch_x99(spark, tmp_path):
    """S30: events arriving in ARBITRARY order (event-id slices — no
    append-log contract) fold into the distinct (user, type) pair
    state; the served distribution equals the registered x99 output
    row-for-row (union is commutative + idempotent)."""
    from cubefs_hadoop_spark.extensions.behavior import (
        diversity_from_user_types,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_user_type_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "div_state")
    sink_user_type_state(sdf, state, str(tmp_path / "ckpt"))
    live = sorted(
        map(
            tuple,
            diversity_from_user_types(read_state(spark, state)).collect(),
        )
    )
    batch = QUERIES["x99_user_type_diversity"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))
    # state grain: distinct (u, y) pairs, no duplicates
    st = read_state(spark, state)
    assert st.count() == st.distinct().count()


def test_streamed_conversion_state_equals_batch_x105(spark, tmp_path):
    """S31: per-user (first-event, first-purchase) min pairs fold
    order-free (event-id slices); the served percentile row equals the
    registered x105 output — including users whose first event and
    first purchase arrive in DIFFERENT batches."""
    from cubefs_hadoop_spark.extensions.behavior import (
        conversion_latency_from_state,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_conversion_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "conv_state")
    sink_conversion_state(sdf, state, str(tmp_path / "ckpt"))
    live = sorted(
        map(
            tuple,
            conversion_latency_from_state(
                read_state(spark, state)
            ).collect(),
        )
    )
    batch = QUERIES["x105_conversion_latency"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))


def test_streamed_wau_state_equals_batch_x107(spark, tmp_path):
    """S32: distinct (week, user) pairs fold as idempotent union under
    a PINNED anchor (arbitrary-order event-id slices); the served table
    equals the registered x107 output when the anchor is the corpus
    min date."""
    from cubefs_hadoop_spark.extensions.behavior import wau_from_week_users
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_weekly_users_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    anchor = ev.agg(F.min(F.col("ts").cast("date"))).first()[0].isoformat()
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "wau_state")
    sink_weekly_users_state(sdf, state, str(tmp_path / "ckpt"), anchor)
    live = sorted(
        map(tuple, wau_from_week_users(read_state(spark, state)).collect())
    )
    batch = QUERIES["x107_weekly_active_users"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))


def test_streamed_session_depth_equals_batch_x110(spark, tmp_path):
    """S33: events arriving as a 3-batch append-log stream fold into
    the session-depth state; the served histogram (closed cells + open
    sessions) equals the registered x110 output row-for-row — sessions
    spanning batch boundaries merge to their full depth."""
    from cubefs_hadoop_spark.extensions.behavior import (
        session_depth_from_state,
    )
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.behavior import sessionize
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        sink_session_depth_state,
    )

    # cut deliberately INSIDE a multi-event session so the boundary
    # merge is exercised by construction (the natural percentile cuts
    # rarely land inside a 30-min session at sf0.001)
    ev = load(spark, SF_SMOKE, "events")
    sess = (
        sessionize(ev)
        .filter(F.col("events") >= 2)
        .orderBy("user_id", "session_idx")
        .first()
    )
    cut = sess.session_start  # first event <= cut, later events > cut
    slices = [
        ev.filter(F.col("ts") <= F.lit(cut)),
        ev.filter(F.col("ts") > F.lit(cut)),
    ]
    data = os.path.join(str(tmp_path), "stage", "data")
    for b, part in enumerate(slices):
        (
            part.coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(data)
        )
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "depth_state")
    open_dir = str(tmp_path / "open_sess")
    sink_session_depth_state(sdf, state, str(tmp_path / "ckpt"), open_dir)

    live = sorted(
        map(
            tuple,
            session_depth_from_state(spark, state, open_dir).collect(),
        )
    )
    batch = QUERIES["x110_session_depth"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))
    # non-vacuity: per-batch-only sessionization must NOT reproduce the
    # histogram (some session must span a boundary)
    from cubefs_hadoop_spark.extensions.behavior import (
        session_depth_histogram,
    )

    within = {}
    for part in slices:
        for r in session_depth_histogram(part).collect():
            within[r.depth] = within.get(r.depth, 0) + r.sessions
    full = {r.depth: r.sessions for r in batch}
    assert within != full


def test_session_depth_merge_and_close_witness(spark, tmp_path):
    """S33 crafted witnesses: (a) a session split across two batches
    (gap under 30 min at the boundary) merges to its full depth; (b) a
    boundary gap over 30 min CLOSES the open session at its recorded
    depth and starts a new one; (c) a replayed batch is bit-identical;
    (d) an out-of-order batch is refused."""
    import datetime as _dt

    import pytest as _pytest

    from cubefs_hadoop_spark.streaming.state_sink import (
        _session_batch_cells,
    )

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    m = lambda k: t0 + _dt.timedelta(minutes=k)  # noqa: E731
    schema = "event_id long, ts timestamp_ntz, user_id long"
    args = ("user_id", "ts", "event_id")
    gap = 30 * 60 * 1_000_000

    # (a) merge: u1 has 2 events in batch 0, 1 event 10 min later in
    # batch 1, then nothing -> one OPEN session of depth 3
    d = str(tmp_path / "merge")
    b0 = spark.createDataFrame([(1, m(0), 1), (2, m(5), 1)], schema)
    cells0 = _session_batch_cells(b0, d, 0, gap, *args).collect()
    assert cells0 == []  # nothing closed yet
    b1 = spark.createDataFrame([(3, m(15), 1)], schema)
    cells1 = _session_batch_cells(b1, d, 1, gap, *args).collect()
    assert cells1 == []  # still open, now depth 3
    op = spark.read.parquet(str(tmp_path / "merge" / "batch=1")).collect()
    assert [(r.u, r.depth) for r in op] == [(1, 3)]

    # (b) close: batch 2 arrives 40 min later -> the depth-3 session
    # closes, a fresh depth-1 session opens
    b2 = spark.createDataFrame([(4, m(55), 1)], schema)
    cells2 = _session_batch_cells(b2, d, 2, gap, *args).collect()
    assert [(r.depth, r.n) for r in cells2] == [(3, 1)]
    op2 = spark.read.parquet(str(tmp_path / "merge" / "batch=2")).collect()
    assert [(r.u, r.depth) for r in op2] == [(1, 1)]

    # (c) replay of batch 2 (crash pre-ledger): reads batch<2 snapshot,
    # cells bit-equal attempt 1
    replay = _session_batch_cells(b2, d, 2, gap, *args).collect()
    assert sorted(map(tuple, replay)) == sorted(map(tuple, cells2))

    # (d) out-of-order refusal: an event BEFORE the open session's end
    bad = spark.createDataFrame([(5, m(54), 1)], schema)
    with _pytest.raises(Exception, match="out-of-order arrival"):
        _session_batch_cells(bad, d, 3, gap, *args).collect()


def _stage_doc_slices(spark, tmp_path, n=3):
    """Slice sf0.001 documents into n files by doc-id range (arbitrary
    order w.r.t. source/lang — the no-contract additive sinks)."""
    from cubefs_hadoop_spark.catalog import load

    docs = load(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = hi // n + 1
    data = os.path.join(str(tmp_path), "docstage", "data")
    for b in range(n):
        (
            docs.filter(
                (F.col("doc_id") >= b * step)
                & (F.col("doc_id") < (b + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(data)
        )
    return docs, data


def test_streamed_source_lang_state_equals_batch_x103(spark, tmp_path):
    """S34: (source, lang) doc/char counters fold order-free; the
    served cross-tab equals the registered x103 output row-for-row."""
    from cubefs_hadoop_spark.extensions.text import (
        source_lang_matrix_from_cells,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_source_lang_state,
    )

    docs, data = _stage_doc_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "sl_state")
    sink_source_lang_state(sdf, state, str(tmp_path / "ckpt"))
    live = sorted(
        map(
            tuple,
            source_lang_matrix_from_cells(
                read_state(spark, state)
            ).collect(),
        )
    )
    batch = QUERIES["x103_source_lang_matrix"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))


def test_streamed_doclen_state_equals_batch_x93(spark, tmp_path):
    """S35: per-(source, n_chars) counts fold order-free; the served
    EXACT p50/p90 profile equals the registered x93 output — the
    percentile machinery runs at counts grain on the folded state."""
    from cubefs_hadoop_spark.extensions.text import (
        doclen_percentiles_from_cells,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_doclen_state,
    )

    docs, data = _stage_doc_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "dl_state")
    sink_doclen_state(sdf, state, str(tmp_path / "ckpt"))
    live = sorted(
        map(
            tuple,
            doclen_percentiles_from_cells(
                read_state(spark, state)
            ).collect(),
        )
    )
    batch = QUERIES["x93_doclen_percentiles"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))
    # state grain law: bounded by the (source, distinct length) space
    st = read_state(spark, state)
    assert st.count() == st.select("source", "c").distinct().count()


def test_streamed_revenue_day_state_equals_batch_x112(spark, tmp_path):
    """S36: per-day purchase cents fold order-free (event-id slices —
    a day's revenue may arrive split across batches); the served spike
    table equals the registered x112 output row-for-row."""
    from cubefs_hadoop_spark.extensions.behavior import (
        revenue_spikes_from_cells,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_revenue_day_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "rev_state")
    sink_revenue_day_state(sdf, state, str(tmp_path / "ckpt"))
    live = sorted(
        map(
            tuple,
            revenue_spikes_from_cells(read_state(spark, state)).collect(),
        )
    )
    batch = QUERIES["x112_revenue_spikes"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))


def test_streamed_catalog_week_state_equals_batch_x113(spark, tmp_path):
    """S37: distinct (week, item) pairs fold as union under a pinned
    anchor (arbitrary order — an item's FIRST week may arrive after its
    later weeks); the served turnover table equals the registered x113
    output row-for-row."""
    from cubefs_hadoop_spark.extensions.behavior import (
        catalog_turnover_from_pairs,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_catalog_week_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    anchor = ev.agg(F.min(F.col("ts").cast("date"))).first()[0].isoformat()
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "cat_state")
    sink_catalog_week_state(sdf, state, str(tmp_path / "ckpt"), anchor)
    live = sorted(
        map(
            tuple,
            catalog_turnover_from_pairs(read_state(spark, state)).collect(),
        )
    )
    batch = QUERIES["x113_catalog_turnover"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))


def test_live_spike_alert_loop_serves_batch_x112_per_batch(spark, tmp_path):
    """VERDICT r13 #6: the ALERTING operator demonstrated live — the
    S36 committer (the exact function foreachBatch drives; the
    readStream plumbing itself is covered by
    test_streamed_revenue_day_state_equals_batch_x112) folds
    day-range event slices batch by batch, and AFTER EVERY commit the
    served ``revenue_spikes_from_cells(read_state(...))`` table equals
    batch ``revenue_spike_days`` over exactly the events ingested so
    far, row-for-row — including the boundary-crossing witness: after
    batch 1 a day whose entire trailing-7-day baseline was folded by
    batch 0 carries a non-NULL spike flag."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.behavior import (
        revenue_day_cells,
        revenue_spike_days,
        revenue_spikes_from_cells,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        additive_state_committer,
        read_state,
    )

    ev = load(spark, SF_SMOKE, "events")
    state = str(tmp_path / "spike_state")
    committer = additive_state_committer(
        state,
        lambda b: revenue_day_cells(b, "event_type", "ts", "value", "purchase"),
        ["day"],
        ["rev_cents"],
    )
    cuts = ["2024-01-09", "2024-01-17", "2024-01-25", "2099-01-01"]
    lo = "1900-01-01"
    for batch_id, hi in enumerate(cuts):
        batch = ev.filter(
            (F.col("ts").cast("date") >= F.lit(lo).cast("date"))
            & (F.col("ts").cast("date") < F.lit(hi).cast("date"))
        )
        committer(batch, batch_id)
        lo = hi
        live = sorted(
            map(
                tuple,
                revenue_spikes_from_cells(read_state(spark, state)).collect(),
            )
        )
        prefix = ev.filter(F.col("ts").cast("date") < F.lit(hi).cast("date"))
        want = sorted(map(tuple, revenue_spike_days(prefix).collect()))
        assert live == want, f"batch {batch_id} serve != prefix batch"
        if batch_id == 1:
            # boundary-crossing witness: day 9's trailing-7 baseline
            # (days 2-8) folded entirely in batch 0, yet the live table
            # flags it now — the alert works across the batch seam
            import datetime

            flags = {t[0]: t[3] for t in live}
            assert flags[datetime.date(2024, 1, 9)] is not None
    # and the final served table equals the REGISTERED x112 output
    final = sorted(
        map(
            tuple,
            revenue_spikes_from_cells(read_state(spark, state)).collect(),
        )
    )
    batch_full = QUERIES["x112_revenue_spikes"](spark, SF_SMOKE).collect()
    assert final == sorted(map(tuple, batch_full))


def test_streamed_hour_cells_state_serves_x102_and_x118(spark, tmp_path):
    """S38: the (type, dow, hr) activity cube folds additively
    order-free (event-id slices); ONE folded state serves BOTH the
    live x102 peak table and the live x118 seasonality matrix,
    row-for-row equal to the registered batch queries."""
    from cubefs_hadoop_spark.extensions.behavior import (
        hourly_seasonality_from_cells,
        peak_hours_from_cells,
    )
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_hour_cells_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "hour_state")
    sink_hour_cells_state(sdf, state, str(tmp_path / "ckpt"))
    cells = read_state(spark, state)
    live_peak = sorted(map(tuple, peak_hours_from_cells(cells).collect()))
    batch_peak = QUERIES["x102_peak_hours"](spark, SF_SMOKE).collect()
    assert live_peak == sorted(map(tuple, batch_peak))
    live_season = sorted(
        map(tuple, hourly_seasonality_from_cells(cells).collect())
    )
    batch_season = QUERIES["x118_hourly_seasonality"](spark, SF_SMOKE).collect()
    assert live_season == sorted(map(tuple, batch_season))
    # state grain law: bounded by the (type, dow, hr) cube
    st = read_state(spark, state)
    assert st.count() == st.select("event_type", "dow", "hr").distinct().count()


def test_streamed_user_span_state_equals_batch_x125(spark, tmp_path):
    """S39: per-user (first, last) epoch micros fold as a min/max merge
    order-free (event-id slices — a user's extremes may arrive in any
    batches); the served lifespan percentile row equals the registered
    x125 output."""
    from cubefs_hadoop_spark.extensions.behavior import lifespan_from_spans
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.streaming.state_sink import (
        read_state,
        sink_user_span_state,
    )

    ev, data = _stage_event_id_slices(spark, tmp_path)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    state = str(tmp_path / "span_state")
    sink_user_span_state(sdf, state, str(tmp_path / "ckpt"))
    live = sorted(
        map(tuple, lifespan_from_spans(read_state(spark, state)).collect())
    )
    batch = QUERIES["x125_user_lifespan"](spark, SF_SMOKE).collect()
    assert live == sorted(map(tuple, batch))
    # state grain law: one row per user
    st = read_state(spark, state)
    assert st.count() == st.select("u").distinct().count()


def test_null_inputs_agree_across_streamed_twins(spark, tmp_path):
    """S30/S31/S32/S37/S39 over a crafted 3-slice event log with a NULL
    event_type, a user whose only events are NULL-typed, and a NULL-ts
    purchase: every served view equals its batch operator on the same
    frame.  A NULL type is not a type (COUNT(DISTINCT) semantics, as in
    DuckDB), and a NULL ts lands in the NULL week instead of tripping
    the week-0 anchor guard."""
    from datetime import datetime as dt

    from cubefs_hadoop_spark.extensions import behavior as B
    from cubefs_hadoop_spark.streaming import state_sink as S

    k7, k8, k9 = '{"k": 7}', '{"k": 8}', '{"k": 9}'
    rows = [
        (1, dt(2024, 1, 1, 10), 1, "view", None, None),
        (2, dt(2024, 1, 1, 10, 5), 1, None, None, None),
        (3, dt(2024, 1, 2, 9), 2, None, None, None),
        (4, dt(2024, 1, 3, 12), 3, "view", None, None),
        (5, dt(2024, 1, 9, 12), 3, "click", None, None),
        (6, dt(2024, 1, 10, 8), 3, "purchase", 9.99, k7),
        (7, None, 1, "purchase", 5.0, k8),
        (8, dt(2024, 1, 16, 10), 1, "purchase", 3.0, k7),
        (9, dt(2024, 1, 5, 10), 2, None, None, None),
        (10, dt(2024, 1, 17, 11), 4, "purchase", 1.0, k9),
        (11, dt(2024, 1, 18, 11), 4, "view", None, None),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    ev = spark.createDataFrame(rows, schema)
    data = str(tmp_path / "stage" / "data")
    for b, (lo, hi) in enumerate([(1, 4), (5, 8), (9, 11)]):
        (
            ev.filter(F.col("event_id").between(lo, hi))
            .coalesce(1)
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(data)
        )
    anchor = "2024-01-01"
    twins = {
        "S30": (
            lambda sdf, st, ck: S.sink_user_type_state(sdf, st, ck),
            B.diversity_from_user_types,
            B.user_type_diversity,
        ),
        "S31": (
            lambda sdf, st, ck: S.sink_conversion_state(sdf, st, ck),
            B.conversion_latency_from_state,
            B.conversion_latency,
        ),
        "S32": (
            lambda sdf, st, ck: S.sink_weekly_users_state(sdf, st, ck, anchor),
            B.wau_from_week_users,
            B.weekly_active_users,
        ),
        "S37": (
            lambda sdf, st, ck: S.sink_catalog_week_state(sdf, st, ck, anchor),
            B.catalog_turnover_from_pairs,
            B.catalog_turnover,
        ),
        "S39": (
            lambda sdf, st, ck: S.sink_user_span_state(sdf, st, ck),
            B.lifespan_from_spans,
            B.user_lifespan,
        ),
    }
    for name, (sink, serve, batch_op) in twins.items():
        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        state = str(tmp_path / name / "state")
        sink(sdf, state, str(tmp_path / name / "ckpt"))
        live = sorted(
            map(tuple, serve(S.read_state(spark, state)).collect()),
            key=repr,
        )
        want = sorted(map(tuple, batch_op(ev).collect()), key=repr)
        assert live == want, name
    # the batch x99 distribution itself: u2 (NULL types only) at 0,
    # u1 and u4 at 2, u3 at 3 — NULL never counts as a type
    dist = B.user_type_diversity(ev).select("n_types", "users").collect()
    assert sorted(map(tuple, dist)) == [(0, 1), (2, 2), (3, 1)]
