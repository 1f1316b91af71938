"""Engine-side tests for the X-series operators beyond the oracle gate:
properties the SQL oracle can't express (recall, candidate-set soundness,
plumbing shapes)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.extensions import multimodal as mm
from cubefs_hadoop_spark.extensions.dedup import (
    exact_dedup_by_hash,
    simhash_fingerprints,
    simhash_neardup_pairs,
    x02b_ngram_jaccard,
    x02_minhash_lsh,
    x02c_simhash,
)
from cubefs_hadoop_spark.extensions.similarity import ivf_topk, x03_topk_cosine
from cubefs_hadoop_spark.extensions.text import langid_scores
from cubefs_hadoop_spark.queries.relational import approx_distinct, sample
from tests.conftest import SF_SMOKE


def test_exact_dedup_by_hash_removes_dups(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb")], "id int, text string"
    )
    out = exact_dedup_by_hash(df)
    assert out.count() == 2
    assert {r.text for r in out.collect()} == {"aa", "bb"}


def test_minhash_lsh_finds_true_neardups(spark):
    """Every high-jaccard pair in the verified subset must be an LSH
    candidate (recall on strong pairs), and candidates are plausible."""
    cands = {
        (r.da, r.db) for r in x02_minhash_lsh(spark, SF_SMOKE).collect()
    }
    strong = {
        (r.da, r.db)
        for r in x02b_ngram_jaccard(spark, SF_SMOKE).collect()
        if float(r.jac) > 0.5
    }
    assert strong, "fixture should contain at least one strong near-dup pair"
    assert strong <= cands, f"LSH missed strong pairs: {strong - cands}"


def test_simhash_identical_docs_collide(spark):
    """Identical token sets -> identical fingerprints; a disjoint doc does
    not land within hamming 2 of them."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "zzz qqq vvv kkk jjj www")],
        "doc_id bigint, text string",
    )
    fps = {r.doc_id: r.fp for r in simhash_fingerprints(df).collect()}
    assert fps[1] == fps[2]
    pairs = {
        (r.da, r.db)
        for r in simhash_neardup_pairs(simhash_fingerprints(df), 2).collect()
    }
    assert (1, 2) in pairs


def test_simhash_banding_sound(spark):
    """Banding must find every pair with hamming <= 3 (pigeonhole over 4
    byte-bands of a 32-bit fingerprint)."""
    fps = x02c_simhash(spark, SF_SMOKE).limit(80)
    found = simhash_neardup_pairs(fps, max_hamming=3)
    # brute-force ground truth on the same 80 docs
    a, b = fps.alias("a"), fps.alias("b")
    truth = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("h", F.expr("bit_count(a.fp ^ b.fp)"))
        .filter(F.col("h") <= 3)
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"), "h"
        )
    )
    got = {(r.da, r.db) for r in found.collect()}
    want = {(r.da, r.db) for r in truth.collect()}
    assert got == want


def test_ivf_recall_vs_bruteforce(spark):
    """VERDICT r04 #3: aggregate recall >= 0.8 AND no single query below
    0.6 — one Lloyd sweep + replication-2 multi-assignment on a
    near-uniform corpus (the IVF worst case); determinism makes these
    floors stable across runs."""
    exact: dict[int, set] = {}
    for r in x03_topk_cosine(spark, SF_SMOKE).collect():
        exact.setdefault(r.q_id, set()).add(r.n_id)
    got: dict[int, set] = {}
    for r in ivf_topk(spark, SF_SMOKE).collect():
        got.setdefault(r.q_id, set()).add(r.n_id)
    per_q = {
        q: len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    }
    total = sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
        len(v) for v in exact.values()
    )
    assert total >= 0.8, f"IVF aggregate recall collapsed: {total} {per_q}"
    assert min(per_q.values()) >= 0.6, f"per-query recall floor: {per_q}"


def test_topk_cosine_against_numpy(spark):
    """Cross-check the SQL cosine against numpy on one query vector."""
    import numpy as np

    emb = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in load(spark, SF_SMOKE, "embeddings").collect()
    }
    q = emb[0]
    sims = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for i, v in emb.items()
        if i != 0
    }
    want = sorted(sims, key=lambda i: (-sims[i], i))[:5]
    got = [
        r.n_id
        for r in x03_topk_cosine(spark, SF_SMOKE).filter(F.col("q_id") == 0).collect()
    ]
    assert sorted(got) == sorted(want)


def test_langid_coverage(spark):
    """Heuristic language-ID classifies nearly all docs (fixture lang labels
    are synthetic and uncorrelated with the text, so coverage — not label
    agreement — is the testable property)."""
    docs = load(spark, SF_SMOKE, "documents")
    lp = langid_scores(docs)
    covered = lp.filter(F.col("lang_pred") != "und").count()
    assert covered >= 0.9 * docs.count()


def test_approx_percentile_close_to_exact(spark):
    from cubefs_hadoop_spark.queries.functions_extra import (
        approx_percentiles,
        q06b_percentiles,
    )

    exact = {r.l_returnflag: float(r.p50) for r in q06b_percentiles(spark, SF_SMOKE).collect()}
    approx = {r.l_returnflag: r.p50 for r in approx_percentiles(spark, SF_SMOKE).collect()}
    for k in exact:
        assert abs(exact[k] - approx[k]) <= max(1.0, 0.05 * exact[k])


def test_approx_distinct_close_to_exact(spark):
    exact = load(spark, SF_SMOKE, "orders").select("o_custkey").distinct().count()
    approx = approx_distinct(spark, SF_SMOKE, rsd=0.02).first().c
    assert abs(approx - exact) <= 0.1 * exact


def test_seeded_sample_fraction(spark):
    n = load(spark, SF_SMOKE, "lineitem").count()
    s = sample(spark, SF_SMOKE, fraction=0.1).count()
    assert 0.05 * n <= s <= 0.15 * n


def test_multimodal_plumbing(spark, tmp_path):
    """X06: binaryFile ingest -> metadata struct -> Arrow decode stub."""
    d = tmp_path / "media"
    d.mkdir()
    for i in range(4):
        (d / f"f{i}.bin").write_bytes(bytes([i]) * (50 + i))
    df = mm.ingest_binary_dir(spark, str(d)).withColumn(
        "item_id", F.monotonically_increasing_id()
    )
    df = mm.attach_metadata(df, "image", "application/octet-stream")
    assert df.schema["meta"].dataType.simpleString() == (
        "struct<modality:string,mime:string,n_bytes:bigint>"
    )
    feats = mm.extract_features(df, fake=True)
    rows = feats.collect()
    assert len(rows) == 4
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same payload -> same features across runs
    again = mm.extract_features(df, fake=True).collect()
    assert {tuple(r.feature) for r in rows} == {tuple(r.feature) for r in again}
    # real-decode path is an explicit stub
    with pytest.raises(Exception, match="NotImplementedError|PIL|opencv"):
        mm.extract_features(df, fake=False).collect()


def test_hash_split_stable_and_sized(spark):
    from cubefs_hadoop_spark.extensions.text import hash_split

    docs = load(spark, SF_SMOKE, "documents")
    a = hash_split(docs, "text", train_pct=80)
    frac = a.filter(F.col("split") == "train").count() / docs.count()
    assert 0.70 <= frac <= 0.90
    # content-addressed: identical assignment under repartitioning
    b = hash_split(docs.repartition(7), "text", train_pct=80)
    assert (
        a.select("doc_id", "split")
        .exceptAll(b.select("doc_id", "split"))
        .count()
        == 0
    )


def test_minhash_signature_partition_invariant(spark):
    """Signatures are content-addressed: identical regardless of input
    partitioning (the property that makes dedup results reproducible
    across cluster sizes and incremental reruns)."""
    from cubefs_hadoop_spark.extensions.dedup import minhash_signature

    docs = load(spark, SF_SMOKE, "documents").limit(50)
    one = minhash_signature(docs.coalesce(1)).collect()
    many = minhash_signature(docs.repartition(7)).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_widen_for_cpu(spark):
    """Widens single-split inputs to default parallelism, no-ops on
    already-wide inputs, never changes rows."""
    from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu

    par = spark.sparkContext.defaultParallelism
    df = spark.range(1000).coalesce(1)
    wide = widen_for_cpu(df, "id")
    assert wide.rdd.getNumPartitions() == par
    assert wide.count() == 1000
    already = spark.range(1000).repartition(par + 4)
    assert widen_for_cpu(already).rdd.getNumPartitions() == par + 4


def test_edit_distance_verifies_lsh_candidates(spark):
    """x02d is the verify tier of x02's cascade: every confirmed pair is
    an LSH candidate, and every confirmed pair respects the relative
    edit-distance threshold."""
    from cubefs_hadoop_spark.extensions.dedup import (
        x02d_edit_distance_dedup,
    )

    cands = {(r.da, r.db) for r in x02_minhash_lsh(spark, SF_SMOKE).collect()}
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_SMOKE, "documents").collect()
    }
    confirmed = x02d_edit_distance_dedup(spark, SF_SMOKE).collect()
    assert confirmed, "smoke fixture contains true near-dups"
    for r in confirmed:
        assert (r.id_a, r.id_b) in cands
        cap = int(0.15 * max(len(docs[r.id_a]), len(docs[r.id_b])))
        assert r.dist <= cap


def test_multimodal_resize_plumbing(spark, tmp_path):
    """X06 resize stub: schema, determinism, and output-size scaling with
    target area — the Spark-side contract a real codec drops into."""
    d = tmp_path / "media2"
    d.mkdir()
    for i in range(3):
        (d / f"g{i}.bin").write_bytes(bytes([i + 1]) * 100)
    df = mm.ingest_binary_dir(spark, str(d)).withColumn(
        "item_id", F.monotonically_increasing_id()
    )
    small = mm.resize_images(df, 32, 32, fake=True).collect()
    large = mm.resize_images(df, 64, 64, fake=True).collect()
    assert len(small) == len(large) == 3
    assert all(r.width == 32 and r.height == 32 for r in small)
    assert all(
        len(bytes(s.content)) < len(bytes(l.content))
        for s, l in zip(small, large)
    )
    again = mm.resize_images(df, 32, 32, fake=True).collect()
    assert {bytes(r.content) for r in small} == {bytes(r.content) for r in again}
    with pytest.raises(Exception, match="NotImplementedError|PIL|opencv"):
        mm.resize_images(df, 32, 32, fake=False).collect()


def test_multimodal_audio_plumbing(spark, tmp_path):
    """X06 audio stub: schema, determinism, duration arithmetic."""
    d = tmp_path / "media3"
    d.mkdir()
    for i in range(3):
        (d / f"a{i}.bin").write_bytes(bytes([i + 7]) * 80)
    df = mm.ingest_binary_dir(spark, str(d)).withColumn(
        "item_id", F.monotonically_increasing_id()
    )
    feats = mm.extract_audio_features(df, sample_rate=8000, fake=True).collect()
    assert len(feats) == 3
    for r in feats:
        assert r.sample_rate == 8000
        assert abs(r.duration_s - r.n_samples / 8000) < 1e-9
        assert 0.0 <= r.rms <= r.peak <= 1.0
    again = mm.extract_audio_features(df, sample_rate=8000, fake=True).collect()
    assert {(r.item_id, r.rms) for r in feats} == {(r.item_id, r.rms) for r in again}
    with pytest.raises(Exception, match="NotImplementedError|soundfile|librosa"):
        mm.extract_audio_features(df, fake=False).collect()


def test_multimodal_real_image_decode_when_pil_present(spark):
    """X06 real-codec path: activates wherever the optional PIL dependency
    exists (dependency-gated like S12's protobuf; skipped in containers
    without pillow)."""
    Image = pytest.importorskip("PIL.Image")
    import io as _io

    payloads = []
    for i, color in enumerate([(255, 0, 0), (0, 128, 255)]):
        buf = _io.BytesIO()
        Image.new("RGB", (40 + i * 8, 24), color).save(buf, format="PNG")
        payloads.append((i, bytearray(buf.getvalue())))
    df = spark.createDataFrame(payloads, "item_id bigint, content binary")
    df = mm.attach_metadata(df, "image", "image/png")
    rows = {r.item_id: r for r in mm.extract_features(df, fake=False).collect()}
    assert rows[0].width == 40 and rows[0].height == 24
    assert rows[1].width == 48
    # red image: first feature channel saturated, second ~0
    assert rows[0].feature[0] > 0.95 and rows[0].feature[1] < 0.05

    resized = mm.resize_images(df, 16, 16, fake=False).collect()
    for r in resized:
        img = Image.open(_io.BytesIO(bytes(r.content)))
        assert img.size == (16, 16)


def test_multimodal_real_audio_decode_when_soundfile_present(spark):
    """X06 audio real-codec path (soundfile-gated): a stdlib-generated WAV
    round-trips through the Arrow decode stage with correct sample count."""
    sf = pytest.importorskip("soundfile")
    import io as _io
    import math
    import wave

    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        pcm = b"".join(
            int(12000 * math.sin(2 * math.pi * 440 * t / 8000)).to_bytes(
                2, "little", signed=True
            )
            for t in range(8000)
        )
        w.writeframes(pcm)
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "item_id bigint, content binary"
    )
    row = mm.extract_audio_features(df, sample_rate=8000, fake=False).collect()[0]
    assert row.n_samples == 8000
    assert row.duration_s == pytest.approx(1.0)
    # libsndfile normalization: int16 / 32768 -> amplitude 12000/32768,
    # a full-period sine's rms is amplitude / sqrt(2)
    amp = 12000 / 32768
    assert row.peak == pytest.approx(amp, rel=1e-2)
    assert row.rms == pytest.approx(amp / 2**0.5, rel=1e-2)


# -- stdlib codecs: PNG/WAV real paths with zero optional deps (round 4) ----


def test_codec_png_roundtrip_and_filters():
    from cubefs_hadoop_spark.extensions import codecs

    w, h = 5, 3
    rgb = bytes((x * 17 + y * 31 + c * 7) % 256
                for y in range(h) for x in range(w) for c in range(3))
    data = codecs.png_encode(w, h, rgb)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w2, h2, rgb2 = codecs.png_decode(data)
    assert (w2, h2, rgb2) == (w, h, rgb)

    with pytest.raises(ValueError):
        codecs.png_decode(b"JFIF not a png")
    with pytest.raises(ValueError):
        codecs.png_encode(2, 2, b"short")


def test_codec_wav_roundtrip():
    import math

    from cubefs_hadoop_spark.extensions import codecs

    samples = [math.sin(2 * math.pi * 440 * t / 8000) * 0.5 for t in range(800)]
    data = codecs.wav_encode(samples, rate=8000)
    out, rate = codecs.wav_decode(data)
    assert rate == 8000 and len(out) == 800
    assert max(abs(a - b) for a, b in zip(samples, out)) < 1e-3


def test_multimodal_real_image_decode_stdlib(spark):
    """X06 real image path on the stdlib tier (codec="stdlib" pins it so
    the tier stays covered even when PIL — real or vendored — is
    importable): the stdlib PNG codec decodes actual PNG bytes inside
    the Arrow worker (no skip, no fake)."""
    from cubefs_hadoop_spark.extensions import codecs

    payloads = []
    for i, color in enumerate([(255, 0, 0), (0, 128, 255)]):
        w, h = 40 + i * 8, 24
        rgb = bytes(color) * (w * h)
        payloads.append((i, bytearray(codecs.png_encode(w, h, rgb))))
    df = spark.createDataFrame(payloads, "item_id bigint, content binary")
    df = mm.attach_metadata(df, "image", "image/png")
    rows = {
        r.item_id: r
        for r in mm.extract_features(df, fake=False, codec="stdlib").collect()
    }
    assert rows[0].width == 40 and rows[0].height == 24
    assert rows[1].width == 48
    assert rows[0].feature[0] > 0.95 and rows[0].feature[1] < 0.05  # red

    resized = {
        r.item_id: r
        for r in mm.resize_images(df, 16, 16, fake=False, codec="stdlib").collect()
    }
    for i, color in enumerate([(255, 0, 0), (0, 128, 255)]):
        w2, h2, rgb2 = codecs.png_decode(bytes(resized[i].content))
        assert (w2, h2) == (16, 16)
        assert rgb2[:3] == bytes(color)  # solid color survives resize

    # non-PNG bytes without PIL -> typed NotImplementedError, not garbage
    bad = spark.createDataFrame(
        [(9, bytearray(b"JFIFnotapng"))], "item_id bigint, content binary"
    )
    bad = mm.attach_metadata(bad, "image", "image/jpeg")
    with pytest.raises(Exception, match="NotImplementedError|pillow"):
        mm.extract_features(bad, fake=False, codec="stdlib").collect()


def test_multimodal_real_audio_decode_stdlib(spark):
    """X06 real audio path WITHOUT soundfile: stdlib WAV codec inside the
    Arrow worker (no skip, no fake)."""
    import math

    from cubefs_hadoop_spark.extensions import codecs

    samples = [math.sin(2 * math.pi * 440 * t / 8000) * 0.366 for t in range(8000)]
    df = spark.createDataFrame(
        [(1, bytearray(codecs.wav_encode(samples, rate=8000)))],
        "item_id bigint, content binary",
    )
    row = mm.extract_audio_features(
        df, sample_rate=8000, fake=False, codec="stdlib"
    ).collect()[0]
    assert row.sample_rate == 8000
    assert row.n_samples == 8000
    assert row.duration_s == pytest.approx(1.0)
    assert row.rms == pytest.approx(0.366 / 2**0.5, rel=0.01)
    assert row.peak == pytest.approx(0.366, rel=0.01)


def test_multimodal_real_video_frames_stdlib(spark):
    """X06 video real path: a motion-PNG stream (concatenated PNGs) is
    split exactly, every_n-th frame decoded — the frame-sampling plan
    shape with a REAL decode, zero optional deps."""
    from cubefs_hadoop_spark.extensions import codecs

    frames = []
    for i, color in enumerate([(250, 0, 0), (0, 250, 0), (0, 0, 250), (9, 9, 9)]):
        frames.append(codecs.png_encode(8, 6, bytes(color) * 48))
    stream = b"".join(frames)
    assert len(codecs.split_png_stream(stream)) == 4

    df = spark.createDataFrame(
        [(7, bytearray(stream))], "item_id bigint, content binary"
    )
    all_f = mm.extract_video_frames(df, every_n=1, fake=False).collect()
    assert [r.frame_idx for r in sorted(all_f, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert all(r.width == 8 and r.height == 6 for r in all_f)
    by_idx = {r.frame_idx: r.feature for r in all_f}
    assert by_idx[0][0] > 0.9 and by_idx[1][1] > 0.9  # per-frame color

    sampled = mm.extract_video_frames(df, every_n=2, fake=False).collect()
    assert sorted(r.frame_idx for r in sampled) == [0, 2]

    bad = spark.createDataFrame(
        [(8, bytearray(b"mp4boxnotpng"))], "item_id bigint, content binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|demuxer|ffmpeg"):
        mm.extract_video_frames(bad, fake=False).collect()


def test_multimodal_corrupt_png_raises_typed_error(spark):
    """ADVICE r04: a payload with a valid PNG signature but corrupt body
    surfaces zlib/struct/Index errors from the stdlib codec — all must
    become the typed NotImplementedError message, not an opaque Arrow
    worker crash."""
    from cubefs_hadoop_spark.extensions import codecs

    good = codecs.png_encode(8, 8, bytes(range(192)))
    bitflip = bytearray(good)
    bitflip[45] ^= 0xFF  # corrupt the IDAT zlib stream -> zlib.error
    corrupt = [
        good[:20],                                   # truncated mid-header (struct.error)
        good[: len(good) // 2],                      # truncated mid-IDAT (zlib.error)
        bytes(bitflip),
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 30,         # signature-only garbage
    ]
    for i, payload in enumerate(corrupt):
        bad = spark.createDataFrame(
            [(i, bytearray(payload))], "item_id bigint, content binary"
        )
        bad = mm.attach_metadata(bad, "image", "image/png")
        with pytest.raises(Exception, match="NotImplementedError|pillow"):
            mm.extract_features(bad, fake=False).collect()
        with pytest.raises(Exception, match="NotImplementedError|pillow"):
            mm.resize_images(bad, 4, 4, fake=False).collect()


def test_lsh_interleaved_pipelines_both_correct(spark):
    """VERDICT r04 #5: two interleaved lsh_candidate_pairs pipelines —
    the second call evicts the first's session-scoped band cache, which
    must cost only recomputation, never correctness, when the first
    frame is consumed afterwards."""
    from cubefs_hadoop_spark.extensions.dedup import lsh_candidate_pairs

    docs = load(spark, SF_SMOKE, "documents")
    lo, hi = docs.filter(F.col("doc_id") < 250), docs.filter(F.col("doc_id") >= 250)
    a = lsh_candidate_pairs(lo)   # caches bands for lo
    b = lsh_candidate_pairs(hi)   # evicts lo's cache, caches hi's
    got_a = {(r.da, r.db) for r in a.collect()}   # post-eviction consume
    got_b = {(r.da, r.db) for r in b.collect()}
    # ground truth: fresh un-interleaved runs of the same pipelines
    want_a = {(r.da, r.db) for r in lsh_candidate_pairs(lo).collect()}
    want_b = {(r.da, r.db) for r in lsh_candidate_pairs(hi).collect()}
    assert got_a == want_a and got_b == want_b
    assert all(p[0] < 250 and p[1] < 250 for p in got_a)
    assert all(p[0] >= 250 and p[1] >= 250 for p in got_b)


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The persisted IVF index (partitioned by cid) serves probes through
    STATIC partition pruning — the scan's PartitionFilters restrict to
    the probed buckets, and recall matches the inline pipeline's gate."""
    from cubefs_hadoop_spark.extensions.similarity import (
        ivf_build_index,
        ivf_topk_indexed,
    )

    idx = str(tmp_path / "ivf_index")
    ivf_build_index(spark, SF_SMOKE, idx)
    res = ivf_topk_indexed(spark, SF_SMOKE, idx)

    # plan: the index scan carries a non-empty cid partition filter
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re

    pf = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "cid" in m
    ]
    assert pf, f"no cid partition filter in plan:\n{plan[:2000]}"

    # a NARROW probe physically reads fewer buckets than the index holds
    # (inputFiles() reflects the unfiltered relation, so pruning evidence
    # comes from the executed scan's numPartitions/numFiles metrics;
    # defaults can probe every bucket across 5 queries' unions)
    # AQE wraps stages (scans are no longer leaves of the adaptive plan);
    # static plan keeps FileSourceScan metrics reachable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        narrow = ivf_topk_indexed(spark, SF_SMOKE, idx, n_queries=2, nprobe=2)
        narrow.collect()
        leaves = narrow._jdf.queryExecution().executedPlan().collectLeaves()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # the ONLY partitioned scan in this plan is the cid-bucketed index
    # (embeddings/centroids are unpartitioned), so it alone carries a
    # numPartitions metric.  NB: match on the metric, not on the path in
    # toString() — Spark truncates long Location strings.
    scans = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        it = node.metrics().iterator()
        kv = {}
        while it.hasNext():
            e = it.next()
            try:
                kv[e._1()] = e._2().value()
            except Exception:
                pass
        if "numPartitions" in kv:
            scans.append(kv)
    assert len(scans) == 1, f"expected one partitioned scan: {scans}"
    assert 0 < scans[0]["numPartitions"] <= 4, scans  # <= 2q x 2probe of 8

    # same recall bar as the inline pipeline
    exact: dict[int, set] = {}
    for r in x03_topk_cosine(spark, SF_SMOKE).collect():
        exact.setdefault(r.q_id, set()).add(r.n_id)
    got: dict[int, set] = {}
    for r in res.collect():
        got.setdefault(r.q_id, set()).add(r.n_id)
    total = sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
        len(v) for v in exact.values()
    )
    assert total >= 0.8, f"indexed IVF recall: {total}"


def test_ivf_persisted_index_exact_at_full_probe(spark, tmp_path):
    """nprobe == C probes every bucket of the persisted index, so the
    indexed path must return x03's exact brute-force rows (x03d's check,
    applied to the partition-filtered probe)."""
    from cubefs_hadoop_spark.extensions.similarity import (
        ivf_build_index,
        ivf_topk_indexed,
    )

    idx = str(tmp_path / "ivf_index")
    ivf_build_index(spark, SF_SMOKE, idx)
    got = ivf_topk_indexed(spark, SF_SMOKE, idx, nprobe=8).collect()
    want = x03_topk_cosine(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_lsh_incremental_index_matches_full_run(spark, tmp_path):
    """Incremental dedup: probing the persisted band index with a new
    batch yields EXACTLY the candidate pairs the full-corpus run would
    add for those docs — at the cost of signing only the batch."""
    from cubefs_hadoop_spark.extensions.dedup import (
        lsh_build_index,
        lsh_candidate_pairs,
        lsh_incremental_candidates,
        lsh_index_append,
    )

    docs = load(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    idx = str(tmp_path / "lsh_index")
    lsh_build_index(corpus, idx)

    inc = {
        (r.da, r.db)
        for r in lsh_incremental_candidates(batch, idx).collect()
    }
    full = {(r.da, r.db) for r in lsh_candidate_pairs(docs).collect()}
    old_only = {(r.da, r.db) for r in lsh_candidate_pairs(corpus).collect()}
    want = {p for p in full if p[0] >= 400 or p[1] >= 400}
    assert inc == want
    assert old_only | inc == full  # incremental delta completes the set
    assert inc, "fixture should produce cross-batch candidates"
    assert any(p[0] < 400 for p in inc)  # genuine corpus-vs-batch pairs

    # fold the batch in: re-probing the same batch finds exactly its
    # pairs again through the index — no self-pairs (x, x), no reversed
    # (db, da) duplicates, no repeats (a list, not a set)
    lsh_index_append(batch, idx)
    again = [
        (r.da, r.db)
        for r in lsh_incremental_candidates(batch, idx).collect()
    ]
    assert sorted(again) == sorted(want)


def test_semantic_dedup_prunes_only_within_clusters(spark):
    """x12 SemDeDup semantics: every dropped vector has a LOWER-id
    vector in the SAME cluster with cosine >= tau, and every kept
    vector has none — i.e. the pair space really is cluster-bounded."""
    from cubefs_hadoop_spark.extensions.semantic import x12_semantic_dedup
    from cubefs_hadoop_spark.extensions.similarity import _cosine_expr

    out = x12_semantic_dedup(spark, SF_SMOKE)
    dropped = {r.vec_id for r in out.filter(~F.col("kept")).collect()}
    assert dropped, "fixture should produce semantic duplicates"
    kept = {r.vec_id for r in out.filter(F.col("kept")).collect()}
    assert dropped.isdisjoint(kept) and len(dropped | kept) == out.count()

    # ground truth: exact within-cluster lower-id witness
    cid = {r.vec_id: r.cid for r in out.collect()}
    emb = load(spark, SF_SMOKE, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("c", _cosine_expr("a.embedding", "b.embedding"))
        .filter(F.col("c") >= 0.4)
        .select(F.col("a.vec_id").alias("da"), F.col("b.vec_id").alias("db"))
        .collect()
    )
    witnessed = {r.db for r in pairs if cid[r.da] == cid[r.db]}
    assert witnessed == dropped


def test_srp_lsh_recall_and_precision(spark):
    """x13 SRP-LSH vs the exact all-pairs ground truth at tau=0.4: the
    verify stage makes precision exact (every emitted pair truly has
    cos >= tau); recall is probabilistic in the banding, floored here at
    the fixture's near-uniform operating point (cos ~0.4 is SRP's WORST
    case — at a production near-dup threshold of cos >= 0.9 the same
    8x4 table catches ~99.8% of pairs)."""
    from cubefs_hadoop_spark.extensions.semantic import x13_srp_lsh
    from cubefs_hadoop_spark.extensions.similarity import _cosine_expr

    got = {(r.da, r.db) for r in x13_srp_lsh(spark, SF_SMOKE).collect()}
    emb = load(spark, SF_SMOKE, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    truth = {
        (r.da, r.db)
        for r in (
            a.crossJoin(b)
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .withColumn("c", _cosine_expr("a.embedding", "b.embedding"))
            .filter(F.col("c") >= 0.4)
            .select(
                F.col("a.vec_id").alias("da"), F.col("b.vec_id").alias("db")
            )
            .collect()
        )
    }
    assert got <= truth  # exact-verify stage: no false positives
    assert truth, "fixture should contain true near-dup pairs"
    assert len(got) / len(truth) >= 0.7, (len(got), len(truth))


def test_srp_incremental_index_loop(spark, tmp_path):
    """x13b steady-state vector ingest: probing the persisted index must
    yield exactly the batch-involving delta of the full run; folding the
    batch in makes it discoverable by later batches."""
    from cubefs_hadoop_spark.extensions.semantic import (
        srp_build_index,
        srp_incremental_candidates,
        srp_index_append,
        srp_neardup_pairs,
        x13_srp_lsh,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    hp = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "srp_index")
    srp_build_index(corpus, hp, idx)

    inc = {
        (r.da, r.db)
        for r in srp_incremental_candidates(batch, hp, idx).collect()
    }
    # delta == full-run candidates restricted to batch-involving pairs
    full_pairs = {
        (r.da, r.db) for r in x13_srp_lsh(spark, SF_SMOKE).collect()
    }
    inc_verified = {
        (r.da, r.db)
        for r in srp_neardup_pairs(emb, hp).collect()
        if r.db >= 400
    }
    assert {p for p in full_pairs if p[1] >= 400} == inc_verified
    assert inc, "fixture should produce cross-batch candidates"
    assert any(p[0] < 400 for p in inc)  # genuine corpus-vs-batch pairs

    # fold the batch in: re-probing the same batch finds exactly its
    # pairs again through the index alone — no self-pairs, no reversed
    # duplicates, no repeats (a list, not a set)
    srp_index_append(batch, hp, idx)
    again = [
        (r.da, r.db)
        for r in srp_incremental_candidates(batch, hp, idx).collect()
    ]
    assert sorted(again) == sorted(inc)


def test_sequence_pack_conservation_and_bucket_invariance(spark):
    """x14: every chunk except the last holds exactly S tokens, the map
    conserves every document's tokens, and the layout is INVARIANT to the
    prefix bucket size — the two-level distributed scan is a pure plan
    choice, not a semantics choice."""
    from cubefs_hadoop_spark.extensions.packing import sequence_pack

    docs = load(spark, SF_SMOKE, "documents")
    out = sequence_pack(docs, seq_len=64, bucket_docs=128)
    rows = out.collect()
    per_chunk = {}
    for r in rows:
        per_chunk[r.chunk_id] = per_chunk.get(r.chunk_id, 0) + r.tok_in_chunk
    last = max(per_chunk)
    assert all(v == 64 for c, v in per_chunk.items() if c != last)
    assert 0 < per_chunk[last] <= 64
    # conservation: per-doc spans sum to the doc's token count
    toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    per_doc = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tok_in_chunk
    assert per_doc == toks
    # bucket-size invariance (7 is coprime to everything in sight)
    alt = sequence_pack(docs, seq_len=64, bucket_docs=7).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, alt))


def test_source_mixture_weights_and_determinism(spark):
    """x15: realized per-source multiplicity matches the declared weights
    (src0 ~0.5x, src1 ~2.5x, others exactly 1x) and the mixture is
    re-run-identical (content-hash, not RNG)."""
    from cubefs_hadoop_spark.extensions.text import x15_source_mixture

    out = x15_source_mixture(spark, SF_SMOKE)
    rows = out.collect()
    per_src: dict = {}
    for r in rows:
        per_src[r.source] = per_src.get(r.source, 0) + 1
    n_in = {
        r.source: r.n
        for r in load(spark, SF_SMOKE, "documents")
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # unweighted sources: exactly one copy each
    for s, n in n_in.items():
        if s not in ("src0", "src1"):
            assert per_src[s] == n, s
    # src0 downsampled to ~half (hash grain 1/16 -> loose band)
    assert 0.2 * n_in["src0"] <= per_src["src0"] <= 0.8 * n_in["src0"]
    # src1 upsampled to ~2.5x: every doc twice, some thrice
    assert 2 * n_in["src1"] < per_src["src1"] < 3 * n_in["src1"]
    # determinism
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, x15_source_mixture(spark, SF_SMOKE).collect())
    )


def test_pinned_ivf_recall(spark):
    """The oracle-hashable IVF variant (x03c, ivf_topk_pinned) must stay
    a GENUINE approximate tier: same recall floors as ivf_topk despite
    the determinism substitutions (md5 seeds, integer-micro Lloyd)."""
    from cubefs_hadoop_spark.extensions.similarity import ivf_topk_pinned

    exact: dict[int, set] = {}
    for r in x03_topk_cosine(spark, SF_SMOKE).collect():
        exact.setdefault(r.q_id, set()).add(r.n_id)
    got: dict[int, set] = {}
    for r in ivf_topk_pinned(spark, SF_SMOKE).collect():
        got.setdefault(r.q_id, set()).add(r.n_id)
    per_q = {
        q: len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    }
    total = sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
        len(v) for v in exact.values()
    )
    assert total >= 0.8, f"pinned IVF aggregate recall: {total} {per_q}"
    assert min(per_q.values()) >= 0.6, f"per-query floor: {per_q}"


def test_label_centroids_exact_integer_means(spark):
    """x31 witness: centroid millis are exact floor-divided integer sums
    on a hand dataset (values chosen so the float->milli floor is
    unambiguous)."""
    from cubefs_hadoop_spark.extensions.semantic import label_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 5.0], 0),
            (3, [10.0, -4.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r.label, r.dim): (r.sum_milli, r.cnt, r.centroid_milli)
        for r in label_centroids(emb).collect()
    }
    assert got == {
        (0, 0): (4000, 2, 2000),
        (0, 1): (7000, 2, 3500),
        (1, 0): (10000, 1, 10000),
        (1, 1): (-4000, 1, -4000),
    }


def test_prototype_selection_nearest_to_own_centroid(spark):
    """x32 witness: per-label winners are exactly the squared-L2-nearest
    to that label's centroid with id tiebreak, ranks are 1..k, and k
    caps the per-label output; brute-force recomputed ground truth."""
    from cubefs_hadoop_spark.extensions.semantic import (
        label_centroids,
        prototype_selection,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    out = prototype_selection(emb, k=3).collect()
    by_label: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.label, r.rank)):
        by_label.setdefault(r.label, []).append(r)
    assert by_label, "fixture has labels"
    # ground truth: milli vectors + milli centroids recomputed in python
    cent: dict[tuple, int] = {
        (r.label, r.dim): r.centroid_milli
        for r in label_centroids(emb).collect()
    }
    import math

    vecs = {
        (r.vec_id, r.label): [
            int(math.floor(float(v) * 1000)) for v in r.embedding
        ]
        for r in emb.collect()
    }
    truth: dict[int, list] = {}
    for (vid, lab), em in vecs.items():
        d2 = sum((e - cent[(lab, i)]) ** 2 for i, e in enumerate(em))
        truth.setdefault(lab, []).append((d2, vid))
    for lab, rows in by_label.items():
        want = sorted(truth[lab])[:3]
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert [(r.d2_milli, r.vec_id) for r in rows] == want
    with pytest.raises(ValueError, match="k >= 1"):
        prototype_selection(emb, k=0)


def test_centroid_state_folds_are_exactly_additive(spark):
    """x31b witness: building state from a third of the corpus and
    folding the rest in TWO sequential batches reproduces the full
    recompute bit-for-bit — the (sum, cnt) state is associative, so any
    ingest batching gives identical centroids."""
    import tempfile

    from cubefs_hadoop_spark.extensions.semantic import (
        centroid_state_build,
        centroid_state_fold,
        label_centroids,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    idx = tempfile.mkdtemp(prefix="cent_state_") + "/state"
    centroid_state_build(emb.filter(F.col("vec_id") < 150), idx)
    mid = centroid_state_fold(
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)), idx
    )
    mid.select("label", "dim", "sum_milli", "cnt").write.mode(
        "overwrite"
    ).parquet(idx + "2")
    final = centroid_state_fold(emb.filter(F.col("vec_id") >= 300), idx + "2")
    got = {
        (r.label, r.dim): (r.sum_milli, r.cnt, r.centroid_milli)
        for r in final.collect()
    }
    want = {
        (r.label, r.dim): (r.sum_milli, r.cnt, r.centroid_milli)
        for r in label_centroids(emb).collect()
    }
    assert got == want


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 2),  # label
            st.lists(
                st.floats(-2.0, 2.0, width=32, allow_nan=False), min_size=3, max_size=3
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    cut=st.integers(0, 12),
)
def test_centroid_milli_exactness_property(spark, data, cut):
    """x31/x31b property: for ANY float vectors, (a) Spark's integer-milli
    centroid equals a python ground truth computed with the same
    float->double->floor contract, and (b) splitting the corpus at any
    point and folding the tail equals the one-shot result — additivity
    holds for every input, not just the fixture."""
    import math
    import tempfile

    from cubefs_hadoop_spark.extensions.semantic import (
        centroid_state_build,
        centroid_state_fold,
        label_centroids,
    )

    rows = [(i, vec, lab) for i, (lab, vec) in enumerate(data)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r.label, r.dim): (r.sum_milli, r.cnt, r.centroid_milli)
        for r in label_centroids(emb).collect()
    }
    # ground truth under the declared contract: float32 -> exact double,
    # *1000 in double, floor
    import numpy as np

    want: dict[tuple, list] = {}
    for _i, vec, lab in rows:
        for d, v in enumerate(vec):
            m = int(math.floor(float(np.float32(v)) * 1000.0))
            want.setdefault((lab, d), []).append(m)
    assert got == {
        k: (sum(v), len(v), int(math.floor(sum(v) / len(v))))
        for k, v in want.items()
    }
    # additivity at an arbitrary split point
    cut = min(cut, len(rows) - 1)
    if cut >= 1:
        idx = tempfile.mkdtemp(prefix="cent_prop_") + "/state"
        centroid_state_build(emb.filter(F.col("vec_id") < cut), idx)
        folded = {
            (r.label, r.dim): (r.sum_milli, r.cnt, r.centroid_milli)
            for r in centroid_state_fold(
                emb.filter(F.col("vec_id") >= cut), idx
            ).collect()
        }
        assert folded == got


def test_prototype_selection_refuses_ragged_embeddings(spark):
    """x32: a vector whose length differs from its label's centroid
    dimensionality must fail LOUDLY (it would otherwise zip into NULL
    distance and outrank every real prototype)."""
    from pyspark.sql.utils import PythonException

    from cubefs_hadoop_spark.extensions.semantic import prototype_selection

    emb = spark.createDataFrame(
        [(1, [1.0, 1.0], 0), (2, [1.0, 1.1], 0), (3, [9.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(Exception, match="length mismatch"):
        prototype_selection(emb, k=2).collect()


def test_sessionize_refuses_ntz_under_non_utc_session(spark):
    """x34: NTZ wall-time epoch arithmetic is only gap-safe under UTC —
    a DST-shifting session timezone must be refused, not mis-sessionized."""
    from cubefs_hadoop_spark.extensions.behavior import sessionize

    ev = spark.createDataFrame(
        [(1, 1, "2024-03-10 01:55:00"), (2, 1, "2024-03-10 02:10:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with pytest.raises(ValueError, match="gap-safe under UTC"):
            sessionize(ev)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    # and an ltz column works under any session tz (instant-based)
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        out = sessionize(ev.withColumn("ts", F.col("ts").cast("timestamp"))).collect()
        assert len(out) == 1 and out[0].events == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_binary_metadata_on_real_png_wav_blobs(spark):
    """x35 witness on REAL binary payloads (not re-encoded text): the
    magic prefix identifies PNG and WAV blobs produced by the stdlib
    codecs, nbytes is the payload length, and equal payloads share a
    digest (the content-addressable dedup key)."""
    from cubefs_hadoop_spark.extensions.codecs import png_encode, wav_encode
    from cubefs_hadoop_spark.extensions.multimodal import binary_metadata

    png = png_encode(2, 2, bytes(range(12)))
    wav = wav_encode([0.0, 0.5, -0.5, 0.25] * 10, rate=8000)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(png))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in binary_metadata(df, F.col("payload")).collect()}
    assert out[1].magic_hex == "89504e47"  # \x89PNG
    assert out[2].magic_hex == "52494646"  # RIFF
    assert out[1].nbytes == len(png) and out[2].nbytes == len(wav)
    assert out[1].digest == out[3].digest != out[2].digest


def test_ncm_classify_crafted_and_heldout_state(spark):
    """x36 witness: on a crafted corpus the argmin label is provably
    right (hand-checkable distances, lowest-label ties); classifying
    with a FOLDED centroid state (x31b) equals classifying with the
    one-shot centroids — the inference half composes with the ingest
    half."""
    import tempfile

    from cubefs_hadoop_spark.extensions.semantic import (
        centroid_state_build,
        centroid_state_fold,
        ncm_classify,
    )

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0], 0),
            (2, [0.2, 0.0], 0),
            (3, [10.0, 10.0], 1),
            (4, [10.2, 10.0], 1),
            (5, [0.3, 0.1], 1),  # mislabeled: sits in label-0 territory
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.vec_id: r for r in ncm_classify(emb).collect()}
    assert [out[i].pred_label for i in (1, 2, 3, 4)] == [0, 0, 1, 1]
    assert out[5].pred_label == 0 and not out[5].correct
    assert all(out[i].correct for i in (1, 2, 3, 4))

    fx = spark.createDataFrame(
        [(i, [float(i % 3), 1.0], i % 3) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    idx = tempfile.mkdtemp(prefix="ncm_state_") + "/state"
    centroid_state_build(fx.filter(F.col("vec_id") < 15), idx)
    refreshed = centroid_state_fold(fx.filter(F.col("vec_id") >= 15), idx)
    cents = (
        refreshed.groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim,"
                " centroid_milli))), s -> s.centroid_milli)"
            ).alias("cent_m")
        )
    )
    via_state = {
        r.vec_id: r.pred_label
        for r in ncm_classify(fx, centroids=cents).collect()
    }
    one_shot = {
        r.vec_id: r.pred_label for r in ncm_classify(fx).collect()
    }
    assert via_state == one_shot


def test_auto_centroid_count_rule(spark):
    """auto-C is max(floor, ceil(sqrt(N))) from a cheap count; "auto"
    resolves through it, explicit ints pass through, and C < 1 is
    refused."""
    from cubefs_hadoop_spark.extensions.similarity import (
        auto_centroid_count,
        resolve_centroid_count,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    c = auto_centroid_count(emb)
    assert c == max(8, min(math.isqrt(n - 1) + 1, n // 64))
    assert resolve_centroid_count(emb, "auto") == c
    assert resolve_centroid_count(emb, 13) == 13
    with pytest.raises(ValueError):
        resolve_centroid_count(emb, 0)


def test_ivf_recall_holds_with_auto_c(spark):
    """The recall gate (aggregate >= 0.8, per-query floor 0.6) holds
    when C comes from the sqrt(N) rule instead of the pinned 8 — at
    this N the min-bucket clamp keeps C at the pinned 8 by design
    (near-uniform tiny corpora are IVF's worst case); the sqrt(N) term
    is exercised at the sf1 probe where measured recall is 1.0
    (SCALING.md sf1 section)."""
    exact: dict[int, set] = {}
    for r in x03_topk_cosine(spark, SF_SMOKE).collect():
        exact.setdefault(r.q_id, set()).add(r.n_id)
    got: dict[int, set] = {}
    for r in ivf_topk(spark, SF_SMOKE, n_centroids="auto").collect():
        got.setdefault(r.q_id, set()).add(r.n_id)
    per_q = {
        q: len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    }
    total = sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
        len(v) for v in exact.values()
    )
    assert total >= 0.8, f"auto-C recall collapsed: {total} {per_q}"
    assert min(per_q.values()) >= 0.6, f"auto-C per-query floor: {per_q}"


def test_seeded_centroids_auto_sizing(spark):
    """seeded_centroids with no explicit C returns ceil(sqrt(N)) rows —
    the SemDeDup-side consumer of the same rule."""
    from cubefs_hadoop_spark.extensions.similarity import seeded_centroids

    emb = load(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    cents = seeded_centroids(emb)
    assert cents.count() == max(8, min(math.isqrt(n - 1) + 1, n // 64))


def test_auto_srp_bits_rule_and_small_n_equivalence(spark):
    """auto bits-per-band sizes 2^bits to N/64 (floor 4); at the fixture
    N the rule lands on the pinned 4 bits, so the auto pipeline must
    reproduce the pinned x13 pair set exactly."""
    from cubefs_hadoop_spark.extensions.semantic import (
        auto_srp_bits,
        srp_neardup_pairs_auto,
        x13_srp_lsh,
    )

    assert auto_srp_bits(500) == 4
    assert auto_srp_bits(2000) == 5
    assert auto_srp_bits(20000) == 9
    assert auto_srp_bits(10) == 4  # floor

    emb = load(spark, SF_SMOKE, "embeddings")
    auto = {(r.da, r.db) for r in srp_neardup_pairs_auto(emb).collect()}
    pinned = {
        (r.da, r.db) for r in x13_srp_lsh(spark, SF_SMOKE).collect()
    }
    assert auto == pinned


def test_dup_spans_witness(spark):
    """x38 on a hand-built corpus: a 20-word passage shared between two
    documents becomes ONE maximal span covering exactly those 20 words
    (5 overlapping 16-word windows merged); an exact-copy pair is fully
    duplicated (frac 1000); a short unique doc reports zeros; two
    disjoint shared passages separated by unique text stay two spans."""
    from cubefs_hadoop_spark.extensions.dedup import duplicate_spans

    P = [f"p{i}" for i in range(20)]          # shared 20-word passage
    Q1 = [f"q{i}" for i in range(16)]         # shared 16-word passage 1
    Q2 = [f"r{i}" for i in range(16)]         # shared 16-word passage 2
    u = iter(f"u{i}" for i in range(200))     # globally unique filler

    def take(n):
        return [next(u) for _ in range(n)]

    d0 = take(5) + P + take(5)                # 30 words
    rows = [
        (0, " ".join(d0)),
        (1, " ".join(take(3) + P + take(2))),  # 25 words, P at idx 3..22
        (2, " ".join(take(10))),               # short + unique -> zeros
        (3, " ".join(d0)),                     # exact copy of doc 0
        (4, " ".join(Q1 + take(10) + Q2)),     # 42 words, two spans
        (5, " ".join(take(4) + Q1 + take(4) + Q2 + take(4))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["total_words"], r["n_dup_spans"], r["dup_words"],
                      r["dup_frac_milli"])
        for r in duplicate_spans(docs).collect()
    }
    assert got[0] == (30, 1, 30, 1000)        # copy pair: fully duplicated
    assert got[3] == (30, 1, 30, 1000)
    assert got[1] == (25, 1, 20, 800)         # exactly the shared passage
    assert got[2] == (10, 0, 0, 0)            # shorter than W: zeros, kept
    assert got[4] == (42, 2, 32, 761)         # two disjoint maximal spans
    assert got[5] == (44, 2, 32, 727)


# ---------------------------------------------------------------------------
# x41 product quantization


def test_pq_rerank_recall_vs_exact_l2(spark):
    """PQ shortlist + exact re-rank recall vs the brute-force L2 top-5
    (PQ ranks by L2, so the baseline is L2 — not x03's cosine):
    aggregate >= 0.8 and no query below 0.6 on the near-uniform fixture
    (the quantizer's documented worst case).  Deterministic training
    makes the floors stable across runs."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.similarity import _L2SQ, pq_topk

    emb = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    w = Window.partitionBy("q_id").orderBy("d2", "n_id")
    exact_rows = (
        F.broadcast(q)
        .crossJoin(
            emb.select(F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb"))
        )
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("d2", F.expr(_L2SQ.format(a="q_emb", b="n_emb")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "n_id")
        .collect()
    )
    exact: dict[int, set] = {}
    for r in exact_rows:
        exact.setdefault(r.q_id, set()).add(r.n_id)
    got: dict[int, set] = {}
    for r in pq_topk(spark, SF_SMOKE, rerank=True).collect():
        got.setdefault(r.q_id, set()).add(r.n_id)
    per_q = {
        k: len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact
    }
    total = sum(len(exact[k] & got.get(k, set())) for k in exact) / sum(
        len(v) for v in exact.values()
    )
    assert total >= 0.8, f"PQ rerank recall collapsed: {total} {per_q}"
    assert min(per_q.values()) >= 0.6, f"per-query floor: {per_q}"


def test_pq_codes_are_a_complete_index(spark):
    """Every vector carries exactly M codes (one per subspace), every
    code points into the trained codebook — the codes frame is a valid
    32x-compressed stand-in for the corpus."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.similarity import (
        _PQ_M,
        auto_pq_codes,
        pq_train_encode,
    )

    emb = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    n = emb.count()
    k = auto_pq_codes(n)
    cents, codes = pq_train_encode(spark, emb, k)
    assert cents.count() == _PQ_M * k
    assert codes.count() == n * _PQ_M
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [_PQ_M]
    rng = codes.agg(F.min("cid"), F.max("cid")).collect()[0]
    assert rng[0] >= 1 and rng[1] <= k


def test_pq_auto_sizing_rules():
    """Pure-integer sizing rules: K = 2^ceil(log2(ceil(N/8))) in
    [16, 256] (the 256 one-byte-code cap binds at any real N);
    R = ceil(N/10) in [25, 200]."""
    from cubefs_hadoop_spark.extensions.similarity import (
        auto_pq_codes,
        auto_pq_shortlist,
    )

    assert auto_pq_codes(500) == 64
    assert auto_pq_codes(2000) == 256
    assert auto_pq_codes(10**9) == 256
    assert auto_pq_codes(10) == 16
    assert auto_pq_shortlist(500) == 50
    assert auto_pq_shortlist(2000) == 200
    assert auto_pq_shortlist(10) == 25
    assert auto_pq_shortlist(10**9) == 200


def test_pq_determinism_across_partitioning(spark):
    """Micro-integer Lloyd sums and total-order tiebreaks make training
    and encoding a pure function of the corpus — REPARTITIONING the
    input cannot move a centroid or flip a code."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.similarity import pq_train_encode
    from cubefs_hadoop_spark.queries import QUERIES

    emb = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    c1, k1 = pq_train_encode(spark, emb, 16)
    c2, k2 = pq_train_encode(spark, emb.repartition(13), 16)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))
    assert sorted(map(tuple, k1.collect())) == sorted(map(tuple, k2.collect()))
    r = sorted(map(tuple, QUERIES["x41b_pq_rerank"](spark, SF_SMOKE).collect()))
    assert len(r) == 25


def test_dup_span_removal_witness(spark):
    """x38b removal semantics on the crafted corpus: the canonical
    (corpus-min) occurrence of each duplicated passage survives, every
    other occurrence is cut, short/unique docs pass through verbatim,
    and kept + removed == total on every row."""
    from cubefs_hadoop_spark.extensions.dedup import remove_duplicate_spans

    P = [f"p{i}" for i in range(20)]
    u = iter(f"u{i}" for i in range(200))

    def take(n):
        return [next(u) for _ in range(n)]

    d0 = take(5) + P + take(5)
    rows = [
        (0, " ".join(d0)),                     # doc 0 holds the canon of P
        (1, " ".join(take(3) + P + take(2))),  # non-canonical P: cut
        (2, " ".join(take(10))),               # short + unique: verbatim
        (3, " ".join(d0)),                     # full copy of doc 0: all cut
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.total_words, r.kept_words, r.removed_words,
                   r.cleaned_text)
        for r in remove_duplicate_spans(docs).collect()
    }
    assert all(t == k + rm for t, k, rm, _ in got.values())
    # doc 0: canonical everywhere -> untouched
    assert got[0] == (30, 30, 0, rows[0][1])
    # doc 3 is the full later copy -> fully removed
    assert got[3] == (30, 0, 30, "")
    # doc 1: exactly the 20-word shared passage is cut, filler survives
    t1, k1, r1, c1 = got[1]
    assert (t1, k1, r1) == (25, 5, 20)
    assert all(w not in c1.split(" ") for w in P)
    assert len(c1.split(" ")) == 5
    # doc 2 verbatim
    assert got[2] == (10, 10, 0, rows[2][1])
    # the canonical copy keeps P in the cleaned corpus
    assert " ".join(P) in got[0][3]


def test_dup_span_removal_matches_detection_accounting(spark):
    """On the real corpus: x38b's removed_words <= x38's dup_words per
    doc (removal spares canonical copies that detection still flags),
    totals conserve, and at least one duplicated doc is actually cut."""
    from cubefs_hadoop_spark.extensions.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = load(spark, SF_SMOKE, "documents")
    det = {r.doc_id: r.dup_words for r in duplicate_spans(docs).collect()}
    rem = {
        r.doc_id: (r.total_words, r.kept_words, r.removed_words)
        for r in remove_duplicate_spans(docs).collect()
    }
    assert set(det) == set(rem)
    assert all(rem[d][2] <= det[d] for d in det)
    assert all(t == k + rm for t, k, rm in rem.values())
    assert any(rm > 0 for _, _, rm in rem.values())


# ---------------------------------------------------------------------------
# x43 JL random projection


def test_jl_matrix_is_frozen_and_balanced():
    """The Rademacher matrix is a pure function of indices (no RNG):
    shape k x d, entries +-1, roughly balanced per row."""
    from cubefs_hadoop_spark.extensions.semantic import _X43_D, _X43_K, _jl_signs

    m = _jl_signs()
    assert len(m) == _X43_K and all(len(r) == _X43_D for r in m)
    assert all(s in (1.0, -1.0) for r in m for s in r)
    for r in m:
        assert 16 <= sum(1 for s in r if s > 0) <= 48  # not degenerate
    assert _jl_signs() == m  # deterministic


def test_jl_projection_preserves_pairwise_distances(spark):
    """The JL contract on the fixture: d_proj^2 / k is an unbiased
    estimator of d_orig^2 — median ratio near 1, and the k=16 distortion
    tail stays inside the Achlioptas bound's practical band."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import _X43_K, jl_project

    emb = load(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 50)
    orig = {
        r.vec_id: r.embedding for r in emb.select("vec_id", "embedding").collect()
    }
    proj = {r.vec_id: r.proj for r in jl_project(emb).collect()}
    assert set(proj) == set(orig)
    ratios = []
    ids = sorted(orig)
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            d_o = sum((float(x) - float(y)) ** 2 for x, y in zip(orig[a], orig[b]))
            d_p = sum(((x - y) / 1e6) ** 2 for x, y in zip(proj[a], proj[b]))
            ratios.append((d_p / _X43_K) / d_o)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    assert 0.7 <= med <= 1.3, med
    inside = sum(1 for r in ratios if 0.4 <= r <= 1.9) / len(ratios)
    assert inside >= 0.9, (med, inside)


def test_jl_projection_is_map_only_and_stable(spark):
    """Zero shuffles, zero joins, zero Python — the projection rides the
    scan; repartitioning cannot change a single micro-int."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import jl_project
    from cubefs_hadoop_spark.plans.audit import audit_plan

    spark.catalog.clearCache()
    emb = load(spark, SF_SMOKE, "embeddings")
    a = audit_plan(jl_project(emb))
    assert a.shuffles == 0
    assert a.broadcast_joins + a.sort_merge_joins + a.nested_loop_joins == 0
    assert not a.has_python_eval
    x = sorted(map(tuple, jl_project(emb).collect()))
    y = sorted(map(tuple, jl_project(emb.repartition(7)).collect()))
    assert [(i, tuple(p)) for i, p in x] == [(i, tuple(p)) for i, p in y]


# -- x59: width-compression recall audit ------------------------------------


def test_dim_truncation_recall_bounds_and_self_consistency(spark):
    """x59 invariants: recalls are multiples of 1/k in [0,1]; a 'prefix'
    of the FULL width recovers the exact top-k perfectly (recall 1.0 for
    every query); output is repartition-stable."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import (
        _X59_K,
        dim_truncation_recall,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    rows = dim_truncation_recall(emb).collect()
    assert rows
    valid = {round(i / _X59_K, 2) for i in range(_X59_K + 1)}
    for r in rows:
        assert float(r.recall_prefix) in valid, r
        assert float(r.recall_jl) in valid, r
    full = dim_truncation_recall(emb, pre=64).collect()
    assert all(float(r.recall_prefix) == 1.0 for r in full)
    a = sorted(map(tuple, rows))
    b = sorted(
        map(tuple, dim_truncation_recall(emb.repartition(7)).collect())
    )
    assert a == b


def test_dim_truncation_recall_plan_is_one_broadcast_pass(spark):
    """x59 plan gate: the corpus is scanned in ONE broadcast nested-loop
    pass (queries broadcast, no sort-merge join, no Python), and the
    three rank windows share the q_id exchange."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.semantic import (
        dim_truncation_recall,
    )
    from cubefs_hadoop_spark.plans.audit import audit_plan

    spark.catalog.clearCache()
    a = audit_plan(
        dim_truncation_recall(load(spark, SF_SMOKE, "embeddings")),
        executed=True,
    )
    assert a.sort_merge_joins == 0
    assert a.broadcast_joins + a.nested_loop_joins == 1
    assert not a.has_python_eval


# -- x60: IVF list-balance audit ---------------------------------------------


def test_ivf_list_balance_accounting(spark):
    """x60 invariants: one row per centroid (empty lists included),
    populations sum to replication*N, milli shares/loads obey their
    floor-division accounting, and the load column is exactly the share
    scaled by C."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.similarity import _X60_C
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x60_ivf_list_balance"](spark, SF_SMOKE).collect()
    assert [r.cid for r in rows] == list(range(1, _X60_C + 1))
    n = load(spark, SF_SMOKE, "embeddings").count()
    tot = sum(r.pop for r in rows)
    assert tot == 2 * n  # replication=2 multi-assignment
    for r in rows:
        assert r.share_milli == r.pop * 1000 // tot
        assert r.load_vs_mean_milli == r.pop * _X60_C * 1000 // tot
    # shares sum to <= 1000 (floor) and within C of it
    s = sum(r.share_milli for r in rows)
    assert 1000 - _X60_C <= s <= 1000


# -- x46 / x46b: kNN graph + graph-density downsample -----------------------


def test_knn_graph_structure_and_recall(spark):
    """x46 invariants: ranks are 1..k dense per source with cosines
    non-increasing, every edge's exact cosine >= tau (verify-stage
    precision), the graph is a subgraph of the exact kNN graph's edge
    universe, and — at the fixture's worst-case operating point — the
    bucketed graph recovers >= 70% of the exact top-5 edges."""
    from cubefs_hadoop_spark.extensions.semantic import _X46_K
    from cubefs_hadoop_spark.extensions.similarity import _cosine_expr
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x46_knn_graph"](spark, SF_SMOKE).collect()
    assert rows
    by_src: dict[int, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    for src, es in by_src.items():
        assert [e.rank for e in es] == list(range(1, len(es) + 1))
        assert len(es) <= _X46_K
        assert all(a.cos >= b.cos for a, b in zip(es, es[1:]))
        assert all(e.nbr != src for e in es)

    # exact graph ground truth: top-5 by cosine among ALL pairs >= tau
    emb = load(spark, SF_SMOKE, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("nbr"))
    truth = {
        (r.src, r.nbr)
        for r in (
            a.crossJoin(b)
            .filter(F.col("a.vec_id") != F.col("b.vec_id"))
            .withColumn("c", _cosine_expr("a.embedding", "b.embedding"))
            .filter(F.col("c") >= 0.4)
            .select(
                F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("nbr"),
                "c",
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _X46_K)
            .collect()
        )
    }
    got = {(r.src, r.nbr) for r in rows}
    assert truth
    assert len(got & truth) / len(truth) >= 0.7, (len(got), len(truth))


def test_density_downsample_degree_accounting(spark):
    """x46b invariants: every vector appears exactly once with its kept
    flag == (degree <= D_MAX); degrees agree with the symmetrized x13
    pair multiset; both kept and dropped classes are non-empty on the
    fixture (the threshold actually separates)."""
    from cubefs_hadoop_spark.extensions.semantic import (
        _X46B_DMAX,
        x13_srp_lsh,
    )
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x46b_density_downsample"](spark, SF_SMOKE).collect()
    n_vec = load(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n_vec
    deg: dict[int, int] = {}
    for r in x13_srp_lsh(spark, SF_SMOKE).collect():
        deg[r.da] = deg.get(r.da, 0) + 1
        deg[r.db] = deg.get(r.db, 0) + 1
    for r in rows:
        assert r.degree == deg.get(r.vec_id, 0)
        assert r.kept == (r.degree <= _X46B_DMAX)
    kept = sum(1 for r in rows if r.kept)
    assert 0 < kept < n_vec


def test_x46_plan_shape(spark):
    """x46: candidates from the bucketed equi-join (no corpus x corpus
    nested loop — the only NLJ is the broadcast 1-row hyperplane
    frame), top-k is a WindowGroupLimit, no Python."""
    from cubefs_hadoop_spark.plans.audit import audit_plan
    from cubefs_hadoop_spark.queries import QUERIES

    spark.catalog.clearCache()
    a = audit_plan(QUERIES["x46_knn_graph"](spark, SF_SMOKE))
    assert not a.has_python_eval
    assert a.has_window_group_limit
    assert a.nested_loop_joins <= 1  # the broadcast hyperplane attach
    spark.catalog.clearCache()
    b = audit_plan(QUERIES["x46b_density_downsample"](spark, SF_SMOKE))
    assert not b.has_python_eval
    assert b.nested_loop_joins <= 1


# -- x50: semantic decontamination ------------------------------------------


def test_x50_crafted_paraphrase_witness(spark, tmp_path):
    """A train vector that is a near-copy of a held-out vector is
    flagged even though it shares NO exact representation; an unrelated
    train vector is not.  Every train vector appears exactly once, the
    held-out rows never appear, and the flag equals (max cos >= tau)
    against a hand-computed cosine."""
    import math

    from cubefs_hadoop_spark.queries import QUERIES

    test_vec = [1.0, 0.0, 0.0, 0.0]          # vec_id 0 -> held out (0 % 10)
    near = [0.99, 0.12, 0.0, 0.0]            # vec_id 1 -> train, ~aligned
    far = [0.0, 0.0, 1.0, 0.0]               # vec_id 2 -> train, orthogonal
    rows = [(0, test_vec, 0), (1, near, 0), (2, far, 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = str(tmp_path / "decontam_fixture")
    emb.write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    out = {r.vec_id: r for r in QUERIES["x50_semantic_decontam"](spark, tmp).collect()}
    assert set(out) == {1, 2}  # held-out id 0 is never scored
    cos_near = 0.99 / math.sqrt(0.99**2 + 0.12**2)
    assert abs(float(out[1].max_test_cos) - round(cos_near, 2)) < 1e-9
    assert out[1].contaminated
    assert float(out[2].max_test_cos) == 0.0 and not out[2].contaminated


def test_x50_fixture_accounting_and_flag_law(spark):
    """Fixture sanity: exactly the vec_id % 10 != 0 vectors are scored,
    contaminated == (max_test_cos >= tau) after the same rounding, and
    the contaminated class is nonempty at the family operating point
    while never swallowing the whole corpus."""
    from cubefs_hadoop_spark.extensions.semantic import _X50_TAU
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x50_semantic_decontam"](spark, SF_SMOKE).collect()
    ids = [
        r.vec_id
        for r in load(spark, SF_SMOKE, "embeddings").select("vec_id").collect()
    ]
    assert sorted(r.vec_id for r in rows) == sorted(
        i for i in ids if i % 10 != 0
    )
    n_cont = sum(1 for r in rows if r.contaminated)
    assert 0 < n_cont < len(rows)
    for r in rows:
        # r2d rounding can push a borderline max across the display
        # threshold; the FLAG is computed on the unrounded max, so only
        # check one-sided consistency at a safe margin
        if float(r.max_test_cos) >= _X50_TAU + 0.01:
            assert r.contaminated
        if float(r.max_test_cos) <= _X50_TAU - 0.01:
            assert not r.contaminated


def test_x50_refuses_empty_heldout(spark, tmp_path):
    """An empty held-out partition (no vec_id % 10 == 0) would make the
    broadcast join yield an empty decision table — every train vector
    silently disappears instead of being marked uncontaminated.  The
    family contract (x45/x47/x48) is to refuse loudly (ADVICE r7)."""
    import pytest

    from cubefs_hadoop_spark.queries import QUERIES

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    tmp = str(tmp_path / "no_heldout_fixture")
    emb.write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    with pytest.raises(ValueError, match="held-out set is empty"):
        QUERIES["x50_semantic_decontam"](spark, tmp)


def test_x51_dedup_yield_accounting(spark):
    """x51 invariants vs x28's labels: n_docs partitions the corpus
    exactly (Σ n_docs == corpus), n_removable = n_docs - n_clusters
    row-by-row, Σ n_removable == docs x28 would delete (non-canonical
    count), and size-1 clusters contribute zero yield."""
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x51_dedup_yield"](spark, SF_SMOKE).collect()
    assert rows
    n_docs_total = load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    for r in rows:
        assert r.n_removable == r.n_docs - r.n_clusters
        assert r.cluster_size >= 1 and r.n_clusters >= 1
        if r.cluster_size == 1:
            assert r.n_removable == 0
    canon = QUERIES["x28_canonical_dedup"](spark, SF_SMOKE).collect()
    removable_truth = sum(1 for r in canon if r.doc_id != r.canonical)
    assert sum(r.n_removable for r in rows) == removable_truth


def test_scale_safe_defaults_are_auto_sized(spark):
    """VERDICT r7 item 3: the LIBRARY defaults of semantic_dedup and
    srp_neardup_pairs are the auto-sized production configs — a caller
    who copies the no-arg form gets the linear-pair-space path, and it
    equals the explicit auto construction row for row."""
    from cubefs_hadoop_spark.extensions.semantic import (
        semantic_dedup,
        srp_neardup_pairs,
        srp_neardup_pairs_auto,
    )
    from cubefs_hadoop_spark.extensions.similarity import auto_centroid_count

    emb = load(spark, SF_SMOKE, "embeddings")

    dflt = {(r.da, r.db) for r in srp_neardup_pairs(emb).collect()}
    auto = {(r.da, r.db) for r in srp_neardup_pairs_auto(emb).collect()}
    assert dflt == auto

    c = auto_centroid_count(emb)
    cents = emb.orderBy("vec_id").limit(c).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    d1 = {r.vec_id: (r.cid, r.kept) for r in semantic_dedup(emb).collect()}
    d2 = {
        r.vec_id: (r.cid, r.kept) for r in semantic_dedup(emb, cents).collect()
    }
    assert d1 == d2
    assert len({cid for cid, _ in d1.values()}) <= c


def test_x53_bucket_audit_hand_computed(spark):
    """x53 witness: on a crafted signature frame the audit reproduces
    hand-computed bucket counts, hottest buckets, exact candidate-pair
    sums (c*(c-1)/2 per bucket), and milli top-bucket shares."""
    from cubefs_hadoop_spark.extensions.semantic import lsh_bucket_audit

    sig = spark.createDataFrame(
        # band 0: bucket a holds 3 vectors, bucket b holds 1 -> pairs 3
        # band 1: buckets of 2 and 2 -> pairs 1 + 1 = 2
        [(1, 0, 10), (2, 0, 10), (3, 0, 10), (4, 0, 11),
         (1, 1, 20), (2, 1, 20), (3, 1, 21), (4, 1, 21)],
        "vec_id long, band int, key long",
    )
    out = {r.band: r for r in lsh_bucket_audit(sig).collect()}
    assert out[0].n_buckets == 2 and out[0].max_bucket == 3
    assert out[0].cand_pairs == 3 and out[0].top_share_milli == 750
    assert out[1].n_buckets == 2 and out[1].max_bucket == 2
    assert out[1].cand_pairs == 2 and out[1].top_share_milli == 500


def test_x53_pair_term_matches_actual_candidates(spark):
    """The audit's cand_pairs is the exact per-band candidate count the
    x13 bucket self-join would generate (before cross-band dedup) —
    verified by actually joining the fixture signatures."""
    from cubefs_hadoop_spark.extensions.semantic import (
        _X13_H,
        lsh_bucket_audit,
        srp_signatures,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    sig = srp_signatures(emb, hp).cache()
    audit = {r.band: r.cand_pairs for r in lsh_bucket_audit(sig).collect()}
    a = sig.select(F.col("vec_id").alias("da"), "band", "key")
    b = sig.select(F.col("vec_id").alias("db"), "band", "key")
    actual = {
        r.band: r.c
        for r in a.join(b, ["band", "key"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    sig.unpersist()
    assert audit == actual


def test_x54_temperature_mixture_flattens(spark):
    """x54 witnesses: quotas follow the exact integer sqrt-weight
    formula; flattening holds (the small source's kept FRACTION exceeds
    the big source's); selection is the md5-order prefix; total kept ==
    sum of quotas."""
    import hashlib
    import math

    from cubefs_hadoop_spark.extensions.curation import temperature_mixture

    rows = []
    did = 0
    for src, n in (("web", 400), ("wiki", 25)):
        for i in range(n):
            rows.append((did, src, f"{src} doc {i} text {did}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = temperature_mixture(docs).collect()

    # exact quota arithmetic in python ints
    c = {"web": 400, "wiki": 25}
    w = {s: math.floor(math.sqrt(v * 1_000_000)) for s, v in c.items()}
    B = sum(c.values()) // 2
    quota = {s: min(B * w[s] // sum(w.values()), c[s]) for s in c}
    got_q = {r.source: r.quota for r in out}
    assert got_q == quota
    assert len(out) == sum(quota.values())
    # flattening: wiki keeps a larger fraction than web
    kept = {s: sum(1 for r in out if r.source == s) for s in c}
    assert kept["wiki"] / c["wiki"] > kept["web"] / c["web"]
    # selection is the md5-order prefix within each source
    md5_order = sorted(
        (hashlib.md5(t.encode()).hexdigest(), d)
        for d, s, t in rows
        if s == "wiki"
    )
    want_wiki = {d for _, d in md5_order[: quota["wiki"]]}
    assert {r.doc_id for r in out if r.source == "wiki"} == want_wiki


def test_x55_elects_longest_not_first(spark, tmp_path):
    """x55 witness: in a near-dup component where the LONGEST copy has
    the LARGEST doc_id, x28 canonicalizes to the min id but x55 to the
    longest copy; isolated docs keep themselves; exactly one kept doc
    per component; every member maps to the same canonical."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (0, base, "s"),                             # dup, shortest, min id
        (1, base + " extra words appended here", "s"),  # dup, LONGEST
        (2, "totally unrelated text about databases and engines", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    tmp = str(tmp_path / "fx")
    docs.write.mode("overwrite").parquet(tmp + "/documents.parquet")

    from cubefs_hadoop_spark.queries import QUERIES

    x28 = {r.doc_id: r.canonical for r in QUERIES["x28_canonical_dedup"](spark, tmp).collect()}
    out = {r.doc_id: r for r in QUERIES["x55_quality_canonical_dedup"](spark, tmp).collect()}
    # 0 and 1 must be near-dups for the witness to bite
    assert x28[1] == 0, "fixture assumption: 0~1 are LSH near-dups"
    assert out[0].canonical == 1 and not out[0].kept  # longest wins
    assert out[1].canonical == 1 and out[1].kept
    assert out[2].canonical == 2 and out[2].kept      # isolated keeps self
    # one kept per component
    comps = {}
    for r in out.values():
        comps.setdefault(r.canonical, []).append(r.kept)
    assert all(sum(k) == 1 for k in comps.values())


def test_x56_ivfpq_recall_and_pruning(spark):
    """x56 witnesses: (a) recall of the SERVED form (x56b IVFADC-R:
    ADC shortlist + exact re-rank) vs brute-force L2 top-5 — on the
    near-uniform fixture raw ADC order is quantization noise (measured
    0.07), which is exactly why the re-rank stage exists; aggregate bar
    0.8; (b) LIST PRUNING IS REAL: every returned neighbor belongs to
    one of its query's probed coarse lists."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.similarity import (
        _X56_C,
        _X56_NPROBE,
        _X56_Q,
        _cosine_expr,
        _L2SQ,
        ivfpq_topk,
    )

    raw = load(spark, SF_SMOKE, "embeddings")
    emb = raw.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    got_rows = ivfpq_topk(spark, raw, rerank=True).collect()
    got: dict[int, set] = {}
    for r in got_rows:
        got.setdefault(r.q_id, set()).add(r.n_id)

    q = emb.filter(F.col("vec_id") < _X56_Q).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    w = Window.partitionBy("q_id").orderBy("d2", "n_id")
    exact: dict[int, set] = {}
    for r in (
        F.broadcast(q)
        .crossJoin(
            emb.select(F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb"))
        )
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("d2", F.expr(_L2SQ.format(a="q_emb", b="n_emb")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "n_id")
        .collect()
    ):
        exact.setdefault(r.q_id, set()).add(r.n_id)
    hits = sum(len(got[qid] & exact[qid]) for qid in exact)
    total = hits / sum(len(v) for v in exact.values())
    assert total >= 0.8, f"IVF-PQ re-ranked recall collapsed: {total}"

    # pruning witness: neighbors come only from probed lists
    cc = emb.filter(F.col("vec_id") < _X56_C).select(
        F.col("vec_id").alias("ccid"), F.col("emb").alias("cent")
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("d").desc(), "ccid")
    asg = {
        r.vec_id: r.ccid
        for r in emb.crossJoin(F.broadcast(cc))
        .withColumn("d", _cosine_expr("emb", "cent"))
        .withColumn("rn", F.row_number().over(wa))
        .filter("rn = 1")
        .select("vec_id", "ccid")
        .collect()
    }
    wp = Window.partitionBy("q_id").orderBy(F.col("d").desc(), "ccid")
    probed: dict[int, set] = {}
    for r in (
        q.crossJoin(F.broadcast(cc))
        .withColumn("d", _cosine_expr("q_emb", "cent"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _X56_NPROBE)
        .select("q_id", "ccid")
        .collect()
    ):
        probed.setdefault(r.q_id, set()).add(r.ccid)
    for r in got_rows:
        assert asg[r.n_id] in probed[r.q_id], (
            f"neighbor {r.n_id} of query {r.q_id} came from unprobed "
            f"list {asg[r.n_id]}"
        )


def test_x55_removes_exactly_what_x28_removes(spark):
    """Family accounting: x55 and x28 elect over the SAME components, so
    the number of non-kept docs is identical (one representative per
    component either way) — which also ties x55 to x51's dedup-yield
    forecast (its removable count IS this number).  Only the choice of
    representative differs, and every x55 canonical is a member of its
    own x28 component."""
    from cubefs_hadoop_spark.queries import QUERIES

    x28 = {
        r.doc_id: r.canonical
        for r in QUERIES["x28_canonical_dedup"](spark, SF_SMOKE).collect()
    }
    x55 = {
        r.doc_id: (r.canonical, r.kept)
        for r in QUERIES["x55_quality_canonical_dedup"](spark, SF_SMOKE).collect()
    }
    assert set(x28) == set(x55)
    n_removed_28 = sum(1 for d, c in x28.items() if d != c)
    n_removed_55 = sum(1 for d, (c, k) in x55.items() if not k)
    assert n_removed_28 == n_removed_55 > 0
    # same partition: two docs share an x28 component iff they share an
    # x55 canonical, and each x55 canonical is inside its component
    comp_of = x28
    for d, (c, _) in x55.items():
        assert comp_of[c] == comp_of[d]


def test_x57_boundaries_tile_each_chunk(spark):
    """x57 invariants vs x14: same (chunk, doc) rows; seg lengths equal
    x14's tok_in_chunk; within every chunk the segments are disjoint,
    ordered, start at 0 for full chunks, and every non-final chunk is
    tiled COMPLETELY ([0, seq_len) with no gaps) — the property a
    block-diagonal attention mask needs."""
    from cubefs_hadoop_spark.extensions.packing import _X14_S
    from cubefs_hadoop_spark.queries import QUERIES

    x14 = {
        (r.chunk_id, r.doc_id): r.tok_in_chunk
        for r in QUERIES["x14_sequence_pack"](spark, SF_SMOKE).collect()
    }
    rows = QUERIES["x57_pack_boundaries"](spark, SF_SMOKE).collect()
    assert {(r.chunk_id, r.doc_id) for r in rows} == set(x14)
    by_chunk: dict[int, list] = {}
    for r in rows:
        assert r.seg_end - r.seg_start == x14[(r.chunk_id, r.doc_id)]
        assert 0 <= r.seg_start < r.seg_end <= _X14_S
        by_chunk.setdefault(r.chunk_id, []).append((r.seg_start, r.seg_end))
    last_chunk = max(by_chunk)
    for cid, segs in by_chunk.items():
        segs.sort()
        assert segs[0][0] == 0
        for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
            assert e1 == s2  # contiguous, no gap, no overlap
        assert len(segs) == len({s for s, _ in segs})
        n_segs = {r.n_segs for r in rows if r.chunk_id == cid}
        assert n_segs == {len(segs)}
        if cid != last_chunk:
            assert segs[-1][1] == _X14_S  # full tiling of non-final chunks


# ---------------------------------------------------------------------------
# round-10 audits: x64 embedding health, x65 packing forecast,
# x66 vocab growth, x67 shard balance, x69 token-mass dedup yield


def test_x64_embedding_health_crafted(spark):
    """Crafted vector table with every pathology x64 hunts: a NaN cell,
    an inf cell, a zero vector, a 3x exact-dup group plus a 2x group,
    and one odd-dimensioned vector — exact counts come out."""
    from cubefs_hadoop_spark.extensions.similarity import embedding_health

    nan, inf = float("nan"), float("inf")
    rows = [
        (0, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [1.0, 2.0]),   # 3x dup group
        (3, [5.0, 6.0]), (4, [5.0, 6.0]),                    # 2x dup group
        (5, [nan, 1.0]),                                     # NaN
        (6, [inf, 1.0]),                                     # inf
        (7, [0.0, 0.0]),                                     # zero norm
        (8, [1.0, 2.0, 3.0]),                                # odd dim
        (9, [9.0, 9.0]),                                     # clean singleton
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    h = embedding_health(emb).collect()[0]
    assert h.n_vectors == 10
    assert h.n_dims_distinct == 2
    assert (h.dim_min, h.dim_max) == (2, 3)
    assert h.n_nonfinite == 2
    assert h.n_zero_norm == 1
    assert h.n_dup_groups == 2
    assert h.n_dup_vectors == 5
    assert h.n_removable == 3
    assert h.dup_share_milli == 300


def test_x64_fixture_is_clean_except_dups(spark):
    """The synthetic embeddings fixture must be dimension-consistent and
    finite — x64's value on it is the dup accounting (and proving the
    audit reads clean tables as clean)."""
    from cubefs_hadoop_spark.queries import QUERIES

    h = QUERIES["x64_embedding_health"](spark, SF_SMOKE).collect()[0]
    assert h.n_dims_distinct == 1
    assert h.n_nonfinite == 0
    assert h.n_zero_norm == 0
    assert h.n_dup_vectors - h.n_dup_groups == h.n_removable


def test_x65_packing_forecast_hand_computed(spark):
    """Hand-computable corpus at seq_len=64: lengths 1 (band 0, pad 63),
    64 (band 4, pad 0), 65 (band 4, 2 segments, pad 63), 200 (band 8,
    4 segments, pad 56)."""
    from cubefs_hadoop_spark.extensions.packing import packing_forecast

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([1, 64, 65, 200])],
        "doc_id long, text string",
    )
    rows = {r.band: r for r in packing_forecast(docs).collect()}
    assert set(rows) == {0, 4, 8}
    assert (rows[0].n_docs, rows[0].tokens, rows[0].segments,
            rows[0].pad_waste) == (1, 1, 1, 63)
    # band 4 holds both the exact-fit 64 and the straddler 65
    assert (rows[4].n_docs, rows[4].tokens, rows[4].segments,
            rows[4].pad_waste) == (2, 129, 3, 63)
    assert (rows[8].n_docs, rows[8].tokens, rows[8].segments,
            rows[8].pad_waste) == (1, 200, 4, 56)
    assert rows[8].band_lo_tokens == 128
    assert rows[8].pad_share_milli == 1000 * 56 // 256


def test_x65_totals_reconcile_with_x14(spark):
    """Σ segments over the forecast = the chunk-span count x14 would
    emit IF each doc were packed alone (ceil(tk/S) per doc); Σ tokens
    matches the corpus token mass."""
    from cubefs_hadoop_spark.extensions.packing import _X14_S, packing_forecast

    docs = load(spark, SF_SMOKE, "documents")
    rows = packing_forecast(docs).collect()
    tk = [
        r.tk for r in docs.select(
            F.size(F.split("text", " ")).alias("tk")
        ).collect()
    ]
    assert sum(r.tokens for r in rows) == sum(tk)
    assert sum(r.n_docs for r in rows) == len(tk)
    assert sum(r.segments for r in rows) == sum(
        (t + _X14_S - 1) // _X14_S for t in tk
    )
    assert sum(r.pad_waste for r in rows) == sum(
        (_X14_S - t % _X14_S) % _X14_S for t in tk
    )


def test_x66_vocab_growth_crafted_and_prefix_law(spark):
    """Crafted 10-doc corpus with known first appearances; plus the
    prefix law on the fixture: distinct_tokens at decile d == exact
    distinct count over the doc_id prefix."""
    from cubefs_hadoop_spark.extensions.tokenize import vocab_growth

    docs = spark.createDataFrame(
        [(i, {0: "a b", 1: "a", 5: "b c", 9: "d"}.get(i, "a b")) for i in
         range(10)],
        "doc_id long, text string",
    )
    rows = {r.decile: r for r in vocab_growth(docs).collect()}
    assert len(rows) == 10
    assert rows[1].new_tokens == 2            # a, b first seen at doc 0
    assert rows[6].new_tokens == 1            # c first seen at doc 5
    assert rows[10].new_tokens == 1           # d first seen at doc 9
    assert rows[10].distinct_tokens == 4
    assert [rows[d].docs_in_prefix for d in range(1, 11)] == list(
        range(1, 11)
    )

    fixture = load(spark, SF_SMOKE, "documents")
    curve = sorted(vocab_growth(fixture).collect(), key=lambda r: r.decile)
    n = fixture.agg(F.max("doc_id")).first()[0] + 1
    for d in (1, 5, 10):
        row = curve[d - 1]
        exact = (
            fixture.filter(10 * F.col("doc_id") / n < d)
            .select(F.explode(F.split("text", " ")).alias("t"))
            .agg(F.countDistinct("t"))
            .first()[0]
        )
        assert row.distinct_tokens == exact
    # monotone, and new_tokens telescopes the cumulative series
    for a, b in zip(curve, curve[1:]):
        assert b.distinct_tokens == a.distinct_tokens + b.new_tokens


def test_x67_shard_balance_arithmetic(spark):
    """Shard key replays in Python md5; totals and skew arithmetic are
    exact; every doc lands in exactly one shard."""
    import hashlib

    from cubefs_hadoop_spark.extensions.curation import (
        _X67_S,
        shard_balance,
    )

    docs = load(spark, SF_SMOKE, "documents")
    rows = shard_balance(docs).collect()
    n = docs.count()
    assert sum(r.n_docs for r in rows) == n
    tot = sum(r.tokens for r in rows)
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    expect = {
        int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % _X67_S
        for i in ids[:50]
    }
    assert expect <= {r.shard for r in rows}
    for r in rows:
        assert r.share_milli == 1000 * r.tokens // tot
        assert r.skew_permille == 1000 * _X67_S * r.tokens // tot - 1000


def test_x69_token_yield_reconciles_with_x28_and_x51(spark):
    """x69's bands carry x51's exact cluster counts; tokens_removable
    equals the token mass of the docs x28 does NOT keep as canonical —
    three operators, one accounting identity."""
    from cubefs_hadoop_spark.queries import QUERIES

    x51 = {
        r.cluster_size: r.n_clusters
        for r in QUERIES["x51_dedup_yield"](spark, SF_SMOKE).collect()
    }
    x69 = QUERIES["x69_dedup_token_yield"](spark, SF_SMOKE).collect()
    assert {r.cluster_size: r.n_clusters for r in x69} == x51

    canon = {
        r.doc_id: r.canonical
        for r in QUERIES["x28_canonical_dedup"](spark, SF_SMOKE).collect()
    }
    tk = {
        r.doc_id: r.tk
        for r in load(spark, SF_SMOKE, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("tk"))
        .collect()
    }
    removable = sum(tk[d] for d, c in canon.items() if d != c)
    assert sum(r.tokens_removable for r in x69) == removable
    assert sum(r.tokens_total for r in x69) == sum(tk.values())


# ---------------------------------------------------------------------------
# round-10 part 2: x70 mirror matrix, x71 banding planner, x72 OOV audit


def test_x70_mirror_matrix_crafted_and_reconciles(spark):
    """Crafted corpus: one cross-source near-dup pair and one
    within-source pair land in the right cells; on the fixture the
    matrix re-aggregates exactly from the x02 pairs + source map."""
    from cubefs_hadoop_spark.extensions.dedup import (
        lsh_candidate_pairs,
        mirror_matrix,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words flow through this other document"
    docs = spark.createDataFrame(
        [
            (0, t1, "a"), (1, t1, "b"),          # cross-source mirror
            (2, t2, "a"), (3, t2, "a"),          # within-source boilerplate
            (4, "unique text nothing shares", "b"),
        ],
        "doc_id long, text string, source string",
    )
    m = {
        (r.source_a, r.source_b): r.n_pairs
        for r in mirror_matrix(docs).collect()
    }
    assert m[("a", "b")] == 1
    assert m[("a", "a")] == 1
    assert ("b", "b") not in m

    fixture = load(spark, SF_SMOKE, "documents")
    rows = mirror_matrix(fixture).collect()
    pairs = lsh_candidate_pairs(fixture).collect()
    src = {
        r.doc_id: r.source
        for r in fixture.select("doc_id", "source").collect()
    }
    want: dict = {}
    for p in pairs:
        k = tuple(sorted((src[p.da], src[p.db])))
        want[k] = want.get(k, 0) + 1
    assert {(r.source_a, r.source_b): r.n_pairs for r in rows} == want
    tot = sum(want.values())
    for r in rows:
        assert r.share_milli == 1000 * r.n_pairs // tot


def test_x66_empty_documents_raises_value_error(spark):
    """ADVICE r10: an empty documents frame must fail with the reason,
    not a TypeError on int(None) for the decile literal."""
    import pytest as _pytest

    from cubefs_hadoop_spark.extensions.tokenize import vocab_growth

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty documents"):
        vocab_growth(empty)


def test_x70_null_source_normalizes_to_null_group(spark):
    """ADVICE r10: a mirror pair with ONE untagged side must land in
    the ('(null)', tag) cell — not silently collapse onto the tagged
    source's diagonal via NULL-skipping least/greatest (an
    engine-consistent miscount the hash gate cannot see)."""
    from cubefs_hadoop_spark.extensions.dedup import mirror_matrix

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(0, t1, None), (1, t1, "web")],
        "doc_id long, text string, source string",
    )
    m = {
        (r.source_a, r.source_b): r.n_pairs
        for r in mirror_matrix(docs).collect()
    }
    assert m == {("(null)", "web"): 1}


def test_sql_sub_guards_anchor_drift():
    """ADVICE r10: a derived oracle's textual substitution must fail
    loudly when the anchor text is absent (a silent no-op would
    register the BASE oracle under the derived name)."""
    import pytest as _pytest

    from cubefs_hadoop_spark.extensions.dedup import _sql_sub

    assert _sql_sub("SELECT a FROM t", "FROM t", "FROM u") == "SELECT a FROM u"
    with _pytest.raises(AssertionError, match="anchor drifted"):
        _sql_sub("SELECT a FROM t", "FROM missing", "FROM u")


def test_x75_preflight_matches_standalone_audits_and_shares_one_join(
    spark, monkeypatch
):
    """VERDICT r10 #3: the composed preflight must (a) build the
    exact-Jaccard scored frame exactly ONCE for all three audits and
    (b) reproduce the standalone x61/x71/x73 outputs value-for-value."""
    import cubefs_hadoop_spark.extensions.dedup as dd

    calls = []
    orig = dd._exact_jaccard_scored

    def spy(docs):
        calls.append(1)
        return orig(docs)

    monkeypatch.setattr(dd, "_exact_jaccard_scored", spy)
    docs = load(spark, SF_SMOKE, "documents")
    out = {
        (r.section, r.metric): r.value
        for r in dd.lsh_preflight(docs).collect()
    }
    assert calls == [1], "the scored join must be built exactly once"

    q = dd.lsh_quality_audit(docs).first()
    for m in dd._X75_QUALITY_METRICS:
        assert out[("quality", m)] == q[m], m
    for r in dd.banding_planner(docs).collect():
        sec = f"banding_{r.bands}x{r.rows_per_band}"
        for m in dd._X75_BANDING_METRICS:
            assert out[(sec, m)] == r[m], (sec, m)
    c = dd.containment_pairs(docs, cont_milli=dd._X73_CONT_FIXTURE).collect()
    assert out[("containment", "n_pairs")] == len(c)
    assert out[("containment", "max_containment_milli")] == max(
        (r.containment_milli for r in c), default=None
    )


def test_x73b_planted_prefixes_are_fully_contained(spark):
    """The planted-prefix corpus guarantees the production-floor branch
    is non-vacuous: every (parent, planted-prefix) pair scores exactly
    1000 milli containment (a prefix's char-8 shingles are a subset of
    its parent's) with sub-tau Jaccard."""
    from cubefs_hadoop_spark.extensions.dedup import (
        _X73B_MINLEN,
        _X73B_OFFSET,
    )
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x73b_containment_production"](spark, SF_SMOKE).collect()
    assert rows, "planted corpus must emit production-floor rows"
    planted_pairs = [
        r for r in rows
        if r.db >= _X73B_OFFSET and r.da == r.db - _X73B_OFFSET
    ]
    assert planted_pairs, "at least one (parent, planted-prefix) pair"
    for r in planted_pairs:
        assert r.containment_milli == 1000
        assert r.jaccard_milli < 500
    n_long = (
        load(spark, SF_SMOKE, "documents")
        .filter((F.col("doc_id") < 1000) & (F.length("text") >= _X73B_MINLEN))
        .count()
    )
    assert len(planted_pairs) == n_long


def test_x71_planner_matches_python_milli_arithmetic(spark):
    """The planner's integer-milli S-curve replays exactly in Python
    ints over the sample's jac-milli values, and the frontier laws
    hold: more rows per band => fewer expected candidates AND no more
    expected recall; every probability is in [0, 1000]."""
    from cubefs_hadoop_spark.extensions.dedup import (
        _X61_S,
        _X71_CONFIGS,
        _exact_jaccard_scored,
        banding_planner,
    )

    docs = load(spark, SF_SMOKE, "documents")
    sample = docs.filter(F.col("doc_id") < _X61_S)
    jms = [
        1000 * r.i // (r.na + r.nb - r.i)
        for r in _exact_jaccard_scored(sample).collect()
    ]

    def milli_pow(s, k):
        x = s
        for _ in range(k - 1):
            x = (x * s) // 1000
        return x

    def collide(jm, b, r):
        return 1000 - milli_pow(1000 - milli_pow(jm, r), b)

    got = {
        (r.bands, r.rows_per_band): r
        for r in banding_planner(docs).collect()
    }
    true = [j for j in jms if j >= 500]
    for b, r in _X71_CONFIGS:
        ps = [collide(j, b, r) for j in jms]
        assert all(0 <= p <= 1000 for p in ps)
        row = got[(b, r)]
        assert row.n_scored_pairs == len(jms)
        assert row.n_true_pairs == len(true)
        assert row.exp_candidates_milli == sum(ps)
        want_recall = (
            sum(collide(j, b, r) for j in true) // len(true) if true else None
        )
        assert row.exp_recall_milli == want_recall
    # frontier: precision-leaning configs cost less and recall less
    assert (
        got[(1, 9)].exp_candidates_milli
        <= got[(3, 3)].exp_candidates_milli
        <= got[(9, 1)].exp_candidates_milli
    )
    assert (
        got[(9, 1)].exp_recall_milli
        >= got[(3, 3)].exp_recall_milli
        >= got[(1, 9)].exp_recall_milli
    )


def test_x72_oov_rate_matches_python_reference(spark):
    """Full third-reference replay: split, vocabularies, and OOV counts
    recomputed in pure Python over the fixture equal the operator's one
    row exactly."""
    import hashlib

    from cubefs_hadoop_spark.extensions.text import oov_rate

    docs = load(spark, SF_SMOKE, "documents")
    rows = [(r.text,) for r in docs.select("text").collect()]
    train_v: set = set()
    test_occ: list = []
    n_train = n_test = 0
    for (t,) in rows:
        toks = t.split(" ")
        if hashlib.md5(t.encode()).hexdigest()[0] < "d":
            n_train += 1
            train_v.update(toks)
        else:
            n_test += 1
            test_occ.extend(toks)
    test_types = set(test_occ)
    oov_t = len(test_types - train_v)
    oov_o = sum(1 for t in test_occ if t not in train_v)
    got = oov_rate(docs).collect()[0]
    assert (got.n_train_docs, got.n_test_docs) == (n_train, n_test)
    assert got.n_train_types == len(train_v)
    assert got.n_test_types == len(test_types)
    assert got.n_test_occurrences == len(test_occ)
    assert (got.oov_types, got.oov_occurrences) == (oov_t, oov_o)
    assert got.oov_type_milli == (
        1000 * oov_t // len(test_types) if test_types else None
    )
    assert got.oov_occ_milli == (
        1000 * oov_o // len(test_occ) if test_occ else None
    )


def test_x73_containment_catches_what_jaccard_misses(spark):
    """Crafted corpus: a short document fully quoted inside a much
    longer one has containment 1000 but Jaccard far below the dedup
    tau — x73 at the production floor (800) reports exactly that pair;
    an unrelated doc never appears; a symmetric near-dup pair (high
    Jaccard) is excluded by construction."""
    from cubefs_hadoop_spark.extensions.dedup import containment_pairs

    quoted = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = quoted + " " + " ".join(f"filler{i:03d} pad{i:03d}" for i in range(40))
    twin_a = "one two three four five six seven eight nine ten " * 3
    docs = spark.createDataFrame(
        [
            (0, quoted),
            (1, long_doc),
            (2, "totally unrelated words nothing shared here at all"),
            (3, twin_a.strip()),
            (4, twin_a.strip() + " tail"),
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs).collect()  # library floor: 800
    got = {(r.da, r.db): r for r in rows}
    assert (0, 1) in got
    assert got[(0, 1)].containment_milli >= 950
    assert got[(0, 1)].jaccard_milli < 500
    # the symmetric twins (3,4) have BOTH high containment and high
    # jaccard -> excluded (they are x02's job, not x73's)
    assert (3, 4) not in got
    assert all(da == 0 and db == 1 for da, db in got)


def test_x73_fixture_rows_replay_in_python(spark):
    """Registered (fixture-calibrated) x73 rows replay exactly from the
    scored pair frame in Python integer arithmetic."""
    from cubefs_hadoop_spark.extensions.dedup import (
        _X61_S,
        _X73_CONT_FIXTURE,
        _exact_jaccard_scored,
    )
    from cubefs_hadoop_spark.queries import QUERIES

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < _X61_S)
    want = {}
    for r in _exact_jaccard_scored(docs).collect():
        c = 1000 * r.i // min(r.na, r.nb)
        j = 1000 * r.i // (r.na + r.nb - r.i)
        if c >= _X73_CONT_FIXTURE and j < 500:
            want[(r.da, r.db)] = (c, j)
    got = {
        (r.da, r.db): (r.containment_milli, r.jaccard_milli)
        for r in QUERIES["x73_containment_pairs"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


def test_x71_milli_curve_properties():
    """Pure-Python hypothesis sweep of the planner's integer-milli
    S-curve: p always in [0, 1000]; monotone non-decreasing in the
    similarity; endpoint-exact (s=0 -> 0; s=1000 -> 1000); within the
    accumulated floor-error budget of the float curve on BOTH sides
    (the inner chain's floors lower s^r -> p undershoots; the outer
    chain's floors lower (1-s^r)^b -> p overshoots; each chain floors
    <= max(r,b)-1 times by < 1 milli, the outer amplified by b)."""
    from hypothesis import given, strategies as st

    from cubefs_hadoop_spark.extensions.dedup import _X71_CONFIGS

    def milli_pow(s, k):
        x = s
        for _ in range(k - 1):
            x = (x * s) // 1000
        return x

    def collide(jm, b, r):
        return 1000 - milli_pow(1000 - milli_pow(jm, r), b)

    @given(st.integers(min_value=0, max_value=1000))
    def check(jm):
        for b, r in _X71_CONFIGS:
            p = collide(jm, b, r)
            assert 0 <= p <= 1000
            if jm < 1000:
                assert p <= collide(jm + 1, b, r) + 0  # monotone
            exact = 1000 * (1 - (1 - (jm / 1000) ** r) ** b)
            assert abs(p - exact) <= (r + b) * b + 1

    check()
    for b, r in _X71_CONFIGS:
        assert collide(0, b, r) == 0
        assert collide(1000, b, r) == 1000


# round-11: x76 stratified split audit, x77 cluster purity, x78 collocations


def test_x76_stratified_split_matches_python_reference(spark):
    """The per-(source, split) counts replay exactly from hashlib md5 in
    Python, splits partition the corpus, and within-source shares are
    exact integer millis."""
    import hashlib

    from cubefs_hadoop_spark.queries import QUERIES

    docs = load(spark, SF_SMOKE, "documents")
    rows = QUERIES["x76_stratified_eval_split"](spark, SF_SMOKE).collect()
    want: dict = {}
    for r in docs.select("source", "text").collect():
        d = hashlib.md5(r.text.encode()).hexdigest()[0]
        split = "train" if d < "c" else ("val" if d < "e" else "test")
        k = (r.source if r.source is not None else "(null)", split)
        want[k] = want.get(k, 0) + 1
    got = {(r.source, r.split): r.n_docs for r in rows}
    assert got == want
    assert sum(got.values()) == docs.count()
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    for src, rs in per_src.items():
        tot = sum(r.n_docs for r in rs)
        for r in rs:
            assert r.share_milli == 1000 * r.n_docs // tot, src


def test_x77_cluster_purity_crafted(spark):
    """Crafted corpus: one 2-doc within-source cluster and one 3-doc
    two-source cluster land in the right purity cells; singletons are
    excluded."""
    from cubefs_hadoop_spark.extensions.dedup import cluster_source_purity

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words flow through this other document now"
    docs = spark.createDataFrame(
        [
            (0, t1, "a"), (1, t1, "a"),
            (2, t2, "a"), (3, t2, "b"), (4, t2, "b"),
            (5, "unique text nothing shares with anyone", "c"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.n_sources: (r.n_clusters, r.n_docs)
        for r in cluster_source_purity(docs).collect()
    }
    assert got == {1: (1, 2), 2: (1, 3)}


def test_x78_collocations_match_python_reference(spark):
    """Top-k collocations replay exactly from a brute-force Python
    reference with the same integer-milli lift and tie order."""
    from cubefs_hadoop_spark.extensions.tokenize import collocation_lift

    texts = [
        "new york is a big city",
        "new york has tall towers",
        "a big city is new york",
        "big towers in new york",
        "the city has a big park",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.w1, r.w2, r.n_pair, r.lift_milli)
        for r in collocation_lift(docs, k=10, min_pair=2).collect()
    ]
    ug: dict = {}
    pc: dict = {}
    for t in texts:
        ws = t.split(" ")
        for w in ws:
            ug[w] = ug.get(w, 0) + 1
        for i in range(len(ws) - 1):
            pc[(ws[i], ws[i + 1])] = pc.get((ws[i], ws[i + 1]), 0) + 1
    n = sum(ug.values())
    ref = [
        (w1, w2, c, 1000 * c * n // (ug[w1] * ug[w2]))
        for (w1, w2), c in pc.items()
        if c >= 2
    ]
    ref.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    assert got == ref[:10]
    assert ("new", "york") in {(g[0], g[1]) for g in got}


def test_hot_source_mirror_witness_rollups_stay_bounded(spark):
    """VERDICT r10 #7 witness: a mirror-site corpus (one doc + 3 copies
    under a 'mirror' tag) produces exactly the bounded cells the sf1
    hot-source probe relies on — x70's hot off-diagonal + within-mirror
    counts, x77's one 2-source cluster — and output stays matrix-sized
    however hot the source."""
    from cubefs_hadoop_spark.extensions.dedup import (
        cluster_source_purity,
        mirror_matrix,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, t1, "a")] + [(i, t1, "mirror") for i in (1, 2, 3)]
    rows += [(9, "totally unrelated text nobody copies anywhere", "b")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    m = {
        (r.source_a, r.source_b): r.n_pairs
        for r in mirror_matrix(docs).collect()
    }
    # 4-doc cluster = 6 pairs: 3 cross (a x each mirror), 3 within-mirror
    assert m == {("a", "mirror"): 3, ("mirror", "mirror"): 3}
    p = {
        r.n_sources: (r.n_clusters, r.n_docs)
        for r in cluster_source_purity(docs).collect()
    }
    assert p == {2: (1, 4)}


def test_x79_dup_curve_matches_python_reference(spark):
    """The repetition curve replays exactly from brute-force Python
    n-gram counting, and the curve laws hold (distinct <= total,
    dup_milli = floor ratio)."""
    from cubefs_hadoop_spark.extensions.text import ngram_dup_curve

    texts = [
        "a b c a b c a b",
        "a b c d e f g h",
        "x",
        "a b",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.n: (r.total_ngrams, r.distinct_ngrams, r.dup_milli)
        for r in ngram_dup_curve(docs).collect()
    }
    for n in (1, 2, 4, 8):
        grams = []
        for t in texts:
            ws = t.split(" ")
            grams += [
                " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)
            ]
        tot, dis = len(grams), len(set(grams))
        want = (tot, dis, 1000 * (tot - dis) // tot if tot else None)
        assert got[n] == want, n
    fixture = load(spark, SF_SMOKE, "documents")
    rows = sorted(ngram_dup_curve(fixture).collect(), key=lambda r: r.n)
    assert [r.n for r in rows] == [1, 2, 4, 8]
    for r in rows:
        assert r.distinct_ngrams <= r.total_ngrams
        assert r.dup_milli == 1000 * (
            r.total_ngrams - r.distinct_ngrams
        ) // r.total_ngrams
    # repetition mass cannot grow with n on any corpus where longer
    # repeats imply shorter ones (our fixtures): weak monotone check
    assert rows[0].dup_milli >= rows[-1].dup_milli


def test_x80_label_separation_crafted_and_replay(spark):
    """Two tight, far-apart labels score high fisher ratios; a label
    sitting inside the global blob scores near zero; values replay
    exactly in Python floor-milli arithmetic."""
    import math

    from cubefs_hadoop_spark.extensions.semantic import label_separation

    rows = []
    # label 0: tight cluster at (+1, 0); label 1: tight at (-1, 0);
    # label 2: spread across both (the blob)
    pts = {
        0: [(1.0, 0.01), (1.0, -0.01), (0.99, 0.0)],
        1: [(-1.0, 0.01), (-1.0, -0.01), (-0.99, 0.0)],
        2: [(0.9, 0.0), (-0.9, 0.0), (0.0, 0.9), (0.0, -0.9)],
    }
    i = 0
    for lbl, vs in pts.items():
        for v in vs:
            rows.append((i, list(v), lbl))
            i += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r.label: (r.n_vectors, r.within_mmicro, r.sep_mmicro,
                  r.fisher_milli)
        for r in label_separation(emb).collect()
    }

    # Python replay with the exact floor-milli arithmetic; values
    # round-trip through float32 first (the column is array<float>, so
    # Spark and DuckDB both see the float32-quantized values)
    import numpy as np

    em = {
        lbl: [
            [math.floor(float(np.float32(x)) * 1000) for x in v]
            for v in vs
        ]
        for lbl, vs in pts.items()
    }
    alldims = 2
    gsum = [0] * alldims
    gn = 0
    for vs in em.values():
        for v in vs:
            for d in range(alldims):
                gsum[d] += v[d]
            gn += 1
    g = [math.floor(gsum[d] / gn) for d in range(alldims)]
    for lbl, vs in em.items():
        n = len(vs)
        s1 = [sum(v[d] for v in vs) for d in range(alldims)]
        s2 = [sum(v[d] * v[d] for v in vs) for d in range(alldims)]
        c = [math.floor(s1[d] / n) for d in range(alldims)]
        within_sum = sum(
            s2[d] - 2 * c[d] * s1[d] + n * c[d] * c[d]
            for d in range(alldims)
        )
        within = within_sum // n
        sep = sum((c[d] - g[d]) ** 2 for d in range(alldims))
        fisher = (1000 * sep // within) if within else None
        assert got[lbl] == (n, within, sep, fisher), lbl
    # the geometry reads correctly: tight+far labels separate, blob not
    assert got[0][3] > 100 * max(got[2][3], 1)
    assert got[1][3] > 100 * max(got[2][3], 1)


def test_x81_pagerank_matches_python_power_iteration(spark):
    """The integer-milli PageRank replays exactly in Python over a
    crafted graph (a 3-clique plus an attached pendant through shared
    text), and the centrality reads correctly: the hub node out-ranks
    the pendant."""
    from cubefs_hadoop_spark.extensions.dedup import (
        _X81_ITERS,
        lsh_candidate_pairs,
        neardup_pagerank,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(0, t1), (1, t1), (2, t1), (3, t1 + " extra trailing suffix")],
        "doc_id long, text string",
    )
    pairs = [(r.da, r.db) for r in lsh_candidate_pairs(docs).collect()]
    assert pairs, "crafted corpus must produce candidate pairs"
    got = {
        r.doc_id: r.pr_milli for r in neardup_pagerank(docs).collect()
    }

    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    p = {v: 1000 for v in adj}
    for _ in range(_X81_ITERS):
        s = {v: 0 for v in adj}
        for u, nbrs in adj.items():
            share = p[u] // len(nbrs)
            for v in nbrs:
                s[v] += share
        p = {v: 150 + (850 * s[v]) // 1000 for v in adj}
    assert got == p
    # if node 3 is only weakly attached, clique members out-rank it
    if len(adj.get(3, [])) < 3:
        assert got[0] >= got[3]


def test_x82_election_is_argmax_pagerank_per_component(spark):
    """On the fixture, x82's canonical is exactly the argmax of
    (pr_milli, -doc_id) within each x28 component (isolated docs elect
    themselves, scored -1), and kept marks canonical membership."""
    from cubefs_hadoop_spark.extensions.components import (
        connected_components_auto,
    )
    from cubefs_hadoop_spark.extensions.dedup import (
        lsh_candidate_pairs,
        neardup_pagerank_from_pairs,
    )
    from cubefs_hadoop_spark.queries import QUERIES

    docs = load(spark, SF_SMOKE, "documents")
    pairs = lsh_candidate_pairs(docs)
    comp = {
        r.doc_id: r.comp for r in connected_components_auto(pairs).collect()
    }
    pr = {
        r.doc_id: r.pr_milli
        for r in neardup_pagerank_from_pairs(pairs).collect()
    }
    members: dict = {}
    for r in docs.select("doc_id").collect():
        c = comp.get(r.doc_id, r.doc_id)
        members.setdefault(c, []).append(r.doc_id)
    want = {}
    for c, ms in members.items():
        winner = max(ms, key=lambda d: (pr.get(d, -1), -d))
        for d in ms:
            want[d] = winner
    out = QUERIES["x82_centrality_canonical"](spark, SF_SMOKE).collect()
    got = {r.doc_id: r.canonical for r in out}
    assert got == want
    for r in out:
        assert r.kept == (r.doc_id == r.canonical)
    # the election differs from min-id somewhere on this fixture iff
    # any component's hub is not its min id — verify consistency either
    # way against x28
    x28 = {
        r.doc_id: r.canonical
        for r in QUERIES["x28_canonical_dedup"](spark, SF_SMOKE).collect()
    }
    for d, c in got.items():
        assert comp.get(c, c) == comp.get(x28[d], x28[d])  # same component


def test_x83_keywords_match_python_reference(spark):
    """Top-3 tf-idf keywords replay exactly from a brute-force Python
    reference with the same integer-milli rarity and tie order."""
    from cubefs_hadoop_spark.extensions.search import tfidf_keywords

    texts = [
        "apple apple banana cherry",
        "banana cherry cherry date",
        "apple date date date",
        "unique words only here",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.doc_id, r.w, r.tf, r.score, r.rank)
        for r in tfidf_keywords(docs)
        .orderBy("doc_id", "rank", "w")
        .collect()
    ]
    n = len(texts)
    tf: dict = {}
    df: dict = {}
    for i, t in enumerate(texts):
        seen = set()
        for w in t.split(" "):
            tf[(i, w)] = tf.get((i, w), 0) + 1
            if w not in seen:
                seen.add(w)
                df[w] = df.get(w, 0) + 1
    ref = []
    for i in range(n):
        rows = [
            (w, c, c * (1000 * n // df[w]))
            for (d, w), c in tf.items()
            if d == i
        ]
        rows.sort(key=lambda r: (-r[2], r[0]))
        for rank, (w, c, s) in enumerate(rows[:3], 1):
            ref.append((i, w, c, s, rank))
    assert got == ref


def test_x84_source_vocabulary_crafted(spark):
    """A source spamming one term far above the corpus rate surfaces
    that term at rank 1 with lift >> 1000; a uniformly-used term lifts
    ~1000 and cannot out-rank it."""
    from cubefs_hadoop_spark.extensions.search import (
        source_vocabulary_profile,
    )

    rows = []
    for i in range(10):
        rows.append((i, "common " * 9 + "spamword", "spammy"))
    for i in range(10, 20):
        rows.append((i, "common " * 10, "plain"))
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string",
    )
    out = source_vocabulary_profile(docs, k=2, min_count=5).collect()
    top = {r.source: r for r in out if r.rank == 1}
    assert top["spammy"].w == "spamword"
    assert top["spammy"].lift_milli > 1500
    assert top["plain"].w == "common"
    assert top["plain"].lift_milli <= 1100


def test_x86_pair_arrival_accounts_for_all_pairs(spark):
    """The arrival curve's cumulative total equals the full candidate
    pair count, buckets replay from the pairs themselves, and the
    empty-frame guard raises."""
    import pytest as _pytest

    from cubefs_hadoop_spark.extensions.dedup import (
        lsh_candidate_pairs,
        pair_arrival_curve,
    )

    docs = load(spark, SF_SMOKE, "documents")
    pairs = [(r.da, r.db) for r in lsh_candidate_pairs(docs).collect()]
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    want: dict = {}
    for _, db in pairs:
        d = 10 * db // n + 1
        want[d] = want.get(d, 0) + 1
    rows = sorted(pair_arrival_curve(docs).collect(), key=lambda r: r.decile)
    assert {r.decile: r.n_new_pairs for r in rows} == want
    assert rows[-1].n_cum == len(pairs)
    cum = 0
    for r in rows:
        cum += r.n_new_pairs
        assert r.n_cum == cum

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty documents"):
        pair_arrival_curve(empty)


def test_x99_x102_x105_crafted_witnesses(spark):
    """r13 event operators on crafted corpora: known diversity
    distribution, deterministic peak-cell tie-break, exact conversion
    latency percentiles with non-converters excluded."""
    import datetime as dt

    from cubefs_hadoop_spark.extensions.behavior import (
        conversion_latency,
        peak_hours,
        user_type_diversity,
    )

    t0 = dt.datetime(2024, 1, 7, 10, 0, 0)  # a Sunday
    rows = []
    eid = 0

    def ev(u, y, secs):
        nonlocal eid
        rows.append((eid, t0 + dt.timedelta(seconds=secs), u, y))
        eid += 1

    # u1: 3 types; u2: 1 type; u3: 1 type -> dist {1: 2 users, 3: 1}
    ev(1, "view", 0), ev(1, "click", 10), ev(1, "purchase", 20)
    ev(2, "view", 0), ev(2, "view", 5)
    ev(3, "error", 0)
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )
    div = {r.n_types: (r.users, r.users_share_milli)
           for r in user_type_diversity(events).collect()}
    assert div == {1: (2, 666), 3: (1, 333)}

    # peak-cell tie: 'view' has 2 events at (Sun, 10h) via u2... craft
    # an explicit tie for 'tie' type across two cells -> smaller hour
    tie_rows = [
        (100, t0, 9, "tie"),                              # Sun 10h
        (101, t0 + dt.timedelta(hours=1), 9, "tie"),      # Sun 11h
    ]
    tie = spark.createDataFrame(
        tie_rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )
    pk = {r.event_type: (r.dow, r.hr, r.n, r.share_milli)
          for r in peak_hours(tie).collect()}
    assert pk == {"tie": (0, 10, 1, 500)}  # tie -> smallest (dow, hr)

    # conversion latency: u1 converts in 20 s; u2/u3 never -> n=1
    cl = conversion_latency(events).first()
    assert (cl.n_converters, cl.p50_s, cl.p90_s) == (1, 20, 20)


def test_x100_x101_x104_crafted_witnesses(spark):
    """r13 TPC-H operators on crafted tables: last-shipment latency per
    priority, repeat-share arithmetic, and trade balance including a
    nation with no activity on one side."""
    import datetime as dt

    from cubefs_hadoop_spark.queries import QUERIES

    # exercise via the public callables over a temp sf-dir layout
    import os as _os
    import tempfile

    d = tempfile.mkdtemp()
    ts = lambda s: dt.datetime(1996, 1, s)  # noqa: E731
    spark.createDataFrame(
        [(1, 10, "O", 100.0, ts(1), "1-URGENT"),
         (2, 10, "O", 100.0, ts(1), "1-URGENT"),
         (3, 20, "O", 100.0, ts(1), "5-LOW")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz,"
        " o_orderpriority string",
    ).write.parquet(_os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(1, 1, 100, 1, 1.0, 10.00, 0.00, 0.0, "N", "O", ts(3)),
         (1, 1, 100, 2, 1.0, 10.00, 0.00, 0.0, "N", "O", ts(11)),
         (2, 1, 100, 1, 1.0, 20.00, 0.50, 0.0, "N", "O", ts(2)),
         (3, 1, 200, 1, 1.0, 40.00, 0.00, 0.0, "N", "O", ts(6))],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp_ntz",
    ).write.parquet(_os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [(10, "A", 0, 0.0, "BUILDING"), (20, "B", 1, 0.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.parquet(_os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        [(100, "S1", 1, 0.0), (200, "S2", 2, 0.0)],
        "s_suppkey long, s_name string, s_nationkey long,"
        " s_acctbal double",
    ).write.parquet(_os.path.join(d, "supplier.parquet"))
    spark.createDataFrame(
        [(0, "N0", 0), (1, "N1", 0), (2, "N2", 0), (3, "N3", 0)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(_os.path.join(d, "nation.parquet"))

    # x100: order 1 last ship = day 11 -> 10 days; order 2 -> 1 day.
    # URGENT gaps [1, 10] with n=2: BOTH rank targets are
    # 1 + (2-1)*q//100 = 1 -> p50 = p90 = 1 (the discrete definition);
    # LOW order 3 -> 5
    lat = {
        r.o_orderpriority: (r.n_orders, r.p50_days, r.p90_days)
        for r in QUERIES["x100_fulfillment_latency"](spark, d).collect()
    }
    assert lat == {"1-URGENT": (2, 1, 1), "5-LOW": (1, 5, 5)}

    # x101: BUILDING has 1 buyer with 2 orders (repeat), AUTO 1 with 1
    loy = {
        r.c_mktsegment: (
            r.n_buyers, r.repeat_buyers, r.repeat_share_milli,
            r.p50_orders, r.p90_orders,
        )
        for r in QUERIES["x101_segment_loyalty"](spark, d).collect()
    }
    assert loy == {
        "BUILDING": (1, 1, 1000, 2, 2),
        "AUTO": (1, 0, 0, 1, 1),
    }

    # x104: N1 exports orders 1+2 revenue (10+10+20*0.5=30.00), N2
    # exports 40.00; N0 imports orders 1+2 (30.00), N1 imports order 3
    # (40.00); N3 has nothing on either side
    bal = {
        r.n_name: (
            float(r.export_rev), float(r.import_rev), float(r.balance)
        )
        for r in QUERIES["x104_nation_trade_balance"](spark, d).collect()
    }
    assert bal == {
        "N0": (0.0, 30.0, -30.0),
        "N1": (30.0, 40.0, -10.0),
        "N2": (40.0, 0.0, 40.0),
        "N3": (0.0, 0.0, 0.0),
    }


def test_x103_null_source_and_share_law(spark):
    """x103: NULL sources fold into '(null)'; within-source shares are
    exact millis of the source's docs."""
    from cubefs_hadoop_spark.extensions.text import source_lang_matrix

    docs = spark.createDataFrame(
        [(1, "a", "en", None, 10), (2, "b", "en", None, 20),
         (3, "c", "de", None, 30), (4, "d", "en", "web", 5)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        (r.source, r.lang): (r.n_docs, r.share_in_source_milli,
                             r.total_chars)
        for r in source_lang_matrix(docs).collect()
    }
    assert got == {
        ("(null)", "en"): (2, 666, 30),
        ("(null)", "de"): (1, 333, 30),
        ("web", "en"): (1, 1000, 5),
    }


def test_x107_returning_share_crafted(spark):
    """x107: a user active in weeks 0 and 1 counts as returning in week
    1; a week-0-only user does not; share arithmetic exact."""
    import datetime as dt

    from cubefs_hadoop_spark.extensions.behavior import weekly_active_users

    d0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, d0, 1, "view"),
        (2, d0, 2, "view"),
        (3, d0 + dt.timedelta(days=7), 1, "view"),   # u1 returns wk 1
        (4, d0 + dt.timedelta(days=8), 3, "view"),   # u3 new in wk 1
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )
    got = {
        r.week: (r.wau, r.returning_users, r.returning_share_milli)
        for r in weekly_active_users(ev).collect()
    }
    assert got == {0: (2, 0, 0), 1: (2, 1, 500)}


def test_x108_dup_rate_law(spark):
    """x108 over the smoke corpus: per-source duplicates sum to the
    global x51 removable count, and every share is duplicates*1000 //
    n_docs."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.dedup import source_dup_rate
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")
    rows = source_dup_rate(docs).collect()
    assert rows
    for r in rows:
        assert r.dup_share_milli == 1000 * r.duplicates // r.n_docs
        assert 0 <= r.duplicates <= r.n_docs
    total_docs = sum(r.n_docs for r in rows)
    assert total_docs == docs.count()


def test_x112_x113_crafted_witnesses(spark):
    """x112: the spike flag is integer-exact over the trailing-7-
    observed-days baseline and NULL before it fills; x113: an item
    counts as new only in its first-ever purchase week."""
    import datetime as dt

    from cubefs_hadoop_spark.extensions.behavior import (
        catalog_turnover,
        revenue_spike_days,
    )

    rows = []
    eid = 0
    # 8 purchase days: 7 at $1.00, day 8 at $2.01 (2.01*7 > 2*7 -> spike)
    for dday in range(7):
        rows.append((eid, dt.datetime(2024, 1, 1 + dday), 1, "purchase", 1.00, None)); eid += 1
    rows.append((eid, dt.datetime(2024, 1, 8), 1, "purchase", 2.01, None)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    got = {r.day.isoformat(): (r.rev_cents, r.trailing7_cents, r.spike)
           for r in revenue_spike_days(ev).collect()}
    assert got["2024-01-01"] == (100, None, None)       # empty baseline
    assert got["2024-01-07"][2] is None                 # only 6 prior days
    assert got["2024-01-08"] == (201, 700, True)        # 201*7 > 1400
    # and a non-spike: replace day 8 value with 2.00 -> 1400 == 1400
    ev2 = spark.createDataFrame(
        rows[:-1] + [(99, dt.datetime(2024, 1, 8), 1, "purchase", 2.00, None)],
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    got2 = {r.day.isoformat(): r.spike for r in revenue_spike_days(ev2).collect()}
    assert got2["2024-01-08"] is False                  # exactly 2x is NOT a spike

    # x113: item 5 bought weeks 0 and 1 -> new only in week 0; item 7
    # first appears week 1
    tr = [
        (1, dt.datetime(2024, 1, 1), 1, "purchase", 1.0, '{"k": 5}'),
        (2, dt.datetime(2024, 1, 8), 2, "purchase", 1.0, '{"k": 5}'),
        (3, dt.datetime(2024, 1, 9), 3, "purchase", 1.0, '{"k": 7}'),
    ]
    ev3 = spark.createDataFrame(
        tr,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    got3 = {r.week: (r.items, r.new_items)
            for r in catalog_turnover(ev3).collect()}
    assert got3 == {0: (1, 1), 1: (2, 1)}


def test_dot_seq_bit_identical_to_aggregate_form(spark):
    """The unrolled codegen dot (_dot_seq) must be bit-equal to the
    aggregate/zip_with form at the fixture width (64), at a ragged width
    (the CASE fallback branch), and on NULL arrays — the r15 optimization
    swaps evaluation strategy, never the value (FP contract,
    similarity.py)."""
    from cubefs_hadoop_spark.extensions.similarity import _DOT, _dot_seq

    emb = load(spark, SF_SMOKE, "embeddings")
    a = emb.select(F.col("vec_id").alias("da"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("db"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("da") < F.col("db"))
    # full width (unrolled branch), ragged width 17 (fallback branch)
    for ea, eb in [("ea", "eb"), ("slice(ea, 1, 17)", "slice(eb, 1, 17)")]:
        cmp = pairs.select(
            F.expr(_DOT.format(a=ea, b=eb)).alias("o"),
            F.expr(_dot_seq(ea, eb)).alias("n"),
        )
        bad = cmp.filter(
            ~(
                (F.col("o") == F.col("n"))
                | (F.isnan("o") & F.isnan("n"))
                | (F.col("o").isNull() & F.col("n").isNull())
            )
        ).count()
        assert bad == 0, f"dot mismatch for ({ea}, {eb})"
    # NULL array propagates NULL through both forms
    row = (
        spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS ea, array(1.0d) AS eb")
        .select(
            F.expr(_DOT.format(a="ea", b="eb")).alias("o"),
            F.expr(_dot_seq("ea", "eb")).alias("n"),
        )
        .first()
    )
    assert row.o is None and row.n is None


def test_srp_pairs_distinct_after_verify_matches_pre_distinct(spark):
    """r15 moved the SRP candidate distinct after the cosine gate; the
    returned pair SET must equal the old candidates-first-distinct
    pipeline exactly (band-duplicate pairs verify to bit-identical c)."""
    from cubefs_hadoop_spark.extensions.semantic import (
        _X13_H,
        _X13_TAU,
        srp_neardup_pairs,
        srp_signatures,
        verify_pairs,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    got = sorted(
        (r.da, r.db, r.c) for r in srp_neardup_pairs(emb, hp).collect()
    )
    sig = srp_signatures(emb, hp)
    a = sig.select(F.col("vec_id").alias("da"), "band", "key")
    b = sig.select(F.col("vec_id").alias("db"), "band", "key")
    cand_old = (
        a.join(b, ["band", "key"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    want = sorted(
        (r.da, r.db, r.c)
        for r in verify_pairs(cand_old, emb, _X13_TAU).collect()
    )
    assert got == want and len(got) > 0
