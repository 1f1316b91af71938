"""End-to-end training-data pipeline: the composition test.

ingest -> language ID -> quality gate -> redaction -> exact dedup ->
near-dup dedup (MinHash-LSH candidates + connected components) ->
train/test split -> partitioned write through the Engine.

Every stage is an operator tested in isolation elsewhere; this test proves
they compose into one lazy DataFrame program (single logical plan per
materialization, no driver-side row loops) and that the output warehouse
has the expected shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.engine import Engine
from cubefs_hadoop_spark.extensions import dedup as dd
from cubefs_hadoop_spark.extensions.components import dedup_keep_list
from cubefs_hadoop_spark.extensions.text import hash_split, langid_scores
from tests.conftest import SF_SMOKE


def test_full_training_data_pipeline(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    docs = load(spark, SF_SMOKE, "documents")
    n_raw = docs.count()

    # 1. language ID + quality signals (pure codegen expressions)
    ws = F.split("text", " ")
    scored = langid_scores(docs).withColumn("words", F.size(ws))

    # 2. quality gate: drop too-short docs
    gated = scored.filter(F.col("words") >= 5)

    # 3. redaction sweep
    clean = gated.withColumn(
        "text", F.regexp_replace("text", r"\b(customer|key)\b", "[X]")
    )

    # 4. exact dedup on content hash
    exact = clean.withColumn("h", F.sha2("text", 256)).dropDuplicates(["h"])

    # 5. near-dup dedup: LSH candidates -> components -> keep representative
    pairs = (
        dd.lsh_bands(dd.minhash_signature(exact)).alias("a")
        .join(
            dd.lsh_bands(dd.minhash_signature(exact)).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    kept = dedup_keep_list(exact, pairs)

    # 6. deterministic split + partitioned write through the Engine
    final = hash_split(kept, "text", train_pct=80).select(
        "doc_id", "text", "lang_pred", "words", "split"
    )
    eng.write_table(final, "corpus", partition_by=["split"])

    # shape checks
    n_final = eng.table("corpus").count()
    assert 0 < n_final <= n_raw
    assert n_final < n_raw  # fixture contains true near-dups; some dropped
    on_disk = eng.table("corpus")
    splits = {r.split for r in on_disk.select("split").distinct().collect()}
    assert splits == {"train", "test"}
    # partition layout exists (split=train/ split=test dirs)
    import os

    tbl = os.path.join(str(tmp_path / "wh"), "default", "corpus")
    assert {d for d in os.listdir(tbl) if d.startswith("split=")} == {
        "split=train",
        "split=test",
    }
    # deterministic: rerunning the split assigns identically (collect-
    # compare: exceptAll over two shared-lineage frames trips a Catalyst
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1)
    again = hash_split(kept, "text", train_pct=80).select("doc_id", "split")
    a = sorted((r.doc_id, r.split) for r in final.select("doc_id", "split").collect())
    b = sorted((r.doc_id, r.split) for r in again.collect())
    assert a == b
    # no doc lost without cause: raw = final + short + exact-dups + near-dups
    n_gated = gated.count()
    n_exact = exact.count()
    assert n_raw - n_gated >= 0
    assert n_gated - n_exact >= 0
    assert n_exact - n_final >= 0


def test_incremental_ingest_pipeline(spark, tmp_path):
    """Round-5 composition — the steady-state ingest loop of a GROWING
    corpus: versioned table + persisted LSH index; each arriving batch
    signs only itself, drops docs that near-dup the corpus or each
    other, upserts merge-on-read (O(batch) commit), and folds its bands
    into the index.  A replayed batch adds nothing."""
    eng = Engine(spark, str(tmp_path / "wh"))
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    idx = str(tmp_path / "lsh_idx")

    eng.write_table_version(corpus, "corpus")
    dd.lsh_build_index(corpus, idx)
    n0 = eng.table("corpus").count()

    def ingest(new_docs):
        # exact tier first: docs already in the corpus (same id — e.g. a
        # replayed batch) never reach the near-dup stage
        new_docs = new_docs.join(
            eng.table("corpus").select("doc_id"), "doc_id", "left_anti"
        )
        if new_docs.isEmpty():
            return 0
        pairs = dd.lsh_incremental_candidates(new_docs, idx)
        # keep-first policy: in every candidate pair the LARGER doc_id is
        # the newer one (corpus ids < batch ids; within-batch da < db) —
        # drop it
        fresh = new_docs.join(
            pairs.select(F.col("db").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        n_new = fresh.count()
        if n_new:
            eng.merge_table(fresh, "corpus", on="doc_id", strategy="mor")
            dd.lsh_index_append(fresh, idx)
        return n_new

    added = ingest(batch)
    assert 0 < added < batch.count()  # fixture has cross-batch near-dups
    assert eng.table("corpus").count() == n0 + added
    from cubefs_hadoop_spark import versioning

    m = versioning.read_manifest(
        eng._table_path("corpus"),
        versioning.current_version(eng._table_path("corpus")),
    )
    assert m["mode"] == "merge"  # O(batch) commit, no corpus rewrite

    # replay the SAME batch: every doc now collides with its folded copy
    assert ingest(batch) == 0
    assert eng.table("corpus").count() == n0 + added


def test_vector_curation_pipeline(spark, tmp_path):
    """Round-5 composition, embedding side: SemDeDup prunes the initial
    corpus; the curated table + a persisted SRP index then ingest a new
    batch incrementally — batch vectors that near-dup the curated corpus
    (exact-verified cosine) or each other are dropped, survivors append
    and fold into the index."""
    from cubefs_hadoop_spark.extensions import semantic as sem

    eng = Engine(spark, str(tmp_path / "wh"))
    emb = load(spark, SF_SMOKE, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)

    # 1. SemDeDup the initial corpus (centroids seeded from it)
    cents = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    flags = sem.semantic_dedup(corpus, cents)
    curated = corpus.join(
        flags.filter(F.col("kept")).select("vec_id"), "vec_id"
    )
    n0 = curated.count()
    assert 0 < n0 < corpus.count()  # fixture has semantic dups
    eng.write_table_version(curated, "vectors")

    # 2. persisted SRP index over the CURATED corpus
    hp = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    idx = str(tmp_path / "srp_idx")
    sem.srp_build_index(curated, hp, idx)

    # 3. incremental ingest: probe, exact-verify, drop the newer side
    cand = sem.srp_incremental_candidates(batch, hp, idx)
    dup_new = (
        sem.verify_pairs(cand, curated.unionByName(batch), tau=0.4)
        .select(F.col("db").alias("vec_id"))
        .distinct()
    )
    fresh = batch.join(dup_new, "vec_id", "left_anti")
    added = fresh.count()
    assert 0 < added <= batch.count()
    eng.merge_table(fresh, "vectors", on="vec_id", strategy="mor")
    sem.srp_index_append(fresh, hp, idx)
    assert eng.table("vectors").count() == n0 + added

    # 4. replaying the batch adds nothing: survivors are caught by the
    #    exact-id tier (same contract as the text-side ingest loop —
    #    the SRP probe's `a.vec_id != b.vec_id` guard deliberately skips
    #    same-id self-collisions), dropped vectors re-collide as before
    replay = batch.join(
        eng.table("vectors").select("vec_id"), "vec_id", "left_anti"
    )
    cand2 = sem.srp_incremental_candidates(replay, hp, idx)
    dup2 = (
        sem.verify_pairs(
            cand2, eng.table("vectors").unionByName(replay), tau=0.4
        )
        .select(F.col("db").alias("vec_id"))
        .distinct()
    )
    assert replay.join(dup2, "vec_id", "left_anti").isEmpty()


def test_curation_to_training_layout_pipeline(spark, tmp_path):
    """Late-round-5 composition — from raw corpus to a training-ready,
    scan-skippable layout using the curation + layout tiers end to end:

      segment dedup (x16) -> per-source token budget (x17) ->
      curriculum rank (x18) -> sequence packing (x14) over the
      curriculum order -> versioned write -> OPTIMIZE ZORDER ->
      predicate-pruned read serving a rank range (the "give me the
      easiest N chunks" training-loader query).
    """
    from cubefs_hadoop_spark import versioning
    from cubefs_hadoop_spark.extensions.curation import (
        curriculum_order,
        segment_dedup,
        token_budget_sample,
    )
    from cubefs_hadoop_spark.extensions.packing import sequence_pack

    eng = Engine(spark, str(tmp_path / "wh"))
    docs = load(spark, SF_SMOKE, "documents")

    # 1. strip corpus-wide repeated spans; keep docs that still have text
    deduped = segment_dedup(docs).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    survivors = deduped.join(
        docs.select("doc_id", "source"), "doc_id"
    )

    # 2. per-source token budget over the deduped text
    picked = token_budget_sample(survivors, budget=800).select("doc_id")
    corpus = survivors.join(picked, "doc_id")

    # 3. curriculum rank (longest documents first) drives the pack order
    ranked = curriculum_order(
        corpus.withColumn("n_chars", F.length("text")), "n_chars"
    )
    ordered = corpus.join(ranked, "doc_id").select(
        F.col("rank").alias("doc_id_packed"), "text"
    )

    # 4. concat-and-chunk packing over the curriculum order: rank is the
    # packing id, so chunk 0 holds the easiest (longest) documents
    packed = sequence_pack(ordered, seq_len=64, id_col="doc_id_packed")
    n_tokens = ordered.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).first().t
    per_chunk = {
        r.chunk_id: r.t
        for r in packed.groupBy("chunk_id")
        .agg(F.sum("tok_in_chunk").alias("t"))
        .collect()
    }
    last = max(per_chunk)
    assert all(v == 64 for c, v in per_chunk.items() if c != last)
    assert sum(per_chunk.values()) == n_tokens  # conservation

    # 5. land the pack map as a versioned, Z-ordered, stats-carrying table
    eng.write_table_version(
        packed.repartitionByRange(4, "chunk_id"),
        "packmap",
        stats_cols=["chunk_id"],
    )
    eng.optimize_table(
        "packmap",
        zorder_by=["chunk_id", "doc_id_packed"],
        target_file_bytes=1 << 10,  # fixture-sized files; 128 MiB at scale
    )

    # 6. training-loader query: first chunks only, served off a pruned scan
    m = versioning.read_manifest(
        eng._table_path("packmap"),
        versioning.current_version(eng._table_path("packmap"), eng.fs),
        eng.fs,
    )
    preds = [("chunk_id", "<", 2)]
    assert len(versioning.prune_files(m, preds)) < len(m["files"])
    first_chunks = eng.read_version("packmap", predicates=preds).collect()
    assert {r.chunk_id for r in first_chunks} <= {0, 1}
    assert sum(r.tok_in_chunk for r in first_chunks) == min(
        128, n_tokens
    )


def test_governed_lakehouse_loop(spark, tmp_path):
    """Late-round-5 composition of the lakehouse tier on ONE base table:
    expectation-gated versioned appends with prune stats, an immutable
    baseline tag, an incrementally-maintained materialized view, and a
    CDC stream tail — all observing the same manifest chain."""
    from cubefs_hadoop_spark import versioning
    from cubefs_hadoop_spark.errors import EngineIOError
    from cubefs_hadoop_spark.sources.table_source import register

    eng = Engine(spark, str(tmp_path / "wh"))
    register(spark)

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")

    # v1 lands gated + statted; tag it as the audited baseline
    eng.write_table_version(
        batch(0, 50), "b", checks=["v IS NOT NULL"], stats_cols=["id"]
    )
    eng.tag_table("b", "audited")

    # a violating batch is refused and leaves NO new version
    bad = spark.range(50, 60).selectExpr(
        "id", "CASE WHEN id < 55 THEN id * 2 END AS v"
    )
    try:
        eng.write_table_version(bad, "b", mode="append", checks=["v IS NOT NULL"])
        raise AssertionError("expected refusal")
    except EngineIOError:
        pass
    assert eng.table_versions("b") == [1]

    # a clean second batch lands; MV follows incrementally
    eng.create_materialized_view(
        "evens", "SELECT id, v FROM b WHERE id % 2 = 0", base="b"
    )
    eng.write_table_version(
        batch(50, 80), "b", mode="append", stats_cols=["id"]
    )
    assert eng.refresh_materialized_view("evens")["mode"] == "incremental"
    assert eng.table("evens").count() == 40

    # CDC stream from the tagged baseline replays exactly the post-tag rows
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("cfstable")
        .option("path", eng._table_path("b"))
        .option("startingversion", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.id for r in spark.read.parquet(out_dir).collect())
    assert got == list(range(50, 80))

    # GC keeps the tagged baseline; pruned reads stay exact afterwards
    versioning.expire_versions(eng._table_path("b"), keep_last=1, fs=eng.fs)
    assert eng.read_version("b", "audited").count() == 50
    sel = eng.read_version("b", predicates=[("id", ">=", 70)])
    assert sorted(r.id for r in sel.collect()) == list(range(70, 80))


def test_target_domain_coreset_pipeline(spark, tmp_path):
    """Round-6 composition: DSIR target-domain scoring -> top-half keep ->
    RAG chunking of the kept docs, while the embedding side folds an
    ingest batch into the centroid state and selects per-label prototypes.
    Proves the new operators chain in one lazy program per branch and
    agree with their isolated-run results."""
    from pyspark.sql.window import Window

    from cubefs_hadoop_spark.extensions.behavior import sessionize
    from cubefs_hadoop_spark.extensions.curation import chunk_documents
    from cubefs_hadoop_spark.extensions.search import dsir_weights
    from cubefs_hadoop_spark.extensions.semantic import (
        centroid_state_build,
        centroid_state_fold,
        prototype_selection,
    )

    docs = load(spark, SF_SMOKE, "documents")
    # text branch: score against the 'en' slice, keep the top half per
    # source (deterministic rank), chunk only the kept docs
    w = dsir_weights(docs, F.col("lang") == "en")
    ranked = docs.join(w, "doc_id").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("weight_milli").desc(), "doc_id"
            )
        ),
    )
    cnt = ranked.groupBy("source").agg(F.max("r").alias("n"))
    kept = ranked.join(cnt, "source").filter(
        F.col("r") <= (F.col("n") + 1) / 2
    )
    chunks = chunk_documents(kept.select("doc_id", "text"))
    n_kept = kept.count()
    assert 0 < n_kept < docs.count()
    # every kept doc chunks (>=1 chunk each), no dropped rows
    assert chunks.select("doc_id").distinct().count() == n_kept

    # embedding branch: state built from an initial corpus, ingest batch
    # folded, prototypes selected from the refreshed centroids' corpus
    emb = load(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "cent_state")
    centroid_state_build(emb.filter(F.col("vec_id") < 250), idx)
    refreshed = centroid_state_fold(emb.filter(F.col("vec_id") >= 250), idx)
    protos = prototype_selection(emb, k=3)
    assert refreshed.count() > 0
    per_label = {
        r.label: r.n
        for r in protos.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert per_label and all(n <= 3 for n in per_label.values())

    # event branch: sessions summarize and never exceed their event count
    sess = sessionize(load(spark, SF_SMOKE, "events"))
    tot = sess.agg(F.sum("events").alias("n")).collect()[0].n
    assert tot == load(spark, SF_SMOKE, "events").count()


def test_subword_layout_pipeline(spark, tmp_path):
    """Round-7 composition: tokenize -> subword budget -> subword pack
    chain lazily in one program, and the packed layout conserves exactly
    the budget-selected documents' subword counts; the blob inventory's
    canonical set composes with a dedup filter."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.curation import token_budget_sample
    from cubefs_hadoop_spark.extensions.multimodal import (
        MEDIA_FIXTURE,
        blob_inventory,
    )
    from cubefs_hadoop_spark.extensions.packing import sequence_pack
    from cubefs_hadoop_spark.extensions.tokenize import (
        _subword_count,
        subword_counts,
    )

    docs = load(spark, SF_SMOKE, "documents")
    picked = token_budget_sample(
        docs, budget=700, tokens=_subword_count(F.col("text"))
    )
    packed = sequence_pack(
        picked.select("doc_id", F.col("tokens").alias("subtok")),
        seq_len=64,
        tokens_col="subtok",
    )
    # conservation through the chain: packed spans sum to the selected
    # docs' subword counts exactly
    total_packed = packed.agg(F.sum("tok_in_chunk")).first()[0]
    want = (
        picked.join(subword_counts(docs), "doc_id")
        .agg(F.sum("n_subwords"))
        .first()[0]
    )
    assert total_packed == want

    # media branch: keep one payload per digest (the canonical id), and
    # the kept set holds exactly the distinct-digest count
    inv = blob_inventory(spark.read.parquet(MEDIA_FIXTURE))
    kept = inv.filter(F.col("media_id") == F.col("canonical_id"))
    assert kept.count() == inv.select("digest").distinct().count()


def test_dedup_then_score_then_train_pipeline(spark, tmp_path):
    """Late-round-7 composition: ExactSubstr span REMOVAL (x38b) feeds
    its cleaned corpus into bigram-LM fluency scoring (x40) and BPE
    tokenizer training (x39) — one lazy program per branch.  Removing
    duplicated passages must not break the scorers: every cleaned doc
    with >= 2 surviving words gets a score, and BPE merges learned on
    the cleaned corpus stay a pure function of it (two runs agree)."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.dedup import remove_duplicate_spans
    from cubefs_hadoop_spark.extensions.search import bigram_lm_score
    from cubefs_hadoop_spark.extensions.sketch import (
        cms_estimates,
        count_min_cells,
    )
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    docs = load(spark, SF_SMOKE, "documents")
    cleaned = (
        remove_duplicate_spans(docs)
        .filter(F.col("kept_words") >= 2)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", F.col("cleaned_text").alias("text"), "lang")
    )
    n_clean = cleaned.count()
    assert 0 < n_clean <= docs.count()

    scored = bigram_lm_score(cleaned, F.col("lang") == "en")
    assert scored.count() == n_clean
    assert all(float(r.bigram_lp) < 0 for r in scored.collect())

    m1, s1 = bpe_train(cleaned, n_merges=4)
    m2, s2 = bpe_train(cleaned.repartition(9), n_merges=4)
    s1.unpersist()
    s2.unpersist()
    assert m1 == m2 and len(m1) == 4

    # sketch branch: CMS counters built on the cleaned corpus still hold
    # the whole cleaned stream (mass conservation survives composition)
    w = cleaned.select(F.explode(F.split("text", " ")).alias("word"))
    cells = count_min_cells(w)
    n_words = w.count()
    assert all(
        r.mass == n_words
        for r in cells.groupBy("row").agg(F.sum("c").alias("mass")).collect()
    )
    est = cms_estimates(w.distinct(), cells)
    exact = w.groupBy("word").count()
    joined = est.join(exact, "word").collect()
    assert joined and all(r.cms_est >= r["count"] for r in joined)


def test_monitored_quality_blend_pipeline(spark, tmp_path):
    """Drift-gated curation: x48 scores every source's distribution
    drift, sources under the alert threshold feed x47's
    histogram-percentile quality blend (percentiles recomputed over the
    SURVIVING population — the gate changes the distribution, so the
    blend must re-normalize), and the kept docs land in a partitioned
    warehouse table.  One lazy program per materialization; the
    monitoring pass and the curation pass share no driver-side row
    loops."""
    from cubefs_hadoop_spark.extensions.curation import (
        _X47_KEEP,
        _x47_signals,
        hist_percentile,
    )
    from cubefs_hadoop_spark.queries import QUERIES

    eng = Engine(spark, str(tmp_path / "wh"))
    docs = load(spark, SF_SMOKE, "documents")

    # 1. monitor: per-source drift table (x48); gate = L1 below the
    # fixture's median drift (keeps ~half the sources)
    drift = QUERIES["x48_source_drift"](spark, SF_SMOKE)
    l1s = sorted(r.l1_milli for r in drift.collect())
    gate = l1s[len(l1s) // 2]
    ok_sources = drift.filter(F.col("l1_milli") <= gate).select("source")
    survivors = docs.join(F.broadcast(ok_sources), "source", "left_semi")
    n_surv = survivors.count()
    assert 0 < n_surv < docs.count()

    # 2. curate: quality blend re-normalized over the survivors
    base = _x47_signals(survivors)
    for s in ("s1", "s2", "s3"):
        base = hist_percentile(base, s)
    blended = base.withColumn(
        "blend",
        F.expr("(40 * pct_s1 + 30 * pct_s2 + 30 * pct_s3) div 100"),
    )
    kept = blended.filter(F.col("blend") >= _X47_KEEP)
    n_kept = kept.count()
    assert 0 < n_kept < n_surv

    # 3. land: partitioned by blend decile, auditable scores carried
    out = kept.withColumn("decile", F.expr("blend div 100"))
    eng.write_table(out, "curated_blend", partition_by=["decile"], mode="overwrite")
    back = eng.table("curated_blend")
    assert back.count() == n_kept
    # the percentile columns survived into the warehouse (auditability)
    assert {"pct_s1", "pct_s2", "pct_s3", "blend"} <= set(back.columns)
    # survivors-only population: every landed doc's source passed the
    # gate (the signal frame is doc_id-keyed; recover source via docs)
    bad = (
        back.select("doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .join(F.broadcast(ok_sources), "source", "left_anti")
        .count()
    )
    assert bad == 0


def test_preflight_audited_mixture_pipeline(spark, tmp_path):
    """Round-8 composition — audits route the plan, then the recipe
    lands: the key-skew profile (x52) reads the event stream's hottest
    key and picks x34b's bucketed sessionize iff its share crosses a
    policy line (both plans are hash-equal, so the choice is pure
    economics); the LSH bucket audit (x53) proves the pinned-config
    candidate-pair term that motivates auto-sizing; the
    temperature-flattened mixture (x54) then selects the training set
    and lands it partitioned by source, with per-source quotas exactly
    respected in the warehouse."""
    from cubefs_hadoop_spark.extensions.behavior import (
        sessionize,
        sessionize_bucketed,
    )
    from cubefs_hadoop_spark.queries import QUERIES

    eng = Engine(spark, str(tmp_path / "wh"))
    events = load(spark, SF_SMOKE, "events")
    docs = load(spark, SF_SMOKE, "documents")

    # 1. pre-flight: skew profile routes the sessionize plan
    prof = QUERIES["x52_skew_profile"](spark, SF_SMOKE).collect()
    hottest_milli = prof[0].share_milli
    sess_fn = sessionize_bucketed if hottest_milli > 100 else sessionize
    sessions = sess_fn(events)
    # whichever plan the profile picked, the output is the x34 function
    want = {
        (r.user_id, r.session_idx): r.events
        for r in sessionize(events).collect()
    }
    got = {
        (r.user_id, r.session_idx): r.events for r in sessions.collect()
    }
    assert got == want

    # 2. pre-flight: the bucket audit's pair term bounds the pair join
    # the x13 pipeline would run (total candidates <= sum over bands)
    audit = QUERIES["x53_lsh_bucket_audit"](spark, SF_SMOKE).collect()
    total_band_pairs = sum(r.cand_pairs for r in audit)
    distinct_pairs = QUERIES["x13_srp_lsh"](spark, SF_SMOKE).count()
    assert distinct_pairs <= total_band_pairs

    # 3. recipe: temperature mixture -> partitioned landing; quotas
    # exactly respected per source
    mix = QUERIES["x54_temperature_mixture"](spark, SF_SMOKE)
    eng.write_table(
        mix.join(docs.select("doc_id", "text"), "doc_id"),
        "training_mix",
        partition_by=["source"],
        mode="overwrite",
    )
    back = eng.table("training_mix")
    landed = {
        r.source: r.c
        for r in back.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    quotas = {r.source: r.quota for r in mix.select("source", "quota").distinct().collect()}
    assert landed == quotas


def test_priced_curation_pipeline(spark, tmp_path):
    """Round-10 composition — every stage is PRICED by its audit before
    it runs, then the accounting reconciles with what actually landed:
    the rejection funnel's 'kept' rows ARE the gate stack's survivors;
    the packing forecast's token mass equals what x14 actually packs,
    and packing uses no more chunks than the forecast's split-segment
    bound; the token-yield forecast equals the token mass an x28
    keep-canonical pass actually deletes; the shard-balance audit's
    per-shard doc counts equal the partitioned warehouse landing."""
    from cubefs_hadoop_spark.extensions.curation import (
        _X67_S,
        shard_balance,
    )
    from cubefs_hadoop_spark.extensions.packing import _X14_S
    from cubefs_hadoop_spark.extensions.text import filter_drop_flags
    from cubefs_hadoop_spark.queries import QUERIES

    docs = load(spark, SF_SMOKE, "documents")
    eng = Engine(spark, str(tmp_path / "wh"))

    # 1. funnel prices the gate stack; its kept count == the survivors
    funnel = QUERIES["x63_rejection_funnel"](spark, SF_SMOKE).collect()
    kept_forecast = sum(r.n_docs for r in funnel if r.stage == "kept")
    flags = filter_drop_flags(docs, keep=("doc_id",))
    survivors = flags.filter(
        ~F.col("dq") & ~F.col("ds") & ~F.col("dr")
    ).select("doc_id")
    assert survivors.count() == kept_forecast

    # 2. packing forecast vs the actual x14 layout on the full corpus:
    # token mass reconciles exactly; concat-and-chunk uses no more
    # chunks than the per-doc split-segment bound the forecast prices
    fc = QUERIES["x65_packing_forecast"](spark, SF_SMOKE).collect()
    packed = QUERIES["x14_sequence_pack"](spark, SF_SMOKE)
    tok_mass = packed.agg(F.sum("tok_in_chunk")).first()[0]
    assert sum(r.tokens for r in fc) == tok_mass
    n_chunks = packed.select("chunk_id").distinct().count()
    assert n_chunks <= sum(r.segments for r in fc)
    assert n_chunks == (tok_mass + _X14_S - 1) // _X14_S

    # 3. token-yield forecast == what keep-canonical actually deletes
    yld = QUERIES["x69_dedup_token_yield"](spark, SF_SMOKE).collect()
    canon = QUERIES["x28_canonical_dedup"](spark, SF_SMOKE)
    tk = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("tk")
    )
    deleted = (
        canon.filter(F.col("doc_id") != F.col("canonical"))
        .join(tk, "doc_id")
        .agg(F.sum("tk"))
        .first()[0]
    )
    assert sum(r.tokens_removable for r in yld) == (deleted or 0)

    # 4. shard audit prices the landing; the landed partitions match it
    audit = {r.shard: r.n_docs for r in shard_balance(docs).collect()}
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
               16, 10).cast("long") % _X67_S
    )
    eng.write_table(
        docs.withColumn("shard", shard),
        "training_shards",
        partition_by=["shard"],
        mode="overwrite",
    )
    landed = {
        r.shard: r.c
        for r in eng.table("training_shards")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert landed == audit


def test_preflight_to_centrality_election_pipeline(spark, tmp_path):
    """Round-11 composition — the dedup go/no-go loop end to end: the
    composed preflight (x75) reads quality + banding frontier +
    containment off ONE materialized join and its numbers reconcile
    with the standalone audits; the election then runs
    centrality-aware (x82) and its removal accounting ties exactly to
    the min-id election (x28), the doc-yield forecast (x51), and the
    token-yield forecast (x69); the kept canonicals land in the
    warehouse with one row per component."""
    from cubefs_hadoop_spark.queries import QUERIES

    eng = Engine(spark, str(tmp_path / "wh"))
    docs = load(spark, SF_SMOKE, "documents")

    # 1. the preflight dashboard: one pass, sections reconcile with the
    # standalone audits the driver hash-gates separately
    pre = {
        (r.section, r.metric): r.value
        for r in QUERIES["x75_lsh_preflight"](spark, SF_SMOKE).collect()
    }
    q = QUERIES["x61_lsh_quality_audit"](spark, SF_SMOKE).first()
    assert pre[("quality", "recall_milli")] == q.recall_milli
    assert pre[("quality", "n_candidates")] == q.n_candidates
    for r in QUERIES["x71_banding_planner"](spark, SF_SMOKE).collect():
        sec = f"banding_{r.bands}x{r.rows_per_band}"
        assert pre[(sec, "exp_recall_milli")] == r.exp_recall_milli

    # 2. proceed iff the current banding's measured recall clears the
    # policy line (the fixture's does) — then elect canonicals by
    # centrality; removal accounting must tie across elections and
    # forecasts: x82 and x28 drop the SAME number of docs (one keeper
    # per component), which equals x51's n_removable total
    assert pre[("quality", "recall_milli")] >= 500
    x82 = QUERIES["x82_centrality_canonical"](spark, SF_SMOKE).collect()
    dropped_82 = sum(1 for r in x82 if not r.kept)
    x28 = QUERIES["x28_canonical_dedup"](spark, SF_SMOKE).collect()
    dropped_28 = sum(1 for r in x28 if r.doc_id != r.canonical)
    assert dropped_82 == dropped_28
    yld = QUERIES["x51_dedup_yield"](spark, SF_SMOKE).collect()
    assert dropped_82 == sum(r.n_removable for r in yld)
    # token forecast covers every multi-doc cluster's mass exactly
    tok = QUERIES["x69_dedup_token_yield"](spark, SF_SMOKE).collect()
    assert sum(r.n_clusters for r in tok) == sum(r.n_clusters for r in yld)

    # 3. land the deduped corpus: exactly one kept doc per component,
    # corpus minus removable rows survive
    kept_ids = [r.doc_id for r in x82 if r.kept]
    deduped = docs.filter(F.col("doc_id").isin(kept_ids))
    eng.write_table(deduped, "deduped_corpus", mode="overwrite")
    n_total = docs.count()
    assert eng.table("deduped_corpus").count() == n_total - dropped_82
    # canonical set is a transversal: one per component
    comp_of = {r.doc_id: r.canonical for r in x82}
    assert len({comp_of[d] for d in kept_ids}) == len(kept_ids)
