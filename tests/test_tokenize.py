"""Subword tokenization (x37/x17b): MaxMatch semantics, conservation,
determinism, null handling, and budget-variant behavior; BPE training
(x39) against independent references."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


def _toks(spark, rows):
    """Tokenize a tiny crafted frame; returns {doc_id: (n_words, n_subwords, toks)}."""
    from cubefs_hadoop_spark.extensions.tokenize import subword_tokenize

    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = subword_tokenize(df).collect()
    return {r.doc_id: (r.n_words, r.n_subwords, r.toks) for r in out}


def test_greedy_longest_match_crafted(spark):
    """MaxMatch picks the LONGEST vocab entry at each position; unknown
    chars fall back to single-char tokens (never fails)."""
    got = _toks(
        spark,
        [
            ("a", "the"),  # exact vocab entry
            ("b", "window"),  # win|dow (5/4-gram misses, 3-grams hit)
            ("c", "customer"),  # cus|tom|er
            ("d", "zzz"),  # no vocab entry contains z: z|z|z
            ("e", "x"),  # single unknown char
        ],
    )
    assert got["a"] == (1, 1, "the")
    assert got["b"] == (1, 2, "win|dow")
    assert got["c"] == (1, 3, "cus|tom|er")
    assert got["d"] == (1, 3, "z|z|z")
    assert got["e"] == (1, 1, "x")


def test_conservation_on_fixture(spark):
    """concat(subwords) == word for EVERY word of every fixture doc:
    stripping the '|' separators reproduces the original text exactly."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import subword_tokenize

    docs = load(spark, SF_SMOKE, "documents")
    joined = (
        subword_tokenize(docs)
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            F.replace(F.col("toks"), F.lit("|"), F.lit("")).alias("rebuilt"),
            "text",
            "n_words",
            "n_subwords",
        )
    )
    bad = joined.filter(F.col("rebuilt") != F.col("text")).count()
    assert bad == 0
    # subwords never fewer than words, never more than chars
    viol = joined.filter(
        (F.col("n_subwords") < F.col("n_words"))
        | (F.col("n_subwords") > F.length("text"))
    ).count()
    assert viol == 0


def test_repartition_stability(spark):
    """Tokenization is a pure row map: output is identical under any
    input partitioning (replay/repartition-stable)."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import subword_tokenize

    docs = load(spark, SF_SMOKE, "documents")
    a = {
        r.doc_id: r.toks
        for r in subword_tokenize(docs).collect()
    }
    b = {
        r.doc_id: r.toks
        for r in subword_tokenize(docs.repartition(17, "source")).collect()
    }
    assert a == b


def test_arrow_tier_custom_vocab(spark):
    """The tokenizer honors a caller-supplied vocab list (the
    production path: collect a driver-scale vocab table, pass it in)."""
    from cubefs_hadoop_spark.extensions.tokenize import subword_tokenize

    df = spark.createDataFrame(
        [("a", "abcabc"), ("b", "xyz")], "doc_id string, text string"
    )
    out = {
        r.doc_id: r.toks
        for r in subword_tokenize(df, vocab=("abc", "xy")).collect()
    }
    assert out["a"] == "abc|abc"
    assert out["b"] == "xy|z"


def test_subword_counts_match_tokenize(spark):
    """The counting-only loop agrees with the materializing loop on
    every fixture document."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import (
        subword_counts,
        subword_tokenize,
    )

    docs = load(spark, SF_SMOKE, "documents")
    full = {r.doc_id: r.n_subwords for r in subword_tokenize(docs).collect()}
    cnt = {r.doc_id: r.n_subwords for r in subword_counts(docs).collect()}
    assert full == cnt


def test_null_and_empty_text_rows(spark):
    """A null text yields nulls (never a worker crash), "" yields zero
    subwords, and per row the Arrow count equals the JVM count helper
    (nulls included) and the tokenizer's n_subwords; an empty frame
    gives an empty result."""
    from cubefs_hadoop_spark.extensions.tokenize import (
        _subword_count,
        subword_counts,
        subword_tokenize,
    )

    docs = spark.createDataFrame(
        [("n", None), ("e", ""), ("z", "zzz x"), ("w", "the window scan")],
        "doc_id string, text string",
    )
    cnt = {r.doc_id: r.n_subwords for r in subword_counts(docs).collect()}
    jvm = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", _subword_count(F.col("text")).alias("n")
        ).collect()
    }
    tok = {r.doc_id: tuple(r)[1:] for r in subword_tokenize(docs).collect()}
    assert cnt == jvm == {"n": None, "e": 0, "z": 4, "w": 5}
    assert {d: t[1] for d, t in tok.items()} == cnt
    assert tok["n"] == (None, None, None)
    assert tok["e"] == (1, 0, "")

    empty = docs.limit(0)
    assert subword_counts(empty).collect() == []
    assert subword_tokenize(empty).collect() == []


def test_x17b_budget_semantics(spark):
    """x17b keeps exactly the prefix of each source's md5-ordered docs
    whose preceding subword total is under budget — the straddling doc
    is kept, the next one is not."""
    from cubefs_hadoop_spark.queries import QUERIES

    rows = QUERIES["x17b_subword_budget"](spark, SF_SMOKE).collect()
    assert rows, "budget must bind but not empty the selection"
    from cubefs_hadoop_spark.extensions.tokenize import _X17B_BUDGET

    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.cum_before)
        # every kept row starts under budget; offsets are consistent
        run = 0
        for r in rs:
            assert r.cum_before == run, (src, r)
            assert r.cum_before < _X17B_BUDGET
            run += r.tokens


def test_vocab_is_frozen_and_wellformed():
    """Vocab contract the oracles depend on: distinct entries, all
    length >= 2 (single chars are the implicit byte-fallback), lowercase
    ascii only (safe to embed in both engines' SQL/plan literals)."""
    from cubefs_hadoop_spark.extensions.tokenize import SUBWORD_VOCAB

    assert len(set(SUBWORD_VOCAB)) == len(SUBWORD_VOCAB)
    assert all(len(t) >= 2 for t in SUBWORD_VOCAB)
    assert all(t.isascii() and t.islower() and t.isalpha() for t in SUBWORD_VOCAB)


def test_x14b_subword_pack_conservation(spark):
    """Packing invariants in subword units: per-chunk token totals are
    exactly S except the final chunk; per-doc totals across chunks equal
    the doc's subword count (no token lost or duplicated at cut
    points)."""
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.extensions.tokenize import _X14B_S
    from cubefs_hadoop_spark.extensions.tokenize import subword_counts
    from cubefs_hadoop_spark.catalog import load

    rows = QUERIES["x14b_subword_pack"](spark, SF_SMOKE).collect()
    by_chunk: dict[int, int] = {}
    by_doc: dict[int, int] = {}
    for r in rows:
        by_chunk[r.chunk_id] = by_chunk.get(r.chunk_id, 0) + r.tok_in_chunk
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.tok_in_chunk
    last = max(by_chunk)
    assert all(v == _X14B_S for c, v in by_chunk.items() if c != last)
    assert 0 < by_chunk[last] <= _X14B_S
    want = {
        r.doc_id: r.n_subwords
        for r in subword_counts(load(spark, SF_SMOKE, "documents")).collect()
    }
    assert by_doc == want


def test_x14b_two_level_plan_shape(spark):
    """x14b inherits x14's scale gate: the only SinglePartition window
    is the bucket-totals frame; no Python anywhere."""
    import re

    from cubefs_hadoop_spark.plans.audit import audit_plan
    from cubefs_hadoop_spark.queries import QUERIES

    spark.catalog.clearCache()
    a = audit_plan(QUERIES["x14b_subword_pack"](spark, SF_SMOKE))
    assert not a.has_python_eval
    assert re.search(r"hashpartitioning\(pid", a.text)
    assert a.text.count("SinglePartition") == 1


# ---------------------------------------------------------------------------
# x39 BPE training


def _py_bpe(texts, n_merges):
    """Pure-Python BPE reference (Sennrich arXiv:1508.07909, no marker,
    tiebreak count DESC / lhs ASC / rhs ASC) — the third, independent
    formulation of the merge rule (Spark uses a stack scan, DuckDB
    gaps-and-islands parity)."""
    import collections

    words = collections.Counter()
    for t in texts:
        words.update(w for w in t.split(" ") if w)
    syms = {w: tuple(w) for w in words}

    def apply(s, a, b):
        out = []
        for x in s:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return tuple(out)

    merges = []
    for k in range(1, n_merges + 1):
        c = collections.Counter()
        for w, f in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                c[(s[i], s[i + 1])] += f
        if not c:
            break
        (a, b), cnt = min(
            c.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((k, a, b, a + b, cnt))
        for w in syms:
            syms[w] = apply(syms[w], a, b)
    return merges, syms


def test_bpe_train_matches_python_reference_on_fixture(spark):
    """The Spark trainer's merge table equals the pure-Python reference
    on the real sf0.001 corpus."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    docs = load(spark, SF_SMOKE, "documents")
    merges, syms = bpe_train(docs, n_merges=6)
    ref_merges, ref_syms = _py_bpe(
        [r.text for r in docs.select("text").collect()], 6
    )
    assert merges == ref_merges
    got_syms = {r.word: tuple(r.syms) for r in syms.collect()}
    syms.unpersist()
    assert got_syms == ref_syms


def test_bpe_batched_matches_sequential_on_fixture(spark, duck):
    """At every batch width the trainer's merge table and final
    segmentation equal one-merge-at-a-time BPE as computed by two
    independent references over the same corpus files: the pure-Python
    ``_py_bpe`` and DuckDB running the ``_bpe_cte`` unroll."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import _bpe_cte, bpe_train

    docs = load(spark, SF_ORACLE, "documents")
    ref_merges, ref_syms = _py_bpe(
        [r.text for r in docs.select("text").collect()], 8
    )
    cte = "WITH " + _bpe_cte(8)
    duck_merges = duck.sql(
        cte
        + " UNION ALL ".join(
            f" SELECT {k}, lhs, rhs, lhs || rhs, cnt FROM b{k}"
            for k in range(1, 9)
        )
        + " ORDER BY 1"
    ).fetchall()
    duck_syms = dict(
        duck.sql(
            cte + " SELECT word, list(sym ORDER BY pos) FROM s8 GROUP BY word"
        ).fetchall()
    )
    assert len(ref_merges) == 8
    assert duck_merges == ref_merges
    assert {w: tuple(s) for w, s in duck_syms.items()} == ref_syms
    for batch in (1, 3, 8):
        merges, syms = bpe_train(docs, n_merges=8, batch=batch)
        got = {r.word: tuple(r.syms) for r in syms.collect()}
        syms.unpersist()
        assert merges == ref_merges, f"batch={batch}"
        assert got == ref_syms, f"batch={batch}"


def test_bpe_batched_tie_corpus_drops_unsafe_accepts(spark):
    """The corpus where NAIVE prefix-disjoint batching is wrong: after
    merging ('a','z'), the new pair ('az','q') TIES ('c','d') at count
    10 and wins the lexical tie-break — so ('c','d') must NOT ride the
    first batch even though it is disjoint from ('a','z').  Pins the
    drop-ties-with-the-bound rule in _accept_batch."""
    from cubefs_hadoop_spark.extensions.tokenize import _accept_batch, bpe_train

    texts = ["azq " * 10 + "az " * 15 + "cd " * 10]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    ref_merges, ref_syms = _py_bpe(texts, 3)
    # sanity: the reference really does learn (az,q) before (c,d)
    assert [(m[1], m[2]) for m in ref_merges] == [
        ("a", "z"), ("az", "q"), ("c", "d")
    ]
    merges, syms = bpe_train(df, n_merges=3, batch=3)
    assert merges == ref_merges
    got = {r.word: tuple(r.syms) for r in syms.collect()}
    syms.unpersist()
    assert got == ref_syms
    # unit-level: the scan accepts (a,z) and (c,d) prefix-disjoint, then
    # the conflict (z,q) at count 10 forces (c,d)'s tie to drop
    cand = [("a", "z", 25), ("c", "d", 10), ("z", "q", 10)]
    assert _accept_batch(cand, cap=3, complete=True) == [("a", "z", 25)]
    # and with no tie the disjoint accept survives
    cand2 = [("a", "z", 25), ("c", "d", 11), ("z", "q", 10)]
    assert _accept_batch(cand2, cap=3, complete=True) == [
        ("a", "z", 25), ("c", "d", 11)
    ]
    # truncated candidate lists bound by the last collected count
    assert _accept_batch(
        [("a", "z", 25), ("c", "d", 11)], cap=3, complete=False
    ) == [("a", "z", 25)]


def test_bpe_overlap_and_repeated_symbol_merges(spark):
    """Left-to-right overlap semantics: 'aaaa' under ('a','a') merges
    positions 1-2 and 3-4 (never 2-3); learned merges on a crafted
    repeated-symbol corpus match the reference exactly."""
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    texts = ["aaaa bab aaa aa", "aaaa aaaa baab"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges, syms = bpe_train(df, n_merges=4)
    ref_merges, ref_syms = _py_bpe(texts, 4)
    assert merges == ref_merges
    got = {r.word: tuple(r.syms) for r in syms.collect()}
    syms.unpersist()
    assert got == ref_syms
    assert got["aaaa"] == ("aaaa",)  # 'aa'+'aa', not straddling
    assert got["baab"] == ("b", "aa", "b")


def test_bpe_conservation_and_monotonicity(spark):
    """concat(syms) == word after ANY number of merges, and each merge
    never increases any word's token count."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    docs = load(spark, SF_SMOKE, "documents")
    prev = None
    for m in (0, 3, 6):
        merges, syms = bpe_train(docs, n_merges=m)
        rows = syms.select(
            "word",
            F.concat_ws("", "syms").alias("rebuilt"),
            F.size("syms").alias("n"),
        ).collect()
        syms.unpersist()
        assert all(r.rebuilt == r.word for r in rows)
        sizes = {r.word: r.n for r in rows}
        if prev is not None:
            assert all(sizes[w] <= prev[w] for w in sizes)
        prev = sizes


def test_bpe_early_stop_when_exhausted(spark):
    """A corpus whose words all fuse to single symbols stops early and
    returns only the merges that exist."""
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    df = spark.createDataFrame([("ab ab ab",)], "text string")
    merges, syms = bpe_train(df, n_merges=10)
    got = {r.word: tuple(r.syms) for r in syms.collect()}
    syms.unpersist()
    assert merges == [(1, "a", "b", "ab", 3)]
    assert got == {"ab": ("ab",)}


def test_bpe_train_is_deterministic_across_runs(spark):
    """Two independent trainings on the same corpus produce identical
    merge tables — the trainer is a pure function of the corpus."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    docs = load(spark, SF_SMOKE, "documents")
    m1, s1 = bpe_train(docs, n_merges=5)
    m2, s2 = bpe_train(docs.repartition(7), n_merges=5)
    s1.unpersist()
    s2.unpersist()
    assert m1 == m2


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    ),
    n_merges=st.integers(0, 6),
    batch=st.sampled_from((1, 2, 8)),
)
def test_bpe_train_property_matches_reference(spark, words, n_merges, batch):
    """x39 property: for ANY corpus over a tiny alphabet (maximally
    tie- and overlap-prone: repeated symbols, nested merges) and any
    batch width, the Spark trainer's merge table AND final segmentation
    equal the pure-Python reference, and concat(syms) == word on every
    row — random ties exercise ``_accept_batch``'s tie-drop rule."""
    from cubefs_hadoop_spark.extensions.tokenize import bpe_train

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    merges, syms = bpe_train(df, n_merges=n_merges, batch=batch)
    ref_merges, ref_syms = _py_bpe([text], n_merges)
    got = {r.word: tuple(r.syms) for r in syms.collect()}
    syms.unpersist()
    assert merges == ref_merges
    assert got == ref_syms
    assert all("".join(s) == w for w, s in got.items())


def test_tier_dispatch_defaults_to_arrow(spark):
    """The scale-safe hash-set kernel is the only tokenizer: the
    tokenize and counts plans carry the Arrow mapInPandas node."""
    from cubefs_hadoop_spark.extensions.tokenize import (
        subword_counts,
        subword_tokenize,
    )
    from cubefs_hadoop_spark.plans.audit import audit_plan

    docs = spark.createDataFrame(
        [("a", "the window")], "doc_id string, text string"
    )
    assert audit_plan(subword_tokenize(docs)).has_pandas_map
    assert audit_plan(subword_counts(docs)).has_pandas_map


def test_counts_arrow_twin_and_custom_vocab(spark):
    """The Arrow count equals the JVM count helper on crafted rows and
    honors a caller vocab (the production 30k-vocab path)."""
    from cubefs_hadoop_spark.extensions.tokenize import (
        _subword_count,
        subword_counts,
    )

    docs = spark.createDataFrame(
        [("a", "the window scan"), ("b", "zzz x"), ("c", "customer")],
        "doc_id string, text string",
    )
    arrow = {r.doc_id: r.n_subwords for r in subword_counts(docs).collect()}
    jvm = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", _subword_count(F.col("text")).alias("n")
        ).collect()
    }
    assert arrow == jvm
    custom = {
        r.doc_id: r.n_subwords
        for r in subword_counts(docs, vocab=("the", "cust")).collect()
    }
    # "the window scan": the + 10 single chars = 11; "zzz x" -> 4;
    # "customer" -> cust|o|m|e|r = 5
    assert custom == {"a": 11, "b": 4, "c": 5}


# ---------------------------------------------------------------------------
# x58 tokenizer fertility audit


def test_tokenizer_fertility_conservation(spark):
    """x58 totals reconcile with the per-doc counting loop: summed
    n_subwords equals subword_counts over the same docs, n_docs covers
    every document, and the ratios sit inside the vocabulary's hard
    bounds (1 <= subwords_per_word; 1 <= chars_per_subword <= max token
    length)."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import (
        _MAXLEN,
        subword_counts,
        tokenizer_fertility,
    )

    docs = load(spark, SF_SMOKE, "documents")
    rows = tokenizer_fertility(docs).collect()
    assert rows
    assert sum(r.n_docs for r in rows) == docs.count()
    total_sub = sum(r.n_subwords for r in rows)
    ref = subword_counts(docs).agg({"n_subwords": "sum"}).first()[0]
    assert total_sub == ref
    for r in rows:
        assert float(r.subwords_per_word) >= 1.0, r
        assert 1.0 <= float(r.chars_per_subword) <= _MAXLEN + 0.5, r


def test_tokenizer_fertility_plan_is_map_plus_one_agg(spark):
    """x58 plan gate: no joins, ONE aggregation exchange, no second
    corpus pass (the count IS a mapInPandas by design)."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.tokenize import fertility_stats
    from cubefs_hadoop_spark.plans.audit import audit_plan

    spark.catalog.clearCache()
    docs = load(spark, SF_SMOKE, "documents")
    a = audit_plan(fertility_stats(docs), executed=True)
    assert a.broadcast_joins + a.sort_merge_joins + a.nested_loop_joins == 0
    assert a.shuffles <= 1
