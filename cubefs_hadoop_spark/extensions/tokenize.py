"""Subword tokenization (SURVEY §2C x37/x17b): deterministic greedy
longest-match (MaxMatch) segmentation of each whitespace word against a
fixed public subword vocabulary, plus a token-budget variant that meters
in SUBWORD counts rather than whitespace words.

This is the missing LLM-pipeline primitive between text curation and
packing: x14 concat-and-chunk packing and x17 per-source budgets count
whitespace words, but production packing/budgeting meters in subword
tokens (BPE/WordPiece).  The tokenizer here is the INFERENCE half of
that family — greedy longest-match against a frozen vocab, the same
deterministic MaxMatch rule WordPiece uses (Devlin et al.,
arXiv:1810.04805 §4.1; Song et al., "Fast WordPiece Tokenization",
arXiv:2012.15524) — with a byte-fallback: a position matching no vocab
entry emits its single character as a token (GPT-2-BPE-style
never-fails coverage, Radford et al. 2019), so concat(subwords) == word
ALWAYS holds (conservation, test-pinned).

Reference parity: the reference connector moves opaque bytes
(``CubefsInputStream.java:106-124``) and delegates all tokenization to
the engine above it; this module is part of the natively-implemented
delegated surface, like the rest of the x-family.

One MaxMatch kernel, :func:`_maxmatch`, runs inside ``mapInPandas``
for tokenize, counts and fertility: a hash-set vocab, O(maxlen) set
probes per character independent of |V| — the path for production
30k+-entry BPE/WordPiece vocabs.  The vocab is a driver-scale list (the
caller collects it from a vocab table — driver-sized by contract, like
x32's centroid frames).  There is no JVM tokenizer: a literal-array
``aggregate`` HOF scans O(|V|) literals per character (33.4 s against
this kernel's 1.27 s at sf0.1).  Only a JVM COUNT, :func:`_subword_count`,
exists, for the consumers that need the count as a ``Column`` inside a
zero-Python plan (x14b packing and x17b's ``token_budget_sample``).

Scale (100 TB): tokenization is MAP-ONLY — it rides the parquet scan
with zero shuffles and inherits the scan partitioning, so a downstream
pack/budget stage repartitions once on its own key and nothing funnels.
x17b reuses x17's two-level distributed prefix sum (range-bucketed md5
order, per-bucket cumulative sums, 256-row bucket-totals window) so no
source's documents serialize through one task.  State is O(1) per row;
the vocab is the only shared state and it is driver-scale by contract.

Determinism: the vocab is a frozen list, greedy MaxMatch is a pure
function of (word, vocab), and there is no floating arithmetic anywhere
— so output is repartition/replay-stable and hash-checkable against a
DuckDB recursive-CTE oracle that replays the same greedy loop in SQL.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.extensions.intmath import (
    duck_exact_floordiv,
    spark_exact_floordiv,
)
from cubefs_hadoop_spark.plans.materialize import barrier
from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu
from cubefs_hadoop_spark.registry import register

# Public common-English character-n-gram vocabulary (frequency lists of
# English bigrams/trigrams are textbook public data, e.g. Norvig's
# n-gram tables) plus a few 4/5-gram merges a BPE trained on English
# would learn early.  Frozen: the oracle SQL below embeds the SAME list,
# so editing one without the other fails the hash gate loudly.
SUBWORD_VOCAB: tuple[str, ...] = (
    # bigrams
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
    "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
    "ve", "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea",
    "ra", "ce", "li", "ch", "ll", "be", "ma", "si", "om", "ur",
    # trigrams
    "the", "ing", "and", "ion", "ent", "for", "her", "ter", "hat",
    "tha", "ere", "ate", "his", "con", "res", "ver", "all", "ons",
    "men", "ith", "ted", "ers", "pro", "sta", "est", "row", "tab",
    "sca", "que", "dow", "win", "str", "eam", "spa", "ark", "dat",
    "fil", "sor", "mer", "lin", "val", "agg", "col", "cus", "tom",
    "bat", "gro", "par", "key", "has", "joi", "oin",
    # 4/5-gram merges
    "tion", "ment", "ther", "able", "ream", "indow", "ilter",
    "ustom", "erge", "roup", "uery", "atch", "tream", "mall",
)

_VLENS = tuple(sorted({len(t) for t in SUBWORD_VOCAB}, reverse=True))
_MAXLEN = _VLENS[0]

# VALUES list for the DuckDB oracles — same frozen vocab.
_VOCAB_SQL = ", ".join(f"('{t}')" for t in SUBWORD_VOCAB)


def _subword_count_word(w: Column) -> Column:
    """Number of greedy subwords for one word as a JVM ``aggregate`` HOF
    over character positions: the accumulator is (pos, cnt); each step
    advances by the LONGEST vocab entry matching at pos (lengths tried
    descending, the vocab a plan literal), else by one character
    (byte-fallback).  Iterating length(w) times is always enough since
    every step consumes >= 1 char; exhausted steps pass the accumulator
    through untouched."""
    vocab_arr = F.array(*[F.lit(t) for t in SUBWORD_VOCAB])
    lens_desc = F.array(*[F.lit(n) for n in _VLENS])

    def step(acc: Column, _: Column) -> Column:
        pos = acc["pos"]
        ml = F.coalesce(
            F.try_element_at(
                F.filter(
                    lens_desc,
                    lambda n: F.array_contains(vocab_arr, w.substr(pos, n)),
                ),
                F.lit(1),
            ),
            F.lit(1),
        )
        advanced = F.struct(
            (pos + ml).alias("pos"), (acc["cnt"] + 1).alias("cnt")
        )
        return F.when(pos > F.length(w), acc).otherwise(advanced)

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(w), F.lit(1))),
        F.struct(F.lit(1).alias("pos"), F.lit(0).alias("cnt")),
        step,
        lambda acc: acc["cnt"],
    )


def _subword_count(text: Column) -> Column:
    """Per-document subword count of ``text`` as a long ``Column`` (null
    for a null text), against the frozen :data:`SUBWORD_VOCAB` — the
    zero-Python twin of :func:`subword_counts` for plans that must stay
    codegen-only (x14b, x17b) or take the count as a ``Column``
    (``token_budget_sample``'s ``tokens``)."""
    return F.aggregate(
        F.transform(F.split(text, " "), _subword_count_word),
        F.lit(0),
        lambda acc, c: acc + c,
    ).cast("long")


def _probe_set(
    vocab: tuple[str, ...] | list[str],
) -> tuple[frozenset, list[int]]:
    """(hash-set vocab, distinct entry lengths descending) for
    :func:`_maxmatch`."""
    vset = frozenset(vocab)
    return vset, sorted({len(t) for t in vset}, reverse=True)


def _maxmatch(w: str, vset: frozenset, lens: list[int]) -> list[str]:
    """Greedy longest-match subwords of one word: at each position the
    longest vocab entry matching there (lengths ``lens`` tried
    descending), else the single character (byte-fallback) — O(maxlen)
    set probes per character, independent of |V|."""
    toks, pos, n = [], 0, len(w)
    while pos < n:
        for L in lens:
            if pos + L <= n and w[pos : pos + L] in vset:
                break
        else:
            L = 1
        toks.append(w[pos : pos + L])
        pos += L
    return toks


def _per_doc(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    schema: str,
    fn: Callable[[str], tuple],
) -> DataFrame:
    """(id, *fn(text)) per row in one map-only ``mapInPandas`` pass; a
    null text maps to nulls.  ``schema`` declares fn's columns."""
    names = [c.split()[0] for c in schema.split(",")]
    nulls = (None,) * len(names)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (str(did), *(nulls if text is None else fn(text)))
                for did, text in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(rows, columns=[id_col, *names])

    out = docs.select(id_col, text_col).mapInPandas(
        _batches, f"{id_col} string, {schema}"
    )
    # mapInPandas schemas are strings; restore the id column's real type
    id_dtype = dict(docs.dtypes)[id_col]
    return out.withColumn(id_col, F.col(id_col).cast(id_dtype))


def subword_tokenize(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: tuple[str, ...] | list[str] = SUBWORD_VOCAB,
) -> DataFrame:
    """Greedy-MaxMatch subword tokenization.

    Returns (id, n_words, n_subwords, toks) where ``toks`` renders each
    word's subwords joined by '|' and words joined by ' ' — e.g.
    "window scan" -> "win|dow sca|n"; a null text gives nulls.
    ``vocab`` is a driver-scale list by contract (collect it from a
    vocab table the way x32 collects centroid frames).  Map-only: the
    Arrow exchange is per-batch, no shuffle (plan-gated)."""
    vset, lens = _probe_set(vocab)

    def _tok(text: str) -> tuple[int, int, str]:
        per = [_maxmatch(w, vset, lens) for w in text.split(" ")]
        toks = " ".join("|".join(t) for t in per)
        return len(per), sum(map(len, per)), toks

    return _per_doc(
        docs, id_col, text_col,
        "n_words long, n_subwords long, toks string", _tok,
    )


def subword_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: tuple[str, ...] | list[str] = SUBWORD_VOCAB,
) -> DataFrame:
    """(id, n_subwords) — the counting-only path that feeds token
    budgeting / packing in subword units; a null text counts as null,
    like :func:`_subword_count`.  Map-only."""
    vset, lens = _probe_set(vocab)
    return _per_doc(
        docs, id_col, text_col, "n_subwords long",
        lambda text: (
            sum(len(_maxmatch(w, vset, lens)) for w in text.split(" ")),
        ),
    )


# -- x37: registry entry + DuckDB recursive-CTE oracle ---------------------

# The oracle replays the SAME greedy loop in SQL: a recursive CTE
# advances (word, pos) by the longest matching vocab length (else 1);
# each recursion row with pos <= length(word) emits exactly one token.
# Greedy-longest agreement: the correlated MAX(length(tok)) equals the
# Spark side's first-in-descending-lengths match (vocab entries are
# distinct, so equal-length double matches are impossible).
_X37_ORACLE = f"""
WITH RECURSIVE
vocab(tok) AS (VALUES {_VOCAB_SQL}),
words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
       UNNEST(range(1, len(w) + 1)) AS u(i)
),
step(doc_id, widx, word, pos, tok) AS (
  SELECT doc_id, widx, word, 1, CAST(NULL AS VARCHAR) FROM words
  UNION ALL
  SELECT doc_id, widx, word, pos + ml, substr(word, pos, ml)
  FROM (
    SELECT doc_id, widx, word, pos,
           COALESCE((SELECT MAX(length(v.tok)) FROM vocab v
                     WHERE substr(word, pos, length(v.tok)) = v.tok),
                    1) AS ml
    FROM step WHERE pos <= length(word)) s
),
toks AS (
  SELECT doc_id, widx,
         string_agg(tok, '|' ORDER BY pos) AS wtoks,
         CAST(COUNT(tok) AS BIGINT) AS n_sub
  FROM step WHERE tok IS NOT NULL
  GROUP BY doc_id, widx
),
perword AS (
  SELECT w.doc_id, w.widx,
         COALESCE(t.wtoks, '') AS wtoks,
         COALESCE(t.n_sub, 0) AS n_sub
  FROM words w LEFT JOIN toks t USING (doc_id, widx)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       string_agg(wtoks, ' ' ORDER BY widx) AS toks
FROM perword GROUP BY doc_id
ORDER BY doc_id, n_words, n_subwords, toks"""


@register("x37_subword_tokenize", _X37_ORACLE)
def x37_subword_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37 greedy-MaxMatch subword tokenization over the documents
    table — map-only.  The oracle witness that :func:`_maxmatch`
    implements MaxMatch exactly; x37b registers this same function."""
    return subword_tokenize(load(spark, sf_dir, "documents")).orderBy(
        "doc_id", "n_words", "n_subwords", "toks"
    )


# -- x17b: per-source SUBWORD-token budget ---------------------------------

_X17B_BUDGET = 700  # subword tokens per source (binding at every SF)

_X17B_ORACLE = f"""
WITH RECURSIVE
vocab(tok) AS (VALUES {_VOCAB_SQL}),
words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
       UNNEST(range(1, len(w) + 1)) AS u(i)
),
step(doc_id, widx, word, pos, emitted) AS (
  SELECT doc_id, widx, word, 1, 0 FROM words
  UNION ALL
  SELECT doc_id, widx, word,
         pos + COALESCE((SELECT MAX(length(v.tok)) FROM vocab v
                         WHERE substr(word, pos, length(v.tok)) = v.tok),
                        1),
         1
  FROM step WHERE pos <= length(word)
),
counts AS (
  SELECT doc_id, CAST(SUM(emitted) AS BIGINT) AS tokens
  FROM step GROUP BY doc_id
),
t AS (
  SELECT d.doc_id, d.source, md5(d.text) AS h, c.tokens
  FROM documents d JOIN counts c USING (doc_id)
),
o AS (SELECT doc_id, source, tokens,
             CAST(COALESCE(SUM(tokens) OVER (
                  PARTITION BY source ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before
      FROM t)
SELECT doc_id, source, tokens, cum_before
FROM o WHERE cum_before < {_X17B_BUDGET}
ORDER BY source, cum_before, doc_id, tokens"""


@register("x17b_subword_budget", _X17B_ORACLE)
def x17b_subword_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17b per-source token-budget selection metered in SUBWORD counts
    (700 subwords/source): the counting-only MaxMatch loop rides the
    scan, then x17's two-level distributed prefix sum picks documents in
    deterministic md5 order."""
    from cubefs_hadoop_spark.extensions.curation import token_budget_sample

    # the JVM count keeps this plan zero-Python (plan-gated) and is the
    # oracle witness for _subword_count
    return token_budget_sample(
        load(spark, sf_dir, "documents"),
        budget=_X17B_BUDGET,
        tokens=_subword_count(F.col("text")),
    ).orderBy("source", "cum_before", "doc_id", "tokens")


# the same tokenizer under a second name: sweep hashes and bench rows key
# on x37b
register("x37b_subword_tokenize_arrow", _X37_ORACLE)(x37_subword_tokenize)


# -- x14b: sequence packing in SUBWORD units -------------------------------

_X14B_S = 64  # subword tokens per packed sequence

_X14B_ORACLE = f"""
WITH RECURSIVE
vocab(tok) AS (VALUES {_VOCAB_SQL}),
words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
       UNNEST(range(1, len(w) + 1)) AS u(i)
),
step(doc_id, widx, word, pos, emitted) AS (
  SELECT doc_id, widx, word, 1, 0 FROM words
  UNION ALL
  SELECT doc_id, widx, word,
         pos + COALESCE((SELECT MAX(length(v.tok)) FROM vocab v
                         WHERE substr(word, pos, length(v.tok)) = v.tok),
                        1),
         1
  FROM step WHERE pos <= length(word)
),
counts AS (
  SELECT doc_id, CAST(SUM(emitted) AS BIGINT) AS tokens
  FROM step GROUP BY doc_id
),
o AS (
  SELECT doc_id, tokens,
         CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM counts
)
SELECT CAST(c AS BIGINT) AS chunk_id, doc_id,
       least((c + 1) * {_X14B_S}, off + tokens)
           - greatest(c * {_X14B_S}, off) AS tok_in_chunk
FROM o, UNNEST(generate_series(off // {_X14B_S},
                               (off + tokens - 1) // {_X14B_S})) AS u(c)
ORDER BY chunk_id, doc_id, tok_in_chunk"""


@register("x14b_subword_pack", _X14B_ORACLE)
def x14b_subword_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14b concat-and-chunk sequence packing metered in SUBWORD tokens
    (64 per sequence) — the unit a production training loader actually
    packs.  The counting-only MaxMatch loop rides the scan; the layout
    reuses x14's two-level distributed prefix sum unchanged (same plan
    gate applies: one driver-scale SinglePartition window, everything
    else bucket-parallel)."""
    from cubefs_hadoop_spark.extensions.packing import sequence_pack

    # JVM count for the same reason as x17b
    with_counts = load(spark, sf_dir, "documents").select(
        "doc_id", _subword_count(F.col("text")).alias("subtok")
    )
    return sequence_pack(
        with_counts, seq_len=_X14B_S, tokens_col="subtok"
    ).orderBy("chunk_id", "doc_id", "tok_in_chunk")


# ---------------------------------------------------------------------------
# x39: BPE tokenizer TRAINING (the training half of this module; x37 is
# the inference half).  Sennrich et al., "Neural Machine Translation of
# Rare Words with Subword Units" (arXiv:1508.07909 §3.2): start from
# characters, repeatedly merge the most frequent adjacent symbol pair.
# We follow the no-end-of-word-marker variant (GPT-2-style byte-level
# BPE likewise carries no intra-word terminal marker; Radford et al.
# 2019) and break count ties deterministically by (count DESC, lhs ASC,
# rhs ASC) so the learned merge table is a pure function of the corpus.
#
# Reference parity: the reference connector moves opaque bytes
# (`CubefsInputStream.java:106-124`) and delegates tokenizer training to
# the engine above it — this is natively-implemented delegated surface.
#
# Scale design (100 TB): BPE training state is VOCABULARY-scale by
# construction — the corpus is read exactly ONCE, into a (word, freq)
# sufficient-statistics frame via one partial-aggregated groupBy (hot
# words combine map-side; same additive-state idea as x33b's DSIR
# vocabulary).  The m merges are then learned in rounds entirely over
# that vocab-scale frame: each round is one map-only pair explode, one
# partial-aggregated pair count, a top-of-list collect (driver-sized —
# at most a few dozen pairs), and literal-param JVM higher-order
# projections applying the round's merges.  Nothing corpus-sized is
# ever shuffled again, broadcast, or collected.  Encoding (x39b) joins
# the corpus word stream to the vocab-scale final segmentation with a
# BROADCAST hash join — map-side, no corpus shuffle before the per-doc
# rollup.
#
# Merge-application equivalence (test-pinned three ways): Spark applies
# a merge with a left-to-right stack scan (aggregate HOF: if the
# accumulator's last token == lhs and the next symbol == rhs, replace
# the top with lhs||rhs — overlapping occurrences like 'aaa' under
# ('a','a') resolve left-to-right because the merged token no longer
# equals lhs); the DuckDB oracle expresses the SAME function relationally
# as gaps-and-islands parity (adjacent candidate positions are only
# possible when lhs == rhs; within each island of consecutive candidates
# keep odd offsets); tests hold both equal to a third, pure-Python
# reference implementation.  The oracle unrolls the m iterations as a
# generated CTE chain (the x03c pinned-iteration precedent, except
# nothing is pinned — DuckDB independently recomputes every argmax).

_X39_M = 8  # merges learned by the registered queries (fixture-safe)


def _apply_merge(syms: Column, lhs: str, rhs: str) -> Column:
    """One BPE merge over a symbol array: left-to-right stack scan as a
    literal-parameterized JVM aggregate HOF (zero Python, map-only)."""
    merged = lhs + rhs
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(lhs))
            & (s == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _accept_batch(
    cand: list[tuple[str, str, int]], cap: int, complete: bool
) -> list[tuple[str, str, int]]:
    """Select the largest prefix of the sorted candidate pair list that
    sequential BPE provably performs next, up to ``cap`` merges.

    ``cand`` is the pair list in argmax order (cnt DESC, lhs ASC, rhs
    ASC); ``complete`` says whether it is the WHOLE pair list or a
    truncated top slice.  Rule: accept candidates in order while each is
    symbol-disjoint from every accepted merge's lhs/rhs/merged token;
    record ``bound`` = the count of the first candidate NOT accepted
    (conflict, cap, or truncation point); finally drop trailing accepts
    whose count is <= bound.

    Why this is EXACT (witness-tested against the pure-Python reference
    and the DuckDB unroll, including the tie corpus in the tests): applying
    a merge (a,b)->ab only touches pairs whose symbols intersect
    {a,b,ab} — disjoint pairs keep their counts, conflicting pairs only
    lose occurrences, and every NEW pair is count-bounded by an old
    CONFLICTING pair (count(x,ab) <= count(x,a), count(ab,y) <=
    count(b,y), count(ab_i,ab_j) <= count(b_i,a_j)).  Accepted merges
    form a PREFIX of the sorted list, so every conflicting pair ranks at
    or below the stop point, i.e. has count <= bound; kept accepts have
    count STRICTLY above bound, so no decreased or newly-created pair
    can overtake them at any intermediate sequential step — a tie is not
    enough, because a new pair like (ab, y) can sort lexically BEFORE a
    disjoint candidate with the same count (ab < b is possible), which
    is exactly why count-ties with the bound are dropped rather than
    kept."""
    used: set[str] = set()
    accepted: list[tuple[str, str, int]] = []
    bound: int | None = None
    for lhs, rhs, cnt in cand:
        if len(accepted) == cap or lhs in used or rhs in used:
            bound = cnt
            break
        accepted.append((lhs, rhs, cnt))
        used.update((lhs, rhs, lhs + rhs))
    else:
        if not complete and accepted:
            bound = accepted[-1][2]
    if bound is not None:
        accepted = [m for m in accepted if m[2] > bound]
    if not accepted and cand:
        # a single argmax is always exact — guarantees >=1 merge/round
        accepted = [cand[0]]
    return accepted


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = _X39_M,
    batch: int = 8,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a document corpus, up to
    ``batch`` merges per Spark round.

    Returns ``(merges, syms)``: the merge table as driver-side rows
    ``(rank, lhs, rhs, merged, cnt)`` — driver-sized by definition, one
    row per learned merge — and the final vocab-scale segmentation
    frame ``(word, freq, syms: array<string>)`` (persisted; concat(syms)
    == word always, test-pinned).  Stops early if no adjacent pair
    remains (every word fused to one symbol).

    Each round collects the top of the pair list once and accepts every
    merge that provably IS the next run of one-at-a-time argmaxes (see
    ``_accept_batch``), so the table equals sequential BPE's exactly
    (witness-tested against a pure-Python reference and the DuckDB
    unroll) at ~1/batch of its Spark jobs — a 30k-merge vocabulary is
    not 30k sequential jobs.  Tie-dense corpora degrade gracefully to
    one merge per round, never to a wrong table.  For the remaining
    latency regime, train on a sample and apply distributed — the
    industry recipe documented in SCALE.md ("BPE at a production
    vocabulary size")."""
    wf = (
        docs.select(F.explode(F.split(text_col, " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    syms = wf.withColumn(
        "syms",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ),
    ).persist()

    merges: list[tuple[int, str, str, str, int]] = []
    prev: DataFrame | None = None
    while len(merges) < n_merges:
        remaining = n_merges - len(merges)
        top = max(4 * batch, batch + 8)
        pair = F.transform(
            F.slice(F.col("syms"), 1, F.size("syms") - 1),
            lambda s, i: F.struct(
                s.alias("lhs"),
                F.element_at(F.col("syms"), i + F.lit(2)).alias("rhs"),
            ),
        )
        rows = (
            syms.where(F.size("syms") >= 2)
            .select("freq", F.explode(pair).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "lhs", "rhs")
            .limit(top + 1)
            .collect()
        )
        # the pair-count job above just materialized `syms`, so the
        # previous round's cache is released without a dedicated job
        if prev is not None:
            prev.unpersist()
            prev = None
        if not rows:
            break
        cand = [(r["lhs"], r["rhs"], int(r["cnt"])) for r in rows[:top]]
        accepted = _accept_batch(
            cand, cap=min(batch, remaining), complete=len(rows) <= top
        )
        col = F.col("syms")
        for lhs, rhs, cnt in accepted:
            merges.append((len(merges) + 1, lhs, rhs, lhs + rhs, cnt))
            col = _apply_merge(col, lhs, rhs)
        nxt = syms.withColumn("syms", col).persist()
        prev, syms = syms, nxt
    if prev is not None:
        # materialize the final segmentation once so the parent cache
        # can be dropped — callers receive a frame served from its own
        # cached blocks
        syms.count()
        prev.unpersist()
    return merges, syms


def _bpe_cte(m: int) -> str:
    """Generated DuckDB CTE chain unrolling ``m`` BPE iterations over
    the documents view: s{k} is the (word, freq, pos, sym) segmentation
    after k merges, b{k} the k-th learned merge."""
    parts = [
        """w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE len(word) > 0 GROUP BY word),
s0 AS (
  SELECT word, freq, CAST(gs.i AS BIGINT) AS pos,
         substr(word, CAST(gs.i AS INT), 1) AS sym
  FROM w0, LATERAL unnest(generate_series(1, len(word))) AS gs(i))"""
    ]
    for k in range(1, m + 1):
        p = f"s{k - 1}"
        parts.append(
            f"""c{k} AS (
  SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT sym AS lhs,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS rhs, freq
    FROM {p}) q
  WHERE rhs IS NOT NULL GROUP BY lhs, rhs),
b{k} AS (SELECT lhs, rhs, cnt FROM c{k} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
m{k} AS (
  SELECT s.word, s.freq, s.pos, s.sym,
         coalesce(s.sym = b.lhs AND lead(s.sym)
             OVER (PARTITION BY s.word ORDER BY s.pos) = b.rhs,
             FALSE) AS cand
  FROM {p} s LEFT JOIN b{k} b ON TRUE),
i{k} AS (
  SELECT *, CASE WHEN cand THEN pos - row_number()
      OVER (PARTITION BY word, cand ORDER BY pos) END AS isl
  FROM m{k}),
k{k} AS (
  SELECT *, coalesce(cand AND row_number()
      OVER (PARTITION BY word, isl ORDER BY pos) % 2 = 1, FALSE) AS mstart
  FROM i{k}),
s{k} AS (
  SELECT word, freq,
         CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
              AS BIGINT) AS pos,
         CASE WHEN mstart THEN sym || nxt ELSE sym END AS sym
  FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
               lag(mstart) OVER (PARTITION BY word ORDER BY pos) AS pstart
        FROM k{k}) z
  WHERE mstart OR NOT coalesce(pstart, FALSE))"""
        )
    return ",\n".join(parts)


_X39_ORACLE = (
    "WITH "
    + _bpe_cte(_X39_M)
    + "\nSELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, lhs, rhs,"
        f" lhs || rhs AS merged, cnt FROM b{k}"
        for k in range(1, _X39_M + 1)
    )
    + ") ORDER BY rank"
)


@register("x39_bpe_train", _X39_ORACLE)
def x39_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X39 BPE tokenizer training (arXiv:1508.07909 §3.2): the first 8
    merges learned from the documents corpus, (rank, lhs, rhs, merged,
    cnt).  Iterative algorithm in x03c's class — but the DuckDB twin
    recomputes every argmax independently (nothing pinned): the oracle
    unrolls the 8 one-merge-at-a-time iterations as a generated
    gaps-and-islands CTE chain, so a hash match witnesses that
    ``bpe_train``'s batched rounds learn sequential BPE's table.  x39c
    registers this same function.  See the module section comment for
    the scale design (corpus read once into vocab-scale sufficient
    statistics; merge rounds never touch the corpus again)."""
    merges, syms = bpe_train(load(spark, sf_dir, "documents"))
    syms.unpersist()
    return spark.createDataFrame(
        merges, "rank long, lhs string, rhs string, merged string, cnt long"
    ).orderBy("rank")


_X39B_ORACLE = (
    "WITH "
    + _bpe_cte(_X39_M)
    + f""",
tok AS (SELECT word, CAST(count(*) AS BIGINT) AS n
        FROM s{_X39_M} GROUP BY word),
wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       FROM documents)
SELECT wd.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(tok.n) AS BIGINT) AS n_tokens
FROM wd JOIN tok USING (word)
GROUP BY wd.doc_id ORDER BY doc_id"""
)


@register("x39b_bpe_encode", _X39B_ORACLE)
def x39b_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X39b encode-with-learned-merges: train 8 BPE merges (x39's
    ``bpe_train`` call), then tokenize the corpus with them — per doc,
    whitespace-word and BPE token counts; its oracle witnesses the final
    segmentation, not just the merge table.  The trained segmentation
    IS the per-word token count, so encoding is a vocab-scale BROADCAST
    join against the exploded word stream (map-side; the only corpus shuffle is the
    per-doc rollup).  Every corpus word hits the join by construction
    (trained on the same corpus)."""
    docs = load(spark, sf_dir, "documents")
    _, syms = bpe_train(docs)
    # pin the vocab-scale token counts driver-side (like x03e's centroid
    # frame) so the persisted training frame can be released — otherwise
    # every invocation leaks one cached frame into the CacheManager
    tok_rows = syms.select(
        "word", F.size("syms").cast("long").alias("n")
    ).collect()
    syms.unpersist()
    tok = spark.createDataFrame(
        [(r["word"], r["n"]) for r in tok_rows], "word string, n long"
    )
    return (
        widen_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x58 — tokenizer fertility audit (per-source compression statistics)
#
# The tokenizer-QA table every LM data team reads before committing a
# vocabulary to a training run (fertility = subwords per word, Ács 2019
# / mBERT analyses; compression = chars per subword token): a tokenizer
# that fragments one source's text into many short tokens inflates that
# source's effective token count, distorts mixture weights (x15/x54
# budget in TOKENS), and wastes sequence-length budget in packing (x14).
# Per source: document/word/subword/char totals and the two ratios.
#
# Scale (100 TB): map-only counting (the x37 MaxMatch counting loop
# rides the scan) followed by ONE partial-aggregated groupBy(source) —
# source-count-sized output, no second corpus pass, no join.  The same
# audit-family contract as x48's drift monitor: run it per ingest
# batch and diff the ratios.
# ---------------------------------------------------------------------------

_X58_ORACLE = f"""
WITH RECURSIVE
vocab(tok) AS (VALUES {_VOCAB_SQL}),
words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
       UNNEST(range(1, len(w) + 1)) AS u(i)
),
step(doc_id, widx, word, pos, emitted) AS (
  SELECT doc_id, widx, word, 1, 0 FROM words
  UNION ALL
  SELECT doc_id, widx, word,
         pos + COALESCE((SELECT MAX(length(v.tok)) FROM vocab v
                         WHERE substr(word, pos, length(v.tok)) = v.tok),
                        1),
         1
  FROM step WHERE pos <= length(word)
),
counts AS (
  SELECT doc_id, CAST(SUM(emitted) AS BIGINT) AS n_sub
  FROM step GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(string_split(d.text, ' '),
                                w -> len(w) > 0))) AS BIGINT) AS n_words,
       CAST(SUM(c.n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(length(d.text)) AS BIGINT) AS n_chars,
       CAST(ROUND(SUM(length(d.text)) * 1.0 / SUM(c.n_sub), 2)
            AS DECIMAL(18,2)) AS chars_per_subword,
       CAST(ROUND(SUM(c.n_sub) * 1.0 /
                  SUM(len(list_filter(string_split(d.text, ' '),
                                      w -> len(w) > 0))), 2)
            AS DECIMAL(18,2)) AS subwords_per_word
FROM documents d JOIN counts c USING (doc_id)
GROUP BY d.source ORDER BY d.source"""


def fertility_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    vocab: tuple[str, ...] | list[str] = SUBWORD_VOCAB,
) -> DataFrame:
    """(source, n_docs, n_words, n_subwords, n_chars): the ADDITIVE
    sufficient statistics behind the fertility audit — associative+
    commutative sums keyed by source, so micro-batch frames fold into a
    persisted state by plain addition (the S21 streaming twin's merge
    law, same contract as x31b/x33b).

    One ``mapInPandas`` pass emits PER-BATCH per-source partial sums (a
    hand-rolled map-side combine — each Arrow batch collapses to at most
    |sources| rows), then one tiny groupBy folds the partials.  A null
    text counts as "" — one document with zero words, subwords and
    chars — rather than null as in :func:`subword_counts`: 0 is the
    identity of the sink's additive merge, so a null row adds its
    document and nothing else."""
    vset, lens = _probe_set(vocab)
    schema = (
        f"{group_col} string, n_docs long, n_words long,"
        " n_subwords long, n_chars long"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            acc: dict[str, list[int]] = {}
            for g, text in zip(pdf[group_col], pdf[text_col]):
                text = text or ""
                ws = [w for w in text.split(" ") if w]
                r = acc.setdefault(g, [0, 0, 0, 0])
                r[0] += 1
                r[1] += len(ws)
                r[2] += sum(len(_maxmatch(w, vset, lens)) for w in ws)
                r[3] += len(text)
            yield pd.DataFrame(
                [(g, *v) for g, v in acc.items()],
                columns=[group_col, "n_docs", "n_words", "n_subwords", "n_chars"],
            )

    return (
        docs.select(group_col, text_col)
        .mapInPandas(_batches, schema)
        .groupBy(group_col)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_subwords").cast("long").alias("n_subwords"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


def fertility_from_stats(
    stats: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Derive the audit ratios from the (possibly streamed) additive
    state — pure column arithmetic on the source-sized frame."""
    from cubefs_hadoop_spark.oracle_compat import r2d

    return stats.select(
        group_col,
        "n_docs",
        "n_words",
        "n_subwords",
        "n_chars",
        r2d(F.col("n_chars") * 1.0 / F.col("n_subwords")).alias(
            "chars_per_subword"
        ),
        r2d(F.col("n_subwords") * 1.0 / F.col("n_words")).alias(
            "subwords_per_word"
        ),
    )


def tokenizer_fertility(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_docs, n_words, n_subwords, n_chars, chars_per_subword,
    subwords_per_word): per-source tokenizer compression statistics over
    the frozen subword vocabulary.  One map-only counting pass, one
    partial-aggregated groupBy."""
    return fertility_from_stats(
        fertility_stats(docs, group_col, text_col), group_col
    )


@register("x58_tokenizer_fertility", _X58_ORACLE)
def x58_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58 per-source tokenizer fertility/compression audit over the
    frozen subword vocabulary: the table that prices a tokenizer before
    a run commits to it (fertility skews token-denominated mixtures and
    packing efficiency); the oracle witness for ``fertility_stats``."""
    return tokenizer_fertility(load(spark, sf_dir, "documents")).orderBy(
        "source"
    )


# the same trainer under a second name: sweep hashes and bench rows key
# on x39c
register("x39c_bpe_train_batched", _X39_ORACLE)(x39_bpe_train)


# -- x66: vocabulary growth curve (Heaps-law capacity planning) --------------
#
# Every vocabulary-scale operator in this family keeps state whose size
# is the DISTINCT-token count, not the corpus size — x29's novelty
# owner table, x39's BPE pair stats, the x02 minhash band index.
# Whether that state stays "a fraction of corpus bytes" at 100 TB is an
# empirical sublinearity claim (Heaps' law: V(n) ~ K*n^b, b<1), and x66
# measures it on the corpus itself: the corpus is cut into ten doc_id
# deciles and each decile reports how many NEVER-SEEN-BEFORE tokens it
# contributes, plus the running distinct-vocabulary total.  A flat tail
# means vocab-state plateaus and the operators above scale; a linear
# tail means unbounded state and they need the sketch tier (x45 HLL).
#
# Scale (100 TB): one explode + ONE vocabulary-scale groupBy(token) for
# first-appearance (min doc_id — partial-agg'd, skew-immune), rolled to
# a 10-row decile frame; the prefix-sum window runs on those 10 rows.
# The curve never re-scans a prefix: first-appearance assigns every
# token to exactly one decile, so ten checkpoints cost one pass.

_X66_ORACLE = """
WITH nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
tk AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       FROM documents),
ft AS (SELECT tok, MIN(doc_id) AS fd FROM tk GROUP BY tok),
td AS (SELECT 10 * fd // (SELECT n FROM nn) + 1 AS decile,
              CAST(COUNT(*) AS BIGINT) AS new_tokens
       FROM ft GROUP BY 1),
dd AS (SELECT 10 * doc_id // (SELECT n FROM nn) + 1 AS decile,
              CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1)
SELECT CAST(dd.decile AS BIGINT) AS decile, dd.n_docs,
       CAST(SUM(dd.n_docs) OVER (ORDER BY dd.decile
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS docs_in_prefix,
       CAST(COALESCE(td.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(SUM(COALESCE(td.new_tokens, 0))
            OVER (ORDER BY dd.decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS distinct_tokens
FROM dd LEFT JOIN td USING (decile)
ORDER BY decile, n_docs, docs_in_prefix, new_tokens, distinct_tokens"""


def vocab_growth(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(decile, n_docs, docs_in_prefix, new_tokens, distinct_tokens):
    the Heaps-law vocabulary growth curve over doc_id deciles, from one
    explode + one vocabulary-scale groupBy (first-appearance min) + a
    10-row prefix-sum window.  The decile cut uses max(doc_id)+1 as a
    plan literal (the x52 totals-as-literals pattern)."""
    hi = docs.agg(F.max("doc_id")).first()[0]
    if hi is None:
        # empty corpus: no decile cut exists — fail with the reason, not
        # a TypeError on int(None) (ADVICE r10, x74's twin)
        raise ValueError(
            "vocab_growth: empty documents frame — no doc_id range to cut"
            " into deciles"
        )
    n = int(hi) + 1
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    td = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("fd"))
        .select((F.expr(f"10 * fd div {n}") + 1).cast("long").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_tokens"))
    )
    dd = (
        docs.select(
            (F.expr(f"10 * doc_id div {n}") + 1).cast("long").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dd.join(td, "decile", "left")
        .na.fill(0, ["new_tokens"])
        .select(
            "decile",
            "n_docs",
            F.sum("n_docs").over(w).cast("long").alias("docs_in_prefix"),
            "new_tokens",
            F.sum("new_tokens").over(w).cast("long").alias("distinct_tokens"),
        )
    )


@register("x66_vocab_growth", _X66_ORACLE)
def x66_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66 vocabulary growth curve: new and cumulative distinct
    whitespace tokens per doc_id decile — the Heaps-law probe that says
    whether vocabulary-scale state (x29/x39/x02-index) plateaus or
    grows linearly with the corpus."""
    return vocab_growth(load(spark, sf_dir, "documents")).orderBy(
        "decile", "n_docs", "docs_in_prefix", "new_tokens",
        "distinct_tokens"
    )


# -- x78: collocation mining (top-k bigram lift) -----------------------------
#
# The multiword-expression miner between x39 (subword merges: which
# CHARACTER pairs fuse) and x14b (packing: how sequences fill): which
# WORD pairs co-occur far above chance.  Association is lift
# P(w1 w2) / (P(w1) P(w2)) in exact integer millis —
# 1000 * n_pair * n_tokens // (c1 * c2), the PMI exponent without the
# log, so the score is hash-exact cross-engine (the x71 discipline:
# forecasts of statistical structures are themselves integer-exact).
# Top-k with a full deterministic tie order (lift desc, n_pair desc,
# w1, w2) and a count floor against rare-word noise.  In production
# the output seeds tokenizer vocab candidates ("new york",
# "machine learning") and x38-style span templates.
#
# Scale (100 TB): bigram explode is corpus-token-sized but map-local;
# counts are partial-agg'd groupBys on vocabulary-scale keys; the two
# unigram attachments are vocab x vocab-pair joins (broadcastable
# vocabularies in practice); the top-k is TakeOrderedAndProject, never
# a global sort.  n_tokens rides as a plan literal (x52 pattern).

_X78_K = 50
_X78_MIN_PAIR = 5

_X78_ORACLE = f"""
WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
bg AS (SELECT UNNEST(list_transform(range(1, len(ws)),
                     i -> ws[i] || ' ' || ws[i+1])) AS b FROM ws),
pc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY b),
ug AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       GROUP BY w),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ug)
SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2, n_pair,
       {duck_exact_floordiv(["1000", "n_pair", "nt.n"], ["u1.c", "u2.c"])}
           AS lift_milli
FROM pc
JOIN ug u1 ON u1.w = split_part(b, ' ', 1)
JOIN ug u2 ON u2.w = split_part(b, ' ', 2)
CROSS JOIN nt
WHERE n_pair >= {_X78_MIN_PAIR}
ORDER BY lift_milli DESC, n_pair DESC, w1, w2
LIMIT {_X78_K}"""


def collocation_lift(
    docs: DataFrame,
    text_col: str = "text",
    k: int = _X78_K,
    min_pair: int = _X78_MIN_PAIR,
) -> DataFrame:
    """(w1, w2, n_pair, lift_milli): the top-k adjacent word pairs by
    integer-milli lift (co-occurrence over independence), deterministic
    tie order, count floor ``min_pair``."""
    ws = docs.select(F.split(text_col, " ").alias("ws"))
    bg = (
        ws.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat_ws(' ', element_at(ws, i),"
                    " element_at(ws, i + 1)))"
                )
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_pair))
    )
    ug = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ug = barrier(ug, eager=False)  # feeds the total AND both attachments
    n_tokens = int(ug.agg(F.sum("c")).first()[0] or 0)
    if n_tokens == 0:
        raise ValueError("collocation_lift: empty documents frame")
    u1 = ug.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ug.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bg.select(
            F.expr("split_part(b, ' ', 1)").alias("w1"),
            F.expr("split_part(b, ' ', 2)").alias("w2"),
            "n_pair",
        )
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            # DECIMAL(38,0) product: at 100 TB the int64 form overflows
            # (ANSI Spark raises, DuckDB raises — ADVICE r11); exact to
            # 1e38, see extensions/intmath.py
            F.expr(
                spark_exact_floordiv(
                    [1000, "n_pair", n_tokens], ["c1", "c2"]
                )
            ).alias("lift_milli"),
        )
        .orderBy(
            F.col("lift_milli").desc(),
            F.col("n_pair").desc(),
            "w1",
            "w2",
        )
        .limit(int(k))
    )


@register("x78_collocation_lift", _X78_ORACLE)
def x78_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78 collocation mining: top-50 adjacent word pairs by exact
    integer-milli lift over independence (count floor 5, full
    deterministic tie order) — the multiword-expression / vocab-seed
    pass, TakeOrderedAndProject at the top, never a global sort."""
    return collocation_lift(load(spark, sf_dir, "documents"))
