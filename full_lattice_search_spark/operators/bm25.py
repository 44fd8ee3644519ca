"""Similarity scoring and the one ``include_span_score`` composition core.

The reference multiplies the payload score by the Lucene similarity
(LatticePayloadScoreQuery.java:328-339).  ``similarity="engine"`` is the
engine's own corpus-statistics BM25 (exact Lucene-BM25 parity is out of
scope, FIXTURES.md §6); ``similarity="lucene"`` is the reconstructed
float32 Lucene span similarity.  Both match paths compose through
``compose_similarity``: a per-doc stats frame (``SPAN_STATS_SCHEMA``
columns) → ``corpus_constants`` (n_docs, total length, per-token df; two
eager tiny jobs) → the BM25 fold over the tf arrays or the float32 Lucene
SQL → multiplied into the payload score.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75

# Above this many distinct candidate tokens the engine idf map is no
# longer inlined as a plan literal (driver memory / plan size); the
# composition falls back to a relational join on the df frame.
_MAX_IDF_LITERALS = 4096

# stats-frame columns the composition consumes; every other input column
# (the explain arrays) rides along into the composed output
_STATS_COLS = (
    "matched", "dl", "dl_norm", "tf_tokens", "tf_counts", "sloppy_freq",
)


def _flat_terms(terms: list) -> list[str]:
    """Flatten multi-phrase slots to the candidate-term list."""
    return [x for t in terms for x in ([t] if isinstance(t, str) else t)]


def _candidate_pred(terms: list, prefix: bool = False) -> Column:
    """``token`` is a query term (any slot alternative), or — for
    phrase_prefix — starts with the final term."""
    pred = F.col("token").isin(_flat_terms(terms))
    if prefix and terms:
        pred = pred | F.col("token").startswith(terms[-1])
    return pred


def bm25_idf(n_docs, df):
    """idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene flavor), over
    Columns (Spark ``log``) or plain numbers (``math.log``)."""
    x = 1.0 + (n_docs - df + 0.5) / (df + 0.5)
    return F.log(x) if isinstance(x, Column) else math.log(x)


def bm25_tf_norm(tf: Column, dl: Column, avgdl) -> Column:
    """tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def bm25_scores(
    tokens: DataFrame,
    terms: list[str],
    round_to: int | None = None,
    prefix_last: bool = False,
    doclen: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bm25) for every document matching >= 1 query term: the
    composition core's stats → corpus constants → BM25 fold, without a
    payload factor.

    ``prefix_last``: phrase-prefix queries expand the final term to every
    token with the prefix; each expanded token contributes with its own
    tf/df (the SpanMultiTermQueryWrapper rewrite analog).

    ``doclen``: precomputed (doc_id, dl) table — the index-statistics
    analog.  Pass it when ``tokens`` is a pruned view (e.g. the
    bucket-partitioned token index after partition pruning), where
    recomputing lengths from the visible rows would be wrong AND would
    defeat the pruning with a full scan.
    """
    toks = tokens.select("doc_id", "token")
    if doclen is None:
        doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = _tf_arrays(toks.filter(_candidate_pred(terms, prefix_last)))
    corpus = corpus_constants(doclen, tf, cap=_MAX_IDF_LITERALS)
    scored = _bm25_fold(tf.join(doclen, "doc_id"), corpus)
    bm25 = F.col("similarity")
    if round_to is not None:
        bm25 = F.round(bm25, round_to)
    return scored.select("doc_id", bm25.alias("bm25"))


def _tf_arrays(postings: DataFrame) -> DataFrame:
    """Per-doc candidate term frequencies as token-sorted ``tf_tokens`` /
    ``tf_counts`` arrays — the stats-frame shape, in the order the
    doc-scan kernel's pandas groupby emits, so every path folds BM25 in
    the same order."""
    return (
        postings.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("token", "tf"))).alias("z"))
        .select(
            "doc_id",
            F.col("z.token").alias("tf_tokens"),
            F.col("z.tf").alias("tf_counts"),
        )
    )


@dataclass(frozen=True)
class CorpusStats:
    """One query's corpus constants.  ``dfs`` holds at most the collect
    cap + 1 entries; ``df_frame`` is the full (token, df) frame."""

    n_docs: int
    total_len: int
    dfs: dict[str, int]
    df_frame: DataFrame


def corpus_constants(
    doclen: DataFrame,
    tf: DataFrame,
    vocab: DataFrame | None = None,
    cap: int | None = None,
) -> CorpusStats:
    """n_docs and total length over ``doclen`` (any per-doc frame with a
    ``dl`` column; zero-length documents don't count), and per-token df:
    from ``vocab`` — a (token, df) term dictionary already filtered to
    the candidate tokens — when given, else from the per-doc
    ``tf_tokens`` arrays of ``tf``.  Two eager tiny jobs: one row, and at
    most ``cap + 1`` df rows (``cap=None`` collects every row)."""
    crow = doclen.filter(F.col("dl") > 0).agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    if vocab is not None:
        df_frame = vocab.select("token", "df")
    else:
        df_frame = (
            tf.select(F.explode("tf_tokens").alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("df"))
        )
    rows = (df_frame if cap is None else df_frame.limit(cap + 1)).collect()
    return CorpusStats(
        int(crow["n"] or 0),
        int(crow["t"] or 0),
        {r["token"]: int(r["df"]) for r in rows},
        df_frame,
    )


def compose_similarity(
    frame: DataFrame,
    doclen: DataFrame,
    tf: DataFrame,
    terms: list,
    similarity: str,
    boost: float,
    prefix: bool = False,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """A7 ``include_span_score``: ``getSpanScore() * payloadScore`` times
    the builder boost (``LatticePayloadScoreQuery.java:333-339``).

    ``frame`` has one row per MATCHED doc: payload_score, n_spans and the
    stats the similarity reads (engine: dl, tf_tokens, tf_counts; lucene:
    dl_norm, sloppy_freq).  ``doclen``/``tf``/``vocab`` feed
    ``corpus_constants``.  Returns doc_id, score, n_spans, payload_score,
    similarity, then any other ``frame`` column (the explain arrays)."""
    lucene = similarity == "lucene"
    corpus = corpus_constants(
        doclen, tf, vocab, cap=None if lucene else _MAX_IDF_LITERALS
    )
    front = ["doc_id", "score", "n_spans", "payload_score", "similarity"]
    riders = [
        c for c in frame.columns if c not in front and c not in _STATS_COLS
    ]
    if lucene:
        sim = _lucene_sim_sql(corpus, terms, prefix, boost)
        frame = frame.withColumn(
            "similarity", F.expr(sim).cast("double")
        ).withColumn(
            "score",
            F.expr(f"cast(cast(payload_score as float) * {sim} as float)")
            .cast("double"),
        )
    else:
        frame = _bm25_fold(frame, corpus).withColumn(
            "score",
            F.col("payload_score") * F.col("similarity") * F.lit(boost),
        )
    return frame.select(*front, *riders)


def _bm25_fold(frame: DataFrame, corpus: CorpusStats) -> DataFrame:
    """Engine ``similarity`` column: Σ ``bm25_idf`` × ``bm25_tf_norm``
    over each document's tf arrays; null without corpus postings (then
    there are no rows to score either).

    With a bounded candidate vocabulary the idf map is a PLAN-TIME
    LITERAL, so the similarity is a row-local fold over that doc's
    ≤|terms| tf entries — no explode, no join, no aggregation shuffle.
    (The HOF lambda runs interpreted, but over a handful of elements per
    row with literal-only math — not the hot-path-HOF anti-pattern, which
    is about corpus-sized arrays re-evaluating heavy subexpressions.)

    A phrase_prefix candidate set is every distinct corpus token with the
    prefix, and inlining that does not scale: past ``_MAX_IDF_LITERALS``
    the idf stays a distributed (token, idf) frame, per-doc tf entries
    explode and join on token — AQE picks broadcast vs shuffle by the
    actual size.  Same formula and constants; only the float64 summation
    order can differ."""
    if corpus.n_docs == 0 or not corpus.dfs:
        return frame.withColumn("similarity", F.lit(None).cast("double"))
    avgdl = corpus.total_len / corpus.n_docs
    dl = F.col("dl").cast("double")
    if len(corpus.dfs) <= _MAX_IDF_LITERALS:
        idf = F.create_map(
            *[
                c
                for token, df in corpus.dfs.items()
                for c in (F.lit(token), F.lit(bm25_idf(corpus.n_docs, df)))
            ]
        )
        return frame.withColumn(
            "similarity",
            F.aggregate(
                F.arrays_zip("tf_tokens", "tf_counts"),
                F.lit(0.0),
                lambda acc, z: acc
                + F.element_at(idf, z["tf_tokens"])
                * bm25_tf_norm(z["tf_counts"].cast("double"), dl, avgdl),
            ),
        )
    idf = corpus.df_frame.select(
        "token", bm25_idf(float(corpus.n_docs), F.col("df")).alias("idf")
    )
    keep = [c for c in frame.columns if c != "doc_id" and c not in _STATS_COLS]
    tf = F.col("tf").cast("double")
    return (
        frame.select(
            "doc_id",
            dl.alias("dl_d"),
            *keep,
            F.inline(F.arrays_zip(
                F.col("tf_tokens").alias("token"),
                F.col("tf_counts").alias("tf"),
            )),
        )
        .join(idf, "token")
        .groupBy("doc_id")
        .agg(
            *[F.first(c).alias(c) for c in keep],
            F.sum(
                F.col("idf") * bm25_tf_norm(tf, F.col("dl_d"), avgdl)
            ).alias("similarity"),
        )
    )


def _lucene_idf_terms(
    terms: list, dfs: dict[str, int], prefix: bool
) -> list[str]:
    """The distinct term set Lucene's SpanWeight collects for the idf sum
    (``extractTermStates`` dedups into a Map<Term, TermStates>; terms
    absent from the corpus contribute no TermStatistics).  For
    phrase_prefix the last slot expands to every corpus token with the
    prefix ("blended" statistics over the rewritten SpanOr); multi-phrase
    slots contribute each alternative."""
    fixed = terms[:-1] if prefix else terms
    out = list(dict.fromkeys(_flat_terms(fixed)))
    if prefix:
        p = terms[-1]
        out.extend(
            t for t in sorted(dfs) if t.startswith(p) and t not in out
        )
    return [t for t in out if dfs.get(t, 0) > 0]


def _lucene_sim_sql(
    corpus: CorpusStats, terms: list, prefix: bool, boost: float
) -> str:
    """Float32 Lucene-similarity SQL over per-row ``sloppy_freq`` /
    ``dl_norm`` columns.  ``weight`` and ``avgdl`` are corpus constants,
    float32-composed exactly like ``lucene_legacy_span_similarity`` and
    inlined as plan-time literals.  The `d` suffixes matter: bare
    fractional literals parse as DECIMAL in Spark SQL and would silently
    turn the norm into 6-digit decimal math."""
    idf = np.float32(
        sum(
            bm25_idf(corpus.n_docs, corpus.dfs[t])
            for t in _lucene_idf_terms(terms, corpus.dfs, prefix)
        )
    )
    weight = float(np.float32(np.float32(boost * (K1 + 1.0)) * idf))
    # a corpus without documents has no rows to score
    avgdl = float(np.float32(corpus.total_len / max(corpus.n_docs, 1)))
    # Lucene SmallFloat.byte4ToInt(intToByte4(dl_norm)): exact below 24
    # (NUM_FREE_VALUES = 255 - longToInt4(Integer.MAX_VALUE) = 24 small
    # values get dedicated bytes), else 24 + top-4-significant-bits of
    # (dl_norm - 24).  A plain top-4-bit truncation is wrong for e.g.
    # 21 (->20) and 50 (->48): Lucene keeps both exact.
    s_expr = (
        "greatest(cast(floor(log2(greatest(dl_norm - 24, 1))) as int)"
        " - 3, 0)"
    )
    dlq = (
        f"(case when dl_norm < 24 then dl_norm else 24 + "
        f"shiftleft(shiftright(dl_norm - 24, {s_expr}), {s_expr}) end)"
    )
    norm = f"({K1!r}d * (1.0d - {B!r}d + {B!r}d * {dlq} / {avgdl!r}d))"
    tfn = f"cast(sloppy_freq / (sloppy_freq + {norm}) as float)"
    return f"cast(cast({weight!r}d as float) * {tfn} as float)"


def smallfloat_byte4_roundtrip(i: int) -> int:
    """Lucene 8 ``SmallFloat.byte4ToInt(intToByte4(i))`` — the doc-length
    quantization a norm byte survives.  ``NUM_FREE_VALUES = 255 -
    longToInt4(Integer.MAX_VALUE) = 24`` small values get dedicated bytes
    (exact), larger values encode ``24 + top-4-significant-bits(i - 24)``
    (so also exact below 40, and e.g. 50 stays 50 while 61 -> 60)."""
    if i < 24:
        return i
    j = i - 24
    nb = j.bit_length()
    if nb >= 4:
        shift = nb - 4
        j = (j >> shift) << shift
    return 24 + j


def lucene_legacy_span_similarity(
    dfs: list[int],
    n_docs: int,
    dl: int,
    avgdl: float,
    width: int,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
) -> float:
    """Reference-parity MODEL of the similarity the reference multiplies
    into the payload score (``LatticePayloadScoreQuery.java:328-339``
    ``getSpanScore()`` → Lucene ``SpanScorer.scoreCurrentDoc``): the exact
    ES-7.3 / Lucene-8.1 span-query similarity, reconstructed from the two
    published end-to-end scores in the reference README (``README.md:291``
    36.987705, ``README.md:393`` 9041.438) and pinned to float32.  Used by
    the parity goldens (FIXTURES.md §6) to quantify the delta between the
    engine's relational BM25 (``bm25_scores`` above) and Lucene's; not part
    of the query path.

    The reconstructed flavor (each element verified against the README
    scores to < 1e-6 relative, the residual being float32 association
    order inside Lucene):

    - **LegacyBM25Similarity**: ES 7.x preserves the classic (k1+1)
      numerator that Lucene 8 removed, by folding (k1+1) into the boost.
    - **idf** = Σ_terms ln(1 + (N − df + 0.5)/(df + 0.5)) — summed over
      the span query's terms.
    - **freq** = 1/(1 + width) where width is the span's total gap count
      (Lucene sloppy-freq of the ONE matched span; per-span, summed over
      spans when a doc has several).
    - **dl** comes from the norm, which discounts overlap tokens
      (posinc=0 lattice alternatives do NOT count), while **avgdl** =
      sumTotalTermFreq/docCount counts every token — so the two disagree
      on any lattice corpus by construction.
    - all of it composed in float32.

    The engine's ``bm25_scores`` deliberately differs: classic (k1+1)
    numerator but tf = occurrence count (not sloppy freq), dl = total
    token count for both dl and avgdl, float64 relational math.
    """
    f32 = np.float32
    idf = f32(sum(bm25_idf(n_docs, df) for df in dfs))
    weight = f32(f32(boost * (k1 + 1.0)) * idf)
    norm = k1 * (1.0 - b + b * float(smallfloat_byte4_roundtrip(dl))
                 / float(f32(avgdl)))
    freq = f32(1.0 / (1.0 + width))
    tfn = f32(float(freq) / (float(freq) + norm))
    return float(f32(weight * tfn))
