"""Corpus bigram language model for data-quality filtering.

KenLM-style perplexity filtering is a standard gate in pretraining-data
pipelines (CCNet, Gopher, Llama data recipes): score each document under a
smoothed n-gram LM and drop the tails. This module builds the LM table and
the per-document score with DataFrame aggregations only:

  bigram_lm     — add-1-smoothed conditional log-probabilities
                  logp(w2|w1) = ln((C(w1,w2)+1) / (C(w1)+V))
  doc_lm_score  — per-doc sum of logp over its bigrams, in integer
                  fixed-point (floor(logp * 1e6)) so the corpus-wide sum is
                  reduction-order-independent and engine-exact; callers
                  divide score_fp / n_bigrams / 1e6 for the avg log-prob

Scale notes (100 TB): the LM table is vocabulary-bounded (|V|² worst case,
far smaller in practice — Zipf), built with two map-side-combined
aggregations over exploded token pairs. Scoring joins doc bigrams against
that table: broadcast when the table fits (typical), else a co-partitioned
sort-merge join on w1 — either way the corpus is touched once. Integer
fixed-point scoring is the same determinism device as graph.py's PageRank:
float log-prob sums differ across partial-aggregation orders; BIGINT sums
do not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cliner_spark.tokenization import tokens_col

FP = 1_000_000  # fixed-point scale for log-prob sums


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence (not distinct)."""
    toks = F.transform(tokens_col(text_col), lambda t: F.lower(t))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return df.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, "p.w1", "p.w2"
    )


def _unigrams(df: DataFrame, text_col: str) -> DataFrame:
    toks = F.transform(tokens_col(text_col), lambda t: F.lower(t))
    return df.select(F.explode(toks).alias("w"))


def bigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(w1, w2, c_bigram, c_w1, vocab, logp): the smoothed LM table."""
    uni = _unigrams(df, text_col)
    c_uni = uni.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).alias("c_w1")
    )
    v = uni.agg(F.countDistinct("w").alias("vocab"))
    bg = (
        _doc_bigrams(df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bigram"))
    )
    return (
        bg.join(c_uni, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            "c_bigram",
            "c_w1",
            "vocab",
            F.round(
                F.log(
                    (F.col("c_bigram") + 1).cast("double")
                    / (F.col("c_w1") + F.col("vocab"))
                ),
                6,
            ).alias("logp"),
        )
    )


def doc_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_bigrams, score_fp): exact fixed-point per-doc LM score.

    score_fp = Σ floor(ln((C(w1,w2)+1)/(C(w1)+V)) * 1e6) over the doc's
    bigram occurrences. floor (not round) of a deterministic double is
    tie-free, and BIGINT summation is order-independent — both engines
    hash-agree at any partitioning.
    """
    lm = bigram_lm(df, id_col, text_col).select("w1", "w2", "c_bigram", "c_w1", "vocab")
    dp = _doc_bigrams(df, id_col, text_col)
    logp_fp = F.floor(
        F.log(
            (F.col("c_bigram") + 1).cast("double") / (F.col("c_w1") + F.col("vocab"))
        )
        * FP
    ).cast("bigint")
    return (
        dp.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(logp_fp).alias("score_fp"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge induction (training-data pipeline: tokenizer vocabulary build)
# ---------------------------------------------------------------------------


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n): lowercase whitespace-token frequencies. BPE trains on this
    DISTINCT-word table — dimension-sized even when the corpus is 100 TB —
    so every merge round below touches vocabulary rows, not corpus rows."""
    toks = F.transform(tokens_col(text_col), lambda t: F.lower(t))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (empty for len<2)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("a"),
                F.element_at(syms, i + 2).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, n): corpus-weighted adjacent symbol-pair counts over the
    current `syms` column (or initial characters if absent)."""
    w = words
    if "syms" not in w.columns:
        w = w.withColumn("syms", F.split(F.col("word"), ""))
    return (
        w.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "n")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("n"))
    )


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style data-selection weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per document, the
    fixed-point log-likelihood ratio between a bigram LM fit on the TARGET
    domain sample and one fit on the full (background) corpus:

      weight_fp = Σ_bigrams floor(1e6·ln p_t(w2|w1)) − floor(1e6·ln p_b(w2|w1))

    Both LMs are add-one smoothed over their own vocabulary; bigrams unseen
    by the target LM fall back to ln(1/(C_t(w1)+V_t)) with C_t(w1)=0 when
    w1 itself is out-of-vocabulary — handled by LEFT joins with coalesce,
    never by dropping rows. floor of a deterministic double + BIGINT sums
    keep the result exact under any partitioning (same trick as
    doc_lm_score).

    Scale shape: both LM tables are vocabulary-sized (broadcast); the
    corpus-side bigram stream joins them map-side. Fitting the target LM on
    a hash-sampled domain slice (the DSIR recipe) keeps even the target fit
    a fraction of one corpus pass.
    """
    bg_lm = bigram_lm(df, id_col, text_col).select(
        "w1", "w2", F.col("c_bigram").alias("cb_b"), F.col("c_w1").alias("cw_b"),
        F.col("vocab").alias("v_b"),
    )
    t_bi = (
        _doc_bigrams(target, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb_t"))
    )
    t_uni = (
        _unigrams(target, text_col)
        .groupBy(F.col("w").alias("w1"))
        .agg(F.count(F.lit(1)).alias("cw_t"))
    )
    t_v = _unigrams(target, text_col).agg(F.countDistinct("w").alias("v_t"))

    dp = _doc_bigrams(df, id_col, text_col)
    j = (
        dp.join(F.broadcast(bg_lm), ["w1", "w2"])
        .join(F.broadcast(t_bi), ["w1", "w2"], "left")
        .join(F.broadcast(t_uni), "w1", "left")
        .crossJoin(F.broadcast(t_v))
    )
    fp_t = F.floor(
        F.log(
            (F.coalesce(F.col("cb_t"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("cw_t"), F.lit(0)) + F.col("v_t"))
        )
        * FP
    ).cast("bigint")
    fp_b = F.floor(
        F.log((F.col("cb_b") + 1).cast("double") / (F.col("cw_b") + F.col("v_b"))) * FP
    ).cast("bigint")
    # every doc bigram exists in the background LM (fit on the same corpus),
    # so the inner join is lossless; docs with <2 tokens have no row (same
    # contract as doc_lm_score)
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(fp_t - fp_b).alias("weight_fp"),
    )
