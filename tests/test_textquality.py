"""Unit tests for repetition_features (textstats) and the bigram LM (lm)."""

from __future__ import annotations

import math
from collections import Counter

from cliner_spark.lm import FP, bigram_lm, doc_lm_score
from cliner_spark.textstats import repetition_features


def _docs(spark, texts):
    return spark.createDataFrame(
        [{"doc_id": i, "text": t} for i, t in enumerate(texts)]
    )


def test_repetition_hand_computed(spark):
    df = _docs(
        spark,
        [
            "a b a b c",  # bigrams: ab,ba,ab,bc -> 'a b'x2 dup
            "x x x y",  # runs: xxx -> max_run 3; bigrams: xx,xx,xy
            "q",  # no bigrams
        ],
    )
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    # doc0: grams [a b, b a, a b, b c] each 3 chars, tot=12; 'a b'x2 -> dup=6
    # top = 6 ('a b' twice)
    assert got[0]["n_tokens"] == 5
    assert got[0]["dup2_frac"] == round(6 / 12, 6)
    assert got[0]["top2_frac"] == round(6 / 12, 6)
    assert got[0]["max_run"] == 1
    # doc1: grams [x x, x x, x y] tot=9, dup=6 ('x x'x2), top=6, run xxx=3
    assert got[1]["dup2_frac"] == round(6 / 9, 6)
    assert got[1]["top2_frac"] == round(6 / 9, 6)
    assert got[1]["max_run"] == 3
    # doc2: no bigrams -> fractions 0, max_run 1
    assert got[2]["dup2_frac"] == 0.0 and got[2]["top2_frac"] == 0.0
    assert got[2]["max_run"] == 1


def _py_lm(texts):
    """Plain-Python replica of the add-1 bigram LM."""
    uni, bg = Counter(), Counter()
    for t in texts:
        toks = t.lower().split()
        uni.update(toks)
        bg.update(zip(toks, toks[1:]))
    vocab = len(uni)
    return uni, bg, vocab


def test_bigram_lm_matches_python(spark):
    texts = ["the cat sat", "the cat ran", "a dog sat"]
    uni, bg, vocab = _py_lm(texts)
    got = {
        (r["w1"], r["w2"]): (r["c_bigram"], r["c_w1"], r["vocab"], r["logp"])
        for r in bigram_lm(_docs(spark, texts)).collect()
    }
    assert set(got) == set(bg)
    for (w1, w2), c in bg.items():
        want_logp = round(math.log((c + 1) / (uni[w1] + vocab)), 6)
        assert got[(w1, w2)] == (c, uni[w1], vocab, want_logp)


def test_doc_lm_score_matches_python(spark):
    texts = ["the cat sat on the mat", "the cat cat cat", "dog"]
    uni, bg, vocab = _py_lm(texts)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["score_fp"])
        for r in doc_lm_score(_docs(spark, texts)).collect()
    }
    for i, t in enumerate(texts):
        toks = t.lower().split()
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            assert i not in got  # no bigrams -> no score row
            continue
        want = sum(
            math.floor(math.log((bg[p] + 1) / (uni[p[0]] + vocab)) * FP)
            for p in pairs
        )
        assert got[i] == (len(pairs), want)


def test_repetition_random_corpus_matches_replica(spark):
    """Seeded random corpus, one DataFrame pass vs a Counter-based replica —
    guards the sorted-array fold's run-length logic across arbitrary shapes
    (empty, single-token, all-same, high-collision)."""
    import random

    rng = random.Random(0)
    vocab = ["a", "bb", "ccc", "dd"]
    texts = [""] + ["a"] + ["a a a a"] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12)))
        for _ in range(60)
    ]
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup2_frac"], r["top2_frac"], r["max_run"])
        for r in repetition_features(_docs(spark, texts)).collect()
    }
    for i, t in enumerate(texts):
        toks = t.lower().split()
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        c = Counter(grams)
        tot = sum(n * len(g) for g, n in c.items())
        dup = sum(n * len(g) for g, n in c.items() if n >= 2)
        top = max((n * len(g) for g, n in c.items()), default=0)
        runs, cur = [], 0
        prev = None
        for w in toks:
            cur = cur + 1 if w == prev else 1
            prev = w
            runs.append(cur)
        want = (
            len(toks),
            round(dup / tot, 6) if tot else 0.0,
            round(top / tot, 6) if tot else 0.0,
            max(runs, default=0),
        )
        assert got[i] == want, (i, t, got[i], want)


def test_heavy_hitters_matches_exact_on_random_skewed_streams(spark):
    """Misra-Gries superset guarantee + exact recount: on random Zipf-ish
    token streams (heavy tokens deliberately arriving LATE and spread thin
    across partitions — the adversarial order for a prune-too-early bug),
    the two-pass heavy_hitters output must equal the brute-force
    count/threshold answer exactly, including counts."""
    import random

    from pyspark.sql import functions as F

    from cliner_spark.textstats import heavy_hitters

    rng = random.Random(41)
    for trial in range(3):
        # tail vocab first, heavy tokens injected afterwards in small chunks
        toks = [f"t{rng.randrange(400)}" for _ in range(4000)]
        for h in ("alpha", "beta"):
            spots = sorted(rng.randrange(len(toks)) for _ in range(120))
            for s in spots:
                toks.insert(s, h)
        docs = [(i, " ".join(toks[i * 40 : (i + 1) * 40])) for i in range(len(toks) // 40)]
        df = spark.createDataFrame(docs, "doc_id bigint, text string").repartition(8)

        got = {r["tok"]: r["n"] for r in heavy_hitters(df, phi=0.02).collect()}

        exact = (
            df.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
            .filter(F.col("tok") != "")
            .select(F.lower("tok").alias("tok"))
            .groupBy("tok")
            .count()
        )
        rows = exact.collect()
        total = sum(r["count"] for r in rows)
        want = {r["tok"]: r["count"] for r in rows if r["count"] > 0.02 * total}
        assert got == want and "alpha" in got, (trial, got, want)
