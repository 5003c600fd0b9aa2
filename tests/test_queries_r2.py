"""Randomized replica tests for the round-2 additions: boilerplate mask,
RAG chunking, lexical diversity, and the exact-arithmetic TPC-H rewrites —
each checked against an independent straight-line Python computation on the
same randomized input (the same oracle style as test_random_replicas_r2)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F


def _docs_df(spark, docs):
    return spark.createDataFrame(
        [{"doc_id": i, "text": t} for i, t in enumerate(docs)]
    )


def _boilerplate_py(docs, n=5, min_docs=3):
    grams = {}  # gram -> set(doc)
    for d, text in enumerate(docs):
        toks = text.lower().split()
        for i in range(len(toks) - n + 1):
            grams.setdefault(" ".join(toks[i : i + n]), set()).add(d)
    boiler = {g for g, ds in grams.items() if len(ds) >= min_docs}
    out = {}
    for d, text in enumerate(docs):
        toks = text.lower().split()
        covered = set()
        for i in range(len(toks) - n + 1):
            if " ".join(toks[i : i + n]) in boiler:
                covered.update(range(i, i + n))
        out[d] = (len(toks), len(covered))
    return out


def test_boilerplate_mask_matches_python(spark):
    rng = random.Random(11)
    template = "shared header line tokens common"
    docs = []
    for _ in range(20):
        body = " ".join(rng.choice("a b c d e f g h".split()) for _ in range(rng.randint(5, 25)))
        # ~half the docs carry the shared template -> boilerplate
        docs.append((template + " " + body) if rng.random() < 0.5 else body)
    from cliner_spark.queries_r2 import BOILER_N

    # replicate the registered query's logic at a test-sized threshold
    from cliner_spark.tokenization import tokens_col

    min_docs = 3
    d = _docs_df(spark, docs).select("doc_id", tokens_col(F.col("text")).alias("toks"))
    nsz = F.size("toks")
    sh = (
        d.filter(nsz >= BOILER_N)
        .select("doc_id", F.explode(F.sequence(F.lit(0), nsz - BOILER_N)).alias("pos"), "toks")
        .select(
            "doc_id",
            "pos",
            F.lower(F.concat_ws(" ", F.slice("toks", F.col("pos") + 1, BOILER_N))).alias("gram"),
        )
    )
    boiler = (
        sh.groupBy("gram").agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs).select("gram")
    )
    cov = (
        sh.join(boiler, "gram")
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + BOILER_N - 1)).alias("p"))
        .distinct()
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    )
    got = {
        r["doc_id"]: (r["nt"], r["nb"])
        for r in d.select("doc_id", F.size("toks").alias("nt"))
        .join(cov, "doc_id", "left")
        .fillna({"nb": 0})
        .select("doc_id", "nt", "nb")
        .collect()
    }
    assert got == _boilerplate_py(docs, n=BOILER_N, min_docs=min_docs)


def test_doc_chunks_cover_every_token_and_overlap(spark, tmp_path):
    """Every token index lands in >=1 chunk; consecutive chunks overlap by
    len-stride; reassembling non-overlapped prefixes reproduces the doc."""
    from cliner_spark.entry_queries import REGISTRY
    from cliner_spark.queries_r2 import CHUNK_LEN, CHUNK_STRIDE

    rng = random.Random(7)
    docs = [
        " ".join(f"t{rng.randint(0, 50)}" for _ in range(rng.randint(1, 100)))
        for _ in range(30)
    ]
    sf = str(tmp_path)
    _docs_df(spark, docs).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    rows = REGISTRY["q_doc_chunks"].spark_fn(spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, text in enumerate(docs):
        toks = text.split()
        chunks = sorted(by_doc[d], key=lambda r: r["chunk_idx"])
        # chunk starts are 0, stride, 2*stride, ... — contiguous indices
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        covered = set()
        for c in chunks:
            start = c["chunk_idx"] * CHUNK_STRIDE
            got_toks = c["chunk_text"].split()
            assert got_toks == toks[start : start + CHUNK_LEN]
            assert c["n_tokens"] == len(got_toks)
            covered.update(range(start, start + len(got_toks)))
        assert covered == set(range(len(toks)))


def test_lexical_diversity_matches_python(spark, tmp_path):
    from cliner_spark.entry_queries import REGISTRY

    rng = random.Random(13)
    docs = [
        " ".join(rng.choice("x y z w V W".split()) for _ in range(rng.randint(1, 40)))
        for _ in range(25)
    ]
    sf = str(tmp_path)
    _docs_df(spark, docs).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["n_hapax"], r["ttr"])
        for r in REGISTRY["q_lexical_diversity"].spark_fn(spark, sf).collect()
    }
    for d, text in enumerate(docs):
        toks = [t.lower() for t in text.split()]
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        exp = (
            len(toks),
            len(cnt),
            sum(1 for v in cnt.values() if v == 1),
            round(len(cnt) / len(toks), 6),
        )
        assert got[d][:3] == exp[:3]
        assert math.isclose(got[d][3], exp[3], abs_tol=1e-9)


def test_ssjoin_prefix_matches_naive_allpairs(spark):
    """Prefix-filter ssjoin is EXACT: equals the brute-force thresholded
    all-pairs join on a random corpus with heavy shared shingles."""
    import itertools

    from cliner_spark.dedup import shingles, ssjoin_prefix

    rng = random.Random(17)
    base = "the quick brown fox jumps over the lazy dog again and again".split()
    docs = []
    for _ in range(40):
        words = [rng.choice(base) for _ in range(rng.randint(3, 20))]
        if rng.random() < 0.4:  # inject near-dups
            words = base[:10] + words[:3]
        docs.append(" ".join(words))
    df = _docs_df(spark, docs)
    got = sorted(
        (r["doc_a"], r["doc_b"], r["common"], r["size_a"], r["size_b"])
        for r in ssjoin_prefix(df, n=3, theta_pct=50).collect()
    )

    sets: dict[int, set] = {}
    for r in shingles(df, 3).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    exp = []
    for a, b in itertools.combinations(sorted(sets), 2):
        common = len(sets[a] & sets[b])
        sa, sb = len(sets[a]), len(sets[b])
        if 100 * common >= 50 * (sa + sb - common):
            exp.append((a, b, common, sa, sb))
    assert got == sorted(exp)
