"""Independent-oracle replica test for q_prefix_cache."""

from __future__ import annotations

import math
from collections import Counter

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_prefix_cache_matches_replica(spark):
    texts = [
        t or ""
        for (t,) in duckdb.sql(
            f"SELECT text FROM read_parquet('{SF}/documents.parquet')"
        ).fetchall()
    ]
    toks = [t.split() for t in texts]
    got = {r["depth"]: r for r in entry.queries()["q_prefix_cache"](spark, SF).collect()}
    assert set(got) <= {1, 2, 4, 8}
    prev_prefixes = 0
    prev_docs = None
    for d in sorted(got):
        groups = Counter(" ".join(tk[:d]) for tk in toks if len(tk) >= d)
        n_docs = sum(groups.values())
        saved = sum((c - 1) * d for c in groups.values())
        r = got[d]
        assert (r["n_docs"], r["n_prefixes"]) == (n_docs, len(groups))
        assert r["n_shared_docs"] == sum(c for c in groups.values() if c >= 2)
        assert r["max_group"] == max(groups.values())
        assert (r["tokens_saved"], r["tokens_total"]) == (saved, n_docs * d)
        assert math.isclose(r["hit_rate"], round(saved / (n_docs * d), 6), abs_tol=1e-9)
        # refinement: deeper prefixes split groups, never merge them
        assert r["n_prefixes"] >= prev_prefixes
        if prev_docs is not None:
            assert r["n_docs"] <= prev_docs
        prev_prefixes, prev_docs = r["n_prefixes"], r["n_docs"]
    # the fixture vocab is tiny, so depth-1 sharing must be massive
    assert got[1]["hit_rate"] > 0.5
