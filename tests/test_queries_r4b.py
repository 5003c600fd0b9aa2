"""Independent-oracle property tests for the round-4m batch: straight-line
Python replicas (raw parquet fixtures, no Spark/DuckDB shared code) of the
Borůvka maximum spanning forest, the Kaplan-Meier survival ledger, Gini
concentration, Spearman rank agreement, Chao1 richness, and the
Fellegi-Sunter agreement-pattern table, plus structural invariants."""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def _doc_edges():
    """(lo, hi) -> common shared distinct 3-shingles, df-cut 50, >= 2."""
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    sh = defaultdict(set)
    for doc_id, text in docs:
        toks = [t.lower() for t in (text or "").split()]
        for i in range(len(toks) - 2):
            sh[" ".join(toks[i : i + 3])].add(doc_id)
    common = Counter()
    for _s, ds in sh.items():
        if len(ds) > 50:
            continue
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    return {e: c for e, c in common.items() if c >= 2}


def test_boruvka_msf_matches_kruskal_replica(spark):
    edges = _doc_edges()
    ranked = sorted(
        ((-c, lo, hi) for (lo, hi), c in edges.items())
    )[:600]
    parent = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    expect = []
    for rk, (negc, lo, hi) in enumerate(ranked, start=1):
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            expect.append((rk, lo, hi, -negc))
    got = [
        (r["rk"], r["src"], r["dst"], r["common"])
        for r in _q(spark, "q_boruvka_msf").collect()
    ]
    assert sorted(got) == sorted(expect)
    assert len(got) > 0  # non-vacuous on the fixture graph
    # forest invariant: |MSF| = nodes - components
    nodes = {n for rk, lo, hi, c in expect for n in (lo, hi)} | {
        n for (lo, hi) in edges for n in (lo, hi) if True
    }
    roots = {find(n) for n in nodes}
    assert len(got) == len(nodes) - len(roots)


def test_kaplan_meier_matches_python_replica(spark):
    ev = duckdb.sql(
        f"SELECT user_id, CAST(ts AS DATE) AS d FROM "
        f"read_parquet('{SF}/events.parquet')"
    ).fetchall()
    span = defaultdict(lambda: [None, None])
    for uid, d in ev:
        s = span[uid]
        s[0] = d if s[0] is None or d < s[0] else s[0]
        s[1] = d if s[1] is None or d > s[1] else s[1]
    hmax = max(s[1] for s in span.values())
    grid = defaultdict(lambda: [0, 0])  # t -> [events, censored]
    for uid, (d0, d1) in span.items():
        t = (d1 - d0).days
        grid[t][(hmax - d1).days < 7] += 1
    got = {r["t_days"]: r for r in _q(spark, "q_kaplan_meier").collect()}
    assert set(got) == set(grid)
    for t in sorted(grid, reverse=True):
        n_risk = sum(
            sum(grid[t2]) for t2 in grid if t2 >= t
        )
        r = got[t]
        assert r["n_event"] == grid[t][0]
        assert r["n_censored"] == grid[t][1]
        assert r["n_risk"] == n_risk
        assert r["surv_num"] == n_risk - grid[t][0]
        assert abs(r["km_factor"] - (n_risk - grid[t][0]) / n_risk) < 2e-6
    # every user appears exactly once in the ledger
    assert sum(r["n_event"] + r["n_censored"] for r in got.values()) == len(
        span
    )


def test_gini_matches_python_replica(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM "
        f"read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    by_src = defaultdict(list)
    for doc_id, source, n_chars in docs:
        by_src[source].append((n_chars, doc_id))
    got = {r["source"]: r for r in _q(spark, "q_gini_concentration").collect()}
    assert set(got) == set(by_src)
    for src, xs in by_src.items():
        xs.sort()
        n = len(xs)
        sx = sum(x for x, _ in xs)
        num = 2 * sum(i * x for i, (x, _) in enumerate(xs, start=1)) - (
            n + 1
        ) * sx
        r = got[src]
        assert r["n_docs"] == n and r["total_chars"] == sx
        assert r["gini_num"] == num and r["gini_den"] == n * sx
        assert 0 <= r["gini"] < 1  # Gini is a proper concentration index


def test_spearman_matches_python_replica(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, source, n_chars, text FROM "
        f"read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    by_src = defaultdict(list)
    for doc_id, source, n_chars, text in docs:
        n_toks = len([t for t in (text or "").split() if t])
        by_src[source].append((doc_id, n_chars, n_toks))
    got = {r["source"]: r for r in _q(spark, "q_spearman_rank").collect()}
    for src, rows in by_src.items():
        if len(rows) < 2:
            assert src not in got
            continue
        ra = {
            d: i
            for i, (nc, d) in enumerate(
                sorted((nc, d) for d, nc, nt in rows), start=1
            )
        }
        rb = {
            d: i
            for i, (nt, d) in enumerate(
                sorted((nt, d) for d, nc, nt in rows), start=1
            )
        }
        n = len(rows)
        d2 = sum((ra[d] - rb[d]) ** 2 for d, _, _ in rows)
        den = n * (n * n - 1)
        r = got[src]
        assert r["n_docs"] == n and r["d2_sum"] == d2
        assert r["rho_num"] == den - 6 * d2 and r["rho_den"] == den
        assert -1 <= r["spearman_rho"] <= 1


def test_chao1_matches_python_replica(spark):
    docs = duckdb.sql(
        f"SELECT source, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    cnt = defaultdict(Counter)
    for source, text in docs:
        for t in (text or "").split():
            cnt[source][t.lower()] += 1
    got = {r["source"]: r for r in _q(spark, "q_chao1_richness").collect()}
    assert set(got) == set(cnt)
    for src, c in cnt.items():
        f1 = sum(1 for v in c.values() if v == 1)
        f2 = sum(1 for v in c.values() if v == 2)
        r = got[src]
        assert r["s_obs"] == len(c) and r["n_tokens"] == sum(c.values())
        assert r["f1"] == f1 and r["f2"] == f2
        assert r["chao_num"] == f1 * (f1 - 1)
        assert r["chao_den"] == 2 * (f2 + 1)
        # estimator never below the observed richness
        assert r["chao1"] >= r["s_obs"]
        assert 0 <= r["good_coverage"] <= 1
