"""Independent-oracle replica tests for the analysis-governance batch
(q_trimmed_mean / q_runs_test)."""

from __future__ import annotations

from collections import defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_trimmed_mean_matches_replica(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    by_src = defaultdict(list)
    for d, s, nc in docs:
        by_src[s].append((nc, d))
    got = {r["source"]: r for r in entry.queries()["q_trimmed_mean"](spark, SF).collect()}
    for s, vals in by_src.items():
        vals.sort()
        xs = [x for x, _ in vals]
        n = len(xs)
        k = n // 20
        core = xs[k : n - k]
        r = got[s]
        assert (r["n"], r["k"], r["sum_all"]) == (n, k, sum(xs))
        assert (r["trimmed_num"], r["trimmed_den"]) == (sum(core), n - 2 * k)
        assert (r["winsor_num"], r["winsor_den"]) == (
            sum(core) + k * xs[k] + k * xs[n - k - 1], n,
        )
        # estimator ladder ordering holds trivially as exact integers
        assert r["trimmed_den"] > 0
    # trimming bites: somewhere the trimmed mean differs from the mean
    assert any(
        r["trimmed_num"] * r["n"] != r["sum_all"] * r["trimmed_den"]
        for r in got.values()
        if r["k"] > 0
    )


def test_runs_test_matches_replica(spark):
    ev = duckdb.sql(
        f"SELECT event_type, CAST(ts AS DATE), count(*) "
        f"FROM read_parquet('{SF}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    series = defaultdict(dict)
    for et, d, n in ev:
        series[et][d] = n
    got = {r["event_type"]: r for r in entry.queries()["q_runs_test"](spark, SF).collect()}
    assert set(got) == set(series)
    for et, days in series.items():
        xs = sorted(days.items())
        vals = sorted((x, d) for d, x in xs)
        med = vals[(len(vals) + 1) // 2 - 1][0]
        signs = [(d, 1 if x > med else 0) for d, x in xs if x != med]
        n1 = sum(s for _, s in signs)
        n2 = len(signs) - n1
        n = len(signs)
        runs = 0
        prev = None
        for _, s in signs:
            if prev is None or s != prev:
                runs += 1
            prev = s
        r = got[et]
        assert (r["n_above"], r["n_below"], r["n_runs"]) == (n1, n2, runs)
        assert (r["exp_runs_num"], r["exp_runs_den"]) == (n + 2 * n1 * n2, n)
        assert r["var_runs_num"] == 2 * n1 * n2 * (2 * n1 * n2 - n)
        assert r["var_runs_den"] == (n * n * (n - 1) if n > 1 else None)
        # runs are bounded by the dichotomy structure
        assert 1 <= runs <= n
    # the test is non-degenerate somewhere: both sides populated
    assert any(r["n_above"] > 0 and r["n_below"] > 0 for r in got.values())
