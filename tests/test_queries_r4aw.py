"""Independent-oracle replica tests for the failure-domain batch
(q_ttl_jitter / q_read_your_writes): expiry histograms under both TTL
policies, and the gap-ledger staleness replay."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_ttl_jitter_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    hists = {"fixed": Counter(), "jittered": Counter()}
    for eid, born in rows:
        jit = int(_md5(f"j:{eid}")[:3], 16) % 600
        hists["fixed"][(born + 3600) // 60] += 1
        hists["jittered"][(born + 3600 + jit) // 60] += 1
    got = {r["policy"]: r for r in entry.queries()["q_ttl_jitter"](spark, SF).collect()}
    assert set(got) == {"fixed", "jittered"}
    for policy, h in hists.items():
        counts = sorted(h.values())
        n_min = len(counts)
        p99 = next(
            c for j, c in enumerate(counts, 1) if 100 * j >= 99 * n_min
        )
        r = got[policy]
        assert (r["n_entries"], r["n_minutes"]) == (len(rows), n_min)
        assert r["max_per_min"] == max(counts)
        assert r["p99_per_min"] == p99
        assert math.isclose(
            r["mean_per_min"], round(len(rows) / n_min, 6), abs_tol=1e-6
        )
    # the whole argument: jitter spreads minutes and caps the worst minute
    assert got["jittered"]["n_minutes"] >= got["fixed"]["n_minutes"]
    assert got["jittered"]["max_per_min"] <= got["fixed"]["max_per_min"]


def test_read_your_writes_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT), event_id "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    per = defaultdict(list)
    for u, s, e in rows:
        per[u].append((s, e))
    gaps = []
    for u, ops in per.items():
        ops.sort()
        for (s1, _e1), (s2, _e2) in zip(ops, ops[1:]):
            gaps.append((u, s2 - s1))
    got = {r["replica_lag_s"]: r for r in entry.queries()["q_read_your_writes"](spark, SF).collect()}
    assert set(got) == {1, 10, 60}
    prev_v = None
    for lag in (1, 10, 60):
        viol = [(u, g) for u, g in gaps if g < lag]
        r = got[lag]
        assert r["n_pairs"] == len(gaps)
        assert r["n_violations"] == len(viol)
        assert r["n_users_affected"] == len({u for u, _g in viol})
        assert math.isclose(
            r["violation_rate"], round(len(viol) / len(gaps), 6), abs_tol=1e-9
        )
        # monotone in lag: a slower replica breaks more sessions
        if prev_v is not None:
            assert r["n_violations"] >= prev_v
        prev_v = r["n_violations"]
