"""Independent-oracle replica test for q_partition_advisor: partition-metric
replay from raw tables."""

from __future__ import annotations

import math
from collections import Counter

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_partition_advisor_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT event_type, CAST(ts AS DATE), user_id % 64, "
        f"date_trunc('hour', ts) FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    cands = {
        "event_type": Counter(str(r[0]) for r in rows),
        "day": Counter(str(r[1]) for r in rows),
        "user_bucket": Counter(str(r[2]) for r in rows),
        "hour": Counter(str(r[3]) for r in rows),
    }
    got = {r["cand"]: r for r in entry.queries()["q_partition_advisor"](spark, SF).collect()}
    assert set(got) == set(cands)
    for cand, cnt in cands.items():
        r = got[cand]
        n_rows = sum(cnt.values())
        assert (r["n_partitions"], r["n_rows"]) == (len(cnt), n_rows)
        assert (r["max_rows"], r["min_rows"]) == (max(cnt.values()), min(cnt.values()))
        assert r["n_small"] == sum(1 for v in cnt.values() if v < 64)
        assert (r["skew_num"], r["skew_den"]) == (max(cnt.values()) * len(cnt), n_rows)
        assert math.isclose(
            r["skew_ratio"], round(max(cnt.values()) * len(cnt) / n_rows, 6),
            abs_tol=1e-9,
        )
        assert r["avg_in_band"] == (1 if 64 <= n_rows // len(cnt) <= 8192 else 0)
        # skew ratio >= 1 always, == 1 only if perfectly even
        assert r["skew_ratio"] >= 1.0
    # finer keys -> more partitions, monotone sanity across the ladder
    assert got["hour"]["n_partitions"] >= got["day"]["n_partitions"]
