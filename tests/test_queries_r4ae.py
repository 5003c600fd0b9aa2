"""Independent-oracle replica test for q_group_sequential, incl. the OBF
crossing proof under the planted lift."""

from __future__ import annotations

import hashlib
import math

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_group_sequential_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT event_id, ts FROM read_parquet('{SF}/events.parquet') "
        f"ORDER BY ts, event_id"
    ).fetchall()
    n = len(rows)
    # ntile(5): first (n % 5) buckets get ceil(n/5)
    sizes = [(n // 5) + (1 if i < n % 5 else 0) for i in range(5)]
    bounds = {1: 4.562, 2: 3.226, 3: 2.634, 4: 2.040, 5: 2.040}
    bounds[4] = 2.281
    got = {r["look"]: r for r in entry.queries()["q_group_sequential"](spark, SF).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    idx = 0
    nt = st = nc = sc = 0
    any_reject = False
    for look in range(1, 6):
        for _ in range(sizes[look - 1]):
            eid = rows[idx][0]
            idx += 1
            trt = _md5(f"arm:{eid}")[0] < "8"
            thr = "a" if trt else "8"
            succ = _md5(f"s:{eid}")[0] < thr
            if trt:
                nt += 1
                st += succ
            else:
                nc += 1
                sc += succ
        r = got[look]
        assert (r["nt"], r["st"], r["nc"], r["sc"]) == (nt, st, nc, sc)
        diff = st * nc - sc * nt
        assert r["diff_num"] == diff
        n_all, s_all = nt + nc, st + sc
        z2 = diff * diff * n_all / (nt * nc * s_all * (n_all - s_all))
        assert math.isclose(r["z2"], round(z2, 6), abs_tol=1e-6)
        assert math.isclose(r["obf_z"], bounds[look], abs_tol=1e-9)
        assert r["reject"] == (1 if z2 > bounds[look] ** 2 else 0)
        any_reject = any_reject or r["reject"] == 1
    # the planted 2/16 lift must cross the OBF boundary by the late looks
    assert any_reject
    assert got[5]["reject"] == 1
