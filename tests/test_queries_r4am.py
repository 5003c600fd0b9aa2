"""Independent-oracle replica test for q_cramer_von_mises (a Fractions
CvM)."""

from __future__ import annotations

import math
from fractions import Fraction

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_cramer_von_mises_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT n_chars, lang = 'en' FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    a = sorted(x for x, en in rows if en)
    b = sorted(x for x, en in rows if not en)
    n1, n2 = len(a), len(b)
    vals = sorted(set(a) | set(b))
    import bisect

    t_num = 0
    ks = 0
    for v in vals:
        f1 = bisect.bisect_right(a, v)
        f2 = bisect.bisect_right(b, v)
        c1 = f1 - bisect.bisect_left(a, v)
        c2 = f2 - bisect.bisect_left(b, v)
        core = n2 * f1 - n1 * f2
        t_num += core * core * (c1 + c2)
        ks = max(ks, abs(core))
    r = entry.queries()["q_cramer_von_mises"](spark, SF).collect()
    assert len(r) == 1
    r = r[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["n_distinct_vals"] == len(vals)
    assert (r["t_num"], r["ks_num"]) == (t_num, ks)
    t = Fraction(t_num * n1 * n2, n1 * n1 * n2 * n2 * (n1 + n2) ** 2)
    assert math.isclose(r["t_stat"], float(t), abs_tol=2e-6)
    # CvM is a sum of squares: strictly positive when the samples differ
    assert r["t_num"] > 0
