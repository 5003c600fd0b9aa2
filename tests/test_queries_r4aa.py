"""Independent-oracle replica tests for the segmentation/allocation
batch (q_binary_segmentation / q_stable_matching), incl. a stability
(no-blocking-pair) proof at fixpoint."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
CAP = 5
ROUNDS = 6


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_binary_segmentation_matches_replica(spark):
    ev = duckdb.sql(
        f"SELECT CAST(ts AS DATE), count(*) FROM read_parquet('{SF}/events.parquet') GROUP BY 1"
    ).fetchall()
    days = {d: n for d, n in ev}
    d0, d1 = min(days), max(days)
    xs = []
    d = d0
    while d <= d1:
        xs.append((d, days.get(d, 0)))
        d = d + (d1 - d1 + __import__("datetime").timedelta(days=1))

    def argmax_split(series):
        n = len(series)
        t = sum(x for _, x in series)
        best = None
        s = 0
        for i, (day, x) in enumerate(series, 1):
            s += x
            stat = n * s - i * t
            key = (abs(stat), )
            if best is None or abs(stat) > best[0]:
                best = (abs(stat), day, i, stat, n, t)
        return best

    b1 = argmax_split(xs)
    left, right = xs[: b1[2]], xs[b1[2]:]
    b_l = argmax_split(left)
    b_r = argmax_split(right)
    rows = {(r["level"], r["segment"]): r for r in entry.queries()["q_binary_segmentation"](spark, SF).collect()}
    assert set(rows) == {(1, "all"), (2, "left"), (2, "right")}
    r = rows[(1, "all")]
    assert (r["split_day"], r["split_k"], r["cusum_num"]) == (str(b1[1]), b1[2], b1[3])
    assert (r["seg_n"], r["seg_total"]) == (b1[4], b1[5])
    for side, b in (("left", b_l), ("right", b_r)):
        r = rows[(2, side)]
        assert (r["split_day"], r["split_k"], r["cusum_num"]) == (str(b[1]), b[2], b[3])
        assert (r["seg_n"], r["seg_total"]) == (b[4], b[5])
    # the recursion is non-trivial: both halves are non-empty
    assert rows[(2, "left")]["seg_n"] >= 1 and rows[(2, "right")]["seg_n"] >= 1
    assert rows[(2, "left")]["seg_n"] + rows[(2, "right")]["seg_n"] == b1[4]


def test_stable_matching_matches_replica_and_stability(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, source FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    papers = sorted({d for d, _ in docs if d % 5 == 0})
    reviewers = sorted({s for _, s in docs})
    m = len(reviewers)
    pref = {
        p: sorted(reviewers, key=lambda r: (_md5(f"ps:{p}:{r}"), r))
        for p in papers
    }
    rscore = {(r, p): _md5(f"rs:{r}:{p}") for r in reviewers for p in papers}

    def step(state):
        pool = defaultdict(list)
        for p, (ptr, _) in state.items():
            if ptr < m:
                pool[pref[p][ptr]].append(p)
        new = {}
        for p, (ptr, _) in state.items():
            if ptr >= m:
                new[p] = (ptr, False)
        for r, ps in pool.items():
            ranked = sorted(ps, key=lambda p: (rscore[(r, p)], p))
            for i, p in enumerate(ranked):
                if i < CAP:
                    new[p] = (state[p][0], True)
                else:
                    new[p] = (state[p][0] + 1, False)
        return new

    state = {p: (0, False) for p in papers}
    for _ in range(ROUNDS):
        state = step(state)
    rows = {r["doc_id"]: r for r in entry.queries()["q_stable_matching"](spark, SF).collect()}
    assert set(rows) == set(papers)
    n_held = sum(1 for v in state.values() if v[1])
    for p in papers:
        ptr, held = state[p]
        r = rows[p]
        assert (r["n_rejections"], r["held"]) == (ptr, held)
        assert r["reviewer"] == (pref[p][ptr] if held else None)
        assert (r["n_held"], r["n_papers"]) == (n_held, len(papers))
    # at a fixpoint the parallel variant IS Gale-Shapley: prove stability
    if step(state) == state:
        match = {p: pref[p][v[0]] for p, v in state.items() if v[1]}
        load = defaultdict(list)
        for p, r in match.items():
            load[r].append(p)
        for p in papers:
            limit = state[p][0] if not state[p][1] else state[p][0]
            for r in pref[p][:limit]:  # reviewers p strictly prefers
                held = load[r]
                if len(held) < CAP:
                    raise AssertionError(f"blocking pair {p}-{r} (spare cap)")
                worst = max(held, key=lambda q: (rscore[(r, q)], q))
                assert rscore[(r, p)] > rscore[(r, worst)], (
                    f"blocking pair {p}-{r}"
                )
    # capacity respected and fixture non-vacuous
    per_rev = defaultdict(int)
    for p, v in state.items():
        if v[1]:
            per_rev[pref[p][v[0]]] += 1
    assert all(c <= CAP for c in per_rev.values())
    assert n_held > 0
    assert any(v[0] > 0 for v in state.values())
