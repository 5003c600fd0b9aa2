"""Independent-oracle replica tests for the assignment/shedding batch
(q_greedy_matching / q_load_shed_priority): a full priority-matching
replay with the no-node-matched-twice proof, and the shedding fairness
band."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _edges():
    docs = duckdb.sql(
        f"SELECT doc_id, coalesce(text, '') FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    sh = {}
    for did, text in docs:
        toks = text.split()
        sh[did] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    inv = defaultdict(list)
    for did, ss in sh.items():
        for g in ss:
            inv[g].append(did)
    common = Counter()
    for g, ds in inv.items():
        if len(ds) > 50:
            continue
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    return sorted(p for p, c in common.items() if c >= 2)


def test_greedy_matching_matches_replica(spark):
    edges = _edges()
    nodes = {n for e in edges for n in e}
    free = set(nodes)
    alive = list(edges)
    per_round = {}
    matched_nodes = set()
    for r in (1, 2, 3):
        key = {
            (lo, hi): _md5(f"m{r}:{lo}-{hi}") + "#" + str(lo).zfill(12)
            for lo, hi in alive
        }
        sel = []
        for e in alive:
            lo, hi = e
            ok = all(
                key[e] < key[o]
                for o in alive
                if o != e and (lo in o or hi in o)
            )
            if ok:
                sel.append(e)
        per_round[r] = len(sel)
        for lo, hi in sel:
            # validity: no node matched twice, ever
            assert lo not in matched_nodes and hi not in matched_nodes
            matched_nodes.update((lo, hi))
        free -= matched_nodes
        alive = [e for e in alive if e[0] in free and e[1] in free]
    got = {r["rnd"]: r for r in entry.queries()["q_greedy_matching"](spark, SF).collect()}
    assert set(got) == {r for r, n in per_round.items() if n > 0}
    for r, n in per_round.items():
        if n == 0:
            continue
        row = got[r]
        assert row["n_edges_matched"] == n
        assert (row["n_nodes"], row["n_edges"]) == (len(nodes), len(edges))
        assert row["n_free_after"] == len(free)
        assert row["n_edges_left"] == len(alive)
    # frontier shrink: round 1 matches the most
    if len(per_round) > 1 and per_round.get(2, 0) > 0:
        assert per_round[1] >= per_round[2]


def test_load_shed_priority_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT event_id, event_type, CAST(floor(epoch(ts) / 60) AS BIGINT) "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    per_min = defaultdict(list)
    for eid, et, m in rows:
        per_min[m].append((_md5(f"pri:{eid}"), eid, et))
    stats = defaultdict(lambda: dict(n=0, shed=0, mins=set()))
    for m, lst in per_min.items():
        # pri = md5 over the unique event id -> no ties; plain desc sort
        lst = sorted(lst, key=lambda t: t[0], reverse=True)
        for slot, (_p, eid, et) in enumerate(lst, 1):
            s = stats[et]
            s["n"] += 1
            if slot > 32:
                s["shed"] += 1
                s["mins"].add(m)
    got = {r["event_type"]: r for r in entry.queries()["q_load_shed_priority"](spark, SF).collect()}
    assert set(got) == set(stats)
    rates = []
    for et, e in stats.items():
        r = got[et]
        assert (r["n_events"], r["n_shed"]) == (e["n"], e["shed"])
        assert r["n_minutes_shedding"] == len(e["mins"])
        if e["mins"]:
            assert r["shed_span_min"] == max(e["mins"]) - min(e["mins"])
        assert math.isclose(
            r["shed_rate"], round(e["shed"] / e["n"], 6), abs_tol=1e-9
        )
        rates.append(e["shed"] / e["n"])
    # fairness: priorities are type-independent, so shed rates sit in a band
    if min(rates) > 0:
        assert max(rates) / min(rates) < 1.5
