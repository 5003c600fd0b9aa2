"""Independent-oracle replica tests for the distributed-data-systems batch
(q_delivery_audit / q_crdt_gossip): a message-by-message delivery
replay and a full gossip simulation with the log2(n) convergence-bound
proof."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_delivery_audit_matches_replica(spark):
    ids = [
        i for (i,) in duckdb.sql(
            f"SELECT event_id FROM read_parquet('{SF}/events.parquet')"
        ).fetchall()
    ]
    recv = defaultdict(list)
    for i in ids:
        h = _md5(f"dlv:{i}")[0]
        p, s = i % 16, i // 16
        if h != "0":
            recv[p].append(s)
        if h == "1":
            recv[p].append(s)
    got = {r["producer"]: r for r in entry.queries()["q_delivery_audit"](spark, SF).collect()}
    assert set(got) == set(recv)
    for p, seqs in recv.items():
        dist = set(seqs)
        lo, hi = min(dist), max(dist)
        r = got[p]
        assert (r["n_received"], r["n_distinct"]) == (len(seqs), len(dist))
        assert r["n_dupes"] == len(seqs) - len(dist)
        assert (r["lo_seq"], r["hi_seq"]) == (lo, hi)
        assert r["n_missing"] == hi - lo + 1 - len(dist)
        assert math.isclose(
            r["delivery_rate"], round(len(dist) / (hi - lo + 1), 6), abs_tol=1e-9
        )
        # the fault model really fired somewhere: some producer has both
    assert any(r["n_dupes"] > 0 for r in got.values())
    assert any(r["n_missing"] > 0 for r in got.values())


def test_crdt_gossip_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT event_id % 8, event_type, count(*) "
        f"FROM read_parquet('{SF}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    inc = {(o, k): c for o, k, c in rows}
    total = sum(inc.values())
    # state[replica] = set of (owner, key) vectors known
    state = {r: {(o, k) for (o, k) in inc if o == r} for r in range(8)}
    got = {
        (r["round"], r["replica"]): r
        for r in entry.queries()["q_crdt_gossip"](spark, SF).collect()
    }
    for rnd in range(4):
        if rnd > 0:
            mask = 2 ** (rnd - 1)
            prev = {r: set(s) for r, s in state.items()}
            for r in range(8):
                state[r] = prev[r] | prev[r ^ mask]
        for r in range(8):
            known = state[r]
            owners = {o for o, _k in known}
            mass = sum(inc[v] for v in known)
            row = got[(rnd, r)]
            assert row["n_owners_known"] == len(owners)
            assert (row["known_count"], row["total"]) == (mass, total)
            assert row["deviation"] == total - mass
            assert row["converged"] == (1 if len(owners) == 8 else 0)
    # the CRDT bound: exactly log2(8) = 3 rounds to full convergence
    assert all(got[(3, r)]["converged"] == 1 for r in range(8))
    assert all(got[(3, r)]["deviation"] == 0 for r in range(8))
    assert any(got[(2, r)]["converged"] == 0 for r in range(8))
