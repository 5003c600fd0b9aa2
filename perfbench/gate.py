"""Correctness gate: a sink passes iff its (subj, pred, obj) key set equals
the oracle's, and (for the exactly-once sinks) it holds one row per key.

The sink is read with pyarrow, not Spark, so the check shares no code with
the program under test beyond the parquet format.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.inputs import key_digest

KEY = ["subj", "pred", "obj"]


def read_keys(sink_dir: str) -> pa.Table:
    # Spark's partition directories (e.g. `_bucket=3`) start with "_", which
    # pyarrow skips by default; skip only Spark's marker files and dirs
    return pq.read_table(sink_dir, columns=KEY, partitioning="hive",
                         ignore_prefixes=[".", "_SUCCESS", "_temporary", "_spark_metadata"])


def check(keys: pa.Table, digest: str, n_keys: int, one_row_per_key: bool) -> str | None:
    """None if the sink is correct, else a one-line reason."""
    rows = list(zip(*(keys.column(c).to_pylist() for c in KEY)))
    distinct = set(rows)
    if one_row_per_key and len(rows) != len(distinct):
        return f"{len(rows) - len(distinct)} duplicate key rows"
    if len(distinct) != n_keys:
        return f"{len(distinct)} distinct keys, oracle has {n_keys}"
    if key_digest(distinct) != digest:
        return "key set differs from the oracle's"
    return None


def self_test(keys: pa.Table, digest: str, n_keys: int) -> list[str]:
    """Corrupt a correct sink three ways; each must fail the gate. Returns
    the names of corruptions the gate wrongly accepted."""
    planted = pa.table({
        "subj": ["conv:planted"], "pred": ["MENTIONS"], "obj": ["concept:C9999"],
    }, schema=keys.schema)
    cases = {
        "planted": pa.concat_tables([keys, planted]),
        "dropped": keys.slice(1),
        "duplicated": pa.concat_tables([keys, keys.slice(0, 1)]),
    }
    return [name for name, t in cases.items()
            if check(t, digest, n_keys, one_row_per_key=True) is None]
