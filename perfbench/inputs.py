"""Seeded workload inputs with an on-disk cache, and the oracle digest.

Each workload's transcripts are generated from its seed alone (numpy
Generator + deterministic string assembly, no Spark), written as one parquet
file, and cached under `<work>/cache/<workload>-s<seed>/` together with
its first HEAD_TURNS rows (the warm-up input, and the input of the traced
`run_resumable` and `run_stream_triples` calls), the input shape and, for
both files, the digest of the triple key set the plain-Python oracle
(`cliner_spark.oracle_py.pipeline_triples`) expects. A cached entry is reused
as is; the program only ever receives the parquet files.

Vocabulary: the CLINICAL_GAZETTEER surface forms (what `predict` scans for)
planted into the FILLER_WORDS background, so mention density is set by how
many terms are planted per filler token.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cliner_spark import fixtures, oracle_py


HEAD_TURNS = 1000


@dataclass(frozen=True)
class Shape:
    """Knobs of one workload's generated input."""

    n_turns: int
    n_convs: int
    filler_lo: int  # filler tokens per ordinary turn, uniform in [lo, hi]
    filler_hi: int
    terms_per_filler: float  # planted gazetteer terms per filler token
    hot_turns: int  # turns of conv00000 (the hot conversation)
    tail_share: float  # share of turns whose length is 10-20x the median
    hot_threshold: int  # passed to `predict --hot-threshold`


# Why each workload exists is recorded in BENCHMARK.json, and the layer
# split it was sized from in perfbench/README.md. The sizes keep the warm
# `predict` call at 12-16 s on a 4-core host, so that a run (JVM start,
# warm-up call, one timed call, oracle check) stays near one minute.
SHAPES = {
    # ~13-token turns, ~2.5 mentions each (about 5 triples per turn): of the
    # input-dependent time, most goes to triples build and the salted sink;
    # the scan is small. conv00000 holds 12k turns, above the 10k
    # --hot-threshold, so salting engages.
    "predict_dense": Shape(
        n_turns=30_000, n_convs=300, filler_lo=6, filler_hi=12,
        terms_per_filler=0.28, hot_turns=12_000, tail_share=0.0,
        hot_threshold=10_000,
    ),
    # ~250-token turns with about one mention per 50 tokens, plus a heavy
    # tail (0.25% of turns, 10-20x the median length): the scan kernel is
    # the largest input-dependent layer, and the dominance filter pads each
    # Arrow batch to its longest turn's candidate count. The file stays
    # below the ~12 MB at which Spark's splits stop ensure_parallelism from
    # repartitioning. No conversation crosses the default 100k threshold,
    # so salting is bypassed.
    "predict_longtail": Shape(
        n_turns=12_000, n_convs=300, filler_lo=150, filler_hi=350,
        terms_per_filler=0.02, hot_turns=0, tail_share=0.0025,
        hot_threshold=100_000,
    ),
}

TERMS = [t for (t, *_rest) in fixtures.CLINICAL_GAZETTEER]
FILLER = list(fixtures.FILLER_WORDS)


def generate(shape: Shape, seed: int) -> pa.Table:
    """Transcripts table (schemas.TRANSCRIPTS column order) for one seed."""
    rng = np.random.default_rng(seed)
    n = shape.n_turns
    n_filler = rng.integers(shape.filler_lo, shape.filler_hi + 1, n)
    # The tail's count and lengths (10-20x the median, evenly spread) are the
    # same for every seed: the longest turn sets the dominance filter's
    # padding, and with it the scan time and worker memory.
    tail = rng.choice(n, round(n * shape.tail_share), replace=False)
    median = (shape.filler_lo + shape.filler_hi) // 2
    n_filler[tail] = np.round(np.linspace(10, 20, len(tail)) * median)
    # terms per turn: the expected count, randomly rounded
    n_terms = np.floor(n_filler * shape.terms_per_filler + rng.random(n)).astype(np.int64)

    conv = np.zeros(n, dtype=np.int64)
    conv[shape.hot_turns:] = rng.integers(1, shape.n_convs, n - shape.hot_turns)
    rng.shuffle(conv)
    # turn_idx = rank of the row within its conversation, in file order
    order = np.argsort(conv, kind="stable")
    first = np.r_[True, np.diff(conv[order]) != 0]
    group_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[order] = np.arange(n) - group_start

    filler_ids = rng.integers(0, len(FILLER), int(n_filler.sum()))
    term_ids = rng.integers(0, len(TERMS), int(n_terms.sum()))
    # insertion slot of each planted term among its turn's filler tokens
    slots = rng.random(int(n_terms.sum()))
    texts = []
    f_at = t_at = 0
    for i in range(n):
        words = [FILLER[j] for j in filler_ids[f_at:f_at + n_filler[i]]]
        f_at += n_filler[i]
        k = n_terms[i]
        pos = (slots[t_at:t_at + k] * (len(words) + 1)).astype(np.int64)
        # insert right-to-left so earlier slots keep their meaning
        for p, tid in sorted(zip(pos, term_ids[t_at:t_at + k]), reverse=True):
            words.insert(int(p), TERMS[tid])
        t_at += k
        texts.append(" ".join(words))

    conv_ids = np.array([f"conv{c:05d}" for c in range(shape.n_convs)], dtype=object)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.arange(n, dtype=np.int64).astype("timedelta64[s]"))
    roles = np.array(fixtures.ROLES, dtype=object)
    return pa.table(
        {
            "conv_id": pa.array(conv_ids[conv], pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles[np.arange(n) % 3], pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.nulls(n, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def key_digest(keys) -> str:
    """Order-independent digest of a set of (subj, pred, obj) keys."""
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update("\t".join(k).encode())
        h.update(b"\n")
    return h.hexdigest()


def input_shape(table: pa.Table, n_mentions: int, hot_turns: int) -> dict:
    lens = np.array([len(t.split()) for t in table.column("text").to_pylist()])
    return {
        "turns": table.num_rows,
        "tokens": int(lens.sum()),
        "turn_len_p50": float(np.percentile(lens, 50)),
        "turn_len_p99": float(np.percentile(lens, 99)),
        "turn_len_max": int(lens.max()),
        "mentions_per_turn": round(n_mentions / table.num_rows, 4),
        "hot_conv_turns": hot_turns,
    }


@dataclass(frozen=True)
class Oracle:
    """A transcripts parquet file and the oracle's expected key set for it."""

    path: str
    turns: int
    digest: str
    n_keys: int


@dataclass(frozen=True)
class Inputs:
    full: Oracle  # the workload input
    head: Oracle  # its first HEAD_TURNS rows
    shape: dict
    hot_threshold: int


GENERATOR_VERSION = 4  # bump when generate() or the cache layout changes


def generator_key(shape: Shape) -> dict:
    return {"version": GENERATOR_VERSION, "head_turns": HEAD_TURNS, **asdict(shape)}


def _oracle_chunk(rows: list[dict]) -> tuple[set, int]:
    keys, mentions = oracle_py.pipeline_triples(rows, fixtures.CLINICAL_GAZETTEER)
    return keys, len(mentions)


def oracle_digest(table: pa.Table, procs: int) -> tuple[str, int, int]:
    """(digest, key count, mention count) the plain-Python oracle expects.

    pipeline_triples maps each turn to its triples and unions them, so the
    oracle over row chunks, unioned, is the oracle over the table; `procs`
    worker processes share the chunks."""
    rows = table.select(["conv_id", "turn_idx", "text"]).to_pylist()
    step = -(-len(rows) // procs)
    chunks = [rows[i:i + step] for i in range(0, len(rows), step)]
    with multiprocessing.get_context("fork").Pool(len(chunks)) as pool:
        parts = pool.map(_oracle_chunk, chunks)
        pool.close()
        pool.join()
    keys = set().union(*(k for k, _ in parts))
    return key_digest(keys), len(keys), sum(n for _, n in parts)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def prepare(workload: str, seed: int, cache_root: str, procs: int) -> Inputs:
    """Generate (or reuse) the workload's input, its head slice and their
    oracle digests, the oracle on `procs` processes."""
    shape = SHAPES[workload]
    d = os.path.join(cache_root, f"{workload}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("generator") != generator_key(shape):
            meta = None
    if meta is None:
        os.makedirs(d, exist_ok=True)
        table = generate(shape, seed)
        head = table.slice(0, HEAD_TURNS)
        digest, n_keys, n_mentions = oracle_digest(table, procs)
        head_digest, head_keys, _ = oracle_digest(head, procs)
        meta = {
            "generator": generator_key(shape),
            "shape": input_shape(table, n_mentions, shape.hot_turns),
            "full": [digest, n_keys, table.num_rows],
            "head": [head_digest, head_keys, head.num_rows],
        }
        _write(table, os.path.join(d, "full.parquet"))
        _write(head, os.path.join(d, "head.parquet"))
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)

    def oracle(name: str) -> Oracle:
        digest, n_keys, turns = meta[name]
        return Oracle(os.path.join(d, f"{name}.parquet"), turns, digest, n_keys)

    return Inputs(oracle("full"), oracle("head"), meta["shape"], shape.hot_threshold)
