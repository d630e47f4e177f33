"""Seeded inputs and reference answers for the benchmark workloads.

Everything here runs before the Spark session starts and outside the
engine: numpy draws the inputs from the run's seed (the simjoin and s3m
inputs from the rows in ``fixtures/``), pyarrow stages them as parquet
(one file per micro-batch), DuckDB computes the
per-batch reference answers of the two joins, and numpy those of the
S3M match, range probe and SGD trajectory. Each reference is reduced
to ``(rows, checksum)`` with the same order-insensitive checksum the
benchmark applies to the engine's sink output.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * _M1
    x = (x ^ (x >> np.uint64(27))) * _M2
    return x ^ (x >> np.uint64(31))


def checksum(*cols) -> tuple[int, int]:
    """(row count, order-insensitive exact checksum) of integer columns:
    each row hashes its values in column order, rows sum mod 2^64."""
    n = len(cols[0]) if cols else 0
    with np.errstate(over="ignore"):
        h = np.full(n, _GOLD, dtype=np.uint64)
        for c in cols:
            h = _mix(h ^ np.asarray(c, dtype=np.int64).view(np.uint64))
        return n, int(h.sum(dtype=np.uint64))


def cents(x) -> np.ndarray:
    """Two-decimal doubles as exact int64 hundredths."""
    return np.rint(np.asarray(x, dtype=np.float64) * 100).astype(np.int64)


def workload_rng(workload: str, seed: int) -> np.random.Generator:
    """One stream of draws per (workload, seed): the same seed always
    gives the same inputs, and workloads never share draws."""
    return np.random.default_rng([zlib.crc32(workload.encode()), seed])


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> str:
    pq.write_table(table, path, row_group_size=row_group_size)
    return path


@dataclass
class Inputs:
    """Staged inputs of one run: parquet paths, per-batch reference
    answers, and the per-batch facts the metrics need (record counts,
    distinct keys)."""

    work_dir: str
    store_path: str
    batch_paths: list[str]
    expected: list  # per batch: (rows, checksum) or a workload-specific tuple
    records: list[int]  # stream records per batch
    distinct_keys: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# equi-join workloads (SemiStreamJoin)
# ---------------------------------------------------------------------------


def _lineitem_batch(b: int, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "l_orderkey": np.arange(n, dtype=np.int64) + b * 10_000_000,
            "l_linenumber": (np.arange(n, dtype=np.int64) % 7) + 1,
            "l_partkey": keys.astype(np.int64),
        }
    )


def _join_references(store_path: str, batch_paths: list[str]) -> list:
    con = duckdb.connect()
    try:
        out = []
        for p in batch_paths:
            r = con.execute(
                f"""
                SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
                       CAST(round(s.p_retailprice * 100) AS BIGINT) AS c
                FROM read_parquet('{p}') l
                JOIN read_parquet('{store_path}') s USING (l_partkey)
                """
            ).fetchnumpy()
            out.append(
                checksum(r["l_orderkey"], r["l_linenumber"], r["l_partkey"], r["c"])
            )
        return out
    finally:
        con.close()


def gen_enrich_drift(rng, work_dir: str, n_batches: int, size: dict) -> Inputs:
    """Key-sorted store far larger than the cache window keeps; the
    Zipf working set jumps to a fresh key range every ``phase``
    batches, so misses spike on the jump and decay as the cache
    learns the set's tail."""
    n_store, n_ws, rows, phase = (
        size["store"], size["working_set"], size["rows"], size["phase"]
    )
    price = np.round(rng.uniform(900.0, 2100.0, n_store), 2)
    # sorted keys in small row groups: the store is physically
    # clustered on the key, so a pushed IN filter prunes row groups
    store_path = _write(
        pa.table(
            {"l_partkey": np.arange(n_store, dtype=np.int64), "p_retailprice": price}
        ),
        os.path.join(work_dir, "store.parquet"),
        row_group_size=4096,
    )
    probs = _zipf_probs(n_ws, 1.1)
    n_phases = -(-n_batches // phase)
    sets = [
        start + rng.permutation(n_ws)
        for start in rng.choice(n_store // n_ws, size=n_phases, replace=False) * n_ws
    ]
    batch_paths, distinct = [], []
    for b in range(n_batches):
        keys = sets[b // phase][rng.choice(n_ws, size=rows, p=probs)]
        distinct.append(int(len(np.unique(keys))))
        batch_paths.append(
            _write(_lineitem_batch(b, keys), os.path.join(work_dir, f"b{b:04d}.parquet"))
        )
    return Inputs(
        work_dir,
        store_path,
        batch_paths,
        _join_references(store_path, batch_paths),
        [rows] * n_batches,
        distinct,
    )


# ---------------------------------------------------------------------------
# similarity join (SemiStreamSimilarityJoin)
# ---------------------------------------------------------------------------


def _docs_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": ids.astype(np.int64), "text": texts})


def gen_simjoin(rng, work_dir: str, n_batches: int, size: dict) -> Inputs:
    """Store: the first ``docs`` rows of the documents fixture. Stream
    docs: perturbed copies of stored rows (1-3 tokens replaced by other
    words of the corpus vocabulary, or only dropped when the row already
    holds every word, which lands their Jaccard to the source near the
    3/4 threshold) plus held-out fixture rows, drawn
    without replacement, as novel documents."""
    src = pq.read_table(os.path.join(FIXTURES, "documents.parquet"))
    texts = src["text"].to_pylist()
    n_docs, per_batch = size["docs"], size["batch_docs"]
    toks = [sorted(set(t.split())) for t in texts[:n_docs]]
    vocab = np.array(sorted({w for t in texts for w in t.split()}))
    store_path = _write(
        _docs_table(np.arange(n_docs), texts[:n_docs]),
        os.path.join(work_dir, "store.parquet"),
    )
    novel = rng.permutation(np.arange(n_docs, len(texts)))
    n_novel = 0
    batch_paths, records = [], []
    for b in range(n_batches):
        docs = []
        for _ in range(per_batch):
            if rng.random() < size["near_share"] or n_novel == len(novel):
                src_toks = toks[int(rng.integers(n_docs))]
                k = int(rng.integers(1, 4))
                keep = rng.permutation(src_toks)[: len(src_toks) - k]
                others = np.setdiff1d(vocab, src_toks)
                fresh = rng.choice(others, size=min(k, len(others)), replace=False)
                docs.append(" ".join(rng.permutation(np.concatenate([keep, fresh]))))
            else:
                docs.append(texts[novel[n_novel]])
                n_novel += 1
        ids = 1_000_000_000 + b * 100_000 + np.arange(per_batch)
        batch_paths.append(
            _write(_docs_table(ids, docs), os.path.join(work_dir, f"b{b:04d}.parquet"))
        )
        records.append(per_batch)
    con = duckdb.connect()
    try:
        expected = []
        for p in batch_paths:
            r = con.execute(
                f"""
                WITH a AS (SELECT doc_id AS a_id,
                                  list_distinct(string_split(text, ' ')) AS t
                           FROM read_parquet('{p}')),
                     b AS (SELECT doc_id AS b_id,
                                  list_distinct(string_split(text, ' ')) AS t
                           FROM read_parquet('{store_path}')),
                     at AS (SELECT a_id, len(t) AS la, unnest(t) AS tok FROM a),
                     bt AS (SELECT b_id, len(t) AS lb, unnest(t) AS tok FROM b),
                     pairs AS (SELECT a_id, b_id, la, lb, count(*) AS inter
                               FROM at JOIN bt USING (tok)
                               GROUP BY a_id, b_id, la, lb)
                SELECT a_id, b_id, inter, la + lb - inter AS uni
                FROM pairs WHERE 4 * inter >= 3 * (la + lb - inter)
                """
            ).fetchnumpy()
            expected.append(checksum(r["a_id"], r["b_id"], r["inter"], r["uni"]))
    finally:
        con.close()
    return Inputs(work_dir, store_path, batch_paths, expected, records)


# ---------------------------------------------------------------------------
# S3M: subsequence match + delayed-label SGD
# ---------------------------------------------------------------------------

S3M_SCALE = 100  # two-decimal series: exact integer distances


def sliding_d2(values_c: np.ndarray, query_c: np.ndarray) -> np.ndarray:
    """Exact squared distance (in hundredths²) of ``query_c`` to every
    window of ``values_c``; both int64 hundredths."""
    win = np.lib.stride_tricks.sliding_window_view(values_c, len(query_c))
    d = win - query_c
    return np.einsum("ij,ij->i", d, d)


def s3m_features(window: np.ndarray, head: np.ndarray, match: int, pred: int):
    """Feature vector of one window: its deltas, then the deltas of the
    ``pred`` points that followed its best match in the stored head
    (zeros when the match sits too close to the head's end)."""
    m = len(window)
    fut = head[match + m - 1 : match + m + pred]
    ds = np.diff(fut) if len(fut) == pred + 1 else np.zeros(pred)
    return np.concatenate([np.diff(window), ds])


def sgd_reference(X_batches, y_batches, dim: int, step: float, iters: int) -> list:
    """The warm-started mini-batch SGD the S3M stage runs, written out
    from its definition: per batch, ``iters`` full-gradient steps with
    rate step/sqrt(it); predictions made before each batch's update."""
    w, b = np.zeros(dim), 0.0
    preds = []
    for X, y in zip(X_batches, y_batches):
        preds.append(X @ w + b)
        n = len(y)
        for it in range(1, iters + 1):
            err = X @ w + b - y
            lr = step / np.sqrt(it)
            w = w - lr * (X.T @ err / n)
            b = b - lr * float(err.mean())
    return preds


def gen_s3m(rng, work_dir: str, n_batches: int, size: dict) -> Inputs:
    """The events value series from the fixture. The stored head is its
    first ``stored`` points; the stream starts at a seeded offset in
    the tail, and each batch brings ``windows`` new windows of it. The
    head stays under 10k points: ``batch_best_match`` drops windows
    that straddle an Arrow record batch (10k rows by default), so a
    longer head gives wrong best matches. References: exact best match
    and an epsilon range whose boundary falls between two distinct
    integer distances (so the match set has no float ambiguity)."""
    m, pred, k = size["m"], size["pred"], size["windows"]
    values = pq.read_table(os.path.join(FIXTURES, "events_value.parquet"))[
        "value"
    ].to_numpy()
    n_stored = size["stored"]
    per_batch = k * m
    slack = len(values) - (n_stored + n_batches * per_batch + m + pred)
    if slack < 0:
        raise ValueError(
            f"s3m: {n_batches} batches of {per_batch} points do not fit in the "
            f"{len(values) - n_stored}-point tail of the events series"
        )
    first = n_stored + int(rng.integers(slack + 1))
    pos = np.arange(len(values))
    vc = cents(values)
    head_c = vc[:n_stored]
    store_path = _write(
        pa.table({"pos": pos[:n_stored], "value": values[:n_stored]}),
        os.path.join(work_dir, "store.parquet"),
    )
    batch_paths, expected, X_b, y_b = [], [], [], []
    for b in range(n_batches):
        lo = first + b * per_batch
        batch_paths.append(
            _write(
                pa.table(
                    {
                        "pos": pos[lo : lo + per_batch],
                        "value": values[lo : lo + per_batch],
                    }
                ),
                os.path.join(work_dir, f"b{b:04d}.parquet"),
            )
        )
        best, X, y = [], [], []
        for j in range(k):
            s = lo + j * m
            d2 = sliding_d2(head_c, vc[s : s + m])
            bp = int(np.argmin(d2))  # ties: lowest position, as the engine
            best.append((j, bp, int(d2[bp])))
            X.append(s3m_features(values[s : s + m], values[:n_stored], bp, pred))
            y.append(values[s + m + pred - 1] - values[s + m + pred - 2])
        # epsilon range probe of the batch's first window: the radius
        # sits midway between the 5th and 6th smallest distinct
        # distance, so the match set has no float-boundary ambiguity
        d2 = sliding_d2(head_c, vc[lo : lo + m])
        uniq = np.unique(d2)
        eps2 = (int(uniq[4]) + int(uniq[5])) / 2.0
        expected.append(
            {
                "best": best,
                "epsilon": float(np.sqrt(eps2)) / S3M_SCALE,
                "range": checksum(np.flatnonzero(d2 <= eps2)),
            }
        )
        X_b.append(np.array(X))
        y_b.append(np.array(y))
    preds = sgd_reference(
        X_b, y_b, (m - 1) + pred, size["step"], size["iters"]
    )
    for e_b, p in zip(expected, preds):
        e_b["pred"] = p
    return Inputs(
        work_dir,
        store_path,
        batch_paths,
        expected,
        [per_batch] * n_batches,
        extra={"head": values[:n_stored], "n_stored": n_stored},
    )


GENERATORS = {
    "enrich_drift": gen_enrich_drift,
    "simjoin": gen_simjoin,
    "s3m": gen_s3m,
}
