"""Output checks: pairwise F1, order-independent digests, table reads."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from mdmpublic_spark.tables import Table


def pairwise_f1(labeled, cluster_of: dict) -> dict:
    """F1 of "same cluster" predictions over labeled (a, b, is_match) pairs.

    A url missing from ``cluster_of`` is its own cluster. Conventions
    follow mdmpublic_spark.evaluate: precision (recall) is 1 when nothing
    is predicted (expected)."""
    tp = fp = fn = 0
    for a, b, is_match in labeled:
        pred = cluster_of.get(a, ("self", a)) == cluster_of.get(b, ("self", b))
        tp += pred and is_match
        fp += pred and not is_match
        fn += is_match and not pred
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def clustering_f1(predicted: dict, truth: dict) -> float:
    """Pairwise F1 of a predicted clustering against a true one, over all
    item pairs, by counting cluster sizes instead of listing pairs. Items
    are the keys of ``truth``; an item missing from ``predicted`` is a
    singleton."""
    pred = {k: predicted.get(k, ("self", k)) for k in truth}
    both = sum(_pairs(n) for n in Counter((pred[k], truth[k]) for k in truth).values())
    pred_pairs = sum(_pairs(n) for n in Counter(pred.values()).values())
    true_pairs = sum(_pairs(n) for n in Counter(truth.values()).values())
    if not pred_pairs and not true_pairs:
        return 1.0
    return 2 * both / (pred_pairs + true_pairs)


def digest(rows) -> str:
    """Order-independent digest of a multiset of rows: row count plus the
    sum, mod 2**64, of a 64-bit hash of each row's repr."""
    n = 0
    acc = 0
    for row in rows:
        h = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return f"{n}:{acc:016x}"


def read_rows(table: pa.Table, columns: list[str]) -> list[tuple]:
    cols = [table.column(c).to_pylist() for c in columns]
    return list(zip(*cols))


def read_snapshot(table_path: str, columns: list[str]) -> pa.Table:
    """Current snapshot of a package Table, read with pyarrow (no Spark job)."""
    snap = Table(table_path).current()
    parts = [
        pq.read_table(os.path.join(table_path, d), columns=columns) for d in snap.data_dirs
    ]
    return pa.concat_tables(parts) if parts else pa.table({c: [] for c in columns})


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under a directory."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return total, files
