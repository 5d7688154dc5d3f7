"""Seeded change-log generator for the benchmark's inputs.

The engine receives only the files written here: epoch-partitioned parquet
in the change-log layout ``(lsn, op, doc_id, tokens, n_tok, source)`` under
``epoch=<k>/``.  The event mix follows the engine's own generator
(``cdc.changelog.generate_change_log``) -- 30% of events on the hot 1% of
keys, 5% deletes, 2% verbatim duplicate delivery, rows shuffled within an
epoch -- but is drawn with NumPy, so a million events take a few seconds to
write instead of a Spark job per epoch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MIN_TOK, MAX_TOK = 4, 96
N_SOURCES = 5


def doc_ids(n_docs: int) -> pa.Array:
    """Key strings ``doc_00000042`` for document numbers ``0..n_docs-1``."""
    return pa.array([f"doc_{i:08d}" for i in range(n_docs)])


def source_nums(n_docs: int, seed: int) -> np.ndarray:
    """A document's source is a fixed function of its number and the seed."""
    nums = np.arange(n_docs, dtype=np.uint64)
    h = (nums * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed)) >> np.uint64(33)
    return (h % np.uint64(N_SOURCES)).astype(np.int32)


def write_epochs(
    root: str,
    seed: int,
    n_docs: int,
    epoch_sizes: list[int],
    first_epoch: int = 0,
    first_lsn: int = 0,
    hot_fraction: float = 0.30,
    delete_pct: int = 5,
    dup_pct: int = 2,
) -> list[dict]:
    """Write one parquet file per epoch under ``root/epoch=<k>/``.

    Keys are document numbers below ``n_docs``.  Returns one record per
    epoch: its number, LSN range, event count (duplicates included) and
    distinct keys.  The same ``seed`` and arguments give the same files."""
    rng = np.random.default_rng([seed, first_epoch, n_docs])
    n_hot = max(n_docs // 100, 1)
    keys = doc_ids(n_docs)
    src_names = pa.array([f"src{i}" for i in range(N_SOURCES)])
    src = source_nums(n_docs, seed)
    op_names = pa.array(["D", "I", "U"])
    lsn = first_lsn
    out = []
    for i, n in enumerate(epoch_sizes):
        hot = rng.random(n) < hot_fraction
        nums = np.where(hot, rng.integers(0, n_hot, n), rng.integers(0, n_docs, n))
        roll = rng.integers(0, 100, n)
        op = (roll >= delete_pct).astype(np.int32) + (roll >= delete_pct + 40)
        is_del = op == 0
        n_tok = rng.integers(MIN_TOK, MAX_TOK, n).astype(np.int32)
        n_tok[is_del] = 0
        values = rng.integers(0, VOCAB, int(n_tok.sum()), dtype=np.int32)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(n_tok, out=offsets[1:])
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets, mask=np.append(is_del, False)), pa.array(values)
        )
        lsns = np.arange(lsn, lsn + n, dtype=np.int64)
        lsn += n
        idx = np.arange(n)
        dup = idx[rng.integers(0, 100, n) < dup_pct]
        order = rng.permutation(np.concatenate([idx, dup]))
        table = pa.table(
            {
                "lsn": pa.array(lsns),
                "op": op_names.take(pa.array(op)),
                "doc_id": keys.take(pa.array(nums)),
                "tokens": tokens,
                "n_tok": pa.array(n_tok, mask=is_del),
                "source": src_names.take(pa.array(src[nums])),
            }
        ).take(pa.array(order))
        d = os.path.join(root, f"epoch={first_epoch + i}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            table, os.path.join(d, "part-0.parquet"),
            compression="none", use_dictionary=["op", "doc_id", "source"],
        )
        out.append(
            {
                "epoch": first_epoch + i,
                "lsn_lo": int(lsns[0]),
                "lsn_hi": int(lsns[-1]),
                "events": int(len(order)),
                "keys": int(np.unique(nums).size),
            }
        )
    return out
