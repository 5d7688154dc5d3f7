"""Independent final-state oracle.

The expected table state is recomputed from the raw change log with a
``row_number`` window over ``(doc_id ORDER BY lsn DESC)``; it does not use
the engine's ``lww_latest`` / ``max_by`` reduction.  Results are compared
through order-insensitive signatures: a row count, a sum of 64-bit row
hashes, and the bytes of the live rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PAYLOAD = ["doc_id", "tokens", "n_tok", "source"]


def latest_events(log: DataFrame, max_epoch: int) -> DataFrame:
    """Newest event per key among epochs ``<= max_epoch``, tombstones kept:
    ``doc_id, tokens, n_tok, source, lsn, deleted``."""
    w = Window.partitionBy("doc_id").orderBy(F.col("lsn").desc())
    return (
        log.where(F.col("epoch") <= max_epoch)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*PAYLOAD, "lsn", (F.col("op") == "D").alias("deleted"))
    )


def live_rows(latest: DataFrame) -> DataFrame:
    return latest.where(~F.col("deleted")).select(*PAYLOAD)


def _row_hash() -> F.Column:
    return F.xxhash64(*PAYLOAD).cast("decimal(38,0)")


def _feed_hash(lsn_col: str, deleted_col: str) -> F.Column:
    dead = F.coalesce(F.col(deleted_col), F.lit(False))
    live = [F.when(~dead, F.col(c)) for c in PAYLOAD[1:]]
    return F.xxhash64(F.col("doc_id"), F.col(lsn_col), dead, *live).cast("decimal(38,0)")


def live_signature(rows: DataFrame) -> tuple[int, int, int]:
    """(rows, hash sum, live bytes) of a frame of live rows.  Live bytes
    count the key and source strings, four bytes per token and four for
    ``n_tok``."""
    r = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(_row_hash()), F.lit(0)).alias("h"),
        F.coalesce(
            F.sum(
                F.length("doc_id") + F.length("source") + 4 * F.coalesce(F.col("n_tok"), F.lit(0)) + 4
            ),
            F.lit(0),
        ).alias("b"),
    ).collect()[0]
    return int(r["n"]), int(r["h"]), int(r["b"])


def feed_signature(feed: DataFrame, lsn_col: str = "_lsn", deleted_col: str = "_deleted") -> tuple[int, int]:
    """(rows, hash sum) of a changed-since feed: key, LSN, tombstone flag
    and, for live rows, the payload."""
    r = feed.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(_feed_hash(lsn_col, deleted_col)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"])


def row_set(rows) -> set[tuple]:
    return {(r["doc_id"], tuple(r["tokens"] or ()), r["n_tok"], r["source"]) for r in rows}


class Oracle:
    """Expected results for a log at a given last committed epoch."""

    def __init__(self, spark: SparkSession, log: DataFrame):
        self.spark = spark
        self.log = log
        self._latest: dict[int, DataFrame] = {}

    def latest(self, max_epoch: int) -> DataFrame:
        if max_epoch not in self._latest:
            self._latest[max_epoch] = latest_events(self.log, max_epoch).cache()
        return self._latest[max_epoch]

    def final(self, max_epoch: int) -> tuple[int, int, int]:
        return live_signature(live_rows(self.latest(max_epoch)))

    def lookup(self, max_epoch: int, keys: list[str]) -> set[tuple]:
        rows = live_rows(self.latest(max_epoch)).where(F.col("doc_id").isin(keys)).collect()
        return row_set(rows)

    def scan(self, max_epoch: int, lo: str, hi: str) -> tuple[int, int, int]:
        return live_signature(
            live_rows(self.latest(max_epoch)).where(F.col("source").between(lo, hi))
        )

    def feed(self, max_epoch: int, watermark: int) -> tuple[int, int]:
        return feed_signature(
            self.latest(max_epoch).where(F.col("lsn") > watermark), "lsn", "deleted"
        )

    def close(self) -> None:
        for df in self._latest.values():
            df.unpersist()
        self._latest.clear()
