"""Streaming expiry sweep + change-event emission (SURVEY.md §2.10).

Reference behavior re-expressed:
- periodic cleanup loop (core/server.py:86-98, every
  MEMORY_CLEANUP_INTERVAL_SECONDS=300): here a Structured Streaming query
  with trigger(processingTime=...) whose foreachBatch runs sweep_once_txn
  over the memory TxnTable (state/txn.py);
- SSE events memory_expired / document_added (README.md:196-205): here the
  expired rows of each sweep ride the same commit that deletes them and
  drain into an events sink table — a change feed any downstream reader
  can readStream.

The reference gets this atomicity from SQLite transactions
(memory/storage/sqlite.py:75-108); the TxnTable commit log is the one
persistence protocol here (swap for Delta on a cluster — the transforms
are identical). The sweep is driven by a rate-source tick; each tick is one
sweep.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_expiry_sweep(
    table,
    events_dir: str,
    *,
    interval_seconds: int = 300,
    now_fn=None,
    checkpoint_dir: str | None = None,
):
    """Start the periodic sweep over a TxnTable handle as a streaming query;
    returns the handle. Each tick runs sweep_once_txn with the caller's
    handle, so its stat_cols (e.g. expires_at zone maps) prune every sweep
    and survive every rewrite.

    now_fn() -> datetime lets tests pin the clock (defaults to wall clock,
    matching the reference's behavior). The default checkpoint is a
    SIBLING of the table root, never inside it, so the checkpoint files
    stay out of the table's directory listing and vacuum.
    """
    spark = table.spark
    ticks = spark.readStream.format("rate").option("rowsPerSecond", 1).load()

    def sweep(batch_df: DataFrame, batch_id: int) -> None:
        sweep_once_txn(table, events_dir, now=(now_fn() if now_fn else None))

    return (
        ticks.writeStream.trigger(processingTime=f"{interval_seconds} seconds")
        .option("checkpointLocation", checkpoint_dir or table.path.rstrip("/") + "_checkpoint")
        .foreachBatch(sweep)
        .start()
    )


def sweep_once_txn(table, events_dir: str, now: datetime | None = None) -> int:
    """One expiry sweep over a transactional TxnTable (state/txn.py): drop
    expired rows, emit memory_expired events, return the number of rows
    expired (the reference's cleanup return value,
    memory/manager/queries.py:32-44).

    One commit deletes the expired rows AND carries their memory_expired
    events; drain_events then delivers them exactly-once. No write-audit-
    publish rename dance, no recovery step: a crash before the commit
    publishes shows the old version (an identical re-sweep follows); a crash
    after it leaves the events inside the committed version for the next
    drain. Multi-writer safe — a concurrent upsert between read and publish
    just forces the delete's optimistic retry.
    """
    now = now or datetime.now(timezone.utc)
    now_col = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
    from ..state.txn import drain_events, expired_skipper

    drain_events(table, events_dir)  # deliver any prior commit's events first
    expired_cond = F.col("expires_at").isNotNull() & (F.col("expires_at") <= now_col)

    def events_of(matching: DataFrame) -> DataFrame:
        return matching.select(
            F.lit("memory_expired").alias("event_type"),
            F.col("key"),
            now_col.alias("ts"),
        )

    # Zone-map pruning: when the table records expires_at stats, directories
    # whose minimum expiry is in the future are neither scanned nor rewritten
    # (r8; conservative — dirs without stats always scan).
    skip = expired_skipper("expires_at", now.replace(tzinfo=None)) if (
        "expires_at" in getattr(table, "stat_cols", ())
    ) else None
    _, n = table.delete_where(expired_cond, events_of=events_of, skip_dir=skip)
    drain_events(table, events_dir)
    return n


def document_added_events(
    prev_docs: DataFrame,
    curr_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    now_col=None,
) -> DataFrame:
    """``document_added`` change events for docs present in curr but not prev
    — the doc-side half of the reference's SSE feed
    (reference README.md:196-205: memory_expired AND document_added).

    An anti-join snapshot diff: at scale both sides are parquet/Delta scans
    and the anti join broadcasts or shuffles on the id only (ids projected
    before the join, payloads never move).
    """
    added = curr_docs.select(F.col(id_col)).join(
        prev_docs.select(F.col(id_col)), id_col, "left_anti"
    )
    cols = [
        F.lit("document_added").alias("event_type"),
        F.col(id_col).cast("string").alias("key"),
    ]
    if now_col is not None:
        cols.append(now_col.alias("ts"))
    return added.select(*cols)


def emit_document_added(
    prev_docs: DataFrame,
    curr_docs: DataFrame,
    events_dir: str,
    *,
    id_col: str = "doc_id",
    now: datetime | None = None,
) -> int:
    """Append ``document_added`` events to the change-feed sink; returns the
    event count. The diff itself is document_added_events (pure)."""
    now = now or datetime.now(timezone.utc)
    now_col = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
    events = document_added_events(prev_docs, curr_docs, id_col=id_col, now_col=now_col).persist()
    try:
        n = events.count()  # materializes the cache; the write reuses it
        if n:
            events.write.mode("append").parquet(events_dir)
    finally:
        events.unpersist()
    return n
