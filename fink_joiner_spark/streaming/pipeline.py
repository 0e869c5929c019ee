"""The CRMLS pipeline, streaming mode — the reference's production job
re-architected for Spark (SURVEY.md §3.1 / §7).

Reference shape (``CRMLSJoiner.scala``): 6 Kafka topics → envelope
parse → latest-per-key dedup ×6 → 11-way LEFT JOIN → retract stream.

Spark shape: each input stream maintains a :class:`SnapshotStore`
(incremental latest-snapshot upsert per micro-batch); after each round
of upserts, the join runs as a *batch* query over the maintained
snapshots and its retract delta is emitted. This sidesteps Spark's
multiple-stateful-operator restriction and — more importantly at
100 TB — bounds join state: a stream-stream outer join would buffer
both full streams in the state store forever (no watermark can GC a
changelog join), whereas snapshot joins only ever touch current
entity versions.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_joiner_spark.streaming.dedup_stream import SnapshotStore


class StreamDef:
    """One input stream: a streaming DataFrame + its dedup contract."""

    def __init__(
        self,
        name: str,
        stream_df: DataFrame,
        keys: Sequence[str],
        order_col: str,
        tie_breakers: Sequence[str] = (),
    ):
        self.name = name
        self.stream_df = stream_df
        self.keys = keys
        self.order_col = order_col
        self.tie_breakers = tie_breakers


def run_snapshot_join_pipeline(
    spark: SparkSession,
    streams: Sequence[StreamDef],
    join_fn: Callable[[Mapping[str, DataFrame]], DataFrame],
    work_dir: str,
    result_name: str = "result",
) -> dict[str, SnapshotStore]:
    """Drive all input streams to completion (AvailableNow), maintaining
    one snapshot per stream, then materialize the joined result and its
    retract delta against the previous run's result.

    Returns the snapshot stores (``result_name`` store holds the joined
    output; its changelog parquet is the retract stream).
    """
    stores: dict[str, SnapshotStore] = {}
    queries = []
    for s in streams:
        store = SnapshotStore(
            os.path.join(work_dir, s.name), s.keys, s.order_col, s.tie_breakers
        )
        stores[s.name] = store

        def process(batch_df: DataFrame, batch_id: int, _store=store) -> None:
            _store.upsert(batch_df, batch_id=batch_id)

        q = (
            s.stream_df.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(work_dir, s.name, "_checkpoint"))
            .start()
        )
        queries.append(q)
    for q in queries:
        q.awaitTermination()

    snapshots = {name: store.read(spark) for name, store in stores.items()}
    joined = join_fn(snapshots)
    # The joined result is itself snapshot-maintained: its upsert delta
    # is the retract stream of the continuous join.
    result_store = SnapshotStore(
        os.path.join(work_dir, result_name),
        keys=[joined.columns[0]],
        order_col=joined.columns[0],
    )
    # For the join result we want full-row diff semantics, not
    # latest-per-key — store the rows verbatim and diff (bucket-pruned
    # rewrite through the shared versioned-store commit protocol).
    # replace() pins the diff, so the changelog write below re-reads
    # it instead of running both exceptAlls again.
    inserts, retracts = result_store.replace(joined)
    delta = inserts.withColumn("is_retract", F.lit(False)).unionByName(
        retracts.withColumn("is_retract", F.lit(True))
    )
    delta.write.mode("overwrite").parquet(os.path.join(work_dir, result_name, "changelog"))
    stores[result_name] = result_store
    return stores
