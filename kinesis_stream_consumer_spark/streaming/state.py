"""Batch-state checkpoint table — reference T1–T4 as a partitioned parquet
MERGE.

The reference checkpoints one DynamoDB item per (streamConsumerId,
shardOrEventID) holding messageStates / rejectedMessageStates /
unusableRecordStates (test/persisting.test.js:311-330). Spark-first
translation: a parquet state table partitioned by those same two keys, one
row per tracked object, upserted with **dynamic partition overwrite** — a
micro-batch rewrites only the (consumer, shard) partitions it touched,
which is the scalable MERGE: load (T1) is a partition-pruned scan, save
(T4) rewrites a few small partitions, never the table.

(Production variant: Delta `MERGE INTO` keyed on the same columns, or
DynamoDB via foreachPartition — same interface.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("streamConsumerId", T.StringType()),
        T.StructField("shardOrEventID", T.StringType()),
        # 'message' | 'rejected' | 'unusable'  (persisting.test.js:311-330)
        T.StructField("kind", T.StringType()),
        T.StructField("identity", T.StringType()),  # stable merge key
        T.StructField("id", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("seqNo", T.StringType()),
        T.StructField("event_id", T.StringType()),
        T.StructField("event_seq_no", T.StringType()),
        T.StructField("event_sub_seq_no", T.LongType()),
        T.StructField("msg_md5", T.StringType()),
        T.StructField("rec_md5", T.StringType()),
        T.StructField("data_md5", T.StringType()),
        T.StructField("tasks_json", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        # sketch-register rows only, NULL on message/rejected/unusable:
        # kind='sketch' (EngineConfig.track_distinct_sketch) — one HLL
        # register per (consumer, shard, bucket), max-merged each save;
        # kind='cms'/'cms_delta' (track_frequency_sketch) — Count-Min
        # counters (bucket=flattened row·w+col index, r=count) and
        # kind='rsv' (track_sample_sketch) — reservoir-sample register
        # (sketch_bucket=rank, sketch_r=priority; identity='RSV|<id>')
        # kind='qsk'/'qsk_delta' (track_quantile_sketch) — log-linear
        # quantile registers (bucket=qid, r=count): both cumulative
        # + this-batch delta keyed by batch_id for replay subtraction.
        T.StructField("sketch_bucket", T.LongType()),
        T.StructField("sketch_r", T.LongType()),
    ]
)


class StateStore:
    """T1 load / T4 save over a partitioned parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def is_empty(self) -> bool:
        """True when the store holds NO prior state for any consumer/shard.

        Part of the public StateStore contract: the engine's cold-start
        plan overlap relies on it to prove the prior slice is empty for
        EVERY shard before speculatively building phase 2 against an empty
        prior. A subclass overriding ``load``/``save`` to a different
        layout (Delta, DynamoDB, ...) MUST override this too, or batch-1
        revives against pre-existing state would be silently dropped."""
        return not self._exists

    @property
    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    def load(self, stream_consumer_id: str, shard_ids=None) -> DataFrame:
        """T1: prior states for this consumer (+ shards) — a partition-pruned
        scan, the parquet analogue of the reference's single DynamoDB get
        (test/persisting.test.js:1144-1151)."""
        if not self._exists:
            return self.spark.createDataFrame([], STATE_SCHEMA)
        df = self.spark.read.parquet(self.path).where(
            F.col("streamConsumerId") == stream_consumer_id
        )
        if shard_ids is not None:
            df = df.where(F.col("shardOrEventID").isin(list(shard_ids)))
        return df.select(*[f.name for f in STATE_SCHEMA.fields])

    def save(self, states: DataFrame, n_partitions: int | None = None) -> None:
        """T4: upsert via dynamic partition overwrite — only the
        (streamConsumerId, shardOrEventID) partitions present in `states`
        are replaced; everything else is untouched. ``n_partitions`` sizes
        the pre-write shuffle (callers that know the shard count pass it:
        a 4-shard micro-batch doesn't need the session's full shuffle
        width of near-empty write tasks).

        COMMITTER ASSUMPTION (load-bearing for the engine's fused
        save+counters path): the engine makes this save the action that
        materializes the lazily-checkpointed exec frame, whose revive-join
        READS the very partitions the save REPLACES. That is safe iff the
        committer deletes replaced partition files only at commitJob —
        true for the built-in Hadoop FileOutputCommitter used on
        local/HDFS paths (tasks write to a staging dir; the dynamic
        overwrite swap happens after every task, and therefore every read
        of the prior files, has finished). A committer with EAGER deletes
        (some S3 direct-write committers) would let replayed tasks read
        their own freshly-saved state — double-counted attempts. On such
        a store, checkpoint eagerly before save (engine fallback) or use a
        transactional table format (Delta MERGE).
        ``tests/test_engine.py::test_fused_save_overwrite_under_read``
        pins the single-counted-attempts behavior.

        COMMITTER ALGORITHM v2 (session.py): each task moves its output
        into the destination at TASK commit, so a job that fails midway
        can leave the files of its committed tasks visible. This save is
        unaffected — dynamic partition overwrite stages every task's
        output under .spark-staging-* and swaps partitions in only at
        commitJob. Plain appends that share the session setting are not:
        a failed DRQ/DMQ append can leave its task-committed files
        visible. At-least-once DLQ delivery covers that; a future
        exactly-once sink must not inherit it (see dlq.append_to_queue)."""
        slim = states.select(*[f.name for f in STATE_SCHEMA.fields])
        slim = (
            slim.repartition(n_partitions, "streamConsumerId", "shardOrEventID")
            if n_partitions
            else slim.repartition("streamConsumerId", "shardOrEventID")
        )
        (
            slim.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("streamConsumerId", "shardOrEventID")
            .parquet(self.path)
        )

    def read_all(self) -> DataFrame:
        if not self._exists:
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self.spark.read.parquet(self.path).select(
            *[f.name for f in STATE_SCHEMA.fields]
        )

    # Any of these anywhere in the task tree ⇒ the message is NOT fully
    # finalised and must survive compaction at any age. Matching the exact
    # `"status": "<Name>"` JSON shape is safe against user text: a literal
    # quote inside a reason string is escaped (\\") by the JSON writer, so
    # it can never form this pattern.
    _NON_FINAL_RE = (
        r'"status":\s*"(Unstarted|Started|Failed|TimedOut|Unusable)"'
    )

    def compact(self, before_batch_id: int) -> int:
        """Retention compaction — the state-table analogue of the
        reference's stale-state abandonment window (T3 rides Kinesis's
        retention; a parquet state table needs an explicit reaper or
        fully-finalised rows accumulate forever). Drops rows that are BOTH
        older than ``before_batch_id`` AND fully finalised; incomplete
        rows are kept at ANY age — they are the replay contract. Returns
        the number of rows dropped.

        Finalisation is decided JVM-side by a regexp over the serialized
        task tree (no non-terminal status present), so the maintenance
        scan stays in whole-stage codegen — no JSON parse, no Python.
        Production variant: the same predicate as a Delta ``DELETE WHERE``
        / DynamoDB TTL; here the surviving rows are checkpointed (the
        rewrite overwrites the very files being read — the same
        lineage-cut save() relies on) and rewritten partitioned."""
        if not self._exists:
            return 0
        df = self.spark.read.parquet(self.path)
        total = df.count()
        keep = df.where(
            (F.col("batch_id") >= before_batch_id)
            | (
                F.col("tasks_json").isNotNull()
                & F.col("tasks_json").rlike(self._NON_FINAL_RE)
            )
            # sketch/cms registers are CUMULATIVE (merged across every
            # batch since consumer start) — never age them out. cms_delta
            # rows are NOT exempted: a delta is only needed while its
            # batch_id is current (the same-batch replay subtraction), and
            # the batch_id >= before_batch_id arm above keeps exactly
            # those; stale deltas age out like finalised messages.
            | F.col("kind").isin("sketch", "cms", "qsk", "rsv")
        ).select(*[f.name for f in STATE_SCHEMA.fields])
        keep = keep.localCheckpoint(eager=True)
        dropped = total - keep.count()
        (
            keep.repartition("streamConsumerId", "shardOrEventID")
            .write.mode("overwrite")
            .partitionBy("streamConsumerId", "shardOrEventID")
            .parquet(self.path)
        )
        return dropped
