package graft.streaming

import graft.commands.LakeEngine
import graft.format.{CommitOp, LakeTable}
import graft.write.LakeWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Exactly-once streaming sink into a snapshot-log table (net-new vs the
  * reference — SURVEY §2.7).
  *
  * Structured Streaming's `foreachBatch` gives at-least-once: a batch
  * whose commit lands but whose checkpoint write doesn't is REPLAYED with
  * the same batchId on restart. The sink closes that gap the way
  * Iceberg's Spark sink does: each commit records its (queryKey, batchId)
  * in the snapshot summary, and a replayed batch whose id is already at
  * or below the table's high-water mark for that query is skipped. The
  * dedup state lives IN the table — one atomic commit carries both the
  * data and the marker, so there is no window where one lands without the
  * other.
  *
  * Scale shape: one micro-batch = one append commit (O(changed-files)
  * metadata with incremental manifests); the high-water-mark probe walks
  * the snapshot chain head-first and stops at the first marker for the
  * query, so steady-state cost is O(1) commits back, not O(history).
  */
object LakeStreamSink {
  val QueryKey = "graft.stream.query-key"
  val BatchKey = "graft.stream.batch-id"
  val HwmPropPrefix = "graft.stream.hwm."

  /** Highest batchId committed for `queryKey`, or None if the query has
    * never committed. The durable source is the table property written
    * atomically with every sink commit — snapshot summaries also carry a
    * marker, but expireSnapshots can drop those with their snapshots, so
    * a property-less marker walk alone could replay an acknowledged
    * batch after expiry. Max of both covers pre-property tables. */
  def lastCommittedBatch(table: LakeTable, queryKey: String): Option[Long] = {
    val m = table.metadata
    val fromProp = m.properties.get(HwmPropPrefix + queryKey).map(_.toLong)
    val fromWalk = m.currentSnapshotId.iterator.flatMap(m.lineage)
      .find(_.summary.get(QueryKey).contains(queryKey))
      .flatMap(_.summary.get(BatchKey)).map(_.toLong)
    (fromProp ++ fromWalk).maxOption
  }

  /** Idempotent micro-batch append: a replayed (queryKey, batchId) is a
    * no-op; a fresh one writes files and commits them together with the
    * batch marker and the durable high-water-mark property. */
  def appendBatch(engine: LakeEngine, table: LakeTable, queryKey: String,
      batchId: Long, batch: DataFrame,
      sizeHintBytes: Option[BigInt] = None): Unit = {
    table.refresh()
    if (lastCommittedBatch(table, queryKey).exists(_ >= batchId)) return
    val files = LakeWriter.write(engine.spark, table, batch,
      sizeHintBytes = sizeHintBytes)
    table.commit(CommitOp.Append(files, None,
      Map(QueryKey -> queryKey, BatchKey -> batchId.toString),
      Map(HwmPropPrefix + queryKey -> batchId.toString)))
    ()
  }

  /** Start `stream` writing into `table` with exactly-once semantics.
    * Restarting from the same checkpoint replays at most the last batch,
    * which the batch-id marker deduplicates. */
  def start(stream: DataFrame, engine: LakeEngine, table: LakeTable,
      queryKey: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(engine, table, queryKey, batchId, batch)
      }
      .trigger(trigger)
      .start()
}
