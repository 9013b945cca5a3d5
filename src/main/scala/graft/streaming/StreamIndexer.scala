package graft.streaming

import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, IndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental indexing as a stream (SURVEY.md §2.10).
  *
  * The reference's closest concept is incremental APPEND indexing with PK
  * upserts and searcher hot-swap
  * (`/root/reference/LuceneSearchEngine/src/Indexer.java:375-384`,
  * `src/Searcher.java:527-583`). Spark-native mapping: a streaming
  * Dataset of pages → `foreachBatch` → one index segment per micro-batch
  * → atomic snapshot pointer flip (the hot swap). Latest-wins dedup runs
  * within the batch at build time and across segments at query/merge time
  * ([[graft.query.Searcher]] dead-docs, [[IndexBuilder.merge]]).
  *
  * Exactly-once: segments are named by `batchId`, so a re-delivered
  * micro-batch (restart between segment write and checkpoint commit) is
  * detected in the snapshot and skipped — the append is idempotent.
  */
object StreamIndexer {

  /** Index one micro-batch as segment `seg-b<batchId>`; idempotent under
    * batch re-delivery. */
  def indexBatch(spark: SparkSession, batch: DataFrame, dict: SynonymDict,
                 root: String, cfg: IndexBuilder.IndexConfig,
                 batchId: Long): Unit = {
    val seg = f"seg-b$batchId%06d"
    IndexStore.readLatestSnapshot(spark, root) match {
      case Some(snap) if snap.segments.contains(seg) => // re-delivery: skip
      case None =>
        IndexBuilder.buildSegment(spark, batch, dict, root, seg, 0L, cfg,
          s"stream-batch-$batchId")
        IndexStore.writeSnapshot(spark, root,
          IndexStore.Snapshot(0L, Seq(seg), Seq.empty,
            dead = Some(Seq.empty)))
      case Some(snap) =>
        // the append base is the max `id_ceiling`, never Σ doc_count: a
        // compaction against a streamed root keeps doc_ids WITH GAPS
        // (invariant 12)
        IndexBuilder.buildSegment(spark, batch, dict, root, seg,
          IndexBuilder.nextAppendBase(spark, root, snap), cfg,
          s"stream-batch-$batchId")
        // advanceForAppend maintains the superseded-id sidecar: upserted
        // urls across micro-batches stay O(appends) at searcher open —
        // a streamed root accumulating thousands of segments must never
        // re-derive liveDocs with a corpus window
        IndexStore.writeSnapshot(spark, root,
          IndexBuilder.advanceForAppend(spark, root, snap, seg))
    }
  }

  /** Start continuous indexing of a streaming page source (readStream of
    * the input_hint schema). Checkpointed — a restarted query resumes
    * from the last committed batch.
    *
    * `keepSnapshots` = automatic snapshot retention (SURVEY §8.4): every
    * `expireEvery` batches the root is trimmed to its newest
    * `keepSnapshots` snapshots via [[IndexStore.expireSnapshots]] —
    * without it a long-running stream accumulates one snapshot JSON per
    * micro-batch forever. Segments stay shared across snapshots, so
    * expiry deletes only pointers (and any segment/tombstone dir no
    * retained snapshot references, e.g. pre-compaction backlogs). A
    * reader must not hold open a snapshot older than the retention
    * window (the expireSnapshots reader contract). */
  def start(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
            root: String, cfg: IndexBuilder.IndexConfig = IndexBuilder.IndexConfig(),
            checkpointDir: Option[String] = None,
            keepSnapshots: Option[Int] = None,
            expireEvery: Int = 1): StreamingQuery = {
    require(expireEvery >= 1, s"expireEvery must be >= 1, got $expireEvery")
    pages.writeStream
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$root/_stream_checkpoint"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        indexBatch(batch.sparkSession, batch, dict, root, cfg, batchId)
        if (batchId % expireEvery == 0)
          keepSnapshots.foreach(k =>
            IndexStore.expireSnapshots(batch.sparkSession, root, k))
      }
      .start()
  }
}
