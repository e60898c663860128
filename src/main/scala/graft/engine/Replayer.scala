package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.lake.{LakeTable, MergeUpsert}

/** Epoch-driven WAL replay loop (SURVEY.md §3.4): plan the next epoch from
  * the checkpointed commit log, run the merge, commit, repeat. Restart-safe:
  * the manifest's epochWatermark IS the checkpoint — `run` called on a
  * half-replayed table resumes exactly after the last committed epoch, and
  * duplicate calls (or duplicate epoch delivery) are no-ops.
  *
  * Each epoch lands as a DELTA commit (O(batch) work, never O(table));
  * `compactEvery = k` is the read-amplification dial: every k committed
  * epochs an INCREMENTAL maintenance pass folds the buckets holding ≥ k
  * delta files (O(hot buckets), not O(table)), and one FULL compaction
  * runs at the end of the drain so the final state is a pure base tier.
  * Small k ≈ copy-on-write freshness, large k ≈ pure log-structured ingest
  * with a single fold at the end. Compaction failure (lost CAS) is
  * non-fatal by design: the merge-on-read view is already correct.
  *
  * Micro-batch semantics mirror Structured Streaming's
  * `Trigger.AvailableNow` — drain all available epochs, then stop — without
  * requiring a long-running query, matching the reference's nightly-batch
  * cadence (daily 22:00, /root/reference/README.md:7) made exact.
  */
object Replayer {

  final case class EpochReport(epoch: Long, result: Option[MergeUpsert.MergeResult])
  final case class RunReport(epochs: Seq[EpochReport], compactions: Int) {
    def eventsApplied: Long = epochs.flatMap(_.result).map(_.eventsApplied).sum
    def rowsWritten: Long = epochs.flatMap(_.result).map(_.rowsWritten).sum
    def bytesWritten: Long = epochs.flatMap(_.result).map(_.bytesWritten).sum
  }

  /** Replay all epochs in [watermark+1, maxEpoch] from the change stream.
    * `events` must contain an `epoch` column; only the needed epoch range
    * is scanned per batch (partition-prunable when the stream is stored
    * partitioned by epoch). `compactEvery = k > 0` runs an incremental
    * hot-bucket fold (threshold = k delta files) after every k-th
    * committed epoch AND one full compaction at the end of the run, so
    * the final state is a pure base tier. This is [[Pipeline.run]] with
    * no domains: the same epoch step and compaction schedule. */
  def run(spark: SparkSession, events: DataFrame, table: LakeTable,
          maxEpoch: Long, upToEpoch: Option[Long] = None,
          compactEvery: Int = 0): RunReport = {
    val r = Pipeline.run(spark, events, table, Seq.empty, Map.empty,
      maxEpoch, upToEpoch, compactEvery)
    RunReport(r.updates.map(u => EpochReport(u.epoch, u.result)), r.compactions)
  }

  /** Full backfill (S3's `$(isInc)='N'` branch made explicit): drop any
    * existing state and replay the complete stream from epoch 0 — the
    * TRUNCATE-reload full refresh (S8) expressed through the same merge
    * path, so backfill and incremental produce byte-identical states. */
  def backfill(spark: SparkSession, events: DataFrame, tableRoot: String,
               numBuckets: Int, maxEpoch: Long,
               compactEvery: Int = 0): (LakeTable, RunReport) = {
    val dir = java.nio.file.Paths.get(tableRoot)
    if (java.nio.file.Files.exists(dir)) {
      // refuse to truncate anything that is not recognizably a lake table
      // root (or an empty directory): a mistyped/mis-joined path — e.g. a
      // parent directory — would otherwise be irreversibly destroyed
      import scala.jdk.CollectionConverters._
      val isEmpty = scala.util.Using.resource(
        java.nio.file.Files.list(dir))(!_.iterator().hasNext)
      require(isEmpty ||
        java.nio.file.Files.isDirectory(dir.resolve("_log")),
        s"backfill: refusing to truncate '$tableRoot' — it is neither " +
          "empty nor a lake table root (no _log/ subdirectory)")
      // truncate: remove the manifest log and data (full refresh)
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(p =>
          java.nio.file.Files.deleteIfExists(p))
      }
    }
    val table = new LakeTable(tableRoot, numBuckets)
    (table, run(spark, events, table, maxEpoch, compactEvery = compactEvery))
  }

  /** Per-partition lineage view from the commit log (north_star metrics). */
  def lineage(table: LakeTable): Map[String, String] =
    table.currentManifest.map(_.lineage).getOrElse(Map.empty)
}
