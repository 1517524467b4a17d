package graft.streaming

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Transforms

/**
 * Streaming form of the reference's E1 pipeline (SURVEY.md §3): a JSON
 * document stream → parse → flatten → derive → GDPR filter → multi-sink.
 *
 * Two deliberate upgrades over the reference:
 *
 *  1. ONE streaming query with a `foreachBatch` fan-out instead of three
 *     independent queries started from the same lineage
 *     (`Real_Time_Data.py:139-160` re-reads Kafka 3× and checkpoints only
 *     one of the sinks). Here the micro-batch is persisted once, written to
 *     every sink concurrently, and the single checkpoint covers all of them.
 *  2. Every sink write is keyed and replay-idempotent: `dropDuplicates` on
 *     the key within the batch, and (for the parquet sink) batchId-derived
 *     dynamic partition overwrite, so a replayed batch rewrites its own
 *     partition instead of appending a duplicate — exactly-once file
 *     contents rather than the reference's at-least-once.
 *
 * Sources are abstracted so the same plan runs from Kafka in production and
 * from MemoryStream/file sources in tests (no network in CI).
 */
object StreamingEtl {

  /** A streaming source yielding a `value` column of JSON documents. */
  sealed trait StreamSource {
    def load(spark: SparkSession): DataFrame
  }

  /** Kafka (production): identical options to the reference
   * (`Real_Time_Data.py:37-42`). Requires the kafka connector jar at
   * runtime; kept thin and unexercised in the offline test env. */
  final case class KafkaSource(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest") extends StreamSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
  }

  /** Newline-delimited JSON files under a directory (offline stand-in);
   * the text source already yields the `value` column the spine expects. */
  final case class FileLinesSource(path: String) extends StreamSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream.format("text").load(path)
  }

  /** The streaming plan: same pure stages as batch (all stateless narrow
   * transforms — a single WholeStageCodegen span, no shuffle, no state). */
  def profileStream(raw: DataFrame, asOf: Date, minAge: Int = 18): DataFrame =
    Transforms.gdprFilter(
      Transforms.flattenProfile(
        Transforms.explodeResults(
          Transforms.parseEnvelope(raw)), asOf), minAge)

  /** Cost-free pipeline observability: per-batch row count, null-key count
   * and age bounds collected map-side by `observe` (AccumulatorV2 under the
   * hood — no extra pass over the data, no action). In streaming they
   * surface in `StreamingQueryProgress.observedMetrics("spine_metrics")`;
   * in batch via a `QueryExecutionListener`. The operational substitute for
   * the reference's print-and-eyeball monitoring. */
  def observedProfiles(profiles: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    profiles.observe("spine_metrics",
      count(lit(1)).as("n_rows"),
      sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_null_id"),
      min("age").as("min_age"),
      max("age").as("max_age"))
  }

  /** A named sink taking one micro-batch as the stream produced it, with
   * its batch id. The batch is not deduplicated: a keyed sink dedups on its
   * own key (see `parquetKeyedSink`). */
  final case class BatchSink(name: String, write: (DataFrame, Long) => Unit)

  /** Parquet keyed sink: in-batch key dedup + batch-deterministic placement.
   *
   * Each micro-batch lands in its own `__batch_id=<n>` partition via dynamic
   * partition overwrite, so replaying a batch (crash after a partial OR
   * complete write, before the checkpoint commit) overwrites exactly that
   * batch's partition instead of appending a second copy — a plain
   * `mode("append")` here would only be at-least-once, since foreachBatch
   * has no sink-side commit protocol of its own. Idempotent replay +
   * checkpointed offsets = exactly-once file contents.
   *
   * Files are zstd-compressed, as in `WriteLayout`: one small file per
   * micro-batch carries a fixed footer and page overhead, and zstd stores
   * the profile columns in fewer bytes than snappy. */
  def parquetKeyedSink(path: String, key: String = "id"): BatchSink =
    BatchSink(s"parquet:$path", (batch, batchId) =>
      batch.dropDuplicates(key)
        .withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy("__batch_id")
        .parquet(path))

  /** Console sink (reference K4). */
  def consoleSink(rows: Int = 20): BatchSink =
    BatchSink("console", (batch, _) => batch.show(rows, truncate = false))

  /** Kafka producer sink (reference K1, `producer.py:36-44`): rows are
   * JSON-serialized to the `value` column. Requires the kafka connector jar
   * at runtime; thin and unexercised in the offline test env. */
  def kafkaSink(bootstrapServers: String, topic: String): BatchSink =
    BatchSink(s"kafka:$topic", (batch, _) =>
      batch.selectExpr("to_json(struct(*)) AS value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("topic", topic)
        .save())

  /** Single-query multi-sink fan-out: persist each micro-batch once, write
   * it to every sink, one checkpoint for all.
   *
   * The sinks of a batch run concurrently: the first on the stream thread,
   * each further one on a thread of its own (see `writeAll`). A sink must
   * therefore not depend on another sink's output for the same batch. The
   * offset commit follows all sinks: a batch any sink failed is not
   * committed, and a restart replays it whole to every sink, so each sink
   * must be replay-idempotent (as `parquetKeyedSink` is). */
  def start(
      profiles: DataFrame,
      checkpointDir: String,
      sinks: Seq[BatchSink],
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    profiles.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try writeAll(sinks, batch, batchId)
        finally batch.unpersist()
        ()
      }
      .start()

  /** Name prefix of the threads that write a batch to its second and later
   * sinks. */
  private[graft] val FanOutThread = "sink-fan-out"

  /** Writes `batch` to every sink at once and returns when all have
   * finished. The first sink runs on the calling thread and each further
   * sink on a new thread, which inherits Spark's local properties: the
   * query's job group, so stopping the query cancels its jobs too, and the
   * batch id. Every thread is joined, even when the caller is interrupted
   * (the interrupt is passed on to the sink threads and restored after).
   * The first failure in sink order is rethrown with the others suppressed. */
  private def writeAll(sinks: Seq[BatchSink], batch: DataFrame, batchId: Long): Unit = {
    val failures = new Array[Throwable](sinks.size)
    def run(i: Int): Unit =
      try sinks(i).write(batch, batchId)
      catch { case t: Throwable => failures(i) = t }
    val threads = sinks.indices.drop(1).map { i =>
      val t = new Thread(() => run(i), s"$FanOutThread[${sinks(i).name}] batch $batchId")
      t.setDaemon(true)
      t.start()
      t
    }
    if (sinks.nonEmpty) run(0)
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch {
          case _: InterruptedException =>
            interrupted = true
            threads.foreach(_.interrupt())
        }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.filter(_ != null).toList match {
      case first :: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
