package e2ebench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.ops.Transforms
import graft.streaming.StreamingEtl
import graft.streaming.StreamingEtl.BatchSink

/** Start and end (`System.nanoTime`) of every sink write, per batch. */
final class SinkClock {
  val windows = new ConcurrentHashMap[(String, Long), (Long, Long)]()

  /** Wraps a program sink so its write is timed (and traced as `sink.<label>`). */
  def timed(label: String, inner: BatchSink, tr: Tracer): BatchSink =
    BatchSink(inner.name, (df, batchId) => {
      val t0 = System.nanoTime()
      tr.span(s"sink.$label")(inner.write(df, batchId))
      windows.put((label, batchId), (t0, System.nanoTime()))
    })

  def of(label: String): Map[Long, (Long, Long)] =
    windows.asScala.collect { case ((l, b), w) if l == label => b -> w }.toMap
}

/** The two keyed sinks of the reference (Cassandra and MongoDB stand-ins),
 * both `StreamingEtl.parquetKeyedSink`, under one directory. */
final class SinkPair(dir: Path) {
  val cassandra: Path = dir.resolve("cassandra")
  val mongo: Path = dir.resolve("mongo")
  val checkpoint: Path = dir.resolve("checkpoint")
  Files.createDirectories(mongo)

  def sinks(clock: SinkClock, tr: Tracer): Seq[BatchSink] = Seq(
    clock.timed("cassandra", StreamingEtl.parquetKeyedSink(cassandra.toString), tr),
    clock.timed("mongo", StreamingEtl.parquetKeyedSink(mongo.toString), tr))
}

/** What the sinks hold after a drain, checked against the ground truth. */
final case class SinkState(problems: Seq[String], rowsPerBatch: Map[Long, Long],
    batchOf: Map[String, Long], rows: Long, files: Int, bytes: Long)

object Pipeline {
  def profiles(raw: DataFrame): DataFrame = StreamingEtl.profileStream(raw, EnvelopeGen.AsOf)

  def readSink(spark: SparkSession, p: Path): DataFrame = spark.read.parquet(p.toString)

  /** Each sink holds exactly the expected ids, once each, and the two agree. */
  def checkSinks(spark: SparkSession, pair: SinkPair, truth: Truth): SinkState = {
    val problems = Seq.newBuilder[String]
    val expected = truth.expected.map(_.id).toSet
    val cols = (Dashboard.SinkSchema.fieldNames.toSeq :+ "__batch_id").map(col)
    def rows(p: Path) = readSink(spark, p).select(cols: _*).collect().map(_.toSeq).toSeq
    val m = rows(pair.mongo)
    val c = rows(pair.cassandra)
    for ((name, rs) <- Seq("mongo" -> m, "cassandra" -> c)) {
      val ids = rs.map(_.head.asInstanceOf[String])
      val distinct = ids.toSet
      if (ids.size != distinct.size) problems += s"$name holds ${ids.size - distinct.size} duplicate ids"
      if (distinct != expected)
        problems += s"$name ids: ${(expected -- distinct).size} missing, ${(distinct -- expected).size} unexpected"
    }
    if (m.groupBy(identity).map { case (k, v) => k -> v.size } != c.groupBy(identity).map { case (k, v) => k -> v.size })
      problems += "the two sinks differ"
    val batchOf = m.map(r => r.head.asInstanceOf[String] -> r.last.asInstanceOf[Number].longValue)
    val (files, bytes) = Dashboard.parquetFiles(pair.mongo)
    SinkState(problems.result(), batchOf.groupBy(_._2).map { case (b, v) => b -> v.size.toLong },
      batchOf.toMap, m.size.toLong, files, bytes)
  }

  /** Quantile of (value, weight) pairs, a value counted `weight` times; NaN
   * (not measured) when the weights sum to 0. */
  def weightedQuantile(samples: Seq[(Double, Long)], q: Double): Double = {
    val s = samples.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) Double.NaN
    else {
      val target = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(s.last._1)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Progress durations of a finished stream, per batch that carried data. */
  def progressOf(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  def durations(ps: Seq[StreamingQueryProgress], keys: String*): Seq[Double] =
    ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble)

  /**
   * Self time of each `Transforms` stage per 10k envelopes, from prefix cuts
   * of the spine over `input` materialised to Spark's `noop` sink: read,
   * +parse, +explode, +flatten, +filter. Medians of `reps` runs each.
   */
  def opsProbe(spark: SparkSession, input: Path, reps: Int, layer: mutable.Map[String, Double]): Unit = {
    val raw = spark.read.text(input.toString)
    val parsed = Transforms.parseEnvelope(raw)
    val exploded = Transforms.explodeResults(parsed)
    val flat = Transforms.flattenProfile(exploded, EnvelopeGen.AsOf)
    val out = Transforms.gdprFilter(flat)
    val cuts = Seq(raw, parsed, exploded, flat, out)
    def wall(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    cuts.foreach(wall) // warm each plan once
    val med = cuts.map(df => Stats.median((1 to reps).map(_ => wall(df))))
    val rowsIn = raw.count()
    val per10k = 10000.0 / math.max(1L, rowsIn)
    Seq("parse", "explode", "flatten", "filter").zipWithIndex.foreach { case (n, i) =>
      layer(s"ops.${n}_ms") = (med(i + 1) - med(i)) * per10k
    }
    layer("ops.rows_in") = rowsIn.toDouble
    layer("ops.rows_exploded") = exploded.count().toDouble
    layer("ops.rows_out") = out.count().toDouble
  }
}
