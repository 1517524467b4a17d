package e2ebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingAnalytics

/** One refresh of the four dashboard aggregates (`dashbord/dashbord.py:92-121`). */
final case class Refresh(startNs: Long, endNs: Long, a1: Long, a2: Map[String, Long],
    a3: Seq[(String, Long)], a4: Seq[(Int, Long, Long)], files: Int, bytes: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * The dashboard over the MongoDB stand-in sink. A3 is program code
 * (`StreamingAnalytics.topKDomains`); the program has no entry point for
 * A1, A2 and A4, so they are composed here from the DataFrame API, A4 in the
 * pre-aggregated running-sum shape of `CoreQueries` `a4_ecdf_age`.
 */
object Dashboard {
  /** The profile row `StreamingEtl.profileStream` writes. */
  val SinkSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("username", StringType),
    StructField("gender", StringType), StructField("title", StringType),
    StructField("age", IntegerType), StructField("email", StringType),
    StructField("inscription", StringType), StructField("full_name", StringType),
    StructField("full_address", StringType)))

  /** Parquet data files under a sink directory and their total size. */
  def parquetFiles(dir: Path): (Int, Long) = {
    if (!Files.exists(dir)) (0, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator.asScala.filter { p =>
          // data files only: not under a writer's `_temporary` or `.spark-staging` directory
          val rel = dir.relativize(p).iterator.asScala.map(_.toString).toSeq
          p.getFileName.toString.endsWith(".parquet") &&
            rel.forall(c => !c.startsWith(".") && !(c.startsWith("_") && !c.startsWith("__batch_id=")))
        }.toSeq
        (fs.size, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  def refresh(spark: SparkSession, sink: Path, tr: Tracer): Refresh = tr.span("dash.refresh") {
    val t0 = System.nanoTime()
    val (files, bytes) = parquetFiles(sink)
    // The file listing is taken once, here: all four aggregates read one snapshot.
    val t = spark.read.schema(SinkSchema).parquet(sink.toString)
    val a1 = tr.span("dash.a1")(t.agg(count(lit(1))).head().getLong(0))
    val a2 = tr.span("dash.a2")(t.groupBy("gender").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val a3 = tr.span("dash.a3")(StreamingAnalytics.topKDomains(t, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq)
    val a4 = tr.span("dash.a4")(t.groupBy("age").agg(count(lit(1)).as("n"))
      .withColumn("cum_n", sum(col("n")).over(
        Window.orderBy("age").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1))
    Refresh(t0, System.nanoTime(), a1, a2, a3, a4, files, bytes)
  }

  /** Differences between a refresh and the ground truth; empty when equal. */
  def diff(r: Refresh, truth: Truth): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (r.a1 != truth.a1) out += s"A1 ${r.a1} != ${truth.a1}"
    if (r.a2 != truth.a2) out += s"A2 ${r.a2} != ${truth.a2}"
    if (r.a3 != truth.a3) out += s"A3 ${r.a3} != ${truth.a3}"
    if (r.a4 != truth.a4) out += s"A4 differs (${r.a4.size} vs ${truth.a4.size} ages)"
    out.result()
  }
}
