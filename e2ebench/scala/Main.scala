package e2ebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/**
 * Benchmark driver JVM. Usage:
 *
 *   Main --workload live|analytics --seed N --seconds S --trace 0|1
 *        --work DIR --out FILE
 *   Main --gen-only --seed N --work DIR      (envelope files + truth, for the generator test)
 *
 * Writes one JSON object to FILE: end-to-end or per-layer figures, the
 * operations attempted and failed, and the query outputs the runner still
 * has to compare with DuckDB.
 */
object Main {
  /** Progress line in the JVM log, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[e2ebench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s] $msg")

  def main(args: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Files.createDirectories(Paths.get(a("work")))
    val seed = a("seed").toLong
    if (args.contains("--gen-only")) { genOnly(work, seed); return }
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    if (traced) HeapWatch.install()
    val workload: Workload = a("workload") match {
      case "live" => Live
      case "analytics" => Analytics
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Set-up runs once, cold: JVM start, the first session and the staging of
    // the inputs, up to the first timed operation. A second set-up in this JVM
    // would be warm and hide the cold path (class loading, first planning).
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    val sessionMs = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLogLevel("ERROR")
    val staged = workload.stage(spark, work.resolve("stage"), seed, seconds, traced)
    val setupS = bootS + (System.nanoTime() - t0) / 1e9
    log(f"set-up: $setupS%.2f s")
    val ctx = new Ctx(spark, work, seconds, traced)
    ctx.e2e("setup_s") = setupS
    workload.run(ctx, staged)
    log("workload done")
    if (traced) {
      // a traced run also runs the other workload, so every layer has figures
      val other: Workload = if (workload == Live) Analytics else Live
      other.run(ctx, other.stage(spark, work.resolve("stage-other"), seed, seconds, traced))
      log("other workload done")
    }
    if (traced) {
      ctx.layer("jvm.rss_peak_mb") = vmHwmMb()
      ctx.layer("jvm.heap_after_gc_peak_mb") = HeapWatch.peakMb
      ctx.layer("session.start_ms") = sessionMs
      ctx.layer("jvm.gc_ms") = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum
      ctx.layer("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
      ctx.tracer.write(work.resolve("trace.jsonl"))
    }
    spark.stop()
    Files.write(Paths.get(a("out")), result(ctx).getBytes(UTF_8))
  }

  /** Peak resident set of this process, from `/proc/self/status`. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def result(ctx: Ctx): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, Double)]) = m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val checks = ctx.checks.map { case (k, id, p) =>
      s"""{"pass":$k,"id":"$id","path":${Json.str(p.toString)},"sql":${Json.str(graft.SparkEntry.oracleSql.getOrElse(id, ""))}}"""
    }.mkString("[", ",", "]")
    s"""{"e2e":${obj(ctx.e2e)},"layer":${obj(ctx.layer)},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"problems":${ctx.problems.map(Json.str).mkString("[", ",", "]")},""" +
      s""""checks":$checks,"tables":${Json.str(ctx.tables.fold("")(_.toString))}}"""
  }

  /** Writes three envelope files and their truth, for the generator's own test. */
  private def genOnly(work: Path, seed: Long): Unit = {
    val in = Files.createDirectories(work.resolve("envelopes"))
    // multi-result envelopes, so the truth also covers explode
    val gen = new EnvelopeGen(seed, EnvelopeGen.Live.copy(resultsPerEnvelope = 3, linesPerFile = 300))
    (0 until 3).foreach(_ => gen.writeFile(in))
    val t = gen.truth
    val lines = t.expected.map(e =>
      s"""{"id":"${e.id}","gender":"${e.gender}","age":${e.age},"domain":"${e.domain}","file":${e.file}}""") ++
      t.files.zipWithIndex.map { case (f, i) =>
        s"""{"file":$i,"lines":${f.lines},"envelopes":${f.envelopes},"malformed":${f.malformed},""" +
          s""""empty":${f.empty},"redelivered":${f.redelivered},"results":${f.results},""" +
          s""""null_ids":${f.nullIds},"under_age":${f.underAge},"rows_out":${f.rowsOut}}"""
      }
    Files.write(work.resolve("truth.jsonl"), lines.asJava, UTF_8)
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
