package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.streaming.StreamingEtl

/** State shared by a run: the session, its scratch directory, the results. */
final class Ctx(val spark: SparkSession, val work: Path, val seconds: Int, val traced: Boolean) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val problems = mutable.ArrayBuffer.empty[String]
  /** Query outputs the runner compares with DuckDB: (pass, query id, parquet
   * dir), and the directory of the tables they were computed from. */
  val checks = mutable.ArrayBuffer.empty[(Int, String, Path)]
  var tables: Option[Path] = None
  var attempted = 0L
  var failed = 0L
  /** Spans are recorded only while `tracer.enabled`. */
  val tracer = new Tracer(traced)

  /** Counts one checked operation; `issues` empty means it passed. */
  def op(what: String, issues: Seq[String]): Unit = {
    attempted += 1
    if (issues.nonEmpty) { failed += 1; problems ++= issues.map(i => s"$what: $i") }
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** A workload: stages its inputs (part of set-up), then runs its timed part. */
trait Workload {
  type Staged
  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Int, traced: Boolean): Staged
  def run(ctx: Ctx, staged: Staged): Unit
}

/**
 * `live`: the reference producer's shape as an open loop. One small file of
 * one-result envelopes is due at every tick whether or not the pipeline
 * keeps up; `StreamingEtl.start` runs with its default `ProcessingTime(0)`
 * trigger over `StreamingEtl.FileLinesSource`, and a dashboard thread polls
 * the growing sink on a fixed period. Latency counts from when each file was
 * due, so a stall is charged to every record that waited behind it.
 */
object Live extends Workload {
  val TickMs = 100L
  val PollMs = 3000L
  val WarmFiles = 40

  /** Pre-rendered file texts and their truth (warm-up, then the measured
   * schedule), and for a traced run the `ops` probe's input directory. */
  type Staged = ((IndexedSeq[String], Truth), (IndexedSeq[String], Truth), Option[Path])

  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Int, traced: Boolean): Staged = {
    def render(n: Int, s: Long) = {
      val gen = new EnvelopeGen(s, EnvelopeGen.Live)
      val texts = (0 until n).map(_ => gen.nextFile())
      (texts, gen.truth)
    }
    val n = (seconds * 1000L / TickMs).toInt
    val probe = Option.when(traced) {
      // 10k three-result envelopes: enough work per prefix cut to stand above timing noise
      val in = Files.createDirectories(dir.resolve("ops-probe"))
      val gen = new EnvelopeGen(seed ^ 0x0b5L, EnvelopeGen.Live.copy(resultsPerEnvelope = 3, linesPerFile = 1000))
      (0 until 10).foreach(_ => gen.writeFile(in))
      in
    }
    (render(WarmFiles, seed ^ 0x5eedL), render(n, seed), probe)
  }

  private final case class Schedule(latencies: Seq[(Double, Long)], fresh: Seq[(Double, Long)],
      refreshMs: Seq[Double], wallS: Double, rows: Long, bytesPerRow: Double)

  private def schedule(ctx: Ctx, texts: IndexedSeq[String], truth: Truth, name: String,
      record: Boolean): Schedule = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.work.resolve(name)
    val in = Files.createDirectories(dir.resolve("in"))
    val pair = new SinkPair(dir)
    val clock = new SinkClock
    val bl = new BatchJobListener
    if (tr.enabled) spark.sparkContext.addSparkListener(bl)
    val q = StreamingEtl.start(Pipeline.profiles(StreamingEtl.FileLinesSource(in.toString).load(spark)),
      pair.checkpoint.toString, pair.sinks(clock, tr))
    val t0 = System.nanoTime() + 500L * 1000000L
    def due(i: Int): Long = t0 + i * TickMs * 1000000L
    val late = new Array[Double](texts.size)
    val gen = new Thread(() => texts.indices.foreach { i =>
      sleepUntil(due(i))
      val tmp = in.resolve(f".env-$i%06d.tmp")
      Files.write(tmp, texts(i).getBytes(UTF_8))
      Files.move(tmp, in.resolve(f"env-$i%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      late(i) = (System.nanoTime() - due(i)) / 1e6
    }, "generator")
    @volatile var stop = false
    val refreshes = mutable.ArrayBuffer.empty[(Long, Refresh)] // (scheduled, refresh)
    val dash = new Thread(() => {
      var k = 1
      while (!stop) {
        val at = t0 + k * PollMs * 1000000L
        sleepUntil(at)
        if (!stop) refreshes.synchronized(refreshes += at -> Dashboard.refresh(spark, pair.mongo, tr))
        k += 1
      }
    }, "dashboard")
    gen.start(); dash.start()
    gen.join()
    q.processAllAvailable()
    stop = true
    dash.join()
    q.stop()
    val finalRefresh = Dashboard.refresh(spark, pair.mongo, tr)
    val state = Pipeline.checkSinks(spark, pair, truth)
    val windows = clock.of("mongo")
    if (record) {
      ctx.op(s"$name drain", state.problems)
      ctx.op(s"$name final refresh", Dashboard.diff(finalRefresh, truth))
    }
    val batches = state.rowsPerBatch.keys.toSeq.sorted
    // A refresh's A1 lies between the rows whose sink write had returned
    // before it began and the rows whose write had started before it ended:
    // the commit makes a batch visible just before the write call returns.
    refreshes.foreach { case (_, r) =>
      val lo = batches.filter(b => windows(b)._2 < r.startNs).map(state.rowsPerBatch).sum
      val hi = batches.filter(b => windows(b)._1 < r.endNs).map(state.rowsPerBatch).sum
      if (record) ctx.op(s"$name refresh", if (r.a1 >= lo && r.a1 <= hi) Nil
        else Seq(s"A1 ${r.a1} outside [$lo, $hi]"))
    }
    val cum = batches.scanLeft(0L)(_ + state.rowsPerBatch(_)).tail
    val cumOf = batches.zip(cum).toMap
    val all = refreshes.map(_._2).toSeq :+ finalRefresh
    val fileOf = truth.expected.map(e => e.id -> e.file).toMap
    // per (file, batch): records, latency and freshness from when the file was due
    val groups = state.batchOf.toSeq.groupBy { case (id, b) => (fileOf(id), b) }
      .map { case (fb, v) => fb -> v.size.toLong }
    val lat = groups.toSeq.map { case ((f, b), n) => ((windows(b)._2 - due(f)) / 1e6, n) }
    val fresh = groups.toSeq.map { case ((f, b), n) =>
      val r = all.find(_.a1 >= cumOf(b)).getOrElse(finalRefresh)
      ((r.endNs - due(f)) / 1e6, n)
    }
    if (tr.enabled) {
      val jobs = Option.when(bl.sync(spark.sparkContext))(bl.snapshot)
      spark.sparkContext.removeSparkListener(bl)
      streamLayer(ctx, q.recentProgress.toSeq, jobs, clock, state, truth,
        waits = groups.toSeq.map { case ((f, b), n) => (b, n, due(f)) })
      ctx.layer("gen.late_ms_p99") = Stats.quantile(late.toSeq, 0.99)
      ctx.layer("dash.files_scanned") = Stats.median(refreshes.map(_._2.files.toDouble).toSeq)
      ctx.layer("dash.bytes_scanned") = Stats.median(refreshes.map(_._2.bytes.toDouble).toSeq)
      ctx.layer("dash.poll_wait_ms") = Stats.median(refreshes.map { case (at, r) => (r.startNs - at) / 1e6 }.toSeq)
    }
    val lastEnd = windows.values.map(_._2).max
    Schedule(lat, fresh, refreshes.map(_._2.ms).toSeq, (lastEnd - t0) / 1e9, state.rows,
      state.bytes.toDouble / math.max(1L, state.rows))
  }

  private def sleepUntil(ns: Long): Unit = {
    val d = ns - System.nanoTime()
    if (d > 0) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
  }

  def run(ctx: Ctx, staged: Staged): Unit = {
    val ((wt, wtruth), (texts, truth), probe) = staged
    ctx.tracer.enabled = false
    schedule(ctx, wt, wtruth, "warm", record = false)
    Main.log("warm-up done")
    ctx.tracer.enabled = ctx.traced
    val s = schedule(ctx, texts, truth, "live", record = true)
    ctx.tracer.enabled = false
    Main.log(s"schedule done: ${s.wallS} s, ${s.refreshMs.size} refreshes")
    ctx.e2e("throughput_rps") = s.rows / s.wallS
    ctx.e2e("sink_latency_p50_ms") = Pipeline.weightedQuantile(s.latencies, 0.5)
    ctx.e2e("freshness_p50_ms") = Pipeline.weightedQuantile(s.fresh, 0.5)
    ctx.e2e("dashboard_refresh_p50_ms") = Stats.median(s.refreshMs)
    ctx.e2e("sink_bytes_per_record") = s.bytesPerRow
    ctx.e2e("query_wall_s") = s.wallS
    probe.foreach(Pipeline.opsProbe(ctx.spark, _, 3, ctx.layer))
  }

  /** Source, streaming and sink layer figures of one traced stream, from the
   * query's progress, the jobs of each batch (`None` when the listener bus
   * did not deliver them) and the sink clock. `waits` gives, per group of
   * records, its batch, size and due time. */
  private def streamLayer(ctx: Ctx, progress: Seq[StreamingQueryProgress],
      jobs: Option[Map[Long, (Int, Int)]], clock: SinkClock, state: SinkState, truth: Truth,
      waits: Seq[(Long, Long, Long)]): Unit = {
    // A query keeps the progress of its last 100 triggers only: if a batch
    // that wrote rows is missing, the batch figures are not measured.
    val ps = Some(Pipeline.progressOf(progress))
      .filter(p => state.rowsPerBatch.keys.forall(b => p.exists(_.batchId == b))).getOrElse(Nil)
    val l = ctx.layer
    val m = Stats.median _
    // Spark reports progress durations in whole ms: their mean, not their
    // median, keeps the sub-ms part
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    l("source.offset_ms") = mean(Pipeline.durations(ps, "latestOffset", "getBatch"))
    val linesPerFile = truth.files.head.lines.toDouble
    l("source.rows_per_batch") = mean(ps.map(_.numInputRows.toDouble))
    l("source.files_per_batch") = l("source.rows_per_batch") / linesPerFile
    l("stream.trigger_ms") = mean(Pipeline.durations(ps, "triggerExecution"))
    l("stream.planning_ms") = mean(Pipeline.durations(ps, "queryPlanning"))
    l("stream.add_batch_ms") = mean(Pipeline.durations(ps, "addBatch"))
    l("stream.wal_commit_ms") = mean(Pipeline.durations(ps, "walCommit"))
    l("stream.commit_offsets_ms") = mean(Pipeline.durations(ps, "commitOffsets"))
    l("stream.batches") = if (ps.isEmpty) Double.NaN else ps.size.toDouble
    // trigger start, as epoch ms in the progress, mapped onto nanoTime
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val startNs = ps.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - offset)).toMap
    l("stream.wait_ms") = Pipeline.weightedQuantile(
      waits.filter(w => startNs.contains(w._1)).map { case (b, n, due) => ((startNs(b) - due) / 1e6, n) }, 0.5)
    val perBatch = jobs.getOrElse(Map.empty).values.toSeq
    l("stream.jobs_per_batch") = m(perBatch.map(_._1.toDouble))
    l("stream.shuffles_per_batch") = m(perBatch.map(_._2.toDouble))
    for (s <- Seq("cassandra", "mongo"))
      l(s"sink.$s.write_ms") = m(clock.of(s).values.map { case (a, b) => (b - a) / 1e6 }.toSeq)
    l("sink.files") = state.files.toDouble
    l("sink.bytes") = state.bytes.toDouble
    l("sink.rows") = state.rows.toDouble
    l("sink.dup_rows_dropped") = (truth.rowsOut - state.rows).toDouble
    for (a <- 1 to 4) l(s"dash.a${a}_ms") = m(ctx.tracer.durMs(s"dash.a$a"))
  }
}

/**
 * `analytics`: a fixed set of registered batch queries (`SparkEntry.queries`)
 * over tables generated from the seed; no source, stream or sink of the
 * pipeline runs. Each query is materialised to parquet, the output the
 * runner compares with DuckDB's result for its `oracleSql` statement.
 */
object Analytics extends Workload {
  /** query id -> tables it reads */
  val Queries: Seq[(String, Seq[String])] = Seq(
    "d21_lsh_recall" -> Seq("documents"),
    "n11_pq_adc" -> Seq("embeddings"),
    "graph2_triangles" -> Seq("lineitem"))

  type Staged = (Path, Map[String, Long])

  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Int, traced: Boolean): Staged = {
    val tables = Files.createDirectories(dir.resolve("tables"))
    val rows = TableGen.write(spark, tables, seed)
    (tables, rows)
  }

  private final case class QueryRun(id: String, wallMs: Double, doneMs: Double)
  /** `listener` is the traced pass's, once the bus has delivered it all events. */
  private final case class Pass(k: Int, traced: Boolean, wallMs: Double, runs: Seq[QueryRun],
      listener: Option[GroupListener])

  def run(ctx: Ctx, staged: Staged): Unit = {
    val (tables, rows) = staged
    ctx.tables = Some(tables)
    val spark = ctx.spark
    val sc = spark.sparkContext
    val out = ctx.work.resolve("results")
    def runPass(k: Int, traced: Boolean): Pass = {
      ctx.tracer.enabled = traced
      val gl = if (traced) Some(new GroupListener) else None
      gl.foreach(sc.addSparkListener)
      val p0 = System.nanoTime()
      val runs = Queries.map { case (id, _) =>
        sc.setJobGroup(s"$id.p$k", id, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val issue = try {
          ctx.tracer.span(s"q.$id")(SparkEntry.queries(id)(spark, tables.toString)
            .write.mode("overwrite").parquet(out.resolve(s"p$k").resolve(id).toString))
          Nil
        } catch { case e: Exception => Seq(s"$id raised ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        if (k > 0) ctx.op(s"analytics pass $k $id", issue)
        QueryRun(id, (t1 - t0) / 1e6, (t1 - p0) / 1e6)
      }
      val wallMs = (System.nanoTime() - p0) / 1e6
      ctx.tracer.enabled = false
      val delivered = gl.filter(_.sync(sc))
      gl.foreach(sc.removeSparkListener)
      Pass(k, traced, wallMs, runs, delivered)
    }
    runPass(0, traced = false) // warm-up, not reported
    Main.log("warm-up done")
    val passes = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    // at least two untraced passes; a traced run brackets its traced pass with them
    while (ctx.elapsedS(start) < ctx.seconds || passes.size < (if (ctx.traced) 3 else 2)) {
      // a traced run alternates untraced and traced passes: their difference is the tracing overhead
      val k = passes.size + 1
      passes += runPass(k, traced = ctx.traced && k % 2 == 0)
      Main.log(f"pass $k: ${passes.last.wallMs}%.0f ms " +
        passes.last.runs.map(r => f"${r.id}=${r.wallMs}%.0f").mkString(" "))
    }
    ctx.checks ++= passes.flatMap(p => Queries.map { case (id, _) => (p.k, id, out.resolve(s"p${p.k}").resolve(id)) })

    val plain = passes.filterNot(_.traced).toSeq
    val m = Stats.median _
    def perQuery(f: QueryRun => Double): Map[String, Double] =
      Queries.map { case (id, _) => id -> m(plain.map(p => f(p.runs.find(_.id == id).get))) }.toMap
    val walls = perQuery(_.wallMs)
    val queryWallMs = walls.values.sum
    ctx.e2e("throughput_rps") = Queries.flatMap(_._2).map(rows).sum / (queryWallMs / 1000)
    ctx.e2e("sink_latency_p50_ms") = m(walls.values.toSeq)
    ctx.e2e("freshness_p50_ms") = m(perQuery(_.doneMs).values.toSeq)
    ctx.e2e("dashboard_refresh_p50_ms") = m(plain.map(_.wallMs))
    val last = out.resolve(s"p${plain.last.k}")
    val outRows = Queries.map { case (id, _) => spark.read.parquet(last.resolve(id).toString).count() }.sum
    ctx.e2e("sink_bytes_per_record") = Dashboard.parquetFiles(last)._2.toDouble / math.max(1L, outRows)
    ctx.e2e("query_wall_s") = queryWallMs / 1000

    if (ctx.traced) {
      val traced = passes.filter(_.traced).toSeq
      ctx.layer("trace.overhead_pct") = (m(traced.map(_.wallMs)) / m(plain.map(_.wallMs)) - 1) * 100
      val t = traced.last
      t.runs.foreach { r =>
        val acc = t.listener.flatMap(_.take(s"${r.id}.p${t.k}"))
        def sum(f: GroupListener#Acc => Long): Double = acc.fold(Double.NaN)(f(_).toDouble)
        ctx.layer(s"q.${r.id}.wall_ms") = walls(r.id)
        ctx.layer(s"q.${r.id}.tasks") = sum(_.tasks)
        ctx.layer(s"q.${r.id}.shuffle_bytes") = sum(_.shuffleBytes)
        ctx.layer(s"q.${r.id}.spill_bytes") = sum(_.spillBytes)
        ctx.layer(s"q.${r.id}.task_cpu_ms") = sum(_.cpuNs) / 1e6
        // wall while no task of the query ran: planning, scheduling and driver-side work
        ctx.layer(s"q.${r.id}.driver_ms") = math.max(0.0, r.wallMs - sum(a => Stats.unionLength(a.intervals.toSeq)))
      }
    }
  }
}

/** The analytics tables the query set reads, in the shape of the TPC-H-ish
 * test tables the queries are written for (`documents embeddings lineitem`). */
object TableGen {
  val Docs = 400
  val Vecs = 400
  val Dim = 64
  val OrderKeys = 4000
  val Parts = 600
  val Supps = 40

  private val Vocab = Vector("the", "a", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
    "filter", "index", "profile", "user", "sink", "source", "email", "domain", "age",
    "gender", "dashboard", "kafka")

  def write(spark: SparkSession, dir: Path, seed: Long): Map[String, Long] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    def save(name: String, schema: StructType, rows: Seq[Row]): (String, Long) = {
      spark.createDataFrame(rows.asJava, schema).repartition(1)
        .write.parquet(dir.resolve(s"$name.parquet").toString)
      name -> rows.size.toLong
    }
    val docs = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    (0 until Docs).foreach { i =>
      docs += (if (i > 10 && rnd.nextInt(100) < 15) {
        // a near-duplicate of an earlier document: a few words replaced
        val base = docs(rnd.nextInt(docs.size)).toArray
        (0 until 1 + rnd.nextInt(3)).foreach(_ => base(rnd.nextInt(base.length)) = Vocab(rnd.nextInt(Vocab.size)))
        base.toIndexedSeq
      } else IndexedSeq.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.size))))
    }
    val docRows = docs.zipWithIndex.map { case (w, i) =>
      val text = w.mkString(" ")
      Row(i.toLong, text, if (rnd.nextInt(10) == 0) "fr" else "en", s"src${rnd.nextInt(8)}", text.length.toLong)
    }.toSeq
    val centroids = Array.fill(5, Dim)(rnd.nextDouble() * 2 - 1)
    val vecRows = (0 until Vecs).map { i =>
      val c = rnd.nextInt(5)
      val v = centroids(c).map(x => (x * 0.3 + (rnd.nextDouble() * 2 - 1) * 0.1).toFloat)
      Row(i.toLong, v.toSeq, c)
    }
    val base = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    val lineRows = (0 until OrderKeys).flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val q = 1 + rnd.nextInt(50)
        Row(o.toLong, rnd.nextInt(Parts).toLong, rnd.nextInt(Supps).toLong, ln, q.toDouble,
          (q * (90000 + rnd.nextInt(1000000))) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, Vector("A", "N", "R")(rnd.nextInt(3)),
          Vector("F", "O")(rnd.nextInt(2)), base.plusDays(rnd.nextInt(2600)))
      }
    }
    val L = LongType
    val S = StringType
    val D = DoubleType
    val T = TimestampNTZType
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Map(
      save("documents", st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S, "n_chars" -> L), docRows),
      save("embeddings", st("vec_id" -> L, "embedding" -> ArrayType(FloatType), "label" -> IntegerType), vecRows),
      save("lineitem", st("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
        "l_linenumber" -> IntegerType, "l_quantity" -> D, "l_extendedprice" -> D,
        "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S,
        "l_shipdate" -> T), lineRows))
  }
}
