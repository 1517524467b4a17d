package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{StreamingAnalytics, StreamingEtl}

/** End-to-end streaming tests: MemoryStream envelopes through the full ETL
 * spine into the multi-sink fan-out; watermarked windowed aggregation;
 * streaming dedup; stateful sessionization; restart idempotence. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val asOf = Date.valueOf("2026-01-01")

  private def envelope(uuid: String, dob: String = "1989-03-21T04:15:09.512Z"): String =
    s"""{"results":[{"gender":"female","name":{"title":"Ms","first":"Ada","last":"L"},
       |"dob":{"date":"$dob","age":36},
       |"location":{"street":{"number":1,"name":"s"},"city":"c","state":"st","country":"co","postcode":9},
       |"email":"a@b.com","login":{"uuid":"$uuid","username":"u"},
       |"registered":{"date":"2015-07-02T11:22:33.444Z"}}]}""".stripMargin.replaceAll("\n", "")

  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** Live threads writing to any of `sinks` off the stream thread. */
  private def fanOutThreads(sinks: StreamingEtl.BatchSink*): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.getName.startsWith(StreamingEtl.FanOutThread) &&
        sinks.exists(s => t.getName.contains(s.name))).toSet

  test("spine streams end-to-end through single-query fan-out to two sinks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out1 = Files.createTempDirectory("sink1").toString
    val cp = Files.createTempDirectory("cp").toString
    var consoleBatches = 0L

    val profiles = StreamingEtl.profileStream(
      input.toDF().select($"value"), asOf)
    val q = StreamingEtl.start(profiles, cp, Seq(
      StreamingEtl.parquetKeyedSink(out1),
      StreamingEtl.BatchSink("counter", (b, _) => consoleBatches += b.count())))

    input.addData(envelope("u-1"), envelope("u-2"), envelope("u-1"),
      envelope("kid", dob = "2015-01-01T00:00:00.000Z"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(out1)
    assert(rows.count() == 2)  // u-1 deduped in-batch, kid filtered by age
    assert(rows.select("id").as[String].collect().toSet == Set("u-1", "u-2"))
    assert(consoleBatches == 3)  // second sink saw the (pre-dedup) batch

    // every column chunk the keyed sink wrote is zstd-compressed and carries
    // no min/max statistics, per its footer
    val conf = spark.sessionState.newHadoopConf()
    val files = parquetFiles(out1)
    assert(files.nonEmpty)
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HadoopPath(f.toUri), conf))
      val chunks =
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
        finally r.close()
      assert(chunks.nonEmpty, f)
      assert(chunks.map(_.getCodec).toSet == Set(CompressionCodecName.ZSTD), f)
      chunks.foreach(c => assert(!c.getStatistics.hasNonNullValue, s"$f: ${c.getPath} ${c.getStatistics}"))
    }
  }

  test("a keyed sink dedups its key across the partitions of one batch") {
    // two files in one batch are two partitions; both carry u-1
    val in = Files.createTempDirectory("xpart_in")
    Files.write(in.resolve("a.json"), Seq(envelope("u-1"), envelope("u-2")).asJava)
    Files.write(in.resolve("b.json"), Seq(envelope("u-1"), envelope("u-3")).asJava)
    val outA = Files.createTempDirectory("xpart_a").toString
    val outB = Files.createTempDirectory("xpart_b").toString
    val cp = Files.createTempDirectory("xpart_cp").toString
    val partitions = new ConcurrentHashMap[Long, Int]()
    val profiles = StreamingEtl.profileStream(
      StreamingEtl.FileLinesSource(in.toString).load(spark), asOf)

    val q = StreamingEtl.start(profiles, cp, Seq(
      StreamingEtl.parquetKeyedSink(outA),
      StreamingEtl.parquetKeyedSink(outB),
      StreamingEtl.BatchSink("partitions", (b, id) => { partitions.put(id, b.rdd.getNumPartitions); () })),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q.awaitTermination(60000), "AvailableNow query did not self-stop")

    assert(partitions.asScala == Map(0L -> 2))
    for (out <- Seq(outA, outB))
      assert(spark.read.parquet(out).select("id").as[String].collect().toSeq.sorted ==
        Seq("u-1", "u-2", "u-3"), out)
  }

  test("a keyed sink writes a batch without a shuffle") {
    val batch = Seq("u-1", "u-2", "u-1", "u-3").toDF("id")
      .withColumn("age", lit(30)).repartition(3).persist()
    batch.count()
    val out = Files.createTempDirectory("noshuffle").toString
    val group = s"keyed-sink-shuffle-$out"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong(0)
    val completed = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId)) {
          completed.incrementAndGet()
          shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "keyed sink write")
      try StreamingEtl.parquetKeyedSink(out).write(batch, 7L)
      finally sc.clearJobGroup()
      val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!jobs.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.nonEmpty && jobs.forall(ended.contains), s"jobs $jobs, ended $ended")
    } finally {
      sc.removeSparkListener(listener)
      batch.unpersist()
    }

    assert(completed.get > 0)
    assert(shuffleBytes.get == 0, s"${shuffleBytes.get} shuffle bytes written")
    assert(parquetFiles(out).size == 1)
    assert(spark.read.parquet(out).select($"id", $"__batch_id".cast("long"))
      .as[(String, Long)].collect().toSeq.sorted == Seq(("u-1", 7L), ("u-2", 7L), ("u-3", 7L)))
  }

  test("fan-out writes a batch to its sinks concurrently, each under the " +
    "query's job group and the batch's id") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("fan_cp").toString
    // each sink waits for the other: only sinks that run at once get past it
    val barrier = new CyclicBarrier(2)
    val seen = new ConcurrentHashMap[(String, Long), (String, String)]()
    def sink(name: String) = StreamingEtl.BatchSink(name, (_, batchId) => {
      val sc = spark.sparkContext
      seen.put((name, batchId),
        (sc.getLocalProperty("streaming.sql.batchId"), sc.getLocalProperty("spark.jobGroup.id")))
      barrier.await(30, TimeUnit.SECONDS)
      ()
    })

    val profiles = StreamingEtl.profileStream(input.toDF().select($"value"), asOf)
    val q = StreamingEtl.start(profiles, cp, Seq(sink("first"), sink("second")))
    input.addData(envelope("u-1"))
    q.processAllAvailable()
    input.addData(envelope("u-2"))
    q.processAllAvailable()
    q.stop()

    assert(q.exception.isEmpty)
    assert(seen.keySet.asScala.map(_._2) == Set(0L, 1L))
    for (b <- Seq(0L, 1L); name <- Seq("first", "second"))
      assert(seen.get((name, b)) == ((b.toString, q.runId.toString)), s"$name, batch $b")
  }

  test("a crash between sinks fails the batch; the restart replays it whole " +
    "and each sink holds every id once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val outA = Files.createTempDirectory("crash_a").toString
    val outB = Files.createTempDirectory("crash_b").toString
    val cp = Files.createTempDirectory("crash_cp").toString
    val a = StreamingEtl.parquetKeyedSink(outA)
    val b = StreamingEtl.parquetKeyedSink(outB)
    val aWrote = new CountDownLatch(1)
    val crashed = new AtomicBoolean(false)
    val bCalls = new AtomicInteger(0)
    val sinks = Seq(
      StreamingEtl.BatchSink(a.name, (df, id) => { a.write(df, id); aWrote.countDown() }),
      // b fails its first call for batch 0, once a has written that batch
      StreamingEtl.BatchSink(b.name, (df, id) => {
        bCalls.incrementAndGet()
        if (id == 0 && crashed.compareAndSet(false, true)) {
          aWrote.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("crash between sinks")
        }
        b.write(df, id)
      }))
    val profiles = StreamingEtl.profileStream(input.toDF().select($"value"), asOf)

    val q1 = StreamingEtl.start(profiles, cp, sinks)
    input.addData(envelope("u-1"), envelope("u-2"))
    val e = intercept[StreamingQueryException](q1.processAllAvailable())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "crash between sinks"), e)
    assert(fanOutThreads(sinks: _*).isEmpty)
    assert(parquetFiles(outA).nonEmpty && parquetFiles(outB).isEmpty)

    val q2 = StreamingEtl.start(profiles, cp, sinks)
    input.addData(envelope("u-3"))
    q2.processAllAvailable()
    q2.stop()
    assert(fanOutThreads(sinks: _*).isEmpty)

    def rows(out: String) = spark.read.parquet(out).select($"id", $"__batch_id".cast("long"))
      .as[(String, Long)].collect().toSeq.sorted
    val inA = rows(outA)
    assert(inA == Seq(("u-1", 0L), ("u-2", 0L), ("u-3", 1L)))  // batch 0 replayed, once
    assert(rows(outB) == inA)
    assert(bCalls.get == 3)  // batch 0 failed, batch 0 replayed, batch 1
  }

  test("stop() during a fan-out interrupts the sink still writing and joins " +
    "its thread") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("stop_cp").toString
    val firstDone = new CountDownLatch(1)
    val secondStarted = new CountDownLatch(1)
    val secondInterrupted = new AtomicBoolean(false)
    val first = StreamingEtl.BatchSink("first", (_, _) => firstDone.countDown())
    val second = StreamingEtl.BatchSink(s"blocking:$cp", (_, _) => {
      secondStarted.countDown()
      try { new CountDownLatch(1).await(60, TimeUnit.SECONDS); () }
      catch { case ie: InterruptedException => secondInterrupted.set(true); throw ie }
    })
    val profiles = StreamingEtl.profileStream(input.toDF().select($"value"), asOf)

    val q = StreamingEtl.start(profiles, cp, Seq(first, second))
    input.addData(envelope("u-1"))
    assert(firstDone.await(30, TimeUnit.SECONDS) && secondStarted.await(30, TimeUnit.SECONDS))
    q.stop()

    assert(secondInterrupted.get)
    assert(fanOutThreads(second).isEmpty)
    assert(q.exception.isEmpty)  // an interrupt by stop() is a clean stop
  }

  test("restart from checkpoint does not duplicate committed batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = Files.createTempDirectory("sink2").toString
    val cp = Files.createTempDirectory("cp2").toString

    val profiles = StreamingEtl.profileStream(input.toDF().select($"value"), asOf)
    def sinks = Seq(StreamingEtl.parquetKeyedSink(out))

    val q1 = StreamingEtl.start(profiles, cp, sinks)
    input.addData(envelope("a"))
    q1.processAllAvailable()
    q1.stop()

    val q2 = StreamingEtl.start(profiles, cp, sinks)
    input.addData(envelope("b"))
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(out).select("id").as[String].collect().toSeq
    assert(ids.sorted == Seq("a", "b"))  // batch 0 not re-written on restart
  }

  test("watermarked windowed aggregation emits finalized windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = StreamingAnalytics.windowedTypeCounts(events, "ts",
      watermark = "10 minutes", window = "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()

    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    input.addData((t(0), "click", 1.0), (t(1), "click", 2.0), (t(6), "view", 5.0))
    q.processAllAvailable()
    // advance watermark far past the first windows to finalize them
    input.addData((t(40), "click", 9.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_out")
      .select($"event_type", $"n", $"total_value").as[(String, Long, Double)]
      .collect().toSet
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.contains(("view", 1L, 5.0)))
  }

  test("OHLC bars maintain incrementally: complete-mode streaming output " +
    "equals the batch resample, late rows included") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)]
    val events = input.toDF().toDF("ts", "event_id", "event_type", "value")
    val bars = graft.ext.TimeSeries.ohlcBars(
      events, "event_type", "ts", "value", "event_id", barNs = 100L)
    val q = bars.writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()

    val b1 = Seq((10L, 1L, "a", 5.0), (20L, 2L, "a", 3.0),
      (110L, 3L, "a", 7.0), (15L, 4L, "b", 1.0))
    // batch 2 lands rows in ALREADY-EMITTED bars (ts 5, 30): the unbounded
    // state of complete mode must revise open/low/close, not just append
    val b2 = Seq((30L, 5L, "a", 9.0), (5L, 6L, "a", 4.0),
      (120L, 7L, "a", 2.0))
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"event_type", $"bar_start", $"open", $"high", $"low",
        $"close", $"v_micro", $"n")
      .as[(String, Long, Double, Double, Double, Double, Long, Long)]
      .collect().toSet
    val got = canon(spark.table("ohlc_out"))
    val expected = canon(graft.ext.TimeSeries.ohlcBars(
      (b1 ++ b2).toDF("ts", "event_id", "event_type", "value"),
      "event_type", "ts", "value", "event_id", barNs = 100L))
    assert(got == expected)
    // the late ts=5 row must have become bar [0,100)'s open
    assert(got.exists(r => r._1 == "a" && r._2 == 0L && r._3 == 4.0))
  }

  test("observe metrics surface per-batch spine counts without an extra pass") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("obscp").toString
    val profiles = StreamingEtl.observedProfiles(
      StreamingEtl.profileStream(input.toDF().select($"value"), asOf))
    val q = StreamingEtl.start(profiles, cp,
      Seq(StreamingEtl.BatchSink("noop", (b, _) => { b.count(); () })))

    input.addData(envelope("u-1"), envelope("u-2"),
      envelope("kid", dob = "2015-01-01T00:00:00.000Z"))
    q.processAllAvailable()
    val metrics = q.recentProgress
      .flatMap(p => Option(p.observedMetrics.get("spine_metrics")))
      .lastOption
    q.stop()

    assert(metrics.isDefined)
    val m = metrics.get
    assert(m.getAs[Long]("n_rows") == 2)      // kid filtered before observe
    assert(m.getAs[Long]("n_null_id") == 0)
    assert(m.getAs[Int]("min_age") > 18)
  }

  test("stream-stream join enriches actions with in-window profiles only") {
    implicit val sqlCtx = spark.sqlContext
    val actions = MemoryStream[StreamingAnalytics.ActionEvent]
    val profiles = MemoryStream[StreamingAnalytics.ProfileEvent]
    val joined = StreamingAnalytics.enrichWithProfiles(
      actions.toDF(), profiles.toDF(),
      watermark = "10 minutes", joinWindow = "1 hour")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    profiles.addData(
      StreamingAnalytics.ProfileEvent(1L, t(9, 30), "gold"),   // in window
      StreamingAnalytics.ProfileEvent(1L, t(8, 0), "bronze"),  // too old
      StreamingAnalytics.ProfileEvent(2L, t(9, 45), "silver")) // other user
    actions.addData(StreamingAnalytics.ActionEvent(1L, t(10, 0), "click"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ss_join_out")
      .select($"user_id", $"tier").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "gold")))  // bronze outside window, silver other key
  }

  test("dropDuplicatesWithinWatermark suppresses in-horizon repeats") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "id")
    val deduped = StreamingAnalytics.dedupWithinWatermark(df, "ts", Seq("id"), "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()

    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    input.addData((t(0), "x"), (t(1), "x"), (t(2), "y"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("id").as[String].collect().toSeq
    assert(ids.sorted == Seq("x", "y"))
  }

  test("AvailableNow trigger drains the backlog and stops on its own") {
    // The production backfill mode: process everything available in bounded
    // micro-batches, commit the checkpoint, terminate — no manual stop().
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("an_cp").toString
    val out = Files.createTempDirectory("an_sink").toString
    input.addData(envelope("a"), envelope("b"), envelope("c"))

    val profiles = StreamingEtl.profileStream(input.toDF().select($"value"), asOf)
    val q = StreamingEtl.start(profiles, cp,
      Seq(StreamingEtl.parquetKeyedSink(out)),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q.awaitTermination(60000), "AvailableNow query did not self-stop")

    val ids = spark.read.parquet(out).select("id").as[String].collect().toSeq
    assert(ids.sorted == Seq("a", "b", "c"))
  }

  test("streaming top-k domains over >=2 micro-batches matches batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val profiles = StreamingEtl.profileStream(input.toDF().select($"value"), asOf)
    val q = StreamingAnalytics.topKDomains(profiles, 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("topk_dom").start()

    val envs = graft.sources.EnvelopeGenerator.generate(300, 42)
    input.addData(envs.take(150))
    q.processAllAvailable()
    input.addData(envs.drop(150))
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)  // genuinely incremental: 2+ batches
    q.stop()

    val streamed = spark.table("topk_dom")
      .select($"domain", $"n").as[(String, Long)].collect().toSeq
    val batch = StreamingAnalytics.topKDomains(
      StreamingEtl.profileStream(envs.toDF("value"), asOf), 3)
      .select($"domain", $"n").as[(String, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming PSI drift monitor: incrementally maintained histogram " +
    "matches the batch psiDrift on the accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    // frozen reference distribution (yesterday's drop)
    val ref = spark.range(200).select((($"id" % 7) * 10).as("v"))
    val refBuckets = graft.ext.Profile.bucketCounts(ref, "v", 10L)
      .toDF("bucket", "n_ref").cache()
    // today's stream drifts: same shape early, shifted mass later
    val input = MemoryStream[Long]
    val counts = graft.ext.Profile.bucketCounts(
      input.toDF().select($"value".as("v")), "v", 10L)
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("psi_buckets").start()
    val b1 = (0L until 200L).map(i => (i % 7) * 10)
    val b2 = (0L until 200L).map(i => (i % 7) * 10 + 300)
    input.addData(b1)
    q.processAllAvailable()
    val psiMid = graft.ext.Profile.psiFromBuckets(refBuckets,
        spark.table("psi_buckets").toDF("bucket", "n_cur"))
      .agg(sum($"psi_micro")).as[Long].head()
    input.addData(b2)
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)
    val streamedPsi = graft.ext.Profile.psiFromBuckets(refBuckets,
      spark.table("psi_buckets").toDF("bucket", "n_cur"))
    q.stop()
    // identical early stream ⇒ ~0; the shifted second batch must register
    val psiEnd = streamedPsi.agg(sum($"psi_micro")).as[Long].head()
    assert(psiMid == 0L, s"identical first batch must score 0, got $psiMid")
    assert(psiEnd > 250000L, s"post-drift PSI must exceed 0.25, got $psiEnd")
    // and the incrementally maintained histogram is exactly the batch one
    val batchPsi = graft.ext.Profile.psiDrift(ref,
        (b1 ++ b2).toDF("v"), "v", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamSet = streamedPsi
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamSet == batchPsi)
  }

  test("streaming JSD drift rides the same maintained histogram as PSI") {
    implicit val sqlCtx = spark.sqlContext
    val ref = spark.range(100).select((($"id" % 5) * 10).as("v"))
    val refBuckets = graft.ext.Profile.bucketCounts(ref, "v", 10L)
      .toDF("bucket", "n_ref").cache()
    val input = MemoryStream[Long]
    val counts = graft.ext.Profile.bucketCounts(
      input.toDF().select($"value".as("v")), "v", 10L)
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("jsd_buckets").start()
    val b1 = (0L until 100L).map(i => (i % 5) * 10)
    val b2 = (0L until 100L).map(i => (i % 5) * 10 + 200) // drifted mass
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val streamedJsd = graft.ext.Profile.jsdFromBuckets(refBuckets,
      spark.table("jsd_buckets").toDF("bucket", "n_cur"))
    q.stop()
    val jsdTotal = streamedJsd.agg(sum($"jsd_micro")).as[Long].head()
    // drifted second half: clearly positive, and within the ln-2 bound
    assert(jsdTotal > 100000L && jsdTotal <= 693148L, s"got $jsdTotal")
    // the incrementally maintained histogram is exactly the batch one
    val batchJsd = graft.ext.Profile.jsdDrift(ref,
        (b1 ++ b2).toDF("v"), "v", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamSet = streamedJsd
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamSet == batchJsd)
  }

  test("streaming KS drift monitor rides the same maintained histogram " +
    "as PSI/JSD: bucket-grain ksFromBuckets on the complete-mode bucket " +
    "state equals batch ksTwoSample on the quantized accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    val ref = spark.range(100).select((($"id" % 5) * 10).as("v"))
    val refBuckets = graft.ext.Profile.bucketCounts(ref, "v", 10L)
      .toDF("bucket", "n_ref").cache()
    val input = MemoryStream[Long]
    val counts = graft.ext.Profile.bucketCounts(
      input.toDF().select($"value".as("v")), "v", 10L)
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("ks_buckets").start()
    val b1 = (0L until 100L).map(i => (i % 5) * 10)
    input.addData(b1); q.processAllAvailable()
    val mid = graft.ext.Profile.ksFromBuckets(refBuckets,
        spark.table("ks_buckets").toDF("bucket", "n_cur"))
      .collect().head
    assert(mid.getLong(3) == 0L,
      s"identical first batch must score 0, got ${mid.getLong(3)}")
    val b2 = (0L until 100L).map(i => (i % 5) * 10 + 200) // drifted mass
    input.addData(b2); q.processAllAvailable()
    val end = graft.ext.Profile.ksFromBuckets(refBuckets,
        spark.table("ks_buckets").toDF("bucket", "n_cur"))
      .collect().head
    q.stop()
    // half the current mass sits entirely past the reference support:
    // the largest ECDF gap is exactly 1/2 (d_num 100·200 − 100·100)
    assert((end.getLong(0), end.getLong(1), end.getLong(2),
      end.getLong(3)) == ((100L, 200L, 10000L, 500000L)),
      s"got $end")
    // batch≡stream: bucket-grain KS over the maintained histogram IS
    // value-grain ksTwoSample on floor(v/width)-quantized snapshots
    val batch = graft.ext.Profile.ksTwoSample(
        ref.select(floor($"v" / 10L).cast("long").as("b")),
        (b1 ++ b2).toDF("v").select(floor($"v" / 10L).cast("long")
          .as("b")), "b")
      .collect().head
    assert((batch.getLong(0), batch.getLong(1), batch.getLong(2),
      batch.getLong(3)) ==
      ((end.getLong(0), end.getLong(1), end.getLong(2), end.getLong(3))))
  }

  test("GROUPED streaming KS monitor: per-segment maintained histograms " +
    "are ONE streaming aggregate (group, bucket), and ksFromBucketsBy " +
    "over them equals per-group quantized ksTwoSampleBy on the " +
    "accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    // per-segment reference: a uniform over buckets 0-4, b over 0-1
    val ref = spark.range(100)
      .select(when($"id" % 2 === 0, "a").otherwise("b").as("g"),
        when($"id" % 2 === 0, ($"id" % 5) * 10L)
          .otherwise(($"id" % 2) * 10L).as("v"))
    def buckets(df: org.apache.spark.sql.DataFrame,
        nCol: String): org.apache.spark.sql.DataFrame =
      df.select($"g".as("group"),
          floor($"v".cast("double") / 10L).cast("long").as("bucket"))
        .groupBy("group", "bucket").agg(count(lit(1)).as(nCol))
    val refB = buckets(ref, "n_ref").cache()
    val input = MemoryStream[(String, Long)]
    val q = buckets(input.toDF().toDF("g", "v"), "n_cur")
      .writeStream.outputMode("complete")
      .format("memory").queryName("ksby_buckets").start()
    // batch 1 matches the reference shape per segment; batch 2 drifts
    // ONLY segment a (mass past its reference support)
    val b1 = (0L until 100L).map(i =>
      if (i % 2 == 0) ("a", (i % 5) * 10L) else ("b", (i % 2) * 10L))
    val b2 = (0L until 50L).map(i => ("a", 200L + (i % 3) * 10L))
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = graft.ext.Profile.ksFromBucketsBy(refB,
        spark.table("ksby_buckets").toDF("group", "bucket", "n_cur"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    q.stop()
    // segment b never drifted: exact zero; segment a carries the gap
    assert(got("b")._4 == 0L, s"b: ${got("b")}")
    assert(got("a")._4 > 0L, s"a: ${got("a")}")
    // batch≡stream per group, exact tuple equality
    val acc = (b1 ++ b2).toDF("g", "v")
    val batch = graft.ext.Profile.ksTwoSampleBy(
        ref.select($"g", floor($"v".cast("double") / 10L).cast("long")
          .as("b")),
        acc.select($"g", floor($"v".cast("double") / 10L).cast("long")
          .as("b")), "g", "b")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == batch, s"stream $got != batch $batch")
  }

  test("streaming Count-Min sketch: the complete-mode counter relation " +
    "equals the batch sketch on the accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    // the CMS counter table IS a streaming aggregate: groupBy (r, b) sum
    // keeps keyed state bounded by depth*width rows at ANY vocabulary —
    // the sketch-sized-state claim, in streaming form, for free
    val input = MemoryStream[String]
    val counters = graft.ext.Sketches.cmsCounters(
      input.toDF().select($"value".as("tok")), "tok",
      depth = 4, width = 64)
    val q = counters.writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    val b1 = (0 until 300).map(i => s"tok${i % 17}")
    val b2 = (0 until 300).map(i => s"zz${i % 29}")
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)
    q.stop()
    val streamed = spark.table("cms_out")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.size <= 4 * 64, "state bounded by depth*width")
    val batch = graft.ext.Sketches.cmsCounters(
        (b1 ++ b2).toDF("tok"), "tok", depth = 4, width = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      "incrementally maintained counters must equal the batch sketch")
  }

  test("streaming HyperLogLog: the complete-mode register relation " +
    "equals the batch sketch on the accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    // registers are a groupBy-MAX streaming agg: keyed state bounded by
    // 2^p rows at any cardinality — the cardinality sibling of the
    // streaming CMS claim
    val input = MemoryStream[String]
    val regs = graft.ext.Sketches.hllRegisters(
      input.toDF().select($"value".as("k")), "k")
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    val b1 = (0 until 400).map(i => s"key${i % 150}")
    val b2 = (0 until 400).map(i => s"other${i % 250}")
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)
    q.stop()
    val streamed = spark.table("hll_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.size <= 1024, "state bounded by 2^p registers")
    val batch = graft.ext.Sketches.hllRegisters(
        (b1 ++ b2).toDF("k"), "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      "incrementally maintained registers must equal the batch sketch")
  }

  test("streaming quantile sketch: the complete-mode bucket relation " +
    "equals the batch sketch on the accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    // the quantile-sketch relation IS a streaming aggregate: groupBy
    // (lo, hi) count keeps keyed state bounded by qSketchMaxBuckets
    // rows at ANY value cardinality — the whole-distribution sibling of
    // the streaming CMS/HLL claims (r10 verdict #1)
    val input = MemoryStream[Long]
    val sk = graft.ext.Sketches.quantileSketch(
      input.toDF().select($"value".as("v")), "v")
    val q = sk.writeStream.outputMode("complete")
      .format("memory").queryName("qsketch_out").start()
    val b1 = (0L until 400L).map(i => (i * 37) % 10000)
    val b2 = (0L until 400L).map(i => 100000L + (i * 91) % 900000)
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)
    q.stop()
    val streamed = spark.table("qsketch_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed.size <= graft.ext.Sketches.qSketchMaxBuckets(5),
      "state bounded by the sketch's bucket count")
    val batch = graft.ext.Sketches.quantileSketch(
        (b1 ++ b2).toDF("v"), "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed == batch,
      "incrementally maintained buckets must equal the batch sketch")
  }

  test("streaming SIGNED quantile sketch: the complete-mode bucket " +
    "relation equals the batch signed sketch on the accumulated stream") {
    implicit val sqlCtx = spark.sqlContext
    // same streaming-aggregate claim as the unsigned pin, state bounded
    // by both sign stores + the zero bucket
    val input = MemoryStream[Long]
    val sk = graft.ext.Sketches.quantileSketchSigned(
      input.toDF().select($"value".as("v")), "v")
    val q = sk.writeStream.outputMode("complete")
      .format("memory").queryName("qsketch_signed_out").start()
    val b1 = (0L until 400L).map(i => (i * 37) % 10000 - 5000)
    val b2 = (0L until 400L).map(i => (i * 91) % 900000 - 450000)
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)
    q.stop()
    val streamed = spark.table("qsketch_signed_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed.size <=
      2 * graft.ext.Sketches.qSketchMaxBuckets(5) + 1,
      "state bounded by both sign stores + the zero bucket")
    val batch = graft.ext.Sketches.quantileSketchSigned(
        (b1 ++ b2).toDF("v"), "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed == batch,
      "incrementally maintained buckets must equal the batch sketch")
  }

  test("streaming weighted sample: per-batch A-ES merge equals the " +
    "batch sample on the accumulated stream; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Sampling
    val input = MemoryStream[(Long, Long)]
    // foreachBatch maintains the k-row sample — the merge is the
    // operator under test; the sink state is just its last output
    var state = Sampling.weightedSample(
      Seq.empty[(Long, Long)].toDF("id", "w"), "id", "w", 10)
      .localCheckpoint()
    val q = input.toDF().selectExpr("_1 as id", "_2 as w")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        state = Sampling.weightedSampleMerge(state, b, "id", "w", 10)
          .localCheckpoint()
      }.start()
    val b1 = (1L to 300L).map(i => (i, 5L + i % 7))
    val b2 = (301L to 600L).map(i => (i, 5L + i % 11))
    input.addData(b1)
    q.processAllAvailable()
    val mid = state.collect().map(_.getLong(0)).toSeq
    assert(mid == Sampling.weightedSample(b1.toDF("id", "w"), "id", "w",
      10).collect().map(_.getLong(0)).toSeq, "after batch 1")
    input.addData(b2)
    q.processAllAvailable()
    q.stop()
    val fin = state.collect().map(_.getLong(0)).toSeq
    val batch = Sampling.weightedSample((b1 ++ b2).toDF("id", "w"),
      "id", "w", 10).collect().map(_.getLong(0)).toSeq
    assert(fin == batch, "2-batch merge == one-shot sample on the union")
    // checkpoint-replay: folding batch 2 in AGAIN changes nothing
    val replayed = Sampling.weightedSampleMerge(state,
      b2.toDF("id", "w"), "id", "w", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(replayed == fin, "re-seen rows collapse: replay idempotent")
  }

  test("streaming conversation transcripts: a closed session's text is " +
    "identical to the batch conversationAssembly row") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAnalytics.TurnEvent]
    val q = StreamingAnalytics.conversationTranscripts(input.toDS(),
        gapMillis = 60000)
      .writeStream.outputMode("append").format("memory")
      .queryName("transcripts").start()
    def ev(id: Long, m: Int, sec: Int, t: String, p: String) =
      StreamingAnalytics.TurnEvent(9L,
        Timestamp.valueOf(f"2026-01-01 10:$m%02d:$sec%02d"), id, t, p)
    // batch 1: three turns inside the gap (one has a ts tie broken by
    // event_id); batch 2: a turn past the gap closes the session
    input.addData(ev(1, 0, 0, "click", "a"), ev(3, 0, 30, "view", "c"),
      ev(2, 0, 30, "view", "b"))
    q.processAllAvailable()
    input.addData(ev(4, 30, 0, "buy", "d"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("transcripts")
      .select("user_id", "n_turns", "text").collect()
    assert(out.length == 1, "exactly the closed session is emitted")
    assert(out(0).getLong(1) == 3 &&
      out(0).getString(2) == "click:a\nview:b\nview:c",
      s"got ${out(0).getString(2)}")
    // identical to the batch operator on the same events (ns grain)
    val ns = 1000000L // ms -> ns
    val batchEvents = Seq(
      (1L, Timestamp.valueOf("2026-01-01 10:00:00").getTime * ns, 9L,
        "click", "a"),
      (3L, Timestamp.valueOf("2026-01-01 10:00:30").getTime * ns, 9L,
        "view", "c"),
      (2L, Timestamp.valueOf("2026-01-01 10:00:30").getTime * ns, 9L,
        "view", "b"),
      (4L, Timestamp.valueOf("2026-01-01 10:30:00").getTime * ns, 9L,
        "buy", "d"))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
    val batch = graft.ext.TextAnalysis.conversationAssembly(batchEvents,
        gapNs = 60000L * ns)
      .orderBy("session_id").collect()
    assert(batch(0).getString(5) == out(0).getString(2),
      "streamed transcript == batch text for the closed session")
  }

  test("stateful sessionize closes sessions on gap") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAnalytics.SessionEvent]
    val q = StreamingAnalytics.sessionize(input.toDS(), gapMillis = 60000)
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()

    def ev(m: Int, s: Int = 0) = StreamingAnalytics.SessionEvent(
      7L, Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d"), "click")
    input.addData(ev(0), ev(0, 30), ev(5))  // 5-min gap closes first session
    q.processAllAvailable()
    input.addData(ev(20))                    // closes the second session
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sess_out")
      .select($"n_events").as[Long].collect().toSeq
    assert(sessions == Seq(2L, 1L))
  }

  test("stream-static dimension join enriches each micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    // stream-static join: the static side is planned per micro-batch, no
    // state, no watermark needed — the standard dim-enrichment shape
    val joined = input.toDF().toDF("user_id", "value")
      .join(dim, Seq("user_id"), "left")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    input.addData((1L, 5.0), (3L, 7.0))
    q.processAllAvailable()
    input.addData((2L, 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join")
      .select($"user_id", $"tier").as[(Long, Option[String])]
      .collect().toSet
    assert(rows == Set((1L, Some("gold")), (3L, None), (2L, Some("silver"))))
  }

  test("ListState streaming funnel completes across micro-batches in order") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StreamingAnalytics.FunnelEvent]
      val q = StreamingAnalytics.streamingFunnel(input.toDS(),
          Seq("view", "click", "purchase"))
        .writeStream.outputMode("append")
        .format("memory").queryName("funnel_out").start()
      import StreamingAnalytics.FunnelEvent
      def ev(u: Long, m: Int, t: String) = FunnelEvent(
        u, Timestamp.valueOf(f"2026-01-01 10:$m%02d:00"), t)

      // user 1 progresses across batches; user 2 clicks without a view
      input.addData(ev(1L, 0, "view"), ev(2L, 0, "click"))
      q.processAllAvailable()
      input.addData(ev(1L, 1, "click"), ev(1L, 2, "error"))
      q.processAllAvailable()
      input.addData(ev(1L, 3, "purchase"), ev(2L, 3, "purchase"))
      q.processAllAvailable()
      q.stop()

      val hits = spark.table("funnel_out")
        .select($"user_id", $"n_steps").as[(Long, Int)].collect().toSeq
      assert(hits == Seq((1L, 3)), s"only user 1 completes the funnel: $hits")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("MapState histogram upserts only touched categories per batch") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StreamingAnalytics.TypedEvent]
      val q = StreamingAnalytics.typeHistogram(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("hist_out").start()
      import StreamingAnalytics.TypedEvent
      input.addData(TypedEvent(1L, "click"), TypedEvent(1L, "click"),
        TypedEvent(1L, "view"))
      q.processAllAvailable()
      val afterB1 = spark.table("hist_out").count()
      input.addData(TypedEvent(1L, "click"))  // touches ONLY click
      q.processAllAvailable()
      q.stop()

      val rows = spark.table("hist_out")
      // batch 1 emitted exactly the two touched categories
      assert(afterB1 == 2)
      // batch 2 upserted only click (not view) — delta-proportional output
      assert(rows.count() == 3)
      val latest = rows.groupBy($"user_id", $"event_type")
        .agg(max($"n").as("n"))
        .as[(Long, String, Long)].collect().toSet
      assert(latest == Set((1L, "click", 3L), (1L, "view", 1L)))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("a late event far before the open session closes as its own singleton") {
    // Cross-batch late event 2h BEFORE the open session (gap 60s, watermark
    // 4h): it can never belong to that session — it must emit as its own
    // singleton, NOT silently merge and widen session_start by 2 hours
    // (round-4 review: `t - s.last <= gapMs` is vacuously true for t in the
    // past).
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StreamingAnalytics.TimedEvent]
      val withWm = input.toDS().withWatermark("ts", "4 hours")
        .as[StreamingAnalytics.TimedEvent]
      val q = StreamingAnalytics.idleSessions(withWm, gapMs = 60000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("idle_late").start()
      def at(h: Int, m: Int) = StreamingAnalytics.TimedEvent(
        7L, Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00"))
      def atSec(h: Int, m: Int, sec: Int) = StreamingAnalytics.TimedEvent(
        7L, Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:$sec%02d"))
      input.addData(at(12, 0))
      q.processAllAvailable()
      // two 2h-late events 30s apart (inside the 4h watermark): they must
      // sessionize WITH EACH OTHER into one closed session, not merge into
      // the open 12:00 session and not close as two singletons
      input.addData(at(10, 0), atSec(10, 0, 30))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("idle_late")
        .select($"session_start", $"session_end", $"n_events")
        .as[(Timestamp, Timestamp, Long)].collect().toSet
      assert(rows.contains((Timestamp.valueOf("2026-01-01 10:00:00"),
        Timestamp.valueOf("2026-01-01 10:00:30"), 2L)),
        s"late events within gap must close as ONE session: $rows")
      assert(rows.forall { case (st, en, _) =>
        en.getTime != Timestamp.valueOf("2026-01-01 12:00:00").getTime
      }, s"late events must not merge across a 2h gap: $rows")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming ingest decontaminates each micro-batch against a static benchmark") {
    // The production shape for reference-data filtering at ingest: the
    // micro-batch is a plain batch DataFrame inside foreachBatch, so the
    // full decontamination machinery (shingles + overlap join) runs
    // per-batch against the STATIC benchmark — no streaming state, no
    // stream-stream join.
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val survivors = scala.collection.mutable.Set.empty[Long]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        survivors ++= graft.ext.Dedup
          .decontaminate(batch, bench, minOverlap = 3)
          .select(col("doc_id")).collect().map(_.getLong(0))
        ()
      }
      .start()
    input.addData(
      (1L, "the quick brown fox jumps over my fence today"), // 4 shared shingles
      (2L, "a completely original sentence about spark engines"))
    q.processAllAvailable()
    input.addData(
      (3L, "quick brown fox jumps over the hill"),           // 4 shared
      (4L, "another clean document streaming through the pipe"))
    q.processAllAvailable()
    q.stop()
    assert(survivors.toSet == Set(2L, 4L),
      s"contaminated docs must drop per batch: $survivors")
  }

  test("streaming query vectors search the prebuilt index per micro-batch") {
    // The serving half of the live-index story: a STREAM of query vectors
    // runs searchIvfPq against the stored artifact per micro-batch, and
    // the accumulated results equal the one-shot batch search over the
    // same query set — micro-batching a query workload changes nothing.
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val dir = Files.createTempDirectory("ann_qstream").toString
    graft.ext.AnnIndex.buildIvfPq(embs, dir)
    val qVecs = embs.filter($"vec_id" < 8)
      .as[(Long, Array[Float])].collect()
    val (q1, q2) = qVecs.splitAt(qVecs.length / 2)
    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        results.synchronized {
          results ++= graft.ext.AnnIndex
            .searchIvfPq(batch, spark, dir, 3)
            .collect().map(_.toString)
        }
        ()
      }
      .start()
    input.addData(q1.toSeq: _*)
    q.processAllAvailable()
    input.addData(q2.toSeq: _*)
    q.processAllAvailable()
    assert(q.recentProgress.length >= 2)
    q.stop()
    val batch = graft.ext.AnnIndex
      .searchIvfPq(embs.filter($"vec_id" < 8), spark, dir, 3)
      .collect().map(_.toString)
    assert(results.sorted.toSeq == batch.sorted.toSeq)
  }

  test("foreachBatch maintains a live ANN index across micro-batches") {
    // Index MAINTENANCE at streaming cadence: new vectors append into the
    // prebuilt IVF-PQ index per micro-batch (stored codebooks, no
    // retraining). The gate: the streamed index is byte-for-byte
    // SEARCH-equivalent to appending the same vectors in one batch call —
    // composed with AnnIndexAppendSpec (batch append ≡ one-shot encode),
    // streamed ingest inherits the full equivalence chain.
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = embs.filter($"vec_id" % 2 === 0)
    val newer = embs.filter($"vec_id" % 2 =!= 0)
      .as[(Long, Array[Float])].collect()
    val (b1, b2) = newer.splitAt(newer.length / 2)

    val streamDir = Files.createTempDirectory("ann_stream").toString
    val batchDir = Files.createTempDirectory("ann_batch").toString
    graft.ext.AnnIndex.buildIvfPq(base, streamDir)
    graft.ext.AnnIndex.buildIvfPq(base, batchDir)
    graft.ext.AnnIndex.appendIvfPq(
      newer.toSeq.toDF("vec_id", "embedding"), batchDir, batchId = 0L)

    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ann_stream_cp").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // batchId keys the commit marker: an at-least-once replay of a
        // micro-batch is a no-op instead of a double-append (r6 advice #1)
        graft.ext.AnnIndex.appendIvfPq(batch, streamDir, batchId)
        ()
      }
      .start()
    input.addData(b1.toSeq: _*)
    q.processAllAvailable()
    input.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(graft.ext.AnnIndex.listing(spark, streamDir, "encoded")
      .select("vec_id").distinct().count() == embs.count())
    assert(
      rows(graft.ext.AnnIndex.searchIvfPq(queries, spark, streamDir, 3)) ==
      rows(graft.ext.AnnIndex.searchIvfPq(queries, spark, batchDir, 3)))
    assert(
      rows(graft.ext.AnnIndex.searchIvfPqRerank(queries, spark, streamDir, 3)) ==
      rows(graft.ext.AnnIndex.searchIvfPqRerank(queries, spark, batchDir, 3)))
  }

  test("event-time timers close idle sessions when the watermark passes") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StreamingAnalytics.TimedEvent]
      val withWm = input.toDS().withWatermark("ts", "0 seconds")
        .as[StreamingAnalytics.TimedEvent]
      val q = StreamingAnalytics.idleSessions(withWm, gapMs = 60000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("idle_out").start()

      def ev(u: Long, m: Int, sec: Int = 0) = StreamingAnalytics.TimedEvent(
        u, Timestamp.valueOf(f"2026-01-01 10:$m%02d:$sec%02d"))

      // user 7: one batch containing an INTRA-BATCH gap — must split into
      // two sessions (first closes immediately, second waits on the timer)
      input.addData(ev(7L, 0), ev(7L, 0, 30), ev(7L, 30))
      q.processAllAvailable()
      // watermark advances past 10:30 + 60 s -> 7's trailing session timer
      // fires even though user 7 sends NOTHING further
      input.addData(ev(8L, 35))
      q.processAllAvailable()
      // a DIFFERENT user pushes the watermark past 10:36 -> 8's timer fires
      input.addData(ev(9L, 50))
      q.processAllAvailable()
      q.stop()

      val rows = spark.table("idle_out")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(rows.contains((7L, 2L)), s"user 7 split head must close: $rows")
      assert(rows.contains((7L, 1L)), s"user 7 idle tail must close: $rows")
      assert(rows.contains((8L, 1L)), s"user 8 session must close: $rows")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming EWMA spikes across micro-batches are bit-identical to " +
    "the batch ewmaAnomaly on the accumulated series") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // flat 4s with one warmup outlier and one post-warmup surge (the
      // Round8Spec series), split mid-stream across two micro-batches
      def pt(i: Int): StreamingAnalytics.SeriesPoint =
        StreamingAnalytics.SeriesPoint("k", i.toLong,
          if (i == 5 || i == 25) 100.0 else 4.0)
      val input = MemoryStream[StreamingAnalytics.SeriesPoint]
      val q = StreamingAnalytics.ewmaSpikes(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("ewma_out").start()
      input.addData((0 until 14).map(pt): _*)
      q.processAllAvailable()
      input.addData((14 until 30).map(pt): _*)
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("ewma_out")
        .select($"key", $"ord", $"x", $"ewma", $"is_spike")
        .orderBy($"ord").collect().toSeq
      val batch = graft.ext.TimeSeries.ewmaAnomaly(
          (0 until 30).map(i => ("k", i.toLong,
            if (i == 5 || i == 25) 100.0 else 4.0)).toDF("key", "ord", "x"),
          "key", "ord", "x")
        .orderBy($"ord").collect().toSeq
      assert(streamed.map(_.toString) == batch.map(_.toString),
        s"streamed:\n${streamed.mkString("\n")}\nbatch:\n${batch.mkString("\n")}")
      assert(streamed.count(_.getBoolean(4)) == 1 &&
        streamed.find(_.getBoolean(4)).get.getLong(1) == 25L)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CUSUM across micro-batches is bit-identical to the " +
    "batch cusum on the accumulated series") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the Round8Spec drift series: mean 10 shifting to 15 at ord 10,
      // split mid-DRIFT across two micro-batches so the alarm decision
      // depends on state carried over the batch boundary
      def x(i: Int): Long = if (i < 10) 10L else 15L
      val input = MemoryStream[StreamingAnalytics.CountPoint]
      val q = StreamingAnalytics.cusumAlarms(input.toDS(),
          target = 10L, slack = 2L, threshold = 12L)
        .writeStream.outputMode("append")
        .format("memory").queryName("cusum_out").start()
      input.addData((0 until 12).map(i =>
        StreamingAnalytics.CountPoint("k", i.toLong, x(i))): _*)
      q.processAllAvailable()
      input.addData((12 until 20).map(i =>
        StreamingAnalytics.CountPoint("k", i.toLong, x(i))): _*)
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("cusum_out")
        .select($"key", $"ord", $"x", $"s_stat", $"is_alarm")
        .orderBy($"ord").collect().toSeq
      val batch = graft.ext.TimeSeries.cusum(
          (0 until 20).map(i => ("k", i.toLong, x(i))).toDF("key", "ord", "x"),
          "key", "ord", "x", target = 10L, slack = 2L, threshold = 12L)
        .orderBy($"ord").collect().toSeq
      assert(streamed.map(_.toString) == batch.map(_.toString),
        s"streamed:\n${streamed.mkString("\n")}\nbatch:\n${batch.mkString("\n")}")
      // +3 excess/step from ord 10: S first exceeds 12 at ord 14 —
      // a decision that depends on state carried over the batch boundary
      assert(streamed.filter(_.getBoolean(4)).map(_.getLong(1)).min == 14L,
        s"alarm onset: ${streamed.mkString("\n")}")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming Markov transitions equal the batch lead() pairs " +
    "across micro-batch boundaries") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // u1's view->click crosses the boundary (the pair needs batch-1
      // state); u2's same-tsu events resolve by event_id
      val b1 = Seq((1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
        (2L, 10L, 3L, "view"), (2L, 10L, 4L, "click"))
      val b2 = Seq((1L, 30L, 5L, "purchase"), (2L, 40L, 6L, "purchase"))
      val input = MemoryStream[StreamingAnalytics.TransEvent]
      val q = StreamingAnalytics.markovTransitions(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("trans_out").start()
      input.addData(b1.map(e =>
        StreamingAnalytics.TransEvent(e._1, e._2, e._3, e._4)): _*)
      q.processAllAvailable()
      input.addData(b2.map(e =>
        StreamingAnalytics.TransEvent(e._1, e._2, e._3, e._4)): _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("trans_out")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq
      // batch lead() pairs over the accumulated events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tsu", "event_id")
      val batch = (b1 ++ b2).toDF("user_id", "tsu", "event_id", "et")
        .select($"user_id", $"et".as("e_from"),
          lead($"et", 1).over(w).as("e_to"))
        .filter($"e_to".isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq
      assert(streamed == batch,
        s"streamed $streamed\nbatch $batch")
      assert(streamed.contains((1L, "click", "purchase")),
        "the cross-boundary pair must use batch-1 state")
      assert(streamed.contains((2L, "view", "click")),
        "same-tsu events must order by event_id")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming growth accounting equals batch minus trailing churn") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // user 1: days 0,1,3 (retained then a gap); user 2: day 1 only —
      // the resurrect/churn decisions cross the micro-batch boundary
      val input = MemoryStream[StreamingAnalytics.DayActive]
      val q = StreamingAnalytics.growthFlows(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("growth_out").start()
      input.addData(StreamingAnalytics.DayActive(1L, 0L),
        StreamingAnalytics.DayActive(1L, 1L),
        StreamingAnalytics.DayActive(2L, 1L))
      q.processAllAvailable()
      input.addData(StreamingAnalytics.DayActive(1L, 3L),
        StreamingAnalytics.DayActive(1L, 3L)) // dup day: no extra flow
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("growth_out")
        .groupBy($"day")
        .agg(
          sum(when($"flow" === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when($"flow" === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when($"flow" === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"),
          sum(when($"flow" === "churned", 1L).otherwise(0L))
            .as("n_churned"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // batch over the accumulated activity, as events
      val ev = Seq((1L, 0L), (1L, 1L), (2L, 1L), (1L, 3L))
        .zipWithIndex.map { case ((u, d), i) =>
          (i.toLong, d * 86400000000000L, u, "view", 0.0)
        }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.ext.Attribution.growthAccounting(ev)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // trailing churn (knowable only past the horizon): u2 churns on
      // day 2 ONLY if no later activity ever arrives — but u2's absence
      // on day 3 IS observable batch-side. Streaming-side it is not
      // (u2 never reappeared), so the delta is exactly u2's and u1's
      // trailing churn rows: batch day2 n_churned includes u2, day4
      // includes u1.
      assert(streamed(0L) == ((1L, 0L, 0L, 0L)))
      assert(streamed(1L) == ((1L, 1L, 0L, 0L)))
      assert(streamed(2L) == ((0L, 0L, 0L, 1L))) // u1's observable gap
      assert(streamed(3L) == ((0L, 0L, 1L, 0L)))
      // batch matches everywhere except the trailing-churn rows
      assert(batch(0L) == streamed(0L))
      assert(batch(1L) == streamed(1L))
      assert(batch(2L) == ((0L, 0L, 0L, 2L))) // + u2's trailing churn
      assert(batch(3L) == streamed(3L))
      assert(batch(4L) == ((0L, 0L, 0L, 1L))) // u1's trailing churn
      assert(!streamed.contains(4L))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming cohort retention equals the batch triangle exactly") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // u1 cohort day 0, active 0,1,3 (age-3 cell crosses the batch
      // boundary); u2 cohort day 1, active 1 only; duplicate days emit
      // no extra cell activity
      val input = MemoryStream[StreamingAnalytics.DayActive]
      val q = StreamingAnalytics.cohortHits(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("cohort_out").start()
      input.addData(StreamingAnalytics.DayActive(1L, 0L),
        StreamingAnalytics.DayActive(1L, 1L),
        StreamingAnalytics.DayActive(2L, 1L))
      q.processAllAvailable()
      input.addData(StreamingAnalytics.DayActive(1L, 3L),
        StreamingAnalytics.DayActive(1L, 3L))
      q.processAllAvailable()
      q.stop()
      // aggregate the streamed hits into the triangle (n_cohort = the
      // age-0 cell) and compare BIT-IDENTICALLY to the batch operator —
      // no trailing-horizon caveat here: the triangle is append-only
      val hitRows = spark.table("cohort_out").collect()
        .map(r => (r.getLong(1), r.getLong(2))) // (cohort_day, age)
      val sizes = hitRows.filter(_._2 == 0L)
        .groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val streamed = hitRows.groupBy(identity).map { case ((cd, age), v) =>
        val nActive = v.length.toLong
        val nCohort = sizes(cd)
        (cd, age, nCohort, nActive, nActive * 1000000L / nCohort)
      }.toSeq.sorted
      val ev = Seq((1L, 0L), (1L, 1L), (2L, 1L), (1L, 3L), (1L, 3L))
        .zipWithIndex.map { case ((u, d), i) =>
          (i.toLong, d * 86400000000000L, u, "view", 0.0)
        }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.ext.Attribution.cohortRetention(ev)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sorted.toSeq
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
      assert(streamed.contains((0L, 3L, 1L, 1L, 1000000L)),
        "the cross-boundary age-3 cell must use batch-1 cohort state")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming last-touch attribution equals the batch operator " +
    "under monotone ingest") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val lookbackUs = 7L * 86400000000L
      // u1: view, click | purchase -> click credit CROSSES the batch
      //   boundary (needs batch-1 state)
      // u2: view, then a purchase past the lookback -> "(none)"
      // u3: purchase with no touch ever -> "(none)"
      // u4: same-tsu view(eid 8) then click(eid 9) | purchase -> click
      //   (equal timestamps resolve by event_id, the batch tie-break)
      val b1 = Seq(
        (1L, 10L, 1L, "view", 0.0), (1L, 20L, 2L, "click", 0.0),
        (2L, 10L, 3L, "view", 0.0),
        (4L, 50L, 8L, "view", 0.0), (4L, 50L, 9L, "click", 0.0))
      val b2 = Seq(
        (1L, 30L, 5L, "purchase", 10.01),
        (2L, 10L + lookbackUs + 1L, 6L, "purchase", 3.5),
        (3L, 40L, 7L, "purchase", 2.25),
        (4L, 60L, 10L, "purchase", 1.0))
      val input = MemoryStream[StreamingAnalytics.AttrEvent]
      val q = StreamingAnalytics.lastTouchConversions(input.toDS(),
          lookbackUs)
        .writeStream.outputMode("append")
        .format("memory").queryName("lt_out").start()
      input.addData(b1.map(e =>
        StreamingAnalytics.AttrEvent(e._1, e._2, e._3, e._4, e._5)): _*)
      q.processAllAvailable()
      input.addData(b2.map(e =>
        StreamingAnalytics.AttrEvent(e._1, e._2, e._3, e._4, e._5)): _*)
      q.processAllAvailable()
      q.stop()
      val perPurchase = spark.table("lt_out")
        .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
        .sorted.toSeq
      assert(perPurchase == Seq(
        (1L, "click", 10010000L), (2L, "(none)", 3500000L),
        (3L, "(none)", 2250000L), (4L, "click", 1000000L)),
        s"per-purchase rows: $perPurchase")
      // the streamed rows aggregated by channel must be BIT-IDENTICAL
      // to the batch operator over the accumulated events
      val streamed = spark.table("lt_out")
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_conversions"),
          sum($"value_micro").as("attributed_micro"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      val ev = (b1 ++ b2).toDF("user_id", "tsu", "event_id", "et", "v")
        .select($"event_id", ($"tsu" * 1000L).as("ts"), $"user_id",
          $"et".as("event_type"), $"v".as("value"))
      val batch = graft.ext.Attribution.lastTouch(ev, lookbackDays = 7)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming windowed funnel equals the batch windowFunnel under " +
    "monotone ingest (tie + expiry + cross-batch cases, then a seeded " +
    "random stream)") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val windowUs = 100L
      def run(b1: Seq[(Long, Long, Long, String)],
          b2: Seq[(Long, Long, Long, String)]): Map[Long, Int] = {
        val input = MemoryStream[StreamingAnalytics.AttrEvent]
        val name = s"wf_out_${b1.size}_${b2.size}"
        val q = StreamingAnalytics.windowFunnelLevels(input.toDS(),
            windowUs)
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        input.addData(b1.map(e =>
          StreamingAnalytics.AttrEvent(e._1, e._2, e._3, e._4, 0.0)): _*)
        q.processAllAvailable()
        input.addData(b2.map(e =>
          StreamingAnalytics.AttrEvent(e._1, e._2, e._3, e._4, 0.0)): _*)
        q.processAllAvailable()
        q.stop()
        spark.table(name).groupBy($"user_id")
          .agg(max($"best_level").as("best_level"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      }
      def batchOf(evs: Seq[(Long, Long, Long, String)]): Map[Long, Int] =
        graft.ext.Attribution.windowFunnel(
            evs.toDF("user_id", "tsu", "event_id", "et")
              .select($"user_id", ($"tsu" * 1000L).as("ts"),
                $"et".as("event_type")),
            windowUs)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

      // hand cases: (user, tsu, event_id, type)
      // u1 full chain in window; u2 click past the window (level 1);
      // u3 purchase past the window (level 2); u4 the TIE case — a
      // same-tsu view+click pair where strictness assigns the OLDER
      // view; u5 purchase past window after a valid click; u6 purchase
      // with no view ever (batch excludes the user); u7 chain split
      // ACROSS batches (needs batch-1 state)
      val b1 = Seq(
        (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
        (2L, 10L, 3L, "view"),
        (3L, 10L, 4L, "view"), (3L, 50L, 5L, "click"),
        (4L, 10L, 6L, "view"), (4L, 50L, 7L, "view"),
        (4L, 50L, 8L, "click"),
        (5L, 10L, 9L, "click"), (5L, 20L, 10L, "view"),
        (5L, 30L, 11L, "click"),
        (7L, 10L, 12L, "view"))
      val b2 = Seq(
        (1L, 30L, 20L, "purchase"),
        (2L, 200L, 21L, "click"),
        (3L, 150L, 22L, "purchase"),
        (4L, 60L, 23L, "purchase"),
        (5L, 400L, 24L, "purchase"),
        (6L, 10L, 25L, "purchase"),
        (7L, 20L, 26L, "click"), (7L, 30L, 27L, "purchase"))
      val streamed = run(b1, b2)
      val batch = batchOf(b1 ++ b2)
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
      assert(batch(4L) == 3, "the tie case must chain through the " +
        "older view (strictly-after rule)")
      assert(!batch.contains(6L) && !streamed.contains(6L))

      // seeded pseudo-random stream: 240 events, 8 users, duplicate
      // timestamps every 5th event, all four event types — global
      // (tsu, event_id) order split into two batches keeps per-user
      // ingest monotone
      val types = Vector("view", "click", "purchase", "other")
      val rnd = (0 until 240).map { i =>
        val h = (i * 2654435761L) >>> 7
        val tsu = (i - (if (i % 5 == 0) 1 else 0)).toLong * 9L
        (100L + (h % 8), tsu, 1000L + i, types(((h >> 13) % 4).toInt))
      }
      val (r1, r2) = rnd.splitAt(120)
      val streamedR = run(r1, r2)
      val batchR = batchOf(rnd)
      assert(streamedR == batchR,
        s"random pin: streamed $streamedR\nbatch $batchR")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel-stage latencies equal the batch " +
    "funnelStageDeltas under monotone ingest (strict-after ties, " +
    "cross-batch chains, then a seeded random stream)") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(b1: Seq[(Long, Long, Long, String)],
          b2: Seq[(Long, Long, Long, String)])
          : Seq[(Long, String, Long)] = {
        val input = MemoryStream[StreamingAnalytics.AttrEvent]
        val name = s"fsl_out_${b1.size}_${b2.size}"
        val q = StreamingAnalytics.funnelStageLatencies(input.toDS())
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        input.addData(b1.map(e =>
          StreamingAnalytics.AttrEvent(e._1, e._2, e._3, e._4, 0.0)): _*)
        q.processAllAvailable()
        input.addData(b2.map(e =>
          StreamingAnalytics.AttrEvent(e._1, e._2, e._3, e._4, 0.0)): _*)
        q.processAllAvailable()
        q.stop()
        spark.table(name)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sorted.toSeq
      }
      def batchOf(evs: Seq[(Long, Long, Long, String)])
          : Seq[(Long, String, Long)] =
        graft.ext.Attribution.funnelStageDeltas(
            evs.toDF("user_id", "tsu", "event_id", "et")
              .select($"user_id", ($"tsu" * 1000L).as("ts"),
                $"et".as("event_type")))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sorted.toSeq

      val M = 1000000L // 1 s in event-time micros
      // u1 full chain (3 s then 5 s); u2 a click AT t_view (strict
      // reject) then one 2 s later, purchase before the click is
      // ignored, one after counts; u3 view only; u4 duplicate views
      // never reset the chain; u5 chain split ACROSS batches; u6
      // purchase with no view ever
      val b1 = Seq(
        (1L, 10 * M, 1L, "view"), (1L, 13 * M, 2L, "click"),
        (2L, 10 * M, 3L, "view"), (2L, 10 * M, 4L, "click"),
        (2L, 11 * M, 5L, "purchase"), (2L, 12 * M, 6L, "click"),
        (3L, 10 * M, 7L, "view"),
        (4L, 10 * M, 8L, "view"), (4L, 20 * M, 9L, "view"),
        (4L, 24 * M, 10L, "click"),
        (5L, 10 * M, 11L, "view"))
      val b2 = Seq(
        (1L, 18 * M, 20L, "purchase"),
        (2L, 19 * M, 21L, "purchase"),
        (4L, 25 * M, 22L, "purchase"),
        (5L, 17 * M, 23L, "click"), (5L, 40 * M, 24L, "purchase"),
        (6L, 10 * M, 25L, "purchase"))
      val streamed = run(b1, b2)
      val batch = batchOf(b1 ++ b2)
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
      // the strict-after tie: u2's click at t_view is rejected, the
      // 12 s click stands (2 s), and only the 19 s purchase counts (7 s)
      assert(batch.contains((2L, "view->click", 2L)) &&
        batch.contains((2L, "click->purchase", 7L)))
      // u4: the FIRST view anchors (14 s), later views don't reset
      assert(batch.contains((4L, "view->click", 14L)))
      assert(!batch.exists(_._1 == 6L) && !streamed.exists(_._1 == 6L))

      // seeded pseudo-random stream, the windowed-funnel pin's
      // generator at second-scale timestamps: 240 events, 8 users,
      // duplicate timestamps every 5th event, all four event types
      val types = Vector("view", "click", "purchase", "other")
      val rnd = (0 until 240).map { i =>
        val h = (i * 2654435761L) >>> 7
        val tsu = (i - (if (i % 5 == 0) 1 else 0)).toLong * 9L * M
        (100L + (h % 8), tsu, 1000L + i, types(((h >> 13) % 4).toInt))
      }
      val (r1, r2) = rnd.splitAt(120)
      val streamedR = run(r1, r2)
      val batchR = batchOf(rnd)
      assert(streamedR == batchR,
        s"random pin: streamed $streamedR\nbatch $batchR")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState running stats accumulate across micro-batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StreamingAnalytics.StatEvent]
      val q = StreamingAnalytics.runningUserStats(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()

      input.addData(
        StreamingAnalytics.StatEvent(1L, 1.5),
        StreamingAnalytics.StatEvent(1L, 2.0),
        StreamingAnalytics.StatEvent(2L, 10.0))
      q.processAllAvailable()
      input.addData(StreamingAnalytics.StatEvent(1L, 0.5))
      q.processAllAvailable()
      q.stop()

      // update mode: memory sink appends one upsert per key per batch —
      // the latest row per user carries the full running aggregate
      val latest = spark.table("tws_out")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"total_value")).as("m"))
        .select($"user_id", $"m.n_events", $"m.total_value")
        .as[(Long, Long, Double)].collect()
        .map { case (u, n, t) => u -> ((n, t)) }.toMap
      assert(latest(1L) == ((3L, 4.0)))
      assert(latest(2L) == ((1L, 10.0)))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
