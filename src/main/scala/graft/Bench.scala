package graft

import java.awt.image.BufferedImage
import java.nio.file.{Files, Paths}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._
import graft.ext.Multimodal.{JdkCodec, MediaRecord}
import graft.streaming.{StreamingCuration, StreamingEntityResolution}

/** Benchmark main. Times every registered query on `SPARK_GRAFT_SF_DIR`, then
 * the sf1 probe table (`sf1Table`) on 10× replicas of it; prints the full JSON
 * line, also written to `target/bench.json` and `BENCH_FULL.json`, then a
 * compact (< 500-byte) last line. A failed query or probe reads -1.
 * Settings: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` (default: all cores),
 * `SPARK_GRAFT_SF1_DEDUP` (`1`, `0`, or `auto`: only on an sf0.1 input) and
 * `SPARK_GRAFT_REQUIRE_CKPT_SEC` (the degraded-window gate in `main`). */
object Bench {

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Locale-stable 2-decimal formatting: under a comma-decimal default
   * locale an f-interpolator would emit `0,95` and break the JSON line. */
  private def f2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  private def jsonMap(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def jsonArr(ss: Seq[Double]): String = ss.map(f2).mkString("[", ",", "]")

  /** Murmur3 fmix64: full avalanche keeps generated groups independent. */
  private def mix(group: Long, i: Int): Long = {
    var h = group * 1000003L + i
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Deterministic 64×64 PNG. Groups of 4 ids share an 8×8-block pattern;
   * variant v flips blocks 0..v-1 across a bimodal luma split, so within a
   * group each pair sits at aHash distance |v1 − v2| ≤ 3. */
  private[graft] def mkImageRecord(id: Long): MediaRecord = {
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    for (block <- 0 until 64) {
      val lum = if (((mix(id / 4, block) & 1L) == 1L) ^ (block < id % 4)) 204 else 51
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(block % 8 * 8 + x, block / 8 * 8 + y, (lum << 16) | (lum << 8) | lum)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    MediaRecord(id, "image", bos.toByteArray, 64, 64, 0, 0)
  }

  /** Deterministic 1-second 8 kHz WAV. Groups of 4 share per-window square
   * waves (amplitude varies too: period alone gave ~36 distinct bands and a
   * ~60× candidate join); variant v > 0 sign-flips ~1% of the samples. */
  private[graft] def mkAudioRecord(id: Long): MediaRecord = {
    val x = new Array[Int](8192)
    for (w <- 0 until 8) {
      val h = mix(id / 4, w)
      val halfPeriod = 1 << (((h & 0x7fL) % 6) + 1).toInt // 2..64
      val amp = 2048 + (((h >> 8) & 0x7L) * 1024L).toInt // 2048..9216
      for (i <- w * 1024 until (w + 1) * 1024)
        x(i) = if ((i / halfPeriod) % 2 == 0) amp else -amp
    }
    if (id % 4 > 0) for (i <- 37 * (id % 4).toInt until x.length by 101) x(i) = -x(i)
    val pcm = java.nio.ByteBuffer.allocate(x.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    x.foreach(s => pcm.putShort(s.toShort))
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm.array),
      new AudioFormat(8000f, 16, 1, true, false), x.length.toLong),
      AudioFileFormat.Type.WAVE, bos)
    MediaRecord(id, "audio", bos.toByteArray, 0, 0, 8000, 1024)
  }

  /** Total bytes of regular files under `dir`, −1 if absent. */
  private def dirBytes(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) -1L
    else scala.util.Using.resource(Files.walk(Paths.get(dir)))(
      _.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum())

  /** Wall seconds + process-cpu seconds of one run of `body`. */
  private def timed(body: => Unit): (Double, Double) = {
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, (osBean.getProcessCpuTime - c0) / 1e9)
  }

  /** max(c) of `df`, 0 on an empty table (max over no rows is a null row). */
  private def maxIdOrZero(df: DataFrame, c: String): Long = {
    val r = df.agg(max(c)).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Host canaries are fixed work timed around the query loop and in each sf1
   * family: IO-bound walls moved 3-5× over unchanged code, and a flat canary
   * beside a moved wall is a regression. This one: 2e8 fmix64-style rounds. */
  private def cpuCanary(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29
      i += 1
    }
    val w = (System.nanoTime() - t0) / 1e9
    // value sink so the loop cannot be dead-code-eliminated
    if (h == 42L) System.err.print("")
    w
  }

  /** 4M-row localCheckpoint round trip: the block-manager path every
   * iterative operator pays per iteration. */
  private def ckptCanary(s: SparkSession): Double = {
    val df = s.range(0L, 4L * 1000 * 1000, 1L, 32)
      .select(col("id"), (col("id") * lit(2654435761L)).as("a"),
        md5(col("id").cast("string")).as("h"))
    val t0 = System.nanoTime()
    val ck = df.localCheckpoint(true)
    val n = ck.count()
    val w = (System.nanoTime() - t0) / 1e9
    ck.unpersist(blocking = true)
    require(n == 4000000L, s"ckpt canary lost rows: $n")
    w
  }

  /** ms per job of 20 trivial shuffle jobs: per-job cost, which swung
   * 220→470 ms between back-to-back samples (a sub-2 s query's whole wall). */
  private def schedCanary(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    for (_ <- 0 until 20) s.range(100).groupBy(col("id") % 10).count().count()
    (System.nanoTime() - t0) / 1e9 / 20 * 1000
  }

  /** What the ckpt gate reads: the min of [2.2, 0.61, 0.73] passes a 0.65
   * gate that two of the three samples fail. */
  private def canaryMedian(ss: Seq[Double]): Double = {
    val s = ss.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
  }

  private[graft] final class Sf1Out {
    val walls, ratios, samples, canaries, bytes = ListBuffer.empty[(String, String)]
  }

  /** One sf1 probe. Each family runs in a fresh session: earlier probes' blocks
   * crowd the block manager (d4/d6/d7: 131/176/110 s shared, 13/8/16 s fresh). */
  private[graft] sealed trait Row { def family: String; def label: String }
  /** Registered query `id`. Min of 2 samples, up to 4 while they disagree
   * by more than 1.3× (a noisy window) and the probe has spent under 20 s. */
  private[graft] final case class Query(family: String, label: String, id: String) extends Row
  /** An operator call timed by `count()`, sampled like `Query` or once. */
  private[graft] final case class Probe(family: String, label: String,
      build: SparkSession => DataFrame, once: Boolean = false) extends Row
  /** A maintained table: `open` resets it and returns steps timed once each. */
  private[graft] final case class SinkBatches(family: String, label: String,
      open: SparkSession => Seq[(String, () => Unit)]) extends Row

  /** The sf1 rows over the 10× tables in `dir10` and each family's untimed
   * setup (which records into `out`). Building it runs nothing. */
  private[graft] def sf1Table(sfDir: String, dir10: String, docStride: Long,
      out: Sf1Out): (Seq[Row], Map[String, SparkSession => Unit]) = {
    def ids(family: String, prefix: String = "")(names: String*): Seq[Row] =
      names.map(n => Query(family, prefix + n, n))
    def probes(family: String)(ps: (String, SparkSession => DataFrame)*): Seq[Row] =
      ps.map { case (label, build) => Probe(family, label, build) }
    def read(ps: SparkSession, table: String) = ps.read.parquet(s"$dir10/$table.parquet")
    def docs(ps: SparkSession) = read(ps, "documents")
    def emb(ps: SparkSession) = read(ps, "embeddings")
    def emb8(ps: SparkSession) = emb(ps).filter(col("vec_id") < 8)
    def names(ps: SparkSession) = read(ps, "fuzzy_names")
    def withQuality(df: DataFrame) = df.withColumn("q", (col("id") % 997).cast("double"))
      .withColumn("seg", (col("id") % 5).cast("string"))
    def coPurchase(ps: SparkSession, minQty: Int) =
      Graph.coPurchaseEdges(read(ps, "lineitem").filter(col("l_quantity") >= minQty))
    def purchases(ps: SparkSession) =
      Graph.purchaseEdges(read(ps, "orders"), read(ps, "lineitem"))
    def media(ps: SparkSession, table: String) =
      read(ps, table).as(org.apache.spark.sql.Encoders.product[MediaRecord])
    def reset(ps: SparkSession, dirs: String*): Unit =
      dirs.map(new org.apache.hadoop.fs.Path(_))
        .foreach(p => p.getFileSystem(ps.sparkContext.hadoopConfiguration).delete(p, true))
    def erSink(ps: SparkSession, name: String) = {
      reset(ps, s"$dir10/${name}_table", s"$dir10/${name}_state")
      StreamingEntityResolution.goldenSink(s"$dir10/${name}_table",
        s"$dir10/${name}_state", "id", "nm", "q", Seq("seg"), blockPrefix = 12, minSim = 0.9)
    }
    // replicas suffix every token, so search terms carry each suffix
    val sfTerms = (0 until 10).flatMap(r => Seq(s"spark_$r", s"vector_$r", s"stream_$r"))
    val idxDir = s"$dir10/ann_ivfpq_index"
    val residualIdxDir = s"$dir10/ann_ivfadc_residual_index"
    val sq8IdxDir = s"$dir10/ann_sq8_index"

    val rows: Seq[Row] = ids("events_analytics")("at2_linear_attrib", "s8_window_funnel",
      "s9_growth_accounting", "ab3_bootstrap_ci", "s10_retention_km",
      "s12_cohort_retention", "x13_acf", "dq13_snapshot_drift", "ab4_welch",
      "s13_funnel_latency", "dq16_grouped_quantiles", "s14_burstiness", "ab5_did",
      "s11_event_trigrams", "ab6_mann_whitney", "s16_markov_stationary", "ab7_logrank",
      "s17_survival_summary", "ab8_two_proportion", "x16_mann_kendall", "x17_theil_sen",
      "x18_spearman", "dq30_qsketch_signed", "ab9_kruskal_wallis", "dq31_qsketch_shift",
      "ab10_wilcoxon", "dq32_qsketch_signed_by", "dq33_ks_drift", "dq34_qsketch_merge_by",
      "dq35_ks_drift_by", "x19_kendall_tau", "ab11_friedman", "x20_spearman_by",
      "dq36_ks_buckets", "dq37_ks_buckets_by", "ab12_nemenyi", "ab13_cochran_q",
      "x21_kendall_tau_by", "dq38_cvm_drift", "dq39_wasserstein", "ab14_cliffs_delta",
      "ab15_page_trend", "dq40_cvm_drift_by", "dq41_wasserstein_by", "dq42_energy_distance",
      "ab16_jonckheere") ++
    // d34's materialization A/B on half the replicas, once (min-of-2 cost ~307 s)
    Seq(false, true).map { mat =>
      Probe("d34_venn_half", s"d34_venn_${if (mat) "mat" else "nomat"}_h5", ps =>
        Dedup.nearDupDetectorVenn(docs(ps).filter(col("doc_id") < lit(5L * docStride)),
          minJaccard = 0.5, lshMaxBucket = Int.MaxValue, maxHamming = 3, win = 4,
          minShared = 2, maxPostings = 100, materializeShared = mat), once = true)
    } ++
    ids("dedup_text_retrieval")("d2_minhash_bands", "d3_lsh_pairs", "d4_ngram_jaccard",
      "d5_simhash", "d6_dup_clusters", "d7_dedup_apply", "d11_chunk_dedup",
      "d13_decontaminate", "d16_decontaminate_13gram", "d18_span_dedup", "t11_tfidf",
      "t14_unigram_xent", "t16_bigram_xent", "sp12_dsir_weights", "t30_kneser_ney",
      "t19_gopher_repetition", "sp16_bpe_tokenize", "pipe1_curation_report",
      "pipe2_training_assembly", "d22_source_overlap", "d23_remove_boilerplate",
      "t22_calibrated_quality", "d27_winnow_fps", "d28_winnow_pairs", "sp23_pareto_skyline",
      "t28_cms_counts", "d30_bloom_prefilter", "d31_ppjoin", "d32_ppjoin_stats",
      "t32_hll_registers", "t33_hll_estimate", "t26_phrase_detect",
      "pipe6_perplexity_curriculum", "d37_containment", "d36_cluster_agreement",
      "d38_novelty_panel", "t44_distinct_ngrams", "t45_vocab_richness", "dq14_mutual_info",
      "t47_rouge2_lead") ++
    probes("dedup_text_retrieval")(
      "d21_lsh_recall_p20" -> (ps =>
        Dedup.lshRecall(docs(ps), minJaccard = 0.5, samplePct = 20)),
      "pipe1_curation_mat" -> { ps =>
        val (d, e) = (docs(ps), emb(ps))
        Curation.curationReport(d, bench = d.filter(col("doc_id") % 20 === 0),
          embeddings = Some((e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10))),
          withSignals = true, materializeShared = true)
      },
      "t17_bm25_topk" -> (ps => Retrieval.bm25TopK(docs(ps), sfTerms, 20)),
      "t21_rm3_expand" -> (ps => Retrieval.rm3TopK(docs(ps), sfTerms, 10)),
      "pipe3_retrieval_stack" -> (ps =>
        Retrieval.retrievalStack(docs(ps), emb(ps), sfTerms, k = 3, fetch = 8)),
      "t46_ql_dirichlet" -> (ps => Retrieval.qlDirichletTopK(docs(ps), sfTerms, k = 20))) ++
    probes("fuzzy_names")(
      "d15_fuzzy_bidir" -> (ps => Dedup.editDistancePairsBidirectional(
        names(ps), "id", "nm", blockPrefix = 12, maxDist = 1)),
      "d9_fuzzy_pairs" -> (ps =>
        Dedup.editDistancePairs(names(ps), "id", "nm", blockPrefix = 12, maxDist = 1)),
      "d29_lev_block_stats" -> (ps => Dedup.levBlockStats(names(ps), "nm", blockPrefix = 12)),
      "d24_jw_pairs" -> (ps =>
        Dedup.jaroWinklerPairs(names(ps), "id", "nm", blockPrefix = 12, minSim = 0.9)),
      "d35_damerau_pairs" -> (ps =>
        Dedup.damerauPairs(names(ps), "id", "nm", blockPrefix = 12, maxDist = 1)),
      "pipe4_entity_resolution" -> (ps => EntityResolution.resolveEntities(
        withQuality(names(ps)), "id", "nm", "q", Seq("seg"), blockPrefix = 12, minSim = 0.9)),
      "d33_snm_pairs" -> (ps => Dedup.sortedNeighborPairs(names(ps), "id", "nm",
        Seq(col("nm"), reverse(col("nm"))), window = 5, minSim = 0.95))) ++
    ids("ann", "ann_")("n7_knn_ivf_trained", "n10_pq_encode", "n11_pq_adc", "n14_knn_ivfpq",
      "e5_proto_prune", "n18_knn_ivfadc_residual", "e10_label_overlap", "e11_pca_power",
      "e13_dim_stats", "e14_linear_probe", "t29_rank_eval") ++
    // index probes search what the setup built (untimed: deployment cost)
    probes("ann")(
      "ann_sp18_kcenter_n1000" -> (ps =>
        Selection.kcenterSelect(emb(ps), k = 4, sampleN = 1000)),
      "ann_n24_nsw_ivfpq_graph" -> { ps =>
        val e = emb(ps)
        val graph = Dedup.materialize(
          AnnIndex.searchIvfPq(e, ps, idxDir, 6).select("q_id", "n_id"))
        Similarity.nswSearch(e.filter(col("vec_id") < 20), e, graph,
          (0L to 4L).toSeq, k = 5, beam = 16, hops = 3)
      },
      "ann_index_search_ivfadc_residual_np2" -> (ps =>
        AnnIndex.searchIvfAdcResidual(emb8(ps), ps, residualIdxDir, 3, nprobe = 2)),
      "ann_index_search_ivfpq" -> (ps => AnnIndex.searchIvfPq(emb8(ps), ps, idxDir, 3)),
      "ann_index_search_ivfsq8" -> (ps => AnnIndex.searchIvfSq8(emb8(ps), ps, sq8IdxDir, 3)),
      "ann_index_search_ivfpq_multiprobe" -> (ps =>
        AnnIndex.searchIvfPqMultiProbe(emb8(ps), ps, idxDir, 3)),
      "ann_index_search_ivfpq_rerank" -> (ps =>
        AnnIndex.searchIvfPqRerank(emb8(ps), ps, idxDir, 3, rerank = 10)),
      "ann_index_search_ivfpq_mp_rerank" -> (ps =>
        AnnIndex.searchIvfPqMultiProbeRerank(emb8(ps), ps, idxDir, 3, rerank = 10)),
      // the index scores ADC distance: outliers have the largest k-th
      "ann_n23_outliers_ivfpq" -> (ps => Similarity.knnOutliersFrom(
        AnnIndex.searchIvfPq(emb(ps), ps, idxDir, 5),
        k = 5, topN = 20, scoreCol = "dist_q", higherIsCloser = false)),
      "ann_n25_lof_ivfpq" -> (ps => Similarity.lofFrom(
        Dedup.materialize(AnnIndex.searchIvfPq(emb(ps), ps, idxDir, 5)),
        k = 5, topN = 20, distQCol = Some("dist_q"))),
      "e17_dbscan_rpblocked" -> { ps =>
        val v = emb(ps)
        val cells = v.select(col("vec_id"), col("embedding"),
          Similarity.rpCell(col("embedding"), Similarity.rpPlanes(64, 4)).as("cell"))
        def side(s: String) = cells.select(col("cell"), col("vec_id").as(s"${s}_id"),
          col("embedding").as(s"${s}_emb"))
        val nbrs = side("a").join(side("b"), "cell").filter(col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id"),
            round(Similarity.cosine(col("a_emb"), col("b_emb")), 4).as("sim"))
          .filter(col("sim") >= 0.3)
        Similarity.dbscanFrom(v.select("vec_id"), Dedup.materialize(nbrs), minPts = 5)
      },
      "ann_index_search_residual_rerank" -> { ps =>
        val e = emb(ps)
        AnnIndex.searchIvfAdcResidualRerank(e.filter(col("vec_id") < 8), ps, residualIdxDir,
          e, 3, rerank = 10, nprobe = 2)
      }) ++
    Seq(
      // with 1% of the corpus tombstoned, then after a vacuum
      Probe("ann_tombstoned", "ann_index_search_ivfpq_tombstoned",
        ps => AnnIndex.searchIvfPq(emb8(ps), ps, idxDir, 3)),
      Probe("ann_post_vacuum", "ann_index_search_ivfpq_post_vacuum",
        ps => AnnIndex.searchIvfPq(emb8(ps), ps, idxDir, 3)),
      // per-batch walls of maintained tables over monotone id cuts
      SinkBatches("curation_stream", "curation_stream", { ps =>
        val d = docs(ps)
        reset(ps, s"$dir10/curation_table", s"$dir10/curation_state")
        val sink = StreamingCuration.curationSink(s"$dir10/curation_table",
          s"$dir10/curation_state", d.filter(col("doc_id") % 20 === 0))
        (0 until 5).map { k =>
          val b = d.filter(col("doc_id") >= k * 2 * docStride &&
            col("doc_id") < (k + 1) * 2 * docStride)
          s"curation_stream_b$k" -> (() => sink.write(b, k.toLong))
        }
      }),
      SinkBatches("er_stream", "er_stream", { ps =>
        val recs = withQuality(names(ps))
        val sink = erSink(ps, "er")
        Seq(0L -> 4000L, 4000L -> 7000L, 7000L -> 11000L).zipWithIndex.map {
          case ((lo, hi), k) => s"er_stream_b$k" ->
            (() => sink.write(recs.filter(col("id") >= lo && col("id") < hi), k.toLong))
        }
      }),
      // beside a one-shot re-resolve: linear against quadratic growth
      SinkBatches("er_stream_sep", "er_stream_sep", { ps =>
        val recs = withQuality(read(ps, "er_sep_names"))
        val sink = erSink(ps, "er_sep")
        (0 until 8).flatMap { k =>
          val (lo, hi) = (k * 6000L, (k + 1) * 6000L)
          Seq(s"er_stream_sep_b$k" ->
            (() => sink.write(recs.filter(col("id") >= lo && col("id") < hi), k.toLong)),
            s"er_oneshot_sep_b$k" -> (() => EntityResolution.resolveEntities(
              recs.filter(col("id") < hi), "id", "nm", "q", Seq("seg"),
              blockPrefix = 12, minSim = 0.9).count(): Unit))
        }
      }),
      Probe("multimodal", "m1_image_ahash_pairs", ps => Multimodal.imageDupPairs(
        Multimodal.imageAHash(media(ps, "media"), JdkCodec)(ps).toDF(), maxHamming = 3)),
      Probe("multimodal", "m2_audio_fp_pairs", ps => Multimodal.audioDupPairs(
        Multimodal.audioFingerprint(media(ps, "audio"), JdkCodec)(ps).toDF(),
        maxHamming = 3))) ++
    probes("graph_relational")(
      "graph1_pagerank" -> (ps => Graph.pagerank(purchases(ps), iters = 3)),
      "graph2_triangles" -> (ps =>
        Graph.triangleStats(Graph.coPurchaseEdges(read(ps, "lineitem")))),
      "graph4_link_predict" -> (ps =>
        Graph.linkPredictions(coPurchase(ps, 30), maxDegree = 16, topK = 50)),
      "graph6_label_prop" -> (ps => Graph.labelPropagation(coPurchase(ps, 40), iters = 2)),
      "graph8_reachability" -> (ps => Graph.reachability(read(ps, "part").select(
        floor(col("p_partkey") / 4).cast("long").as("parent"),
        col("p_partkey").cast("long").as("child")).filter(col("parent") >= 1))),
      "graph9_hits" -> (ps => Graph.hits(purchases(ps), iters = 2)),
      "graph10_modularity" -> { ps =>
        val ed = coPurchase(ps, 40)
        Graph.modularity(ed, Graph.labelAssignments(ed, iters = 2))
      }) ++
    ids("graph_relational")("graph11_item_sim") ++
    probes("graph_relational")(
      // ~5.8M distinct prices: above the default 4M grain bound
      "dq11_equidepth" -> (ps => Profile.orderStatQuantiles(read(ps, "lineitem"),
        "l_extendedprice", k = 10, maxDistinct = 8L * 1000 * 1000)),
      "dq22_equidepth_twolevel" -> (ps => Profile.orderStatQuantilesTwoLevel(
        read(ps, "lineitem"), "l_extendedprice", k = 10, bucketShift = 20)),
      "graph12_sssp" -> { ps =>
        import ps.implicits._
        Graph.sssp(read(ps, "part").select(
          floor(col("p_partkey") / 4).cast("long").as("src"),
          col("p_partkey").cast("long").as("dst"),
          (col("p_partkey") % 97 + 1).cast("long").as("w")).filter(col("src") >= 1),
          Seq(1L, 2L, 3L).toDF("node"), maxHops = 10)
      },
      "graph13_scc" -> { ps =>
        val keys = read(ps, "part").select(col("p_partkey").cast("long").as("parent"))
          .filter(col("parent") < 10240)
        val cyc = keys.select(col("parent"),
          expr("(parent div 8) * 8 + (parent % 8 + 1) % 8").as("child"))
        val bridge = keys.filter(col("parent") % 1024 < 64)
          .select(col("parent"), (col("parent") + 64).as("child"))
        Graph.scc(cyc.unionByName(bridge))
      }) ++
    ids("graph_relational")("rec1_cf_hitrate", "graph14_hill_alpha",
      "graph16_assortativity") ++
    probes("graph_relational")(
      // dollars: the cent-grain total at 10× exceeds the exact-ppm envelope
      "dq17_lorenz" -> (ps => Profile.lorenzCurve(read(ps, "orders").select(
        col("o_custkey"), floor(col("o_totalprice") + lit(0.5)).cast("long").as("dollars")),
        "o_custkey", "dollars", k = 10)))

    def buildIndex(name: String, dir: String)(build: => Unit): Unit = {
      out.walls += (s"ann_index_build_$name" -> f2(timed(build)._1))
      out.bytes += (s"ann_index_bytes_$name" -> dirBytes(dir).toString)
    }
    val setups = Map[String, SparkSession => Unit](
      "ann" -> { ps =>
        buildIndex("ivfpq", idxDir)(AnnIndex.buildIvfPq(emb(ps), idxDir))
        buildIndex("ivfadc_residual", residualIdxDir)(
          AnnIndex.buildIvfAdcResidual(emb(ps), residualIdxDir))
        buildIndex("ivfsq8", sq8IdxDir)(AnnIndex.buildIvfSq8(emb(ps), sq8IdxDir))
      },
      "ann_tombstoned" -> (ps =>
        AnnIndex.deleteIds(emb(ps).filter(col("vec_id") % 100 === 50), idxDir)),
      "ann_post_vacuum" -> { ps =>
        val before = dirBytes(idxDir)
        out.walls += ("ann_index_vacuum" -> f2(timed(AnnIndex.vacuumDeletes(ps, idxDir))._1))
        out.bytes += ("ann_index_bytes_post_vacuum" -> dirBytes(idxDir).toString)
        out.bytes += ("ann_index_bytes_reclaimed" -> (before - dirBytes(idxDir)).toString)
      },
      "graph_relational" -> (ps => writeOrderBook(ps, sfDir, dir10)))
    (rows, setups)
  }

  private def writeReplicas(dir10: String, table: String, parts: Int)(
      replica: Int => DataFrame): Unit =
    (0 until 10).map(replica).reduce(_ unionByName _).repartition(parts)
      .write.mode("overwrite").parquet(s"$dir10/$table.parquet")

  /** 10 disjoint copies of the order book (keys shifted, prices by a cent). */
  private def writeOrderBook(ps: SparkSession, sfDir: String, dir10: String): Unit = {
    val o = ps.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = ps.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val pt = ps.read.parquet(s"$sfDir/part.parquet").select("p_partkey")
    val (ok, ck) = (maxIdOrZero(o, "o_orderkey") + 1L, maxIdOrZero(o, "o_custkey") + 1L)
    val (pk, sk) = (maxIdOrZero(l, "l_partkey") + 1L, maxIdOrZero(l, "l_suppkey") + 1L)
    val ptk = maxIdOrZero(pt, "p_partkey") + 1L
    writeReplicas(dir10, "orders", 16)(k => o.select(
      (col("o_orderkey") + lit(k * ok)).as("o_orderkey"),
      (col("o_custkey") + lit(k * ck)).as("o_custkey"),
      (col("o_totalprice") + lit(k * 0.01)).as("o_totalprice")))
    writeReplicas(dir10, "lineitem", 16)(k => l.select(
      (col("l_orderkey") + lit(k * ok)).as("l_orderkey"),
      (col("l_partkey") + lit(k * pk)).as("l_partkey"),
      (col("l_suppkey") + lit(k * sk)).as("l_suppkey"), col("l_quantity"),
      (col("l_extendedprice") + lit(k * 0.01)).as("l_extendedprice")))
    writeReplicas(dir10, "part", 8)(k =>
      pt.select((col("p_partkey") + lit(k * ptk)).as("p_partkey")))
  }

  /** Writes the other 10× tables; returns (documents, embeddings, doc-id
   * stride). Replica 0 keeps the input's ids. */
  private def writeSf1Tables(spark: SparkSession, sfDir: String,
      dir10: String): (Long, Long, Long) = {
    def write(df: DataFrame, table: String): Unit =
      df.repartition(16).write.mode("overwrite").parquet(s"$dir10/$table.parquet")
    // suffixed tokens: replicas keep the dup structure, share no shingles
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docStride = maxIdOrZero(docs, "doc_id") + 1L
    writeReplicas(dir10, "documents", 16)(k => docs.select(
      (col("doc_id") + lit(k * docStride)).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", "$1_" + k).as("text"), col("lang"), col("source")))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecStride = maxIdOrZero(embs, "vec_id") + 1L
    writeReplicas(dir10, "embeddings", 16)(k => embs.select(
      (col("vec_id") + lit(k * vecStride)).as("vec_id"),
      transform(col("embedding"), v => (v + lit(k * 1e-3f)).cast("float")).as("embedding"),
      col("label")))
    // d15 pins c_custkey <= 400: those names × 10, one-char suffixed
    write(spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") <= 400).select(col("c_custkey"), col("c_name"))
      .crossJoin(spark.range(10).select(col("id").as("k")))
      .select((col("c_custkey") + col("k") * 1000L).as("id"),
        concat(col("c_name"), lit("_"), col("k")).as("nm")), "fuzzy_names")
    // 20 hot prefix blocks, sparse matches (1% twins): streaming ER's regime
    write(spark.range(48000).select(col("id"),
      format_string("BLK%04d---- %s%d", expr("(id div 2) % 20"),
        expr("substr(md5(concat('t:', CAST(CASE WHEN (id div 2) % 100 = 0 " +
          "THEN id div 2 ELSE id END AS STRING))), 1, 20)"),
        expr("id % 2")).as("nm")), "er_sep_names")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val uStride = maxIdOrZero(ev, "user_id") + 1L
    val eStride = maxIdOrZero(ev, "event_id") + 1L
    writeReplicas(dir10, "events", 16)(k => ev.select(
      (col("event_id") + lit(k * eStride)).as("event_id"), col("ts"),
      (col("user_id") + lit(k * uStride)).as("user_id"),
      col("event_type"), col("value"), col("props")))
    import spark.implicits._
    write(spark.range(20000).as[Long].map(mkImageRecord _).toDF(), "media")
    write(spark.range(20000).as[Long].map(mkAudioRecord _).toDF(), "audio")
    (spark.read.parquet(s"$dir10/documents.parquet").count(),
      spark.read.parquet(s"$dir10/embeddings.parquet").count(), docStride)
  }

  /** Runs one family in a fresh session: canaries keyed by its first label,
   * the setup, then each row; a failure records -1 and the run goes on. */
  private def runFamily(cpus: Int, dir10: String, rows: Seq[Row],
      setup: SparkSession => Unit, out: Sf1Out): Unit = {
    def logged(what: String)(body: => Unit): Boolean =
      try { body; true } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 $what FAILED: ${e.getMessage}"); false
      }
    def failed(label: String): Unit = {
      out.walls += (label -> "-1"); out.ratios += (label -> "-1")
      out.samples += (label -> "[-1]")
    }
    def measure(label: String, once: Boolean)(body: => Unit): Unit = {
      System.err.println(s"[bench] sf1 probe $label")
      if (!logged(label) {
        var samples = List.fill(if (once) 1 else 2)(timed(body))
        def walls = samples.map(_._1)
        while (!once && samples.size < 4 && walls.sum < 20.0 && walls.max > walls.min * 1.3)
          samples :+= timed(body)
        val (w, c) = samples.minBy(_._1)
        out.walls += (label -> w.toString)
        out.ratios += (label -> f2(c / w))
        out.samples += (label -> jsonArr(walls))
      }) failed(label)
    }
    val ps = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    ps.sparkContext.setLogLevel("ERROR")
    try {
      logged("family canary") {
        out.canaries += (s"${rows.head.label}__ckpt" -> f2(ckptCanary(ps)))
        out.canaries += (s"${rows.head.label}__cpu" -> f2(cpuCanary()))
      }
      logged("family setup")(setup(ps))
      rows.foreach {
        case Query(_, label, id) =>
          measure(label, once = false)(SparkEntry.queries(id)(ps, dir10).count())
        case Probe(_, label, build, once) => measure(label, once)(build(ps).count())
        case SinkBatches(_, label, open) =>
          val opened = logged(label)(open(ps).foreach {
            case (l, step) => measure(l, once = true)(step())
          })
          if (!opened) failed(label)
      }
    } finally {
      ps.stop()
      System.gc()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm codegen, parquet footers and the JIT before anything is timed
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    val cpuPreRaw = Seq.fill(3)(cpuCanary())
    // one untimed ckpt run first: the first after idle pays cold setup (2-4×)
    ckptCanary(spark)
    val ckptPreRaw = Seq.fill(3)(ckptCanary(spark))
    val schedPreRaw = Seq.fill(3)(schedCanary(spark))
    val (cpuPre, ckptPre) = (cpuPreRaw.min, ckptPreRaw.min)
    val schedPreMed = canaryMedian(schedPreRaw)
    System.err.println(s"[bench] canary pre: cpu=${f2(cpuPre)}s " +
      s"ckpt=${f2(ckptPre)}s sched=${f2(schedPreMed)}ms/job")
    // A degraded window (ckpt 1.06 s against 0.54 read checkpoint-heavy walls
    // 1.5-2.3× slow) must not make the committed artifact: with the gate set,
    // the pre canary aborts (rc=3) and the post one demotes the artifact.
    val requireCkpt = sys.env.get("SPARK_GRAFT_REQUIRE_CKPT_SEC")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
    val ckptPreMed = canaryMedian(ckptPreRaw)
    requireCkpt.foreach { thr =>
      if (ckptPreMed > thr) {
        System.err.println(f"[bench] ckpt canary median ${ckptPreMed}%.2f s (samples " +
          f"${ckptPreRaw.map(f2).mkString(",")}) exceeds required $thr%.2f s — degraded " +
          "host window, aborting (retry in a later window)")
        println(s"""{"metric":"aborted_degraded_window","canary_ckpt_median":${f2(ckptPreMed)},"canary_ckpt":${f2(ckptPre)},"required":$thr}""")
        spark.stop()
        sys.exit(3)
      }
    }

    // Batch spine: the reference's E1 chain (BASELINE.md) over generated
    // envelopes, before the loop's block crowding; untimed JIT run, min of 3.
    val spineN = 20000
    val (spineRate, spineCpuRatio) = {
      import spark.implicits._
      val docs = graft.sources.EnvelopeGenerator.generate(spineN).toDF("value")
        .select(col("value").cast("binary").as("value"))
      def spine(): Unit = graft.ops.Transforms.etlSpine(docs, graft.queries.Tables.AsOfDate)
        .count()
      spine()
      val (w, c) = (1 to 3).map(_ => timed(spine())).minBy(_._1)
      (spineN / w, c / w)
    }
    System.err.println(s"[bench] spine_eps=${spineRate.round} " +
      s"(pre-loop, cpu/wall ${f2(spineCpuRatio)})")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()

    // Min of 2 samples (3 under 5 s) with CPU seconds and CPU/wall: steal
    // bursts collapse the ratio, and degraded IO inflates walls, not CPU.
    var failed = List.empty[String]
    var sinceGc = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      System.err.println(s"[bench] running $name")
      // earlier queries' blocks are dead (no query shares a relation); left
      // to driver GC they inflated later walls 3× (d4: 14.6 s against 4.4 s)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      sinceGc += 1
      if (sinceGc >= 8) { sinceGc = 0; System.gc() }
      def run(first: Boolean): Option[(Double, Double)] =
        try Some(timed(fn(spark, sfDir).count()))
        catch { case e: Throwable =>
          if (first) failed ::= name
          System.err.println(s"[bench] $name " + (if (first) "FAILED" else
            "re-run failed (keeping completed samples)") + s": ${e.getMessage}")
          None
        }
      run(first = true) match {
        case None => (name, -1.0, -1.0, -1.0)
        case Some((w1, c1)) =>
          val extras = (1 to (if (w1 < 5.0) 2 else 1)).flatMap(_ => run(first = false))
          val (bestW, bestC) = ((w1, c1) +: extras).minBy(_._1)
          (name, bestW, if (bestW > 0) bestC / bestW else -1.0, bestC)
      }
    }
    val qs = jsonMap(results.map(r => r._1 -> r._2.toString))
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // post-loop canaries expose drift within the run
    val cpuPost = Seq.fill(2)(cpuCanary()).min
    val ckptPostRaw = Seq.fill(3)(ckptCanary(spark))
    val schedPostRaw = Seq.fill(3)(schedCanary(spark))
    val (ckptPost, ckptPostMed) = (ckptPostRaw.min, canaryMedian(ckptPostRaw))
    val schedPostMed = canaryMedian(schedPostRaw)
    System.err.println(s"[bench] canary post: cpu=${f2(cpuPost)}s " +
      s"ckpt=${f2(ckptPost)}s (median ${f2(ckptPostMed)}) " +
      s"sched=${f2(schedPostMed)}ms/job")
    val sf1Mode = sys.env.getOrElse("SPARK_GRAFT_SF1_DEDUP", "auto")
    val runSf1 = sf1Mode == "1" || (sf1Mode == "auto" && sfDir.contains("sf0.1"))
    val sf1 = new Sf1Out
    val (sf1Docs, sf1Vecs) = if (!runSf1) (0L, 0L) else {
      val dir10 = Paths.get("target", "bench_sf1").toAbsolutePath.toString
      val (nDocs, nVecs, docStride) = writeSf1Tables(spark, sfDir, dir10)
      spark.stop()
      System.gc()
      val (rows, setups) = sf1Table(sfDir, dir10, docStride, sf1)
      rows.map(_.family).distinct.foreach { fam =>
        System.err.println(s"[bench] sf1 family $fam")
        runFamily(cpus, dir10, rows.filter(_.family == fam),
          setups.getOrElse(fam, (_: SparkSession) => ()), sf1)
      }
      (nDocs, nVecs)
    }
    val sf1Fields = if (!runSf1) "" else s""","sf1_dedup":${jsonMap(sf1.walls)},"sf1_dedup_cpu_per_wall":${jsonMap(sf1.ratios)},"sf1_dedup_samples":${jsonMap(sf1.samples)},"sf1_canaries":${jsonMap(sf1.canaries)},"sf1_bytes":${jsonMap(sf1.bytes)},"sf1_docs":$sf1Docs,"sf1_vecs":$sf1Vecs"""

    val canaryJson = jsonMap(Seq(
      "cpu_sec" -> f2(cpuPre), "cpu_samples" -> jsonArr(cpuPreRaw),
      "ckpt_sec" -> f2(ckptPre), "ckpt_median" -> f2(ckptPreMed),
      "ckpt_median_post" -> f2(ckptPostMed), "ckpt_samples" -> jsonArr(ckptPreRaw),
      "cpu_sec_post" -> f2(cpuPost), "ckpt_sec_post" -> f2(ckptPost),
      "sched_ms_per_job" -> f2(schedPreMed), "sched_samples" -> jsonArr(schedPreRaw),
      "sched_ms_per_job_post" -> f2(schedPostMed),
      "sched_samples_post" -> jsonArr(schedPostRaw)))
    val ratios = jsonMap(results.map(r => r._1 -> f2(r._3)))
    val cpuSecsJson = jsonMap(results.map(r => r._1 -> f2(r._4)))
    val line = s"""{"metric":"total","value":$total,"unit":"sec","canary":$canaryJson,"queries":$qs,"failed":$fs,"cpu_per_wall":$ratios,"queries_cpu_sec":$cpuSecsJson,"spine_envelopes_per_sec":${spineRate.round},"spine_cpu_per_wall":${f2(spineCpuRatio)}$sf1Fields,"sf":"$sfDir"}"""
    // a tail capture of stdout can truncate the full line
    val bytes = (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.write(Files.createDirectories(Paths.get("target")).resolve("bench.json"), bytes)
    val fullPath =
      if (requireCkpt.exists(thr => ckptPostMed > thr)) {
        System.err.println(f"[bench] POST ckpt canary median ${ckptPostMed}%.2f s (samples " +
          f"${ckptPostRaw.map(f2).mkString(",")}) exceeds the required window — demoting " +
          "artifact to BENCH_DEGRADED.json (the committed baseline is untouched)")
        "BENCH_DEGRADED.json"
      } else "BENCH_FULL.json"
    Files.write(Paths.get(fullPath), bytes)
    // headline sf1 minimums, topped up with the first completed probes
    val headline = Seq("d15_fuzzy_bidir", "pipe1_curation_report", "graph1_pagerank",
      "ann_sp18_kcenter_n1000", "d27_winnow_fps", "d28_winnow_pairs")
    val sf1Completed = sf1.walls.toList.filter(_._2 != "-1")
    val sf1MinCompact = jsonMap(
      (sf1Completed.filter(kv => headline.contains(kv._1)) ++ sf1Completed)
        .distinctBy(_._1).take(8)
        .map { case (k, v) => k -> (try f2(v.toDouble) catch { case _: Throwable => v }) })
    val compact = s"""{"metric":"total","value":${f2(total)},"unit":"sec","n_queries":${results.size},"failed":$fs,"sf1_min":$sf1MinCompact,"canary_cpu":${f2(cpuPre)},"canary_ckpt":${f2(ckptPre)},"spine_eps":${spineRate.round},"full":"target/bench.json","sf":"$sfDir"}"""
    // stop Spark first so no shutdown logging can land after the lines
    spark.stop()
    println(line)
    println(compact)
    System.out.flush()
  }
}
