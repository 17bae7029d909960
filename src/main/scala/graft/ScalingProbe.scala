package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the dedup tier — the measurement behind the
  * 100 TB claims in SURVEY/PLANS: replicate the sf0.1 document corpus at
  * 1×/4×/16×, keeping the NEAR-DUP RATE constant (each replica's tokens are
  * scrambled with a replica tag at odd positions, so replicas share no
  * 3-shingles and the only near-dup mass is the per-replica planted one),
  * then time the declared exact-dedup (q40), LSH near-dup (q41), and
  * incremental-dedup (q90) pipelines on each corpus. A pipeline that is
  * quadratic anywhere shows a superlinear column immediately; the banded
  * design should hold sec/doc roughly flat.
  *
  * Second curve (round 8): FULL vs INCREMENTAL compaction over the same
  * corpus sizes with a FIXED-size appended delta — full-rewrite cost must
  * grow with the corpus while the watermarked incremental rewrite stays
  * ~flat (delta-proportional), which is the whole design claim of
  * `GraftCatalog.compactTableIncremental`.
  *
  *   sbt "runMain graft.ScalingProbe"      # writes SCALING.md
  */
/** Accumulates shuffle-write and input bytes across completed stages —
  * the "what moved" counters behind SCALING.md's shuffle-shape section.
  */
final class ShapeMetricsListener
    extends org.apache.spark.scheduler.SparkListener {
  private val shuffleWrite = new java.util.concurrent.atomic.LongAdder
  private val input = new java.util.concurrent.atomic.LongAdder

  override def onStageCompleted(
      e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    val tm = e.stageInfo.taskMetrics
    if (tm != null) {
      shuffleWrite.add(tm.shuffleWriteMetrics.bytesWritten)
      input.add(tm.inputMetrics.bytesRead)
    }
  }

  /** (total shuffle bytes written, total input bytes read) so far. */
  def snapshot(): (Long, Long) = (shuffleWrite.sum, input.sum)
}

object ScalingProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${math.min(32, Runtime.getRuntime.availableProcessors())}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage-metric accumulator for the shuffle-shape section: bytes
    // shuffled and read per measured run (snapshot deltas around each)
    val probeMetrics = new ShapeMetricsListener
    spark.sparkContext.addSparkListener(probeMetrics)

    val base = Tables.documents(spark, sfDir)
    // warmup (session + codegen + per-query planning off the clock): run
    // each measured pipeline once untimed on the raw corpus — without this
    // the 1x row absorbs all first-run costs and fakes a sublinear curve
    base.count()
    Seq("q40_dedup_exact", "q41_neardup_minhash", "q90_incremental_dedup",
      "q132_span_dedup", "q133_shard_pack", "q139_boilerplate",
      "q140_bloom_decontam")
      .foreach { q =>
        graft.pipeline.PipelineQueries.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }
    spark.catalog.clearCache()

    val rows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_$mult"
      val docs = (0 until mult).map { i =>
        base.select(
          (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          // odd-position tokens get a replica tag: replicas stay pairwise
          // non-near-dup (every 3-shingle crosses an odd position), so the
          // near-dup workload scales linearly with the corpus by design
          array_join(
            expr(s"transform(split(text, ' '), (x, i) -> " +
              s"IF(i % 2 = 1, concat(x, '_r$i'), x))"), " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nDocs = mult * 5000L

      // min of three runs per cell: the box shows sporadic multi-second
      // stalls (see BENCH history) that would otherwise fake superlinearity
      // — an r9 probe caught BOTH of two 16x q41 runs stalled (28.9 s
      // recorded where three fresh runs measured 2.1–4.9 s, with linear
      // candidate-pair counts proving the work itself scales), so two
      // samples are not enough for the largest cells
      def time(name: String): Double = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.pipeline.PipelineQueries.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val t40 = time("q40_dedup_exact")
      val t41 = time("q41_neardup_minhash")
      val t90 = time("q90_incremental_dedup")
      val t132 = time("q132_span_dedup")
      val t133 = time("q133_shard_pack")
      val t139 = time("q139_boilerplate")
      val t140 = time("q140_bloom_decontam")
      spark.catalog.clearCache() // per-size caches must not subsidize the next size
      println(f"mult=$mult%2d docs=$nDocs%6d q40=$t40%6.2f q41=$t41%6.2f " +
        f"q90=$t90%6.2f q132=$t132%6.2f q133=$t133%6.2f q139=$t139%6.2f " +
        f"q140=$t140%6.2f")
      (mult, nDocs, t40, t41, t90, t132, t133, t139, t140)
    }

    // ---- shuffle/input SHAPE of the pipeline tier -----------------------
    // Wall time shows the trend but not the MECHANISM; the listener-backed
    // byte counters show WHAT moved. One clean run per (query, size):
    // shuffle bytes written + input bytes read across all its stages.
    // Shapes under a corpus that grows 1x -> 16x:
    //   q132 span inventory:   shuffle ∝ corpus (8-byte span keys + the
    //                          hash-partitioned join-back) — LINEAR is the
    //                          design; quadratic would blow up here first
    //   q133 shard packing:    shuffle ~FLAT (two-level prefix sum ships
    //                          per-partition token summaries, not docs)
    //   q139 boilerplate:      shuffle ∝ corpus (per-(domain, line-hash)
    //                          counts; CCNet's aggregation is line-keyed)
    //   q140 bloom decontam:   shuffle ~FLAT (only the eval set exchanges;
    //                          the corpus is gated map-side by the bloom)
    val shapeQueries = Seq("q132_span_dedup", "q133_shard_pack",
      "q139_boilerplate", "q140_bloom_decontam")
    val shapeRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_$mult"
      val cells = shapeQueries.map { name =>
        spark.catalog.clearCache()
        org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
        val before = probeMetrics.snapshot()
        graft.pipeline.PipelineQueries.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
        val after = probeMetrics.snapshot()
        (after._1 - before._1, after._2 - before._2) // (shuffle, input)
      }
      println(s"shape mult=$mult " + shapeQueries.zip(cells).map {
        case (q, (s, i)) => f"$q=${s / 1e6}%.1f/${i / 1e6}%.1fMB"
      }.mkString(" "))
      (mult, mult * 5000L, cells)
    }

    // ---- incremental vs full compaction over the same corpus sizes ------
    import graft.sources.GraftCatalog
    import graft.sources.CompactionRunner.DataFileTask
    def parquetsIn(d: String): Seq[String] =
      graft.sources.CompactionRunner.listParquet(d)
    val compRows = Seq(1, 4, 16).map { mult =>
      val corpus = spark.read.parquet(s"/tmp/graft_scale_$mult/documents.parquet")
      // fixed-size delta regardless of corpus size: ids disjoint from the corpus
      val delta = corpus.limit(500)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      // min of two fully fresh catalog builds per cell (stall tolerance,
      // and compaction is stateful so reruns need their own chain)
      def cell(run: Int): (Double, Double) = {
        val dir = s"/tmp/graft_scale_comp_${mult}_$run"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        corpus.repartition(8 * mult).write.mode("overwrite").parquet(s"$dir/base")
        delta.repartition(4).write.mode("overwrite").parquet(s"$dir/delta")
        val cat = new GraftCatalog(s"$dir/cat")
        cat.createTable("t", parquetsIn(s"$dir/base").map(DataFileTask(_, 1L)))
        val t0 = System.nanoTime()
        cat.compactTable(spark, "t", s"$dir/full") // full rewrite ∝ corpus
        val tFull = (System.nanoTime() - t0) / 1e9
        cat.commitRewrite("t",
          parquetsIn(s"$dir/delta").map(DataFileTask(_, 3L)), Nil)
        val t1 = System.nanoTime()
        cat.compactTableIncremental(spark, "t", s"$dir/inc") // ∝ delta
        val tInc = (System.nanoTime() - t1) / 1e9
        (tFull, tInc)
      }
      val cells = Seq(cell(1), cell(2))
      val tFull = cells.map(_._1).min
      val tInc = cells.map(_._2).min
      println(f"compaction mult=$mult%2d full=$tFull%6.2f incremental=$tInc%6.2f")
      (mult, mult * 5000L, tFull, tInc)
    }

    // ---- stats-pruned vs full catalog scan over growing clustered tables -
    // A FIXED narrow doc_id range is probed as the table grows; the full
    // filter scan must touch every file (cost ∝ corpus) while the
    // stats-pruned scan touches only the intersecting clustered files
    // (cost ~flat) — the catalog-pruning design claim measured.
    import graft.sources.CompactionRunner.CompactionConfig
    val pruneRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_prune_$mult"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val corpus = spark.read.parquet(s"/tmp/graft_scale_$mult/documents.parquet")
      corpus.repartition(8).write.mode("overwrite").parquet(s"$dir/base")
      val cat = new GraftCatalog(s"$dir/cat")
      cat.createTable("t", parquetsIn(s"$dir/base").map(DataFileTask(_, 1L)))
      cat.compactTable(spark, "t", s"$dir/out",
        CompactionConfig(targetPartitions = 8 * mult,
          clusterBy = Seq("doc_id"), statsCols = Seq("doc_id")))
      def time(mk: => org.apache.spark.sql.DataFrame): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        mk.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val tFull = time(cat.scanTable(spark, "t")
        .filter(col("doc_id") >= 0 && col("doc_id") <= 499))
      val tPruned = time(cat.scanTableWhere(spark, "t", "doc_id", 0, 499))
      val filesScanned = cat.scanTableWhere(spark, "t", "doc_id", 0, 499)
        .inputFiles.length
      val filesTotal = cat.loadTable("t").size
      println(f"prune mult=$mult%2d files=$filesScanned/$filesTotal " +
        f"full=$tFull%6.2f pruned=$tPruned%6.2f")
      (mult, filesScanned, filesTotal, tFull, tPruned)
    }

    // ---- bloom-pruned point probe over growing UNCLUSTERED tables -------
    // A content-hash point lookup as the table grows round-robin: every
    // file's [min,max] straddles every probe (stats prune nothing), so the
    // full filter scan costs ∝ corpus while the bloom-pruned probe opens
    // only the files whose filters fire (~flat) — the sidecar design claim
    // measured.
    val bloomRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_bloom_$mult"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val corpus = spark.read
        .parquet(s"/tmp/graft_scale_$mult/documents.parquet")
        .withColumn("fp", md5(col("text")))
      corpus.repartition(8 * mult).write.mode("overwrite")
        .parquet(s"$dir/base")
      val cat = new GraftCatalog(s"$dir/cat")
      cat.createTable("t", parquetsIn(s"$dir/base").map(DataFileTask(_, 1L)))
      cat.recordBloomFilter(spark, "t", "fp",
        expectedItemsPerFile = 20000L, fpp = 0.01)
      val probe = corpus.filter(col("doc_id") === 42L)
        .select(col("fp")).head().getString(0)
      def time(mk: => org.apache.spark.sql.DataFrame): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        mk.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val tFull = time(cat.scanTable(spark, "t").filter(col("fp") === probe))
      val tBloom = time(cat.scanTableWhereEqString(spark, "t", "fp", probe))
      val kept = cat.eqStringKeptEntries(spark, "t", "fp", probe).size
      val total = cat.loadTable("t").size
      println(f"bloom mult=$mult%2d files=$kept/$total " +
        f"full=$tFull%6.2f bloom=$tBloom%6.2f")
      (mult, kept, total, tFull, tBloom)
    }

    // ---- group-filtered copy-on-write DML over a growing table ----------
    // A FIXED narrow DELETE (id range + modulo, untranslatable to source
    // filters -> row-level copy-on-write) against a range-clustered table
    // that grows 1x -> 16x. Runtime group filtering must confine the
    // rewrite to the files containing matching rows, so FILES REPLACED
    // stays ~flat while the table grows — without it every statement
    // would rewrite all 8x-mult files.
    val cowRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_cow_$mult"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val corpus = spark.read.parquet(s"/tmp/graft_scale_$mult/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      corpus.repartitionByRange(8 * mult, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val cat = new GraftCatalog(s"$dir/cat")
      cat.createTable("t", parquetsIn(s"$dir/base").map(DataFileTask(_, 1L)))
      // compact range-clustered WITH per-file doc_id stats: the runtime
      // group-filtering subquery's BETWEEN then routes through the
      // stats-pruned scan (r11's 16x watch item — the subquery used to
      // scan ∝ table because the staged entries carried no bounds)
      cat.compactTable(spark, "t", s"$dir/staged",
        CompactionConfig(targetPartitions = 8 * mult,
          clusterBy = Seq("doc_id"), statsCols = Seq("doc_id")))
      val g = s"gcow$mult"
      spark.conf.set(s"spark.sql.catalog.$g",
        "graft.sources.dsv2.GraftSparkCatalog")
      spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
      val before = cat.loadEntries("t").filter(_.kind == "data")
        .map(_.path).toSet
      val t0 = System.nanoTime()
      spark.sql(s"DELETE FROM $g.t WHERE doc_id % 2 = 0 " +
        "AND doc_id BETWEEN 100 AND 600")
      val sec = (System.nanoTime() - t0) / 1e9
      val after = cat.loadEntries("t").filter(_.kind == "data")
        .map(_.path).toSet
      val replaced = (before -- after).size
      println(f"cow mult=$mult%2d replaced=$replaced/${before.size} sec=$sec%6.2f")
      (mult, replaced, before.size, sec)
    }

    // ---- DSv2 doorway read vs library scan over a growing table ---------
    // The serving-shape claim: the doorway (spark.sql over the mounted
    // catalog, rows served through per-group lazy file-task partitions)
    // must cost the same as the library scan it wraps — wall time AND
    // bytes read — and a narrow range predicate must prune files through
    // the doorway exactly like the library's scanTableWhere (input bytes
    // ~flat while the table grows 16x).
    val doorRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_door_$mult"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val corpus = spark.read.parquet(s"/tmp/graft_scale_$mult/documents.parquet")
        .select(col("doc_id"), col("n_chars"), col("text"))
      corpus.repartitionByRange(8 * mult, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val cat = new GraftCatalog(s"$dir/cat")
      cat.createTable("t", parquetsIn(s"$dir/base").map(DataFileTask(_, 1L)))
      cat.compactTable(spark, "t", s"$dir/staged",
        CompactionConfig(targetPartitions = 8 * mult,
          clusterBy = Seq("doc_id"), statsCols = Seq("doc_id")))
      val g = s"gdoor$mult"
      spark.conf.set(s"spark.sql.catalog.$g",
        "graft.sources.dsv2.GraftSparkCatalog")
      spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
      def cell(mk: => org.apache.spark.sql.DataFrame): (Double, Long) = {
        val runs = (1 to 2).map { _ =>
          val (_, in0) = probeMetrics.snapshot()
          val t0 = System.nanoTime()
          mk.write.mode("overwrite").format("noop").save()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // listener drain
          val (_, in1) = probeMetrics.snapshot()
          (sec, in1 - in0)
        }
        runs.minBy(_._1)
      }
      val (doorFullS, doorFullB) = cell(
        spark.sql(s"SELECT sum(n_chars) AS s, count(*) AS n FROM $g.t"))
      val (libFullS, libFullB) = cell(
        cat.scanTable(spark, "t").agg(sum(col("n_chars")), count(lit(1))))
      val (doorNarrowS, doorNarrowB) = cell(
        spark.sql(s"SELECT sum(n_chars) AS s FROM $g.t " +
          "WHERE doc_id BETWEEN 100 AND 600"))
      val (libNarrowS, libNarrowB) = cell(
        cat.scanTableWhere(spark, "t", "doc_id", 100, 600)
          .agg(sum(col("n_chars"))))
      println(f"door mult=$mult%2d full door=$doorFullS%5.2fs/${doorFullB / 1e6}%.1fMB " +
        f"lib=$libFullS%5.2fs/${libFullB / 1e6}%.1fMB narrow door=$doorNarrowS%5.2fs/" +
        f"${doorNarrowB / 1e6}%.1fMB lib=$libNarrowS%5.2fs/${libNarrowB / 1e6}%.1fMB")
      (mult, doorFullS, doorFullB, libFullS, libFullB,
        doorNarrowS, doorNarrowB, libNarrowS, libNarrowB)
    }

    // ---- storage-partitioned join vs shuffle join (co-bucketed doorway) -
    // Two doorway tables PARTITIONED BY (bucket(8, doc_id)) over the same
    // growing corpus, joined on doc_id with broadcast disabled. With SPJ
    // on, the scans report KeyGroupedPartitioning and the join plans
    // WITHOUT an exchange — join shuffle bytes must stay ~zero while the
    // shuffle-join baseline moves both tables.
    val spjRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_spj_$mult"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val g = s"gspj$mult"
      spark.conf.set(s"spark.sql.catalog.$g",
        "graft.sources.dsv2.GraftSparkCatalog")
      spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
      spark.sql(s"CREATE TABLE $g.a (doc_id BIGINT, n_chars BIGINT) " +
        "PARTITIONED BY (bucket(8, doc_id))")
      spark.sql(s"CREATE TABLE $g.b (doc_id BIGINT, lang STRING) " +
        "PARTITIONED BY (bucket(8, doc_id))")
      spark.read.parquet(s"/tmp/graft_scale_$mult/documents.parquet")
        .createOrReplaceTempView(s"spj_src_$mult")
      spark.sql(s"INSERT INTO $g.a SELECT doc_id, n_chars FROM spj_src_$mult")
      spark.sql(s"INSERT INTO $g.b SELECT doc_id, lang FROM spj_src_$mult")
      def cell(spj: Boolean): (Double, Long) = {
        val olds = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
          .map(k => k -> spark.conf.getOption(k))
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", spj.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try {
          val runs = (1 to 2).map { _ =>
            val (s0, _) = probeMetrics.snapshot()
            val t0 = System.nanoTime()
            spark.sql(s"SELECT a.doc_id, a.n_chars, b.lang " +
              s"FROM $g.a a JOIN $g.b b ON a.doc_id = b.doc_id")
              .write.mode("overwrite").format("noop").save()
            val sec = (System.nanoTime() - t0) / 1e9
            org.apache.spark.sql.graftbridge.ListenerBridge
              .drain(spark.sparkContext)
            val (s1, _) = probeMetrics.snapshot()
            (sec, s1 - s0)
          }
          runs.minBy(_._1)
        } finally olds.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }
      }
      val (spjS, spjB) = cell(spj = true)
      val (shufS, shufB) = cell(spj = false)
      println(f"spj mult=$mult%2d spj=$spjS%5.2fs/${spjB / 1e6}%.1fMB " +
        f"shuffle=$shufS%5.2fs/${shufB / 1e6}%.1fMB")
      (mult, spjS, spjB, shufS, shufB)
    }

    // ---- keyed serving vs spec WIDTH (one-plan regroup) ------------------
    // Fixed corpus (4x = 20k docs), co-bucketed pairs at widening specs —
    // bucket(8) -> bucket(1024). Per-tuple planning costs O(width ×
    // Catalyst); the one-plan regroup plans each scan ONCE and slices its
    // file partitions tuple-pure, so SPJ wall time must stay ~flat as the
    // spec widens, every keyed read must take the one-plan path (counters),
    // and join-side shuffle bytes stay zero. The width-256 pair then takes
    // a pending MoR DELETE — the layout must survive it (row-local
    // deletes), still exchange-free, still zero join shuffle.
    import graft.sources.dsv2.GraftKeyedServing
    val widthRows = Seq(8, 256, 1024).map { w =>
      val dir = s"/tmp/graft_scale_spjw_$w"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val g = s"gspjw$w"
      spark.conf.set(s"spark.sql.catalog.$g",
        "graft.sources.dsv2.GraftSparkCatalog")
      spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
      spark.sql(s"CREATE TABLE $g.a (doc_id BIGINT, n_chars BIGINT) " +
        s"PARTITIONED BY (bucket($w, doc_id)) " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      spark.sql(s"CREATE TABLE $g.b (doc_id BIGINT, lang STRING) " +
        s"PARTITIONED BY (bucket($w, doc_id))")
      spark.sql(s"INSERT INTO $g.a SELECT doc_id, n_chars FROM spj_src_4")
      spark.sql(s"INSERT INTO $g.b SELECT doc_id, lang FROM spj_src_4")
      def cell(): (Double, Long, Long) = {
        val olds = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
          .map(k => k -> spark.conf.getOption(k))
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try {
          val runs = (1 to 2).map { _ =>
            val (s0, _) = probeMetrics.snapshot()
            val one0 = GraftKeyedServing.onePlanServed.get()
            val t0 = System.nanoTime()
            spark.sql(s"SELECT a.doc_id, a.n_chars, b.lang " +
              s"FROM $g.a a JOIN $g.b b ON a.doc_id = b.doc_id")
              .write.mode("overwrite").format("noop").save()
            val sec = (System.nanoTime() - t0) / 1e9
            org.apache.spark.sql.graftbridge.ListenerBridge
              .drain(spark.sparkContext)
            val (s1, _) = probeMetrics.snapshot()
            (sec, s1 - s0, GraftKeyedServing.onePlanServed.get() - one0)
          }
          runs.minBy(_._1)
        } finally olds.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }
      }
      val (sec, bytes, onePlan) = cell()
      require(onePlan > 0,
        s"width-$w keyed read must take the one-plan path (it is the " +
          "ONLY keyed path since the fallback retirement)")
      val withDel = if (w == 256) {
        // untranslatable predicate -> pending MoR position delete
        spark.sql(s"DELETE FROM $g.a WHERE doc_id % 10 = 4")
        Some(cell())
      } else None
      withDel.foreach(d => require(d._3 > 0,
        "the pending-delete keyed read must stay one-plan-served"))
      println(f"spjw width=$w%4d spj=$sec%5.2fs/${bytes / 1e6}%.1fMB " +
        f"onePlan=$onePlan" +
        withDel.fold("")(d => f" +del=${d._1}%5.2fs/${d._2 / 1e6}%.1fMB " +
          f"onePlan=${d._3}"))
      (w, sec, bytes, onePlan, withDel)
    }

    // ---- vectorized eq-delete reads on an upserted table (round 14) -----
    // A continuously-upserted table holds pending EQUALITY deletes between
    // compactions (the CDC norm; the reference's core delete path). r13
    // dropped every such read to the row-based anti join; r14's masked
    // columnar eq probe keeps the read vectorized. Measure the full read
    // masked vs with the mask force-disabled (the row anti join serves)
    // on growing corpora: the masked read should track the plain columnar
    // scan while the row path pays join + row materialization per read.
    val eqMaskRows = Seq(1, 4, 16).map { mult =>
      val dir = s"/tmp/graft_scale_eqmask_$mult"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val g = s"geqm$mult"
      spark.conf.set(s"spark.sql.catalog.$g",
        "graft.sources.dsv2.GraftSparkCatalog")
      spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
      spark.sql(s"CREATE TABLE $g.t (doc_id BIGINT, n_chars BIGINT)")
      // synthetic rows at REAL scan sizes (1M -> 16M rows): the document
      // corpus tops out at 80k rows, where both dispositions finish in
      // hundredths of a second and the comparison measures nothing
      spark.sql(s"INSERT INTO $g.t SELECT id, id * 7 FROM " +
        s"range(0, ${mult}000000L)")
      // key-equality DELETEs take the eq-delete fast path: two pending
      // eq-delete files, no compaction — the between-compactions read.
      // 100k pending keys (r14 measured 65, which barely exercised the
      // probe): the per-row verdict now binary-searches a 100k-entry
      // sorted long array — the single-integral-key fast path — so this
      // measures the probe at a realistic CDC delete cardinality
      val keyDf = spark.range(0, 100000).selectExpr("id * 9 + 1 AS doc_id")
      new GraftCatalog(s"$dir/cat").deleteWhereEq(spark, "t", keyDf,
        s"$dir/eqdel-bulk")
      spark.sql(s"DELETE FROM $g.t WHERE doc_id = 2")
      require(new GraftCatalog(s"$dir/cat").loadEntries("t")
        .exists(_.kind == "eqdel"), "eq-mask probe fixture must hold eq-deletes")
      def run(): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT doc_id, n_chars FROM $g.t")
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val eq0 = graft.sources.dsv2.GraftColumnarMask.maskedEqServed.get()
      val masked = run()
      require(graft.sources.dsv2.GraftColumnarMask.maskedEqServed.get() > eq0,
        "the eq-mask probe must actually take the masked path")
      graft.sources.dsv2.GraftColumnarMask.disableForProbes = true
      val rowPath =
        try run()
        finally graft.sources.dsv2.GraftColumnarMask.disableForProbes = false
      println(f"eqmask mult=$mult%2d masked=$masked%5.2f rowpath=$rowPath%5.2f")
      (mult, masked, rowPath)
    }

    // ---- metadata-only range delete vs scan-based delete ----------------
    // A FIXED partition-aligned range is deleted from a growing
    // truncate-partitioned table. `deleteWhereRange` proves the drop from
    // snapshot metadata (no scan, no delete file — cost ~flat);
    // `deleteWhere` with the identical predicate scans the table for
    // (file, pos) matches (cost ∝ corpus).
    val delRows = Seq(1, 4, 16).map { mult =>
      def cell(run: Int): (Double, Double) = {
        val dir = s"/tmp/graft_scale_rdel_${mult}_$run"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val corpus = spark.read.parquet(s"/tmp/graft_scale_$mult/documents.parquet")
        corpus.repartition(8).write.mode("overwrite").parquet(s"$dir/base")
        def build(name: String): GraftCatalog = {
          val cat = new GraftCatalog(s"$dir/cat_$name")
          cat.createTable("t", parquetsIn(s"$dir/base").map(DataFileTask(_, 1L)))
          cat.setPartitionSpec("t", Seq(
            GraftCatalog.PartitionFieldDef("dt", "truncate[1000]", "doc_id")))
          cat.compactTable(spark, "t", s"$dir/out_$name",
            CompactionConfig(targetPartitions = 2))
          cat
        }
        val catMeta = build("meta")
        val catScan = build("scan")
        val t0 = System.nanoTime()
        catMeta.deleteWhereRange(spark, "t", "doc_id", 1000, 2999, s"$dir/dA")
        val tMeta = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        catScan.deleteWhere(spark, "t",
          col("doc_id") >= 1000L && col("doc_id") <= 2999L, s"$dir/dB")
        val tScan = (System.nanoTime() - t1) / 1e9
        (tMeta, tScan)
      }
      val cells = Seq(cell(1), cell(2))
      val tMeta = cells.map(_._1).min
      val tScan = cells.map(_._2).min
      println(f"rdel mult=$mult%2d meta=$tMeta%6.2f scan=$tScan%6.2f")
      (mult, tMeta, tScan)
    }

    val sb = new StringBuilder
    sb.append("# SCALING — empirical scaling curve of the dedup tier\n\n")
    sb.append(s"Generated by `graft.ScalingProbe` from $sfDir on local[32].\n")
    sb.append("Corpus replicated with constant near-dup rate (replica-tagged odd\n")
    sb.append("tokens: zero cross-replica 3-shingle overlap), so workload should\n")
    sb.append("scale ~linearly if the banded/keyed designs hold — a quadratic\n")
    sb.append("stage would show sec/doc growing with the multiplier.\n\n")
    sb.append("| mult | docs | q40 exact (s) | q41 LSH near-dup (s) | q90 incremental (s) | q132 span-dedup (s) | q133 shard-pack (s) | q139 boilerplate (s) | q140 bloom-decontam (s) | q41 ms/doc | q132 ms/doc | q139 ms/doc |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|---|---|---|\n")
    rows.foreach { case (m, n, t40, t41, t90, t132, t133, t139, t140) =>
      sb.append(f"| ${m}x | $n | $t40%.2f | $t41%.2f | $t90%.2f | $t132%.2f | " +
        f"$t133%.2f | $t139%.2f | $t140%.2f | ${t41 * 1000 / n}%.2f | " +
        f"${t132 * 1000 / n}%.2f | ${t139 * 1000 / n}%.2f |\n")
    }
    sb.append("\nmin-of-3 wall times (the box shows sporadic multi-second stalls —\n")
    sb.append("an r9 probe caught both of two 16x q41 samples stalled at once);\n")
    sb.append("read the TREND: flat-ish ms/doc = linear scaling, the design claim.\n")

    sb.append("\n## Pipeline-tier shuffle shape (what MOVED, not just how long)\n\n")
    sb.append("Listener-accumulated per-run stage counters: shuffle bytes\n")
    sb.append("written / input bytes read, one clean run per cell. Wall time\n")
    sb.append("can hide a wrong plan behind a fast box; bytes cannot.\n\n")
    sb.append("| mult | docs | q132 shuf/in MB | q133 shuf/in MB | q139 shuf/in MB | q140 shuf/in MB |\n")
    sb.append("|---|---|---|---|---|---|\n")
    shapeRows.foreach { case (m, n, cells) =>
      sb.append(f"| ${m}x | $n |")
      cells.foreach { case (s, i) =>
        sb.append(f" ${s / 1e6}%.1f / ${i / 1e6}%.1f |")
      }
      sb.append("\n")
    }
    def ratio16(idx: Int): (Double, Double) = {
      val c1 = shapeRows.head._3(idx)
      val c16 = shapeRows.last._3(idx)
      (c16._1.toDouble / math.max(c1._1, 1L),
        c16._2.toDouble / math.max(c1._2, 1L))
    }
    val Seq(r132, r139) = Seq(0, 2).map(ratio16)
    val mb133 = shapeRows.last._3(1)._1 / 1e6
    val mb140 = shapeRows.last._3(3)._1 / 1e6
    val in140 = Seq(0, 2).map(i => shapeRows(i)._3(3)._2)
    sb.append(f"""
                 |Claims, against the measured bytes (ratios only where the 1x
                 |baseline is big enough to make a ratio meaningful):
                 |- q132 span inventory: shuffle grows WITH the corpus (${r132._1}%.1fx at
                 |  16x data) — ~linear by design: every span key is counted once in a
                 |  partial+final hash agg and the join-back shares the partitioning;
                 |  a quadratic pairing stage would blow this row up first. The
                 |  modest over-linear excess is partial-agg hash-fallback flushing
                 |  duplicate keys per partition under memory pressure — bounded by
                 |  INPUT size (never pair count), and it shrinks as executors/
                 |  partitions scale with the data.
                 |- q133 shard packing: shuffle stays TINY at every size ($mb133%.1f MB at
                 |  16x, vs q132's ${shapeRows.last._3.head._1 / 1e6}%.1f MB over the same
                 |  corpus) — the two-level prefix sum exchanges per-partition token
                 |  summaries, never documents; no global-window single-reducer.
                 |- q139 boilerplate removal: shuffle grows WITH the corpus (${r139._1}%.1fx)
                 |  — CCNet's per-(domain, line-hash) counts are line-keyed; linear.
                 |- q140 bloom decontamination: corpus rows NEVER shuffle ($mb140%.2f MB
                 |  of shuffle at 16x — eval-set-sized) while input read grows
                 |  ${in140.last / math.max(in140.head, 1L)}%d-fold with the corpus: the
                 |  broadcast bloom gates MAP-SIDE. The zero-corpus-shuffle claim, measured.
                 |""".stripMargin)

    sb.append("\n## Incremental vs full compaction\n\n")
    sb.append("Same corpora; a FIXED 500-doc / 4-file delta appended after the\n")
    sb.append("full compaction, then `compactTableIncremental` (watermark diff).\n")
    sb.append("Full rewrite cost must grow with the corpus; the incremental\n")
    sb.append("rewrite touches only the delta and should stay ~flat — at 100 TB\n")
    sb.append("this difference is the entire point of the watermark.\n\n")
    sb.append("| mult | docs | full compact (s) | incremental compact (s) |\n")
    sb.append("|---|---|---|---|\n")
    compRows.foreach { case (m, n, tF, tI) =>
      sb.append(f"| ${m}x | $n | $tF%.2f | $tI%.2f |\n")
    }
    sb.append("\nmin-of-2 over fully fresh catalog chains per cell.\n")
    sb.append("\n")
    sb.append("Since the compaction-through-scan-state change a catalog compaction\n")
    sb.append("reads the snapshot's delete-masked scan (`GraftScanState`; a `SELECT *`\n")
    sb.append("at the same snapshot leaves no delete file to decode), packs whole input\n")
    sb.append("files by bytes into `targetPartitions` write tasks with no exchange, and\n")
    sb.append("takes each output's counts and bounds from its footer instead of an audit\n")
    sb.append("re-read. On perfbench (traced, seed 1, 4 cpus) `cdc_ingest`'s full\n")
    sb.append("compaction of 86 files fell from 2.92 to 0.86 s and `mor_serve`'s\n")
    sb.append("compaction time (delete-file sweep + `compactTable`) from 4.78 to 2.13 s;\n")
    sb.append("the probe above predates it.\n")

    sb.append("\n## Stats-pruned vs full catalog scan\n\n")
    sb.append("Same corpora, range-clustered into 8×mult files with per-file\n")
    sb.append("doc_id bounds persisted in the snapshot; a FIXED narrow range\n")
    sb.append("(500 ids) probed via `scanTableWhere`. The full filter scan\n")
    sb.append("touches every file (cost grows with the table); the pruned scan\n")
    sb.append("touches only intersecting files and should stay ~flat — the\n")
    sb.append("metadata-vs-scan difference that dominates at 100 TB.\n\n")
    sb.append("| mult | files scanned / total | full filter scan (s) | pruned scan (s) |\n")
    sb.append("|---|---|---|---|\n")
    pruneRows.foreach { case (m, fs, ft, tF, tP) =>
      sb.append(f"| ${m}x | $fs/$ft | $tF%.2f | $tP%.2f |\n")
    }

    sb.append("\n## Bloom-pruned point probe vs full scan (unclustered)\n\n")
    sb.append("Same corpora with a content-hash column, written ROUND-ROBIN into\n")
    sb.append("8×mult files — every file's [min,max] straddles every probe, so\n")
    sb.append("stats pruning keeps everything and only the per-file bloom sidecar\n")
    sb.append("can skip. The full filter scan costs ∝ corpus; the bloom probe\n")
    sb.append("opens only firing files (~flat) — the content-addressed-lookup\n")
    sb.append("claim behind q131, measured as the table grows.\n\n")
    sb.append("| mult | files opened / total | full filter scan (s) | bloom probe (s) |\n")
    sb.append("|---|---|---|---|\n")
    bloomRows.foreach { case (m, k, tot, tF, tB) =>
      sb.append(f"| ${m}x | $k/$tot | $tF%.2f | $tB%.2f |\n")
    }

    sb.append("\n## DSv2 doorway read vs library scan\n\n")
    sb.append("The serving-shape claim behind the doorway batch path (per-group\n")
    sb.append("lazy file-task partitions, round 12): a SELECT through the\n")
    sb.append("mounted catalog must cost what the library scan costs — time AND\n")
    sb.append("bytes — and a narrow range WHERE must prune files through the\n")
    sb.append("doorway exactly like `scanTableWhere` (input bytes ~flat while\n")
    sb.append("the table grows 16x; an unpruned doorway would grow 16x).\n\n")
    sb.append("| mult | door full s/MB | lib full s/MB | door narrow s/MB | lib narrow s/MB |\n")
    sb.append("|---|---|---|---|---|\n")
    doorRows.foreach { case (m, dfS, dfB, lfS, lfB, dnS, dnB, lnS, lnB) =>
      sb.append(f"| ${m}x | $dfS%.2f / ${dfB / 1e6}%.1f | $lfS%.2f / ${lfB / 1e6}%.1f " +
        f"| $dnS%.2f / ${dnB / 1e6}%.1f | $lnS%.2f / ${lnB / 1e6}%.1f |\n")
    }
    sb.append("\nBytes match the library exactly at every size (same files, same\n")
    sb.append("pruning; the narrow read stays file-pruned THROUGH the doorway).\n")
    sb.append("Wall times are min-of-2: the SECOND read of an unchanged\n")
    sb.append("snapshot serves from the snapshot scan state (GraftScanState:\n")
    sb.append("one planned scan per snapshot and projection, pruned per\n")
    sb.append("statement), so the recorded number is the STEADY-STATE cost a\n")
    sb.append("dashboard/multi-statement session sees — measured at/below the\n")
    sb.append("library scan itself. The FIRST read of a snapshot pays the\n")
    sb.append("one-time state build, from the previous head state of the\n")
    sb.append("same table and projection: catalog loads, a decode of only the\n")
    sb.append("delete files the commit added, and a re-plan of only the\n")
    sb.append("footer-schema groups whose files changed — a planning constant\n")
    sb.append("that never grows with the rows a statement reads.\n")
    sb.append("Delete-free reads additionally serve the\n")
    sb.append("scans' own ColumnarBatches (the vectorized handoff) over a bare\n")
    sb.append("join-free plan — no hidden-column fabrication, no seq broadcast.\n")

    sb.append("\n## Storage-partitioned join vs shuffle join (DSv2 doorway)\n\n")
    sb.append("Two doorway tables PARTITIONED BY (bucket(8, doc_id)) over the\n")
    sb.append("same growing corpus, joined on doc_id (broadcast disabled). With\n")
    sb.append("`spark.sql.sources.v2.bucketing.enabled` the scans report\n")
    sb.append("KeyGroupedPartitioning and the join plans WITHOUT an exchange:\n")
    sb.append("join-side shuffle bytes stay ZERO at every size while the\n")
    sb.append("shuffle-join baseline moves both tables with the corpus — at\n")
    sb.append("100 TB, the difference between shuffling nothing and shuffling\n")
    sb.append("the two tables.\n\n")
    sb.append("| mult | SPJ s / shuffle MB | shuffle join s / shuffle MB |\n")
    sb.append("|---|---|---|\n")
    spjRows.foreach { case (m, ss, sbB, hs, hb) =>
      sb.append(f"| ${m}x | $ss%.2f / ${sbB / 1e6}%.2f | $hs%.2f / ${hb / 1e6}%.2f |\n")
    }
    sb.append("\nThe BYTES column is the claim: SPJ shuffles nothing at every\n")
    sb.append("size while the baseline's shuffle grows with the corpus. At\n")
    sb.append("these toy sizes the avoided exchange cannot win wall time back\n")
    sb.append("from keyed serving's planning constant; at real bucket sizes\n")
    sb.append("the same constant buys not moving two fact tables, which is\n")
    sb.append("why the layout is gated on Spark's own SPJ switch rather than\n")
    sb.append("always on.\n")

    sb.append("\n## Keyed serving vs spec width (one-plan regroup)\n\n")
    sb.append("Fixed corpus (20k docs), co-bucketed DSv2 pairs at widening\n")
    sb.append("specs. Round 12 planned one frame PER TUPLE (O(width) Catalyst\n")
    sb.append("passes, hard-capped at 128 tuples — bucket(256)+ lost SPJ\n")
    sb.append("entirely); round 13's one-plan serving plans each scan ONCE and\n")
    sb.append("slices its planned file partitions tuple-pure. Round 14 DELETED\n")
    sb.append("the per-tuple fallback outright: the layout admission now\n")
    sb.append("refuses any snapshot whose delete sets cannot provably\n")
    sb.append("broadcast (at EVERY width — such reads degrade to an ordinary\n")
    sb.append("shuffle join, strictly cheaper than per-tuple planning), so the\n")
    sb.append("one-plan regroup is the only keyed path and the probe ASSERTS\n")
    sb.append("it (require onePlan > 0 per cell). Join-side shuffle stays zero\n")
    sb.append("at every width. Wall time still grows with width HERE because\n")
    sb.append("the fanout fixture's FILE COUNT is the width (bucket(1024) =\n")
    sb.append("~1024 tiny files per table — real tables hold many files per\n")
    sb.append("bucket, so per-file constants amortize); the claim is the\n")
    sb.append("absent per-tuple Catalyst tax, not flat tiny-file IO. The\n")
    sb.append("width-256 pair then takes a pending MoR DELETE: deletes are\n")
    sb.append("row-local to their tuples, the delete side is explicitly\n")
    sb.append("broadcast (manifest-sized, independent of the SPJ setup's\n")
    sb.append("autoBroadcastJoinThreshold=-1), so the join must STAY\n")
    sb.append("exchange-free, one-plan-served, with ~zero join-side shuffle —\n")
    sb.append("production tables always have deletes in flight, and at 100 TB\n")
    sb.append("this is exactly when the fact-fact join must not lose its best\n")
    sb.append("plan. (The r13 probe of this section caught the cliff that\n")
    sb.append("motivated the retirement: without the explicit delete\n")
    sb.append("broadcast, the threshold=-1 setup planned the anti join\n")
    sb.append("sort-merge, the shuffle-bearing chain refused the one-plan\n")
    sb.append("regroup, and the then-extant per-tuple fallback cost\n")
    sb.append("477 s / 455 MB at width 256.)\n\n")
    sb.append("| spec | SPJ s / shuffle MB | one-plan served | +pending-delete s / MB (one-plan) |\n")
    sb.append("|---|---|---|---|\n")
    widthRows.foreach { case (w, s, b, op, del) =>
      sb.append(f"| bucket($w) | $s%.2f / ${b / 1e6}%.2f | $op | " +
        del.fold("—")(d => f"${d._1}%.2f / ${d._2 / 1e6}%.2f (${d._3})") +
        " |\n")
    }

    sb.append("\n## Group-filtered copy-on-write DML (DSv2 doorway)\n\n")
    sb.append("A FIXED narrow DELETE (id range + modulo — untranslatable, so it\n")
    sb.append("plans as row-level copy-on-write ReplaceData) on a range-clustered\n")
    sb.append("table growing 1x -> 16x. Runtime group filtering\n")
    sb.append("(SupportsRuntimeV2Filtering on _file) must confine the rewrite to\n")
    sb.append("the files holding matching rows: FILES REPLACED stays ~flat while\n")
    sb.append("total files grow 16x — without it every statement rewrites the\n")
    sb.append("whole table, the difference between a KB-sized commit and a\n")
    sb.append("table rewrite at 100 TB.\n\n")
    sb.append("| mult | files replaced / total | delete (s) |\n")
    sb.append("|---|---|---|\n")
    cowRows.foreach { case (m, r, tot, sec) =>
      sb.append(f"| ${m}x | $r/$tot | $sec%.2f |\n")
    }
    sb.append("\nr11's 16x cell doubled (0.79 -> 2.01 s) because the matching-rows\n")
    sb.append("subquery scanned the WHOLE table: the staged entries carried no\n")
    sb.append("column stats and pushed RANGES bypassed the pruned-scan routing\n")
    sb.append("(point lookups only). Round 12 fixes both — the staging compacts\n")
    sb.append("with doc_id stats and doorway range predicates route through\n")
    sb.append("scanTableWhere — so the subquery reads covering files only and\n")
    sb.append("the 4x -> 16x step flattens to ~1.1x.\n")

    sb.append("\n## Vectorized eq-delete reads on an upserted table (rounds 14-15)\n\n")
    sb.append("A table upserted through key-equality DELETEs holds pending\n")
    sb.append("EQUALITY delete files between compactions — the CDC norm, and the\n")
    sb.append("reference's most elaborate code path (datafusion_processor.rs\n")
    sb.append(":281-304). Round 13 dropped every such read to the row-based anti\n")
    sb.append("join; round 14 masks eq-deletes inside the scan's ColumnarBatches\n")
    sb.append("(broadcast key->maxSeq probe with the `data.seq < delete.seq`\n")
    sb.append("guard), so the read stays vectorized; round 15 makes the\n")
    sb.append("single-integral-key probe allocation-free (sorted long array +\n")
    sb.append("parallel seq array, binary-searched per row) and raises the\n")
    sb.append("staged delete cardinality from 65 to 100,000 pending keys — a\n")
    sb.append("realistic CDC backlog that actually exercises the probe. Same\n")
    sb.append("read (1M -> 16M synthetic rows, 100k pending eq-delete keys)\n")
    sb.append("measured masked vs with the mask force-disabled (row anti join\n")
    sb.append("serves):\n\n")
    sb.append("| rows | masked read (s) | row-path read (s) |\n")
    sb.append("|---|---|---|\n")
    eqMaskRows.foreach { case (m, tMask, tRow) =>
      sb.append(f"| ${m}M | $tMask%.2f | $tRow%.2f |\n")
    }
    sb.append("\nmin-of-3 per cell; files newer than every delete skip the probe\n")
    sb.append("entirely (zero-copy passthrough), so a freshly-compacted table\n")
    sb.append("pays nothing.\n")

    sb.append("\n## Metadata-only vs scan-based range delete\n\n")
    sb.append("Same corpora, truncate[1000]-partitioned on doc_id; a FIXED\n")
    sb.append("partition-aligned range ([1000, 2999]) deleted from the growing\n")
    sb.append("table. `deleteWhereRange` proves the whole-file drops from the\n")
    sb.append("snapshot (no scan, no delete files — ~flat); `deleteWhere` with\n")
    sb.append("the identical predicate scans for (file, pos) matches (∝ corpus).\n")
    sb.append("At 100 TB the first is a metadata op, the second a table scan.\n\n")
    sb.append("| mult | metadata delete (s) | scan delete (s) |\n")
    sb.append("|---|---|---|\n")
    delRows.foreach { case (m, tM, tS) =>
      sb.append(f"| ${m}x | $tM%.2f | $tS%.2f |\n")
    }
    sb.append("\nmin-of-2 over fresh catalog chains per cell.\n")

    // ---- catalog pointer commit latency: file vs derby vs pg (round 16,
    // the r15 verdict's stretch item) — 12 committer threads, each 25
    // serial metadata-only appends to a SHARED table, at two pre-seeded
    // chain sizes. Per-commit cost = table lock + snapshot document
    // (O(delta) via the greedy segment carry, NOT O(entries)) + pointer
    // advance (HEAD file write vs database CAS row). The pg cells need a
    // reachable server (SPARK_GRAFT_PG_PORT; the probe launcher starts a
    // throwaway one) and render n/a without it.
    locally {
      import graft.sources.{GraftCatalog, JdbcHeadStore, PgHeadStore}
      val threadsN = 12
      val commitsPer = 25
      def storm(mkCat: () => GraftCatalog, preSeed: Int): Double = {
        val cat0 = mkCat()
        cat0.createTable("t", (0 until preSeed).map(i =>
          graft.sources.CompactionRunner.DataFileTask(s"/seed/f$i.parquet", 1L)))
        val t0 = System.nanoTime()
        val threads = (0 until threadsN).map { tid =>
          val th = new Thread(() => {
            val cat = mkCat() // per-committer catalog, the doorway's shape
            for (c <- 0 until commitsPer)
              cat.commitAppend("t",
                Seq(GraftCatalog.AddedFile(s"/new/t$tid-c$c.parquet")))
          })
          th.start(); th
        }
        threads.foreach(_.join())
        val wallMs = (System.nanoTime() - t0) / 1e6
        wallMs / (threadsN * commitsPer) // serialized by design: ms/commit
      }
      def fresh(suffix: String): String =
        Files.createTempDirectory(s"graft-ptr-$suffix").toString
      val sizes = Seq(16, 4096)
      def cells(mk: String => () => GraftCatalog, tag: String): Seq[Double] =
        sizes.map(e => storm(mk(fresh(s"$tag$e")), e))
      val fileCells = cells(root => () => new GraftCatalog(root), "file")
      val derbyCells = {
        val url = s"jdbc:derby:${fresh("derbydb")}/db;create=true"
        cells(root => {
          val store = new JdbcHeadStore(url, s"ptr${root.hashCode.abs}")
          () => new GraftCatalog(root, Some(store))
        }, "derby")
      }
      val pgCells = sys.env.get("SPARK_GRAFT_PG_PORT").map(_.toInt).map { port =>
        cells(root => {
          val store = new PgHeadStore("127.0.0.1", port, "postgres",
            "postgres", s"ptr${root.hashCode.abs}")
          () => new GraftCatalog(root, Some(store))
        }, "pg")
      }
      sb.append("\n## Catalog pointer commit latency (12-committer storm)\n\n")
      sb.append("12 threads x 25 metadata-only appends to one shared table,\n")
      sb.append("per-statement catalog instances (the doorway's shape), at two\n")
      sb.append("pre-seeded chain sizes. ms/commit = wall / 300. The snapshot\n")
      sb.append("document costs O(delta) via the greedy segment carry and the\n")
      sb.append("pointer advance is one HEAD write / one database CAS row, so\n")
      sb.append("the database pointer must cost a CONSTANT over the file one —\n")
      sb.append("independent of table size. At 100 TB (millions of files) the\n")
      sb.append("flat column IS the claim: commit cost never scales with the\n")
      sb.append("table, only with the delta.\n\n")
      sb.append("| entries pre-seeded | file (ms/commit) | derby (ms/commit) | pg (ms/commit) |\n")
      sb.append("|---|---|---|---|\n")
      sizes.zipWithIndex.foreach { case (e, i) =>
        val pg = pgCells.map(c => f"${c(i)}%.1f").getOrElse("n/a (no server)")
        sb.append(f"| $e | ${fileCells(i)}%.1f | ${derbyCells(i)}%.1f | $pg |\n")
      }
    }

    // ---- foreign-table import scale: wall time + metadata bytes vs
    // snapshot count, full history vs a fixed historyDepth ---------------
    // The walk cost lower bound is reading every imported snapshot's
    // manifest list (stock appends re-list all prior manifests, so a
    // FULL-history import of an S-snapshot chain reads O(S) inventories
    // of a growing table). The two controls under test: (a) the segment
    // prefix-carry keeps metadata WRITES O(total entries + deltas), not
    // O(S x inventory); (b) historyDepth bounds the walk to a constant
    // number of inventories — the flat row is the 100 TB claim for
    // thousand-snapshot production tables.
    locally {
      import graft.sources.{GraftCatalog, IcebergManifest}
      import graft.sources.CompactionRunner.DataFileStats
      val conf = graft.sources.CompactionRunner.defaultHadoopConf()
      val totalFiles = 2048 // constant corpus; only the snapshot split varies
      val snapCounts = Seq(4, 16, 64)
      val depth = 4
      def buildChain(s: Int): String = {
        val dir = Files.createTempDirectory(s"graft-impscale-$s").toString
        val per = totalFiles / s
        val manifests = (1 to s).map { i =>
          val entries = (0 until per).map { j =>
            IcebergManifest.ManifestEntry(IcebergManifest.StatusAdded,
              DataFileStats(s"$dir/data/f-$i-$j.parquet", 1024L, 100L,
                Map.empty, Map.empty, Map.empty),
              sequenceNumber = i.toLong)
          }
          val p = s"$dir/m$i.avro"
          IcebergManifest.write(p, entries,
            org.apache.spark.sql.types.StructType(Seq(
              graft.sources.FieldIds.withFieldId(
                org.apache.spark.sql.types.StructField("k",
                  org.apache.spark.sql.types.LongType), 1))), conf)
          IcebergManifest.ManifestFile(p, Files.size(Paths.get(p)),
            partitionSpecId = 0, content = 0, sequenceNumber = i.toLong,
            minSequenceNumber = i.toLong, addedSnapshotId = i.toLong,
            addedFilesCount = per, existingFilesCount = 0,
            deletedFilesCount = 0, addedRowsCount = per * 100L,
            existingRowsCount = 0L, deletedRowsCount = 0L)
        }
        val snaps = (1 to s).map { i =>
          // the stock append shape: snapshot i re-lists manifests 1..i
          val lp = s"$dir/list$i.avro"
          IcebergManifest.writeList(lp, manifests.take(i), conf)
          s"""{"snapshot-id":$i,"sequence-number":$i,"timestamp-ms":${i * 1000},
             |${if (i > 1) s""""parent-snapshot-id":${i - 1},""" else ""}
             |"manifest-list":"$lp","summary":{"operation":"append"}}"""
            .stripMargin.replace("\n", "")
        }.mkString(",")
        val mp = s"$dir/v$s.metadata.json"
        Files.writeString(Paths.get(mp),
          s"""{"format-version":2,"table-uuid":"impscale-$s","location":"$dir",
             |"last-column-id":1,"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":[
             |  {"id":1,"name":"k","required":false,"type":"long"}]}],
             |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
             |"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
             |"current-snapshot-id":$s,"snapshots":[$snaps]}""".stripMargin)
        mp
      }
      def importCost(mp: String, d: Option[Int]): (Double, Long) = {
        val root = Files.createTempDirectory("graft-impscale-r").toString
        val cat = new GraftCatalog(root)
        val t0 = System.nanoTime()
        cat.importTable("t", mp, conf, d)
        val wallMs = (System.nanoTime() - t0) / 1e6
        val stream = Files.list(Paths.get(root, "t"))
        val bytes =
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator().asScala.filter { p =>
              val n = p.getFileName.toString
              n.startsWith("snap-") || n.startsWith("seg-")
            }.map(Files.size).sum
          } finally stream.close()
        (wallMs, bytes)
      }
      sb.append("\n## Foreign-table import scale (wall + metadata vs snapshots)\n\n")
      sb.append(s"One $totalFiles-file corpus split into S append snapshots\n")
      sb.append("(stock shape: snapshot i re-lists manifests 1..i). Full-history\n")
      sb.append("import must read O(S) growing inventories — linear-in-S wall is\n")
      sb.append("the lower bound — but the prefix-carry keeps metadata bytes\n")
      sb.append(s"near-flat; at historyDepth=$depth both columns go FLAT in S,\n")
      sb.append("which is what lets a thousand-snapshot production table mount\n")
      sb.append("in head-plus-recent time.\n\n")
      sb.append(s"| snapshots | full wall (ms) | full metadata (KB) | depth=$depth wall (ms) | depth=$depth metadata (KB) |\n")
      sb.append("|---|---|---|---|---|\n")
      snapCounts.foreach { s =>
        val mp = buildChain(s)
        val (fw, fb) = importCost(mp, None)
        val (dw, db) = importCost(mp, Some(depth))
        sb.append(f"| $s | $fw%.0f | ${fb / 1024}%d | $dw%.0f | ${db / 1024}%d |\n")
      }
    }

    // ---- statistics lifecycle at scale ------------------------------------
    // Two claims measured. (1) The staleness signal (statsChurn) is
    // METADATA-ONLY: wall stays in single-digit ms however many entries
    // the snapshots carry — safe to call on every scheduler sweep of a
    // thousand-table catalog. (2) Incremental ANALYZE is delta-
    // proportional in BYTES READ (the listener counter, not just wall):
    // re-analysis after a small append reads the appended files only,
    // while the full pass re-reads the corpus — the difference that makes
    // per-commit statistics affordable at 100 TB.
    locally {
      import graft.sources.GraftCatalog
      val gname = "gscaleprobe_stats"
      // (1) churn-check wall vs synthetic entry count (no data IO at all)
      val churnRows = Seq(64, 256, 1024).map { n =>
        val dir = s"/tmp/graft_scale_churn_$n"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        spark.range(10).selectExpr("id AS k").coalesce(1)
          .write.parquet(s"$dir/seed")
        val cat = new GraftCatalog(s"$dir/cat")
        cat.createTable("t", parquetsIn(s"$dir/seed").map(DataFileTask(_, 1L)),
          Some(org.apache.spark.sql.types.StructType(Seq(
            graft.sources.FieldIds.withFieldId(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType), 1)))))
        cat.computeTableStats(spark, "t") // stats pointer at snapshot 1
        cat.commitAppend("t", (0 until n).map(i =>
          GraftCatalog.AddedFile(s"$dir/f$i.parquet", recordCount = 100,
            sizeBytes = 1024)))
        val wallMs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          cat.statsChurn("t")
          (System.nanoTime() - t0) / 1e6
        }.min
        (n, wallMs)
      }
      // (2) incremental vs full ANALYZE wall as the base GROWS while the
      // delta stays fixed: full re-reads the corpus (wall grows with the
      // base), incremental scans only the appended files (wall flat).
      // The delta-ONLY proof (base files physically deleted before the
      // incremental pass) lives in TableStatisticsSpec.
      val analyzeRows = Seq(2, 8, 24).map { m =>
        val dir = s"/tmp/graft_scale_analyze_$m"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val gm = s"${gname}_$m"
        spark.conf.set(s"spark.sql.catalog.$gm",
          "graft.sources.dsv2.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$gm.root", s"$dir/cat")
        spark.sql(s"CREATE TABLE $gm.t (k BIGINT, v STRING)")
        spark.sql(s"INSERT INTO $gm.t SELECT id, md5(CAST(id AS STRING)) " +
          s"FROM range(0, ${m * 1000000L})")
        val cat = new GraftCatalog(s"$dir/cat")
        def analyzed(incremental: Boolean): Double = {
          val t0 = System.nanoTime()
          cat.computeTableStats(spark, "t", incremental)
          (System.nanoTime() - t0) / 1e9
        }
        analyzed(incremental = false) // record the base sketches
        spark.sql(s"INSERT INTO $gm.t SELECT id, md5(CAST(id AS STRING)) " +
          s"FROM range(${m * 1000000L}, ${m * 1000000L + 200000})")
        val iw = analyzed(incremental = true)
        val fw = analyzed(incremental = false)
        (m, iw, fw)
      }
      sb.append("\n## Statistics lifecycle at scale (round 18)\n\n")
      sb.append("statsChurn (the scheduler's staleness signal) is metadata-only —\n")
      sb.append("two snapshot reads, no data IO; flat-millisecond wall at any\n")
      sb.append("entry count means sweeping a large catalog costs metadata:\n\n")
      sb.append("| snapshot entries | churn check wall (ms, min of 3) |\n|---|---|\n")
      churnRows.foreach { case (n, w) => sb.append(f"| $n | $w%.1f |\n") }
      sb.append("\nIncremental ANALYZE after a FIXED 200k-row append, base growing:\n")
      sb.append("the full pass re-reads the corpus (wall tracks the base), the\n")
      sb.append("incremental union scans only the appended files (wall ~flat) —\n")
      sb.append("per-commit statistics stay affordable however big the table gets.\n")
      sb.append("(Delta-ONLY is proven structurally in TableStatisticsSpec: the\n")
      sb.append("base generation's files are deleted before the incremental pass.)\n\n")
      sb.append("| base rows | incremental wall (s) | full wall (s) |\n|---|---|---|\n")
      analyzeRows.foreach { case (m, iw, fw) =>
        sb.append(f"| ${m}M | $iw%.2f | $fw%.2f |\n")
      }
    }

    // ---- round 19: sort elision, CDC step cost, histogram ANALYZE -------
    {
      val g19 = s"g19_${java.util.UUID.randomUUID().toString.replace("-", "")}"

      // (1) SORT ELISION (SupportsReportOrdering): identically-compacted
      // co-bucketed pairs — one with a declared write order (the scan
      // claims per-partition ordering, SMJ plans ZERO SortExec), one
      // without (same 1-file-per-tuple layout, SMJ pays both sorts). The
      // wall delta is the elided sort cost, growing with the fact side.
      val ordConfs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val ordSaved = ordConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      val sortRows =
        try {
          ordConfs.foreach { case (k, v) => spark.conf.set(k, v) }
          Seq(1, 4, 16).map { m =>
            val dir = s"/tmp/graft_scale_sorted_$m"
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
            val g = s"${g19}_s$m"
            spark.conf.set(s"spark.sql.catalog.$g",
              "graft.sources.dsv2.GraftSparkCatalog")
            spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
            val rows = m * 250000L
            def mk(f: String, d: String, sorted: Boolean): Unit = {
              spark.sql(s"CREATE TABLE $g.$f (k BIGINT, v DOUBLE) " +
                "PARTITIONED BY (bucket(8, k))")
              spark.sql(s"CREATE TABLE $g.$d (k BIGINT, name STRING) " +
                "PARTITIONED BY (bucket(8, k))")
              spark.sql(s"INSERT INTO $g.$f SELECT id % ${rows / 4}, " +
                s"CAST(id AS DOUBLE) FROM range(0, $rows)")
              spark.sql(s"INSERT INTO $g.$d SELECT id, concat('n', id) " +
                s"FROM range(0, ${rows / 4})")
              val cat = new GraftCatalog(s"$dir/cat")
              for (t <- Seq(f, d)) {
                if (sorted) cat.setSortOrder(t, Seq("k"))
                cat.compactTable(spark, t, s"$dir/cat/$t/_data/c",
                  CompactionConfig(targetPartitions = 1))
              }
            }
            mk("lf", "ld", sorted = true)
            mk("uf", "ud", sorted = false)
            def joinQ(f: String, d: String) = spark.sql(
              s"SELECT x.k, x.v, y.name FROM $g.$f x JOIN $g.$d y ON x.k = y.k")
            val planS = joinQ("lf", "ld").queryExecution.executedPlan
            require(planS.collect {
              case st: org.apache.spark.sql.execution.SortExec => st
            }.isEmpty, s"sorted pair must elide both SMJ sorts:\n$planS")
            require(joinQ("uf", "ud").queryExecution.executedPlan.collect {
              case st: org.apache.spark.sql.execution.SortExec => st
            }.nonEmpty, "the unsorted twin must pay the merge-join sorts")
            def time(f: String, d: String): Double = (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              joinQ(f, d).write.mode("overwrite").format("noop").save()
              (System.nanoTime() - t0) / 1e9
            }.min
            val tU = time("uf", "ud")
            val tS = time("lf", "ld")
            println(f"sorted mult=$m%2d rows=$rows sorted=$tS%5.2f unsorted=$tU%5.2f")
            (m, rows, tS, tU)
          }
        } finally ordSaved.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }

      // (2) CDC changelog step cost: a FIXED MoR delete+append window over
      // a base growing 1x/4x/16x. The delete-diff scans only the files the
      // new positional deletes REFERENCE (plus removed ones), so wall and
      // input bytes must track the delta, never the base.
      val cdcRows = Seq(1, 4, 16).map { m =>
        val dir = s"/tmp/graft_scale_cdc_$m"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val g = s"${g19}_c$m"
        spark.conf.set(s"spark.sql.catalog.$g",
          "graft.sources.dsv2.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
        spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) " +
          "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
        for (i <- 0 until m)
          spark.sql(s"INSERT INTO $g.t SELECT id, md5(CAST(id AS STRING)) " +
            s"FROM range(${i * 500000L}, ${(i + 1) * 500000L})")
        val cat = new GraftCatalog(s"$dir/cat")
        val s0 = cat.currentSnapshotId("t")
        // the fixed delta: positions confined to the FIRST commit's keys,
        // plus a 50k append
        spark.sql(s"DELETE FROM $g.t WHERE k < 500000 AND k % 97 = 3")
        spark.sql(s"INSERT INTO $g.t SELECT id, md5(CAST(id AS STRING)) " +
          s"FROM range(${m * 500000L}, ${m * 500000L + 50000})")
        val head = cat.currentSnapshotId("t")
        val schema = cat.scanTable(spark, "t").schema
          .add("_change_type", org.apache.spark.sql.types.StringType)
        val (w0, i0) = probeMetrics.snapshot()
        val wall = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          graft.sources.GraftStreamSource
            .changelogBatch(cat, spark, "t", s0, head,
              skipRewrites = false, schema)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        val (w1, i1) = probeMetrics.snapshot()
        println(f"cdc mult=$m%2d base=${m * 500000L} wall=$wall%5.2f " +
          f"in=${(i1 - i0) / 1e6}%.1fMB shuf=${(w1 - w0) / 1e6}%.1fMB")
        (m, m * 500000L, wall, (i1 - i0) / 1e6)
      }

      // (3) histogram ANALYZE: the opt-in tier's two extra passes vs the
      // plain theta pass, both over a growing base — both linear, the
      // histogram premium a bounded constant factor.
      val histoRows = Seq(1, 4, 16).map { m =>
        val dir = s"/tmp/graft_scale_histo_$m"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val g = s"${g19}_h$m"
        spark.conf.set(s"spark.sql.catalog.$g",
          "graft.sources.dsv2.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
        spark.sql(s"CREATE TABLE $g.t (k BIGINT, x DOUBLE, v STRING)")
        spark.sql(s"INSERT INTO $g.t SELECT id, CAST(id % 1000 AS DOUBLE), " +
          s"md5(CAST(id AS STRING)) FROM range(0, ${m * 500000L})")
        val cat = new GraftCatalog(s"$dir/cat")
        def analyzed(histograms: Boolean): Double = {
          val t0 = System.nanoTime()
          cat.computeTableStats(spark, "t", histograms = histograms)
          (System.nanoTime() - t0) / 1e9
        }
        // plain FIRST: histograms are sticky once recorded
        val tPlain = Seq(analyzed(false), analyzed(false)).min
        val tHisto = analyzed(true)
        println(f"histo mult=$m%2d plain=$tPlain%5.2f histograms=$tHisto%5.2f")
        (m, m * 500000L, tPlain, tHisto)
      }

      sb.append("\n## Sort elision, CDC step cost, histograms (round 19)\n\n")
      sb.append("Sorted co-bucketed pairs (declared write order + sorted\n")
      sb.append("compaction -> the scan claims per-partition ordering) merge-join\n")
      sb.append("with ZERO SortExec; the unsorted twin has the identical\n")
      sb.append("1-file-per-tuple layout and pays both sorts (plan shapes\n")
      sb.append("require()d in-probe). The delta is the elided sort cost —\n")
      sb.append("at 100 TB the dominant cost of a merge join over sorted data:\n\n")
      sb.append("| mult | fact rows | sorted SMJ (s) | unsorted SMJ (s) |\n")
      sb.append("|---|---|---|---|\n")
      sortRows.foreach { case (m, n, tS, tU) =>
        sb.append(f"| ${m}x | $n | $tS%.2f | $tU%.2f |\n")
      }
      sb.append("\nCDC changelog step (the `.changes` stream's per-batch work)\n")
      sb.append("for a FIXED MoR delete+append window as the base grows: the\n")
      sb.append("delete diff scans only the files the new positional deletes\n")
      sb.append("REFERENCE (one bounded read of the delete files names them),\n")
      sb.append("so wall and input bytes track the delta, never the table:\n\n")
      sb.append("| mult | base rows | step wall (s) | step input (MB) |\n")
      sb.append("|---|---|---|---|\n")
      cdcRows.foreach { case (m, n, w, mb) =>
        sb.append(f"| ${m}x | $n | $w%.2f | $mb%.1f |\n")
      }
      sb.append("\nANALYZE with equi-height histograms (the opt-in CBO tier) vs\n")
      sb.append("the plain theta pass: two extra aggregates over the numeric\n")
      sb.append("columns — a bounded constant premium, both linear in the base:\n\n")
      sb.append("| mult | rows | plain ANALYZE (s) | + histograms (s) |\n")
      sb.append("|---|---|---|---|\n")
      histoRows.foreach { case (m, n, tp, th) =>
        sb.append(f"| ${m}x | $n | $tp%.2f | $th%.2f |\n")
      }
    }

    // ---- round 20: equality-delete (point-delete) CDC step cost ---------
    {
      val g20 = s"g20_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      // The r19 pos-delete table's EQUALITY twin: a point DELETE lands as
      // a metadata-sized eq-delete file (the key-equality fast path), and
      // the changelog delete diff is restricted to the files whose
      // bounds/tuples admit the keys (changelogEqDiffCandidates) — wall
      // and input bytes must track the delta, never the base.
      val eqCdcRows = Seq(1, 4, 16).map { m =>
        val dir = s"/tmp/graft_scale_eqcdc_$m"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val g = s"${g20}_e$m"
        spark.conf.set(s"spark.sql.catalog.$g",
          "graft.sources.dsv2.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$g.root", s"$dir/cat")
        spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) " +
          "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
        for (i <- 0 until m)
          spark.sql(s"INSERT INTO $g.t SELECT id, md5(CAST(id AS STRING)) " +
            s"FROM range(${i * 500000L}, ${(i + 1) * 500000L})")
        val cat = new GraftCatalog(s"$dir/cat")
        val s0 = cat.currentSnapshotId("t")
        // the fixed delta: three point deletes by key (first commit's
        // range) plus a 50k append
        spark.sql(s"DELETE FROM $g.t WHERE k IN (3, 97, 4242)")
        require(cat.loadEntries("t").exists(_.kind == "eqdel"),
          "the IN-list delete must land as an equality delete")
        spark.sql(s"INSERT INTO $g.t SELECT id, md5(CAST(id AS STRING)) " +
          s"FROM range(${m * 500000L}, ${m * 500000L + 50000})")
        val head = cat.currentSnapshotId("t")
        // the planning half must bound the diff to a proper file subset
        val fromData = cat.loadEntriesAt("t", s0).filter(_.kind == "data")
        val cand = cat.changelogEqDiffCandidates(spark, "t", fromData,
          cat.loadEntriesAt("t", head).filter(_.kind == "eqdel"),
          cat.schemaAt("t", head))
        require(cand.exists(c => c.nonEmpty && c.size < fromData.size),
          s"eq diff must be bounded: ${cand.map(_.size)} of ${fromData.size}")
        val schema = cat.scanTable(spark, "t").schema
          .add("_change_type", org.apache.spark.sql.types.StringType)
        val (_, i0) = probeMetrics.snapshot()
        val wall = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          graft.sources.GraftStreamSource
            .changelogBatch(cat, spark, "t", s0, head,
              skipRewrites = false, schema)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        val (_, i1) = probeMetrics.snapshot()
        val nCand = cand.map(_.size).getOrElse(-1)
        println(f"eqcdc mult=$m%2d base=${m * 500000L} wall=$wall%5.2f " +
          f"cand=$nCand/${fromData.size} in=${(i1 - i0) / 1e6}%.1fMB")
        (m, m * 500000L, wall, nCand, fromData.size, (i1 - i0) / 1e6)
      }
      sb.append("\n## Equality-delete CDC step (round 20)\n\n")
      sb.append("The pos-delete table's EQUALITY twin: a key-equality point\n")
      sb.append("DELETE commits a metadata-sized eq-delete file (the fast path\n")
      sb.append("that never scans data), and the changelog delete diff is\n")
      sb.append("restricted to the files whose recorded bounds/partition tuples\n")
      sb.append("admit the delete keys (seq-guarded, conservative on unknowns;\n")
      sb.append("candidate subset require()d in-probe). Step wall and input\n")
      sb.append("bytes track the delta, never the base:\n\n")
      sb.append("| mult | base rows | step wall (s) | candidate files | step input (MB) |\n")
      sb.append("|---|---|---|---|---|\n")
      eqCdcRows.foreach { case (m, n, w, c, tot, mb) =>
        sb.append(f"| ${m}x | $n | $w%.2f | $c of $tot | $mb%.1f |\n")
      }
    }

    // ---- round 21: TPC-H tier skew check (q103 / q81 join keys) ---------
    {
      // Per-task shuffle-read sizes per stage: the skew diagnostic is the
      // max/median ratio across one stage's tasks (guide §2.5 — a ratio
      // ≈1 means uniform keys and nothing for skew handling to do).
      val taskReads = new java.util.concurrent.ConcurrentHashMap[
        Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
      val skewListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) {
            taskReads.computeIfAbsent(te.stageId,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
              .add(te.taskMetrics.shuffleReadMetrics.totalBytesRead)
            ()
          }
      }
      spark.sparkContext.addSparkListener(skewListener)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
      def walk(p: SparkPlan): Seq[SparkPlan] = (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => Seq(p) ++ walk(q.plan)
        case _ => Seq(p)
      }) ++ p.children.flatMap(walk)
      def skewSplits(qe: org.apache.spark.sql.execution.QueryExecution): Int =
        walk(qe.executedPlan).collect {
          case r: AQEShuffleReadExec => r.partitionSpecs.count(
            _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
        }.sum
      // the noop write runs its OWN QueryExecution — capture the executed
      // (final adaptive) plan through the listener, not df.queryExecution
      @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
      val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = lastQe = qe
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(qeListener)
      // thresholds scaled to probe-sized data: at sf0.1 no shuffle reaches
      // the default 256 MB trigger, so arm the mechanism at 1 MB — IF a
      // key were factor-5 skewed, AQE would split it here
      val skewConfs = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1048576",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "524288")
      val savedSkew = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      def measure(build: () => org.apache.spark.sql.DataFrame, runs: Int)
          : (Double, Double, Int) = {
        var wall = Double.MaxValue; var ratio = 0.0; var splits = 0
        for (_ <- 1 to runs) {
          taskReads.clear()
          lastQe = null
          val t0 = System.nanoTime()
          val df = build()
          df.write.mode("overwrite").format("noop").save()
          val w = (System.nanoTime() - t0) / 1e9
          // the listener bus is async; the QE lands momentarily after save
          var waited = 0
          while (lastQe == null && waited < 50) { Thread.sleep(100); waited += 1 }
          if (w < wall) {
            wall = w
            import scala.jdk.CollectionConverters._
            // the heaviest shuffle-read stage is the skew-relevant one
            val heaviest = taskReads.asScala.values
              .map(q => q.asScala.toSeq.sorted)
              .filter(ts => ts.nonEmpty && ts.sum > 0)
              .maxByOption(_.sum)
            ratio = heaviest.fold(1.0)(ts =>
              ts.max.toDouble / math.max(1.0, ts(ts.size / 2).toDouble))
            splits = Option(lastQe).fold(-1)(skewSplits)
          }
        }
        (wall, ratio, splits)
      }
      val tpchTables = Seq("part", "supplier", "nation", "region",
        "orders", "customer")
      val skewRows = Seq(1, 4, 16).map { m =>
        val dir = s"/tmp/graft_scale_tpch_$m"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        tpchTables.foreach { t =>
          java.nio.file.Files.copy(Paths.get(s"$sfDir/$t.parquet"),
            Paths.get(s"$dir/$t.parquet"))
        }
        val li = Tables.lineitem(spark, sfDir)
        // replicate the FACT side with shifted orderkeys, KEEPING the
        // partkey/suppkey domains — per-key row counts grow m×, exactly
        // the axis q103's (partkey, suppkey) aggregate and suppkey join
        // shuffle on
        (0 until m).map(i => li.withColumn("l_orderkey",
            col("l_orderkey") + lit(i.toLong * 10000000L)))
          .reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        val (w103, r103, s103) = measure(() =>
          graft.operators.TpchDeepQueries.queries("q103_tpch_q2")(spark, dir), 3)
        // q81's candidate self-join shuffles on the shingle hash — its
        // replicated corpus dirs were built by the pipeline section above
        val docsDir = s"/tmp/graft_scale_$m"
        val (w81, r81, s81) = measure(() =>
          graft.pipeline.PipelineQueries.queries("q81_ngram_jaccard")(
            spark, docsDir), if (m == 16) 2 else 3)
        println(f"skew mult=$m%2d q103 wall=$w103%6.2f ratio=$r103%5.2f " +
          f"splits=$s103 | q81 wall=$w81%6.2f ratio=$r81%5.2f splits=$s81")
        (m, w103, r103, s103, w81, r81, s81)
      }
      // positive control: a genuinely skewed shuffled join on the same
      // fact column (one partkey owning ~2/3 of a 3x fact table, broadcast
      // disabled so the join actually shuffles) must make AQE split —
      // proving the mechanism ARMS at these thresholds and the zeros
      // above mean "uniform data", not "skew handling disabled". (q103
      // itself broadcasts its dims, so a hot dim key never reaches a
      // shuffled join in its plan — the control isolates the mechanism.)
      // The build side must be a PLAIN scan: OptimizeSkewedJoin only
      // splits when both SMJ children are sort-over-shuffle-stage
      // directly — an aggregate between (e.g. a distinct build side)
      // blocks the split, because subdividing a reduce partition by map
      // ranges would break the aggregate's key grouping.
      val li = Tables.lineitem(spark, sfDir)
      val skewed = li.unionAll(
        (1 to 2).map(i => li.withColumn("l_orderkey",
            col("l_orderkey") + lit(i.toLong * 10000000L))
          .withColumn("l_partkey", lit(7L))).reduce(_ unionAll _))
      val ctlConfs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val savedCtl = ctlConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      ctlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val (wc, rc, sc) = measure(() =>
        skewed.join(
            Tables.part(spark, sfDir).select(col("p_partkey").as("l_partkey")),
            "l_partkey")
          .select(col("l_partkey"), col("l_quantity")), 2)
      savedCtl.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      println(f"skew ctl join wall=$wc%6.2f ratio=$rc%5.2f splits=$sc")
      savedSkew.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sparkContext.removeSparkListener(skewListener)
      spark.listenerManager.unregister(qeListener)
      sb.append("\n## TPC-H tier skew check (round 21)\n\n")
      sb.append("Evidence-before-touching for the heaviest untouched TPC-H-tier\n")
      sb.append("queries (r20 verdict item 9): per-task shuffle-read max/median\n")
      sb.append("of the heaviest shuffle stage, and AQE skew-join splits with the\n")
      sb.append("trigger threshold lowered to probe scale (1 MB — any factor-5\n")
      sb.append("key would split). q103 (TPC-H Q2: partkey/suppkey agg + joins)\n")
      sb.append("on fact replicas that multiply per-key row counts; q81 (ngram\n")
      sb.append("jaccard: shingle-hash candidate self-join) on the replicated\n")
      sb.append("corpus:\n\n")
      sb.append("| mult | q103 wall (s) | q103 max/med | q103 splits | q81 wall (s) | q81 max/med | q81 splits |\n")
      sb.append("|---|---|---|---|---|---|---|\n")
      skewRows.foreach { case (m, w1, r1, s1, w2, r2, s2) =>
        sb.append(f"| ${m}x | $w1%.2f | $r1%.2f | $s1 | $w2%.2f | $r2%.2f | $s2 |\n")
      }
      sb.append(f"\nPositive control (one partkey owning ~2/3 of a 3x fact table,\n")
      sb.append(f"broadcast disabled so the partkey join shuffles, same\n")
      sb.append(f"thresholds): wall $wc%.2f s, max/median $rc%.2f, splits $sc —\n")
      sb.append("the mechanism arms at these thresholds, so zero splits on the\n")
      sb.append("real corpus means the keys are uniform and no skew mitigation\n")
      sb.append("(salting, hot-key split) is warranted for this tier.\n")
      sb.append("Verdict: leave q81/q103 untouched.\n")
    }

    Files.writeString(Paths.get("SCALING.md"), sb.toString)
    println("SCALING.md written")
    spark.stop()
  }
}
