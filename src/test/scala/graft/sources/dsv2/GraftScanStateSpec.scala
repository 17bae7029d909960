package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.sources.{CompactionRunner, GraftCatalog}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The snapshot-scoped scan state ([[GraftScanState]]): a doorway read
  * plans its snapshot's scan — entries, delete set, one scan over every
  * file — once, and every later statement at that snapshot prunes files
  * and serves their splits of the cached scan, whatever its literals.
  * Each key dimension (table generation, pinned snapshot, ordering pin,
  * the probe switch) is exercised with FRESH literals, so only the state —
  * never a repeated statement — can be what a read hits.
  */
class GraftScanStateSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gss_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  /** Spark jobs started while `body` runs (the listener bus drained). */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  /** (jobs while planning, jobs while executing, rows). */
  private def planThenRun(sql: String): (Int, Int, Seq[(Long, String)]) = {
    val df = spark.sql(sql)
    val planJobs = jobsDuring(df.queryExecution.executedPlan)
    var rows: Seq[(Long, String)] = Nil
    val runJobs = jobsDuring {
      rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    }
    (planJobs, runJobs, rows)
  }

  private def batchScan(df: DataFrame): BatchScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collectFirst { case b: BatchScanExec => b }.getOrElse(
      fail(s"no BatchScanExec in:\n$plan"))
  }

  /** A merge-on-read table of `files` data files with pending position
    * deletes (`k >= 900` matches no key-equality fast path).
    */
  private def morTable(g: String, files: Int = 4): Unit = {
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    (0 until files).foreach { i =>
      val lo = i * 1000 / files
      spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) " +
        s"FROM range($lo, ${lo + 1000 / files})")
    }
    spark.sql(s"DELETE FROM $g.t WHERE k >= 900")
  }

  test("a fresh-literal point read at a cached snapshot plans with no job and runs one") {
    val root = Files.createTempDirectory("graft-state-point").toString
    val g = mount(root)
    morTable(g)
    val posFiles = new GraftCatalog(root).loadEntries("t").count(_.kind == "posdel")
    assert(posFiles > 0)
    // the first read builds the state: the position-delete files decode
    // on the driver, without a Spark job
    val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
    val (missPlan, _, first) = planThenRun(s"SELECT k, v FROM $g.t WHERE k = 3")
    assert(first == Seq(3L -> "v3"))
    assert(GraftColumnarMask.deleteFilesDecoded.get() - decoded0 == posFiles,
      "building the state decodes the position-delete files")
    assert(missPlan == 0, s"the delete file decodes with no Spark job, ran $missPlan")
    Seq(11L, 250L, 777L, 950L).foreach { k =>
      val (planJobs, runJobs, rows) =
        planThenRun(s"SELECT k, v FROM $g.t WHERE k = $k")
      assert(planJobs == 0, s"k = $k: a state hit must plan with no Spark job")
      assert(runJobs == 1, s"k = $k: the read itself is exactly one job, ran $runJobs")
      assert(rows == (if (k >= 900) Nil else Seq(k -> s"v$k")))
    }
    assert(GraftColumnarMask.deleteFilesDecoded.get() - decoded0 == posFiles,
      "a state hit decodes nothing")
    // ranges and IN lists prune through the same state
    val (rangePlan, _, range) = planThenRun(
      s"SELECT k, v FROM $g.t WHERE k BETWEEN 880 AND 920")
    assert(rangePlan == 0)
    assert(range.map(_._1) == (880L until 900L))
    val (inPlan, _, in) = planThenRun(s"SELECT k, v FROM $g.t WHERE k IN (5, 905, 500)")
    assert(inPlan == 0)
    assert(in.map(_._1) == Seq(5L, 500L))
  }

  test("a read planned before a commit serves its snapshot; the next statement sees the commit") {
    val root = Files.createTempDirectory("graft-state-race").toString
    val g = mount(root)
    morTable(g)
    val planned = spark.sql(s"SELECT k, v FROM $g.t WHERE k < 20")
    planned.queryExecution.executedPlan
    spark.sql(s"INSERT INTO $g.t SELECT -id, 'late' FROM range(1, 6)")
    assert(planned.collect().map(_.getLong(0)).sorted.toSeq == (0L until 20L),
      "execution must serve the snapshot the read was planned at")
    val next = spark.sql(s"SELECT k, v FROM $g.t WHERE k < 19").collect()
    assert(next.count(_.getString(1) == "late") == 5,
      "the next statement must see the commit")
    assert(next.length == 24)
  }

  test("DROP + CREATE of the same name never serves the dropped generation's state") {
    val root = Files.createTempDirectory("graft-state-recreate").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('old', id) FROM range(0, 100)")
    val sid = new GraftCatalog(root).currentSnapshotId("t")
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k = 4")._3 == Seq(4L -> "old4"))
    spark.sql(s"DROP TABLE $g.t")
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('new', id) FROM range(0, 50)")
    assert(new GraftCatalog(root).currentSnapshotId("t") == sid,
      "the generations must share the snapshot id for this test to bite")
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k = 5")._3 == Seq(5L -> "new5"))
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k = 70")._3 == Nil)
  }

  test("VERSION AS OF reads their own snapshot's state, apart from head reads") {
    val root = Files.createTempDirectory("graft-state-asof").toString
    val g = mount(root)
    morTable(g)
    val cat = new GraftCatalog(root)
    val s1 = cat.currentSnapshotId("t")
    spark.sql(s"DELETE FROM $g.t WHERE k < 100 AND k % 2 = 0")
    spark.sql(s"INSERT INTO $g.t SELECT id, 'tail' FROM range(2000, 2010)")
    val s2 = cat.currentSnapshotId("t")
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k < 6")._3.map(_._1) ==
      Seq(1L, 3L, 5L))
    assert(planThenRun(s"SELECT k, v FROM $g.t VERSION AS OF $s1 WHERE k < 5")
      ._3.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(planThenRun(s"SELECT k, v FROM $g.t VERSION AS OF $s1 WHERE k >= 2000")._3 == Nil)
    val (pinnedHit, _, pinnedRows) =
      planThenRun(s"SELECT k, v FROM $g.t VERSION AS OF $s1 WHERE k = 8")
    assert(pinnedHit == 0 && pinnedRows == Seq(8L -> "v8"))
    // pinned AT the head snapshot: its own state, the same rows as head
    assert(planThenRun(s"SELECT k, v FROM $g.t VERSION AS OF $s2 WHERE k >= 2008")._3 ==
      Seq(2008L -> "tail", 2009L -> "tail"))
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k = 8")._3 == Nil)
  }

  test("an ordering-claim read pins its snapshot; a later commit is seen") {
    val root = Files.createTempDirectory("graft-state-ordering").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 2000)")
    val cat = new GraftCatalog(root)
    cat.setSortOrder("t", Seq("k"))
    cat.compactTable(spark, "t", s"$root/t/_data/c1",
      CompactionRunner.CompactionConfig(targetPartitions = 1))
    assert(cat.loadEntries("t").count(_.kind == "data") == 1)
    val claimed = spark.sql(s"SELECT k, v FROM $g.t WHERE k < 3")
    assert(batchScan(claimed).scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportOrdering].outputOrdering().nonEmpty,
      "the single-file sorted snapshot must claim its order")
    assert(claimed.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k = 17")._3 == Seq(17L -> "v17"))
    spark.sql(s"DELETE FROM $g.t WHERE k = 17")
    spark.sql(s"INSERT INTO $g.t SELECT 5000, 'late'")
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k = 17")._3 == Nil)
    assert(planThenRun(s"SELECT k, v FROM $g.t WHERE k >= 1999")._3 ==
      Seq(1999L -> "v1999", 5000L -> "late"))
  }

  test("runtime-filtered (DPP) reads prune the state per statement and store nothing") {
    val root = Files.createTempDirectory("graft-state-dpp").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.fact (k BIGINT, v STRING) PARTITIONED BY (bucket(8, k))")
    spark.sql(s"INSERT INTO $g.fact SELECT id, concat('v', id) FROM range(0, 8000)")
    import spark.implicits._
    (0L until 100L).map(i => (i, if (i == 41 || i == 42) "x" else if (i == 7) "z" else "y"))
      .toDF("k", "tag").write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("gss_dim")
    // warm the head state with an unfiltered read
    assert(spark.sql(s"SELECT k, v FROM $g.fact").count() == 8000L)
    def join(tag: String): Seq[Long] = {
      val df = spark.sql(
        s"SELECT f.k, f.v FROM $g.fact f JOIN gss_dim d ON f.k = d.k WHERE d.tag = '$tag'")
      assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "the join must plan a runtime filter on the fact scan")
      df.collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(join("x") == Seq(41L, 42L))
    assert(join("z") == Seq(7L))
    // the runtime keep sets were query-local: a plain read still sees all
    assert(spark.sql(s"SELECT k, v FROM $g.fact").count() == 8000L)
    assert(planThenRun(s"SELECT k, v FROM $g.fact WHERE k = 4000")._3 == Seq(4000L -> "v4000"))
  }

  test("the masked/row probe switch is part of the state key") {
    val root = Files.createTempDirectory("graft-state-probes").toString
    val g = mount(root)
    morTable(g)
    val masked = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 12")
    assert(batchScan(masked).supportsColumnar, "pos-delete reads serve masked columnar")
    assert(masked.collect().map(_.getLong(0)).toSeq == Seq(12L))
    GraftColumnarMask.disableForProbes = true
    try {
      val row = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 13")
      assert(!batchScan(row).supportsColumnar,
        "with masking disabled the row path must serve, not a cached masked plan")
      assert(row.collect().map(_.getLong(0)).toSeq == Seq(13L))
      assert(spark.sql(s"SELECT k, v FROM $g.t WHERE k >= 890").count() == 10L)
    } finally GraftColumnarMask.disableForProbes = false
    val again = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 14")
    assert(batchScan(again).supportsColumnar)
    assert(again.collect().map(_.getLong(0)).toSeq == Seq(14L))
  }

  test("planning a doorway scan over a 64-file table starts no Spark job") {
    val root = Files.createTempDirectory("graft-state-listing").toString
    val dir = s"$root/src"
    spark.range(0, 6400).selectExpr("id AS k", "concat('v', id) AS v")
      .repartition(64).write.parquet(dir)
    val files = CompactionRunner.listParquet(dir)
    assert(files.size == 64)
    val cat = new GraftCatalog(root)
    cat.createTable("t", files.map(CompactionRunner.DataFileTask(_, 1L)))
    val g = mount(root)
    // first contact reads each footer once (cached per path and schema)
    assert(spark.sql(s"SELECT k, v FROM $g.t WHERE k = 1").count() == 1L)
    // a new snapshot over all 64 files plus one: the full scan is planned
    // from the entries without Spark's file listing (a job above 32 paths)
    spark.sql(s"INSERT INTO $g.t SELECT 7000, 'late'")
    val df = spark.sql(s"SELECT k, v FROM $g.t")
    assert(jobsDuring(df.queryExecution.executedPlan) == 0,
      "planning over 65 files must not list them through a Spark job")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 6400L) :+ 7000L)
  }
}
