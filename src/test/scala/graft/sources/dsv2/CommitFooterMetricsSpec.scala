package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.sources.{CompactionRunner, GraftCatalog}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Files committed without writer stats — an external writer's files
  * through `commitAppend`, an upsert's data files — take their counts,
  * bounds and null counts from their parquet footers at commit, under the
  * writer stats' conservative rules, so reads prune them like
  * doorway-written files.
  */
class CommitFooterMetricsSpec extends SparkSpec {

  private def fresh(): (String, String, GraftCatalog) = {
    val root = Files.createTempDirectory("graft-footer-metrics").toString
    val g = s"gfm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    (root, g, new GraftCatalog(root))
  }

  /** Write `sql`'s rows as one external parquet file and commit it with
    * no caller metrics; returns its entry.
    */
  private def appendExternal(
      root: String, cat: GraftCatalog, sql: String, tag: String): GraftCatalog#TableEntry = {
    val dir = s"$root/external/$tag"
    spark.sql(sql).coalesce(1).write.parquet(dir)
    val files = CompactionRunner.listParquet(dir)
    cat.commitAppend("t", files.map(GraftCatalog.AddedFile(_)))
    val key = CompactionRunner.canonKey(files.head)
    cat.loadEntries("t").find(e => CompactionRunner.canonKey(e.path) == key).get
  }

  private def recordsRead(body: => Unit): Long = {
    ListenerBridge.drain(spark.sparkContext)
    val n = new AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("a bound-less commitAppend entry gets exact counts and bounds; reads prune it") {
    val (root, g, cat) = fresh()
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    val e = appendExternal(root, cat,
      "SELECT id AS k, IF(id % 10 = 0, NULL, concat('a', id)) AS v FROM range(1000, 1100)", "a")
    assert(e.recordCount == 100L && e.sizeBytes > 0L)
    val stats = e.stats.getOrElse(fail("the footer's stats must be recorded"))
    assert(stats.colMins == Map("k" -> "1000", "v" -> "a1001"))
    assert(stats.colMaxs == Map("k" -> "1099", "v" -> "a1099"))
    assert(stats.nullCounts == Map("k" -> 0L, "v" -> 10L))
    val summary = cat.snapshotSummary("t", cat.currentSnapshotId("t")).get
    assert(summary.operation == "append" && summary.addedRecords.contains(100L))
    // a point read outside the appended file's range opens none of it; one
    // inside reads only it
    def read(k: Long): (Long, Seq[String]) = {
      var out: Seq[String] = Nil
      val n = recordsRead {
        out = spark.sql(s"SELECT k, v FROM $g.t WHERE k = $k").collect().map(_.mkString("|")).toSeq
      }
      (n, out)
    }
    val (inDoorway, rows5) = read(5)
    assert(rows5 == Seq("5|v5") && inDoorway <= 1000L,
      s"the appended file must be pruned, read $inDoorway records")
    assert(read(1042) == ((100L, Seq("1042|a1042"))))
    assert(read(5000) == ((0L, Nil)))
  }

  test("a NaN file, a non-ASCII string file and an all-null column get no bounds") {
    val (root, _, cat) = fresh()
    cat.createTable("t", Nil)
    val nan = appendExternal(root, cat,
      "SELECT id AS k, IF(id = 3, CAST('NaN' AS DOUBLE), CAST(id AS DOUBLE)) AS d FROM range(0, 10)",
      "nan")
    assert(nan.recordCount == 10L)
    val ns = nan.stats.get
    assert(ns.colMins.get("k").contains("0") && !ns.colMins.contains("d") &&
      !ns.colMaxs.contains("d"), s"a floating column must get no bounds: $ns")
    val text = appendExternal(root, cat,
      "SELECT id AS k, IF(id = 1, 'é', 'b') AS s, CAST(NULL AS BIGINT) AS n FROM range(0, 5)",
      "text")
    val ts = text.stats.get
    assert(!ts.colMins.contains("s") && !ts.colMaxs.contains("s"),
      s"a non-ASCII string column must get no bounds: $ts")
    assert(!ts.colMins.contains("n") && !ts.colMaxs.contains("n") &&
      ts.nullCounts.get("n").contains(5L), s"an all-null column: counts only: $ts")
  }

  test("upsert data files commit with footer counts and bounds") {
    val (root, _, cat) = fresh()
    cat.createTable("t", Nil)
    appendExternal(root, cat, "SELECT id AS k, concat('v', id) AS v FROM range(0, 100)", "base")
    import spark.implicits._
    cat.upsert(spark, "t", (40L until 60L).map(k => (k, s"u$k")).toDF("k", "v"), Seq("k"),
      s"$root/_data/t/u1")
    val seq = cat.loadEntries("t").map(_.seqNum).max
    val written = cat.loadEntries("t").filter(e => e.kind == "data" && e.seqNum == seq)
    assert(written.nonEmpty && written.forall(_.stats.isDefined))
    assert(written.map(_.recordCount).sum == 20L)
    assert(written.flatMap(_.stats.get.colMins.get("k")).map(_.toLong).min == 40L)
    assert(written.flatMap(_.stats.get.colMaxs.get("k")).map(_.toLong).max == 59L)
  }
}
