package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.SparkSpec
import graft.sources.{CompactionRunner, GraftCatalog}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.StructType

/** Delta-built scan states: a head read after a commit builds its state
  * from the previous head state of the same table and projection —
  * decoding only the delete files the commit added and re-planning only
  * the footer-schema group whose files it changed. Every sequence is
  * checked against the same read in a FRESH session, whose state is built
  * from nothing.
  */
class GraftScanStateDeltaSpec extends SparkSpec {

  private def mount(s: SparkSession, root: String, g: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$g.root", root)
  }

  private def fresh(root: String): (String, GraftCatalog) = {
    val g = s"gsd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    mount(spark, root, g)
    (g, new GraftCatalog(root))
  }

  private def rows(s: SparkSession, sql: String): Seq[String] =
    s.sql(sql).collect().map(_.mkString("|")).toSeq.sorted

  /** `sql` read here (through the delta-built states) equals the same
    * read in a new session (built from nothing); returns the rows.
    */
  private def sameAsCold(root: String, g: String, sql: String): Seq[String] = {
    val warm = rows(spark, sql)
    val cold = spark.newSession()
    mount(cold, root, g)
    assert(warm == rows(cold, sql), s"delta-built read differs from a cold one: $sql")
    warm
  }

  /** (jobs started, records read) while `body` runs. */
  private def probe(body: => Unit): (Int, Long) = {
    val jobs = new AtomicInteger()
    val records = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get(), records.get())
  }

  /** A merge-on-read table like the CDC benchmark's: four doorway files
    * (keys 0..999), one upsert (equality deletes on k 990 and 995) and one
    * external plain-Spark file (keys 1000..1099) in its own footer-schema
    * group. Its head state is built before it is returned.
    */
  private def cdcTable(): (String, String, GraftCatalog) = {
    val root = Files.createTempDirectory("graft-delta").toString
    val (g, cat) = fresh(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) " +
        s"FROM range(${i * 250}, ${(i + 1) * 250})")
    }
    upsert(root, cat, Seq(990L, 995L), "u0")
    append(root, cat, 1000L until 1100L, "a0")
    assert(cat.loadEntries("t").exists(_.kind == "eqdel"))
    assert(rows(spark, s"SELECT k, v FROM $g.t WHERE k = 990") == Seq("990|u0"))
    (root, g, cat)
  }

  private def upsert(root: String, cat: GraftCatalog, keys: Seq[Long], tag: String): Unit = {
    import spark.implicits._
    cat.upsert(spark, "t", keys.map(k => (k, tag)).toDF("k", "v"), Seq("k"),
      s"$root/_data/t/upsert-$tag")
  }

  private def append(root: String, cat: GraftCatalog, keys: Seq[Long], tag: String): Unit = {
    val dir = s"$root/external/$tag"
    spark.range(keys.head, keys.last + 1).selectExpr("id AS k", s"concat('$tag', id) AS v")
      .coalesce(1).write.parquet(dir)
    cat.commitAppend("t", CompactionRunner.listParquet(dir).map(GraftCatalog.AddedFile(_)))
  }

  /** The raw scans under a head state's masked groups (each served rdd
    * is the mask mapped over its group's raw scan).
    */
  private def rawScans(root: String, required: StructType): Seq[RDD[_]] =
    GraftScanState.serve(spark, root, "t", None, required, Array.empty, None).map {
      case s: GraftColumnarSlices => s.rdd.dependencies.head.rdd
      case other => fail(s"expected a masked columnar state, got $other")
    }

  test("upsert -> read: plans no job, decodes only the new file") {
    val (root, g, cat) = cdcTable()
    upsert(root, cat, Seq(7L, 420L, 1050L), "u1")
    val df = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 420")
    val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
    val (jobs, _) = probe(df.queryExecution.executedPlan)
    assert(jobs == 0, s"a read after an upsert decodes its new delete file on the driver, ran $jobs jobs")
    val decoded = GraftColumnarMask.deleteFilesDecoded.get() - decoded0
    assert(decoded == 1, s"only the new eq-delete file may be decoded, decoded $decoded")
    assert(df.collect().map(_.mkString("|")).toSeq == Seq("420|u1"))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1100)
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k IN (7, 990, 1050)") ==
      Seq("1050|u1", "7|u1", "990|u0"))
  }

  test("append -> read: a fresh-literal read plans no job and re-plans one group") {
    val (root, g, cat) = cdcTable()
    val required = StructType(cat.currentSchema("t").get.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val before = rawScans(root, required)
    assert(before.size >= 2, s"the fixture must span footer-schema groups, got ${before.size}")
    append(root, cat, 2000L until 2010L, "a1")
    val df = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 2004")
    val (jobs, _) = probe(df.queryExecution.executedPlan)
    assert(jobs == 0, s"a read after an append decodes nothing new, ran $jobs jobs")
    assert(df.collect().map(_.mkString("|")).toSeq == Seq("2004|a12004"))
    val after = rawScans(root, required)
    assert(after.size == before.size)
    assert(after.count(r => !before.exists(_ eq r)) == 1,
      "only the group the appended file joined may be planned again")
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1110)
  }

  test("library deleteWhere (position deletes) -> read") {
    val (root, g, cat) = cdcTable()
    cat.deleteWhere(spark, "t", col("k").between(100, 1050) && col("k") % 3 === 0,
      s"$root/_data/t/delete-1")
    assert(cat.loadEntries("t").exists(_.kind == "posdel"))
    val all = sameAsCold(root, g, s"SELECT k, v FROM $g.t")
    assert(all.size == 1100 - (100 to 1050).count(_ % 3 == 0))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k BETWEEN 295 AND 305") ==
      Seq("295|v295", "296|v296", "298|v298", "299|v299", "301|v301", "302|v302",
        "304|v304", "305|v305"))
  }

  test("eq -> DV sweep -> read") {
    val (root, g, cat) = cdcTable()
    upsert(root, cat, Seq(3L, 600L), "u1")
    cat.rewriteEqDeletes(spark, "t", s"$root/_data/t/dv-1", asDeletionVectors = true)
    val entries = cat.loadEntries("t")
    assert(!entries.exists(_.kind == "eqdel") && entries.exists(_.format == "dv"))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1100)
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k IN (3, 600, 995)") ==
      Seq("3|u1", "600|u1", "995|u0"))
  }

  test("full compaction (every file removed) -> read, then an upsert -> read") {
    val (root, g, cat) = cdcTable()
    cat.compactTable(spark, "t", s"$root/_data/t/c1",
      CompactionRunner.CompactionConfig(targetPartitions = 2))
    assert(!cat.loadEntries("t").exists(_.kind != "data"))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1100)
    upsert(root, cat, Seq(1L, 1099L), "u1")
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1100)
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k IN (1, 990, 1099)") ==
      Seq("1099|u1", "1|u1", "990|u0"))
  }

  test("add-column -> read") {
    val (root, g, cat) = cdcTable()
    spark.sql(s"ALTER TABLE $g.t ADD COLUMN w INT")
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k >= 990") ==
      ((990 until 1100).map(k => s"$k|" + (if (k == 990 || k == 995) "u0"
        else if (k >= 1000) s"a0$k" else s"v$k"))).sorted)
    spark.sql(s"INSERT INTO $g.t VALUES (5000, 'late', 7)")
    spark.sql(s"UPDATE $g.t SET v = 'u1' WHERE k = 4")
    assert(sameAsCold(root, g, s"SELECT k, v, w FROM $g.t WHERE k IN (4, 5000)") ==
      Seq("4|u1|null", "5000|late|7"))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1101)
  }

  test("rollback to an older snapshot -> read") {
    val (root, g, cat) = cdcTable()
    val s1 = cat.currentSnapshotId("t")
    val atS1 = rows(spark, s"SELECT k, v FROM $g.t")
    upsert(root, cat, Seq(10L, 20L), "u1")
    append(root, cat, 3000L until 3005L, "a1")
    assert(rows(spark, s"SELECT k, v FROM $g.t").size == 1105)
    cat.rollbackTo("t", s1)
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t") == atS1)
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k IN (10, 3001)") ==
      Seq("10|v10"))
  }

  test("VERSION AS OF reads beside delta-built head reads") {
    val (root, g, cat) = cdcTable()
    val s1 = cat.currentSnapshotId("t")
    upsert(root, cat, Seq(11L), "u1")
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k = 11") == Seq("11|u1"))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t VERSION AS OF $s1 WHERE k = 11") ==
      Seq("11|v11"))
    // the pinned read must not become the head lineage's predecessor
    append(root, cat, 4000L until 4003L, "a1")
    upsert(root, cat, Seq(4001L), "u2")
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t WHERE k >= 4000") ==
      Seq("4000|a14000", "4001|u2", "4002|a14002"))
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t VERSION AS OF $s1").size == 1100)
    assert(sameAsCold(root, g, s"SELECT k, v FROM $g.t").size == 1103)
  }

  test("a point read over a multi-group state runs one task; a read pruning every file none") {
    // two footer-schema groups, every file with bounds (an external file
    // committed without them never prunes), pending position deletes
    val root = Files.createTempDirectory("graft-delta-tasks").toString
    val (g, cat) = fresh(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    val dir = s"$root/external/a0"
    spark.range(1000, 1100).selectExpr("id AS k", "concat('a0', id) AS v")
      .coalesce(1).write.parquet(dir)
    cat.commitAppend("t", CompactionRunner.listParquet(dir).map(p =>
      GraftCatalog.AddedFile(p, colMins = Map("k" -> "1000"), colMaxs = Map("k" -> "1099"))))
    spark.sql(s"DELETE FROM $g.t WHERE k >= 900 AND k < 1000")
    assert(cat.loadEntries("t").exists(_.kind == "posdel"))
    assert(rows(spark, s"SELECT k, v FROM $g.t WHERE k = 1").size == 1)
    val required = StructType(cat.currentSchema("t").get.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    assert(rawScans(root, required).size == 2)
    def tasks(sql: String): (Int, Seq[String]) = {
      val n = new AtomicInteger()
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = n.incrementAndGet()
      }
      val df = spark.sql(sql)
      df.queryExecution.executedPlan
      spark.sparkContext.addSparkListener(l)
      val out = try {
        val r = df.collect().map(_.mkString("|")).toSeq.sorted
        ListenerBridge.drain(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(l)
      (n.get(), out)
    }
    assert(tasks(s"SELECT k, v FROM $g.t WHERE k = 7") == (1 -> Seq("7|v7")),
      "the group no surviving file belongs to must serve no partition")
    assert(tasks(s"SELECT k, v FROM $g.t WHERE k = 1042") == (1 -> Seq("1042|a01042")))
    assert(tasks(s"SELECT k, v FROM $g.t WHERE k = 99999") == (0 -> Nil),
      "a read pruning every file runs no scan task")
    assert(rows(spark, s"SELECT count(*), max(v) FROM $g.t WHERE k > 99999") == Seq("0|null"))
    assert(rows(spark, s"SELECT k FROM $g.t WHERE k < -5 UNION ALL SELECT 1") == Seq("1"))
  }

  test("a doorway scan counts each record it reads once, as plain Spark does") {
    val root = Files.createTempDirectory("graft-delta-records").toString
    val (g, cat) = fresh(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT /*+ REPARTITION(3) */ id, concat('v', id) " +
      "FROM range(0, 3000)")
    val files = cat.loadEntries("t").filter(_.kind == "data").map(_.path)
    def recordsOf(read: => Array[_]): Long = probe(read)._2
    val plain = recordsOf(spark.read.parquet(files: _*).select("k", "v").collect())
    assert(plain == 3000L)
    assert(recordsOf(spark.sql(s"SELECT k, v FROM $g.t").collect()) == plain,
      "a delete-free doorway scan")
    // position deletes: the masked rows were read too, as a plain read of
    // the same files reads them
    spark.sql(s"DELETE FROM $g.t WHERE k >= 2900")
    assert(cat.loadEntries("t").exists(_.kind == "posdel"))
    val masked = spark.sql(s"SELECT k, v FROM $g.t")
    masked.queryExecution.executedPlan
    var served = 0
    assert(recordsOf { val r = masked.collect(); served = r.length; r } == plain,
      "a masked doorway scan")
    assert(served == 2900)
  }
}
