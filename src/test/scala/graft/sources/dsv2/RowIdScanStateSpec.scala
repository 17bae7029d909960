package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.sources.{CompactionRunner, CompactionScheduler, GraftCatalog}
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Row-id reads (`_file`/`_pos`) serve from the snapshot's masked scan
  * state: a merge-on-read DML's read is file slices of the one planned,
  * delete-masked scan, pruned to the statement's covering files with no
  * planning job and no shuffle; a copy-on-write group filter prunes the
  * same state; and the row path still serves what the mask refuses.
  */
class RowIdScanStateSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"grid_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  /** A catalog root whose path holds a space, a `%` (as the literal text
    * `%2B`) and a `+`: `_file` must render all three literally.
    */
  private def awkwardRoot(): String =
    Files.createTempDirectory("graft row%2Bid+").toString

  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.mkString("|")).toSeq.sorted

  private def withoutMask[A](body: => A): A = {
    GraftColumnarMask.disableForProbes = true
    try body finally GraftColumnarMask.disableForProbes = false
  }

  /** `body`'s result, the jobs it started, and the plans of the queries
    * and commands it ran.
    */
  private def traced[A](body: => A): (A, Int, Seq[SparkPlan]) = {
    val jobs = new AtomicInteger()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      val a = body
      ListenerBridge.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (a, jobs.get(), plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scansOf) ++ other.subqueries.flatMap(scansOf)
  }

  private def shuffleFree(r: RDD[_]): Boolean = r.dependencies.forall {
    case _: ShuffleDependency[_, _, _] => false
    case d => shuffleFree(d.rdd)
  }

  /** The data files (canonical keys) a doorway scan serves, asserting it
    * serves masked columnar file slices with no shuffle in any part.
    */
  private def slicedFiles(scan: BatchScanExec): Set[String] =
    scan.inputRDD.partitions.toSeq.flatMap {
      case p: DataSourceRDDPartition => p.inputPartitions
      case other => fail(s"unexpected scan partition $other")
    }.flatMap {
      case GraftColumnarRddInputPartition(rdd, fp: FilePartition) =>
        assert(shuffleFree(rdd), s"a served slice depends on a shuffle: ${rdd.toDebugString}")
        fp.files.map(f => CompactionRunner.canonDecoded(f.filePath.toString)).toSeq
      case other => fail(s"expected a masked file slice, got $other")
    }.toSet

  /** Runs the merge-on-read `dml` and asserts its row-id read served
    * from the mask: one masked serve, file slices with no shuffle, and no
    * job but the write. Returns the files the read served.
    */
  private def maskedDml(dml: String): Set[String] = {
    val masked0 = GraftColumnarMask.maskedServed.get()
    val (_, jobs, plans) = traced(spark.sql(dml))
    assert(GraftColumnarMask.maskedServed.get() > masked0, s"the row-id read must serve masked: $dml")
    assert(jobs == 1, s"the row-id read must plan no job (the write is the one job), ran $jobs: $dml")
    val rowIdScans = plans.flatMap(scansOf).filter(_.output.exists(_.name == "_pos"))
    assert(rowIdScans.nonEmpty, s"no row-id scan in the plans of $dml:\n${plans.mkString("\n")}")
    rowIdScans.flatMap(slicedFiles).toSet
  }

  /** `SELECT *, _file, _pos` served by the mask equals the row path's,
    * row for row, and renders the catalog's literal paths.
    */
  private def rowIdsMatchRowPath(g: String, table: String, root: String): Unit = {
    val sql = s"SELECT *, _file, _pos FROM $g.$table"
    val masked0 = GraftColumnarMask.maskedServed.get()
    val masked = rows(sql)
    assert(GraftColumnarMask.maskedServed.get() > masked0, s"must serve masked: $sql")
    assert(masked == withoutMask(rows(sql)), s"masked row ids differ from the row path's: $sql")
    val files = spark.sql(sql).select("_file").distinct().collect().map(_.getString(0)).toSet
    val entries = new GraftCatalog(root).loadEntries(table).collect {
      case e if e.kind == "data" => CompactionRunner.canonKey(e.path)
    }.toSet
    assert(files.nonEmpty && files.subsetOf(entries), s"_file must render entry paths: $files")
    assert(files.forall(f => f.contains(" ") && f.contains("%2B") && f.contains("+")), files)
  }

  private def table(g: String, t: String): Unit = {
    spark.sql(s"CREATE TABLE $g.$t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read')")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $g.$t SELECT id, concat('v', id) " +
        s"FROM range(${i * 250}, ${(i + 1) * 250}, 1, 1)")
    }
  }

  test("a MoR DELETE's row-id read serves from the mask after a sweep, DVs and UPDATE-written files") {
    val root = awkwardRoot()
    val g = mount(root)
    val cat = new GraftCatalog(root)
    table(g, "t")
    spark.sql(s"DELETE FROM $g.t WHERE k < 500 AND k % 7 = 3")
    spark.sql(s"UPDATE $g.t SET v = concat(v, '!') WHERE k % 11 = 5")
    spark.sql(s"DELETE FROM $g.t WHERE k >= 500 AND k % 13 = 4")
    new CompactionScheduler(cat, s"$root/_data/sweeps", minAppendedFiles = 100,
      minDeleteFiles = 2).sweep(spark)
    cat.compactDeleteFiles(spark, "t", s"$root/_data/dv", asDeletionVectors = true)
    spark.sql(s"DELETE FROM $g.t WHERE k < 250 AND k % 17 = 6")
    spark.sql(s"UPDATE $g.t SET v = concat(v, '?') WHERE k >= 750 AND k % 19 = 2")
    val entries = cat.loadEntries("t")
    val dataBefore = entries.filter(_.kind == "data").map(e => CompactionRunner.canonKey(e.path))
    assert(entries.exists(e => e.kind == "posdel" && e.format == "dv"), "a deletion vector")
    assert(entries.exists(e => e.kind == "posdel" && e.format == "parquet"), "a position-delete file")
    assert(dataBefore.size > 4, "UPDATE-written data files")
    rowIdsMatchRowPath(g, "t", root)

    // the DML's pinned read prunes to the files its bounded predicate covers
    val served = maskedDml(s"DELETE FROM $g.t WHERE k BETWEEN 260 AND 490 AND k % 23 = 1")
    val covering = entries.collect {
      case e if e.kind == "data" && e.stats.forall(s =>
          s.colMins.get("k").forall(_.toLong <= 490L) &&
            s.colMaxs.get("k").forall(_.toLong >= 260L)) =>
        CompactionRunner.canonKey(e.path)
    }.toSet
    assert(served.nonEmpty && served.subsetOf(covering) && covering.size < dataBefore.size,
      s"served $served, covering $covering of ${dataBefore.size}")
    rowIdsMatchRowPath(g, "t", root)
    val live = (0L until 1000L).filterNot(k =>
      (k < 500 && k % 7 == 3) || (k >= 500 && k % 13 == 4) || (k < 250 && k % 17 == 6) ||
        (k >= 260 && k <= 490 && k % 23 == 1))
    assert(rows(s"SELECT k FROM $g.t") == live.map(_.toString).sorted)
    assert(rows(s"SELECT v FROM $g.t WHERE k = 819") == Seq("v819!?"))
  }

  test("a MoR DELETE's row-id read serves from the mask on delete-free and upsert snapshots") {
    val root = awkwardRoot()
    val g = mount(root)
    val cat = new GraftCatalog(root)
    table(g, "free")
    assert(cat.loadEntries("free").forall(_.kind == "data"))
    rowIdsMatchRowPath(g, "free", root)
    maskedDml(s"DELETE FROM $g.free WHERE k % 5 = 1")
    assert(rows(s"SELECT count(*) FROM $g.free") == Seq("800"))

    table(g, "up")
    import spark.implicits._
    cat.upsert(spark, "up", Seq((7L, "u"), (420L, "u"), (901L, "u")).toDF("k", "v"), Seq("k"),
      s"$root/_data/up/upsert-1")
    assert(cat.loadEntries("up").exists(_.kind == "eqdel"))
    rowIdsMatchRowPath(g, "up", root)
    maskedDml(s"DELETE FROM $g.up WHERE k % 10 = 1")
    assert(rows(s"SELECT k, v FROM $g.up WHERE k IN (7, 420, 901)") == Seq("420|u", "7|u"))
    assert(rows(s"SELECT count(*) FROM $g.up") == Seq("900"))
    rowIdsMatchRowPath(g, "up", root)
  }

  /** DELETE, UPDATE and MERGE on a fresh table of `ddl` with `load`ed
    * rows, then the table's rows by `cols`; `masked` says whether the
    * statements' row-id reads must serve masked or all refuse.
    */
  private def dmlRun(
      ddl: String,
      load: String,
      renames: Seq[(String, String)],
      statements: String => Seq[String],
      cols: String,
      masked: Boolean): Seq[String] = {
    val g = mount(Files.createTempDirectory("graft-rowid-fallback").toString)
    spark.sql(s"CREATE TABLE $g.t ($ddl) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read')")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO $g.t ${load.replace("$i", i.toString)}"))
    renames.foreach { case (a, b) => spark.sql(s"ALTER TABLE $g.t RENAME COLUMN $a TO $b") }
    statements(s"$g.t").foreach { sql =>
      val masked0 = GraftColumnarMask.maskedServed.get()
      spark.sql(sql)
      assert((GraftColumnarMask.maskedServed.get() > masked0) == masked,
        s"${if (masked) "the mask must serve" else "the mask must refuse"}: $sql")
    }
    rows(s"SELECT $cols FROM $g.t")
  }

  test("row-id reads the mask refuses fall back to the row path and modify the same rows") {
    spark.range(0, 600).selectExpr("id * 3 AS k", "id * 0.5 AS x", "id % 4 = 0 AS d")
      .createOrReplaceTempView("rowid_src")
    try {
      def longs(t: String) = Seq(
        s"DELETE FROM $t WHERE k % 7 = 3",
        s"UPDATE $t SET x = x + 1 WHERE k % 5 = 2",
        s"""MERGE INTO $t USING rowid_src s ON $t.k = s.k
           |WHEN MATCHED AND s.d THEN DELETE
           |WHEN MATCHED THEN UPDATE SET x = $t.x + s.x
           |WHEN NOT MATCHED THEN INSERT (k, x) VALUES (s.k, s.x)""".stripMargin)
      val load = "SELECT id, id * 0.25 FROM range($i * 400, ($i + 1) * 400, 1, 1)"
      val reference = dmlRun("k BIGINT, x DOUBLE", load, Nil, longs, "k, x", masked = true)
      assert(reference.size > 1000)
      // the probe switch
      assert(withoutMask(dmlRun("k BIGINT, x DOUBLE", load, Nil, longs, "k, x",
        masked = false)) == reference)
      // an unmaskable column type in every statement's projection
      assert(dmlRun("k BIGINT, x DECIMAL(12, 2)", load, Nil,
        t => longs(t).map(_.replace("k % 7 = 3", "x >= 0 AND k % 7 = 3")),
        "k, CAST(x AS DOUBLE)", masked = false) == reference)
      // a -> c then b -> a: the old files bind `a` to another field id
      assert(dmlRun("a BIGINT, b DOUBLE", load, Seq("a" -> "c", "b" -> "a"),
        t => longs(t).map(_.replace("k", "c").replace("x", "a")
          .replace("rowid_src s ON", "(SELECT k AS c, x AS a, d FROM rowid_src) s ON")),
        "c, a", masked = false) == reference)
    } finally spark.catalog.dropTempView("rowid_src")
  }

  test("a group-filtered copy-on-write UPDATE reads only the group's files through the state") {
    val root = awkwardRoot()
    val g = mount(root)
    val cat = new GraftCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) " +
        s"FROM range(${i * 250}, ${(i + 1) * 250}, 1, 1)")
    }
    val before = cat.loadEntries("t").map(e => CompactionRunner.canonKey(e.path)).toSet
    val base = cat.currentSnapshotId("t")
    val group = cat.loadEntries("t").collect {
      case e if e.stats.exists(_.colMins.get("k").exists(_.toLong == 250L)) =>
        CompactionRunner.canonKey(e.path)
    }.toSet
    assert(before.size == 4 && group.size == 1)
    val masked0 = GraftColumnarMask.maskedServed.get()
    val (_, _, plans) = traced(
      spark.sql(s"UPDATE $g.t SET v = 'u' WHERE k BETWEEN 250 AND 499 AND k % 50 = 7"))
    assert(GraftColumnarMask.maskedServed.get() > masked0, "the COW read must serve from the state")
    val cowScans = plans.flatMap(scansOf).filter(_.scan.isInstanceOf[GraftRowLevelScan])
    assert(cowScans.nonEmpty, plans.mkString("\n"))
    assert(cowScans.map(slicedFiles).forall(_ == group),
      s"the group-filtered read must read only $group: ${cowScans.map(slicedFiles)}")
    val after = cat.loadEntries("t").map(e => CompactionRunner.canonKey(e.path)).toSet
    assert(before -- after == group && (after -- before).nonEmpty,
      s"only the group's file is replaced: before $before after $after")
    assert(rows(s"SELECT k FROM $g.t WHERE v = 'u'") ==
      (257L to 457L by 50L).map(_.toString).sorted)
    assert(rows(s"SELECT count(*) FROM $g.t") == Seq("1000"))

    // serving the group from the snapshot's state, built from nothing in a
    // new session, plans no job
    val required = StructType(cat.schemaAt("t", base).get.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      .add("_file", "string", nullable = false)
    val fresh = spark.newSession()
    val (served, jobs, _) = traced(GraftScanState.serve(fresh, root, "t", Some(base), required,
      Array.empty, Some(group)))
    assert(jobs == 0, s"serving the group planned $jobs jobs")
    assert(served.flatMap {
      case s: GraftColumnarSlices => s.parts.collect { case fp: FilePartition =>
        fp.files.map(f => CompactionRunner.canonDecoded(f.filePath.toString)) }.flatten
      case other => fail(s"expected masked slices, got $other")
    }.toSet == group)
    assert(GraftScanState.serve(fresh, root, "t", Some(base), required, Array.empty,
      Some(Set.empty[String])).forall {
      case s: GraftSlices => s.parts.isEmpty
      case _ => false
    }, "an empty group serves nothing")
  }
}
