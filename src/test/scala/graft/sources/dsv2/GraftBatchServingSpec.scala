package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.sources.GraftCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType

/** The DSv2 batch serving shape: doorway SELECT partitions are per-group
  * file-task slices served from LAZY narrow plans — planning them runs NO
  * Spark job for plain scans (multi-schema-group tables included; the old
  * union rebuild added a whole shuffle), and only the driver-small delete
  * broadcasts for MoR scans. The reference's file-task scan contract
  * (`iceberg_file_task_scan.rs:224-314`) re-expressed over Spark plans.
  */
class GraftBatchServingSpec extends SparkSpec {

  /** (jobs started, data records read) while `body` runs. Planning may
    * run METADATA work (footer digests on first contact, the driver-local
    * seq-list broadcast) but must never read data rows — records-read is
    * the discriminator between metadata planning and the old
    * execute-the-scan-then-serve bridge.
    */
  private def probe(body: => Unit): (Int, Long) = {
    val jobs = new AtomicInteger()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener bus is async; give queued events a moment to drain
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get(), records.get())
  }

  private def mountCatalog(root: String): String = {
    val g = s"gb_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  test("plain SELECT plans file-task partitions with ZERO jobs, even multi-group") {
    val root = Files.createTempDirectory("graft-serve").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('a', id) FROM range(0, 1000)")
    // evolve the schema so the next insert lands a SECOND physical schema
    // group (renamed column binds by field id)
    spark.sql(s"ALTER TABLE $g.t RENAME COLUMN v TO label")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('b', id) FROM range(1000, 2000)")
    val cat = new GraftCatalog(root)
    val groups = cat.scanTableFrames(spark, "t", None)
    assert(groups.size == 2, s"fixture must span two schema groups, got ${groups.size}")

    val scan = new GraftV1Scan(root, "t", None,
      StructType(cat.currentSchema("t").get.takeRight(2)), Array.empty)
    var partitions = 0
    val (jobs, records) = probe {
      partitions = scan.toBatch.planInputPartitions().length
    }
    assert(partitions >= 2, s"expected per-group file-task partitions, got $partitions")
    assert(records == 0L,
      s"planning a plain doorway scan must read ZERO data rows (read $records)")

    // re-planning (the DSv2 engine probes partitions repeatedly) is
    // cache-served: no footer or schema-inference jobs remain, only the
    // driver-local seq-list broadcast minis
    val (jobs2, records2) = probe {
      scan.toBatch.planInputPartitions()
    }
    assert(records2 == 0L && jobs2 <= jobs,
      s"re-planning must stay metadata-only (jobs $jobs -> $jobs2, records $records2)")

    // and the served rows are complete and correct through bare SQL
    assert(spark.sql(s"SELECT count(*), min(label), max(k) FROM $g.t").head()
      .toSeq == Seq(2000L, "a0", 1999L))
  }

  test("plain reads serve COLUMNAR batches; deletes and filters fall back to rows") {
    val root = Files.createTempDirectory("graft-serve-col").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 2000)")

    def batchScan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan:\n" +
        df.queryExecution.executedPlan))

    // a bare projection read is served as the scan's own ColumnarBatches —
    // the consuming query's ColumnarToRow is the only row conversion
    val plain = spark.sql(s"SELECT k, v FROM $g.t")
    assert(batchScan(plain).supportsColumnar,
      "plain no-delete doorway read must serve columnar:\n" +
        plain.queryExecution.executedPlan)
    assert(plain.count() == 2000L)
    assert(spark.sql(s"SELECT sum(k) FROM $g.t").head().getLong(0) ==
      1999L * 2000L / 2)

    // a pushed filter peels too (the doorway keeps EVERY filter residual
    // on the Spark side, so the engine's post-scan Filter re-checks it —
    // serving the scan's unfiltered batches is correct and vectorized)
    val filtered = spark.sql(s"SELECT k, v FROM $g.t WHERE v = 'v7'")
    assert(batchScan(filtered).supportsColumnar,
      "filtered delete-free read should still serve columnar:\n" +
        filtered.queryExecution.executedPlan)
    assert(filtered.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      == Seq((7L, "v7")))

    // pending POSITION deletes stay columnar: deleted positions are
    // masked inside each batch (zero-copy for untouched batches) instead
    // of planning a row anti join — same exact rows
    spark.sql(s"DELETE FROM $g.t WHERE k >= 1000")
    val masked0 = GraftColumnarMask.maskedServed.get()
    val afterDelete = spark.sql(s"SELECT k, v FROM $g.t")
    assert(batchScan(afterDelete).supportsColumnar,
      "pos-delete-bearing read must serve masked columnar:\n" +
        afterDelete.queryExecution.executedPlan)
    assert(afterDelete.count() == 1000L)
    assert(spark.sql(s"SELECT sum(k), min(k), max(k) FROM $g.t").head().toSeq ==
      Seq(999L * 1000L / 2, 0L, 999L))
    assert(GraftColumnarMask.maskedServed.get() > masked0,
      "the read must go through the vectorized mask path")

    // EQUALITY deletes stay columnar too: the bounded key set broadcasts
    // as a hash probe on the key columns with the `seq <` guard — the
    // continuously-upserted CDC read keeps vectorization between
    // compactions (the r13 verdict's one perf-weak item, closed)
    spark.sql(s"DELETE FROM $g.t WHERE k IN (1, 3)") // key-equality -> eqdel
    assert(new GraftCatalog(root).loadEntries("t").exists(_.kind == "eqdel"))
    val eq0 = GraftColumnarMask.maskedEqServed.get()
    val afterEq = spark.sql(s"SELECT k, v FROM $g.t")
    assert(batchScan(afterEq).supportsColumnar,
      "eq-delete-bearing read must serve masked columnar:\n" +
        afterEq.queryExecution.executedPlan)
    assert(afterEq.count() == 998L)
    assert(GraftColumnarMask.maskedEqServed.get() > eq0,
      "the read must go through the vectorized eq mask")
  }

  test("repeat reads of an unchanged snapshot reuse the served plan; commits miss") {
    val root = Files.createTempDirectory("graft-serve-plancache").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $g.t WHERE k >= 900") // pending position deletes
    def snap = new GraftCatalog(root).currentSnapshotId("t")
    def planJobs(sql: String): Int = {
      val df = spark.sql(sql)
      val (jobs, _) = probe(df.queryExecution.executedPlan)
      assert(df.count() == 900L)
      jobs
    }
    // the first read builds the snapshot's state: it decodes the delete
    // set (on the driver, no planning job)
    val posFiles = new GraftCatalog(root).loadEntries("t").count(_.kind == "posdel")
    val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
    assert(planJobs(s"SELECT k, v FROM $g.t") == 0)
    assert(posFiles > 0 && GraftColumnarMask.deleteFilesDecoded.get() - decoded0 == posFiles)
    val s1 = snap
    // the identical re-read plans from the state: no job, no decode
    assert(planJobs(s"SELECT k, v FROM $g.t") == 0,
      "a repeat read of an unchanged snapshot must reuse its scan state")
    assert(GraftColumnarMask.deleteFilesDecoded.get() - decoded0 == posFiles,
      "a repeat read of an unchanged snapshot must reuse its decoded deletes")
    // a commit changes the snapshot id — the state misses, fresh rows serve
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('w', id) FROM range(1000, 1100)")
    assert(snap > s1)
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 1000L)
    assert(spark.sql(s"SELECT k FROM $g.t WHERE k >= 1000").count() == 100L)
  }

  test("DROP + CREATE of the same name never serves the dropped table's cache") {
    // snapshot ids restart at 1 on re-create and dropTable leaves data
    // files on disk, so without a table-generation discriminator (the
    // creation UUID) the re-created table's reads would reproduce the
    // dropped generation's cache key exactly — and silently serve its rows
    val root = Files.createTempDirectory("graft-serve-recreate").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('old', id) FROM range(0, 100)")
    assert(spark.sql(s"SELECT k, v FROM $g.t").count() == 100L)
    // repeat read: the served-plan cache holds this generation's groups
    assert(spark.sql(s"SELECT k, v FROM $g.t").count() == 100L)
    spark.sql(s"DROP TABLE $g.t")
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)") // same name, same schema
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('new', id) FROM range(0, 50)")
    // same name, same snapshot id (CREATE=1, INSERT=2), same projection:
    // only the creation UUID distinguishes the generations
    val rows = spark.sql(s"SELECT k, v FROM $g.t").collect()
    assert(rows.length == 50, s"must serve the NEW table, got ${rows.length} rows")
    assert(rows.forall(_.getString(1).startsWith("new")),
      "a cache hit on the dropped generation would serve 'old' rows")
  }

  test("MoR SELECT stays lazy: planning runs only the delete-side broadcasts") {
    val root = Files.createTempDirectory("graft-serve-del").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    // metadata-path DELETE commits pos-delete files (no rewrite)
    spark.sql(s"DELETE FROM $g.t WHERE k >= 900")
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("t").exists(_.kind == "posdel"))

    val deleted = 100L
    val scan = new GraftV1Scan(root, "t", None,
      StructType(cat.currentSchema("t").get.take(1)), Array.empty)
    var partitions = 0
    val (_, records) = probe {
      partitions = scan.toBatch.planInputPartitions().length
    }
    assert(partitions >= 1)
    // the pos-delete anti join broadcasts the (driver-small) delete SET —
    // reading those rows is the reference's own planning cost; reading
    // the DATA rows (1000 here) would mean the scan pre-executed
    assert(records <= deleted,
      s"planning a MoR doorway scan may read only the delete set " +
        s"(<= $deleted rows), read $records")
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 900L)
  }

  test("key-equality DELETE commits an eq-delete reading ZERO data files") {
    val root = Files.createTempDirectory("graft-serve-eqdel").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, grp STRING, v STRING)")
    spark.sql(
      s"INSERT INTO $g.t SELECT id, concat('g', id % 7), concat('v', id) FROM range(0, 5000)")
    val cat = new GraftCatalog(root)
    val dataBefore = cat.loadEntries("t").filter(_.kind == "data").map(_.path).toSet

    // single-key point delete: the 100 TB shape — the KEY becomes the
    // delete file, no data file is opened to find positions
    val (_, records) = probe {
      spark.sql(s"DELETE FROM $g.t WHERE k = 4321")
    }
    val entries = cat.loadEntries("t")
    assert(entries.filter(_.kind == "data").map(_.path).toSet == dataBefore)
    val eqdels = entries.filter(_.kind == "eqdel")
    assert(eqdels.nonEmpty && eqdels.last.eqCols == Seq("k"),
      eqdels.map(e => (e.path, e.eqCols)).mkString("; "))
    assert(records <= 5,
      s"eq-delete commit must not read data files (read $records records)")

    // multi-column equality and IN take the same path
    spark.sql(s"DELETE FROM $g.t WHERE k = 17 AND grp = 'g3'")
    spark.sql(s"DELETE FROM $g.t WHERE k IN (1, 2, 3)")
    val kinds = new GraftCatalog(root).loadEntries("t")
    assert(kinds.count(_.kind == "eqdel") == 3)
    assert(kinds.count(_.kind == "posdel") == 0,
      "pure key-equality DELETEs must never take the positional path")
    // 5000 - (4321) - (17, g3 matches since 17 % 7 == 3) - (1,2,3)
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 4995L)
    // a RANGE delete still takes the positional path
    spark.sql(s"DELETE FROM $g.t WHERE k >= 4990")
    val after = new GraftCatalog(root).loadEntries("t")
    assert(after.exists(_.kind == "posdel"))
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 4985L)
  }

  test("a dim-filtered join runtime-prunes the fact table's bucket files") {
    val root = Files.createTempDirectory("graft-serve-dpp").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.fact (k BIGINT, v STRING) PARTITIONED BY (bucket(8, k))")
    spark.sql(s"INSERT INTO $g.fact SELECT id, concat('v', id) FROM range(0, 8000)")
    val cat = new GraftCatalog(root)
    val data = cat.loadEntries("fact").filter(_.kind == "data")
    assert(data.map(_.partitionVals("k_bucket")).distinct.size == 8)
    val total = 8000L

    // two surviving dim keys -> at most two buckets' files may hold
    // matches. The dim must be FILE-backed with a real Filter: Spark only
    // inserts DPP when the build side has a selective predicate, and a
    // local relation's filter constant-folds away before that check
    import spark.implicits._
    (0L until 100L).map(i => (i, if (i == 41 || i == 42) "x" else "y"))
      .toDF("k", "tag").write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("dpp_dim")
    val joined = spark.sql(
      s"SELECT f.k, f.v FROM $g.fact f JOIN dpp_dim d ON f.k = d.k WHERE d.tag = 'x'")
    assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "the join must plan a runtime filter on the fact scan")
    val (_, records) = probe {
      assert(joined.collect().map(_.getLong(0)).sorted.toSeq == Seq(41L, 42L))
    }
    val matchBuckets = Seq(41L, 42L)
      .map(graft.functions.IcebergMurmur3.bucketLong(_, 8)).distinct
    val boundRows = data.filter(e =>
      matchBuckets.contains(e.partitionVals("k_bucket").toInt))
      .map(_.recordCount).sum
    // the pruned scan reports each row it read once; the dim adds its
    // ~100 (subquery + build)
    assert(records <= boundRows + 300,
      s"runtime join pruning must read only the ${matchBuckets.size} " +
        s"matching buckets' rows (<= $boundRows of $total), read $records")
  }

  test("co-bucketed tables storage-partition join with ZERO shuffles") {
    val root = Files.createTempDirectory("graft-serve-spj").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.a (k BIGINT, va STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $g.b (k BIGINT, vb STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $g.a SELECT id, concat('a', id) FROM range(0, 2000)")
    spark.sql(s"INSERT INTO $g.b SELECT id * 2, concat('b', id * 2) FROM range(0, 1000)")

    // the transforms are real catalog functions too (Iceberg's spelling)
    assert(spark.sql(s"SELECT $g.system.bucket(4, 41)").head().getInt(0) ==
      graft.functions.IcebergMurmur3.bucketLong(41L, 4))

    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getAll.get(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $g.a a JOIN $g.b b ON a.k = b.k")
      val rows = joined.collect()
      assert(rows.length == 1000 &&
        rows.forall(r => r.getLong(0) % 2 == 0 && r.getLong(0) < 2000),
        s"got ${rows.length}")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        "co-bucketed doorway tables must join WITHOUT a shuffle:\n" + plan)
      // the keyed tuple frames are provably delete-free bare scans —
      // SPJ serving must be vectorized too (the scan sits under the
      // already-final AdaptiveSparkPlan and its query stages, both
      // collect-opaque leaves)
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            Seq(b)
          case other => other.children.flatMap(scansOf)
        }
      val scans = scansOf(joined.queryExecution.executedPlan)
      assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
        "keyed (SPJ) serving of delete-free tables must be columnar:\n" + plan)
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("keyed serving regroups ONE plan per scan — never the per-tuple fallback") {
    val root = Files.createTempDirectory("graft-serve-oneplan").toString
    val g = mountCatalog(root)
    // bucket(256): 200+ materialized tuples — over the RETIRED 128-tuple
    // cap, so this join only stays shuffle-free because one-plan serving
    // made keyed planning O(files) instead of O(tuples × Catalyst)
    spark.sql(s"CREATE TABLE $g.wa (k BIGINT, va STRING) PARTITIONED BY (bucket(256, k))")
    spark.sql(s"CREATE TABLE $g.wb (k BIGINT, vb STRING) PARTITIONED BY (bucket(256, k))")
    spark.sql(s"INSERT INTO $g.wa SELECT id, concat('a', id) FROM range(0, 4000)")
    spark.sql(s"INSERT INTO $g.wb SELECT id * 2, concat('b', id * 2) FROM range(0, 2000)")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getAll.get(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val onePlan0 = GraftKeyedServing.onePlanServed.get()
    try {
      val joined = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $g.wa a JOIN $g.wb b ON a.k = b.k")
      val rows = joined.collect()
      assert(rows.length == 2000 &&
        rows.forall(r => r.getLong(0) % 2 == 0 && r.getLong(0) < 4000),
        s"got ${rows.length}")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "co-bucketed(256) tables must join WITHOUT a shuffle:\n" + plan)
      assert(GraftKeyedServing.onePlanServed.get() > onePlan0,
        "keyed reads must serve through the one-plan regroup " +
          "(the per-tuple fallback no longer exists)")
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a static IN point lookup prunes to the covering files") {
    // `k IN (...)` carried STATICALLY by the query routes through the
    // same partition/stats/bloom keep set DPP runtime filters use —
    // without this, only single-equality and range shapes pruned and an
    // IN lookup read the whole table
    val root = Files.createTempDirectory("graft-serve-instatic").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    // range-partitioned write: each file gets tight disjoint
    // writer-stamped bounds, so the keep set is provably small
    spark.sql(s"INSERT INTO $g.t SELECT /*+ REPARTITION_BY_RANGE(8, id) */ " +
      "id, concat('v', id) FROM range(0, 1000)")
    val keep = new GraftCatalog(root)
      .inKeepPaths(spark, "t", "k", Seq(7L, 13L, 700L))
    assert(keep.nonEmpty && keep.size <= 3,
      s"fixture must prune to a small keep set, got ${keep.size}")
    // compare the filtered read against a baseline measured the same way
    val (_, recordsAll) = probe {
      spark.sql(s"SELECT k, v FROM $g.t").collect()
    }
    val (_, records) = probe {
      val out = spark.sql(s"SELECT k, v FROM $g.t WHERE k IN (7, 13, 700)")
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 13L, 700L))
    }
    assert(records * 2 < recordsAll,
      s"the IN lookup must open only covering files, read $records " +
        s"vs unfiltered $recordsAll")
  }

  test("unbroadcastable delete sets refuse the keyed layout up front") {
    // the invariant that made the per-tuple fallback deletable: a
    // snapshot whose delete sets cannot PROVABLY broadcast (here: an
    // unknown manifest size) never claims KeyGroupedPartitioning at ANY
    // width — the read degrades to an ordinary (shuffled) join, which is
    // strictly cheaper than r13's per-tuple Catalyst loop, and the rows
    // stay exact
    val root = Files.createTempDirectory("graft-serve-nokeyed").toString
    val g = mountCatalog(root)
    spark.sql(
      s"""CREATE TABLE $g.a (k BIGINT, va STRING) PARTITIONED BY (bucket(4, k))
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $g.a SELECT id, concat('a', id) FROM range(0, 1000)")
    val cat = new GraftCatalog(root)
    // a pos-delete whose manifest SIZE is unknown (-1): provability gone
    val target = cat.loadEntries("a").find(_.kind == "data").get.path
    val delDir = s"$root/_data/a/nokeyed-del"
    import spark.implicits._
    Seq((target, 0L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(delDir)
    val delPath = graft.sources.CompactionRunner.listParquet(delDir).head
    cat.commitRowDelta("a", cat.currentSnapshotId("a"), Nil,
      Seq(GraftCatalog.AddedFile(delPath, "parquet",
        recordCount = 1L, sizeBytes = -1L)))
    val olds = Seq("spark.sql.sources.v2.bucketing.enabled")
      .map(k => k -> spark.conf.getAll.get(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val onePlan0 = GraftKeyedServing.onePlanServed.get()
    try {
      val out = spark.sql(s"SELECT k, va FROM $g.a")
      val rows = out.collect()
      // the first row of the target file is suppressed; everything else serves
      assert(rows.length == 999, s"got ${rows.length}")
      assert(GraftKeyedServing.onePlanServed.get() == onePlan0,
        "an unprovable delete set must refuse the keyed layout entirely")
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("SPJ survives pending MoR deletes: exchange-free AND post-delete rows") {
    val root = Files.createTempDirectory("graft-serve-spj-del").toString
    val g = mountCatalog(root)
    spark.sql(
      s"""CREATE TABLE $g.a (k BIGINT, va STRING) PARTITIONED BY (bucket(4, k))
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"CREATE TABLE $g.b (k BIGINT, vb STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $g.a SELECT id, concat('a', id) FROM range(0, 2000)")
    spark.sql(s"INSERT INTO $g.b SELECT id * 2, concat('b', id * 2) FROM range(0, 1000)")
    // a PENDING MoR delete on one side: rows leave, files stay; the
    // delete is row-local to its tuples, so the co-partitioning claim
    // must survive and the join stays exchange-free (Iceberg's posture)
    spark.sql(s"DELETE FROM $g.a WHERE k % 10 = 4") // untranslatable % -> MoR
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("a").exists(_.kind == "posdel"),
      "fixture must leave a pending position delete")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getAll.get(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val onePlanDel0 = GraftKeyedServing.onePlanServed.get()
    try {
      val joined = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $g.a a JOIN $g.b b ON a.k = b.k")
      val rows = joined.collect()
      val expect = (0 until 2000 by 2).filter(_ % 10 != 4)
      assert(rows.map(_.getLong(0)).sorted.toSeq == expect.map(_.toLong),
        s"post-delete join rows wrong: got ${rows.length}, want ${expect.length}")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "a pending MoR delete must not cost the join its storage " +
          "partitioning:\n" + plan)
      // the delete side is explicitly broadcast (sized from the manifest,
      // independent of the -1 threshold; the layout admission REFUSES
      // snapshots whose delete sets can't broadcast), so the MoR chain
      // stays narrow and keyed serving takes the one-plan path
      assert(GraftKeyedServing.onePlanServed.get() > onePlanDel0,
        "SPJ with pending deletes must serve through the one-plan regroup")
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("runtime join pruning still prunes files under keyed serving") {
    // DPP file pruning applies INSIDE the keyed regroup: pruned files are
    // skipped but their tuple groups survive (served empty), so the keyed
    // scan reads only the matching buckets AND keeps its key count.
    val root = Files.createTempDirectory("graft-serve-dpp-keyed").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.fact (k BIGINT, v STRING) PARTITIONED BY (bucket(8, k))")
    spark.sql(s"INSERT INTO $g.fact SELECT id, concat('v', id) FROM range(0, 8000)")
    val data = new GraftCatalog(root).loadEntries("fact").filter(_.kind == "data")
    import spark.implicits._
    (0L until 100L).map(i => (i, if (i == 41 || i == 42) "x" else "y"))
      .toDF("k", "tag").write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("dpp_dim_k")
    val old = spark.conf.getAll.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val joined = spark.sql(
        s"SELECT f.k, f.v FROM $g.fact f JOIN dpp_dim_k d ON f.k = d.k WHERE d.tag = 'x'")
      assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "the join must plan a runtime filter on the fact scan")
      val (_, records) = probe {
        assert(joined.collect().map(_.getLong(0)).sorted.toSeq == Seq(41L, 42L))
      }
      val matchBuckets = Seq(41L, 42L)
        .map(graft.functions.IcebergMurmur3.bucketLong(_, 8)).distinct
      val boundRows = data.filter(e =>
        matchBuckets.contains(e.partitionVals("k_bucket").toInt))
        .map(_.recordCount).sum
      assert(records <= 2 * boundRows + 300,
        s"keyed serving must apply runtime file pruning " +
          s"(2x-counted <= ${2 * boundRows} of 16000), read $records")
    } finally old.fold(
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
  }

  test("MoR UPDATE is exactly-once with storage-partitioned serving on") {
    // regression: with v2 bucketing enabled the UPDATE's row-id scan used
    // to serve keyed — one whole-table frame re-served once per tuple, so
    // every updated row was written N× on an N-tuple table. Row-id scans
    // must refuse the keyed layout.
    val root = Files.createTempDirectory("graft-serve-mor-upd").toString
    val g = mountCatalog(root)
    val old = spark.conf.getAll.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      spark.sql(
        s"""CREATE TABLE $g.u (k BIGINT, grp STRING)
           |PARTITIONED BY (grp)
           |TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""".stripMargin)
      spark.sql(s"INSERT INTO $g.u SELECT id, concat('g', id % 3) FROM range(0, 300)")
      spark.sql(s"UPDATE $g.u SET k = k + 1000 WHERE k % 10 = 7")
      val dataRows = new GraftCatalog(root).loadEntries("u")
        .filter(_.kind == "data").map(_.recordCount).sum
      assert(dataRows == 330L, // 300 originals + exactly 30 new versions
        s"MoR UPDATE must write each new row version once, got $dataRows")
      assert(spark.sql(s"SELECT count(*), sum(k) FROM $g.u").head().toSeq ==
        Seq(300L, (0L until 300L).map(k => if (k % 10 == 7) k + 1000 else k).sum))
    } finally old.fold(
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
  }

  test("SPJ survives time travel: as-of join on co-bucketed tables is exchange-free") {
    val root = Files.createTempDirectory("graft-serve-spj-asof").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.a (k BIGINT, va STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $g.b (k BIGINT, vb STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $g.a SELECT id, concat('a', id) FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $g.b SELECT id, concat('b', id) FROM range(0, 1000)")
    val pinA = new GraftCatalog(root).currentSnapshotId("a")
    // rows landing AFTER the pinned snapshot must not appear in the
    // as-of read — and must not cost it the keyed layout either
    spark.sql(s"INSERT INTO $g.a SELECT id, concat('late', id) FROM range(5000, 6000)")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getAll.get(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.sql(
        s"""SELECT a.k, a.va, b.vb
           |FROM $g.a VERSION AS OF $pinA a JOIN $g.b b ON a.k = b.k""".stripMargin)
      val rows = joined.collect()
      assert(rows.length == 1000 && rows.forall(_.getLong(0) < 1000),
        s"as-of join must see only the pinned snapshot: got ${rows.length}")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "historical snapshots carry the same tuple bindings — time " +
          "travel must keep the storage-partitioned join:\n" + plan)
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("GROUP BY the bucketed key aggregates with ZERO shuffles (keyed scan)") {
    val root = Files.createTempDirectory("graft-serve-spja").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $g.t SELECT id % 50, id * 0.5 FROM range(0, 2000)")
    val old = spark.conf.getAll.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = spark.sql(s"SELECT k, sum(v) AS s FROM $g.t GROUP BY k")
      val rows = agg.collect()
      assert(rows.length == 50 &&
        rows.map(_.getDouble(1)).sum == (0 until 2000).map(_ * 0.5).sum)
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate") && !plan.contains("Exchange"),
        "grouping by the bucketed key must aggregate WITHOUT a shuffle " +
          "(KeyGroupedPartitioning satisfies the aggregate's " +
          "distribution):\n" + plan)
      assert(plan.contains("ColumnarToRow"),
        "keyed serving should be vectorized:\n" + plan)
    } finally old.fold(
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
  }

  test("days()-partitioned tables storage-partition join shuffle-free too") {
    val root = Files.createTempDirectory("graft-serve-spjd").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.a (ts TIMESTAMP, va STRING) PARTITIONED BY (days(ts))")
    spark.sql(s"CREATE TABLE $g.b (ts TIMESTAMP, vb STRING) PARTITIONED BY (days(ts))")
    spark.sql(s"""INSERT INTO $g.a SELECT
      timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id % 96 AS INT),0,0),
      concat('a', id) FROM range(0, 400)""")
    spark.sql(s"""INSERT INTO $g.b SELECT
      timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id % 96 AS INT),0,0),
      concat('b', id) FROM range(0, 200)""")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getAll.get(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.sql(
        s"SELECT a.ts, a.va, b.vb FROM $g.a a JOIN $g.b b ON a.ts = b.ts")
      // every b row matches ~2 a rows with the same (id % 96) timestamp
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "co-day-partitioned doorway tables must join WITHOUT a shuffle:\n" +
          plan)
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("GROUP BY partition column answers from the manifest: one row per tuple") {
    val root = Files.createTempDirectory("graft-serve-gagg").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, grp INT) PARTITIONED BY (grp)")
    spark.sql(
      s"INSERT INTO $g.t SELECT id, CAST(id % 5 AS INT) FROM range(0, 1000)")

    val grouped = spark.sql(
      s"SELECT grp, count(*) AS n FROM $g.t GROUP BY grp ORDER BY grp")
    assert(grouped.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "grouped COUNT must be manifest-answered (LocalTableScan), got:\n" +
        grouped.queryExecution.executedPlan)
    assert(grouped.collect().toSeq.map(r => (r.getInt(0), r.getLong(1)))
      == (0 until 5).map(g => (g, 200L)))

    // SELECT DISTINCT part_col is the same pushdown with no aggregates
    val distinct = spark.sql(s"SELECT DISTINCT grp FROM $g.t ORDER BY grp")
    assert(distinct.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "DISTINCT on the partition column must be manifest-answered:\n" +
        distinct.queryExecution.executedPlan)
    assert(distinct.collect().map(_.getInt(0)).toSeq == (0 until 5))

    // grouping by a NON-partition column must scan (and stay exact)
    val byK = spark.sql(
      s"SELECT k % 2 AS b, count(*) AS n FROM $g.t GROUP BY 1 ORDER BY 1")
    assert(!byK.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(byK.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      == Seq((0L, 500L), (1L, 500L)))

    // a pending delete makes per-group counts unprovable — falls back
    spark.sql(s"DELETE FROM $g.t WHERE k < 10")
    val after = spark.sql(
      s"SELECT grp, count(*) AS n FROM $g.t GROUP BY grp ORDER BY grp")
    assert(!after.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "pending deletes must refuse the grouped metadata answer")
    assert(after.collect().toSeq.map(r => (r.getInt(0), r.getLong(1)))
      == (0 until 5).map(g => (g, 198L)))
  }

  test("COUNT/MIN/MAX answer from the manifest; pending deletes fall back exactly") {
    val root = Files.createTempDirectory("graft-serve-agg").toString
    val g = mountCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id + 10, concat('v', id) FROM range(0, 5000)")
    // COUNT(*) from recorded file counts: zero data rows read
    val (_, cntRecords) = probe {
      assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 5000L)
    }
    assert(cntRecords == 0L,
      s"metadata COUNT(*) must open no data file (read $cntRecords rows)")

    // MIN/MAX need per-file bounds: compact with stats, then both answer
    // from the manifest fold
    val cat = new GraftCatalog(root)
    cat.compactTable(spark, "t", s"$root/staged",
      graft.sources.CompactionRunner.CompactionConfig(targetPartitions = 4,
        clusterBy = Seq("k"), statsCols = Seq("k")))
    val (_, mmRecords) = probe {
      assert(spark.sql(s"SELECT min(k), max(k), count(*) FROM $g.t").head()
        .toSeq == Seq(10L, 5009L, 5000L))
    }
    assert(mmRecords == 0L,
      s"metadata MIN/MAX must open no data file (read $mmRecords rows)")

    // a pending delete could have suppressed the extreme row / any row:
    // the pushdown must REFUSE and the scan still answers exactly
    spark.sql(s"DELETE FROM $g.t WHERE k = 10") // eq-delete fast path
    val r = spark.sql(s"SELECT count(*), min(k), max(k) FROM $g.t").head()
    assert(r.toSeq == Seq(4999L, 11L, 5009L), r.toSeq)

    // a WHERE disables the metadata answer (filters survive residual)
    assert(spark.sql(s"SELECT count(*) FROM $g.t WHERE k > 5000").head()
      .getLong(0) == 9L)
  }
}
