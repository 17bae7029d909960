package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.DataFileTask
import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Changelog (CDC) scans: net row-level I/D changes between snapshots,
  * derived from the snapshot file diff (delta files + referenced old files
  * only — never a full-table content diff), with compaction windows
  * rejected loudly.
  */
class ChangelogSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): (GraftCatalog, String) = {
    val cat = new GraftCatalog(
      Files.createTempDirectory("graft-cdc-cat").toString)
    val base = Files.createTempDirectory("graft-cdc-base").toString
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    (cat, Files.createTempDirectory("graft-cdc-out").toString)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
    df.select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("delete window emits exactly the suppressed rows as D") {
    val (cat, out) = freshTable()
    val s1 = cat.currentSnapshotId("t")
    val s2 = cat.deleteWhere(spark, "t", col("k") <= 3, out)
    val got = rows(cat.changelog(spark, "t", s1, s2))
    assert(got == Set((1L, "v1", "D"), (2L, "v2", "D"), (3L, "v3", "D")))
  }

  test("upsert window emits D old-versions plus I new-versions") {
    val (cat, out) = freshTable()
    val s1 = cat.currentSnapshotId("t")
    val s2 = cat.upsert(spark, "t",
      Seq((5L, "V5"), (101L, "v101")).toDF("k", "v"), Seq("k"), s"$out/u1")
    val got = rows(cat.changelog(spark, "t", s1, s2))
    assert(got == Set(
      (5L, "v5", "D"), // old version suppressed
      (5L, "V5", "I"), (101L, "v101", "I")))
  }

  test("insert-then-delete inside the window nets to nothing") {
    val (cat, out) = freshTable()
    val s1 = cat.currentSnapshotId("t")
    cat.upsert(spark, "t", Seq((200L, "v200")).toDF("k", "v"), Seq("k"), s"$out/u1")
    val s3 = cat.deleteWhere(spark, "t", col("k") === 200L, out)
    val got = rows(cat.changelog(spark, "t", s1, s3))
    assert(got.isEmpty, s"net window must hide the in-window row: $got")
  }

  test("rows already dead at `from` do not re-report") {
    val (cat, out) = freshTable()
    cat.deleteWhere(spark, "t", col("k") <= 5, out)
    val s2 = cat.currentSnapshotId("t")
    // overlapping predicate: 1..5 already dead, only 6..8 newly die
    val s3 = cat.deleteWhere(spark, "t", col("k") <= 8, out)
    val got = rows(cat.changelog(spark, "t", s2, s3))
    assert(got == Set((6L, "v6", "D"), (7L, "v7", "D"), (8L, "v8", "D")))
  }

  test("eq-delete window: diff bounded to the keys' candidate files, exact D rows") {
    val (cat, out) = freshTable()
    // a recorded schema is what makes TYPED bound pruning possible; the
    // clustered compaction lands 4 files with near-disjoint k ranges and
    // per-file k bounds in the snapshot
    cat.evolveSchema("t", graft.sources.FieldIds.stamp(
      cat.scanTable(spark, "t").schema))
    val (s1, _) = cat.compactTable(spark, "t", s"$out/c0",
      CompactionRunner.CompactionConfig(clusterBy = Seq("k"),
        statsCols = Seq("k", "v"), targetPartitions = 4))
    val s2 = cat.deleteWhereEq(spark, "t", Seq(5L, 7L).toDF("k"), out)
    val fromData = cat.loadEntriesAt("t", s1).filter(_.kind == "data")
    assert(fromData.size >= 3, "clustered compaction must land several files")
    // planning half: the delete keys' bounds name a PROPER subset — the
    // O(delta)-not-O(table) claim a point-delete CDC step rides on
    val cand = cat.changelogEqDiffCandidates(spark, "t", fromData,
      cat.loadEntriesAt("t", s2).filter(_.kind == "eqdel"),
      cat.schemaAt("t", s2))
    assert(cand.exists(c => c.nonEmpty && c.size < fromData.size),
      s"expected a bounded proper subset of ${fromData.size} files: $cand")
    // the pruned diff must still produce EXACTLY the suppressed rows
    val got = rows(cat.changelog(spark, "t", s1, s2))
    assert(got == Set((5L, "v5", "D"), (7L, "v7", "D")))
  }

  test("eq-delete window without metadata keeps every file (conservative)") {
    val (cat, out) = freshTable() // schema-less, stats-less, unpartitioned
    val s1 = cat.currentSnapshotId("t")
    val s2 = cat.deleteWhereEq(spark, "t", Seq(5L).toDF("k"), out)
    val fromData = cat.loadEntriesAt("t", s1).filter(_.kind == "data")
    val cand = cat.changelogEqDiffCandidates(spark, "t", fromData,
      cat.loadEntriesAt("t", s2).filter(_.kind == "eqdel"),
      cat.schemaAt("t", s2))
    assert(cand.contains(
      fromData.map(e => CompactionRunner.canonKey(e.path)).toSet),
      s"no metadata to prune by must keep all files: $cand")
    assert(rows(cat.changelog(spark, "t", s1, s2)) == Set((5L, "v5", "D")))
  }

  test("dropped-file, pos-delete and eq-delete kills in one window: " +
      "each D exactly once") {
    // the single-scan diff (r20) marks three kill conditions on one pass
    // — a row matched by MORE than one (here k=10: its file is DROPPED by
    // the range delete AND its key is in the eq-delete file) must still
    // report exactly once, and each condition alone must report
    val (cat, out) = freshTable()
    cat.setPartitionSpec("t", Seq(
      GraftCatalog.PartitionFieldDef("k_t", "truncate[50]", "k")))
    val (s1, _) = cat.compactTable(spark, "t", s"$out/c0",
      CompactionRunner.CompactionConfig(targetPartitions = 1))
    // remove-only commit: bin 0 (k 1..49) is fully covered -> metadata drop
    cat.deleteWhereRange(spark, "t", "k", 0, 49, out)
    assert(cat.loadEntries("t").count(_.kind == "data") <
      cat.loadEntriesAt("t", s1).count(_.kind == "data"),
      "the range delete must drop the covered partition's files")
    // eq-delete keys: 10 lives in the DROPPED file, 60 in a kept one
    cat.deleteWhereEq(spark, "t", Seq(10L, 60L).toDF("k"), out)
    // pos delete on a kept file
    val s4 = cat.deleteWhere(spark, "t", col("k") === 55L, out)
    val got = rows(cat.changelog(spark, "t", s1, s4))
    val want = ((1L to 49L) ++ Seq(55L, 60L)).map(k => (k, s"v$k", "D")).toSet
    assert(got == want,
      s"diff must be exact and duplicate-free; missing=${want -- got} " +
        s"extra=${got -- want}")
    // the collected rows were a set; ALSO prove no duplicates came back
    val n = cat.changelog(spark, "t", s1, s4).count()
    assert(n == want.size, s"expected ${want.size} D rows, got $n")
  }

  test("size-gated delete window: branch parts plan shuffle-free and " +
      "union to the changelog") {
    // the CDC stream serves changelogParts group-wise as LAZY file-task
    // partitions — legal only because a gated window's branches carry no
    // shuffle (LocalRelation marker builds + broadcast joins). This pins
    // that plan shape; if a shuffle reappears the stream silently falls
    // back to the eager materialize-then-reshuffle serving (correct but
    // the per-batch extra shuffle this round removed).
    val (cat, out) = freshTable()
    cat.deleteWhereEq(spark, "t", Seq(7L, 9L).toDF("k"), out)
    val s2 = cat.currentSnapshotId("t")
    cat.deleteWhere(spark, "t", col("k") === 20L, out) // pos delete
    cat.deleteWhereEq(spark, "t", Seq(30L).toDF("k"), out)
    val s4 = cat.upsert(spark, "t",
      Seq((101L, "v101")).toDF("k", "v"), Seq("k"), s"$out/u1")
    val parts = cat.changelogParts(spark, "t", s2, s4)
    assert(parts.size == 2, s"expected I and D branches, got ${parts.size}")
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      parts.foreach { p =>
        val shuffles = p.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
        }
        assert(shuffles.isEmpty,
          s"a gated window's branch must plan shuffle-free, got:\n" +
            p.queryExecution.executedPlan)
      }
    }
    val got = parts.map(rows).reduce(_ ++ _)
    assert(got == rows(cat.changelog(spark, "t", s2, s4)))
    assert(got == Set((20L, "v20", "D"), (30L, "v30", "D"),
      (101L, "v101", "I")))
  }

  test("eq-delete window reads the delete keys ONCE: the marker build " +
      "adds no jobs beyond the shared key collect") {
    // r21 folds r20's deliberately-kept double read: the window collect
    // (changelogEqKeyWindows) feeds both the candidate pruning and the
    // marker build, whose max-seq-per-key now folds on the driver — so
    // constructing the parts runs exactly the jobs of the key collect
    // itself and NOTHING more (previously: a second delete-file read +
    // collect per marker group). Planning-time work on the CDC stream's
    // per-micro-batch hot path.
    val (cat, out) = freshTable()
    val s1 = cat.currentSnapshotId("t")
    val s2 = cat.deleteWhereEq(spark, "t", Seq(5L, 7L).toDF("k"), out)
    val eqEntries = cat.loadEntriesAt("t", s2).filter(_.kind == "eqdel")
    val schema = cat.schemaAt("t", s2)
    def countJobs[T](body: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      val r =
        try body
        finally spark.sparkContext.removeSparkListener(l)
      (r, jobs.get())
    }
    // warm pass first: one-time schema-inference jobs must not skew either
    // side of the comparison
    cat.changelogParts(spark, "t", s1, s2)
    val (ws, collectJobs) =
      countJobs(cat.changelogEqKeyWindows(spark, eqEntries, schema))
    assert(ws.exists(_.nonEmpty), s"expected a bounded key window, got $ws")
    val (parts, planJobs) = countJobs(cat.changelogParts(spark, "t", s1, s2))
    assert(planJobs == collectJobs,
      s"constructing the parts must run only the shared key collect's " +
        s"$collectJobs jobs, ran $planJobs")
    assert(parts.map(rows).reduce(_ ++ _) ==
      Set((5L, "v5", "D"), (7L, "v7", "D")))
  }

  test("binary eq-delete keys: exact D rows through the ref-equality fallback") {
    // Array[Byte] keys have reference equality on the driver, so the
    // shared-window max-seq fold must NOT claim them
    // (GraftCatalog.driverGroupSafe) — the marker falls back to the
    // distributed/collected build and the diff stays exact and
    // duplicate-free
    val cat = new GraftCatalog(
      Files.createTempDirectory("graft-cdc-bin").toString)
    val base = Files.createTempDirectory("graft-cdc-bin-base").toString
    val out = Files.createTempDirectory("graft-cdc-bin-out").toString
    (1 to 20).map(k => (s"k$k".getBytes("UTF-8"), s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    assert(!GraftCatalog.driverGroupSafe(
      spark.read.parquet(s"$base/b0").select("k").schema.add("seq", "long")),
      "binary keys must be refused by the driver-grouping allowlist")
    val s1 = cat.currentSnapshotId("t")
    // two eq-delete commits so the same key appears under TWO seq nums —
    // the shape a wrong per-key max fold would double-report
    cat.deleteWhereEq(spark, "t",
      Seq("k5".getBytes("UTF-8"), "k7".getBytes("UTF-8")).toDF("k"), out)
    val s3 = cat.deleteWhereEq(spark, "t",
      Seq("k5".getBytes("UTF-8"), "k9".getBytes("UTF-8")).toDF("k"), out)
    val got = cat.changelog(spark, "t", s1, s3)
      .select("k", "v", "_change_type").collect()
      .map(r => (new String(r.getAs[Array[Byte]](0), "UTF-8"),
        r.getString(1), r.getString(2)))
    assert(got.length == got.toSet.size, s"duplicate D rows: ${got.toSeq}")
    assert(got.toSet == Set(("k5", "v5", "D"), ("k7", "v7", "D"),
      ("k9", "v9", "D")))
  }

  test("compaction inside the window is rejected; flanking windows work") {
    val (cat, out) = freshTable()
    val s1 = cat.currentSnapshotId("t")
    val s2 = cat.deleteWhere(spark, "t", col("k") === 1L, out)
    val (s3, _) = cat.compactTable(spark, "t", s"$out/c1")
    val s4 = cat.deleteWhere(spark, "t", col("k") === 2L, out)
    val err = intercept[GraftError.Metadata] {
      cat.changelog(spark, "t", s1, s4).collect()
    }
    assert(err.getMessage.contains("rewrite"))
    assert(rows(cat.changelog(spark, "t", s1, s2)) == Set((1L, "v1", "D")))
    assert(rows(cat.changelog(spark, "t", s3, s4)) == Set((2L, "v2", "D")))
  }

  test("a window over two footer-schema groups serves each branch per group, shuffle-free") {
    // doorway files (field ids) and an external plain-Spark file (none)
    // are two footer-schema groups; the window adds to both and deletes
    // from both
    val root = Files.createTempDirectory("graft-cdc-groups").toString
    val g = s"gcg_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    val cat = new GraftCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 100)")
    def external(lo: Long, hi: Long, tag: String): Unit = {
      val dir = s"$root/external/$tag"
      spark.range(lo, hi).selectExpr("id AS k", s"concat('$tag', id) AS v")
        .coalesce(1).write.parquet(dir)
      cat.commitAppend("t", CompactionRunner.listParquet(dir).map(GraftCatalog.AddedFile(_)))
    }
    external(100, 150, "a")
    val s1 = cat.currentSnapshotId("t")
    external(150, 160, "b")
    cat.upsert(spark, "t", Seq((5L, "u5"), (120L, "u120"), (170L, "u170")).toDF("k", "v"),
      Seq("k"), s"$root/_data/t/u1")
    cat.deleteWhere(spark, "t", col("k") === 7L || col("k") === 130L, s"$root/_data/t/d1")
    val s2 = cat.currentSnapshotId("t")
    val parts = cat.changelogParts(spark, "t", s1, s2)
    def branches(tag: String) = parts.count(_.filter(col("_change_type") === tag)
      .limit(1).count() == 1)
    assert(branches("I") >= 2 && branches("D") >= 2,
      s"each branch must span both groups, got ${parts.size} parts")
    def shuffleFree(r: org.apache.spark.rdd.RDD[_]): Boolean = r match {
      case _: org.apache.spark.rdd.UnionRDD[_] => false
      case _ => r.dependencies.forall {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => false
        case d => shuffleFree(d.rdd)
      }
    }
    parts.foreach { p =>
      assert(shuffleFree(org.apache.spark.sql.graftbridge.DatasetBridge.internalRowRddNoAqe(p)),
        s"a per-group branch must serve without a shuffle:\n${p.queryExecution.executedPlan}")
    }
    // the rows are the snapshots' difference
    def at(s: Long): Set[(Long, String)] = spark.sql(s"SELECT k, v FROM $g.t VERSION AS OF $s")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val (before, after) = (at(s1), at(s2))
    val expected = (before -- after).map { case (k, v) => (k, v, "D") } ++
      (after -- before).map { case (k, v) => (k, v, "I") }
    assert(parts.map(rows).reduce(_ ++ _) == expected)
    assert(rows(cat.changelog(spark, "t", s1, s2)) == expected)
    assert(expected.size == 10 + 3 + 2 + 2)
  }
}
