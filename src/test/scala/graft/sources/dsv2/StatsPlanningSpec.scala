package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.UncountedCommit
import graft.sources.GraftCatalog
import org.apache.spark.sql.sources

/** Statistics CONSUMED in planning (round-18):
  *
  *  - `estimateStatistics` is filter-aware: pushed conjuncts prune the
  *    estimate through recorded bounds and identity partition tuples, so
  *    a partition-filtered build side estimates at its post-prune size;
  *  - unknown manifest counts (imported/REST files without record
  *    counts) fall back per tuple to the partition-statistics rollup —
  *    the estimate comes from the stats FILE, not a guess;
  *  - theta-sketch NDVs served as V2 column stats flip a filtered dim
  *    join to broadcast under CBO where it would otherwise sort-merge.
  */
class StatsPlanningSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gsp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  private def estimate(
      root: String, table: String, filters: Array[sources.Filter])
      : org.apache.spark.sql.connector.read.Statistics = {
    val tbl = new GraftV2Table(root, table, asOf = None)
    val b = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    if (filters.nonEmpty)
      b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(filters)
    b.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
  }

  test("filter-aware estimate prunes by identity partition tuples") {
    val root = Files.createTempDirectory("graft-splan").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    // skew: s0 tiny, s1 large — a seg='s0' filter must shrink the estimate
    spark.sql(s"INSERT INTO $g.t SELECT id, 's0' FROM range(0, 10)")
    spark.sql(s"INSERT INTO $g.t SELECT id, 's1' FROM range(0, 10000)")
    val full = estimate(root, "t", Array.empty)
    val pruned = estimate(root, "t",
      Array(sources.EqualTo("seg", "s0")))
    assert(full.numRows().isPresent && full.numRows().getAsLong == 10010L)
    assert(pruned.numRows().isPresent && pruned.numRows().getAsLong == 10L,
      s"identity-tuple pruning must keep only s0: ${pruned.numRows()}")
    assert(pruned.sizeInBytes().getAsLong * 10 < full.sizeInBytes().getAsLong,
      s"${pruned.sizeInBytes()} vs ${full.sizeInBytes()}")
    // IN prunes the same way; a non-matching value keeps nothing extra
    val in = estimate(root, "t",
      Array(sources.In("seg", Array("s0", "nope"))))
    assert(in.numRows().getAsLong == 10L)
  }

  test("unknown manifest counts estimate from the partition-stats rollup") {
    val root = Files.createTempDirectory("graft-splan-roll").toString
    val g = mount(root)
    // t1: the "foreign" table whose data files and partition-statistics
    // exist; t2 mounts the same files BY REFERENCE with unknown counts
    // (the imported/REST-appended shape) plus the adopted stats pointer
    spark.sql(s"CREATE TABLE $g.t1 (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $g.t1 SELECT id, concat('s', id % 4) " +
      "FROM range(0, 2000)")
    spark.sql(s"CALL $g.system.compute_table_stats('t1')").collect()
    val cat = new GraftCatalog(root)
    val pref = cat.partitionStatistics("t1").get
    spark.sql(s"CREATE TABLE $g.t2 (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    val files = cat.loadEntries("t1").filter(_.kind == "data").map(e =>
      GraftCatalog.AddedFile(e.path)) // recordCount/sizeBytes = -1: unknown
    UncountedCommit(files)(cat.commitAppend("t2", _))
    // without the rollup the estimate is POISONED (the old conservative
    // behavior — never mis-broadcast an unbounded table)
    val blind = estimate(root, "t2", Array.empty)
    assert(!blind.sizeInBytes().isPresent && !blind.numRows().isPresent)
    // adopt the stats pointer: the estimate now comes from the stats file
    cat.adoptStatistics("t2", cat.currentSnapshotId("t2"), pref.path,
      pref.fileSizeInBytes, pref.footerSizeInBytes, partition = true)
    val sized = estimate(root, "t2", Array.empty)
    assert(sized.numRows().isPresent && sized.numRows().getAsLong == 2000L,
      s"rollup-backed rows: ${sized.numRows()}")
    assert(sized.sizeInBytes().isPresent && sized.sizeInBytes().getAsLong > 0)
    // and the filter-aware path composes: one tuple's rollup numbers
    val one = estimate(root, "t2", Array(sources.EqualTo("seg", "s1")))
    assert(one.numRows().isPresent && one.numRows().getAsLong == 500L,
      s"per-tuple rollup rows: ${one.numRows()}")
  }

  test("rows and bytes estimate independently; rollups never fabricate zeros") {
    val root = Files.createTempDirectory("graft-splan-indep").toString
    val g = mount(root)
    // unpartitioned, file SIZES known but record counts unknown (the
    // REST-appended-external shape): sizeInBytes must keep serving (the
    // pre-r18 behavior), numRows must stay honest-unknown
    spark.sql(s"CREATE TABLE $g.u (k BIGINT)")
    spark.sql(s"INSERT INTO $g.u SELECT id FROM range(0, 100)")
    val cat = new GraftCatalog(root)
    val staged = java.nio.file.Files.createTempDirectory("gsp-staged")
    spark.range(50).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val p = graft.sources.CompactionRunner.listParquet(staged.toString).head
    UncountedCommit(Seq(GraftCatalog.AddedFile(p,
      sizeBytes = java.nio.file.Files.size(java.nio.file.Paths.get(p)))))(cat.commitAppend("u", _))
    val st = estimate(root, "u", Array.empty)
    assert(st.sizeInBytes().isPresent && st.sizeInBytes().getAsLong > 0,
      "known sizes must keep serving when only counts are unknown")
    assert(!st.numRows().isPresent, "unknown counts must not fabricate rows")
    // ...and an ANALYZE over unknown-count files must OMIT their tuples
    // from the rollup rather than roll them up as zero — a fabricated
    // 0-row estimate would mis-broadcast an unbounded table
    spark.sql(s"CREATE TABLE $g.z (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $g.z SELECT id, 's0' FROM range(0, 100)")
    val zfiles = cat.loadEntries("z").filter(_.kind == "data").map(_.path)
    spark.sql(s"CREATE TABLE $g.z2 (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    UncountedCommit(zfiles.map(GraftCatalog.AddedFile(_)))(cat.commitAppend("z2", _))
    spark.sql(s"CALL $g.system.compute_table_stats('z2')").collect()
    val z2 = estimate(root, "z2", Array.empty)
    assert(!z2.numRows().isPresent && !z2.sizeInBytes().isPresent,
      s"zero-fabricated rollup: ${z2.numRows()} / ${z2.sizeInBytes()}")
  }

  test("identity-date partitions key the rollup canonically") {
    val root = Files.createTempDirectory("graft-splan-date").toString
    val g = mount(root)
    // t1: date-partitioned with partition statistics; td mounts the same
    // files BY REFERENCE with unknown counts plus the adopted stats
    // pointer (the import shape — every unknown file is COVERED by the
    // stats snapshot, so the rollup substitutes). The rollup's typed
    // Date slot must match the catalog's identity-date tuple rendering
    // through the canonical key.
    spark.sql(s"CREATE TABLE $g.t1 (k BIGINT, d DATE) PARTITIONED BY (d)")
    spark.sql(s"INSERT INTO $g.t1 SELECT id, " +
      "date_add(date'2024-01-01', CAST(id % 2 AS INT)) FROM range(0, 200)")
    spark.sql(s"CALL $g.system.compute_table_stats('t1')").collect()
    val cat = new GraftCatalog(root)
    val pref = cat.partitionStatistics("t1").get
    spark.sql(s"CREATE TABLE $g.td (k BIGINT, d DATE) PARTITIONED BY (d)")
    val files = cat.loadEntries("t1").filter(_.kind == "data").map(e =>
      GraftCatalog.AddedFile(e.path)) // recordCount/sizeBytes = -1: unknown
    UncountedCommit(files)(cat.commitAppend("td", _))
    assert(cat.loadEntries("td").exists(e =>
      e.recordCount < 0 && e.partitionVals.get("d").contains("2024-01-01")),
      cat.loadEntries("td").map(e => (e.path, e.partitionVals)).toString)
    cat.adoptStatistics("td", cat.currentSnapshotId("td"), pref.path,
      pref.fileSizeInBytes, pref.footerSizeInBytes, partition = true)
    val st = estimate(root, "td", Array.empty)
    assert(st.numRows().isPresent,
      "the rollup lookup must hit for identity-date tuples (canonical key)")
    assert(st.numRows().getAsLong == 200L, st.numRows().toString)
  }

  test("a post-stats unknown-count append poisons the tuple's rollup estimate") {
    val root = Files.createTempDirectory("graft-splan-stale").toString
    val g = mount(root)
    // the adopted-import shape that legitimately serves from the rollup...
    spark.sql(s"CREATE TABLE $g.t1 (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $g.t1 SELECT id, concat('s', id % 2) " +
      "FROM range(0, 1000)")
    spark.sql(s"CALL $g.system.compute_table_stats('t1')").collect()
    val cat = new GraftCatalog(root)
    val pref = cat.partitionStatistics("t1").get
    spark.sql(s"CREATE TABLE $g.t2 (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    UncountedCommit(cat.loadEntries("t1").filter(_.kind == "data")
      .map(e => GraftCatalog.AddedFile(e.path)))(cat.commitAppend("t2", _))
    cat.adoptStatistics("t2", cat.currentSnapshotId("t2"), pref.path,
      pref.fileSizeInBytes, pref.footerSizeInBytes, partition = true)
    assert(estimate(root, "t2", Array.empty).numRows().getAsLong == 1000L)
    // ...then a tuple GROWS after the stats snapshot with an unknown-count
    // file: the rollup no longer covers it, so serving the recorded tuple
    // size would present a stale LOWER bound as confident (the
    // mis-broadcast hazard) — the estimate must poison instead
    val sd = Files.createTempDirectory("gsp-stale-extra")
    spark.range(100000).selectExpr("id AS k").coalesce(1)
      .write.parquet(s"$sd/seg=s1")
    val extra = graft.sources.CompactionRunner.listParquet(s"$sd/seg=s1")
    assert(extra.nonEmpty)
    UncountedCommit(extra.map(GraftCatalog.AddedFile(_)))(cat.commitAppend("t2", _))
    val stale = estimate(root, "t2", Array.empty)
    assert(!stale.numRows().isPresent && !stale.sizeInBytes().isPresent,
      s"an uncovered unknown-count tuple must poison the estimate: " +
        s"${stale.numRows()} / ${stale.sizeInBytes()}")
    // tuples the growth didn't touch still estimate post-prune (the
    // poison is per-dimension over SURVIVING tuples, not table-global)
    val s0 = estimate(root, "t2", Array(sources.EqualTo("seg", "s0")))
    assert(s0.numRows().isPresent && s0.numRows().getAsLong == 500L,
      s"untouched tuples keep their rollup estimate: ${s0.numRows()}")
  }

  test("pending position deletes serve the exact post-delete row count") {
    val root = Files.createTempDirectory("graft-splan-posdel").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.m (k BIGINT, seg BIGINT)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    // two files with disjoint key ranges (prunable), NDV recorded before
    // the delete (the stale-but-served Iceberg convention)
    spark.sql(s"INSERT INTO $g.m SELECT id, id % 100 FROM range(0, 10000)")
    spark.sql(s"INSERT INTO $g.m SELECT id, id % 100 FROM range(10000, 20000)")
    spark.sql(s"CALL $g.system.compute_table_stats('m')").collect()
    // untranslatable predicate -> WriteDelta position deletes
    spark.sql(s"DELETE FROM $g.m WHERE k % 7 = 3")
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("m").exists(_.kind == "posdel"))
    assert(!cat.loadEntries("m").exists(_.kind == "eqdel"))
    val live = (0L until 20000L).count(_ % 7 != 3)
    val st = estimate(root, "m", Array.empty)
    assert(st.numRows().isPresent && st.numRows().getAsLong == live,
      s"pending pos-deletes must subtract exactly: ${st.numRows()} vs $live")
    // a PRUNED estimate under pending deletes still withholds rows (the
    // table-wide delete cardinality may reference pruned files —
    // subtracting it could UNDERcount, the mis-broadcast direction) while
    // bytes keep serving
    val pruned = estimate(root, "m",
      Array(sources.GreaterThanOrEqual("k", 15000L)))
    assert(!pruned.numRows().isPresent,
      s"pruned-with-deletes must withhold rows: ${pruned.numRows()}")
    assert(pruned.sizeInBytes().isPresent)
    // the exact count is what keeps CBO decisions alive on an upserted
    // table: the NDV-driven broadcast flip survives the pending deletes
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString)
    withConfs(confs: _*) {
      val plan = spark.sql(
        s"""SELECT f.id, d.k FROM range(0, 100000) f
           |JOIN $g.m d ON f.id % 20000 = d.k WHERE d.seg = 7""".stripMargin)
        .queryExecution.sparkPlan
      val bhj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.size
      assert(bhj == 1,
        s"the exact post-delete row count must keep the dim broadcast:\n$plan")
    }
    // eq-deletes stay conservative: their suppressed-row count needs the
    // key join, so ANY pending eq-delete withholds the row count again
    spark.sql(s"DELETE FROM $g.m WHERE k IN (4, 11)") // key equality -> eqdel
    assert(cat.loadEntries("m").exists(_.kind == "eqdel"),
      cat.loadEntries("m").map(_.kind).toString)
    assert(!estimate(root, "m", Array.empty).numRows().isPresent,
      "pending eq-deletes must withhold the row count")
  }

  test("entry bounds serve as min/max/nullCount column stats") {
    val root = Files.createTempDirectory("graft-splan-minmax").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 5000)")
    spark.sql(s"CALL $g.system.compute_table_stats('t')").collect()
    val st = estimate(root, "t", Array.empty)
    import scala.jdk.CollectionConverters._
    val byName = st.columnStats().asScala.map { case (ref, cs) =>
      ref.fieldNames().mkString(".") -> cs
    }
    val kcs = byName("k")
    assert(kcs.min().isPresent && kcs.min().get == 0L, kcs.min().toString)
    assert(kcs.max().isPresent && kcs.max().get == 4999L, kcs.max().toString)
    assert(kcs.nullCount().isPresent && kcs.nullCount().getAsLong == 0L)
    // strings: no numeric range — min/max stay absent, NDV still serves
    assert(!byName("v").min().isPresent && !byName("v").max().isPresent)
    assert(byName("v").distinctCount().isPresent)
    // a range-pruned estimate composes with the bounds: the filter-aware
    // surviving set shrinks min/max too (post-prune range, not global)
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) " +
      "FROM range(100000, 105000)")
    val pruned = estimate(root, "t",
      Array(sources.GreaterThanOrEqual("k", 100000L)))
    val pk = pruned.columnStats().asScala
      .find(_._1.fieldNames().mkString(".") == "k").get._2
    assert(pk.min().isPresent && pk.min().get.asInstanceOf[Long] >= 100000L,
      s"post-prune min must come from surviving files: ${pk.min()}")
  }

  test("dangling-possible position deletes withhold the exact row count") {
    val root = Files.createTempDirectory("graft-splan-dangle").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.m (k BIGINT, v STRING)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $g.m SELECT id, concat('v', id) FROM range(0, 5000)")
    val cat = new GraftCatalog(root)
    cat.compactTable(spark, "m", s"$root/m/_data/c0")
    spark.sql(s"DELETE FROM $g.m WHERE k % 7 = 3") // pos-deletes
    val live1 = (0L until 5000L).count(_ % 7 != 3)
    assert(!cat.posDeleteDanglingPossible("m"),
      "no data file has been removed while the delete pends")
    assert(estimate(root, "m", Array.empty).numRows().getAsLong == live1)
    // an append doesn't endanger the subtraction...
    spark.sql(s"INSERT INTO $g.m SELECT id, concat('v', id) " +
      "FROM range(5000, 10000)")
    assert(estimate(root, "m", Array.empty).numRows().getAsLong == live1 + 5000)
    // ...but an INCREMENTAL compaction rewrites the delta files away
    // while the posdel stays pending — its positions could now dangle,
    // and subtracting them could UNDERCOUNT (mis-broadcast direction)
    cat.compactTableIncremental(spark, "m", s"$root/m/_data/c1")
    assert(cat.loadEntries("m").exists(_.kind == "posdel"),
      "the incremental rewrite must leave the posdel pending")
    assert(cat.posDeleteDanglingPossible("m"),
      "a data-file removal while the delete pends must flag the hazard")
    assert(!estimate(root, "m", Array.empty).numRows().isPresent,
      "dangling-possible deletes must withhold the row count")
    // a FULL compaction retires the pending set: exact rows come back
    // through the delete-free path
    cat.compactTable(spark, "m", s"$root/m/_data/c2")
    assert(!cat.loadEntries("m").exists(_.kind != "data"))
    assert(estimate(root, "m", Array.empty).numRows().getAsLong == live1 + 5000)
  }

  test("equi-height histograms fix skewed range selectivity under CBO") {
    val root = Files.createTempDirectory("graft-splan-histo").toString
    val g = mount(root)
    // heavy skew: 99% of keys in [0, 100), the tail spread to 20000 —
    // uniform interpolation inside [min, max] estimates `k > 1000` at
    // ~95% selectivity (true: 1%), keeping the filtered dim too big to
    // broadcast; the histogram concentrates the mass where it is
    spark.sql(s"CREATE TABLE $g.dim (k BIGINT, seg BIGINT)")
    spark.sql(s"INSERT INTO $g.dim SELECT IF(id < 19800, id % 100, id), id " +
      "FROM range(0, 20000)")
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString)
    withConfs(confs: _*) {
      def bhj(): Int = spark.sql(
        s"""SELECT f.id, d.seg FROM range(0, 200000) f
           |JOIN $g.dim d ON f.id % 20000 = d.k WHERE d.k > 1000""".stripMargin)
        .queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        }.size
      spark.sql(s"CALL $g.system.compute_table_stats('dim')").collect()
      assert(bhj() == 0,
        "NDV + bounds alone interpolate the skewed range at ~95% — no broadcast")
      spark.sql(s"CALL $g.system.compute_table_stats('dim', " +
        "histograms => true)").collect()
      val cat = new GraftCatalog(root)
      val h = cat.columnHistograms("dim")
      assert(h.contains("k") && h("k").bins.size == GraftCatalog.HistogramBins,
        s"histogram blobs must record and serve: ${h.keys}")
      // payload codec round-trips exactly
      assert(GraftCatalog.decodeHistogram(
        GraftCatalog.encodeHistogram(h("k"))).contains(h("k")))
      assert(bhj() == 1,
        "the histogram must shrink the skewed range estimate to ~1% -> broadcast")
      // stickiness: a plain re-ANALYZE (the statsSweep shape) keeps
      // maintaining the histograms once requested
      spark.sql(s"CALL $g.system.compute_table_stats('dim')").collect()
      assert(cat.columnHistograms("dim").contains("k"),
        "re-analysis must keep recorded histograms maintained")
      assert(bhj() == 1)
    }
  }

  test("served NDV flips a filtered dim join to broadcast under CBO") {
    val root = Files.createTempDirectory("graft-splan-bhj").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.dim (k BIGINT, seg BIGINT, pad STRING)")
    spark.sql(s"INSERT INTO $g.dim SELECT id, id % 2000, repeat('x', 200) " +
      "FROM range(0, 20000)")
    spark.sql(s"CREATE TABLE $g.fact (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $g.fact SELECT id % 20000, id FROM range(0, 100000)")
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString)
    withConfs(confs: _*) {
      def joinPlan() = spark.sql(
        s"""SELECT f.v, d.pad FROM $g.fact f JOIN $g.dim d ON f.k = d.k
           |WHERE d.seg = 7""".stripMargin).queryExecution.sparkPlan
      def bhjCount(p: org.apache.spark.sql.execution.SparkPlan): Int =
        p.collect { case b: org.apache.spark.sql.execution.joins
          .BroadcastHashJoinExec => b }.size
      // no column stats yet: the filtered dim still estimates at full
      // size (conservative selectivity 1.0) — both sides exceed the
      // threshold, the join sort-merges
      assert(bhjCount(joinPlan()) == 0,
        s"without NDV stats the join must not broadcast:\n${joinPlan()}")
      // ANALYZE records seg's NDV (~2000); CBO's equality selectivity
      // 1/ndv shrinks the filtered dim under the threshold -> broadcast
      spark.sql(s"CALL $g.system.compute_table_stats('dim')").collect()
      val after = joinPlan()
      assert(bhjCount(after) == 1,
        s"NDV stats must flip the filtered dim to broadcast:\n$after")
    }
  }
}
