package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.{CompactionRunner, GraftCatalog}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.types.StructType

/** `SupportsReportOrdering` (round-19): a sorted, compacted table reports
  * its declared write order as per-partition ordering — metadata-proven
  * by the sorted-compaction watermark — so the engine ELIDES the sorts a
  * merge join or ORDER BY would otherwise pay. The claim must be exactly
  * as strong as the physical layout: any state whose sortedness is not
  * provable (head moved past the watermark, multi-file unkeyed snapshot,
  * multi-file tuples) refuses rather than risking silent wrong merge
  * results.
  */
class ReportOrderingSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gro_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  private def scanOrdering(
      root: String, table: String, cols: Seq[String]): Seq[String] = {
    val tbl = new GraftV2Table(root, table, asOf = None)
    val b = tbl.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
      .pruneColumns(StructType(tbl.schema.fields.filter(f => cols.contains(f.name))))
    b.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportOrdering]
      .outputOrdering().toSeq.map(_.expression().describe())
  }

  test("sorted compacted co-bucketed tables merge-join with ZERO sorts") {
    val root = Files.createTempDirectory("graft-ord-smj").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.li (l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE)
         |PARTITIONED BY (bucket(4, l_suppkey))""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $g.s (s_suppkey BIGINT, s_name STRING)
         |PARTITIONED BY (bucket(4, s_suppkey))""".stripMargin)
    spark.sql(s"INSERT INTO $g.li SELECT id, id % 100, CAST(id AS DOUBLE) " +
      "FROM range(0, 20000)")
    spark.sql(s"INSERT INTO $g.s SELECT id, concat('s', id) FROM range(0, 100)")
    val cat = new GraftCatalog(root)
    cat.setSortOrder("li", Seq("l_suppkey"))
    cat.setSortOrder("s", Seq("s_suppkey"))
    cat.compactTable(spark, "li", s"$root/li/_data/sorted",
      CompactionRunner.CompactionConfig(targetPartitions = 1))
    cat.compactTable(spark, "s", s"$root/s/_data/sorted",
      CompactionRunner.CompactionConfig(targetPartitions = 1))
    assert(cat.sortedSnapshot("li").exists(_._1 == cat.currentSnapshotId("li")),
      s"${cat.sortedSnapshot("li")} vs head ${cat.currentSnapshotId("li")}")

    val q =
      s"""SELECT l.l_suppkey AS k, s.s_name AS name, l.l_quantity AS qty
         |FROM $g.li l JOIN $g.s s ON l.l_suppkey = s.s_suppkey""".stripMargin
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(q)
      val plan = joined.queryExecution.executedPlan
      assert(plan.collect { case j: SortMergeJoinExec => j }.size == 1,
        s"expected a sort-merge join:\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty,
        s"reported ordering must elide BOTH merge-join sorts:\n$plan")
      assert(!plan.toString.contains("Exchange hashpartitioning"),
        s"the storage-partitioned layout must keep the join shuffle-free:\n$plan")
      // rows are exact under the sort-elided plan
      assert(joined.count() == 20000L)
      val r = joined.where("k = 42").agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("name")).head()
      assert(r.getLong(0) == 200L && r.getString(1) == "s42")

      // expiry: an append moves the head past the watermark — the claim
      // drops and the merge-join sorts come back (correctness first)
      spark.sql(s"INSERT INTO $g.li VALUES (99999, 7, 1.0)")
      val after = spark.sql(q).queryExecution.executedPlan
      assert(after.collect { case s: SortExec => s }.nonEmpty,
        s"a post-watermark append must expire the ordering claim:\n$after")
    }
  }

  test("the ordering claim refuses every unprovable state") {
    val root = Files.createTempDirectory("graft-ord-claims").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 5000)")
    val cat = new GraftCatalog(root)
    // no declared order, no watermark: nothing to claim
    assert(scanOrdering(root, "t", Seq("k", "v")).isEmpty)
    cat.setSortOrder("t", Seq("k"))
    // declared but never sorted-compacted: files predate the declaration
    assert(scanOrdering(root, "t", Seq("k", "v")).isEmpty,
      "a declared order alone proves nothing about existing files")
    // multi-file unkeyed snapshot: Spark may pack two files into one
    // partition — refuse
    cat.compactTable(spark, "t", s"$root/t/_data/c2",
      CompactionRunner.CompactionConfig(targetPartitions = 2))
    assert(cat.sortedSnapshot("t").isDefined)
    if (cat.loadEntries("t").count(_.kind == "data") > 1)
      assert(scanOrdering(root, "t", Seq("k", "v")).isEmpty,
        "a multi-file unkeyed snapshot must refuse the claim")
    // single-file sorted compaction: claimable, and only the projected
    // prefix is claimed
    cat.compactTable(spark, "t", s"$root/t/_data/c1",
      CompactionRunner.CompactionConfig(targetPartitions = 1))
    assert(cat.loadEntries("t").count(_.kind == "data") == 1)
    assert(scanOrdering(root, "t", Seq("k", "v")) == Seq("k"))
    assert(scanOrdering(root, "t", Seq("v")).isEmpty,
      "a projection without the sort column claims nothing")
    // ORDER BY over the provably-sorted single file plans without a sort
    // only if the engine consumes the claim — smoke the plan shape
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(s"SELECT k, v FROM $g.t ORDER BY k")
      assert(df.collect().map(_.getLong(0)).toSeq == (0L until 5000L).toSeq)
    }
    // a delete commit moves the head: claim expires
    spark.sql(s"DELETE FROM $g.t WHERE k = 17")
    assert(scanOrdering(root, "t", Seq("k", "v")).isEmpty,
      "any post-watermark commit must expire the claim")
  }
}
