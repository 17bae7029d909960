package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.CompactionRunner.DataFileTask

/** Metadata-answered size estimation ([[GraftRelation.sizeInBytes]]):
  * the manifests' `file_size_in_bytes` (stamped at commit) drives Spark's
  * broadcast decision, so a small catalog table auto-broadcasts in joins —
  * the difference between a broadcast and a full shuffle for every
  * dim-to-fact join at scale.
  */
class BroadcastSizeSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(n: Long): (GraftCatalog, String) = {
    val root = Files.createTempDirectory("graft-bsize").toString
    val cat = new GraftCatalog(root)
    (1L to n).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/stage")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$root/stage").map(DataFileTask(_, 1L)))
    (cat, root)
  }

  test("createTable stamps file_size_in_bytes into the manifest") {
    val (cat, _) = freshTable(100)
    val data = cat.loadEntries("t").filter(_.kind == "data")
    assert(data.nonEmpty && data.forall(_.sizeBytes > 0))
  }

  test("sizeInBytes answers from metadata and tracks the pinned snapshot") {
    val (cat, root) = freshTable(100)
    val head0 = cat.currentSnapshotId("t")
    val bytes0 = cat.loadEntries("t").filter(_.kind == "data").map(_.sizeBytes).sum
    val rel = new GraftRelation(spark.sqlContext, root, "t")
    assert(rel.sizeInBytes == bytes0)

    // append more data: the head relation grows, a pinned one does not
    cat.appendFiles(spark, "t",
      (101L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), s"$root/more")
    assert(rel.sizeInBytes > bytes0)
    val pinned = new GraftRelation(spark.sqlContext, root, "t", Some(head0))
    assert(pinned.sizeInBytes == bytes0)
  }

  test("a small graft table auto-broadcasts in a join (no hint)") {
    val (_, root) = freshTable(500)
    val dim = spark.read.format("graft")
      .option("root", root).option("table", "t").load()
    assert(dim.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      < 10L * 1024 * 1024)
    val fact = spark.range(1, 50000).toDF("k")
    val joined = fact.join(dim, "k")
    assert(joined.count() == 500)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"expected an automatic broadcast join, got:\n$finalPlan")
  }

  test("unknown file sizes fall back to the conservative default") {
    val (cat, root) = freshTable(10)
    // commit a real data file through the REST-style append with no size,
    // its footer unreadable at commit (-1 = unknown)
    (11L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/ext")
    UncountedCommit(CompactionRunner.listParquet(s"$root/ext")
        .map(p => GraftCatalog.AddedFile(p, "parquet", -1L, -1L)))(
      cat.commitAppendAt("t", cat.currentSnapshotId("t"), _))
    assert(cat.loadEntries("t").exists(_.sizeBytes < 0))
    val rel = new GraftRelation(spark.sqlContext, root, "t")
    // one unknown size poisons the estimate: never risk a mis-broadcast
    assert(rel.sizeInBytes > 10L * 1024 * 1024 * 1024)
  }
}
