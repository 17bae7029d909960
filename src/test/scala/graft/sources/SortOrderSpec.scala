package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.{CompactionConfig, DataFileTask}
import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Declared sort orders (Iceberg's write-order): metadata-only until a
  * rewrite applies it, explicit caller layouts win, and the sorted
  * columns' bounds land in the snapshot so pruning works immediately.
  */
class SortOrderSpec extends SparkSpec {

  import spark.implicits._

  private def build(): (GraftCatalog, String) = {
    val cat = new GraftCatalog(
      Files.createTempDirectory("graft-so-cat").toString)
    val base = Files.createTempDirectory("graft-so-base").toString
    // shuffled keys so an unsorted rewrite leaves overlapping bounds
    (1L to 400L).map(k => ((k * 389L) % 400L, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    (cat, base)
  }

  test("a maintenance compaction applies the declared order; bounds prune") {
    val (cat, base) = build()
    cat.setSortOrder("t", Seq("k"))
    assert(cat.sortOrder("t") == Seq("k"))
    cat.compactTable(spark, "t", s"$base/out",
      CompactionConfig(targetPartitions = 8))
    val entries = cat.loadEntries("t").filter(_.kind == "data")
    assert(entries.size > 1)
    // per-file bounds recorded and near-disjoint (range-clustered layout)
    val bounds = entries.map { e =>
      val s = e.stats.getOrElse(fail(s"no stats on ${e.path}"))
      (s.colMins("k").toDouble, s.colMaxs("k").toDouble)
    }.sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping sorted bounds: $bounds")
      case _ =>
    }
    // pruning activates with zero extra calls
    val kept = cat.scanTableWhere(spark, "t", "k", 0, 49)
    assert(kept.inputFiles.length < entries.size)
    assert(kept.count() == 50L)
  }

  test("explicit caller layout wins over the declared order") {
    val (cat, base) = build()
    cat.setSortOrder("t", Seq("k"))
    cat.compactTable(spark, "t", s"$base/out",
      CompactionConfig(targetPartitions = 4, clusterBy = Seq("v"),
        statsCols = Seq("v")))
    val entries = cat.loadEntries("t").filter(_.kind == "data")
    // the caller asked for v-clustering: the files' v ranges are disjoint,
    // their k ranges (keys shuffled against v) overlap, and the head is
    // not stamped as sorted by the declared k order
    def ranges(c: String) = entries.map { e =>
      val st = e.stats.getOrElse(fail(s"no stats on ${e.path}"))
      (st.colMins(c), st.colMaxs(c))
    }
    val v = ranges("v").sortBy(_._1)
    v.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping v bounds: $v")
      case _ =>
    }
    val k = ranges("k").map { case (lo, hi) => (lo.toLong, hi.toLong) }.sortBy(_._1)
    assert(k.sliding(2).exists {
      case Seq((_, hi), (lo2, _)) => hi >= lo2
      case _ => false
    }, s"k bounds are disjoint, as if k-sorted: $k")
    assert(!cat.sortedSnapshot("t").exists(_._1 == cat.currentSnapshotId("t")))
  }

  test("clearing, duplicates, forks") {
    val (cat, _) = build()
    cat.setSortOrder("t", Seq("k", "v"))
    intercept[IllegalArgumentException](cat.setSortOrder("t", Seq("k", "k")))
    val fork = cat.forkTable("t", "audit")
    assert(cat.sortOrder(fork) == Seq("k", "v"))
    cat.setSortOrder("t", Nil)
    assert(cat.sortOrder("t").isEmpty)
    assert(cat.sortOrder(fork) == Seq("k", "v"), "fork order is independent")
  }
}
