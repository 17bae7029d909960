package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.{CompactionConfig, DataFileTask}
import graft.sources.GraftCatalog.PartitionFieldDef
import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Hidden partitioning end-to-end: a declared partition spec drives the
  * compaction fanout, each committed file carries its partition tuple in
  * the snapshot (Iceberg's `DataFile.partition`), and `scanTableWhere` on
  * the SOURCE column prunes whole partitions through the transform —
  * bucket point lookups touch one bucket, truncate ranges touch only
  * covering widths, and results stay row-for-row equal to the unpruned
  * filter.
  */
class PartitionPruneSpec extends SparkSpec {

  import spark.implicits._

  private def newCatalog() =
    new GraftCatalog(Files.createTempDirectory("graft-part-cat").toString)

  private def makeTable(cat: GraftCatalog, spec: Seq[PartitionFieldDef]): Unit = {
    val base = Files.createTempDirectory("graft-part-base").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", spec)
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-part-out")}",
      CompactionConfig(targetPartitions = 2))
  }

  test("spec round-trips; bucket fanout records per-file partition tuples") {
    val cat = newCatalog()
    makeTable(cat, Seq(PartitionFieldDef("kb", "bucket[4]", "k")))
    assert(cat.partitionSpec("t") ==
      Seq(PartitionFieldDef("kb", "bucket[4]", "k")))
    val data = cat.loadEntries("t").filter(_.kind == "data")
    assert(data.nonEmpty)
    data.foreach { e =>
      val pv = e.partitionVals("kb")
      assert(pv != null && pv.toInt >= 0 && pv.toInt < 4,
        s"partition value $pv out of bucket range for ${e.path}")
      assert(e.path.contains(s"kb=$pv"),
        s"recorded tuple must match the path segment: ${e.path}")
    }
    // all 4 buckets materialize at 400 keys
    assert(data.map(_.partitionVals("kb")).distinct.size == 4)
  }

  test("bucket point lookup scans one bucket's files, exact rows") {
    val cat = newCatalog()
    makeTable(cat, Seq(PartitionFieldDef("kb", "bucket[4]", "k")))
    val data = cat.loadEntries("t").filter(_.kind == "data")
    val expected = graft.functions.IcebergMurmur3.bucketLong(123L, 4)
    val inBucket = data.count(_.partitionVals("kb").toInt == expected)
    assert(inBucket < data.size, "fixture must spread across buckets")

    val pruned = cat.scanTableWhere(spark, "t", "k", 123, 123)
    assert(pruned.inputFiles.length == inBucket,
      s"point lookup must scan exactly the ${inBucket} bucket-$expected files, " +
        s"got ${pruned.inputFiles.length}")
    assert(pruned.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((123L, "v123")))

    // a RANGE cannot prune through a hash bucket: all files scanned, exact
    val range = cat.scanTableWhere(spark, "t", "k", 100, 140)
    assert(range.inputFiles.length == data.size)
    assert(range.count() == 41)
  }

  test("truncate range scan touches only covering widths, exact rows") {
    val cat = newCatalog()
    makeTable(cat, Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    val data = cat.loadEntries("t").filter(_.kind == "data")
    assert(data.map(_.partitionVals("kt")).distinct.sorted ==
      Seq("0", "100", "200", "300", "400"))

    // [150, 250] covers truncate values 100 and 200 only
    val pruned = cat.scanTableWhere(spark, "t", "k", 150, 250)
    val coveringFiles = data.count { e =>
      val p = e.partitionVals("kt").toLong
      p == 100L || p == 200L
    }
    assert(pruned.inputFiles.length == coveringFiles,
      s"expected $coveringFiles covering files, scanned ${pruned.inputFiles.length}")
    val full = cat.scanTable(spark, "t").filter(col("k") >= 150 && col("k") <= 250)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq
      == full.select("k").as[Long].collect().sorted.toSeq)

    // boundary exactness: [200, 200] keeps width-200 files only (the
    // files' own k bounds may prune further inside the width)
    val point = cat.scanTableWhere(spark, "t", "k", 200, 200)
    val width200 = data.filter(_.partitionVals("kt") == "200")
      .map(e => CompactionRunner.canonKey(e.path)).toSet
    assert(point.inputFiles.nonEmpty &&
      point.inputFiles.map(CompactionRunner.canonDecoded).forall(width200),
      s"${point.inputFiles.toSeq} outside the width-200 files $width200")
    assert(point.select("k").as[Long].collect().toSeq == Seq(200L))
  }

  test("pre-spec files have no tuple and are never partition-pruned") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-part-legacy").toString
    (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    // spec declared AFTER data exists; no compaction ran, so files carry
    // no tuples — every scan stays conservative-full and exact
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kb", "bucket[4]", "k")))
    val scan = cat.scanTableWhere(spark, "t", "k", 7, 7)
    assert(scan.inputFiles.length == cat.loadTable("t").size)
    assert(scan.select("k").as[Long].collect().toSeq == Seq(7L))
  }

  test("spec evolution: old files prune by the transform that WROTE them") {
    val cat = newCatalog()
    makeTable(cat, Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    val oldFiles = cat.loadEntries("t").filter(_.kind == "data")
    assert(oldFiles.forall(_.partitionTransforms("kt") == "truncate[100]|k"))

    // evolve the spec: same field name, narrower width. Old tuples (e.g.
    // kt=100 covering [100,200)) must NOT be reinterpreted as truncate[50]
    // (covering [100,150)) — that would wrongly prune [150,199] rows.
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[50]", "k")))
    val scan = cat.scanTableWhere(spark, "t", "k", 150, 199)
    assert(scan.select("k").as[Long].collect().sorted.toSeq
      == (150L to 199L).toSeq,
      "rows lost: old tuples were misread under the evolved spec")
    // the file holding kt=100 IS still scanned (its recorded width covers)
    assert(scan.inputFiles.length >= 1)

    // a fresh compaction under the evolved spec records the NEW transform
    cat.compactTable(spark, "t",
      s"${java.nio.file.Files.createTempDirectory("graft-part-evout")}",
      CompactionRunner.CompactionConfig(targetPartitions = 2))
    val newFiles = cat.loadEntries("t").filter(_.kind == "data")
    assert(newFiles.forall(_.partitionTransforms("kt") == "truncate[50]|k"))
    assert(newFiles.map(_.partitionVals("kt")).distinct.sorted
      .headOption.contains("0"))
    // and the evolved layout prunes at the NEW width: [150,199] is one
    // truncate[50] partition now
    val scan2 = cat.scanTableWhere(spark, "t", "k", 150, 199)
    assert(scan2.inputFiles.length ==
      newFiles.count(_.partitionVals("kt") == "150"))
    assert(scan2.select("k").as[Long].collect().sorted.toSeq
      == (150L to 199L).toSeq)
  }

  test("caller-supplied Column transforms never inherit the spec's recorded binding") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-part-clash").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    // explicit transform REUSES the spec field's name but is a different
    // function (k % 7): recording the spec's truncate[100] for these
    // tuples would make pruning misread them and drop live rows
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-part-clash-out")}",
      CompactionRunner.CompactionConfig(targetPartitions = 2,
        partitionTransforms = Seq(
          "kt" -> org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("k"),
            org.apache.spark.sql.functions.lit(7)))))
    val data = cat.loadEntries("t").filter(_.kind == "data")
    assert(data.forall(_.partitionVals.contains("kt")))
    assert(data.forall(_.partitionTransforms.isEmpty),
      "caller tuples must be recorded transform-less")
    // no pruning (conservative), and the rows survive intact
    val scan = cat.scanTableWhere(spark, "t", "k", 150, 199)
    assert(scan.inputFiles.length == data.size)
    assert(scan.select("k").as[Long].collect().sorted.toSeq
      == (150L to 199L).toSeq)
  }

  test("string point lookup prunes via bucketUTF8 and string stats bounds") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-part-str").toString
    (1L to 400L).map(k => (k, s"src${k % 10}")).toDF("k", "src")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("sb", "bucket[4]", "src")))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-part-str-out")}",
      CompactionRunner.CompactionConfig(targetPartitions = 2))
    val data = cat.loadEntries("t").filter(_.kind == "data")
    val expected = graft.functions.IcebergMurmur3.bucketUTF8(
      org.apache.spark.unsafe.types.UTF8String.fromString("src7"), 4)
    val inBucket = data.count(_.partitionVals("sb").toInt == expected)
    assert(inBucket < data.size, "fixture must spread across buckets")

    val scan = cat.scanTableWhereEqString(spark, "t", "src", "src7")
    assert(scan.inputFiles.length == inBucket,
      s"expected the $inBucket bucket-$expected files, got ${scan.inputFiles.length}")
    assert(scan.select("k").as[Long].collect().toSet ==
      (1L to 400L).filter(_ % 10 == 7).toSet)

    // a value hashing to an absent bucket combination still returns exact
    // (possibly empty) results
    val none = cat.scanTableWhereEqString(spark, "t", "src", "no-such-source")
    assert(none.count() == 0)

    // deletes apply on the pruned survivors
    cat.deleteWhere(spark, "t", col("k") === 7L,
      Files.createTempDirectory("graft-part-str-d").toString)
    val after = cat.scanTableWhereEqString(spark, "t", "src", "src7")
    assert(!after.select("k").as[Long].collect().contains(7L))
  }

  test("deletes still apply to partition-pruned survivors") {
    val cat = newCatalog()
    makeTable(cat, Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    cat.deleteWhere(spark, "t", col("k") === 170L,
      Files.createTempDirectory("graft-part-del").toString)
    val pruned = cat.scanTableWhere(spark, "t", "k", 150, 250)
    val ks = pruned.select("k").as[Long].collect().toSet
    assert(!ks.contains(170L) && ks.contains(169L) && ks.size == 100)
  }
}
