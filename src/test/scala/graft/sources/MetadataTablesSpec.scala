package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.{CompactionConfig, DataFileTask}
import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Iceberg-style metadata tables (`GraftCatalog.metadataTable`) — the
  * inspection surface served from snapshot documents alone: per-file rows
  * (`files`), partition totals (`partitions`), the snapshot chain
  * (`snapshots`/`history`). The core invariant under test: the metadata's
  * record counts equal what scanning the data actually returns, including
  * across commits that mix counted (compaction) and uncounted (a footer
  * unreadable at commit) file generations.
  */
class MetadataTablesSpec extends SparkSpec {

  import spark.implicits._

  private def newCatalogWithRoot(): (GraftCatalog, String) = {
    val root = Files.createTempDirectory("graft-meta-cat").toString
    (new GraftCatalog(root), root)
  }

  private def newCatalog() = newCatalogWithRoot()._1

  private def seedTable(cat: GraftCatalog, partitioned: Boolean): Unit = {
    val base = Files.createTempDirectory("graft-meta-base").toString
    (1L to 300L).map(k => (k, s"g${k % 3}", s"v$k")).toDF("k", "g", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    if (partitioned)
      cat.setPartitionSpec("t",
        Seq(GraftCatalog.PartitionFieldDef("g_p", "identity", "g")))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-meta-out")}",
      CompactionConfig(targetPartitions = 2))
  }

  test("files rows carry record counts and sizes that sum to the table") {
    val cat = newCatalog()
    seedTable(cat, partitioned = false)

    val files = cat.metadataTable(spark, "t", "files")
      .filter(col("content") === "data").collect()
    assert(files.nonEmpty)
    assert(files.forall(r => !r.isNullAt(r.fieldIndex("record_count"))),
      "compaction-written files must be counted")
    assert(files.forall(r => r.getAs[Long]("size_bytes") > 0))
    assert(files.map(_.getAs[Long]("record_count")).sum ===
      cat.scanTable(spark, "t").count())
  }

  test("partitions totals match a data-side GROUP BY on the partition source") {
    val cat = newCatalog()
    seedTable(cat, partitioned = true)

    val meta = cat.metadataTable(spark, "t", "partitions")
      .select(org.apache.spark.sql.functions.element_at(col("partition"), "g_p")
        .as("g"), col("record_count"), col("file_count"))
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("record_count"))
      .toMap
    val data = cat.scanTable(spark, "t").groupBy(col("g")).count()
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("count")).toMap
    assert(meta === data)
  }

  test("uncounted generations render null, never a partial sum") {
    val cat = newCatalog()
    seedTable(cat, partitioned = false)

    // a file whose footer was unreadable at commit is committed without
    // counts (-1 in the entry)
    val ext = s"${Files.createTempDirectory("graft-meta-up")}/ext"
    Seq((1000L, "g0", "fresh")).toDF("k", "g", "v").coalesce(1).write.parquet(ext)
    UncountedCommit(CompactionRunner.listParquet(ext).map(GraftCatalog.AddedFile(_)))(
      cat.commitAppend("t", _))

    val files = cat.metadataTable(spark, "t", "files")
      .filter(col("content") === "data").collect()
    assert(files.exists(r => r.isNullAt(r.fieldIndex("record_count"))),
      "the appended generation must be uncounted")
    assert(files.exists(r => !r.isNullAt(r.fieldIndex("record_count"))),
      "the compacted generation must stay counted")

    val parts = cat.metadataTable(spark, "t", "partitions").collect()
    // all files share the empty partition tuple → one row, poisoned total
    assert(parts.length === 1)
    assert(parts.head.isNullAt(parts.head.fieldIndex("record_count")),
      "a group with any uncounted file must report null, not a partial sum")

    // a fresh compaction re-counts everything
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-meta-out2")}",
      CompactionConfig(targetPartitions = 2))
    val after = cat.metadataTable(spark, "t", "partitions").collect()
    assert(after.forall(r => !r.isNullAt(r.fieldIndex("record_count"))))
    assert(after.map(_.getAs[Long]("record_count")).sum ===
      cat.scanTable(spark, "t").count())
  }

  test("snapshots and history track the chain and flag the head") {
    val cat = newCatalog()
    seedTable(cat, partitioned = false)
    cat.upsert(spark, "t",
      Seq((2000L, "g1", "x")).toDF("k", "g", "v"), Seq("k"),
      s"${Files.createTempDirectory("graft-meta-up2")}")

    val snaps = cat.metadataTable(spark, "t", "snapshots").collect()
    assert(snaps.length === cat.snapshotIds("t").length)
    assert(snaps.count(_.getAs[Boolean]("is_current")) === 1)
    val head = snaps.find(_.getAs[Boolean]("is_current")).get
    assert(head.getAs[Long]("snapshot_id") === cat.currentSnapshotId("t"))
    // the upsert snapshot carries its eq-delete alongside the data files
    assert(head.getAs[Long]("delete_files") >= 1L)

    val hist = cat.metadataTable(spark, "t", "history").collect()
    assert(hist.map(_.getAs[Long]("snapshot_id")).toSeq ===
      cat.snapshotIds("t"))
    assert(hist.count(_.getAs[Boolean]("is_current")) === 1)

    // commit summaries, derived by diffing consecutive entry lists: the
    // upsert head is an `overwrite` (data + eq-delete added), snapshot 1
    // is the creating commit
    assert(head.getAs[String]("operation") === "overwrite")
    assert(head.getAs[Long]("added_data_files") >= 1L)
    assert(head.getAs[Long]("added_delete_files") >= 1L)
    assert(head.getAs[Long]("removed_data_files") === 0L)
    val first = snaps.find(_.getAs[Long]("snapshot_id") == 1L).get
    assert(first.getAs[String]("operation") === "append")
  }

  test("snapshot summaries name every operation class") {
    val cat = newCatalog()
    seedTable(cat, partitioned = false)
    val out = Files.createTempDirectory("graft-meta-sum").toString
    def opOf(id: Long): String =
      cat.snapshotSummary("t", id).get.operation

    assert(opOf(1L) === "append") // createTable
    assert(opOf(cat.currentSnapshotId("t")) === "replace") // seed compaction
    cat.appendFiles(spark, "t", Seq((9999L, "g9", "z")).toDF("k", "g", "v"), out)
    val appendId = cat.currentSnapshotId("t")
    assert(opOf(appendId) === "append")
    val appendSum = cat.snapshotSummary("t", appendId).get
    assert(appendSum.addedRecords === Some(1L)) // appendFiles counts rows

    cat.deleteWhere(spark, "t", col("k") === 1L, out)
    assert(opOf(cat.currentSnapshotId("t")) === "delete") // posdel only

    cat.compactTable(spark, "t", s"$out/c",
      CompactionRunner.CompactionConfig(targetPartitions = 1))
    assert(opOf(cat.currentSnapshotId("t")) === "replace") // rewrite

    cat.upsert(spark, "t", Seq((1L, "g1", "u")).toDF("k", "g", "v"),
      Seq("k"), out)
    assert(opOf(cat.currentSnapshotId("t")) === "overwrite") // data + eqdel

    // a summary is None only when the predecessor document was expired
    cat.expireSnapshots("t", keepLast = 1)
    val headId = cat.currentSnapshotId("t")
    assert(cat.snapshotSummary("t", headId).isEmpty)
  }

  test("countRows: metadata when provably exact, scan fallback otherwise") {
    val (cat, _) = newCatalogWithRoot()
    seedTable(cat, partitioned = false)
    // clean counted table: the metadata sum IS the count
    assert(cat.countRows(spark, "t") === 300L)

    // a pending eq-delete makes the manifest sum an overcount — must fall
    // back to the MoR scan (2 deleted + 1 inserted ⇒ 299 live originals + 1)
    cat.upsert(spark, "t",
      Seq((1L, "g1", "updated")).toDF("k", "g", "v"), Seq("k"),
      s"${Files.createTempDirectory("graft-meta-cr")}")
    assert(cat.countRows(spark, "t") ===
      cat.scanTable(spark, "t").count())

    // compaction applies the deletes and re-counts: metadata path again
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-meta-cr2")}")
    assert(cat.countRows(spark, "t") === 300L)

    // empty table: zero without a scan (scanTable would refuse)
    cat.createTable("empty", Nil)
    assert(cat.countRows(spark, "empty") === 0L)
  }

  test("minMaxLong: manifest bounds when provable, scan fallback otherwise") {
    val (cat, _) = newCatalogWithRoot()
    seedTable(cat, partitioned = false) // compaction records bounds
    assert(cat.minMaxLong(spark, "t", "k") === Some((1L, 300L)))

    // pending upsert (eq-delete may suppress an extreme row): fallback must
    // see both the surviving range and the new extreme value
    cat.upsert(spark, "t",
      Seq((-5L, "g1", "neg")).toDF("k", "g", "v"), Seq("k"),
      s"${Files.createTempDirectory("graft-meta-mm")}")
    assert(cat.minMaxLong(spark, "t", "k") === Some((-5L, 300L)))

    // a stats-less generation (createTable from raw files records no
    // bounds) forces the fallback — and still answers exactly
    val base = Files.createTempDirectory("graft-meta-mm-raw").toString
    (10L to 20L).map(k => (k, "g", s"v$k")).toDF("k", "g", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/r")
    cat.createTable("raw",
      CompactionRunner.listParquet(s"$base/r").map(DataFileTask(_, 1L)))
    assert(cat.minMaxLong(spark, "raw", "k") === Some((10L, 20L)))

    // empty table: SQL's NULL aggregate, no scan attempted
    cat.createTable("empty2", Nil)
    assert(cat.minMaxLong(spark, "empty2", "k") === None)
  }

  test("pre-counts snapshot lines parse with unknown counts") {
    val (cat, root) = newCatalogWithRoot()
    seedTable(cat, partitioned = false)
    // rewrite the current snapshot as a pre-segmentation FLAT document with
    // the counts field stripped, simulating a document written before
    // either feature existed (8-field flat lines): resolve the v2 segment
    // references to their entry lines first
    val tdir = java.nio.file.Paths.get(root, "t")
    val snapPath = tdir.resolve(s"snap-${cat.currentSnapshotId("t")}.tsv")
    val doc = java.nio.file.Files.readString(snapPath).split("\n")
    val entryLines =
      if (doc.head.startsWith("#graft-snap-v2"))
        doc.tail.filter(_.nonEmpty).flatMap { ref =>
          java.nio.file.Files.readString(tdir.resolve(ref.split("\t")(0)))
            .split("\n").filter(_.nonEmpty)
        }.toSeq
      else doc.toSeq
    val legacy = entryLines
      .map(l => l.split("\t", 9).take(8).mkString("\t")).mkString("\n")
    java.nio.file.Files.writeString(snapPath, legacy)

    val files = cat.metadataTable(spark, "t", "files").collect()
    assert(files.forall(r => r.isNullAt(r.fieldIndex("record_count"))),
      "8-field legacy lines must parse as unknown counts")

    intercept[GraftError.Metadata] {
      cat.metadataTable(spark, "t", "nope")
    }
  }
}
