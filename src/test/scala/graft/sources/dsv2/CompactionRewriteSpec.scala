package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.sources.GraftCatalog
import graft.sources.CompactionRunner.CompactionConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Compaction reads through the snapshot's scan state: the delete-masked
  * scan a full-row read of the same snapshot already planned (its decoded
  * deletes included), whole input files bin-packed into the output tasks
  * with no exchange, and per-file counts and bounds from the written
  * footers.
  */
class CompactionRewriteSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gcr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  /** A merge-on-read table of `files` doorway files (one insert of one
    * partition each): file i holds keys
    * i*100 until (i+1)*100 with `src` = i, and position deletes on every
    * key = 3 (mod 7) below 700.
    */
  private def table(files: Int): (String, String, GraftCatalog) = {
    val root = Files.createTempDirectory("graft-rewrite").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, src INT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')")
    (0 until files).foreach { i =>
      spark.sql(s"INSERT INTO $g.t SELECT id, $i, concat('v', id) " +
        s"FROM range(${i * 100}, ${(i + 1) * 100}, 1, 1)")
    }
    spark.sql(s"DELETE FROM $g.t WHERE k < 700 AND k % 7 = 3")
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("t").exists(_.kind == "posdel"))
    (root, g, cat)
  }

  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.mkString("|")).toSeq.sorted

  private def expected(files: Int): Seq[String] =
    (0L until files * 100L).filterNot(k => k < 700 && k % 7 == 3)
      .map(k => s"$k|${k / 100}|v$k").sorted

  /** (stages with a shuffle, shuffle bytes written, records read) while
    * `body` runs.
    */
  private def probe[A](body: => A): (A, Int, Long, Long) = {
    val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong()
    val records = new AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          if (e.taskType == "ShuffleMapTask") shuffleStages.add(e.stageId)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      ListenerBridge.drain(spark.sparkContext)
      (a, shuffleStages.size, shuffleBytes.get(), records.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a compaction right after a full-row read reuses its state: no decode, no shuffle") {
    val (root, g, cat) = table(8)
    assert(rows(s"SELECT * FROM $g.t") == expected(8))
    val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
    val ((_, manifest), shuffles, bytes, _) = probe(
      cat.compactTable(spark, "t", s"$root/_data/c1", CompactionConfig(targetPartitions = 4)))
    assert(GraftColumnarMask.deleteFilesDecoded.get() == decoded0,
      "the compaction must reuse the read's decoded delete set")
    assert(shuffles == 0 && bytes == 0L,
      s"a whole-file rewrite plans no exchange: $shuffles shuffle stages, $bytes bytes")
    assert(manifest.addedFiles.size == 4)
    assert(!cat.loadEntries("t").exists(_.kind != "data"), "deletes retire")
    assert(rows(s"SELECT * FROM $g.t") == expected(8))
  }

  test("whole input files pack into exactly targetPartitions outputs") {
    val (root, g, cat) = table(10)
    val (_, manifest) = cat.compactTable(spark, "t", s"$root/_data/c1",
      CompactionConfig(targetPartitions = 4))
    val outputs = cat.loadEntries("t").map(_.path)
    assert(outputs.size == 4 && manifest.addedFiles.size == 4,
      s"10 inputs pack into 4 outputs: $outputs")
    // every input file's surviving rows land in exactly one output
    val filesPerSource = spark.read.parquet(manifest.addedFiles.map(_.path): _*)
      .selectExpr("src", "_metadata.file_path AS f").distinct()
      .groupBy("src").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(filesPerSource.keySet == (0 until 10).toSet)
    assert(filesPerSource.values.forall(_ == 1L),
      s"an input file's rows were split across outputs: $filesPerSource")
    assert(rows(s"SELECT * FROM $g.t") == expected(10))
    // fewer inputs than targetPartitions keep the round-robin exchange
    val (root2, g2, cat2) = table(3)
    val ((_, m2), shuffles, _, _) = probe(cat2.compactTable(spark, "t",
      s"$root2/_data/c1", CompactionConfig(targetPartitions = 4)))
    assert(shuffles > 0 && m2.addedFiles.nonEmpty)
    assert(rows(s"SELECT * FROM $g2.t") == expected(3))
  }

  test("the row path (probe switch, or a rename chain the mask refuses) rewrites the same rows") {
    val (root, g, cat) = table(6)
    val before = rows(s"SELECT * FROM $g.t")
    val (rootR, gR, catR) = table(6)
    GraftColumnarMask.disableForProbes = true
    try {
      val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
      catR.compactTable(spark, "t", s"$rootR/_data/c1", CompactionConfig(targetPartitions = 4))
      assert(GraftColumnarMask.deleteFilesDecoded.get() == decoded0,
        "the row path decodes no delete file on the driver")
    } finally GraftColumnarMask.disableForProbes = false
    cat.compactTable(spark, "t", s"$root/_data/c1", CompactionConfig(targetPartitions = 4))
    assert(rows(s"SELECT * FROM $gR.t") == before)
    assert(rows(s"SELECT * FROM $g.t") == before)

    // a -> c then b -> a: a name-matched mask would read the wrong column
    val rootN = Files.createTempDirectory("graft-rewrite-rename").toString
    val gN = mount(rootN)
    spark.sql(s"CREATE TABLE $gN.t (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $gN.t SELECT id, id + 100000 FROM range(${i * 250}, ${(i + 1) * 250})")
    }
    spark.sql(s"DELETE FROM $gN.t WHERE a % 10 = 3 OR b % 101 = 7")
    spark.sql(s"ALTER TABLE $gN.t RENAME COLUMN a TO c")
    spark.sql(s"ALTER TABLE $gN.t RENAME COLUMN b TO a")
    val renamed = rows(s"SELECT c, a FROM $gN.t")
    new GraftCatalog(rootN).compactTable(spark, "t", s"$rootN/_data/c1",
      CompactionConfig(targetPartitions = 2))
    assert(rows(s"SELECT c, a FROM $gN.t") == renamed)
    assert(renamed.size == (0L until 1000L)
      .count(k => !(k % 10 == 3 || (k + 100000) % 101 == 7)))
  }

  test("outputs carry footer counts and bounds: a point read opens only covering files") {
    val (root, g, cat) = table(8)
    cat.compactTable(spark, "t", s"$root/_data/c1", CompactionConfig(targetPartitions = 4))
    val data = cat.loadEntries("t")
    assert(data.size == 4 && data.forall(e => e.kind == "data" && e.recordCount > 0))
    assert(data.map(_.recordCount).sum == expected(8).size)
    def bound(e: cat.TableEntry, m: cat.EntryStats => Map[String, String]) =
      e.stats.flatMap(s => m(s).get("k")).map(_.toLong)
    assert(data.forall(e => bound(e, _.colMins).isDefined && bound(e, _.colMaxs).isDefined),
      "every output records its k bounds")
    val covering = data.filter(e =>
      bound(e, _.colMins).exists(_ <= 50L) && bound(e, _.colMaxs).exists(_ >= 50L))
    assert(covering.size == 1, "key 50 lives in the one output holding input file 0")
    val (got, _, _, read) = probe(rows(s"SELECT * FROM $g.t WHERE k = 50"))
    assert(got == Seq("50|0|v50"))
    assert(read == covering.map(_.recordCount).sum,
      s"a point read must open only its covering file: read $read records")
  }

  test("an incremental compaction rewrites only the delta through the state") {
    val (root, g, cat) = table(4)
    cat.compactTable(spark, "t", s"$root/_data/c1", CompactionConfig(targetPartitions = 2))
    val base = cat.loadEntries("t").map(_.path).toSet
    (4 until 9).foreach { i =>
      spark.sql(s"INSERT INTO $g.t SELECT id, $i, concat('v', id) " +
        s"FROM range(${i * 100}, ${(i + 1) * 100}, 1, 1)")
    }
    spark.sql(s"DELETE FROM $g.t WHERE k >= 800 AND k % 11 = 0")
    val before = rows(s"SELECT * FROM $g.t")
    val (_, m) = cat.compactTableIncremental(spark, "t", s"$root/_data/c2",
      CompactionConfig(targetPartitions = 2))
    assert(m.removedDataFiles.size == 5 && m.addedFiles.size == 2)
    assert(base.subsetOf(cat.loadEntries("t").map(_.path).toSet),
      "the earlier outputs stay untouched")
    assert(rows(s"SELECT * FROM $g.t") == before)
  }
}
