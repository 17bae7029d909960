package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.DataFileTask
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, md5}

/** Per-file bloom-filter sidecars ([[GraftCatalog.recordBloomFilter]]) —
  * point-lookup file skipping on columns where min/max bounds prune
  * nothing. The fixture interleaves md5 keys across four files so every
  * file's [min,max] straddles every probe (stats keep everything); only a
  * 0-bit in a file's bloom can prove absence. Assertions run on the PLAN
  * ([[GraftCatalog.eqStringKeptEntries]]) and on result equality with the
  * unpruned filter. Bloom hashing is deterministic, so the kept-file
  * counts asserted here are stable across runs.
  */
class BloomSkipSpec extends SparkSpec {

  import spark.implicits._

  /** md5 hex of the decimal rendering of `id` — matches the data below. */
  private def keyOf(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Four single-parquet files; file f holds ids f*1000 .. f*1000+99 with
    * `key = md5(id)` — hashes scatter, so per-file key ranges all span
    * ~[0,f] hex space.
    */
  private def build(): (GraftCatalog, String) = {
    val cat = new GraftCatalog(
      Files.createTempDirectory("graft-bloom-cat").toString)
    val base = Files.createTempDirectory("graft-bloom-base").toString
    val files = (0 until 4).flatMap { f =>
      val d = s"$base/f$f"
      (0 until 100).map(i => (f * 1000 + i).toLong).toDF("id")
        .select(col("id"), md5(col("id").cast("string")).as("key"))
        .coalesce(1).write.parquet(d)
      CompactionRunner.listParquet(d)
    }
    cat.createTable("t", files.map(DataFileTask(_, 1L)))
    (cat, base)
  }

  test("no sidecar keeps every file; recording prunes a probe to its one file") {
    val (cat, _) = build()
    val probe = keyOf(2042L) // lives in file f2 only

    assert(cat.readBlooms("t", "key").isEmpty)
    assert(cat.eqStringKeptEntries(spark, "t", "key", probe).size == 4,
      "without blooms, interleaved hashes defeat stats/partition pruning")

    val covered = cat.recordBloomFilter(spark, "t", "key",
      expectedItemsPerFile = 1000L, fpp = 0.001)
    assert(covered == 4)

    val kept = cat.eqStringKeptEntries(spark, "t", "key", probe)
    assert(kept.size == 1, s"bloom should isolate the one true file, kept $kept")

    val rows = cat.scanTableWhereEqString(spark, "t", "key", probe)
      .select("id").as[Long].collect().toSeq
    assert(rows == Seq(2042L), "pruned probe must still return the exact row")
  }

  test("an absent key prunes to zero files and returns zero rows") {
    val (cat, _) = build()
    cat.recordBloomFilter(spark, "t", "key",
      expectedItemsPerFile = 1000L, fpp = 0.001)
    val absent = keyOf(999999L)
    assert(cat.eqStringKeptEntries(spark, "t", "key", absent).isEmpty)
    assert(cat.scanTableWhereEqString(spark, "t", "key", absent).count() == 0L)
  }

  test("files appended after recording stay visible; re-record covers them") {
    val (cat, base) = build()
    cat.recordBloomFilter(spark, "t", "key",
      expectedItemsPerFile = 1000L, fpp = 0.001)

    // new generation the sidecar has never seen, interleaved like the
    // fixture's (ids 5000..5099: its footer bounds straddle every probe,
    // so only the bloom could prune it)
    val out = s"$base/append-out"
    cat.appendFiles(spark, "t",
      (5000L until 5100L).toDF("id")
        .select(col("id"), md5(col("id").cast("string")).as("key")).coalesce(1),
      out)

    // probe for the appended row: its file has no sidecar entry, so it is
    // KEPT — advisory metadata can never hide committed data
    val probe = keyOf(5000L)
    val kept = cat.eqStringKeptEntries(spark, "t", "key", probe)
    assert(kept.size == 1, "only the uncovered appended file should survive")
    assert(cat.scanTableWhereEqString(spark, "t", "key", probe)
      .select("id").as[Long].collect().toSeq == Seq(5000L))

    // an ABSENT probe still pays for the uncovered file ...
    assert(cat.eqStringKeptEntries(spark, "t", "key", keyOf(999999L)).size == 1)
    // ... until a re-record merges it into the sidecar
    val covered = cat.recordBloomFilter(spark, "t", "key",
      expectedItemsPerFile = 1000L, fpp = 0.001)
    assert(covered == 5)
    assert(cat.eqStringKeptEntries(spark, "t", "key", keyOf(999999L)).isEmpty)
  }

  test("recording a non-string column is rejected") {
    val (cat, _) = build()
    intercept[IllegalArgumentException] {
      cat.recordBloomFilter(spark, "t", "id")
    }
  }
}
