package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted span inventory ([[SpanIndex]]) — incremental span-level
  * exact-substring dedup: probe classifies each batch doc's 8-word spans
  * against the corpus, append admits only new spans, compaction collapses
  * per-append small files without changing answers or the bucket layout.
  */
class SpanIndexSpec extends SparkSpec {

  import spark.implicits._

  // 16-token docs → 9 spans each; word sets chosen so expected dup counts
  // are exact by construction
  private val corpusText = "a b c d e f g h i j k l m n o p"
  private val otherText = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12 m13 m14 m15 m16"

  private def corpus() =
    Seq((1L, corpusText), (2L, otherText)).toDF("doc_id", "text")

  private def batch() = Seq(
    (100L, corpusText), // verbatim copy: every span duplicated
    // first 8 corpus words + fresh tail: exactly ONE span (positions 1-8)
    // lies fully inside the copied prefix
    (101L, "a b c d e f g h x1 x2 x3 x4 x5 x6 x7 x8"),
    (102L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16"), // fresh
    (103L, "too short")).toDF("doc_id", "text") // < 8 tokens: no spans, no row

  test("probe classifies full, partial, and fresh copies exactly") {
    val dir = Files.createTempDirectory("graft_span_idx_").toString
    val idx = SpanIndex.create(spark, "sidx1", dir, corpus())
    try {
      val got = idx.probe(batch()).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(
        100L -> ((9L, 9L)), 101L -> ((9L, 1L)), 102L -> ((9L, 0L))), got)
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("duplicate inventory rows (torn append) do not inflate probe counts") {
    val dir = Files.createTempDirectory("graft_span_dup_").toString
    val idx = SpanIndex.create(spark, "sidx_dup", dir, corpus())
    try {
      // plant the torn-append shape: every inventory hash appears TWICE
      // (bypassing append's anti join, like two racing appends would)
      spark.table("sidx_dup_spans")
        .write.mode("append").bucketBy(SpanIndex.NumBuckets, "h")
        .saveAsTable("sidx_dup_spans")
      val got = idx.probe(batch()).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(
        100L -> ((9L, 9L)), 101L -> ((9L, 1L)), 102L -> ((9L, 0L))),
        s"duplicate index rows multiplied the counts: $got")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("append admits only new spans, converges on replay; re-probe sees full dup") {
    val dir = Files.createTempDirectory("graft_span_idx_").toString
    val idx = SpanIndex.create(spark, "sidx2", dir, corpus())
    try {
      idx.append(batch())
      // every batch span is now corpus — including the previously-fresh doc
      val again = idx.probe(batch()).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(again == Map(
        100L -> ((9L, 9L)), 101L -> ((9L, 9L)), 102L -> ((9L, 9L))), again)
      // replaying the same append adds nothing (anti join sees run 1)
      val n1 = spark.table("sidx2_spans").count()
      idx.append(batch())
      assert(spark.table("sidx2_spans").count() == n1,
        "append replay must not grow the inventory")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("probe exchanges only the batch side; index scan consumes its buckets") {
    val dir = Files.createTempDirectory("graft_span_idx_").toString
    val idx = SpanIndex.create(spark, "sidx3", dir, corpus())
    // force the shuffle-join path (broadcast would hide the layout claim)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = idx.probePlan(batch()).queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"want 1 exchange (batch side only), got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compactIndex collapses small files; answers and bucket layout survive") {
    val dir = Files.createTempDirectory("graft_span_idx_").toString
    val idx = SpanIndex.create(spark, "sidx4", dir, corpus())
    try {
      (0 to 2).foreach { i =>
        idx.append(batch().filter(col("doc_id") % 3 === i))
      }
      val filesBefore = spark.table("sidx4_spans").inputFiles.length
      assert(filesBefore > SpanIndex.NumBuckets,
        s"fixture did not grow small files (files: $filesBefore)")
      val before = idx.probe(batch()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      idx.compactIndex(dir)

      val filesAfter = spark.table("sidx4_spans").inputFiles.length
      assert(filesAfter <= SpanIndex.NumBuckets,
        s"still $filesAfter files after compaction")
      val after = idx.probe(batch()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(after == before, "compaction changed probe answers")

      val plan = withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        idx.probePlan(batch()).queryExecution.executedPlan.toString
      }
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1 &&
        plan.contains("Bucketed: true"),
        s"rewrite lost the bucket layout:\n$plan")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
