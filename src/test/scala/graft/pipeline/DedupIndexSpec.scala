package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupIndexSpec extends SparkSpec {

  private def corpusSplit() = {
    val c = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text")).as("text"))
    val additions = c.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graft dup tail")).as("text"))
    val isNewOrig = col("doc_id") % 10 === 7
    (c.filter(!isNewOrig), c.filter(isNewOrig).unionAll(additions))
  }

  test("persisted index lifecycle: probe, append, re-probe") {
    val dir = Files.createTempDirectory("graft_dedup_idx_").toString
    val (old, batch) = corpusSplit()
    val idx = DedupIndex.create(spark, "didx1", dir, old)
    try {
      val v1 = idx.dedupBatch(batch).cache()
      // additions are near-dups of their bases (LSH recall-bounded);
      // verdict semantics must match the declared q90 on the same split
      val q90 = PipelineQueries.queries("q90_incremental_dedup")(spark, sfDir)
      val diff = v1.select(col("doc_id"), col("verdict"))
        .exceptAll(q90).count() +
        q90.exceptAll(v1.select(col("doc_id"), col("verdict"))).count()
      assert(diff == 0, "index-backed verdicts diverge from declared q90")
      // admit kept docs, re-probe the same batch: every kept doc is now an
      // exact duplicate of the index
      idx.append(v1)
      val v2 = idx.dedupBatch(batch)
      val kept1 = v1.filter(col("verdict") === "kept")
        .select(col("doc_id"))
      val notExactNow = v2.filter(col("verdict") =!= "exact_dup")
        .select(col("doc_id"))
      assert(kept1.intersect(notExactNow).count() == 0,
        "appended docs must re-probe as exact_dup")
      v1.unpersist()
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compactIndex collapses per-append small files; probe shape and verdicts survive") {
    val dir = Files.createTempDirectory("graft_dedup_idx_").toString
    val (old, batch) = corpusSplit()
    val idx = DedupIndex.create(spark, "didx3", dir, old)
    try {
      // several small appends — the classic per-batch small-file growth
      (0 to 2).foreach { i =>
        val b = batch.filter(col("doc_id") % 3 === i)
        idx.append(idx.dedupBatch(b))
      }
      val docsBefore = spark.table("didx3_docs").inputFiles.length
      val bandsBefore = spark.table("didx3_bands").inputFiles.length
      assert(docsBefore > DedupIndex.NumBuckets,
        s"fixture did not grow small files (docs files: $docsBefore)")
      val verdictsBefore = idx.dedupBatch(batch)
        .select(col("doc_id"), col("verdict")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

      idx.compactIndex(dir)

      // one file per bucket per table
      Seq("didx3_keys", "didx3_bands", "didx3_docs").foreach { t =>
        val n = spark.table(t).inputFiles.length
        assert(n <= DedupIndex.NumBuckets, s"$t still has $n files")
      }
      assert(spark.table("didx3_bands").inputFiles.length < bandsBefore)
      // probe plan STILL consumes the bucket layout with zero index-side
      // exchange — the rewrite must preserve the bucket spec
      val plan = withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        idx.probePlan(batch).queryExecution.executedPlan.toString
      }
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange (probe side only):\n$plan")
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      // verdicts are byte-identical pre/post compaction
      val verdictsAfter = idx.dedupBatch(batch)
        .select(col("doc_id"), col("verdict")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(verdictsAfter == verdictsBefore, "compaction changed dedup verdicts")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("band probe never shuffles the index side") {
    val dir = Files.createTempDirectory("graft_dedup_idx_").toString
    val (old, batch) = corpusSplit()
    val idx = DedupIndex.create(spark, "didx2", dir, old)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = idx.probePlan(batch).queryExecution.executedPlan.toString
      // exactly ONE exchange: the (small) probe side re-bucketing; the
      // index side scan consumes its bucket layout directly
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange (probe side only):\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
