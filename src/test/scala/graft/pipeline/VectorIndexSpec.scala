package graft.pipeline

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Persistence must not change ANN results: the bucketed [[VectorIndex]]
  * probe and recall audit are asserted byte-identical to the declared
  * in-memory q44/q102 (same kernels, same tie-breakers, same doubles).
  */
class VectorIndexSpec extends SparkSpec {

  private def corpus() = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def queries() = corpus().filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  test("persisted probe is byte-identical to the in-memory q44") {
    val dir = Files.createTempDirectory("graft_vec_idx_").toString
    val idx = VectorIndex.create(spark, "vidx1", dir, corpus())
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("qid").cast("long"), col("vec_id").cast("long"),
          col("cid").cast("long"), col("cos"), col("rn"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4))).toSet
      val inMemory = rows(PipelineQueries.queries("q44_ann_ivf")(spark, sfDir))
      val persisted = rows(idx.probe(queries(), 3))
      assert(persisted == inMemory,
        s"persisted probe diverges from q44: only-persisted=" +
          s"${(persisted -- inMemory).take(3)} only-memory=${(inMemory -- persisted).take(3)}")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("persisted recall audit is byte-identical to the in-memory q102") {
    val dir = Files.createTempDirectory("graft_vec_idx_").toString
    val idx = VectorIndex.create(spark, "vidx2", dir, corpus())
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("qid").cast("long"), col("n_hits"), col("recall"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val inMemory = rows(PipelineQueries.queries("q102_ann_recall")(spark, sfDir))
      val persisted = rows(idx.recallAt(corpus(), queries(), 3))
      assert(persisted == inMemory,
        "persisted recall audit diverges from q102")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("probe consumes the index bucket layout without an index-side exchange") {
    val dir = Files.createTempDirectory("graft_vec_idx_").toString
    val idx = VectorIndex.create(spark, "vidx3", dir, corpus())
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = idx.probePlan(queries()).queryExecution.executedPlan.toString
      // the cid equi-join: probe side re-buckets (1 exchange), index scan
      // consumes its bucket layout; window operators add NO extra
      // hashpartitioning beyond the probe-side qid windows
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      val joinExchanges = "Exchange hashpartitioning\\(cid".r.findAllIn(plan).size
      assert(joinExchanges == 1,
        s"expected exactly 1 cid exchange (probe side only):\n$plan")
    } finally {
      idx.drop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
