package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketing = the co-located-join lever at 100 TB: writing both fact
  * tables bucketed (and sorted) by the join key lets a later sort-merge
  * join consume the bucket layout directly — NO shuffle exchange on either
  * side, on any cluster size. This spec proves the plan shape end-to-end:
  * same join, bucketed inputs drop every Exchange, results identical to
  * the shuffled join.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed-by-key tables sort-merge join with zero exchanges") {
    val dir = Files.createTempDirectory("graft_bucketed_").toString
    val o = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val li = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
    try {
      o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/orders_b").saveAsTable("orders_b")
      li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/lineitem_b").saveAsTable("lineitem_b")
      // force the shuffle-or-not decision to be bucketing's alone: no
      // broadcast fallback, no AQE re-planning hiding the initial shape
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and the bucket layout must not change the answer
      val viaBuckets = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val viaShuffle = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaBuckets == viaShuffle)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
