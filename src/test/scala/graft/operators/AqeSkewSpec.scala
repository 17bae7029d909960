package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Runtime skew robustness on the q112 (TPC-H Q21) join shape: the plan
  * audits argue the big shuffles survive 100× because AQE re-plans skew at
  * runtime — this spec makes that claim empirical instead of structural.
  * A planted power-law orderkey (one hot key ≫ the rest) is pushed through
  * a sort-merge join under a low skew threshold, and the FINAL adaptive
  * plan must show `OptimizeSkewedJoin`'s split (`skew=true` on the join)
  * while producing exactly the rows the un-skewed execution produces. The
  * complementary PLANNED-skew tool (salting a known hot key) is
  * [[SkewJoin]]; this covers the unplanned skew the optimizer must catch.
  */
class AqeSkewSpec extends SparkSpec {

  private val tuned = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // force the shuffle join: a broadcast would dodge the skew entirely
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // local-scale thresholds: the hot partition is ~MBs of COMPRESSED
    // shuffle bytes, not the 256 MB production default — same detector,
    // scaled-down trigger
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private def withConf[A](pairs: Seq[(String, String)])(body: => A): A =
    withConfs(pairs: _*)(body)

  /** One hot orderkey (42) carrying 75% of the fact side + a uniform tail —
    * the distribution that funnels one reducer at any cluster size.
    */
  /** One hot orderkey (42) carrying most of the fact side + a uniform
    * tail. The `pad` column is an incompressible hash that survives into
    * the aggregate: a constant-key partition of narrow rows would LZ4 down
    * to nothing and duck under any byte threshold — real skew is bytes,
    * not just rows.
    */
  private def skewedFact = {
    val hot = spark.range(0, 400000)
      .select(lit(42L).as("orderkey"), (col("id") % 7).as("qty"),
        xxhash64(col("id")).as("pad"))
    val tail = spark.range(0, 50000)
      .select((col("id") % 1000 + 100L).as("orderkey"), (col("id") % 7).as("qty"),
        xxhash64(col("id") + 1).as("pad"))
    hot.unionAll(tail)
  }

  private def dim = spark.range(0, 2000)
    .select(col("id").as("orderkey"), (col("id") % 3).as("grp"))

  private def shape(fact: org.apache.spark.sql.DataFrame,
      d: org.apache.spark.sql.DataFrame) =
    fact.join(d, "orderkey")
      .groupBy("grp")
      // pad itself crosses the join shuffle at full entropy (that's the
      // point); the aggregate folds it mod-bounded so ANSI sum can't overflow
      .agg(count(lit(1)).as("n"), sum("qty").as("s"),
        sum(pmod(col("pad"), lit(1000000L))).as("p"))

  test("OptimizeSkewedJoin splits the hot partition and results are unchanged") {
    // reference run: skew handling OFF (plain SMJ eats the hot partition —
    // correct, just slow at scale); this is the un-skewed oracle
    val expected = withConf(tuned :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "false")) {
      shape(skewedFact, dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    }

    withConf(tuned) {
      val joined = shape(skewedFact, dim)
      val got = joined.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      // the FINAL adaptive plan (materialized by the collect) must carry
      // the skew split on the sort-merge join
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"no skew-join split in the final adaptive plan:\n$plan")
      assert(got == expected, "skew-split execution changed the results")
      // sanity: the hot key actually dominated (the premise of the test)
      assert(expected.map(_._2).sum == 450000L)
    }
  }
}
