package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.GraftCatalog

/** Keyed (storage-partitioned) reads whose static stats pruning rules out
  * EVERY file — an absent-key point lookup — must serve zero rows with
  * the full reported key count, not hard-fail the one-plan regroup.
  *
  * Found by a full sf0.001 Verify run: q151/q154's conf capture-restore
  * materializes Spark 4's `spark.sql.sources.v2.bucketing.enabled`
  * entry default (true) as an explicit session value, after which q147's
  * lookup of the nonexistent key 17 took the keyed path, its pinned
  * stats prune emptied the planned file list, the frame collapsed into a
  * local relation the regroup cannot slice, and the read threw the
  * 'commit raced' IllegalStateException with no race anywhere. Static
  * pruning now applies INSIDE the regroup (like DPP), so tuple groups
  * survive empty.
  */
class KeyedRegroupRegressionSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gkr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  test("absent-key point lookup on a keyed table serves empty, never throws") {
    val root = Files.createTempDirectory("graft-keyed-empty").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, v STRING)
         |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 10)")
    val old = spark.conf.getAll.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // key 999 exists in no file: writer-stamped bounds prune EVERYTHING
      val miss = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 999")
      assert(miss.collect().isEmpty, "absent key must read as zero rows")
      // a hit on the same keyed table still serves, pruned to its bucket
      val hit = spark.sql(s"SELECT v FROM $g.t WHERE k = 7")
      assert(hit.collect().map(_.getString(0)).toSeq == Seq("v7"))
      // the q147 composite shape: empty lookup CROSS JOIN full count
      val composite = spark.sql(
        s"""SELECT s.k, m.n FROM (SELECT k FROM $g.t WHERE k = 999) s
           |CROSS JOIN (SELECT count(*) AS n FROM $g.t) m""".stripMargin)
      assert(composite.collect().isEmpty)
      // and an SPJ over the same table still joins exchange-free after
      // the empty-lookup reads (the layout stayed claimed)
      val kept = spark.sql(s"SELECT count(*) FROM $g.t WHERE k >= 0")
        .head().getLong(0)
      assert(kept == 10L)
    } finally old.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
  }

  test("q147 after q151 in one session (the original failing interaction)") {
    val sf = "/root/testdata/sf0.001"
    graft.operators.MorQueries.queries("q151_spj")(spark, sf)
      .write.mode("overwrite").format("noop").save()
    // q151's restore materializes the engine's entry default for
    // v2.bucketing.enabled as an explicit session value; q147's
    // absent-key lookup (key 17 does not exist at sf0.001) must still
    // serve — this exact pair hard-failed before the regroup-side pruning
    val out = graft.operators.MorQueries
      .queries("q147_dsv2_partitioned")(spark, sf)
    out.write.mode("overwrite").format("noop").save()
    assert(out.collect().isEmpty, "key 17 does not exist at sf0.001")
  }
}
