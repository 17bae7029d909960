package graft.sources.dsv2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.sources.GraftCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Delete files decode on the driver, straight from parquet
  * ([[DeleteFileDecoder]]): for every probeable equality-key type, and for
  * position files under paths with spaces, the masked read equals the row
  * path's (`disableForProbes`) and plans with no Spark job. A key type the
  * decoder does not reproduce refuses to the row path and still reads
  * correctly.
  */
class DeleteFileDecodeSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gdd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  /** Spark jobs started while `df` plans (earlier queries' events drained
    * first, so none of theirs is counted).
    */
  private def planJobs(df: DataFrame): Int = {
    ListenerBridge.drain(spark.sparkContext)
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      df.queryExecution.executedPlan
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** The row path's rows of `sql`, then the masked read's: it must plan
    * with no job, serve masked, decode the snapshot's delete files, and
    * return the same rows. Returns them.
    */
  private def maskedEqualsRowPath(sql: String, deleteFiles: Int): Seq[String] = {
    GraftColumnarMask.disableForProbes = true
    val viaRows = try rowsOf(spark.sql(sql)) finally GraftColumnarMask.disableForProbes = false
    val masked0 = GraftColumnarMask.maskedServed.get()
    val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
    val df = spark.sql(sql)
    val jobs = planJobs(df)
    assert(GraftColumnarMask.deleteFilesDecoded.get() - decoded0 == deleteFiles)
    assert(GraftColumnarMask.maskedServed.get() > masked0, s"the read must serve masked: $sql")
    assert(jobs == 0, s"the masked read must plan with no Spark job: $sql")
    val viaMask = rowsOf(df)
    assert(viaMask == viaRows, s"masked and row-path reads differ: $sql")
    viaMask
  }

  /** (SQL type, data-row key literals, upserted key literals, write conf). */
  private val keyCases: Seq[(String, Seq[String], Seq[String], Map[String, String])] = Seq(
    ("BOOLEAN", Seq("true", "false"), Seq("true"), Map.empty),
    ("INT", Seq("1", "2", "-3", "2147483647"), Seq("2", "-3"), Map.empty),
    ("BIGINT", Seq("1", "-9000000000", "9000000000"), Seq("9000000000"), Map.empty),
    ("DOUBLE", Seq("0.0D", "1.5D", "-2.25D"), Seq("-0.0D", "1.5D"), Map.empty),
    ("STRING", Seq("'a'", "'b c'", "'é'"), Seq("'b c'", "'é'"), Map.empty),
    ("DATE", Seq("DATE'2020-01-01'", "DATE'1999-12-31'"), Seq("DATE'1999-12-31'"), Map.empty),
    ("TIMESTAMP", Seq("TIMESTAMP'2020-01-01 10:00:00.123456'", "TIMESTAMP'2001-02-03 04:05:06'"),
      Seq("TIMESTAMP'2020-01-01 10:00:00.123456'"),
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")),
    ("TIMESTAMP", Seq("TIMESTAMP'2020-01-01 10:00:00.123456'", "TIMESTAMP'2001-02-03 04:05:06'"),
      Seq("TIMESTAMP'2001-02-03 04:05:06'"),
      Map("spark.sql.parquet.outputTimestampType" -> "INT96")),
    ("TIMESTAMP_NTZ", Seq("TIMESTAMP_NTZ'2020-01-01 10:00:00.5'", "TIMESTAMP_NTZ'1970-01-01 00:00:00'"),
      Seq("TIMESTAMP_NTZ'2020-01-01 10:00:00.5'"), Map.empty))

  private def withConf[T](kv: Map[String, String])(body: => T): T =
    withConfs(kv.toSeq: _*)(body)

  /** A table of `keys` (k of `sqlType`, v = 'd<i>') with `upserted` keys
    * upserted to v = 'u' (one equality-delete file on k).
    */
  private def upserted(
      sqlType: String,
      keys: Seq[String],
      upsertedKeys: Seq[String],
      conf: Map[String, String]): (String, GraftCatalog) = withConf(conf) {
    val root = Files.createTempDirectory("graft-decode-eq").toString
    val g = mount(root)
    val cat = new GraftCatalog(root)
    spark.sql(s"CREATE TABLE $g.t (k $sqlType, v STRING)")
    spark.sql(s"INSERT INTO $g.t VALUES " +
      keys.zipWithIndex.map { case (k, i) => s"($k, 'd$i')" }.mkString(", "))
    val updates = spark.sql(upsertedKeys.map(k => s"SELECT $k AS k, 'u' AS v")
      .mkString(" UNION ALL "))
    cat.upsert(spark, "t", updates, Seq("k"), s"$root/_data/t/upsert")
    assert(cat.loadEntries("t").count(_.kind == "eqdel") == 1)
    (g, cat)
  }

  test("equality keys of every probeable type decode on the driver, masking like the row path") {
    keyCases.foreach { case (sqlType, keys, upsertedKeys, conf) =>
      withClue(s"$sqlType $conf: ") {
        val (g, _) = upserted(sqlType, keys, upsertedKeys, conf)
        val rows = maskedEqualsRowPath(s"SELECT k, v FROM $g.t", deleteFiles = 1)
        assert(rows.size == keys.size, rows)
        assert(rows.count(_.endsWith("|u")) == upsertedKeys.size, rows)
      }
    }
  }

  test("a -0.0 equality key kept by another writer masks the 0.0 row, as SQL equality does") {
    val (g, cat) = upserted("DOUBLE", Seq("0.0D", "1.5D"), Seq("0.0D"), Map.empty)
    // this library's key sets go through a distinct, which turns -0.0 into
    // 0.0; another engine's file may keep it: rewrite the one key as -0.0
    val eq = cat.loadEntries("t").find(_.kind == "eqdel").get.path.replaceFirst("^file:/+", "/")
    val keys = spark.read.parquet(eq)
    val tmp = Files.createTempDirectory("graft-decode-negzero").toString
    keys.select(org.apache.spark.sql.functions.lit(-0.0d).as("k", keys.schema("k").metadata))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // the local file system's checksum sidecar moves with the content
    val (src, dst) = (java.nio.file.Paths.get(graft.sources.CompactionRunner.listParquet(tmp).head),
      java.nio.file.Paths.get(eq))
    def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
    Seq(src -> dst, crc(src) -> crc(dst)).foreach { case (a, b) =>
      Files.copy(a, b, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    assert(1.0 / spark.read.parquet(eq).head().getDouble(0) == Double.NegativeInfinity)
    assert(maskedEqualsRowPath(s"SELECT k, v FROM $g.t", deleteFiles = 1) ==
      Seq("0.0|u", "1.5|d1"))
  }

  test("position files under paths with spaces decode on the driver") {
    val root = Files.createTempDirectory("graft decode spacey").toString
    val g = mount(root)
    // partitioned by a value with a space: the data files live under
    // `v=NOT SPECIFIED/` and `v=a b/` inside a root with spaces
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) PARTITIONED BY (v) " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $g.t SELECT /*+ REPARTITION(3) */ id, " +
      "IF(id % 3 = 0, 'NOT SPECIFIED', 'a b') FROM range(0, 300)")
    spark.sql(s"DELETE FROM $g.t WHERE k < 100 AND k % 2 = 0")
    val entries = new GraftCatalog(root).loadEntries("t")
    val pos = entries.filter(_.kind == "posdel")
    assert(pos.nonEmpty && pos.forall(_.path.contains(" ")))
    val data = entries.filter(_.kind == "data")
    assert(data.forall(_.path.contains(" ")) &&
      data.map(_.partitionVals("v")).toSet == Set("NOT SPECIFIED", "a b"),
      data.map(e => (e.path, e.partitionVals)))
    val rows = maskedEqualsRowPath(s"SELECT k, v FROM $g.t", deleteFiles = pos.size)
    assert(rows.size == 250)
  }

  test("a key type the decoder does not reproduce refuses to the row path and reads correctly") {
    val (g, _) = upserted("DECIMAL(10, 2)", Seq("1.25", "2.50", "3.75"), Seq("2.50"), Map.empty)
    // projecting only v reaches the decode (a decimal column in the
    // projection would refuse before it)
    val masked0 = GraftColumnarMask.maskedServed.get()
    val decoded0 = GraftColumnarMask.deleteFilesDecoded.get()
    assert(rowsOf(spark.sql(s"SELECT v FROM $g.t")) == Seq("d0", "d2", "u"))
    assert(GraftColumnarMask.deleteFilesDecoded.get() > decoded0)
    assert(GraftColumnarMask.maskedServed.get() == masked0,
      "a decimal equality key must refuse to the row path")
    assert(rowsOf(spark.sql(s"SELECT k, v FROM $g.t")) == Seq("1.25|d0", "2.50|u", "3.75|d2"))
  }
}
