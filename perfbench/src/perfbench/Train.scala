package perfbench

import java.io.File

import graft.sources.{CompactionScheduler, GraftCatalog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Class-loading pass for the JVM's class-data-sharing archive, run once
  * per build with `-XX:ArchiveClassesAtExit`: every API the workloads call
  * is touched once on tiny tables, so later runs map those classes from
  * the archive instead of loading them from jars.
  *
  * {{{
  * perfbench.Train <scratch dir>
  * }}}
  */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)).getAbsolutePath
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.catalog.train", "graft.sources.dsv2.GraftSparkCatalog")
      .config("spark.sql.catalog.train.root", s"$dir/cat")
      .getOrCreate()
    val cat = new GraftCatalog(s"$dir/cat")
    spark.sql("CREATE NAMESPACE train.db")
    spark.sql(s"CREATE TABLE train.db.orders (${Fixtures.OrdersDdl}) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')")
    val orders = Fixtures.orders(spark, 1, 2).limit(1000)
    orders.writeTo("train.db.orders").append()
    val q = spark.readStream.option("skipRewrites", "true").table("train.db.orders.changes")
      .writeStream.format("noop").option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.sql("DELETE FROM train.db.orders WHERE o_orderkey % 7 = 0")
    spark.sql("UPDATE train.db.orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 5 = 0")
    spark.sql("SELECT * FROM train.db.orders WHERE o_orderkey = 41").collect()
    spark.sql("SELECT count(*), sum(o_totalprice) FROM train.db.orders").collect()
    cat.upsert(spark, "db/orders", orders.limit(10), Seq("o_orderkey"), s"$dir/cat/_data/up")
    orders.limit(10).write.parquet(s"$dir/stage")
    val staged = new File(s"$dir/stage").listFiles().filter(_.getName.endsWith(".parquet"))
    cat.commitAppend("db/orders", staged.map(f => GraftCatalog.AddedFile(f.toURI.toString)).toSeq)
    cat.deleteWhere(spark, "db/orders", col("o_orderkey") % 3 === 0, s"$dir/cat/_data/del")
    new CompactionScheduler(cat, s"$dir/cat/_data/sweeps", minAppendedFiles = 2,
      maxConcurrent = 1, minDeleteFiles = 2).sweep(spark)
    cat.compactTable(spark, "db/orders", s"$dir/cat/_data/compact")
    cat.expireSnapshots("db/orders", 2)
    Fixtures.fingerprint(spark.sql("SELECT * FROM train.db.orders VERSION AS OF " +
      cat.currentSnapshotId("db/orders")), Fixtures.OrdersCols)
    Fixtures.lineitem(spark, 1, 1, 2).limit(100).collect()
    spark.stop()
  }
}
