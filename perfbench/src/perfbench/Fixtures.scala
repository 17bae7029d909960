package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs and the independent correctness model.
  *
  * Every generated value is a pure function of (seed, row key), written with
  * hash expressions, so the same seed gives the same rows whatever the
  * partitioning. Nothing here touches graft code: the expected fingerprint
  * of a run is computed from these inputs and the run's op log with plain
  * Spark only.
  */
object Fixtures {

  /** sf0.1 has 150k orders. Order keys are TPC-H-sparse: `4 * order + 1`,
    * so a replica's keys span `4 * OrdersSf01`.
    */
  val OrdersSf01 = 150000L

  val LineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  val LineitemDdl = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
    "l_linestatus STRING, l_shipdate TIMESTAMP"

  val OrdersCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  val OrdersDdl = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** A non-negative pseudo-random long in [0, 1e9+7), keyed by seed and salt. */
  private def h(seed: Long, salt: Int, c: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), c), lit(1000000007L))

  private def pick(seed: Long, salt: Int, c: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(seed, salt, c) % values.size + 1).cast("int"))

  /** sf0.1-shaped lineitem, 1 to 7 lines per order (~600k rows per copy),
    * replicated `replicas` times with each copy's order keys shifted by a
    * whole key span (ScalingProbe's replication method): per-key row counts
    * and value distributions stay those of sf0.1. Rows come out in key
    * order, one contiguous key range per partition.
    */
  def lineitem(spark: SparkSession, seed: Long, replicas: Int, partitions: Int): DataFrame = {
    val ok = col("o") % OrdersSf01 // the base order a replica row copies
    val line = ok * 8 + col("ln")
    spark.range(0, replicas * OrdersSf01, 1, partitions).withColumnRenamed("id", "o")
      .withColumn("ln", explode(sequence(lit(1), (h(seed, 1, ok) % 7 + 1).cast("int"))))
      .select(
        (col("o") * 4 + 1).as("l_orderkey"),
        (h(seed, 2, line) % 20000 + 1).as("l_partkey"),
        (h(seed, 3, line) % 1000 + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (h(seed, 4, line) % 50 + 1).cast("double").as("l_quantity"),
        ((h(seed, 5, line) % 10000000 + 90000) / 100.0).as("l_extendedprice"),
        ((h(seed, 6, line) % 11) / 100.0).as("l_discount"),
        ((h(seed, 7, line) % 9) / 100.0).as("l_tax"),
        pick(seed, 8, line, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, 9, line, Seq("F", "O")).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + (h(seed, 10, line) % 2500) * 86400)
          .as("l_shipdate"))
  }

  /** sf0.1-shaped orders: 150k rows, unique `o_orderkey`, in key order. */
  def orders(spark: SparkSession, seed: Long, partitions: Int): DataFrame =
    spark.range(0, OrdersSf01, 1, partitions).select(
      (col("id") * 4 + 1).as("o_orderkey"),
      (h(seed, 11, col("id")) % 15000 + 1).as("o_custkey"),
      pick(seed, 12, col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      ((h(seed, 13, col("id")) % 50000000 + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + (h(seed, 14, col("id")) % 2400) * 86400)
        .as("o_orderdate"),
      pick(seed, 15, col("id"), Priorities).as("o_orderpriority"))

  /** Row count plus the exact sum of `xxhash64` over all columns, in a
    * fixed column order. Order-independent, so any two engines that hold
    * the same multiset of rows agree on it.
    */
  final case class Fingerprint(count: Long, hashSum: BigDecimal) {
    override def toString: String = s"count=$count hashsum=$hashSum"
  }

  def fingerprint(df: DataFrame, cols: Seq[String]): Fingerprint = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Bytes of `df` written once as plain parquet into `dir`, one file per
    * partition. The directory is removed again.
    */
  def parquetBytes(df: DataFrame, dir: String): Long = {
    deleteTree(new File(dir))
    df.write.parquet(dir)
    val n = treeBytes(new File(dir), _.getName.endsWith(".parquet"))
    deleteTree(new File(dir))
    n
  }

  def treeFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(treeFiles)
    else if (f.isFile) Seq(f) else Nil

  def treeBytes(f: File, keep: File => Boolean = _ => true): Long =
    treeFiles(f).filter(keep).map(_.length()).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
