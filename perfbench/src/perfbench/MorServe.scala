package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.sources.{CompactionScheduler, GraftCatalog}
import graft.sources.CompactionRunner.CompactionConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}

/** `mor_serve`: reads beside a few writes on a merge-on-read lineitem.
  *
  * Each cycle runs one doorway `DELETE` or `UPDATE` whose predicate the
  * doorway cannot translate (`l_orderkey % m = r`), so it writes position
  * deletes; then a batch of stats-prunable point reads and one full-table
  * aggregate scan, all at the same snapshot. Delete debt builds; a
  * `CompactionScheduler.sweep` runs at fixed cycles and one `compactTable`
  * at the end.
  */
final class MorServe(ctx: Ctx) extends Workload(ctx) {
  import MorServe._

  def run(): Unit = {
    val source = Fixtures.lineitem(spark, ctx.seed, Replicas, Files)
    val maxOrders = Replicas * Fixtures.OrdersSf01
    val log = mutable.ArrayBuffer[Dml]()

    // set-up, repeated: create and load through the doorway (one file per
    // key range) and run every op shape once; the last repetition's table
    // is the one measured
    var name = ""
    val reps = (1 to SetupReps).map { r =>
      seconds(s"setup rep $r") {
        if (r > 1) Fixtures.deleteTree(new File(s"${ctx.dir}/cat${r - 1}"))
        name = s"mor$r"
        mount(name, s"${ctx.dir}/cat$r")
        spark.sql(s"CREATE NAMESPACE $name.db")
        spark.sql(s"CREATE TABLE $name.db.lineitem (${Fixtures.LineitemDdl}) TBLPROPERTIES (" +
          "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')")
        source.writeTo(s"$name.db.lineitem").append()
        val warmRng = new Random(ctx.seed * 31)
        log.clear()
        val d = Dml.random(warmRng, maxOrders, delete = true)
        spark.sql(d.sql(s"$name.db.lineitem"))
        log += d
        spark.sql(pointSql(s"$name.db.lineitem", 1)).collect()
        spark.sql(scanSql(s"$name.db.lineitem")).collect()
      }._2
    }
    setupSeconds(reps, 0.0)

    val t = s"$name.db.lineitem"
    val root = new File(s"${ctx.dir}/cat$SetupReps")
    val cat = new GraftCatalog(root.getPath)
    val table = "db/lineitem"
    val layout = CompactionConfig(targetPartitions = CompactFiles)
    // the append side never crosses its threshold here, so sweeps retire
    // delete debt; the data rewrite is the final compactTable
    val scheduler = new CompactionScheduler(cat, s"${root.getPath}/_data/sweeps",
      minAppendedFiles = 4 * Files, maxConcurrent = 1, minDeleteFiles = 2)
    val fp = fingerprints(t, cat, table, Fixtures.LineitemCols)
    val expected = memoBy(() => log.size)(Fixtures.fingerprint(
      log.foldLeft(source)((df, d) => d.applyTo(df)), Fixtures.LineitemCols))

    val rng = new Random(ctx.seed)
    val n = cycles(CycleSeconds, MinCycles)
    val gc0 = Recorder.gcMs
    rec.startPhase()
    for (c <- 1 to n) {
      headProbe(cat, table)
      val d = Dml.random(rng, maxOrders, delete = c % 2 == 1)
      log += d
      write("dml", cat, table)(rec.sql(d.sql(t)))
      for (_ <- 1 to Points) {
        val k = 4 * rng.nextLong(maxOrders) + 1
        val rows = read("point", cat, table)(rec.sql(pointSql(t, k)))
        ctx.check(rows.length <= 7 && rows.forall(_.getLong(0) == k),
          s"point read of l_orderkey=$k returned ${rows.length} wrong rows")
      }
      val agg = read("scan", cat, table)(rec.sql(scanSql(t)))
      ctx.check(agg.head.getLong(0) > 0, "full scan returned no rows")
      if (SweepAt(c))
        sweepOutcomes(compaction("sweep", cat, table, fp, expected)(scheduler.sweep(spark)))
    }
    catalogCounts(cat, table, root)
    compaction("compact", cat, table, fp, expected)(cat.compactTable(spark, table,
      s"${root.getPath}/_data/compact-final", layout))
    sweepOutcomes(compaction("sweep", cat, table, fp, expected)(scheduler.sweep(spark)))
    rec.stopPhase()
    jvmLayers(gc0)

    Recorder.log("timed phase done")
    rec.untimed {
      checkFinal(fp(), expected())
      ctx.latency("point_p50_ms", "point", 0.5)
      ctx.latency("point_p90_ms", "point", 0.9)
      ctx.latency("scan_p50_ms", "scan", 0.5)
      ctx.latency("dml_p50_ms", "dml", 0.5)
      reportCommon(root, Fixtures.parquetBytes(source, s"${ctx.dir}/user-rows").toDouble,
        Fixtures.parquetBytes(log.foldLeft(source)((df, d) => d.applyTo(df)),
          s"${ctx.dir}/live-rows").toDouble)
      ctx.info("cycles") = n
    }
  }
}

object MorServe {
  /** sf0.1 lineitem copies (~600k rows each). */
  val Replicas = 1
  /** Data files the table is loaded as. */
  val Files = 32
  /** Data files the final compaction writes. */
  val CompactFiles = 8
  val SetupReps = 3
  /** Point reads per cycle: 7 x 3 cycles gives the 20 a p50 needs. */
  val Points = 7
  val SweepAt = Set(2)
  val CycleSeconds = 8.0
  val MinCycles = 3

  def pointSql(t: String, k: Long): String = s"SELECT * FROM $t WHERE l_orderkey = $k"
  def scanSql(t: String): String =
    s"SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM $t"

  /** One row-level statement over about one file's key range. The modulus
    * keeps the predicate untranslatable, so it writes position deletes.
    */
  final case class Dml(delete: Boolean, lo: Long, hi: Long, mod: Int, res: Int) {
    private def pred = s"l_orderkey BETWEEN $lo AND $hi AND l_orderkey % $mod = $res"
    def sql(t: String): String =
      if (delete) s"DELETE FROM $t WHERE $pred"
      else s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE $pred"

    /** The same statement in plain Spark, for the expected table. */
    def applyTo(df: DataFrame): DataFrame = {
      val k = col("l_orderkey")
      val p = k.between(lo, hi) && (k % mod === res)
      if (delete) df.filter(!p)
      else df.withColumn("l_quantity", when(p, col("l_quantity") + 1).otherwise(col("l_quantity")))
    }
  }

  object Dml {
    def random(rng: Random, maxOrders: Long, delete: Boolean): Dml = {
      val span = 4 * maxOrders / Files
      val lo = rng.nextLong(4 * maxOrders - span)
      val mod = if (delete) 7 else 5
      Dml(delete, lo, lo + span, mod, rng.nextInt(mod))
    }
  }
}
