package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.sources.{CompactionScheduler, GraftCatalog}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** `cdc_ingest`: commits beside a changefeed on a small orders table.
  *
  * Each cycle commits a `GraftCatalog.upsert` batch (equality deletes) and
  * an external writer's parquet file (`GraftCatalog.commitAppend`), and
  * after each commit point-reads a row it just wrote. At fixed cycles it runs
  * a library `deleteWhere`, drains the doorway changefeed
  * (`readStream.table("<cat>.db.orders.changes")`, `Trigger.AvailableNow`,
  * noop sink, one checkpoint), and runs `CompactionScheduler.sweep` and
  * `expireSnapshots`. Almost every read sees a new snapshot.
  */
final class CdcIngest(ctx: Ctx) extends Workload(ctx) {
  import CdcIngest._

  private val knownKeys = mutable.ArrayBuffer[Long]()
  private var nextAppendKey = 0L
  /** Rows the user supplied to the measured table, for `write_amp`. */
  private val supplied = mutable.ArrayBuffer[Row]()

  private def genRow(rng: Random, key: Long, status: String): Row =
    Row(key, rng.nextLong(15000) + 1, status,
      (rng.nextInt(50000000) + 100000) / 100.0,
      new Timestamp(694224000000L + rng.nextInt(2400) * 86400000L),
      Fixtures.Priorities(rng.nextInt(Fixtures.Priorities.size)))

  private def distinctKeys(rng: Random, n: Int): Seq[Long] =
    Iterator.continually(knownKeys(rng.nextInt(knownKeys.size))).distinct.take(n).toSeq

  private def rowsDf(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, Schema)

  def run(): Unit = {
    val source = Fixtures.orders(spark, ctx.seed, Files)
    knownKeys ++= (0L until Fixtures.OrdersSf01).map(_ * 4 + 1)
    val log = mutable.ArrayBuffer[Op]()

    var name = ""
    var root = new File("")
    val table = "db/orders"
    val ddl = s"(${Fixtures.OrdersDdl}) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')"
    // set-up, repeated: create and load the table through the doorway as
    // many small files and run every per-cycle op shape once; the last
    // repetition's table is the one measured
    var cycle: Cycle = null
    val reps = (1 to SetupReps).map { r =>
      seconds(s"setup rep $r") {
        if (r > 1) Fixtures.deleteTree(root)
        name = s"cdc$r"
        root = new File(s"${ctx.dir}/cat$r")
        mount(name, root.getPath)
        spark.sql(s"CREATE NAMESPACE $name.db")
        spark.sql(s"CREATE TABLE $name.db.orders $ddl")
        source.writeTo(s"$name.db.orders").append()
        log.clear()
        supplied.clear()
        cycle = new Cycle(s"$name.db.orders", table, root, new GraftCatalog(root.getPath),
          new Random(ctx.seed), log)
        cycle.upsert(0)
        cycle.point(0)
        cycle.append(0)
        cycle.point(0)
      }._2
    }
    val t = s"$name.db.orders"
    val cat = new GraftCatalog(root.getPath)
    // the changefeed consumer starts once, after the repetitions: its first
    // drain loads the table, and every drain costs about one micro-batch
    // per snapshot behind
    val ckpt = s"${ctx.dir}/feed-checkpoint"
    val (_, feedStart) = seconds("changefeed start")(drain(t, ckpt))
    setupSeconds(reps, feedStart)

    val scheduler = new CompactionScheduler(cat, s"${root.getPath}/_data/sweeps",
      maxConcurrent = 1)
    val fp = fingerprints(t, cat, table, Fixtures.OrdersCols)
    lazy val sourceRows = source.collect().toSeq
    val expected = memoBy(() => log.size)(Fixtures.fingerprint(
      rowsDf(expectedRows(sourceRows, log.toSeq)), Fixtures.OrdersCols))
    val n = cycles(CycleSeconds, MinCycles)
    val gc0 = Recorder.gcMs
    rec.startPhase()
    for (c <- 1 to n) {
      headProbe(cat, table)
      cycle.upsert(c)
      cycle.point(c)
      cycle.append(c)
      cycle.point(c)
      if (DeleteAt(c)) cycle.delete(c)
      // the consumer drains once, early, and then falls behind for good
      if (FeedAt(c)) {
        val rows = rec.op("feed")(drain(t, ckpt))
        ctx.check(rows > 0, s"changefeed drain at cycle $c saw no rows")
      }
      if (c == n) catalogCounts(cat, table, root)
      if (SweepAt(c)) {
        sweepOutcomes(compaction("sweep", cat, table, fp, expected)(scheduler.sweep(spark)))
        observe(root)
        rec.op("expire")(cat.expireSnapshots(table, KeepSnapshots))
      }
    }
    sweepOutcomes(compaction("sweep", cat, table, fp, expected)(scheduler.sweep(spark)))
    rec.stopPhase()
    jvmLayers(gc0)
    Recorder.log("timed phase done")

    rec.untimed {
      checkFinal(fp(), expected())
      ctx.latency("point_p50_ms", "point", 0.5)
      ctx.latency("point_p90_ms", "point", 0.9)
      ctx.latency("upsert_p50_ms", "upsert", 0.5)
      ctx.latency("upsert_p90_ms", "upsert", 0.9)
      ctx.latency("append_p50_ms", "append", 0.5)
      ctx.latency("dml_p50_ms", "dml", 0.5)
      ctx.latency("feed_p50_ms", "feed", 0.5)
      val userRows = source.unionByName(rowsDf(supplied.toSeq)).coalesce(4)
      reportCommon(root, Fixtures.parquetBytes(userRows, s"${ctx.dir}/user-rows").toDouble,
        Fixtures.parquetBytes(rowsDf(expectedRows(sourceRows, log.toSeq)).coalesce(4),
          s"${ctx.dir}/live-rows").toDouble)
      ctx.info("cycles") = n
    }
  }

  /** One `Trigger.AvailableNow` drain of the changefeed into a noop sink;
    * returns the rows it streamed. Traced runs add the micro-batch phase
    * times from `StreamingQueryProgress.durationMs`.
    */
  private def drain(t: String, ckpt: String): Long = {
    val q = spark.readStream.option("skipRewrites", "true").table(s"$t.changes")
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    val rows = progress.map(_.numInputRows).sum
    if (rec.traced && rec.recording) {
      for (p <- progress; (k, v) <- p.durationMs.asScala
           if Set("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")(k))
        rec.add(s"stream.${k}_ms", v.toDouble)
      rec.add("stream.batches", progress.size)
      rec.add("stream.rows", rows.toDouble)
    }
    rows
  }

  /** The per-cycle op shapes against one table (`t` in the doorway, `table`
    * in the library); each op is logged for the expected table.
    */
  private final class Cycle(t: String, table: String, root: File, cat: GraftCatalog,
      rng: Random, log: mutable.ArrayBuffer[Op]) {
    private var lastWritten: Row = _
    private def out(what: String) = s"${root.getPath}/_data/$table/$what"

    def upsert(c: Int): Unit = {
      val rows = distinctKeys(rng, UpsertRows).map(genRow(rng, _, "U"))
      write("upsert", cat, table)(
        cat.upsert(spark, table, rowsDf(rows), Seq("o_orderkey"), out(s"upsert-$c")))
      lastWritten = rows(rng.nextInt(rows.size))
      log += Upsert(rows)
      supplied ++= rows
    }

    /** Reads back one row the last upsert or append wrote; it must match. */
    def point(c: Int): Unit = {
      val k = lastWritten.getLong(0)
      val got = read("point", cat, table)(rec.sql(
        s"SELECT o_totalprice, o_orderstatus FROM $t WHERE o_orderkey = $k"))
      ctx.check(got.length == 1 && got.head.getDouble(0) == lastWritten.getDouble(3) &&
        got.head.getString(1) == lastWritten.getString(2),
        s"cycle $c: point read of just-written o_orderkey=$k returned ${got.mkString(",")}")
    }

    /** An external writer stages a parquet file with plain Spark; the
      * catalog then commits it by path.
      */
    def append(c: Int): Unit = {
      val keys = (0 until AppendRows).map(i => 4 * (nextAppendKey + i) + 3)
      nextAppendKey += AppendRows
      val rows = keys.map(genRow(rng, _, "N"))
      lastWritten = rows(rng.nextInt(rows.size))
      val stage = out(s"external/append-$c")
      rec.op("append") {
        rowsDf(rows).coalesce(1).write.parquet(stage)
        val file = new File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
        commitTimed(cat, root) {
          cat.commitAppend(table, Seq(GraftCatalog.AddedFile(file.toURI.toString)))
        }
      }
      knownKeys ++= keys
      log += Append(rows)
      supplied ++= rows
    }

    /** A library row-level delete over about one file's key range; the
      * modulus keeps it from being a pure key-equality delete.
      */
    def delete(c: Int): Unit = {
      val span = 4 * Fixtures.OrdersSf01 / Files
      val lo = rng.nextLong(4 * Fixtures.OrdersSf01 - span)
      val d = DeleteWhere(lo, lo + span, 3, rng.nextInt(3))
      val k = col("o_orderkey")
      write("dml", cat, table)(cat.deleteWhere(spark, table,
        k.between(d.lo, d.hi) && (k % d.mod === d.res), out(s"delete-$c")))
      log += d
    }
  }

  /** Times `commitAppend` alone (traced runs), with the bytes the process
    * read during it (parquet footers, snapshot documents) and the metadata
    * bytes it wrote.
    */
  private def commitTimed[A](cat: GraftCatalog, root: File)(f: => A): A =
    if (!rec.traced || !rec.recording) f
    else {
      val meta0 = rec.untimed(metaBytes(root))
      val read0 = Recorder.processBytesRead
      val t0 = System.nanoTime()
      val r = rec.span("commit.append")(f)
      rec.add("commit.append_ms", (System.nanoTime() - t0) / 1e6)
      rec.add("commit.bytes_read", (Recorder.processBytesRead - read0).toDouble)
      rec.add("commit.meta_bytes_written", rec.untimed(metaBytes(root)) - meta0)
      r
    }
}

object CdcIngest {
  /** Orders is loaded as this many small files. */
  val Files = 48
  val SetupReps = 3
  val UpsertRows = 200
  val AppendRows = 500
  val DeleteAt = Set(5)
  val FeedAt = Set(1)
  val SweepAt = Set(10)
  val KeepSnapshots = 12
  val CycleSeconds = 2.5
  val MinCycles = 10

  val Schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  /** The op log the expected table is replayed from. */
  sealed trait Op
  final case class Upsert(rows: Seq[Row]) extends Op
  final case class Append(rows: Seq[Row]) extends Op
  final case class DeleteWhere(lo: Long, hi: Long, mod: Int, res: Int) extends Op {
    def matches(k: Long): Boolean = k >= lo && k <= hi && k % mod == res
  }

  /** Replays the op log over the source rows on the driver, as a multiset
    * keyed by `o_orderkey`: an upsert replaces every row of its key, an
    * append adds rows, a delete drops the rows it matches.
    */
  def expectedRows(source: Seq[Row], log: Seq[Op]): Seq[Row] = {
    val byKey = mutable.LinkedHashMap[Long, Vector[Row]]()
    def add(r: Row): Unit =
      byKey(r.getLong(0)) = byKey.getOrElse(r.getLong(0), Vector.empty) :+ r
    source.foreach(add)
    log.foreach {
      case Upsert(rows) => rows.foreach(r => byKey(r.getLong(0)) = Vector(r))
      case Append(rows) => rows.foreach(add)
      case d: DeleteWhere => byKey.filterInPlace((k, _) => !d.matches(k))
    }
    byKey.valuesIterator.flatten.toSeq
  }
}
