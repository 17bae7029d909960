package perfbench

import java.io.File

import scala.collection.mutable

import graft.sources.GraftCatalog

/** What both workloads share: mounting the doorway catalog, read and
  * compaction ops with their checks, catalog probes, and the byte
  * accounting behind `write_amp`/`space_amp`.
  */
abstract class Workload(val ctx: Ctx) {
  val spark = ctx.spark
  val rec = ctx.rec

  def run(): Unit

  /** Mounts the DSv2 doorway under a catalog name. Spark caches catalogs by
    * name per session, so every fresh root gets a fresh name.
    */
  def mount(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  /** Cycle count from the run length: fixed for a given `--seconds`, never
    * read off a timer, so every count repeats from run to run.
    */
  def cycles(cycleSeconds: Double, min: Int): Int =
    math.max(min, math.round(ctx.seconds / cycleSeconds).toInt)

  def seconds[A](what: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    Recorder.log(f"$what $s%.2f s")
    (r, s)
  }

  // ---- reads ---------------------------------------------------------------

  private val readSnapshots = mutable.Set[Long]()
  private val liveBytes = mutable.Map[Long, Double]()

  /** A timed read op. Traced runs classify it as a served-plan hit (its
    * snapshot was read before) or a miss, and note the live table bytes
    * for `dsv2.bytes_read_ratio`.
    */
  def read[A](kind: String, cat: GraftCatalog, table: String)(f: => A): A =
    if (!rec.traced || !rec.recording) rec.op(kind)(f)
    else {
      val (snap, live) = rec.untimed {
        val s = cat.currentSnapshotId(table)
        s -> liveBytes.getOrElseUpdate(s, cat.loadEntries(table).map(_.sizeBytes.max(0L)).sum.toDouble)
      }
      val hit = !readSnapshots.add(snap)
      val r = rec.op(kind)(f)
      val o = rec.ops.last
      rec.add(if (hit) "dsv2.read_hit_ms" else "dsv2.read_miss_ms", o.endMs - o.startMs)
      rec.add(if (hit) "dsv2.read_hits" else "dsv2.read_misses", 1)
      ctx.readBytes(o.id) = live
      r
    }

  /** A row-level write op (doorway or library DML, upsert); traced runs
    * diff the entries around it for the files it added.
    */
  def write[A](kind: String, cat: GraftCatalog, table: String)(f: => A): A =
    if (!rec.traced || !rec.recording) rec.op(kind)(f)
    else {
      val before = rec.untimed(cat.loadEntries(table).map(_.path).toSet)
      val r = rec.op(kind)(f)
      rec.untimed {
        val added = cat.loadEntries(table).filterNot(e => before(e.path))
        rec.add("dml.delete_files_added", added.count(_.kind != "data"))
        rec.add("dml.data_files_added", added.count(_.kind == "data"))
      }
      r
    }

  // ---- compaction ----------------------------------------------------------

  var compactRows = 0.0
  var compactMs = 0.0

  /** `f`, recomputed only when `key` changes. */
  def memoBy[K, V](key: () => K)(f: => V): () => V = {
    var last: Option[(K, V)] = None
    () => {
      val k = key()
      last.filter(_._1 == k).map(_._2).getOrElse { val v = f; last = Some(k -> v); v }
    }
  }

  /** Fingerprint of doorway table `t` at its head, cached per snapshot. */
  def fingerprints(t: String, cat: GraftCatalog, table: String,
      cols: Seq[String]): () => Fixtures.Fingerprint = {
    val cache = mutable.Map[Long, Fixtures.Fingerprint]()
    () => cache.getOrElseUpdate(cat.currentSnapshotId(table),
      Fixtures.fingerprint(spark.table(t), cols))
  }

  /** A timed compaction op (sweep or compactTable). If it changed the
    * table's files, the table's fingerprint afterwards must equal the
    * expected table's at that point of the op log; rows rewritten are the
    * records of the data files it removed.
    */
  def compaction[A](kind: String, cat: GraftCatalog, table: String,
      actual: () => Fixtures.Fingerprint, expected: () => Fixtures.Fingerprint)(f: => A): A = {
    val before = rec.untimed(cat.loadEntries(table))
    val r = rec.op(kind)(f)
    val o = rec.ops.last
    rec.untimed {
      val after = cat.loadEntries(table)
      val afterPaths = after.map(_.path).toSet
      val beforePaths = before.map(_.path).toSet
      val removed = before.filterNot(e => afterPaths(e.path))
      val added = after.filterNot(e => beforePaths(e.path))
      if (removed.nonEmpty || added.nonEmpty) {
        val (got, want) = (actual(), expected())
        ctx.check(got == want, s"$kind at op ${o.id} left $got, expected $want")
        rec.add("compaction.checked", 1)
      }
      val rows = removed.filter(_.kind == "data").map(_.recordCount.max(0L)).sum.toDouble
      compactRows += rows
      compactMs += o.endMs - o.startMs
      rec.add("compaction.rows", rows)
      rec.add("compaction.bytes_rewritten",
        removed.filter(_.kind == "data").map(_.sizeBytes.max(0L)).sum.toDouble)
      rec.add("compaction.files_in", removed.size)
      rec.add("compaction.files_out", added.size)
    }
    r
  }

  def sweepOutcomes(outcomes: Seq[graft.sources.CompactionScheduler.Outcome]): Unit = {
    outcomes.foreach(o => rec.add(s"sweep.${o.outcome}", 1))
    if (outcomes.forall(_.outcome == "healthy")) {
      val o = rec.ops.last
      rec.add("sweep.healthy_ms", o.endMs - o.startMs)
    }
  }

  // ---- catalog probes ------------------------------------------------------

  /** Traced runs time the head read at each cycle start. */
  def headProbe(cat: GraftCatalog, table: String): Unit =
    if (rec.traced) rec.untimed(rec.timed("catalog.head_ms") {
      cat.currentSnapshotId(table)
      cat.loadEntries(table)
    })

  /** Catalog shape at the end of the timed cycles (traced runs). */
  def catalogCounts(cat: GraftCatalog, table: String, root: File): Unit =
    if (rec.traced) rec.untimed {
      val entries = cat.loadEntries(table)
      rec.add("catalog.files_total", entries.size)
      rec.add("catalog.delete_file_debt", cat.deleteFileDebt(table))
      rec.add("catalog.compaction_debt", cat.compactionDebt(table))
      rec.add("catalog.snapshots", cat.snapshotIds(table).size)
      rec.add("catalog.meta_bytes", metaBytes(root))
    }

  /** Bytes of catalog metadata: everything under the root but data files. */
  def metaBytes(root: File): Double =
    Fixtures.treeBytes(root, f => !f.getPath.contains(s"${File.separator}_data${File.separator}"))
      .toDouble

  // ---- amplification -------------------------------------------------------

  /** Every file ever seen under the catalog root, with its size; observed
    * before anything is deleted and at the end, so the sum is bytes written.
    */
  private val seen = mutable.Map[String, Long]()
  def observe(root: File): Unit = rec.untimed {
    Fixtures.treeFiles(root).foreach(f => seen(f.getPath) = f.length())
  }
  def bytesWritten: Double = seen.values.sum.toDouble

  /** The end-to-end metrics every workload reports. */
  def reportCommon(root: File, userBytes: Double, liveRowBytes: Double): Unit = {
    observe(root)
    ctx.total("ops_per_s", rec.ops.size / rec.phaseSeconds, "ops/s")
    ctx.total("compact_rows_per_s",
      if (compactMs > 0) compactRows / (compactMs / 1000) else Double.NaN, "rows/s")
    ctx.total("write_amp", bytesWritten / userBytes, "ratio")
    ctx.total("space_amp", Fixtures.treeBytes(root) / liveRowBytes, "ratio")
    ctx.total("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio")
    ctx.info("timed_ops") = rec.ops.size
    ctx.info("timed_phase_s") = rec.phaseSeconds
    ctx.info("compact_rows") = compactRows
  }

  /** Final-read correctness against the independent expectation, with a
    * negative control: a perturbed expectation must not match.
    */
  def checkFinal(actual: Fixtures.Fingerprint, expected: Fixtures.Fingerprint): Unit = {
    val perturbed = expected.copy(count = expected.count + 1)
    val want = if (ctx.perturb) perturbed else expected
    ctx.info("fingerprint_actual") = actual.toString
    ctx.info("fingerprint_expected") = want.toString
    ctx.check(actual == want, s"final read $actual != expected $want")
    ctx.check(actual != perturbed || ctx.perturb,
      "negative control: a perturbed expectation matched the final read")
    ctx.info("negative_control") = if (actual != perturbed) "rejected" else "matched"
  }

  /** `setup_s`: session start, plus the median of the repeated set-ups,
    * plus set-up work done once after them.
    */
  def setupSeconds(reps: Seq[Double], once: Double): Unit = {
    ctx.total("setup_s", ctx.sessionSeconds + Recorder.median(reps) + once, "s")
    ctx.info("setup_session_s") = ctx.sessionSeconds
    ctx.info("setup_reps_s") = reps
    ctx.info("setup_once_s") = once
  }

  def jvmLayers(gc0: Double): Unit = if (rec.traced) {
    rec.add("jvm.gc_ms", Recorder.gcMs - gc0)
    rec.add("jvm.heap_peak_mb", rec.heapPeakMb)
  }
}
