package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the MoR benchmark JVM. `perfbench/run.py` builds the
  * classpath and launches this with pinned JVM flags:
  *
  * {{{
  * perfbench.Main --workload mor_serve|cdc_ingest --seed N --seconds S
  *   --trace 0|1 --dir <fresh run dir> --out <result.json>
  *   [--trace-dir <dir>] [--perturb 1]
  * }}}
  *
  * It writes one result document to `--out`: pinned settings, every
  * end-to-end metric with its unit and sample count, the correctness
  * verdict, and (traced runs) the per-layer metrics. Spans go to
  * `--trace-dir`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = new File(opt("dir")).getAbsolutePath
    val out = opt("out")
    val traced = opt.getOrElse("trace", "0") == "1"
    val yardBefore = Recorder.yardstickMs()
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toInt, dir, rec,
      opt.getOrElse("perturb", "0") == "1")
    ctx.info("cpus") = Runtime.getRuntime.availableProcessors()
    ctx.info("spark_master") = s"local[$cpus]"
    ctx.info("shuffle_partitions") = cpus
    ctx.info("jdk") = System.getProperty("java.version")
    ctx.info("heap_max_mb") = Runtime.getRuntime.maxMemory() / (1 << 20)
    ctx.info("gc") = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName)
      .mkString("+")
    ctx.info("run_dir") = dir
    ctx.info("yardstick_before_ms") = yardBefore
    ctx.sessionSeconds = (System.nanoTime() - mainEntry) / 1e9
    try {
      workload match {
        case "mor_serve" => new MorServe(ctx).run()
        case "cdc_ingest" => new CdcIngest(ctx).run()
        case other => sys.error(s"unknown workload '$other'")
      }
    } catch {
      case e: Throwable =>
        rec.fail(s"run aborted: $e")
        e.printStackTrace()
    }
    Recorder.log("workload done")
    val yardAfter = Recorder.yardstickMs()
    ctx.info("yardstick_after_ms") = yardAfter
    if (traced) {
      rec.add("host.yardstick_ms", Recorder.median(Seq(yardBefore, yardAfter)))
      ctx.layerSummary()
      opt.get("trace-dir").foreach(d => ctx.writeSpans(new File(d), workload))
    }
    rec.close()
    writeResult(new File(out), workload, ctx)
    spark.stop()
    Recorder.log("session stopped")
  }

  private def writeResult(f: File, workload: String, ctx: Ctx): Unit = {
    val rec = ctx.rec
    val metrics = ctx.metrics.map { case (k, m) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}, " +
        s"\"n\": ${m.n}}"
    }.mkString(", ")
    val layers = rec.layer.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
    val info = ctx.info.map { case (k, v) => s"${Json.str(k)}: ${Json.any(v)}" }.mkString(", ")
    val doc =
      s"""{"workload": ${Json.str(workload)}, "seed": ${ctx.seed}, "traced": ${rec.traced},
         |"correct": ${rec.failed == 0 && rec.attempted > 0}, "attempted": ${rec.attempted},
         |"failed": ${rec.failed}, "errors": [${rec.errors.map(Json.str).mkString(", ")}],
         |"info": {$info},
         |"metrics": {$metrics},
         |"layers": {$layers}}
         |""".stripMargin
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(doc) finally w.close()
  }
}

/** One reported metric: `n` is its sample count (1 for run totals). A
  * percentile below its minimum sample count is NaN, i.e. not reported.
  */
final case class Metric(value: Double, unit: String, n: Int)

/** Everything a workload needs, and what it reports. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val dir: String, val rec: Recorder, val perturb: Boolean) {
  val metrics = mutable.LinkedHashMap[String, Metric]()
  val info = mutable.LinkedHashMap[String, Any]()
  var sessionSeconds = 0.0

  /** p50 needs 20 samples and p90 needs 100, so that at least ten lie
    * beyond the p90; below that the percentile is not reported.
    */
  def latency(name: String, kind: String, q: Double): Unit = {
    val xs = rec.samples.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
    val need = if (q > 0.5) 100 else 20
    val v = if (xs.size >= need) Recorder.percentile(xs, q) else Double.NaN
    metrics(name) = Metric(v, "ms", xs.size)
  }

  def total(name: String, v: Double, unit: String): Unit = metrics(name) = Metric(v, unit, 1)

  /** Correctness check: a mismatch counts as a failed op. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) rec.fail(what)

  /** Layer metrics every traced run derives from the op/job attribution. */
  def layerSummary(): Unit = {
    val stats = rec.jobStats().values.toSeq
    def sumOf(kinds: String => Boolean)(f: Recorder.JobStats => Double): Double =
      stats.filter(s => kinds(s.op.kind)).map(f).sum
    val all = (_: String) => true
    rec.add("exec.job_ms", sumOf(all)(_.jobMs))
    rec.add("exec.jobs", sumOf(all)(_.jobs))
    rec.add("exec.tasks", sumOf(all)(_.tasks))
    rec.add("exec.shuffle_bytes", sumOf(all)(_.shuffleBytes.toDouble))
    rec.add("exec.driver_ms", sumOf(all)(_.driverMs))
    val dml = Set("dml", "upsert")
    rec.add("dml.job_ms", sumOf(dml)(_.jobMs))
    rec.add("dml.driver_ms", sumOf(dml)(_.driverMs))
    val compaction = Set("sweep", "compact")
    rec.add("compaction.ms", sumOf(compaction)(s => s.op.endMs - s.op.startMs))
    rec.add("compaction.driver_ms", sumOf(compaction)(_.driverMs))
    rec.add("sweep.ms", sumOf(Set("sweep"))(s => s.op.endMs - s.op.startMs))
    val reads = stats.filter(s => readBytes.contains(s.op.id))
    val live = reads.map(s => readBytes(s.op.id)).sum
    rec.add("dsv2.bytes_read_ratio",
      if (live > 0) reads.map(_.inputBytes.toDouble).sum / live else 0.0)
    rec.selfTimes().toSeq.sortBy(_._1).foreach { case (n, v) => rec.add(s"self.$n", v) }
  }

  /** Live table bytes (data + delete files) at each read op, keyed by op id. */
  val readBytes = mutable.Map[Int, Double]()

  def writeSpans(d: File, workload: String): Unit = {
    d.mkdirs()
    val w = new PrintWriter(new File(d, s"$workload-seed$seed-spans.jsonl"), "UTF-8")
    try rec.spans.sortBy(_.startMs).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""name": ${Json.str(s.name)}, "start_ms": ${Json.num(s.startMs)}, """ +
        s""""end_ms": ${Json.num(s.endMs)}}""")
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(any).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
