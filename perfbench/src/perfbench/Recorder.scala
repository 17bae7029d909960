package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Op timing for one run, plus (traced runs only) spans and Spark-job
  * attribution.
  *
  * Every timed op records one latency sample under its op type. The
  * timed-phase clock runs only between [[startPhase]] and [[stopPhase]] and
  * pauses inside [[untimed]] blocks (correctness checks), so `ops_per_s`
  * is timed ops over timed time. With tracing on, each op opens a span,
  * sets a Spark job group naming its op id, and a listener attributes
  * jobs, tasks and bytes back to the op. Spans live in memory and are
  * written once, when the run ends.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Layer metrics: counts, bytes and busy times, summed over the run. */
  val layer = mutable.LinkedHashMap[String, Double]()
  val ops = mutable.ArrayBuffer[OpRecord]()
  val spans = mutable.ArrayBuffer[Span]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private var phaseMs = 0.0
  private var phaseFrom = Double.NaN
  /** False during set-up: ops then run unrecorded (warm-up). */
  var recording = false
  def startPhase(): Unit = { recording = true; phaseFrom = nowMs }
  def stopPhase(): Unit = if (!phaseFrom.isNaN) { phaseMs += nowMs - phaseFrom; phaseFrom = Double.NaN }
  def phaseSeconds: Double = phaseMs / 1000
  def untimed[A](f: => A): A = {
    val running = !phaseFrom.isNaN
    if (running) stopPhase()
    try f finally if (running) startPhase()
  }

  /** Heap in use after each op (traced runs), at its highest. */
  var heapPeakMb = 0.0

  def add(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v
  def fail(what: String): Unit = { failed += 1; errors += what }

  private val listener = if (traced) Some(new JobListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  private var nextId = 0
  private var stack: List[Span] = Nil
  private var currentOp = -1

  /** Runs `f` as one timed op of type `kind` and records its latency. */
  def op[A](kind: String)(f: => A): A = if (!recording) f else {
    attempted += 1
    nextId += 1
    val id = nextId
    if (traced) spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    val prevOp = currentOp
    currentOp = id
    val start = nowMs
    try span(s"op.$kind")(f)
    finally {
      val end = nowMs
      currentOp = prevOp
      if (traced) spark.sparkContext.clearJobGroup()
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += end - start
      ops += OpRecord(id, kind, start, end)
      if (traced) heapPeakMb = math.max(heapPeakMb, heapUsedMb)
      Recorder.log(f"op $id%d $kind ${end - start}%.1f ms")
    }
  }

  /** A traced span around `f`; a no-op wrapper on untraced runs. */
  def span[A](name: String)(f: => A): A =
    if (!traced || !recording) f
    else {
      nextId += 1
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), currentOp, name, nowMs)
      stack = s :: stack
      try f finally {
        s.endMs = nowMs
        stack = stack.tail
        spans += s
      }
    }

  /** Times `f` outside any op (catalog probes at cycle start), adding the
    * elapsed ms to layer metric `name` (`<span>_ms`).
    */
  def timed[A](name: String)(f: => A): A = span(name.stripSuffix("_ms")) {
    val t0 = nowMs
    try f finally add(name, nowMs - t0)
  }

  /** A SQL statement issued by the benchmark: collects its rows and, when
    * traced, adds its Catalyst phase times (QueryPlanningTracker).
    */
  def sql(text: String): Array[Row] = collect(spark.sql(text))

  def collect(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    if (traced && recording) {
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs.toDouble))
      }
      if (currentOp > 0) catalystByOp(currentOp) = catalystByOp.getOrElse(currentOp, 0.0) +
        phases.values.map(_.durationMs.toDouble).sum
    }
    rows
  }

  private val catalystByOp = mutable.Map[Int, Double]()

  /** Per-op job/driver split for traced runs: jobs attributed by job group,
    * driver time = op wall - Catalyst phases - union of its job intervals.
    */
  def jobStats(): Map[Int, JobStats] = listener.fold(Map.empty[Int, JobStats]) { l =>
    // listener events arrive asynchronously; wait for every started job to end
    val deadline = System.currentTimeMillis() + 10000
    while (l.open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200)
    val byOp = l.jobs.values.toSeq.filter(_.op > 0).groupBy(_.op)
    ops.map { o =>
      val js = byOp.getOrElse(o.id, Nil)
      val union = unionLength(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      val wall = o.endMs - o.startMs
      val catalyst = catalystByOp.getOrElse(o.id, 0.0)
      o.id -> JobStats(o, js.size, js.map(_.tasks).sum, union,
        math.max(0.0, wall - catalyst - union), js.map(_.inputBytes).sum,
        js.map(_.shuffleBytes).sum)
    }.toMap
  }

  def jobs: Seq[JobRec] = listener.fold(Seq.empty[JobRec])(_.jobs.values.toSeq)

  /** Self time per span name: duration minus child spans and minus the
    * jobs whose start falls in the span but in none of its children.
    */
  def selfTimes(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val js = jobs.filter(_.op > 0).groupBy(_.op)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val own = js.getOrElse(s.op, Nil).filter { j =>
        j.startMs >= s.startMs && j.startMs <= s.endMs &&
          !kids.exists(k => j.startMs >= k.startMs && j.startMs <= k.endMs)
      }
      val self = (s.endMs - s.startMs) - kids.map(k => k.endMs - k.startMs).sum -
        unionLength(own.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      s"${s.name}_ms" -> math.max(0.0, self)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def close(): Unit = listener.foreach(spark.sparkContext.removeSparkListener)
}

object Recorder {
  final case class OpRecord(id: Int, kind: String, startMs: Double, endMs: Double)

  final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double) {
    var endMs: Double = startMs
  }

  final case class JobStats(op: OpRecord, jobs: Int, tasks: Int, jobMs: Double,
      driverMs: Double, inputBytes: Long, shuffleBytes: Long)

  final class JobRec(val id: Int, val op: Int, val startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0
    var inputBytes = 0L
    var shuffleBytes = 0L
  }

  /** Collects job intervals and task IO, keyed by the `op-<id>` job group. */
  final class JobListener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]().asScala
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]().asScala
    @volatile var open = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val op = if (group.startsWith("op-")) group.drop(3).toInt else 0
      jobs(e.jobId) = new JobRec(e.jobId, op, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      open += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      open -= 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private val t0 = System.nanoTime()
  /** Progress lines for the run's log (stderr). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s] $msg")

  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** JVM-wide GC time so far, summed over collectors. */
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble / (1 << 20)

  /** Bytes this process has read through system calls (`/proc/self/io`
    * `rchar`), or 0 where that file does not exist.
    */
  def processBytesRead: Long = {
    val f = new java.io.File("/proc/self/io")
    if (!f.exists) 0L
    else scala.io.Source.fromFile(f).getLines().collectFirst {
      case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
  }

  @volatile private var yardstickSink = 0L

  /** A fixed pure-JVM CPU loop (xorshift), independent of the program under
    * test: it separates host drift from code changes. Median of `reps`.
    */
  def yardstickMs(reps: Int = 5): Double = median((1 to reps).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    yardstickSink = acc
    (System.nanoTime() - t0) / 1e6
  })
}
