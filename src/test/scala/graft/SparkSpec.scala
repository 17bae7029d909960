package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, BeforeAndAfterAll, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per forked test run). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the library's one config-time opt-in, exactly as a user would set
      // it: as-of join strategy, SQL kernel names, and plain-SQL DML
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** A suite on the shared session. Every suite must leave the session's
  * SQL confs as it found them: the confs are recorded before the suite
  * (after the session exists) and compared after it — `afterAll` included,
  * since `run` wraps [[BeforeAndAfterAll]]. Any key the suite set, changed
  * or unset is restored, and the suite fails naming it, so a setting cannot
  * leak into whichever suite happens to run next. Fresh catalog mounts are
  * removed without failing ([[freshMount]]).
  */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** `body` with the session confs `kv` set, each restored afterwards to
    * what the session held: re-set if it was set, unset if it was at its
    * default. (Restoring a value read back with `get`/`getOption` would
    * pin a default as an explicit setting.)
    */
  def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) =>
      set.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  override def run(testName: Option[String], args: Args): Status = {
    val before = TestSpark.spark.conf.getAll
    val status = super.run(testName, args)
    status.waitUntilCompleted()
    val conf = TestSpark.spark.conf
    val after = conf.getAll
    val changed = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
    changed.foreach(k => before.get(k).fold(conf.unset(k))(conf.set(k, _)))
    val leaked = changed.filterNot(freshMount(_, before))
    if (leaked.nonEmpty)
      throw new IllegalStateException(s"$suiteName left session confs changed " +
        "(restored now): " + leaked.map(k =>
          s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
          .mkString("; "))
    status
  }

  /** Keys a suite may add without restoring them: catalog mounts under a
    * name the session did not have before. Spark caches catalogs by name,
    * so every mount uses a fresh name no other suite reads.
    */
  private def freshMount(key: String, before: Map[String, String]): Boolean =
    key.startsWith("spark.sql.catalog.") && {
      val name = key.stripPrefix("spark.sql.catalog.").takeWhile(_ != '.')
      !before.keysIterator.exists(k =>
        k == s"spark.sql.catalog.$name" || k.startsWith(s"spark.sql.catalog.$name."))
    }
}
