package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The commit-path footer reads fan out on a bounded driver pool (r21,
  * closing r20's one perf-weak mark): a bulk commit of N files must not pay
  * N SEQUENTIAL footer roundtrips — at 100 TB on object storage that is
  * minutes of serial driver wall per bulk append. The contract pinned here:
  * (1) bulk results are byte-identical to the per-file reads, in input
  * order; (2) the reads genuinely OVERLAP — a barrier that only trips when
  * 4 reads are in flight at once passes with the pool and would deadlock a
  * serial loop (stronger and less flaky than a wall-clock ratio); (3) the
  * pool runs zero Spark jobs, so the one-job-per-commit posture
  * ([[CommitFooterCountSpec]]) is untouched.
  */
class FooterPoolSpec extends SparkSpec {

  private def writeFiles(n: Int): Seq[String] = {
    val dir = Files.createTempDirectory("graft-footer-pool").toString
    (1 to n).flatMap { i =>
      spark.range(i * 10L).selectExpr("id", "id * 2 AS v")
        .coalesce(1).write.parquet(s"$dir/f$i")
      CompactionRunner.listParquet(s"$dir/f$i")
    }
  }

  test("bulk footer counts match the per-file reads, in order, with no job") {
    val files = writeFiles(8)
    assert(files.size == 8)
    val conf = spark.sessionState.newHadoopConf()
    val serial = files.map(CompactionRunner.parquetFooterMetrics(_, conf))
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val bulk =
      try CompactionRunner.parquetFooterMetricsBulk(files, conf)
      finally spark.sparkContext.removeSparkListener(l)
    assert(bulk == serial, s"bulk must equal the per-file reads: $bulk vs $serial")
    assert(bulk.map(_.rows).sum == (1 to 8).map(_ * 10L).sum,
      "row counts must be exact")
    assert(jobs.get() == 0, s"footer reads are driver-side, got ${jobs.get()} jobs")
    // unreadable path posture unchanged: unknown counts, not an exception
    val withBad = CompactionRunner.parquetFooterMetricsBulk(
      files.take(2) :+ s"${files.head}.does-not-exist", conf)
    assert(withBad.take(2) == serial.take(2) && withBad.last == CompactionRunner.FooterMetrics.Unreadable)
  }

  test("footer reads overlap: 4 reads in flight at once (serial would deadlock)") {
    val files = writeFiles(8)
    val conf = spark.sessionState.newHadoopConf()
    // trips only when 4 pooled tasks have all reached the probe — a serial
    // loop would park the first read forever (bounded await, so a broken
    // pool fails the test instead of hanging the suite)
    val barrier = new CyclicBarrier(4)
    CompactionRunner.footerReadProbe =
      _ => barrier.await(30, TimeUnit.SECONDS)
    try {
      val bulk = CompactionRunner.parquetFooterMetricsBulk(files, conf)
      assert(bulk.size == 8 && bulk.forall(_.rows > 0))
    } finally CompactionRunner.footerReadProbe = _ => ()
  }
}
