package graft.wire

import java.nio.file.Files

import graft.SparkSpec
import graft.wire.CompactorProto._

/** The FileIO seam end-to-end against a real S3 PROTOCOL implementation:
  * [[S3StubServer]] (in-process S3-compatible HTTP store) +
  * [[S3ClientFileSystem]] (Hadoop `s3://` client speaking ranged GET /
  * PUT / ListObjectsV2 / copy+delete rename). A wire `RewriteFilesRequest`
  * whose tasks and `dir_path` are `s3://…` and whose FileIO props carry
  * the endpoint (`core/proto/iceberg.proto:134-141`) compacts through the
  * stub with ZERO local paths.
  */
class S3FileIoSpec extends SparkSpec {

  import spark.implicits._

  private def putObject(endpoint: String, key: String, bytes: Array[Byte]): Unit = {
    val url = new java.net.URI(s"$endpoint/$key").toURL
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("PUT")
    c.setDoOutput(true)
    c.getOutputStream.write(bytes)
    c.getOutputStream.close()
    assert(c.getResponseCode == 200, s"PUT $key: ${c.getResponseCode}")
    c.getInputStream.close()
  }

  /** The FileIO props a wire request would carry — endpoint + the impl
    * passthrough (unknown keys land under their own name, the documented
    * [[WireBridge.applyFileIo]] contract).
    */
  private def fileIoProps(endpoint: String): Map[String, String] = Map(
    "s3.endpoint" -> endpoint,
    "s3.path-style-access" -> "true",
    "fs.s3.impl" -> "graft.wire.S3ClientFileSystem",
    // each test runs its own stub on a fresh port; Hadoop's FileSystem
    // cache keys on scheme+authority only and would pin the FIRST
    // endpoint forever
    "fs.s3.impl.disable.cache" -> "true")

  test("parquet read + committer write round-trip through the s3 protocol") {
    val s3 = new S3StubServer()
    try {
      WireBridge.applyFileIo(spark, fileIoProps(s3.endpoint))
      // stage a parquet object: bytes written locally, PUT into the store
      val local = Files.createTempDirectory("graft-s3-stage").toString
      (1L to 100L).map(k => (k, s"v$k")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$local/p")
      val file = graft.sources.CompactionRunner.listParquet(s"$local/p").head
      putObject(s3.endpoint, "warehouse/data/d1.parquet",
        Files.readAllBytes(java.nio.file.Paths.get(file)))
      // ranged-GET read path (footer + column chunks)
      val back = spark.read.parquet("s3://warehouse/data/d1.parquet")
      assert(back.count() == 100)
      assert(back.filter($"id" <= 10).agg(
        org.apache.spark.sql.functions.sum($"id")).head().getLong(0) == 55L)
      // committer write path (mkdirs + _temporary renames + _SUCCESS)
      back.filter($"id" <= 50).write.parquet("s3://warehouse/out1")
      assert(spark.read.parquet("s3://warehouse/out1").count() == 50)
      assert(s3.keys.exists(_.startsWith("warehouse/out1/part-")), s3.keys)
      assert(s3.keys.contains("warehouse/out1/_SUCCESS"), s3.keys)
      assert(!s3.keys.exists(_.contains("_temporary")),
        s"committer must clean its temporary tree: ${s3.keys}")
    } finally s3.close()
  }

  test("wire RewriteFilesRequest with s3:// paths compacts end-to-end through the stub") {
    val s3 = new S3StubServer()
    try {
      // two data generations + a position-delete file, ALL in the store
      val local = Files.createTempDirectory("graft-s3-wire").toString
      // returns the staged object's size in bytes
      def stage(df: org.apache.spark.sql.DataFrame, key: String): Long = {
        df.coalesce(1).write.mode("overwrite").parquet(s"$local/$key")
        val f = graft.sources.CompactionRunner.listParquet(s"$local/$key").head
        val bytes = Files.readAllBytes(java.nio.file.Paths.get(f))
        putObject(s3.endpoint, key, bytes)
        bytes.length.toLong
      }
      val inputBytes =
        stage((1L to 60L).map(k => (k, s"a$k")).toDF("id", "v"), "warehouse/data/g1.parquet") +
          stage((61L to 100L).map(k => (k, s"b$k")).toDF("id", "v"), "warehouse/data/g2.parquet")
      stage(Seq(("s3://warehouse/data/g1.parquet", 0L),
        ("s3://warehouse/data/g1.parquet", 1L)).toDF("file_path", "pos"),
        "warehouse/deletes/pd1.parquet")

      val req = WireRewriteRequest(
        tasks = Seq(
          WireScanTask(0L, 0L, 60L, "s3://warehouse/data/g1.parquet",
            ContentData, FormatParquet, Nil, 1L, Nil),
          WireScanTask(0L, 0L, 40L, "s3://warehouse/data/g2.parquet",
            ContentData, FormatParquet, Nil, 2L, Nil),
          WireScanTask(0L, 0L, 2L, "s3://warehouse/deletes/pd1.parquet",
            ContentPositionDeletes, FormatParquet, Nil, 3L, Nil)),
        config = Map("target_partitions" -> "1"),
        dirPath = "s3://warehouse/out2",
        fileIo = Some(WireFileIo("s3://warehouse", fileIoProps(s3.endpoint))),
        schema = None,
        partitionSpec = None)
      val respBytes = WireBridge.rewriteFiles(
        spark, CompactorProto.encodeRewriteRequest(req))
      val resp = CompactorProto.decodeRewriteResponse(respBytes)
      assert(resp.stat.exists(_.rewrittenFilesCount == 3),
        s"3 inputs consumed: ${resp.stat}")
      // input bytes come from the object store's file status
      assert(resp.stat.exists(_.rewrittenBytes == inputBytes),
        s"rewritten bytes must sum the s3 data inputs ($inputBytes): ${resp.stat}")
      val added = resp.dataFiles.map(_.path)
      assert(added.nonEmpty && added.forall(_.startsWith("s3://warehouse/out2")),
        s"compaction output must land in the store: $added")
      // the compacted content: 100 rows minus the 2 position-deleted
      val out = spark.read.parquet(added: _*)
      assert(out.count() == 98)
      assert(out.filter($"id".isin(1L, 2L)).count() == 0,
        "g1 positions 0 and 1 (ids 1, 2) must be suppressed")
    } finally s3.close()
  }
}
