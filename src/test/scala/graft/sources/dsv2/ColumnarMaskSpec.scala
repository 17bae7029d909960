package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.GraftCatalog

/** Vectorized pos-delete masking: pos-delete-bearing SELECTs serve the
  * scans' own ColumnarBatches with deleted positions masked per batch —
  * untouched batches pass zero-copy, only delete-bearing batches pay a
  * selective copy, and anything unprovable falls back to the row anti
  * join with identical rows.
  */
class ColumnarMaskSpec extends SparkSpec {

  private def mount(root: String): String = {
    val g = s"gm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  private def scansColumnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.supportsColumnar
    }.getOrElse(fail("no BatchScanExec:\n" + df.queryExecution.executedPlan))

  /** Data files a masked serve of `t` reads for one pushed filter; None
    * when the snapshot's state does not serve masked.
    */
  private def maskedFiles(
      root: String,
      asOf: Option[Long],
      required: org.apache.spark.sql.types.StructType,
      filter: org.apache.spark.sql.sources.Filter): Option[Int] = {
    val masked0 = GraftColumnarMask.maskedServed.get()
    val groups = GraftScanState.serve(spark, root, "t", asOf, required,
      Array(filter), None)
    if (GraftColumnarMask.maskedServed.get() == masked0) None
    else Some(groups.flatMap(_.asInstanceOf[GraftColumnarSlices].parts).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
    }.distinct.size)
  }

  test("masks first/last/middle positions exactly, nulls preserved") {
    val root = Files.createTempDirectory("graft-mask-edge").toString
    val g = mount(root)
    // merge-on-read: the untranslatable OR-with-modulo DELETE plans as a
    // WriteDelta pos-delete commit (the strict V2->V1 conversion refuses
    // the metadata path — see GraftV2Table.canDeleteWhere — and COW would
    // leave nothing to mask)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, v STRING, d DOUBLE)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    // nulls in both a string and a double column; 3 files via repartition
    spark.sql(
      s"""INSERT INTO $g.t
         |SELECT /*+ REPARTITION(3) */ id,
         |       IF(id % 7 = 0, NULL, concat('v', id)),
         |       IF(id % 11 = 0, NULL, CAST(id AS DOUBLE) / 4)
         |FROM range(0, 3000)""".stripMargin)
    // delete the global first and last keys plus a modulo band — positions
    // land at batch starts, ends, and interiors across all files
    spark.sql(s"DELETE FROM $g.t WHERE k = 0 OR k = 2999 OR k % 101 = 50")
    val expect = (0L until 3000L)
      .filterNot(k => k == 0 || k == 2999 || k % 101 == 50)
    val masked0 = GraftColumnarMask.maskedServed.get()
    val out = spark.sql(s"SELECT k, v, d FROM $g.t")
    assert(scansColumnar(out), "pos-delete read must serve masked columnar")
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == expect)
    assert(GraftColumnarMask.maskedServed.get() > masked0)
    // null cells survive the selective copy bit-for-bit
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.isNullAt(1) == (k % 7 == 0), s"v null wrong at $k")
      assert(r.isNullAt(2) == (k % 11 == 0), s"d null wrong at $k")
      if (!r.isNullAt(1)) assert(r.getString(1) == s"v$k")
      if (!r.isNullAt(2)) assert(r.getDouble(2) == k.toDouble / 4)
    }
    // aggregates over the masked serve match the anti-join ground truth
    assert(spark.sql(s"SELECT sum(k) FROM $g.t").head().getLong(0) ==
      expect.sum)
  }

  test("whole-file delete serves the file empty; untouched files pass through") {
    val root = Files.createTempDirectory("graft-mask-file").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('a', id) FROM range(0, 500)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('b', id) FROM range(500, 1000)")
    // kill every row of the first generation's range
    spark.sql(s"DELETE FROM $g.t WHERE k < 500")
    val out = spark.sql(s"SELECT k, v FROM $g.t")
    assert(scansColumnar(out))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (500L until 1000L))
  }

  test("masked serve under time travel pins the snapshot's delete set") {
    val root = Files.createTempDirectory("graft-mask-asof").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, v STRING)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $g.t WHERE k % 10 = 3")
    val pinned = new GraftCatalog(root).currentSnapshotId("t")
    spark.sql(s"DELETE FROM $g.t WHERE k % 10 = 7")
    // the pinned read sees only the FIRST delete
    val out = spark.sql(s"SELECT k FROM $g.t VERSION AS OF $pinned")
    assert(scansColumnar(out))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 1000L).filterNot(_ % 10 == 3))
    // the head read sees both
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) ==
      (0L until 1000L).count(k => k % 10 != 3 && k % 10 != 7))
  }

  test("a user column named file_path can never be mistaken for the metadata one") {
    // regression guard: the mask locates the flat metadata columns by
    // name PAST the data region — a data column literally named
    // file_path (a file-inventory table) must not desync the mask
    val root = Files.createTempDirectory("graft-mask-collide").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, file_path STRING, row_index BIGINT)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $g.t
         |SELECT id, concat('/user/path/', id), id * 100 FROM range(0, 500)""".stripMargin)
    spark.sql(s"DELETE FROM $g.t WHERE k % 7 = 2") // untranslatable -> pos-deletes
    val expect = (0L until 500L).filterNot(_ % 7 == 2)
    val out = spark.sql(s"SELECT k, file_path, row_index FROM $g.t")
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == expect,
      "deleted rows must never resurface under a colliding column name")
    rows.foreach { r =>
      assert(r.getString(1) == s"/user/path/${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(0) * 100)
    }
  }

  test("filtered reads serve masked columnar over the PRUNED file set") {
    val root = Files.createTempDirectory("graft-mask-filter").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, v STRING)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    // two files with disjoint key ranges — writer-stamped bounds make them
    // individually prunable
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 500)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(500, 1000)")
    spark.sql(s"DELETE FROM $g.t WHERE k % 10 = 3")
    val masked0 = GraftColumnarMask.maskedServed.get()
    val out = spark.sql(s"SELECT k, v FROM $g.t WHERE k = 42")
    assert(scansColumnar(out),
      "a filtered pos-delete read must keep the vectorized mask")
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((42L, "v42")))
    assert(GraftColumnarMask.maskedServed.get() > masked0,
      "filtered reads must serve through the masked path now")
    // pruning proof: the masked serve consults the stats/partition keep
    // set, so a filter excluding EVERY file serves no data file — if
    // pruning were skipped it would serve both
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val req = StructType(Seq(StructField("k", LongType)))
    assert(maskedFiles(root, None, req, EqualTo("k", 5000L)) == Some(0),
      "a filter with no covering file must prune the mask to nothing")
    assert(maskedFiles(root, None, req, EqualTo("k", 42L)) == Some(1),
      "a covered point lookup must serve masked, its one covering file")
    // range filters prune and mask too
    assert(spark.sql(s"SELECT count(*) FROM $g.t WHERE k >= 500")
      .head().getLong(0) == (500L until 1000L).count(_ % 10 != 3))
  }

  test("equality-delete reads serve masked columnar with the seq guard") {
    val root = Files.createTempDirectory("graft-mask-eq").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    // pure key-equality DELETEs take the eq-delete fast path (metadata-
    // sized commits, no data scan) — the CDC shape between compactions
    spark.sql(s"DELETE FROM $g.t WHERE k IN (3, 400, 999)")
    spark.sql(s"DELETE FROM $g.t WHERE k = 500")
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("t").count(_.kind == "eqdel") >= 2,
      "fixture must accumulate eq-delete files")
    val eq0 = GraftColumnarMask.maskedEqServed.get()
    val out = spark.sql(s"SELECT k, v FROM $g.t")
    assert(scansColumnar(out),
      "an eq-delete-bearing SELECT must stay columnar:\n" +
        out.queryExecution.executedPlan)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 1000L).filterNot(Set(3L, 400L, 500L, 999L)))
    assert(GraftColumnarMask.maskedEqServed.get() > eq0)
    // the seq guard: rows INSERTED AFTER the delete with the same key
    // survive (data.seq < delete.seq only drops strictly older rows)
    spark.sql(s"INSERT INTO $g.t VALUES (500, 'reborn')")
    val back = spark.sql(s"SELECT v FROM $g.t WHERE k = 500")
    assert(back.collect().map(_.getString(0)).toSeq == Seq("reborn"),
      "a re-inserted key must survive older equality deletes")
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 997L)
  }

  test("eq mask composes with pos-deletes and strips probe-only key columns") {
    val root = Files.createTempDirectory("graft-mask-eqpos").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, v STRING)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $g.t WHERE k % 10 = 3") // untranslatable -> pos-deletes
    spark.sql(s"DELETE FROM $g.t WHERE k = 500")    // key equality -> eq-delete
    val out = spark.sql(s"SELECT v FROM $g.t") // k NOT projected: probe-only
    assert(scansColumnar(out))
    val expect = (0L until 1000L)
      .filterNot(k => k % 10 == 3 || k == 500).map(k => s"v$k").sorted
    assert(out.collect().map(_.getString(0)).sorted.toSeq == expect,
      "the mask must read the key column for the probe and strip it after")
  }

  test("time-travel reads prune on the pinned snapshot's own stats bounds") {
    // per-file bounds live in the pinned snapshot's entries, so VERSION
    // AS OF point lookups and range scans skip non-covering files like
    // head reads do (r14 — before this, pinned reads scanned every file)
    val root = Files.createTempDirectory("graft-mask-asof-prune").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (k BIGINT, v STRING)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 500)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(500, 1000)")
    spark.sql(s"DELETE FROM $g.t WHERE k % 10 = 3") // pos-deletes
    val pinned = new GraftCatalog(root).currentSnapshotId("t")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(5000, 5100)")
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val req = StructType(Seq(StructField("k", LongType)))
    // k=5000 exists at HEAD but no pinned file's bounds cover it: the
    // pinned mask prunes to nothing (proof the keep set is snapshot-exact)
    assert(maskedFiles(root, Some(pinned), req, EqualTo("k", 5000L)) == Some(0),
      "a pinned lookup outside the snapshot's bounds must prune everything")
    assert(maskedFiles(root, Some(pinned), req, EqualTo("k", 42L)) == Some(1),
      "a covered pinned lookup must serve masked")
    // the SQL read stays exact and columnar
    val out = spark.sql(
      s"SELECT k FROM $g.t VERSION AS OF $pinned WHERE k >= 500")
    assert(scansColumnar(out))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      (500L until 1000L).filterNot(_ % 10 == 3))
    assert(spark.sql(s"SELECT count(*) FROM $g.t VERSION AS OF $pinned " +
      "WHERE k = 5000").head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $g.t WHERE k = 5000")
      .head().getLong(0) == 1L, "the head read still sees the newer row")
  }

  test("single-long-key fast probe matches the row path on a large key set") {
    // the CDC PK shape: ONE integral key column routes the per-row probe
    // through the sorted-long-array fast path (no boxing, no tuple); its
    // verdicts must be bit-identical to the row-based anti join's
    val root = Files.createTempDirectory("graft-mask-eqfast").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 20000)")
    val doomed = (0 until 20000 by 7).map(_.toLong)
    spark.sql(s"DELETE FROM $g.t WHERE k IN (${doomed.mkString(",")})")
    spark.sql(s"DELETE FROM $g.t WHERE k IN (11, 23, 19999)")
    // seq guard inside the fast path: re-inserted keys survive
    spark.sql(s"INSERT INTO $g.t VALUES (7, 'reborn7'), (14, 'reborn14')")
    val eq0 = GraftColumnarMask.maskedEqServed.get()
    val out = spark.sql(s"SELECT k, v FROM $g.t")
    assert(scansColumnar(out), "large single-long-key set must stay masked")
    val masked = out.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(GraftColumnarMask.maskedEqServed.get() > eq0)
    GraftColumnarMask.disableForProbes = true
    try {
      val row = spark.sql(s"SELECT k, v FROM $g.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(masked.toSeq == row.toSeq,
        "fast-path mask and row-path anti join must agree exactly")
    } finally GraftColumnarMask.disableForProbes = false
    assert(masked.count(_._2.startsWith("reborn")) == 2)
    assert(!masked.exists(t => t._1 == 21 || t._1 == 11))
  }

  test("composite eq keys keep the generic probe and stay masked") {
    val root = Files.createTempDirectory("graft-mask-eqcomposite").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 1000)")
    // two-column key equality -> a composite eq-delete file (string key
    // column means no long fast path; the generic tuple probe serves)
    spark.sql(s"DELETE FROM $g.t WHERE k = 5 AND v = 'v5'")
    spark.sql(s"DELETE FROM $g.t WHERE k = 7 AND v = 'nope'") // matches nothing
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("t").exists(e =>
      e.kind == "eqdel" && e.eqCols.size == 2),
      "fixture must commit a composite-key eq-delete")
    val out = spark.sql(s"SELECT k, v FROM $g.t")
    assert(scansColumnar(out))
    val got = out.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 1000L).filterNot(_ == 5L),
      "only the fully-matching composite key row is deleted")
  }

  test("floating eq keys: -0.0 deletes 0.0 rows exactly like the SQL anti join") {
    // SQL join equality says -0.0 = 0.0 (and the row path's anti join
    // honors it); a boxed-Double probe map would disagree and silently
    // resurrect the 0.0 row — the probe normalizes both sides
    val root = Files.createTempDirectory("graft-mask-negzero").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k DOUBLE, v STRING)")
    import spark.implicits._
    Seq((0.0d, "pos"), (-0.0d, "neg"), (1.5d, "keep"))
      .toDF("k", "v").writeTo(s"$g.t").append()
    val cat = new GraftCatalog(root)
    cat.deleteWhereEq(spark, "t", Seq(-0.0d).toDF("k"),
      s"$root/_data/t/negzero-del")
    assert(cat.loadEntries("t").exists(_.kind == "eqdel"))
    val out = spark.sql(s"SELECT v FROM $g.t")
    assert(scansColumnar(out), "the eq-delete read must stay masked")
    assert(out.collect().map(_.getString(0)).sorted.toSeq == Seq("keep"),
      "-0.0 and 0.0 keys must unify under the probe like the SQL join")
  }

  test("a rename that reuses a name refuses the mask (field-id binding check)") {
    // after `a -> c` then `b -> a`, a footer binds the name "a" (and type
    // BIGINT) verbatim — but to the ORIGINAL a's field id. A name-matched
    // mask would serve old-a's data as the current a while the row path
    // id-resolves to old-b: silent wrong results. The binding check
    // refuses and the row anti join serves, rows exact.
    val root = Files.createTempDirectory("graft-mask-rename").toString
    val g = mount(root)
    spark.sql(
      s"""CREATE TABLE $g.t (a BIGINT, b BIGINT)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $g.t SELECT id, id + 100000 FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $g.t WHERE a % 10 = 3 OR b % 101 = 7") // pos-deletes
    val expectA = (0L until 1000L)
      .filterNot(k => k % 10 == 3 || (k + 100000) % 101 == 7)
    spark.sql(s"ALTER TABLE $g.t RENAME COLUMN a TO c")
    spark.sql(s"ALTER TABLE $g.t RENAME COLUMN b TO a")
    val out = spark.sql(s"SELECT c, a FROM $g.t")
    assert(!scansColumnar(out),
      "a reused-name binding must refuse the mask path")
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == expectA,
      "c must serve the ORIGINAL a's surviving values")
    rows.foreach(r => assert(r.getLong(1) == r.getLong(0) + 100000,
      "a must serve the ORIGINAL b's values"))
  }

  test("unmaskable shapes refuse: non-primitive columns") {
    val root = Files.createTempDirectory("graft-mask-refuse").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, tags ARRAY<STRING>)")
    spark.sql(
      s"INSERT INTO $g.t SELECT id, array(concat('t', id)) FROM range(0, 100)")
    spark.sql(s"DELETE FROM $g.t WHERE k >= 90") // pos-delete
    // ARRAY column: the selective copy cannot reproduce nested vectors —
    // row anti join serves, rows exact
    val out = spark.sql(s"SELECT k, tags FROM $g.t")
    assert(!scansColumnar(out), "non-primitive columns must refuse the mask")
    assert(out.count() == 90L)
    assert(out.collect().map(r => r.getSeq[String](1).head).sorted.head == "t0")
  }

  test("timestamp eq keys probe through the long fast path, TZ and NTZ") {
    // r19: timestamps eval to micros-since-epoch longs physically, and
    // every external class the session can collect (Timestamp / Instant /
    // LocalDateTime) converts to them deterministically — the dominant
    // CDC shape with a timestamp PK keeps the vectorized mask instead of
    // refusing to the row path
    val root = Files.createTempDirectory("graft-mask-ts").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (ts TIMESTAMP, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT timestampadd(SECOND, CAST(id AS INT), " +
      "timestamp'2024-01-01 00:00:00'), concat('v', id) FROM range(0, 1000)")
    // point + IN DELETEs on the timestamp key take the metadata eq path
    spark.sql(s"DELETE FROM $g.t WHERE ts = timestamp'2024-01-01 00:00:10'")
    spark.sql(s"DELETE FROM $g.t WHERE ts IN (timestamp'2024-01-01 00:02:00', " +
      "timestamp'2024-01-01 00:03:00')")
    val cat = new GraftCatalog(root)
    assert(cat.loadEntries("t").count(e =>
      e.kind == "eqdel" && e.eqCols == Seq("ts")) >= 2,
      "a timestamp point DELETE must commit a metadata-sized eq-delete: " +
        cat.loadEntries("t").map(e => (e.kind, e.eqCols)).toString)
    val eq0 = GraftColumnarMask.maskedEqServed.get()
    val out = spark.sql(s"SELECT ts, v FROM $g.t")
    assert(scansColumnar(out),
      "timestamp-keyed eq-deletes must serve masked columnar")
    val masked = out.collect().map(_.getString(1)).sorted.toSeq
    assert(GraftColumnarMask.maskedEqServed.get() > eq0)
    val expect = (0L until 1000L).filterNot(Set(10L, 120L, 180L))
      .map(i => s"v$i").sorted
    assert(masked == expect)
    // exactness contract: the mask agrees with the row-path anti join
    GraftColumnarMask.disableForProbes = true
    try assert(spark.sql(s"SELECT v FROM $g.t").collect()
      .map(_.getString(0)).sorted.toSeq == expect)
    finally GraftColumnarMask.disableForProbes = false
    // seq guard: a re-inserted timestamp key survives the older delete
    spark.sql(s"INSERT INTO $g.t SELECT timestamp'2024-01-01 00:00:10', 'reborn'")
    assert(spark.sql(s"SELECT v FROM $g.t " +
      "WHERE ts = timestamp'2024-01-01 00:00:10'")
      .collect().map(_.getString(0)).toSeq == Seq("reborn"))

    // TIMESTAMP_NTZ twin: LocalDateTime external, local-micros physical
    spark.sql(s"CREATE TABLE $g.n (ts TIMESTAMP_NTZ, v STRING)")
    spark.sql(s"INSERT INTO $g.n SELECT timestampadd(SECOND, CAST(id AS INT), " +
      "timestamp_ntz'2024-01-01 00:00:00'), concat('v', id) FROM range(0, 200)")
    spark.sql(s"DELETE FROM $g.n WHERE ts = timestamp_ntz'2024-01-01 00:00:05'")
    assert(cat.loadEntries("n").exists(_.kind == "eqdel"))
    val outN = spark.sql(s"SELECT v FROM $g.n")
    assert(scansColumnar(outN), "NTZ timestamp keys must stay masked")
    assert(outN.collect().map(_.getString(0)).sorted.toSeq ==
      (0L until 200L).filterNot(_ == 5L).map(i => s"v$i").sorted)
  }
}
