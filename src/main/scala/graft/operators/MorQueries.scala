package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared MoR queries Q1–Q4 (SURVEY §2.2/§2.7) + their DuckDB oracles.
  * Anti joins are expressed as NOT EXISTS in the oracle SQL.
  */
object MorQueries {

  import MorFixtures._
  import MorPlanner._

  /** The session's explicit setting of `key`, None while it is at its
    * default. Gates restore the confs they flip from this: `getOption`
    * also returns defaults, and re-setting one pins it as an explicit
    * setting for the rest of the session.
    */
  private def setting(spark: SparkSession, key: String): Option[String] =
    spark.conf.getAll.get(key)

  private def q1(spark: SparkSession, sfDir: String): DataFrame = {
    val data = dataTable(spark, sfDir)
    applyPositionDeletes(data, positionDeletes(data))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  private def q2(spark: SparkSession, sfDir: String): DataFrame = {
    val data = dataTable(spark, sfDir)
    applyEqualityDeletes(data, eqDeleteGroup1(spark, sfDir))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  /** Full MoR merge: pos deletes + both eq-delete groups chained, user
    * columns only (the reference's flagship generated query).
    */
  private def q3(spark: SparkSession, sfDir: String): DataFrame = {
    val data = dataTable(spark, sfDir)
    merge(data, Some(positionDeletes(data)),
      Seq(eqDeleteGroup1(spark, sfDir), eqDeleteGroup2(spark, sfDir)))
  }

  /** Projection discipline: narrow SELECT list after the merge; hidden cols
    * must not leak (reference `datafusion_processor.rs:259-263`).
    */
  private def q4(spark: SparkSession, sfDir: String): DataFrame =
    q3(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        // decimal sum for order-independent exactness, then a double on BOTH
        // sides of the oracle compare (Spark would otherwise widen to
        // decimal(28,4) while DuckDB returns float64 — same values, hash
        // mismatch). Convention for every aggregate query in this repo.
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))

  /** Q114: the WRITE side of MoR, end-to-end against a real catalog table —
    * create a table over the scale-factor lineitem parquet, `deleteWhere`
    * (writes spec-shaped position-delete files, no data rewrite), then the
    * catalog's MoR read, aggregated. SQL-reproducible because the scan is
    * exactly lineitem minus the predicate-TRUE rows; the physical layout
    * (which file/pos each suppressed row lived at) cancels out.
    */
  private def q114(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q114").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    cat.deleteWhere(spark, "lineitem",
      col("l_returnflag") === "A" && col("l_quantity") < 25, s"$root/out")
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q115: row-level UPDATE end-to-end — MoR mode commits position deletes
    * (suppressing old versions) plus a fresh data file (the updated
    * versions) in one snapshot; the catalog read then shows the CASE-WHEN
    * view of lineitem the oracle states directly.
    */
  private def q115(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q115").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    cat.updateWhere(spark, "lineitem", col("l_returnflag") === "R",
      Map("l_quantity" -> (col("l_quantity") + 100)), s"$root/out")
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q116: stats-pruned catalog read — a range-clustered compaction commit
    * persists per-file l_orderkey bounds into the snapshot, and the narrow
    * scan then touches ONLY the files whose [min,max] intersect the
    * predicate (Iceberg manifest pruning; `StatsPruningSpec` asserts the
    * file skipping in-plan). The oracle is the plain BETWEEN the pruned
    * read must equal row-for-row.
    */
  private def q116(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only over the session-shared clustered layout (staged once;
    // the timed work is the stats-pruned read under test)
    val (cat, t) = DmlFixtures.clusteredLineitem(spark, sfDir)
    cat.scanTableWhere(spark, t, "l_orderkey", 1000, 3000)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q117: MERGE INTO end-to-end — a distinct-key source (every 97th
    * order's line numbers, delta 50) merges into the catalog lineitem
    * table; matched rows get `l_quantity + delta` via one eq-delete +
    * fresh-data commit. Duplicate (orderkey, linenumber) TARGET rows (the
    * synthetic data has them) are each updated — exactly the CASE-WHEN
    * view the oracle states.
    */
  private def q117(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q117").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    val source = graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") <= DmlFixtures.SliceMaxKey &&
        col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), col("l_linenumber")).distinct()
      .withColumn("delta", lit(50.0))
    cat.mergeInto(spark, "lineitem", source, Seq("l_orderkey", "l_linenumber"),
      whenMatchedSet =
        Map("l_quantity" -> (col("l_quantity") + col("_src_delta"))),
      outDir = s"$root/out",
      whenNotMatchedInsert = false)
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q119: hidden partitioning end-to-end — declare a two-field partition
    * spec (`truncate[25000](l_orderkey)`, `bucket[8](l_suppkey)`), compact
    * into the Hive-layout fanout with per-file partition tuples committed
    * to the snapshot, then range-scan the truncate SOURCE column:
    * `scanTableWhere` projects the predicate through the transform and
    * skips every non-covering partition before stats are even consulted.
    * SQL-reproducible because pruning only skips IO — the result is
    * exactly the BETWEEN filter.
    */
  private def q119(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only over the session-shared truncate+bucket layout
    val (cat, t) = DmlFixtures.part25kLineitem(spark, sfDir)
    cat.scanTableWhere(spark, t, "l_orderkey", 300, 900)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q120: changelog (CDC) scan end-to-end — a delete commit then an
    * append-shaped upsert (fresh keys, nothing matched), and the changelog
    * over the whole window nets them into `'D'` rows (the suppressed
    * originals) and `'I'` rows (the new versions). SQL-reproducible
    * because the change sets are exactly the delete predicate's rows and
    * the upsert source (which the oracle re-derives from lineitem).
    */
  private def q120(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q120").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    val s1 = cat.currentSnapshotId("lineitem")
    cat.deleteWhere(spark, "lineitem", col("l_quantity") < 5, s"$root/d1")
    // append-shaped upsert: negated keys exist nowhere in the table, so the
    // eq-delete matches nothing and the commit is a pure insert
    val source = graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") <= DmlFixtures.SliceMaxKey &&
        col("l_orderkey") % 103 === 0)
      .withColumn("l_orderkey", -col("l_orderkey") - 1)
    val s3 = cat.upsert(spark, "lineitem", source,
      Seq("l_orderkey", "l_linenumber"), s"$root/u1")
    cat.changelog(spark, "lineitem", s1, s3)
      .groupBy(col("_change_type"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q121: metadata-aligned range DELETE — on the truncate[2500]-partitioned
    * lineitem table, `deleteWhereRange(l_orderkey, 2500, 7499)` drops the
    * fully-covered partitions 2500/5000 from the snapshot WITHOUT scanning
    * them (at sf0.001 the range matches nothing and the commit no-ops); the
    * scan then shows exactly `NOT BETWEEN`. SQL-reproducible because which
    * rows die never depends on which proof (metadata vs scan) killed them.
    */
  private def q121(spark: SparkSession, sfDir: String): DataFrame = {
    // the range DELETE mutates, so fork the shared truncate[2500] layout
    // (metadata copy) and delete on the fork — staging runs once per
    // session, the timed work is the metadata-aligned delete itself
    val (cat, fork) = DmlFixtures.forkOf(spark, sfDir,
      DmlFixtures.part2500Lineitem(spark, sfDir))
    val d = java.nio.file.Files.createTempDirectory("graft-q121-d").toString
    cat.deleteWhereRange(spark, fork, "l_orderkey", 2500, 7499, d)
    cat.scanTable(spark, fork)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q122: write-audit-publish end-to-end — fork the catalog table, run
    * the row-level DELETE on the fork (main stays untouched — the audit
    * window), then publish atomically and read MAIN. The published state
    * is exactly the fork's, so the oracle is the same `WHERE NOT pred`
    * view a direct delete would produce.
    */
  private def q122(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q122").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    val fork = cat.forkTable("lineitem", "audit")
    cat.deleteWhere(spark, fork,
      col("l_returnflag") === "N" && col("l_quantity") > 40, s"$root/out")
    cat.publishFork(fork)
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q123: the `graft` Spark data source end-to-end — the catalog table
    * read through `spark.read.format("graft")` with a pushed-down BETWEEN
    * (projected onto the catalog's stats pruning inside `buildScan`),
    * aggregated. The call site has no graft imports: the library consumed
    * the way vanilla Spark users consume any format.
    */
  private def q123(spark: SparkSession, sfDir: String): DataFrame = {
    // same clustered layout as q116, read through the public data-source
    // doorway (zero graft imports at the call site)
    val (_, t) = DmlFixtures.clusteredLineitem(spark, sfDir)
    spark.read.format("graft")
      .option("root", s"${DmlFixtures.sharedRoot(sfDir)}/cat")
      .option("table", t).load()
      .filter(col("l_orderkey") >= 400 && col("l_orderkey") <= 1100)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q124: string point lookup on a source-bucketed corpus — the documents
    * table partitioned `bucket[4](source)`, then "all docs from src7"
    * answered from one bucket's files via `scanTableWhereEqString`
    * (murmur3 bucket of the value + string stats bounds). The production
    * shape for per-source corpus slicing in the training pipeline.
    */
  private def q124(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only over the session-shared source-bucketed corpus
    val (cat, t) = DmlFixtures.docsSourceBucketed(spark, sfDir)
    cat.scanTableWhereEqString(spark, t, "source", "src7")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Q131: content-addressed point lookup through the catalog's per-file
    * BLOOM sidecar ([[graft.sources.GraftCatalog.recordBloomFilter]]) — the
    * exact-dedup probe shape ("is THIS document already in the corpus?") on
    * a round-robin layout where content hashes scatter across every file,
    * so min/max bounds straddle every probe and only the bloom can skip.
    * At 100 TB this turns a full-corpus probe into a driver-side sidecar
    * read plus the one file (± fpp stragglers) whose filter fires. The
    * result is the probed document row itself, so the oracle is the same
    * md5-equality SELECT over the raw corpus.
    */
  private def q131(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only over the session-shared fingerprinted + bloom'd layout
    val (cat, t) = DmlFixtures.docsFingerprinted(spark, sfDir)
    val probe = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") === 42L)
      .select(md5(col("text"))).head().getString(0)
    cat.scanTableWhereEqString(spark, t, "fp", probe)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("fp"))
  }

  /** Q135: declared-sort-order range scan — the corpus registered with a
    * write-order on doc_id ([[graft.sources.GraftCatalog.setSortOrder]])
    * and compacted through the PLAIN maintenance path (no layout in the
    * config: the catalog's own metadata chose the range-clustered rewrite
    * and persisted the bounds), then a narrow id range answered through
    * the stats-pruned scan. The declarative loop a production table
    * lives: declare the order once, every maintenance pass maintains it,
    * every range query prunes on it.
    */
  private def q135(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only over the session-shared sort-ordered layout
    val (cat, t) = DmlFixtures.docsSorted(spark, sfDir)
    cat.scanTableWhere(spark, t, "doc_id", 100, 199)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Q125: metadata-table integrity — the documents corpus compacted under
    * an identity(lang) partition spec, then answered from the `partitions`
    * METADATA table alone (per-partition record counts summed from the
    * snapshot's per-file `record_count`, no data file opened). The oracle
    * is the GROUP BY the metadata must agree with — the invariant that
    * makes metadata-only planning (debt scoring, range deletes, `SELECT
    * count(*)` shortcuts) trustworthy.
    */
  private def q125(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only over the session-shared identity(lang) layout
    val (cat, t) = DmlFixtures.docsLangPartitioned(spark, sfDir)
    cat.metadataTable(spark, t, "partitions")
      .select(element_at(col("partition"), "lang_p").as("lang"),
        col("record_count").cast("long").as("n"))
  }

  /** Metadata-only MIN/MAX ([[graft.sources.GraftCatalog.minMaxLong]]):
    * a compacted table answers from per-file manifest bounds with no data
    * file opened; an upsert then makes exactness unprovable (a pending
    * eq-delete may suppress the extreme row) and the SAME call falls back
    * to the MoR scan — the gate pins both paths against one oracle.
    */
  private def q127(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the upsert mutates, so fork the session-shared compacted orders
    val (cat, fork) = DmlFixtures.forkOf(spark, sfDir,
      DmlFixtures.compactedOrders(spark, sfDir))
    val out = java.nio.file.Files.createTempDirectory("graft-q127-up").toString
    val (mnMeta, mxMeta) = cat.minMaxLong(spark, fork, "o_custkey").get

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val k0 = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val upd = orders.filter(col("o_orderkey") === k0)
      .withColumn("o_custkey",
        lit(-7L).cast(orders.schema("o_custkey").dataType))
    cat.upsert(spark, fork, upd, Seq("o_orderkey"), out)
    val (mnAfter, mxAfter) = cat.minMaxLong(spark, fork, "o_custkey").get

    Seq((mnMeta, mxMeta, mnAfter, mxAfter))
      .toDF("mn_meta", "mx_meta", "mn_after", "mx_after")
  }

  /** Q128: TIME TRAVEL in the declared gate — tag the pre-delete snapshot
    * (Iceberg's audit handle), run a row-level DELETE, then read BOTH the
    * current state and the state AT the tag through the catalog's own
    * snapshot-pinned MoR scan in one row. SQL-reproducible because the
    * tagged read is exactly the table before the predicate fired and the
    * current read is exactly `NOT pred` — physical history layout cancels
    * out. The flagship catalog feature (every prior gate reads HEAD only).
    */
  private def q128(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-q128").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    val s1 = cat.currentSnapshotId("lineitem")
    cat.tagSnapshot("lineitem", "pre-delete", s1)
    cat.deleteWhere(spark, "lineitem", col("l_quantity") >= 30, s"$root/d")
    def agg(df: DataFrame) = df.agg(
      count(lit(1)).as("n"),
      sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("s")).head()
    val now = agg(cat.scanTable(spark, "lineitem"))
    val was = agg(cat.scanTableAt(spark, "lineitem",
      cat.snapshotIdOfTag("lineitem", "pre-delete")))
    Seq((now.getLong(0), now.getDouble(1), was.getLong(0), was.getDouble(1)))
      .toDF("n_now", "sum_now", "n_was", "sum_was")
  }

  /** Q130: key-predicate point DELETE as a METADATA-SIZED eq-delete commit
    * ([[graft.sources.GraftCatalog.deleteWhereEq]]) — the key tuples (every
    * 1000th orderkey) are committed as ONE equality-delete file with zero
    * data files read (the file class the reference consumes and retires,
    * `core/src/compaction/mod.rs:149-158`); the MoR read then suppresses
    * every matching row. At 100 TB this is the difference between a
    * metadata commit and a full scan — the scan-based sibling is q114.
    */
  private def q130(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-q130").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    val keys = (1 to 60).map(_ * 1000L).toDF("l_orderkey")
    cat.deleteWhereEq(spark, "lineitem", keys, s"$root/out")
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q136: plain-SQL row-level DML end-to-end — DELETE, UPDATE, and MERGE
    * statements against a temp view over the graft data source, rewritten
    * by the injected resolution rule ([[graft.plans.GraftSqlDml]]) into the
    * catalog's MoR DML. Zero graft imports between the view registration
    * and the final read: the whole lifecycle is the SQL a reference user
    * writes against their Iceberg catalog. The oracle states the composed
    * effect (delete → update → merge with ordered matched actions) as
    * nested CASE/filter SQL; physical file layout cancels out.
    */
  /** Q136: SQL DML through the DSv2 catalog doorway
    * ([[graft.sources.dsv2.GraftSparkCatalog]]) — DELETE, UPDATE, and
    * MERGE on a `catalog.table` identifier planned by Spark's NATIVE
    * row-level-operation rules (no injected analyzer rules in the path;
    * the extensions' TVF-DML surface keeps its own unit coverage in
    * SqlDmlSpec). Each statement is a copy-on-write ReplaceData commit;
    * the final read proves the composed state. The catalog name is
    * per-invocation: catalog plugin instances are cached by name, so a
    * reused name would pin the FIRST run's temp root.
    */
  private def q136(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q136").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    // the 60k two-file slice can never win from COW runtime group
    // filtering (every statement's rows span both files), so the gate
    // opts out via the documented knob and measures the DML itself; the
    // group-filter mechanism has its own evidence (GraftDeltaDmlSpec +
    // SCALING.md's 1-of-128-files-replaced curve)
    cat.updateTableProperties("lineitem",
      Map("write.cow.group-filter" -> "false"))
    val g = s"g136_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", s"$root/cat")
    spark.sql(
      s"DELETE FROM $g.lineitem WHERE l_returnflag = 'A' AND l_quantity < 25")
    spark.sql(
      s"UPDATE $g.lineitem SET l_quantity = l_quantity + 100 WHERE l_returnflag = 'R'")
    // distinct: the synthetic lineitem repeats (orderkey, linenumber), and
    // SQL MERGE requires at most one source row per target key
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") <= 2000)
      .select(col("l_orderkey"), col("l_linenumber"))
      .distinct()
      .createOrReplaceTempView("q136_src")
    spark.sql(
      s"""MERGE INTO $g.lineitem t USING q136_src s
        |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        |WHEN MATCHED AND t.l_quantity > 120 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + 7""".stripMargin)
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q137: SQL-string time travel through the DSv2 catalog — the current
    * MoR state and a tagged pre-delete version addressed in ONE SQL
    * statement, `FROM catalog.table [VERSION AS OF tag]`, resolved by the
    * engine's native time-travel analysis
    * ([[graft.sources.dsv2.GraftSparkCatalog]]`.loadTable(ident, version)`),
    * with no view registration and no graft imports between the tag
    * commit and the read. The sibling of q128 (API time travel): same
    * oracle shape, the ecosystem's doorway. (The TVF spelling
    * `graft_table(root, t, tag)` remains covered by SqlTimeTravelSpec.)
    */
  private def q137(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q137").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    cat.tagSnapshot("lineitem", "pre", cat.currentSnapshotId("lineitem"))
    cat.deleteWhere(spark, "lineitem", col("l_linestatus") === "F", s"$root/out")
    val g = s"g137_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", s"$root/cat")
    spark.sql(
      s"""SELECT now.n_now, now.sum_now, was.n_was, was.sum_was
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n_now,
         |             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_now
         |      FROM $g.lineitem) now
         |CROSS JOIN
         |     (SELECT CAST(count(*) AS BIGINT) AS n_was,
         |             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_was
         |      FROM $g.lineitem VERSION AS OF 'pre') was""".stripMargin)
  }

  /** Q138: SQL-addressable table MAINTENANCE end-to-end — the lifecycle a
    * production operator runs as Iceberg `CALL` procedures, here through
    * the maintenance TVFs ([[graft.functions.GraftTableFunctions]]):
    * a MoR delete leaves pending position-delete files, `graft_compact`
    * rewrites them away (full mode — the delete must be retired, not
    * carried), `graft_expire` drops the pre-compaction history, and the
    * final SELECT proves the composed state from SQL alone: the compacted
    * rows via `graft_table`, zero delete files via `graft_meta`, and the
    * two expired snapshots (create + delete commits). Oracle-stable
    * because every output column is data-derived or an invariant of the
    * operations (full compaction retires ALL pending deletes; the chain
    * create→delete→compact minus HEAD is exactly 2 snapshots).
    */
  private def q138(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q138").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    cat.deleteWhere(spark, "lineitem", col("l_quantity") >= 30, s"$root/d")
    // materialized eagerly and IN ORDER: compact commits snapshot 3, then
    // expiry drops {1, 2} — composing them into one statement would leave
    // the execution order to the planner
    spark.sql(
      s"SELECT snapshot_id FROM graft_compact('$root/cat','lineitem','full')")
      .head()
    val nExpired = spark.sql(
      s"SELECT count(*) FROM graft_expire('$root/cat','lineitem', 1)")
      .head().getLong(0)
    spark.sql(
      s"""SELECT agg.n, agg.sum_qty, m.n_delete_files,
         |       CAST($nExpired AS BIGINT) AS n_expired
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |      FROM graft_table('$root/cat', 'lineitem')) agg
         |CROSS JOIN
         |     (SELECT CAST(count(*) AS BIGINT) AS n_delete_files
         |      FROM graft_meta('$root/cat', 'lineitem', 'files')
         |      WHERE content <> 'data') m""".stripMargin)
  }

  /** Q143: equality→position delete conversion end-to-end through the SQL
    * maintenance surface — eq-delete debt lands via `deleteWhereEq` (the
    * streaming-upsert delete shape), `graft_rewrite_eq_deletes` converts
    * it to position deletes WITHOUT touching data files, and the final
    * SELECT proves the composed state from SQL alone: the scan result is
    * unchanged (the oracle states the eq-delete view directly), zero
    * eq-delete files remain, and exactly one converted pos-delete file
    * exists (targetFiles=1 is the TVF's layout invariant).
    */
  private def q143(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q143").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    val keys = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") <= 60000 && col("l_orderkey") % 321 === 0)
      .select(col("l_orderkey")).distinct()
    cat.deleteWhereEq(spark, "lineitem", keys, s"$root/d")
    spark.sql(
      s"SELECT snapshot_id FROM graft_rewrite_eq_deletes('$root/cat','lineitem')")
      .head()
    spark.sql(
      s"""SELECT agg.l_returnflag, agg.n, agg.sum_qty,
         |       m.n_eq_files, m.n_pos_files
         |FROM (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |      FROM graft_table('$root/cat', 'lineitem')
         |      GROUP BY l_returnflag) agg
         |CROSS JOIN
         |     (SELECT CAST(sum(CASE WHEN content = 'eqdel' THEN 1 ELSE 0 END) AS BIGINT)
         |               AS n_eq_files,
         |             CAST(sum(CASE WHEN content = 'posdel' THEN 1 ELSE 0 END) AS BIGINT)
         |               AS n_pos_files
         |      FROM graft_meta('$root/cat', 'lineitem', 'files')) m""".stripMargin)
  }

  /** Q144: the DSv2 doorway END-TO-END from bare SQL — CREATE NAMESPACE,
    * CREATE TABLE (schema stamped with fresh field ids), INSERT INTO
    * (native parquet BatchWrite, one append commit), DELETE (native
    * copy-on-write ReplaceData), SELECT — all on `catalog.ns.table`
    * identifiers with zero graft API calls after the conf. This is the
    * "a user of the reference could switch" gate: the exact statement
    * sequence an Iceberg-Spark deployment runs on day one.
    */
  private def q144(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q144").toString
    val g = s"g144_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE NAMESPACE $g.demo_db")
    spark.sql(
      s"""CREATE TABLE $g.demo_db.nation
         |(n_nationkey INT, n_name STRING, n_regionkey INT)""".stripMargin)
    spark.read.parquet(s"$sfDir/nation.parquet")
      .createOrReplaceTempView("q144_src")
    spark.sql(
      s"""INSERT INTO $g.demo_db.nation
         |SELECT n_nationkey, n_name, n_regionkey FROM q144_src""".stripMargin)
    spark.sql(s"DELETE FROM $g.demo_db.nation WHERE n_regionkey = 2")
    spark.sql(
      s"SELECT n_nationkey, n_name, n_regionkey FROM $g.demo_db.nation")
  }

  /** Q145: the DSv2 doorway's MERGE-ON-READ row-level path — the same
    * three DML statements as q136, but with the Iceberg
    * `write.*.mode = merge-on-read` properties set, so Spark's native
    * planning emits `WriteDelta` and every statement commits
    * position-delete files + new data files WITHOUT rewriting the
    * originals (asserted: the create-time data files survive all three
    * statements). The 100 TB DML shape: a row update costs KBs of
    * deletes, not a table rewrite. Same oracle as q136 — layout choices
    * must be invisible to readers.
    */
  private def q145(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q145").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    cat.updateTableProperties("lineitem", Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    val originals = cat.loadEntries("lineitem")
      .filter(_.kind == "data").map(_.path).toSet
    val g = s"g145_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", s"$root/cat")
    spark.sql(
      s"DELETE FROM $g.lineitem WHERE l_returnflag = 'A' AND l_quantity < 25")
    spark.sql(
      s"UPDATE $g.lineitem SET l_quantity = l_quantity + 100 WHERE l_returnflag = 'R'")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") <= 2000)
      .select(col("l_orderkey"), col("l_linenumber"))
      .distinct()
      .createOrReplaceTempView("q145_src")
    spark.sql(
      s"""MERGE INTO $g.lineitem t USING q145_src s
        |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        |WHEN MATCHED AND t.l_quantity > 120 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + 7""".stripMargin)
    val after = cat.loadEntries("lineitem")
    require(originals.subsetOf(after.filter(_.kind == "data").map(_.path).toSet),
      "merge-on-read DML must never rewrite the original data files")
    require(after.exists(_.kind == "posdel"),
      "merge-on-read DML must commit position-delete files")
    cat.scanTable(spark, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q146: q138's maintenance lifecycle through `CALL` — Iceberg's ACTUAL
    * procedure spelling (`CALL catalog.system.rewrite_data_files(...)`,
    * `expire_snapshots`) served by Spark 4's native ProcedureCatalog
    * ([[graft.sources.dsv2.GraftProcedures]]); same composed state, same
    * oracle, the ecosystem's doorway instead of the TVF workaround.
    */
  private def q146(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q146").toString
    val cat = new graft.sources.GraftCatalog(s"$root/cat")
    cat.createTable("lineitem", DmlFixtures.lineitemSliceTasks(spark, sfDir))
    cat.deleteWhere(spark, "lineitem", col("l_quantity") >= 30, s"$root/d")
    val g = s"g146_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", s"$root/cat")
    spark.sql(s"CALL $g.system.rewrite_data_files('lineitem', 'full')").head()
    val nExpired = spark.sql(
      s"CALL $g.system.expire_snapshots('lineitem', 1)").count()
    spark.sql(
      s"""SELECT agg.n, agg.sum_qty, m.n_delete_files,
         |       CAST($nExpired AS BIGINT) AS n_expired
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |      FROM $g.lineitem) agg
         |CROSS JOIN
         |     (SELECT CAST(count(*) AS BIGINT) AS n_delete_files
         |      FROM graft_meta('$root/cat', 'lineitem', 'files')
         |      WHERE content <> 'data') m""".stripMargin)
  }

  /** Q147: hidden partitioning through the DSv2 doorway — `CREATE TABLE
    * ... PARTITIONED BY (bucket(4, s_suppkey))` from bare SQL, a doorway
    * INSERT whose tasks fan rows out into per-bucket files (tuples
    * recorded in the snapshot), and a point-lookup WHERE that the scan
    * serves from ONE bucket's files (asserted on the planned file set —
    * the q124 partition-pruning claim through the front door). The result
    * pairs the lookup row with the full-table count so the oracle also
    * proves the fanout write lost nothing.
    */
  private def q147(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q147").toString
    val g = s"g147_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE NAMESPACE $g.db")
    spark.sql(
      s"""CREATE TABLE $g.db.supplier
         |(s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE)
         |PARTITIONED BY (bucket(4, s_suppkey))""".stripMargin)
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q147_src")
    spark.sql(
      s"""INSERT INTO $g.db.supplier
         |SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM q147_src""".stripMargin)
    val cat = new graft.sources.GraftCatalog(root)
    val data = cat.loadEntries("db/supplier").filter(_.kind == "data")
    val lookupBucket = graft.functions.IcebergMurmur3.bucketLong(17L, 4)
    // tuple pruning opens only the lookup bucket's files; writer-side
    // stats (round 13) then drop bucket files whose bounds exclude the
    // key — at sf0.001 the key does not exist at all and the lookup
    // correctly opens ZERO files
    def covers(e: cat.TableEntry): Boolean = e.stats.forall(st =>
      (st.colMins.get("s_suppkey").flatMap(_.toDoubleOption),
        st.colMaxs.get("s_suppkey").flatMap(_.toDoubleOption)) match {
        case (Some(mn), Some(mx)) => mn <= 17d && 17d <= mx
        case _ => true
      })
    val inBucket = data.count(e => e.partitionVals.get("s_suppkey_bucket")
      .exists(v => v != null && v.toInt == lookupBucket) && covers(e))
    require(data.map(_.partitionVals("s_suppkey_bucket")).distinct.size == 4,
      "fanout write must materialize all 4 buckets")
    val pruned = cat.scanTableWhere(spark, "db/supplier", "s_suppkey", 17, 17)
    require(pruned.inputFiles.length == inBucket && inBucket < data.size,
      s"point lookup must open the $inBucket bucket-$lookupBucket " +
        s"stats-covered files, opened ${pruned.inputFiles.length} of ${data.size}")
    spark.sql(
      s"""SELECT s.s_suppkey, s.s_name, s.s_nationkey, m.n_total
         |FROM (SELECT s_suppkey, s_name, s_nationkey FROM $g.db.supplier
         |      WHERE s_suppkey = 17) s
         |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_total
         |            FROM $g.db.supplier) m""".stripMargin)
  }

  /** Q148: the DEFAULT-ON copy-on-write runtime group filter, oracle-gated
    * on a table where it can actually win — a fork of the session-shared
    * 8-file range-clustered slice, then a DSv2 DELETE whose untranslatable
    * condition (forcing the ReplaceData rewrite) matches a narrow
    * l_orderkey band. Spark's `RowLevelOperationRuntimeGroupFiltering`
    * finds the files containing matching rows through the `_file`
    * metadata column; the commit must replace EXACTLY those files and
    * leave the rest physically untouched (asserted on the entry lists —
    * at 100 TB this is a few-file rewrite instead of a table rewrite).
    * q136 stays as the opt-out twin measuring the same statements with
    * `write.cow.group-filter=false`.
    */
  private def q148(spark: SparkSession, sfDir: String): DataFrame = {
    // the 8-file range-clustered layout is exactly DmlFixtures'
    // session-shared clusteredLineitem (same compaction config); fork it
    // (metadata copy — entries, stats, spec all carried) instead of
    // re-staging the compaction per invocation, and run the doorway
    // DELETE on the fork (the q121/q162 mutating-gate precedent)
    val (cat, t) = DmlFixtures.forkOf(spark, sfDir,
      DmlFixtures.clusteredLineitem(spark, sfDir))
    val before = cat.loadEntries(t).filter(_.kind == "data")
      .map(_.path).toSet
    require(before.size >= 4, s"staging must fan out files, got ${before.size}")
    val g = s"g148_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root",
      s"${DmlFixtures.sharedRoot(sfDir)}/cat")
    spark.sql(
      s"""DELETE FROM $g.`$t`
         |WHERE l_orderkey BETWEEN 100 AND 180 AND l_partkey % 2 = 0""".stripMargin)
    val after = cat.loadEntries(t).filter(_.kind == "data")
      .map(_.path).toSet
    val untouched = before.intersect(after)
    val replaced = before -- after
    require(replaced.nonEmpty, "the DELETE matched rows; some file must be replaced")
    require(untouched.nonEmpty && replaced.size < before.size,
      s"group filtering must replace a PROPER subset of the ${before.size} " +
        s"range-clustered files (replaced ${replaced.size})")
    cat.scanTable(spark, t)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** Q149: metadata-answered aggregates through the doorway — after a
    * stats-recording compaction, `COUNT(*) / MIN / MAX` on the mounted
    * table plan as a single pre-computed row (`SupportsPushDownAggregates`
    * → LocalTableScan, asserted on the physical plan) with ZERO data
    * files opened; the oracle proves the manifest fold is exact.
    */
  private def q149(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q149").toString
    val g = s"g149_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"CREATE TABLE $g.s (s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE)")
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q149_src")
    spark.sql(
      s"INSERT INTO $g.s SELECT s_suppkey, s_nationkey, s_acctbal FROM q149_src")
    val cat = new graft.sources.GraftCatalog(root)
    cat.compactTable(spark, "s", s"$root/staged",
      graft.sources.CompactionRunner.CompactionConfig(targetPartitions = 4,
        clusterBy = Seq("s_suppkey"), statsCols = Seq("s_suppkey")))
    val df = spark.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
         |       min(s_suppkey) AS mn, max(s_suppkey) AS mx
         |FROM $g.s""".stripMargin)
    require(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "COUNT/MIN/MAX must be manifest-answered (LocalTableScan), got:\n" +
        df.queryExecution.executedPlan)
    df
  }

  /** Q150: dynamic partition overwrite through bare SQL — an
    * identity-partitioned doorway table, one partition's content replaced
    * under `partitionOverwriteMode=dynamic`, every other partition's
    * files PHYSICALLY untouched (asserted on the entry lists); the oracle
    * states the logical CASE view the replacement must equal.
    */
  private def q150(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q150").toString
    val g = s"g150_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.s
         |(s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE)
         |PARTITIONED BY (s_nationkey)""".stripMargin)
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q150_src")
    spark.sql(
      s"""INSERT INTO $g.s
         |SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM q150_src""".stripMargin)
    val cat = new graft.sources.GraftCatalog(root)
    val untouchedBefore = cat.loadEntries("s").filter(e =>
      e.kind == "data" && e.partitionVals.get("s_nationkey").exists(_ != "3"))
      .map(_.path).toSet
    val mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(
      s"""INSERT OVERWRITE $g.s
         |SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 1000
         |FROM q150_src WHERE s_nationkey = 3""".stripMargin)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    require(untouchedBefore.subsetOf(
      cat.loadEntries("s").filter(_.kind == "data").map(_.path).toSet),
      "dynamic overwrite must leave every other partition's files untouched")
    spark.sql(
      s"SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM $g.s")
  }

  /** Q151: STORAGE-PARTITIONED JOIN through the doorway — two tables
    * `PARTITIONED BY (bucket(4, suppkey))` the same way, joined on the
    * bucketed key with ZERO shuffle: the scans report
    * `KeyGroupedPartitioning(bucket(4, k))` ([[graft.sources.dsv2
    * .GraftV2Table]] `SupportsReportPartitioning`), the transforms
    * resolve as V2 catalog functions ([[graft.sources.dsv2
    * .GraftV2Functions]]), and Spark plans the join exchange-free —
    * asserted on the physical plan. At 100 TB this is the difference
    * between shuffling both fact tables and shuffling NOTHING when the
    * layout already co-locates them (Iceberg's SPJ, served natively).
    */
  private def q151(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q151").toString
    val g = s"g151_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.li
         |(l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT, l_quantity DOUBLE)
         |PARTITIONED BY (bucket(4, l_suppkey))""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $g.s (s_suppkey BIGINT, s_name STRING)
         |PARTITIONED BY (bucket(4, s_suppkey))""".stripMargin)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("q151_li")
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q151_s")
    spark.sql(
      s"""INSERT INTO $g.li
         |SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity
         |FROM q151_li WHERE l_orderkey <= 6000""".stripMargin)
    spark.sql(
      s"INSERT INTO $g.s SELECT s_suppkey, s_name FROM q151_s")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> setting(spark, k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.sql(
        s"""SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name,
           |       l.l_quantity
           |FROM $g.li l JOIN $g.s s ON l.l_suppkey = s.s_suppkey""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"SPJ gate expects a non-broadcast join:\n$plan")
      require(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed doorway tables must join WITHOUT a shuffle:\n$plan")
      // materialize under the SPJ plan (the driver's later write replans
      // under restored confs — same rows either way, asserted here)
      val n = joined.count()
      require(n > 0, "SPJ join returned no rows")
      joined
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Q152: GROUP BY partition column answered from the MANIFEST — an
    * identity-partitioned doorway table, `SELECT part, count(*) GROUP BY
    * part` planned as a LocalTableScan (one pre-computed row per
    * partition tuple, per-file record counts folded per group; asserted
    * in-gate) with ZERO data files opened. The per-partition row-count
    * query every table UI runs — at 100 TB a metadata read, not a scan.
    */
  private def q152(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q152").toString
    val g = s"g152_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.s (s_suppkey BIGINT, s_name STRING, s_nationkey INT)
         |PARTITIONED BY (s_nationkey)""".stripMargin)
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q152_src")
    spark.sql(
      s"INSERT INTO $g.s SELECT s_suppkey, s_name, s_nationkey FROM q152_src")
    val df = spark.sql(
      s"""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n
         |FROM $g.s GROUP BY s_nationkey""".stripMargin)
    require(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "grouped COUNT must be manifest-answered (LocalTableScan), got:\n" +
        df.queryExecution.executedPlan)
    df
  }

  /** Q153: the Iceberg metadata-table spelling through the doorway —
    * `SELECT ... FROM graft.db.t.partitions` (manifest-derived per-tuple
    * file/record rollups, zero data files read), with `.snapshots` /
    * `.history` sanity-required in-gate. The oracle restates the
    * partitions view as the equivalent GROUP BY over the raw data,
    * proving the manifest rollup exact.
    */
  private def q153(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q153").toString
    val g = s"g153_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.s (s_suppkey BIGINT, s_name STRING, s_nationkey INT)
         |PARTITIONED BY (s_nationkey)""".stripMargin)
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q153_src")
    spark.sql(
      s"INSERT INTO $g.s SELECT s_suppkey, s_name, s_nationkey FROM q153_src")
    val snaps = spark.sql(
      s"SELECT snapshot_id, is_current FROM $g.s.snapshots").collect()
    require(snaps.count(_.getBoolean(1)) == 1 && snaps.nonEmpty,
      "snapshots metadata table must mark exactly one current snapshot")
    require(spark.sql(s"SELECT count(*) FROM $g.s.history").head().getLong(0)
      == snaps.length.toLong, "history must list every retained snapshot")
    spark.sql(
      s"""SELECT CAST(partition['s_nationkey'] AS INT) AS s_nationkey,
         |       record_count AS n
         |FROM $g.s.partitions""".stripMargin)
  }

  /** Q154: storage-partitioned join WITH PENDING MoR DELETES — the q151
    * shape on a production-looking table: one side carries a pending
    * position-delete (rows gone, files untouched). Deletes are row-local
    * to their tuples, so the co-partitioning claim survives and the join
    * still plans with ZERO shuffle (asserted in-gate) while the rows
    * hash-match the post-delete oracle. Iceberg's SPJ posture exactly; at
    * 100 TB the fact-fact join keeps its best plan even mid-compaction.
    */
  private def q154(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q154").toString
    val g = s"g154_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.li
         |(l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT, l_quantity DOUBLE)
         |PARTITIONED BY (bucket(4, l_suppkey))
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $g.s (s_suppkey BIGINT, s_name STRING)
         |PARTITIONED BY (bucket(4, s_suppkey))""".stripMargin)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("q154_li")
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q154_s")
    spark.sql(
      s"""INSERT INTO $g.li
         |SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity
         |FROM q154_li WHERE l_orderkey <= 6000""".stripMargin)
    spark.sql(
      s"INSERT INTO $g.s SELECT s_suppkey, s_name FROM q154_s")
    // untranslatable predicate -> merge-on-read WriteDelta: a pending
    // position delete, originals untouched
    spark.sql(s"DELETE FROM $g.li WHERE l_orderkey % 7 = 3")
    val cat = new graft.sources.GraftCatalog(root)
    require(cat.loadEntries("li").exists(_.kind == "posdel"),
      "the q154 fixture must leave a pending position delete")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> setting(spark, k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.sql(
        s"""SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name,
           |       l.l_quantity
           |FROM $g.li l JOIN $g.s s ON l.l_suppkey = s.s_suppkey""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"a pending MoR delete must not cost the join its storage " +
          s"partitioning:\n$plan")
      // non-emptiness needs one row, not a full second materialization of
      // the join (the oracle compare evaluates the returned rows exactly)
      require(!joined.isEmpty, "q154 join returned no rows")
      joined
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Q155: partition-spec evolution IN SQL — `ALTER TABLE … REPLACE
    * PARTITION FIELD bucket(4,k) WITH bucket(8,k)` (the Iceberg DDL,
    * parsed by [[graft.plans.GraftSqlParser]]). Writes land under each
    * era's spec; the in-gate requires prove (a) both binding generations
    * coexist in the snapshot and (b) a point lookup prunes through BOTH —
    * old files via their recorded bucket[4] binding, new via bucket[8].
    * The oracle is the full content: evolution loses nothing.
    */
  private def q155(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q155").toString
    val g = s"g155_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.s (s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE)
         |PARTITIONED BY (bucket(4, s_suppkey))""".stripMargin)
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q155_src")
    spark.sql(
      s"""INSERT INTO $g.s SELECT s_suppkey, s_name, s_acctbal
         |FROM q155_src WHERE s_suppkey % 2 = 0""".stripMargin)
    spark.sql(
      s"ALTER TABLE $g.s REPLACE PARTITION FIELD bucket(4, s_suppkey) " +
        "WITH bucket(8, s_suppkey)")
    val cat = new graft.sources.GraftCatalog(root)
    require(cat.partitionSpec("s") == Seq(graft.sources.GraftCatalog
        .PartitionFieldDef("s_suppkey_bucket", "bucket[8]", "s_suppkey")),
      s"SQL evolution must land the new spec, got ${cat.partitionSpec("s")}")
    spark.sql(
      s"""INSERT INTO $g.s SELECT s_suppkey, s_name, s_acctbal
         |FROM q155_src WHERE s_suppkey % 2 = 1""".stripMargin)
    val data = cat.loadEntries("s").filter(_.kind == "data")
    val oldGen = data.filter(_.partitionTransforms.get("s_suppkey_bucket")
      .contains("bucket[4]|s_suppkey"))
    val newGen = data.filter(_.partitionTransforms.get("s_suppkey_bucket")
      .contains("bucket[8]|s_suppkey"))
    require(oldGen.nonEmpty && newGen.nonEmpty,
      "both spec generations must coexist after the evolution")
    val key = 42L // even -> lives in the old generation
    val b4 = graft.functions.IcebergMurmur3.bucketLong(key, 4)
    val b8 = graft.functions.IcebergMurmur3.bucketLong(key, 8)
    // per-generation tuple pruning narrowed further by writer stats
    def covers(e: cat.TableEntry): Boolean = e.stats.forall(st =>
      (st.colMins.get("s_suppkey").flatMap(_.toDoubleOption),
        st.colMaxs.get("s_suppkey").flatMap(_.toDoubleOption)) match {
        case (Some(mn), Some(mx)) => mn <= key.toDouble && key.toDouble <= mx
        case _ => true
      })
    val expect =
      oldGen.count(e => e.partitionVals("s_suppkey_bucket").toInt == b4 && covers(e)) +
        newGen.count(e => e.partitionVals("s_suppkey_bucket").toInt == b8 && covers(e))
    require(expect < data.size, "the q155 fixture must actually prune")
    val pruned = cat.scanTableWhere(spark, "s", "s_suppkey",
      key.toDouble, key.toDouble)
    require(pruned.inputFiles.length == expect,
      s"point lookup must prune through BOTH spec generations " +
        s"($expect files), opened ${pruned.inputFiles.length} of ${data.size}")
    spark.sql(s"SELECT s_suppkey, s_name, s_acctbal FROM $g.s")
  }

  /** Q156: the NEGATIVE twin of q149 — the same COUNT/MIN/MAX on a table
    * with a PENDING eq-delete must REFUSE the manifest answer (no
    * LocalTableScan, asserted in-gate: a deleted row may carry the
    * recorded extreme, and the committed counts overcount) yet still
    * hash-match the post-delete oracle through the real MoR scan. Pins
    * the `computeMetadataAnswer` delete guards against refactors that
    * would silently serve stale counts.
    */
  private def q156(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q156").toString
    val g = s"g156_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"CREATE TABLE $g.s (s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE)")
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q156_src")
    spark.sql(
      s"INSERT INTO $g.s SELECT s_suppkey, s_nationkey, s_acctbal FROM q156_src")
    val cat = new graft.sources.GraftCatalog(root)
    cat.compactTable(spark, "s", s"$root/staged",
      graft.sources.CompactionRunner.CompactionConfig(targetPartitions = 4,
        clusterBy = Seq("s_suppkey"), statsCols = Seq("s_suppkey")))
    // sanity: WITHOUT deletes this exact query IS manifest-answered
    val before = spark.sql(s"SELECT CAST(count(*) AS BIGINT) AS n FROM $g.s")
    require(before.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "q156 precondition: the delete-free count must be manifest-answered")
    // key-equality DELETE -> pending eq-delete file, zero data files read;
    // key 1 is the recorded MIN, so a stale manifest answer would be wrong
    spark.sql(s"DELETE FROM $g.s WHERE s_suppkey IN (1, 17)")
    require(cat.loadEntries("s").exists(_.kind == "eqdel"),
      "the q156 fixture must leave a pending equality delete")
    val df = spark.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
         |       min(s_suppkey) AS mn, max(s_suppkey) AS mx
         |FROM $g.s""".stripMargin)
    require(!df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "pending deletes must REFUSE the manifest aggregate answer, got:\n" +
        df.queryExecution.executedPlan)
    df
  }

  /** Q157: write-order DDL + writer-side stats — `ALTER TABLE … WRITE
    * ORDERED BY l_orderkey` (parsed by [[graft.plans.GraftSqlParser]])
    * makes the doorway INSERT range-cluster its files, and the writers
    * stamp exact per-file bounds into the commit ([[
    * graft.sources.dsv2.WriterStats]]), so a point lookup on the FRESH
    * table prunes from the manifest with NO compaction ever run — the
    * in-gate require. The oracle is the full content plus the lookup row.
    */
  private def q157(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q157").toString
    val g = s"g157_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.o (o_orderkey BIGINT, o_custkey BIGINT,
         |o_totalprice DOUBLE)""".stripMargin)
    spark.sql(s"ALTER TABLE $g.o WRITE ORDERED BY o_orderkey")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("q157_src")
    // AQE's size-based coalesce would fold the toy shuffle to one file;
    // the gate needs several range-clustered files to prove pruning
    val oldCoalesce = setting(spark,
      "spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql(
      s"""INSERT INTO $g.o
         |SELECT /*+ REPARTITION(8) */ o_orderkey, o_custkey, o_totalprice
         |FROM q157_src WHERE o_orderkey <= 60000""".stripMargin)
    finally oldCoalesce.fold(
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled"))(
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", _))
    val cat = new graft.sources.GraftCatalog(root)
    val data = cat.loadEntries("o").filter(_.kind == "data")
    require(data.size > 1 && data.forall(_.stats.isDefined),
      s"every doorway-written file must carry writer bounds, " +
        s"got ${data.size} files, stats: ${data.map(_.stats.isDefined)}")
    val pruned = cat.scanTableWhere(spark, "o", "o_orderkey", 7.0, 7.0)
    require(pruned.inputFiles.length < data.size,
      s"fresh writer bounds must prune the lookup with no compaction: " +
        s"opened ${pruned.inputFiles.length} of ${data.size}")
    spark.sql(
      s"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, m.hit_price
         |FROM $g.o o
         |CROSS JOIN (SELECT o_totalprice AS hit_price FROM $g.o
         |            WHERE o_orderkey = 7) m""".stripMargin)
  }

  /** Q158: snapshot-ref DDL — `ALTER TABLE … CREATE TAG` pins the
    * first-load snapshot, later INSERTs move the head, and `VERSION AS OF
    * 'tag'` reads exactly the pinned subset (hash-matched); DROP TAG then
    * removes the handle (in-gate require). The WAP spelling every
    * promote-after-audit pipeline runs.
    */
  private def q158(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q158").toString
    val g = s"g158_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.n (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .createOrReplaceTempView("q158_src")
    spark.sql(
      s"""INSERT INTO $g.n SELECT n_nationkey, n_name, n_regionkey
         |FROM q158_src WHERE n_regionkey <> 2""".stripMargin)
    spark.sql(s"ALTER TABLE $g.n CREATE TAG validated")
    spark.sql(
      s"""INSERT INTO $g.n SELECT n_nationkey, n_name, n_regionkey
         |FROM q158_src WHERE n_regionkey = 2""".stripMargin)
    val cat = new graft.sources.GraftCatalog(root)
    require(cat.tags("n").contains("validated"), "tag must be recorded")
    val full = spark.sql(s"SELECT count(*) FROM $g.n").head().getLong(0)
    val tagged = spark.sql(
      s"SELECT count(*) FROM $g.n VERSION AS OF 'validated'").head().getLong(0)
    require(tagged < full, s"the tag must pin the pre-insert snapshot " +
      s"($tagged rows) against the moved head ($full rows)")
    val out = spark.sql(
      s"""SELECT n_nationkey, n_name, n_regionkey
         |FROM $g.n VERSION AS OF 'validated'""".stripMargin)
    val rows = out.collect() // materialize before the tag is dropped
    spark.sql(s"ALTER TABLE $g.n DROP TAG validated")
    require(!cat.tags("n").contains("validated"), "DROP TAG must remove it")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  /** Q159: deletion-vector migration through `CALL` — accumulate parquet
    * pos-deletes via translatable DELETEs, `CALL cat.system.
    * rewrite_position_delete_files(t, as_deletion_vectors => true)`, and
    * require (a) exactly one counted DV posdel entry remains and (b) the
    * post-migration read serves MASKED COLUMNAR (the DV decodes straight
    * into the mask's per-file position arrays). Oracle = the post-delete
    * content: migration loses nothing.
    */
  private def q159(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q159").toString
    val g = s"g159_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.o (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("q159_src")
    spark.sql(
      s"""INSERT INTO $g.o
         |SELECT o_orderkey, o_custkey, o_totalprice
         |FROM q159_src WHERE o_orderkey <= 60000""".stripMargin)
    // three untranslatable MoR DELETEs -> three appended parquet
    // pos-delete commits (translatable ranges take the metadata path,
    // which MERGES pos-deletes into one file; equality keys take the
    // eq-delete fast path — neither accumulates)
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey % 97 = 13")
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey % 89 = 7")
    spark.sql(s"DELETE FROM $g.o WHERE o_custkey % 53 = 11")
    val cat = new graft.sources.GraftCatalog(root)
    require(cat.loadEntries("o").count(_.kind == "posdel") >= 3,
      "the q159 fixture must accumulate parquet pos-delete files")
    spark.sql(s"CALL $g.system.rewrite_position_delete_files('o', " +
      "as_deletion_vectors => true)").collect()
    val pos = cat.loadEntries("o").filter(_.kind == "posdel")
    require(pos.size == 1 && pos.head.format == "dv" && pos.head.recordCount > 0,
      s"migration must leave one counted deletion vector, got $pos")
    val out = spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice FROM $g.o")
    val scan = out.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scan.exists(_.supportsColumnar),
      "the DV-bearing read must serve masked columnar:\n" +
        out.queryExecution.executedPlan)
    out
  }

  /** Q160: VECTORIZED equality-delete reads — the continuously-upserted
    * CDC shape. Key-equality DELETEs commit eq-delete files (metadata-
    * sized, zero data files read); the SELECT between compactions must
    * still serve masked COLUMNAR (broadcast key-set probe with the
    * `data.seq < delete.seq` guard, r13's one perf-weak item), and a
    * re-inserted key must escape older deletes through the seq guard.
    * Oracle = the post-delete + re-insert content.
    */
  private def q160(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q160").toString
    val g = s"g160_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.c (c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .createOrReplaceTempView("q160_src")
    spark.sql(
      s"""INSERT INTO $g.c SELECT c_custkey, c_name, c_acctbal
         |FROM q160_src WHERE c_custkey <= 5000""".stripMargin)
    // pure key-equality DELETEs take the eq-delete fast path
    spark.sql(s"DELETE FROM $g.c WHERE c_custkey IN (5, 500, 4999)")
    spark.sql(s"DELETE FROM $g.c WHERE c_custkey = 1234")
    val cat = new graft.sources.GraftCatalog(root)
    require(cat.loadEntries("c").count(_.kind == "eqdel") >= 2,
      "the q160 fixture must accumulate eq-delete files")
    // the seq guard: this row is NEWER than the deletes and must survive
    spark.sql(s"INSERT INTO $g.c VALUES (500, 'reborn', 1.5)")
    val eq0 = graft.sources.dsv2.GraftColumnarMask.maskedEqServed.get()
    val out = spark.sql(s"SELECT c_custkey, c_name, c_acctbal FROM $g.c")
    val scan = out.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scan.exists(_.supportsColumnar),
      "the eq-delete-bearing read must serve masked columnar:\n" +
        out.queryExecution.executedPlan)
    val rows = out.collect()
    require(graft.sources.dsv2.GraftColumnarMask.maskedEqServed.get() > eq0,
      "the read must go through the vectorized eq-delete mask")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  /** Q161: session-scoped write-audit-publish (`spark.wap.branch`):
    * with the conf set, the second INSERT lands on the branch fork (main
    * provably unchanged), `VERSION AS OF 'branch'` audits it, and
    * `publish_branch` adopts it into main — Iceberg's WAP contract
    * through the doorway. Oracle = the full published content.
    */
  private def q161(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q161").toString
    val g = s"g161_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.n (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .createOrReplaceTempView("q161_src")
    spark.sql(
      s"""INSERT INTO $g.n SELECT n_nationkey, n_name, n_regionkey
         |FROM q161_src WHERE n_regionkey <> 2""".stripMargin)
    val base = spark.sql(s"SELECT count(*) FROM $g.n").head().getLong(0)
    val cat = new graft.sources.GraftCatalog(root)
    try {
      spark.conf.set("spark.wap.branch", "audit")
      spark.sql(
        s"""INSERT INTO $g.n SELECT n_nationkey, n_name, n_regionkey
           |FROM q161_src WHERE n_regionkey = 2""".stripMargin)
      require(cat.tables().contains("n@audit"),
        "the wap.branch write must create the branch fork")
      val mainN = spark.sql(s"SELECT count(*) FROM $g.n VERSION AS OF 'main'")
        .head().getLong(0)
      require(mainN == base,
        s"main must not see unpublished wap writes ($mainN vs $base)")
      val branchN = spark.sql(s"SELECT count(*) FROM $g.n VERSION AS OF 'audit'")
        .head().getLong(0)
      require(branchN > base, "the branch must hold the staged rows")
      spark.sql(s"CALL $g.system.publish_branch('n', 'audit')").collect()
    } finally spark.conf.unset("spark.wap.branch")
    spark.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $g.n")
  }

  /** Q162: branch tables as first-class DML + maintenance targets: an
    * untranslatable MoR DELETE against `o@fix` commits delete files on
    * the FORK's chain (main's head provably unmoved), branch compaction
    * retires them, publish adopts the audited state. Oracle = the
    * post-publish content.
    */
  private def q162(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q162").toString
    val g = s"g162_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.o (o_orderkey BIGINT, o_custkey BIGINT)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("q162_src")
    spark.sql(
      s"""INSERT INTO $g.o SELECT o_orderkey, o_custkey
         |FROM q162_src WHERE o_orderkey <= 30000""".stripMargin)
    spark.sql(s"ALTER TABLE $g.o CREATE BRANCH fix")
    val cat = new graft.sources.GraftCatalog(root)
    val mainHead = cat.currentSnapshotId("o")
    // untranslatable condition -> MoR WriteDelta on the fork
    spark.sql(s"DELETE FROM $g.`o@fix` WHERE o_orderkey % 13 = 5 OR o_custkey % 41 = 3")
    require(cat.currentSnapshotId("o") == mainHead,
      "branch DML must never move main's head")
    require(cat.loadEntries("o@fix").exists(_.kind == "posdel"),
      "the branch DELETE must commit MoR delete files on the fork")
    require(!cat.loadEntries("o").exists(_.kind == "posdel"),
      "main must hold no delete files from branch DML")
    // branch maintenance: compaction retires the fork's delete debt
    spark.sql(s"CALL $g.system.rewrite_data_files('o@fix')").collect()
    require(!cat.loadEntries("o@fix").exists(_.kind == "posdel"),
      "branch compaction must retire the fork's delete files")
    require(cat.currentSnapshotId("o") == mainHead)
    spark.sql(s"CALL $g.system.publish_branch('o', 'fix')").collect()
    spark.sql(s"SELECT o_orderkey, o_custkey FROM $g.o")
  }

  /** Q163: filtered reads KEEP the vectorized mask: a pushed range
    * filter over a deletion-vector-bearing table serves masked columnar
    * over the PRUNED file set (r13 refused every filtered read to the
    * row path; the mask now routes the same stats/partition skipping the
    * pruned row scan used). Oracle = the filtered post-delete content.
    */
  private def q163(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q163").toString
    val g = s"g163_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.o (o_orderkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("q163_src")
    // two generations with disjoint key ranges: writer-stamped bounds
    // make the upper file prunable under the pushed filter
    spark.sql(
      s"""INSERT INTO $g.o SELECT o_orderkey, o_totalprice
         |FROM q163_src WHERE o_orderkey <= 30000""".stripMargin)
    spark.sql(
      s"""INSERT INTO $g.o SELECT o_orderkey, o_totalprice
         |FROM q163_src WHERE o_orderkey > 30000 AND o_orderkey <= 60000""".stripMargin)
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey % 97 = 13") // pos-deletes
    // migrate to Puffin deletion vectors (the distributed DV writer)
    spark.sql(s"CALL $g.system.rewrite_position_delete_files('o', " +
      "as_deletion_vectors => true)").collect()
    val cat = new graft.sources.GraftCatalog(root)
    val dv = cat.loadEntries("o").filter(_.kind == "posdel")
    require(dv.nonEmpty && dv.forall(_.format == "dv"),
      s"migration must leave deletion vectors, got $dv")
    val masked0 = graft.sources.dsv2.GraftColumnarMask.maskedServed.get()
    val out = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM $g.o WHERE o_orderkey <= 30000")
    val scan = out.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scan.exists(_.supportsColumnar),
      "the filtered DV-bearing read must stay masked columnar:\n" +
        out.queryExecution.executedPlan)
    val rows = out.collect()
    require(graft.sources.dsv2.GraftColumnarMask.maskedServed.get() > masked0,
      "the filtered read must go through the vectorized mask")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  /** Q164: STATIC `IN` point lookups prune to covering files through the
    * doorway — the plan-time twin of DPP's runtime IN pruning: each
    * parseable IN conjunct intersects the partition/stats/bloom keep set,
    * so a point lookup on a range-clustered table opens O(values) files,
    * not O(table). In-gate: the keep set is required strictly smaller
    * than the data file count. Oracle = the filtered content.
    */
  private def q164(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q164").toString
    val g = s"g164_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.c (c_custkey BIGINT, c_name STRING)")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .createOrReplaceTempView("q164_src")
    // range-clustered write: disjoint writer-stamped bounds per file
    spark.sql(
      s"""INSERT INTO $g.c
         |SELECT /*+ REPARTITION_BY_RANGE(8, c_custkey) */ c_custkey, c_name
         |FROM q164_src""".stripMargin)
    val cat = new graft.sources.GraftCatalog(root)
    val files = cat.loadEntries("c").count(_.kind == "data")
    val keep = cat.inKeepPaths(spark, "c", "c_custkey", Seq(5L, 40L, 77L))
    require(keep.nonEmpty && keep.size < files,
      s"the IN keep set must prune (kept ${keep.size} of $files files)")
    spark.sql(
      s"SELECT c_custkey, c_name FROM $g.c WHERE c_custkey IN (5, 40, 77)")
  }

  /** Q165: the Iceberg-v3 delete-file EXPORT chain — after a DV migration
    * plus a pending eq-delete, `IcebergMetadataJson.export` must emit
    * `format-version` 3 metadata whose manifest list discovers a delete
    * manifest carrying one entry per Puffin DV blob (`referenced_data_file`
    * / `content_offset` / `content_size_in_bytes`, byte-resolvable) and a
    * `content` = 2 entry with `equality_ids` — a stock v3 reader's
    * discovery path, closing r14's one-hop-short interop gap. Oracle =
    * the table content both delete families leave behind.
    */
  private def q165(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q165").toString
    val g = s"g165_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.o (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("q165_src")
    spark.sql(
      s"""INSERT INTO $g.o SELECT o_orderkey, o_custkey, o_totalprice
         |FROM q165_src WHERE o_orderkey <= 60000""".stripMargin)
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey % 101 = 17") // -> pos-deletes
    spark.sql(s"CALL $g.system.rewrite_position_delete_files('o', " +
      "as_deletion_vectors => true)").collect()
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey IN (3, 777)") // -> eq-delete
    val cat = new graft.sources.GraftCatalog(root)
    val dvTotal = cat.loadEntries("o")
      .filter(e => e.kind == "posdel" && e.format == "dv")
      .map(_.recordCount).sum
    require(dvTotal > 0, "the q165 fixture must hold deletion vectors")
    val metaPath = graft.sources.IcebergMetadataJson.export(cat, root, "o")
    require(java.nio.file.Files.readString(metaPath)
      .contains("\"format-version\":3"),
      "a DV-bearing export must declare format-version 3")
    val conf = graft.sources.CompactionRunner.defaultHadoopConf()
    // walk the exported chain exactly like a stock reader: head snapshot
    // -> manifest list -> delete manifest -> per-blob DV entries
    val listPath = s"$root/o/snap-${cat.currentSnapshotId("o")}-manifest-list.avro"
    val manifests = graft.sources.IcebergManifest.readList(listPath, conf)
    val delManifest = manifests.find(_.content == 1).getOrElse(
      throw new IllegalStateException(
        s"export must carry a delete manifest, got $manifests"))
    val entries = graft.sources.IcebergManifest.read(
      delManifest.manifestPath, cat.currentSchema("o").get, conf)
    val dvs = entries.filter(_.format == "puffin")
    require(dvs.nonEmpty && dvs.forall(e =>
      e.content == graft.sources.IcebergManifest.ContentPositionDeletes &&
        e.referencedDataFile.isDefined && e.contentOffset.isDefined &&
        e.contentSizeInBytes.isDefined),
      s"every DV blob must export a referenced manifest entry: $entries")
    require(dvs.map(_.file.recordCount).sum == dvTotal,
      "exported DV cardinalities must sum to the pending delete count")
    require(entries.exists(e =>
      e.content == graft.sources.IcebergManifest.ContentEqualityDeletes &&
        e.equalityIds.nonEmpty),
      "the pending eq-delete must export with its equality_ids")
    spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice FROM $g.o")
  }

  /** The q166/q167 shared fixture: a DV + eq-delete MoR orders table under
    * `root`, exported to a `metadata.json` chain. Returns the export path.
    */
  private def importFixture(
      spark: SparkSession, sfDir: String, root: String): java.nio.file.Path = {
    val g = s"gimp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""CREATE TABLE $g.o (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView(s"${g}_src")
    spark.sql(
      s"""INSERT INTO $g.o SELECT o_orderkey, o_custkey, o_totalprice
         |FROM ${g}_src WHERE o_orderkey <= 60000""".stripMargin)
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey % 101 = 17") // -> pos-deletes
    spark.sql(s"CALL $g.system.rewrite_position_delete_files('o', " +
      "as_deletion_vectors => true)").collect()
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey IN (3, 777)") // -> eq-delete
    val cat = new graft.sources.GraftCatalog(root)
    graft.sources.IcebergMetadataJson.export(cat, root, "o")
  }

  /** Q166: the Iceberg metadata IMPORT path — the reference's upstream half
    * (load a table OTHER writers produced: `Catalog::load_table` + the
    * delete-file-processing snapshot scan, `core/src/compaction/mod.rs:44,
    * 90-171`). Export a DV + eq-delete table's `metadata.json` chain, then
    * `GraftCatalog.importTable` it into a FRESH catalog root and MoR-read
    * the imported table through a second doorway mount. The import doubles
    * as the second-implementation check of the export: nothing of the
    * original catalog's in-memory state reaches the new root — only the
    * exported document chain does — yet the scan must hash-match the same
    * oracle the original answers.
    */
  private def q166(spark: SparkSession, sfDir: String): DataFrame = {
    val rootA = java.nio.file.Files.createTempDirectory("graft-q166a").toString
    val metaPath = importFixture(spark, sfDir, rootA)
    val rootB = java.nio.file.Files.createTempDirectory("graft-q166b").toString
    val catB = new graft.sources.GraftCatalog(rootB)
    catB.importTable("o", metaPath.toString)
    // the deletes must import AS delete files (MoR-served, not baked in)
    val ents = catB.loadEntries("o")
    require(ents.exists(e => e.kind == "posdel" && e.format == "dv"),
      s"the import must carry the deletion vectors: $ents")
    require(ents.exists(e => e.kind == "eqdel" && e.eqIds.nonEmpty),
      s"the import must carry the eq-delete with its ids: $ents")
    // ...and the full snapshot history must be time-travelable
    require(catB.snapshotIds("o").size >= 4,
      s"every lineage snapshot must import: ${catB.snapshotIds("o")}")
    val h = s"gq166_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$h", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$h.root", rootB)
    spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice FROM $h.o")
  }

  /** Q167: compact an IMPORTED table — the reference's one job, on a table
    * it did not write (scan with delete processing → merge → write →
    * commit, `core/src/compaction/mod.rs:90-171`). After q166's import,
    * `compactTable` must retire every foreign delete file, land its output
    * under the importing root, and leave the content identical — the scan
    * answers the same oracle as q166, now from plain data files.
    */
  private def q167(spark: SparkSession, sfDir: String): DataFrame = {
    val rootA = java.nio.file.Files.createTempDirectory("graft-q167a").toString
    val metaPath = importFixture(spark, sfDir, rootA)
    val rootB = java.nio.file.Files.createTempDirectory("graft-q167b").toString
    val catB = new graft.sources.GraftCatalog(rootB)
    catB.importTable("o", metaPath.toString)
    require(catB.loadEntries("o").exists(_.kind != "data"),
      "the imported table must hold pending delete files")
    catB.compactTable(spark, "o", s"$rootB/o/_data/compacted")
    val after = catB.loadEntries("o")
    require(after.forall(_.kind == "data"),
      s"compaction must retire every imported delete file: $after")
    require(after.forall(_.path.contains(rootB)),
      s"compaction output must land under the importing root: ${after.map(_.path)}")
    val h = s"gq167_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$h", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$h.root", rootB)
    spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice FROM $h.o")
  }

  /** Q169: import a foreign chain whose schema carries the Iceberg types
    * Spark has no native type for — `uuid`, `fixed[16]`, `time`,
    * `timestamp_ns` (reference wire decode `core/src/parser/proto.rs:
    * 205-239`) — under the library's documented conventions (SURVEY §1.2,
    * proven by q36): uuid → canonical string, fixed → length-checked
    * binary, time → µs-since-midnight long, ns → nanos long. The chain's
    * manifest carries spec-exact BINARY bounds for the uuid column (16
    * bytes big-endian, Appendix D) and an equality delete KEYED ON the
    * uuid field id — in-gate requires prove the bound decodes to the
    * canonical string and the eq-delete binds; the MoR scan then
    * hash-matches the DuckDB oracle.
    */
  private def q169(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-q169").toString
    val h = md5(concat(lit("graft:"), col("o_orderkey").cast("string")))
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") <= 30000)
      .select(
        col("o_orderkey"),
        concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
          substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
          .as("uid"),
        unhex(h).as("fp"),
        (col("o_orderkey") * 977 % 86400000000L).as("t_us"),
        (col("o_orderkey") * 1000000L + 123L).as("ts_ns"))
    src.coalesce(1).write.parquet(s"$dir/data")
    val dataPath = graft.sources.CompactionRunner.listParquet(s"$dir/data").head
    // the eq-delete: the two smallest keys, BY uuid (the foreign table's
    // key domain), keyed on the uid column's field id
    src.orderBy("o_orderkey").limit(2).select("uid")
      .coalesce(1).write.parquet(s"$dir/eq")
    val eqPath = graft.sources.CompactionRunner.listParquet(s"$dir/eq").head
    val stats = src.agg(
      count(lit(1)), min("uid"), max("uid"),
      min("o_orderkey"), max("o_orderkey"),
      lower(min(hex(col("fp")))), lower(max(hex(col("fp"))))).head()
    val nRows = stats.getLong(0)
    // the annotated import schema comes from the PARSER itself — the same
    // document the chain declares, so the manifest writer sees exactly
    // what a re-import will see
    val schemaFields =
      """{"id":1,"name":"o_orderkey","required":false,"type":"long"},
        |{"id":2,"name":"uid","required":false,"type":"uuid"},
        |{"id":3,"name":"fp","required":false,"type":"fixed[16]"},
        |{"id":4,"name":"t_us","required":false,"type":"time"},
        |{"id":5,"name":"ts_ns","required":false,"type":"timestamp_ns"}"""
        .stripMargin
    val schema = graft.sources.IcebergImport.parse(
      s"""{"format-version":2,"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[$schemaFields]}],
         |"current-snapshot-id":-1,"snapshots":[]}""".stripMargin)
      .schemas.head._2
    val conf = graft.sources.CompactionRunner.defaultHadoopConf()
    def szOf(p: String) = java.nio.file.Files.size(java.nio.file.Paths.get(p))
    val entries = Seq(
      graft.sources.IcebergManifest.ManifestEntry(
        graft.sources.IcebergManifest.StatusAdded,
        graft.sources.CompactionRunner.DataFileStats(dataPath, szOf(dataPath),
          nRows,
          colMins = Map("uid" -> stats.getString(1),
            "o_orderkey" -> stats.getLong(3).toString,
            "fp" -> stats.getString(5)),
          colMaxs = Map("uid" -> stats.getString(2),
            "o_orderkey" -> stats.getLong(4).toString,
            "fp" -> stats.getString(6)),
          nullCounts = Map.empty),
        sequenceNumber = 1),
      graft.sources.IcebergManifest.ManifestEntry(
        graft.sources.IcebergManifest.StatusAdded,
        graft.sources.CompactionRunner.DataFileStats(eqPath, szOf(eqPath), 2,
          Map.empty, Map.empty, Map.empty),
        content = graft.sources.IcebergManifest.ContentEqualityDeletes,
        sequenceNumber = 2, equalityIds = Seq(2)))
    graft.sources.IcebergManifest.write(s"$dir/m0.avro", entries, schema, conf)
    graft.sources.IcebergManifest.writeList(s"$dir/list1.avro",
      Seq(graft.sources.IcebergManifest.ManifestFile(
        s"$dir/m0.avro", szOf(s"$dir/m0.avro"),
        partitionSpecId = 0, content = 0, sequenceNumber = 2,
        minSequenceNumber = 1, addedSnapshotId = 1,
        addedFilesCount = 2, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = nRows + 2, existingRowsCount = 0,
        deletedRowsCount = 0)), conf)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/v1.metadata.json"),
      s"""{"format-version":2,"table-uuid":"q169-wide-types","location":"$dir",
         |"last-column-id":5,"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[$schemaFields]}],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         |"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":0,
         |"manifest-list":"$dir/list1.avro","summary":{"operation":"append"},
         |"schema-id":0}]}""".stripMargin)
    val root = java.nio.file.Files.createTempDirectory("graft-q169-r").toString
    val cat = new graft.sources.GraftCatalog(root)
    cat.importTable("w", s"$dir/v1.metadata.json")
    // the binary uuid bound must have decoded to the canonical string...
    val dataEnt = cat.loadEntries("w").find(_.kind == "data").get
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    require(dataEnt.stats.exists(_.colMins.get("uid")
      .exists(_.matches(uuidRe))),
      s"the uuid bound must decode to canonical form: ${dataEnt.stats}")
    // ...the fixed bound to order-preserving hex...
    require(dataEnt.stats.exists(_.colMins.get("fp")
      .exists(_.matches("[0-9a-f]{32}"))),
      s"the fixed[16] bound must decode to hex: ${dataEnt.stats}")
    // ...and the eq-delete must bind its field id to the uuid column
    require(cat.loadEntries("w").exists(e =>
      e.kind == "eqdel" && e.eqIds == Seq(2) && e.eqCols == Seq("uid")),
      s"the uuid-keyed eq-delete must bind: ${cat.loadEntries("w")}")
    val g = s"gq169_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(
      s"""SELECT o_orderkey, uid, hex(fp) AS fp_hex, t_us, ts_ns
         |FROM $g.w""".stripMargin)
  }

  /** Q170: ANALYZE — `CALL system.compute_table_stats` runs one
    * distributed NDV pass (theta-sketch partial-merge, no raw-value shuffle) and
    * records Puffin theta blobs (estimate in the spec's `ndv` property)
    * the doorway's `estimateStatistics` then serves as per-column
    * distinct counts — the planner input stock engines read from the
    * `statistics` metadata surface. In-gate requires prove the sketch is
    * within HLL tolerance of exact and that the scan REPORTS it; the
    * oracle-compared output is the exact distinct counts (cross-engine
    * deterministic — sketch internals are not).
    */
  private def q170(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q170").toString
    val g = s"g170_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.c (c_custkey BIGINT, c_mktsegment STRING, " +
      "c_nationkey BIGINT)")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .createOrReplaceTempView("q170_src")
    spark.sql(s"INSERT INTO $g.c SELECT c_custkey, c_mktsegment, c_nationkey " +
      "FROM q170_src")
    spark.sql(s"CALL $g.system.compute_table_stats('c')").collect()
    val cat = new graft.sources.GraftCatalog(root)
    val ndv = cat.columnNdv("c")
    val exact = spark.sql(
      """SELECT count(DISTINCT c_custkey) AS ck,
        |       count(DISTINCT c_mktsegment) AS seg,
        |       count(DISTINCT c_nationkey) AS nat FROM q170_src""".stripMargin)
      .head()
    for ((c, e) <- Seq("c_custkey" -> exact.getLong(0),
      "c_mktsegment" -> exact.getLong(1), "c_nationkey" -> exact.getLong(2)))
      require(ndv.get(c).exists(n => math.abs(n - e) <= math.max(2L, e / 10)),
        s"sketch NDV for $c (${ndv.get(c)}) must be within HLL tolerance " +
          s"of exact $e")
    // the doorway scan must REPORT the sketch as column statistics
    val scanStats = new graft.sources.dsv2.GraftV2Table(root, "c", asOf = None)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    require(!scanStats.columnStats().isEmpty,
      "estimateStatistics must serve the recorded NDV as column stats")
    spark.sql(
      """SELECT 'c_custkey' AS col, count(DISTINCT c_custkey) AS exact_ndv
        |FROM q170_src
        |UNION ALL
        |SELECT 'c_mktsegment', count(DISTINCT c_mktsegment) FROM q170_src
        |UNION ALL
        |SELECT 'c_nationkey', count(DISTINCT c_nationkey) FROM q170_src"""
        .stripMargin)
  }

  /** q171 — the statistics LIFECYCLE (r18): theta sketches cannot
    * subtract, so delete-heavy commits and compaction rewrites leave the
    * recorded NDVs silently stale-high. The gate drives the full
    * operations loop — ANALYZE → MoR DELETE (stale) → scheduler
    * statsSweep (full re-analyze) → compaction rewrite (stale again) →
    * sweep (fresh) — asserting each staleness transition in-gate, and
    * returns the final sketch NDVs plus the row count. Theta is EXACT
    * below its nominal entry count, so the low-cardinality columns'
    * sketch estimates hash-match DuckDB's exact distinct counts.
    */
  private def q171(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q171").toString
    val g = s"g171_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    val cat = new graft.sources.GraftCatalog(root)
    // mount the session-shared staged slice metadata-only (the q148
    // staging precedent): the gate's claim is the stats LIFECYCLE —
    // ANALYZE → stale → sweep → rewrite → stale → sweep — not the
    // create+insert fixture write it re-paid per invocation. The catalog
    // stays PRIVATE per invocation because statsSweep walks every table
    // of its catalog; same rows, same statements, same oracle.
    cat.createTable("o", DmlFixtures.orders30kTasks(spark, sfDir))
    // the SQL CREATE TABLE this replaces recorded an id-stamped canonical
    // schema; ANALYZE keys its statistics blobs by field id, so stamp one
    // the same way (metadata-only)
    cat.evolveSchema("o", graft.sources.FieldIds.stamp(
      cat.scanTable(spark, "o").schema))
    cat.updateTableProperties("o", Map("write.delete.mode" -> "merge-on-read"))
    spark.sql(s"CALL $g.system.compute_table_stats('o')").collect()
    require(!cat.statsStale("o") && cat.analyzeDebt("o") == 0,
      "a fresh ANALYZE at head must not report stale")
    spark.sql(s"DELETE FROM $g.o WHERE o_orderstatus = 'O'")
    require(cat.statsStale("o"),
      "a MoR delete must mark the sketches stale (theta cannot subtract)")
    val sched = new graft.sources.CompactionScheduler(cat, s"$root/_sweep")
    val s1 = sched.statsSweep(spark)
    require(s1.exists(o => o.table == "o" && o.outcome == "re_analyzed"),
      s"stale stats must trigger a full re-analyze: $s1")
    require(!cat.statsStale("o"), "the sweep must leave the stats fresh")
    // a compaction rewrite replaces files -> stale again -> sweep repairs
    cat.compactTable(spark, "o", s"$root/o/_data/q171-compacted")
    require(cat.statsStale("o"),
      "a compaction rewrite must re-stale the sketches")
    val s2 = sched.statsSweep(spark)
    require(s2.exists(o => o.table == "o" && o.outcome == "re_analyzed"), s2.toString)
    val ndv = cat.columnNdv("o")
    val rows = spark.sql(s"SELECT count(*) FROM $g.o").head().getLong(0)
    import spark.implicits._
    Seq(("o_orderpriority", ndv("o_orderpriority")),
      ("o_orderstatus", ndv("o_orderstatus")),
      ("rows", rows)).toDF("col", "v")
  }

  /** q172 — statistics CONSUMED in planning (r18): the recorded theta
    * NDVs, served as V2 column stats, flip a filtered dim join to
    * broadcast under CBO where it previously shuffled — asserted
    * in-gate by planning the SAME query before and after ANALYZE. The
    * returned result is the join itself (plan-invariant rows).
    */
  private def q172(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q172").toString
    val g = s"g172_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.dim (k BIGINT, seg BIGINT)")
    // one slice -> one file: parallelism-independent estimate (see q173)
    spark.sql(s"INSERT INTO $g.dim SELECT id, id % 2000 " +
      "FROM range(0, 20000, 1, 1)")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("q172_l")
    val q =
      s"""SELECT d.k AS k, count(*) AS cnt,
         |CAST(sum(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty
         |FROM q172_l l JOIN $g.dim d ON l.l_orderkey % 20000 = d.k
         |WHERE d.seg = 7
         |GROUP BY d.k""".stripMargin
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString)
    val saved = confs.map { case (k, _) => k -> setting(spark, k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def bhj(): Int = spark.sql(q).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.size
      require(bhj() == 0,
        "without NDV stats the filtered 20k-row dim must not broadcast " +
          "(both sides above the threshold)")
      spark.sql(s"CALL $g.system.compute_table_stats('dim')").collect()
      require(bhj() == 1,
        "the served NDV must flip the filtered dim join to broadcast")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(q)
  }

  /** q173 — EXACT row counts under pending position deletes (r19): a
    * continuously-upserted MoR table (the reference's core workload,
    * `datafusion_processor.rs:267-277`) previously lost its CBO row count
    * the moment ANY delete was pending, even though pos-delete/DV
    * cardinality is exact in the manifests. The gate ANALYZEs a dim,
    * MoR-deletes half of it, then requires (a) the doorway estimate
    * serves EXACTLY dataRows − posDeleteCardinality and (b) the
    * NDV-driven broadcast decision SURVIVES the pending-delete state —
    * the dim-filtered join still plans BHJ under CBO. The returned rows
    * are the join itself (plan-invariant; the deleted half is visible
    * through the seg-IN filter picking one live and one deleted segment).
    */
  private def q173(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q173").toString
    val g = s"g173_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.dim (k BIGINT, seg BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    // ONE slice -> one data file whose bounds span the whole domain: the
    // gate's estimate must be parallelism-independent (at local[32] a
    // 32-file layout lets the pushed seg filter statically prune files,
    // and a pruned estimate under pending deletes rightly withholds the
    // row count — the property under test needs the unpruned shape)
    spark.sql(s"INSERT INTO $g.dim SELECT id, id % 2000 " +
      "FROM range(0, 20000, 1, 1)")
    spark.sql(s"CALL $g.system.compute_table_stats('dim')").collect()
    spark.sql(s"DELETE FROM $g.dim WHERE seg >= 1000")
    val cat = new graft.sources.GraftCatalog(root)
    require(cat.loadEntries("dim").exists(_.kind == "posdel"),
      "the delete must land merge-on-read (pending position deletes)")
    val scanStats = new graft.sources.dsv2.GraftV2Table(root, "dim", asOf = None)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    require(scanStats.numRows.isPresent && scanStats.numRows.getAsLong == 10000L,
      s"pending position deletes must serve the EXACT live row count " +
        s"(10000), got ${scanStats.numRows}")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("q173_l")
    val q =
      s"""SELECT d.k AS k, count(*) AS cnt,
         |CAST(sum(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty
         |FROM q173_l l JOIN $g.dim d ON l.l_orderkey % 20000 = d.k
         |WHERE d.seg IN (7, 1500)
         |GROUP BY d.k""".stripMargin
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString)
    val saved = confs.map { case (k, _) => k -> setting(spark, k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val bhj = spark.sql(q).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.size
      require(bhj == 1,
        "the exact post-delete row count plus the recorded NDV must keep " +
          "the filtered dim join broadcast under pending deletes")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(q)
  }

  /** q174 — SORT ELISION on sorted compacted tables (r19,
    * `SupportsReportOrdering`): two co-bucketed tables with a declared
    * write order, maintenance-compacted into one sorted file per tuple,
    * merge-join with ZERO SortExec and zero shuffles — the scan reports
    * the sorted-compaction watermark's order as per-partition ordering
    * and the storage-partitioned layout supplies the distribution. At
    * 100 TB this elides the dominant cost of every merge join / ORDER BY
    * over a sorted table. In-gate requires: the sorted pair plans
    * SMJ + 0 sorts + no hash exchange; an identical UNSORTED pair plans
    * the same join WITH sorts (the claim is watermark-proven, not
    * assumed). Returned rows are the join itself.
    */
  private def q174(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q174").toString
    val g = s"g174_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("q174_li")
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .createOrReplaceTempView("q174_s")
    def mk(li: String, s: String): Unit = {
      spark.sql(
        s"""CREATE TABLE $g.$li
           |(l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT, l_quantity DOUBLE)
           |PARTITIONED BY (bucket(4, l_suppkey))""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $g.$s (s_suppkey BIGINT, s_name STRING)
           |PARTITIONED BY (bucket(4, s_suppkey))""".stripMargin)
      spark.sql(
        s"""INSERT INTO $g.$li
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity
           |FROM q174_li WHERE l_orderkey <= 6000""".stripMargin)
      spark.sql(s"INSERT INTO $g.$s SELECT s_suppkey, s_name FROM q174_s")
    }
    mk("li", "s")
    val cat = new graft.sources.GraftCatalog(root)
    def q(li: String, s: String) =
      s"""SELECT l.l_orderkey AS okey, l.l_linenumber AS lnum,
         |       l.l_suppkey AS skey, s.s_name AS sname, l.l_quantity AS qty
         |FROM $g.$li l JOIN $g.$s s ON l.l_suppkey = s.s_suppkey""".stripMargin
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    def withConfs[T](body: => T): T = {
      val saved = confs.map { case (k, _) => k -> setting(spark, k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    def shape(sql: String): (Int, Int, Boolean) = {
      val p = spark.sql(sql).queryExecution.executedPlan
      (p.collect { case j: org.apache.spark.sql.execution.joins
          .SortMergeJoinExec => j }.size,
        p.collect { case st: org.apache.spark.sql.execution.SortExec => st }.size,
        p.toString.contains("Exchange hashpartitioning"))
    }
    // the unsorted control is the SAME pair before its sorted compaction
    // (no watermark yet) — it must still pay the merge-join sorts, so the
    // claim stays watermark-proven without staging a second table pair
    withConfs {
      val (smj0, sorts0, _) = shape(q("li", "s"))
      require(smj0 == 1 && sorts0 > 0,
        "the unsorted (pre-compaction) pair must still pay the merge-join " +
          s"sorts (claim must be watermark-proven), got smj=$smj0 sorts=$sorts0")
    }
    for ((t, c) <- Seq("li" -> "l_suppkey", "s" -> "s_suppkey")) {
      cat.setSortOrder(t, Seq(c))
      cat.compactTable(spark, t, s"$root/$t/_data/sorted",
        graft.sources.CompactionRunner.CompactionConfig(targetPartitions = 1))
      require(cat.sortedSnapshot(t).exists(_._1 == cat.currentSnapshotId(t)),
        s"sorted compaction must stamp the watermark for $t")
    }
    withConfs {
      val (smj, sorts, shuffled) = shape(q("li", "s"))
      require(smj == 1 && sorts == 0 && !shuffled,
        s"sorted co-bucketed tables must merge-join sort-free and " +
          s"shuffle-free, got smj=$smj sorts=$sorts shuffled=$shuffled")
      // materialize under the sort-elided plan: rows must be exact
      val n = spark.sql(q("li", "s")).count()
      require(n > 0, "sorted SPJ join returned no rows")
    }
    spark.sql(q("li", "s"))
  }

  /** q175 — STREAMING CDC (r19): the `.changes` DSv2 table streams the
    * NET `'I'`/`'D'` rows per snapshot window — initial image, then a MoR
    * DELETE as `'D'` rows, then an append as `'I'` rows — where the plain
    * append stream must fail (delete snapshots are not appends). This is
    * the Delta-CDF analog a downstream index or materialized view
    * consumes from a continuously upserted table
    * ([[graft.sources.GraftStreamSource.changelogBatch]]). The gate
    * drives insert → MoR delete → insert, drains the changelog stream
    * under `Trigger.AvailableNow`, requires the streamed window equals
    * the batch-changelog accounting in-gate, and returns the streamed
    * rows aggregated in q120's oracle shape.
    *
    * r20 extension — the EQUALITY-delete window: a key-equality
    * `DELETE … WHERE k IN (…)` lands as a metadata-sized eq-delete file
    * (the r12 fast path), and the restarted stream must serve its `'D'`
    * rows exactly. The scale contract is asserted in-gate: the changelog
    * planning half ([[graft.sources.GraftCatalog.changelogEqDiffCandidates]])
    * must BOUND the delete diff to a proper subset of `from`'s data files
    * (the delete keys' bounds/tuples name the candidate files) — without
    * it a CDC consumer of a table taking point deletes pays a full table
    * scan per window at 100 TB.
    */
  private def q175(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q175").toString
    val g = s"g175_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.o (o_orderkey BIGINT, o_orderpriority STRING, " +
      "o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("q175_src")
    // the initial image lands as FOUR range-disjoint files (explicit
    // repartitionByRange on the key) so per-file o_orderkey bounds can
    // PROVE the later eq-delete window's diff a proper file subset — the
    // clustered layout any 100 TB table being point-deleted would have
    spark.read.parquet(s"$sfDir/orders.parquet")
      .where("o_orderkey <= 20000")
      .repartitionByRange(4, col("o_orderkey"))
      .createOrReplaceTempView("q175_init")
    spark.sql(s"INSERT INTO $g.o SELECT o_orderkey, o_orderpriority, " +
      "o_totalprice FROM q175_init")
    // untranslatable predicate (modulo) -> a WriteDelta POSITION-delete
    // commit, the MoR shape the append stream cannot consume
    spark.sql(s"DELETE FROM $g.o WHERE o_orderpriority = '1-URGENT' " +
      "AND o_orderkey % 2 = 0")
    spark.sql(s"INSERT INTO $g.o SELECT o_orderkey, o_orderpriority, " +
      "o_totalprice FROM q175_src " +
      "WHERE o_orderkey > 20000 AND o_orderkey <= 30000")
    require(new graft.sources.GraftCatalog(root)
      .loadEntries("o").exists(_.kind == "posdel"),
      "the delete must land merge-on-read (the CDC-stream premise)")
    val sink = java.nio.file.Files.createTempDirectory("graft-q175-sink")
      .toString + "/rows"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q175-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.table(s"$g.o.changes").writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.write.mode("append").parquet(sink)
            ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // the streamed window must account exactly: initial image as I, the
    // MoR delete as D, the second append as I
    def changeCounts(): Map[String, Long] = spark.read.parquet(sink)
      .groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = changeCounts()
    // all four window cardinalities in ONE pass over the source (four
    // separate COUNT queries scanned the fixture four times)
    val accRow = spark.sql(
      """SELECT
        |  count(IF(o_orderkey <= 20000, 1, NULL)) AS n_init,
        |  count(IF(o_orderkey <= 20000 AND o_orderpriority = '1-URGENT'
        |           AND o_orderkey % 2 = 0, 1, NULL)) AS n_del,
        |  count(IF(o_orderkey > 20000 AND o_orderkey <= 30000, 1, NULL)) AS n_ins,
        |  count(IF(o_orderkey IN (3, 7, 11), 1, NULL)) AS n_eqdel
        |FROM q175_src""".stripMargin).head()
    val Seq(nInit, nDel, nIns, nEqDel) = (0 to 3).map(accRow.getLong(_))
    require(counts.getOrElse("I", 0L) == nInit + nIns &&
        counts.getOrElse("D", 0L) == nDel,
      s"streamed changelog accounting: $counts vs I=${nInit + nIns} D=$nDel")
    // --- equality-delete window: the r12 key-equality fast path commits a
    // metadata-sized eq-delete; the restarted checkpointed stream must
    // serve its D rows, and the changelog diff must be BOUNDED by the keys
    val catR = new graft.sources.GraftCatalog(root)
    val sPre = catR.currentSnapshotId("o")
    spark.sql(s"DELETE FROM $g.o WHERE o_orderkey IN (3, 7, 11)")
    val sPost = catR.currentSnapshotId("o")
    val postEntries = catR.loadEntriesAt("o", sPost)
    require(sPost > sPre && postEntries.exists(_.kind == "eqdel"),
      "the IN-list delete must land as an equality delete (fast path)")
    val fromData = catR.loadEntriesAt("o", sPre).filter(_.kind == "data")
    val cand = catR.changelogEqDiffCandidates(spark, "o", fromData,
      postEntries.filter(_.kind == "eqdel"), catR.schemaAt("o", sPost))
    require(cand.exists(c => c.nonEmpty && c.size < fromData.size),
      s"the eq-delete diff must be bounded to a proper subset of from's " +
        s"${fromData.size} data files, got $cand")
    drain()
    val counts2 = changeCounts()
    require(counts2.getOrElse("I", 0L) == nInit + nIns &&
        counts2.getOrElse("D", 0L) == nDel + nEqDel,
      s"eq-delete window accounting: $counts2 vs " +
        s"I=${nInit + nIns} D=${nDel + nEqDel}")
    spark.read.parquet(sink).groupBy(col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_tp"))
  }

  /** q176 — equi-height HISTOGRAM statistics (r19 stretch): recorded as
    * `graft-histogram-v1` Puffin blobs by `compute_table_stats(...,
    * histograms => true)` (a documented extension — Iceberg's statistics
    * spec stops at sketches) and served through V2
    * `ColumnStatistics.histogram`, they fix CBO's skewed RANGE
    * selectivity: uniform interpolation inside [min, max] estimates a
    * tail filter on 99%-skewed keys at ~95% (true: 1%) and keeps the
    * filtered dim too big to broadcast — the histogram concentrates the
    * mass where it is and flips the join. Both plans asserted in-gate
    * (NDV+bounds alone: no BHJ; with histograms: BHJ), rows
    * plan-invariant for the oracle.
    */
  private def q176(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-q176").toString
    val g = s"g176_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    spark.sql(s"CREATE TABLE $g.dim (k BIGINT, seg BIGINT)")
    // 99% of keys in [0, 100), the 1% tail spread over (1000, 2990] —
    // the modulus keeps the tail inside the fixture's key domain at
    // every SF so the gate's rows are non-trivial. ONE slice -> one data
    // file: a multi-file layout at high parallelism lets the pushed
    // range filter statically prune the dim below the broadcast
    // threshold WITHOUT histograms, destroying the gate's contrast
    spark.sql(s"INSERT INTO $g.dim SELECT " +
      "IF(id < 19800, id % 100, 1000 + (id - 19800) * 10), id " +
      "FROM range(0, 20000, 1, 1)")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("q176_l")
    val q =
      s"""SELECT d.k AS k, count(*) AS cnt,
         |CAST(sum(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty
         |FROM q176_l l JOIN $g.dim d ON l.l_orderkey % 3000 = d.k
         |WHERE d.k > 1000
         |GROUP BY d.k""".stripMargin
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString)
    val saved = confs.map { case (k, _) => k -> setting(spark, k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def bhj(): Int = spark.sql(q).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.size
      spark.sql(s"CALL $g.system.compute_table_stats('dim')").collect()
      require(bhj() == 0,
        "NDV + bounds alone interpolate the skewed range at ~95% — " +
          "the filtered dim must not broadcast")
      spark.sql(s"CALL $g.system.compute_table_stats('dim', " +
        "histograms => true)").collect()
      require(new graft.sources.GraftCatalog(root)
        .columnHistograms("dim").contains("k"),
        "the histogram blob must record and serve")
      require(bhj() == 1,
        "the served histogram must shrink the skewed range estimate " +
          "and flip the join to broadcast")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(q)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_stats_histogram" -> (q176 _),
    "q175_stream_cdc" -> (q175 _),
    "q174_sorted_scan" -> (q174 _),
    "q173_delete_rowcount" -> (q173 _),
    "q171_stats_lifecycle" -> (q171 _),
    "q172_stats_planning" -> (q172 _),
    "q170_table_stats" -> (q170 _),
    "q169_import_wide_types" -> (q169 _),
    "q166_iceberg_import" -> (q166 _),
    "q167_import_compact" -> (q167 _),
    "q165_v3_manifest_export" -> (q165 _),
    "q164_static_in_prune" -> (q164 _),
    "q160_eq_delete_mask" -> (q160 _),
    "q161_wap_branch" -> (q161 _),
    "q162_branch_dml" -> (q162 _),
    "q163_filtered_mask" -> (q163 _),
    "q157_write_order_stats" -> (q157 _),
    "q158_snapshot_tags" -> (q158 _),
    "q159_deletion_vectors" -> (q159 _),
    "q154_spj_deletes" -> (q154 _),
    "q155_partition_evolution" -> (q155 _),
    "q156_metadata_agg_refusal" -> (q156 _),
    "q153_meta_tables" -> (q153 _),
    "q152_group_agg" -> (q152 _),
    "q151_spj" -> (q151 _),
    "q149_metadata_agg" -> (q149 _),
    "q150_dynamic_overwrite" -> (q150 _),
    "q148_cow_group_filter" -> (q148 _),
    "q147_dsv2_partitioned" -> (q147 _),
    "q128_time_travel" -> (q128 _),
    "q138_sql_maintenance" -> (q138 _),
    "q143_rewrite_eq_deletes" -> (q143 _),
    "q144_dsv2_catalog" -> (q144 _),
    "q145_dsv2_mor_dml" -> (q145 _),
    "q146_call_procedures" -> (q146 _),
    "q130_eq_point_delete" -> (q130 _),
    "q136_sql_dml" -> (q136 _),
    "q137_sql_tvf" -> (q137 _),
    "q1_mor_pos_delete" -> (q1 _),
    "q2_mor_eq_delete" -> (q2 _),
    "q3_mor_full" -> (q3 _),
    "q4_mor_projection" -> (q4 _),
    "q114_delete_where" -> (q114 _),
    "q115_update_where" -> (q115 _),
    "q116_stats_prune" -> (q116 _),
    "q117_merge_into" -> (q117 _),
    "q119_partition_prune" -> (q119 _),
    "q120_changelog" -> (q120 _),
    "q121_range_delete" -> (q121 _),
    "q122_wap_publish" -> (q122 _),
    "q123_spark_format" -> (q123 _),
    "q124_source_lookup" -> (q124 _),
    "q125_meta_partitions" -> (q125 _),
    "q127_meta_minmax" -> (q127 _),
    "q131_bloom_lookup" -> (q131 _),
    "q135_sorted_range" -> (q135 _))

  private val posDeleteExists =
    """EXISTS (SELECT 1 FROM pos_del p
      | WHERE p.sys_hidden_file_path = d.sys_hidden_file_path
      |   AND p.sys_hidden_pos = d.sys_hidden_pos)""".stripMargin

  private val eqDelete1Exists =
    """EXISTS (SELECT 1 FROM eq_del_1 e
      | WHERE e.l_orderkey = d.l_orderkey AND e.l_linenumber = d.l_linenumber
      |   AND d.sys_hidden_seq_num < e.sys_hidden_seq_num)""".stripMargin

  private val eqDelete2Exists =
    """EXISTS (SELECT 1 FROM eq_del_2 e
      | WHERE e.l_partkey = d.l_partkey AND e.l_suppkey = d.l_suppkey
      |   AND d.sys_hidden_seq_num < e.sys_hidden_seq_num)""".stripMargin

  private val fullMergeFrom =
    s"""FROM data d
       |WHERE NOT $posDeleteExists
       |  AND NOT $eqDelete1Exists
       |  AND NOT $eqDelete2Exists""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q176_stats_histogram" ->
      """SELECT d.k AS k, count(*) AS cnt,
        |CAST(sum(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty
        |FROM lineitem l JOIN (
        |  SELECT CASE WHEN range < 19800 THEN CAST(range % 100 AS BIGINT)
        |              ELSE CAST(1000 + (range - 19800) * 10 AS BIGINT)
        |         END AS k
        |  FROM range(0, 20000)) d
        |ON l.l_orderkey % 3000 = d.k
        |WHERE d.k > 1000
        |GROUP BY d.k""".stripMargin,
    "q175_stream_cdc" ->
      """SELECT _change_type, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_tp
        |FROM (
        |  SELECT 'I' AS _change_type, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey <= 20000
        |  UNION ALL
        |  SELECT 'D', o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey <= 20000
        |    AND o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'I', o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey > 20000 AND o_orderkey <= 30000
        |  UNION ALL
        |  SELECT 'D', o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey IN (3, 7, 11)
        |)
        |GROUP BY 1, 2""".stripMargin,
    "q174_sorted_scan" ->
      """SELECT l.l_orderkey AS okey, l.l_linenumber AS lnum,
        |       l.l_suppkey AS skey, s.s_name AS sname, l.l_quantity AS qty
        |FROM (SELECT * FROM lineitem WHERE l_orderkey <= 6000) l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey""".stripMargin,
    "q173_delete_rowcount" ->
      """SELECT d.k AS k, count(*) AS cnt,
        |CAST(sum(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty
        |FROM lineitem l JOIN (
        |  SELECT CAST(range AS BIGINT) AS k, CAST(range % 2000 AS BIGINT) AS seg
        |  FROM range(0, 20000)) d
        |ON l.l_orderkey % 20000 = d.k
        |WHERE d.seg IN (7, 1500) AND d.seg < 1000
        |GROUP BY d.k""".stripMargin,
    "q171_stats_lifecycle" ->
      """SELECT 'o_orderpriority' AS col,
        |       count(DISTINCT o_orderpriority) AS v
        |FROM orders WHERE o_orderkey <= 30000 AND o_orderstatus <> 'O'
        |UNION ALL
        |SELECT 'o_orderstatus', count(DISTINCT o_orderstatus)
        |FROM orders WHERE o_orderkey <= 30000 AND o_orderstatus <> 'O'
        |UNION ALL
        |SELECT 'rows', count(*)
        |FROM orders WHERE o_orderkey <= 30000 AND o_orderstatus <> 'O'"""
        .stripMargin,
    "q172_stats_planning" ->
      """SELECT d.k AS k, count(*) AS cnt,
        |CAST(sum(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS qty
        |FROM lineitem l JOIN (
        |  SELECT CAST(range AS BIGINT) AS k, CAST(range % 2000 AS BIGINT) AS seg
        |  FROM range(0, 20000)) d
        |ON l.l_orderkey % 20000 = d.k
        |WHERE d.seg = 7
        |GROUP BY d.k""".stripMargin,
    "q170_table_stats" ->
      """SELECT 'c_custkey' AS col, count(DISTINCT c_custkey) AS exact_ndv
        |FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', count(DISTINCT c_mktsegment) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', count(DISTINCT c_nationkey) FROM customer"""
        .stripMargin,
    "q169_import_wide_types" ->
      """SELECT o_orderkey,
        |       concat_ws('-', substr(h, 1, 8), substr(h, 9, 4),
        |                 substr(h, 13, 4), substr(h, 17, 4),
        |                 substr(h, 21, 12)) AS uid,
        |       upper(h) AS fp_hex,
        |       (o_orderkey * 977) % 86400000000 AS t_us,
        |       o_orderkey * 1000000 + 123 AS ts_ns
        |FROM (SELECT *, md5('graft:' || CAST(o_orderkey AS VARCHAR)) AS h
        |      FROM orders WHERE o_orderkey <= 30000) t
        |WHERE o_orderkey NOT IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey <= 30000
        |  ORDER BY o_orderkey LIMIT 2)""".stripMargin,
    "q166_iceberg_import" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 60000
        |  AND o_orderkey % 101 <> 17
        |  AND o_orderkey NOT IN (3, 777)""".stripMargin,
    "q167_import_compact" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 60000
        |  AND o_orderkey % 101 <> 17
        |  AND o_orderkey NOT IN (3, 777)""".stripMargin,
    "q165_v3_manifest_export" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 60000
        |  AND o_orderkey % 101 <> 17
        |  AND o_orderkey NOT IN (3, 777)""".stripMargin,
    "q164_static_in_prune" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (5, 40, 77)""".stripMargin,
    "q160_eq_delete_mask" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey <= 5000
        |  AND c_custkey NOT IN (5, 500, 4999, 1234)
        |UNION ALL
        |SELECT CAST(500 AS BIGINT) AS c_custkey, 'reborn' AS c_name,
        |       CAST(1.5 AS DOUBLE) AS c_acctbal""".stripMargin,
    "q161_wap_branch" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q162_branch_dml" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey <= 30000
        |  AND o_orderkey % 13 <> 5 AND o_custkey % 41 <> 3""".stripMargin,
    "q163_filtered_mask" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 30000 AND o_orderkey % 97 <> 13""".stripMargin,
    "q157_write_order_stats" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, m.hit_price
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |      WHERE o_orderkey <= 60000) o
        |CROSS JOIN (SELECT o_totalprice AS hit_price FROM orders
        |            WHERE o_orderkey = 7) m""".stripMargin,
    "q158_snapshot_tags" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey <> 2""".stripMargin,
    "q159_deletion_vectors" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 60000
        |  AND o_orderkey % 97 <> 13 AND o_orderkey % 89 <> 7
        |  AND o_custkey % 53 <> 11""".stripMargin,
    "q154_spj_deletes" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name,
        |       l.l_quantity
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE l.l_orderkey <= 6000 AND l.l_orderkey % 7 <> 3""".stripMargin,
    "q155_partition_evolution" ->
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier",
    "q156_metadata_agg_refusal" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       min(s_suppkey) AS mn, max(s_suppkey) AS mx
        |FROM supplier WHERE s_suppkey NOT IN (1, 17)""".stripMargin,
    "q153_meta_tables" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n
        |FROM supplier GROUP BY s_nationkey""".stripMargin,
    "q152_group_agg" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n
        |FROM supplier GROUP BY s_nationkey""".stripMargin,
    "q151_spj" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name,
        |       l.l_quantity
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE l.l_orderkey <= 6000""".stripMargin,
    "q149_metadata_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       min(s_suppkey) AS mn, max(s_suppkey) AS mx
        |FROM supplier""".stripMargin,
    "q150_dynamic_overwrite" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        |       CASE WHEN s_nationkey = 3 THEN s_acctbal + 1000
        |            ELSE s_acctbal END AS s_acctbal
        |FROM supplier""".stripMargin,
    "q148_cow_group_filter" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |  AND NOT (l_orderkey BETWEEN 100 AND 180 AND l_partkey % 2 = 0)
        |GROUP BY 1, 2""".stripMargin,
    "q147_dsv2_partitioned" ->
      """SELECT s.s_suppkey, s.s_name, s.s_nationkey, m.n_total
        |FROM (SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |      WHERE s_suppkey = 17) s
        |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_total
        |            FROM supplier) m""".stripMargin,
    // q146 = q138's lifecycle through CALL procedures: identical oracle
    "q146_call_procedures" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_quantity >= 30)) AS n,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_quantity >= 30)) AS sum_qty,
        |  CAST(0 AS BIGINT) AS n_delete_files,
        |  CAST(2 AS BIGINT) AS n_expired""".stripMargin,
    "q144_dsv2_catalog" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey <> 2""".stripMargin,
    "q143_rewrite_eq_deletes" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(0 AS BIGINT) AS n_eq_files,
        |       CAST(1 AS BIGINT) AS n_pos_files
        |FROM lineitem
        |WHERE l_orderkey <= 60000 AND l_orderkey % 321 <> 0
        |GROUP BY 1""".stripMargin,
    "q138_sql_maintenance" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_quantity >= 30)) AS n,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_quantity >= 30)) AS sum_qty,
        |  CAST(0 AS BIGINT) AS n_delete_files,
        |  CAST(2 AS BIGINT) AS n_expired""".stripMargin,
    "q130_eq_point_delete" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |  AND NOT (l_orderkey % 1000 = 0 AND l_orderkey BETWEEN 1000 AND 60000)
        |GROUP BY 1, 2""".stripMargin,
    "q137_sql_tvf" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_linestatus = 'F')) AS n_now,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_linestatus = 'F')) AS sum_now,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 60000) AS n_was,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
        |   WHERE l_orderkey <= 60000) AS sum_was""".stripMargin,
    "q136_sql_dml" ->
      """WITH s2 AS (
        |  SELECT l_returnflag, l_linestatus, l_orderkey,
        |         CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
        |              ELSE l_quantity END AS qty
        |  FROM lineitem
        |  WHERE l_orderkey <= 60000
        |    AND NOT (l_returnflag = 'A' AND l_quantity < 25)
        |)
        |SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey <= 2000 THEN qty + 7
        |                          ELSE qty END AS DECIMAL(18,4))) AS DOUBLE)
        |         AS sum_qty
        |FROM s2
        |WHERE NOT (l_orderkey <= 2000 AND qty > 120)
        |GROUP BY 1, 2""".stripMargin,
    // q145 = q136's statements under merge-on-read layout: the SAME
    // logical view (layout must be reader-invisible)
    "q145_dsv2_mor_dml" ->
      """WITH s2 AS (
        |  SELECT l_returnflag, l_linestatus, l_orderkey,
        |         CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
        |              ELSE l_quantity END AS qty
        |  FROM lineitem
        |  WHERE l_orderkey <= 60000
        |    AND NOT (l_returnflag = 'A' AND l_quantity < 25)
        |)
        |SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey <= 2000 THEN qty + 7
        |                          ELSE qty END AS DECIMAL(18,4))) AS DOUBLE)
        |         AS sum_qty
        |FROM s2
        |WHERE NOT (l_orderkey <= 2000 AND qty > 120)
        |GROUP BY 1, 2""".stripMargin,
    "q128_time_travel" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_quantity >= 30)) AS n_now,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
        |   WHERE l_orderkey <= 60000 AND NOT (l_quantity >= 30)) AS sum_now,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey <= 60000) AS n_was,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
        |   WHERE l_orderkey <= 60000) AS sum_was""".stripMargin,
    "q1_mor_pos_delete" ->
      s"""${MorFixtures.oracleCtes}
         |SELECT l_orderkey, l_linenumber, l_quantity FROM data d
         |WHERE NOT $posDeleteExists""".stripMargin,
    "q2_mor_eq_delete" ->
      s"""${MorFixtures.oracleCtes}
         |SELECT l_orderkey, l_linenumber, l_quantity FROM data d
         |WHERE NOT $eqDelete1Exists""".stripMargin,
    "q3_mor_full" ->
      s"""${MorFixtures.oracleCtes}
         |SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         |       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
         |       l_shipdate
         |$fullMergeFrom""".stripMargin,
    "q4_mor_projection" ->
      s"""${MorFixtures.oracleCtes}
         |SELECT l_returnflag, count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |$fullMergeFrom
         |GROUP BY l_returnflag""".stripMargin,
    "q114_delete_where" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |  AND NOT (l_returnflag = 'A' AND l_quantity < 25)
        |GROUP BY 1, 2""".stripMargin,
    "q115_update_where" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CASE WHEN l_returnflag = 'R'
        |                          THEN l_quantity + 100
        |                          ELSE l_quantity END AS DECIMAL(18,4))) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |GROUP BY 1, 2""".stripMargin,
    "q116_stats_prune" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1""".stripMargin,
    "q117_merge_into" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey % 97 = 0
        |                          THEN l_quantity + 50
        |                          ELSE l_quantity END AS DECIMAL(18,4))) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |GROUP BY 1, 2""".stripMargin,
    "q119_partition_prune" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 300 AND 900
        |GROUP BY 1""".stripMargin,
    "q120_changelog" ->
      """SELECT _change_type, l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM (
        |  SELECT 'D' AS _change_type, l_returnflag, l_quantity
        |  FROM lineitem WHERE l_orderkey <= 60000 AND l_quantity < 5
        |  UNION ALL
        |  SELECT 'I' AS _change_type, l_returnflag, l_quantity
        |  FROM lineitem WHERE l_orderkey <= 60000 AND l_orderkey % 103 = 0
        |)
        |GROUP BY 1, 2""".stripMargin,
    "q121_range_delete" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |  AND l_orderkey NOT BETWEEN 2500 AND 7499
        |GROUP BY 1""".stripMargin,
    "q122_wap_publish" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= 60000
        |  AND NOT (l_returnflag = 'N' AND l_quantity > 40)
        |GROUP BY 1, 2""".stripMargin,
    "q123_spark_format" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 400 AND 1100
        |GROUP BY 1""".stripMargin,
    "q124_source_lookup" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE source = 'src7'
        |GROUP BY 1""".stripMargin,
    "q125_meta_partitions" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n
        |FROM documents
        |GROUP BY 1""".stripMargin,
    "q131_bloom_lookup" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS fp
        |FROM documents
        |WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 42)""".stripMargin,
    "q135_sorted_range" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 199
        |GROUP BY 1""".stripMargin,
    "q127_meta_minmax" ->
      """WITH k AS (SELECT min(o_orderkey) AS k0 FROM orders),
        |after AS (SELECT CASE WHEN o_orderkey = (SELECT k0 FROM k)
        |                      THEN -7 ELSE o_custkey END AS c FROM orders)
        |SELECT CAST((SELECT min(o_custkey) FROM orders) AS BIGINT) AS mn_meta,
        |       CAST((SELECT max(o_custkey) FROM orders) AS BIGINT) AS mx_meta,
        |       CAST((SELECT min(c) FROM after) AS BIGINT) AS mn_after,
        |       CAST((SELECT max(c) FROM after) AS BIGINT) AS mx_after""".stripMargin)
}
