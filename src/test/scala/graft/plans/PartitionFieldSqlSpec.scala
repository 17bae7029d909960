package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.GraftCatalog



/** `ALTER TABLE … ADD/DROP/REPLACE PARTITION FIELD` — Iceberg's
  * partition-spec-evolution DDL, injected by [[GraftSqlParser]]. The gate
  * shape: create through the doorway, write, evolve the spec in SQL,
  * write again, and prove point-lookup pruning across BOTH specs.
  */
class PartitionFieldSqlSpec extends SparkSpec {

  import GraftPartitionFieldSql.{parseTransform, RawTransform}

  test("transform parsing: spellings, args, and rejects") {
    assert(parseTransform("bucket(8, k)") ==
      Some(RawTransform("bucket", Some(8), "k")))
    assert(parseTransform(" truncate( 100 , `v` ) ") ==
      Some(RawTransform("truncate", Some(100), "v")))
    assert(parseTransform("days(ts)") == Some(RawTransform("days", None, "ts")))
    assert(parseTransform("k") == Some(RawTransform("identity", None, "k")))
    assert(parseTransform("`weird`") == Some(RawTransform("identity", None, "weird")))
    assert(parseTransform("bucket(8, a.b)").isEmpty, "no nested refs")
    assert(parseTransform("bucket(, k)").isEmpty)
  }

  test("only the exact DDL shape intercepts; everything else delegates") {
    assert(GraftPartitionFieldSql.parse("SELECT 1").isEmpty)
    assert(GraftPartitionFieldSql.parse(
      "ALTER TABLE t ADD COLUMN c INT").isEmpty)
    assert(GraftPartitionFieldSql.parse(
      "ALTER TABLE t ADD PARTITION (p=1)").isEmpty,
      "Spark's own Hive-partition DDL must pass through")
    val p = GraftPartitionFieldSql.parse(
      "ALTER TABLE g.db.t ADD PARTITION FIELD bucket(8, k)")
    assert(p.exists {
      case GraftAlterPartitionFieldCommand(parts, "add", f, None) =>
        parts == Seq("g", "db", "t") && f == RawTransform("bucket", Some(8), "k")
      case _ => false
    }, p)
    val r = GraftPartitionFieldSql.parse(
      "alter table g.t replace partition field bucket(4, k) with bucket(8, k)")
    assert(r.exists {
      case GraftAlterPartitionFieldCommand(parts, "replace", f, Some(w)) =>
        parts == Seq("g", "t") && f.arg.contains(4) && w.arg.contains(8)
      case _ => false
    }, r)
    // the plain parser still parses ordinary SQL through the injected
    // wrapper (the session uses it for every statement in this suite)
    assert(spark.sql("SELECT 41 + 1").head().getInt(0) == 42)
  }

  private def mount(root: String): String = {
    val g = s"gp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    g
  }

  test("evolve bucket(4)->bucket(8) in SQL; point lookup prunes across BOTH specs") {
    val root = Files.createTempDirectory("graft-pfsql").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('old', id) FROM range(0, 400)")

    spark.sql(s"ALTER TABLE $g.t REPLACE PARTITION FIELD bucket(4, k) WITH bucket(8, k)")
    val cat = new GraftCatalog(root)
    assert(cat.partitionSpec("t") ==
      Seq(GraftCatalog.PartitionFieldDef("k_bucket", "bucket[8]", "k")))

    spark.sql(s"INSERT INTO $g.t SELECT id, concat('new', id) FROM range(1000, 1400)")
    val data = cat.loadEntries("t").filter(_.kind == "data")
    val oldFiles = data.filter(_.partitionTransforms.get("k_bucket").contains("bucket[4]|k"))
    val newFiles = data.filter(_.partitionTransforms.get("k_bucket").contains("bucket[8]|k"))
    assert(oldFiles.nonEmpty && newFiles.nonEmpty,
      "both spec generations must coexist in the snapshot")
    assert(newFiles.map(_.partitionVals("k_bucket")).distinct.size == 8)

    // rows: nothing lost, both generations readable
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 800L)

    // the point lookup prunes THROUGH the evolution: old files via their
    // recorded bucket[4] binding, new files via bucket[8]
    val key = 123L
    val b4 = graft.functions.IcebergMurmur3.bucketLong(key, 4)
    val b8 = graft.functions.IcebergMurmur3.bucketLong(key, 8)
    // tuple pruning binds each file against ITS recorded spec generation;
    // writer-side stats (doorway INSERTs stamp per-file k bounds) then
    // drop bucket-matching files whose [min,max] excludes the key
    def covers(e: cat.TableEntry): Boolean = e.stats.forall(s =>
      (s.colMins.get("k").flatMap(_.toDoubleOption),
        s.colMaxs.get("k").flatMap(_.toDoubleOption)) match {
        case (Some(mn), Some(mx)) => mn <= key && key <= mx
        case _ => true
      })
    val expected =
      oldFiles.count(e => e.partitionVals("k_bucket").toInt == b4 && covers(e)) +
        newFiles.count(e => e.partitionVals("k_bucket").toInt == b8 && covers(e))
    assert(expected < data.size, "fixture must actually prune")
    val pruned = cat.scanTableWhere(spark, "t", "k", key.toDouble, key.toDouble)
    assert(pruned.inputFiles.length == expected,
      s"lookup must open $expected files (old-spec bucket $b4 + new-spec " +
        s"bucket $b8, stats-covered), got ${pruned.inputFiles.length} of ${data.size}")
    assert(spark.sql(s"SELECT v FROM $g.t WHERE k = $key").head().getString(0)
      == "old123")
  }

  test("ADD on an unpartitioned table; DROP by name back to unpartitioned") {
    val root = Files.createTempDirectory("graft-pfsql2").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, grp STRING)")
    val cat = new GraftCatalog(root)
    assert(cat.partitionSpec("t").isEmpty)

    spark.sql(s"ALTER TABLE $g.t ADD PARTITION FIELD grp")
    assert(cat.partitionSpec("t") ==
      Seq(GraftCatalog.PartitionFieldDef("grp", "identity", "grp")))
    spark.sql(s"INSERT INTO $g.t VALUES (1, 'a'), (2, 'b')")
    assert(cat.loadEntries("t").filter(_.kind == "data")
      .forall(_.partitionVals.contains("grp")))

    spark.sql(s"ALTER TABLE $g.t ADD PARTITION FIELD bucket(4, k)")
    assert(cat.partitionSpec("t").map(_.name) == Seq("grp", "k_bucket"))
    // duplicate add fails loudly
    val dup = intercept[Exception](
      spark.sql(s"ALTER TABLE $g.t ADD PARTITION FIELD bucket(16, k)"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    // unknown source column fails loudly
    val bad = intercept[Exception](
      spark.sql(s"ALTER TABLE $g.t ADD PARTITION FIELD days(nope)"))
    assert(bad.getMessage.contains("nope"), bad.getMessage)

    // DROP by field NAME and by transform spelling
    spark.sql(s"ALTER TABLE $g.t DROP PARTITION FIELD k_bucket")
    assert(cat.partitionSpec("t").map(_.name) == Seq("grp"))
    spark.sql(s"ALTER TABLE $g.t DROP PARTITION FIELD grp")
    assert(cat.partitionSpec("t").isEmpty,
      "dropping the last field evolves the table back to unpartitioned")
    // writes keep working unpartitioned; earlier tuples still recorded
    spark.sql(s"INSERT INTO $g.t VALUES (3, 'c')")
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 3L)
  }

  test("ref/write-order DDL parse shapes; everything else delegates") {
    def ref(sql: String) = GraftPartitionFieldSql.parse(sql)
    assert(ref("ALTER TABLE g.t CREATE TAG v1").exists {
      case GraftAlterRefCommand(p, "create_tag", "v1", None) => p == Seq("g", "t")
      case _ => false
    })
    assert(ref("alter table g.db.t create tag 'prod-2026-01-01' as of version 3").exists {
      case GraftAlterRefCommand(p, "create_tag", "prod-2026-01-01", Some(3L)) =>
        p == Seq("g", "db", "t")
      case _ => false
    })
    assert(ref("ALTER TABLE g.t DROP TAG `v1`").exists {
      case GraftAlterRefCommand(_, "drop_tag", "v1", None) => true
      case _ => false
    })
    assert(ref("ALTER TABLE g.t CREATE BRANCH audit").exists {
      case GraftAlterRefCommand(_, "create_branch", "audit", None) => true
      case _ => false
    })
    assert(ref("ALTER TABLE g.t WRITE ORDERED BY k, `v`").exists {
      case GraftAlterWriteOrderCommand(_, cols) => cols == Seq("k", "v")
      case _ => false
    })
    assert(ref("ALTER TABLE g.t WRITE UNORDERED").exists {
      case GraftAlterWriteOrderCommand(_, Nil) => true
      case _ => false
    })
    // near-misses stay with the delegate parser
    assert(ref("ALTER TABLE g.t DROP COLUMN v").isEmpty)
    assert(ref("ALTER TABLE g.t SET TBLPROPERTIES ('a'='b')").isEmpty)
  }

  test("CREATE TAG pins a snapshot readable via VERSION AS OF; DROP removes it") {
    val root = Files.createTempDirectory("graft-pfsql-tag").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('a', id) FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $g.t CREATE TAG v1")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('b', id) FROM range(100, 250)")
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 250L)
    assert(spark.sql(s"SELECT count(*) FROM $g.t VERSION AS OF 'v1'")
      .head().getLong(0) == 100L)
    // AS OF VERSION pins an explicit retained snapshot
    val cat = new GraftCatalog(root)
    val head = cat.currentSnapshotId("t")
    spark.sql(s"ALTER TABLE $g.t CREATE TAG v2 AS OF VERSION $head")
    assert(cat.tags("t") == Map("v1" -> (head - 1), "v2" -> head))
    // tags are immutable; re-creating fails loudly
    val dup = intercept[Exception](spark.sql(s"ALTER TABLE $g.t CREATE TAG v1"))
    assert(dup.getMessage.contains("immutable"), dup.getMessage)
    spark.sql(s"ALTER TABLE $g.t DROP TAG v1")
    assert(cat.tags("t") == Map("v2" -> head))
    val gone = intercept[Exception](
      spark.sql(s"SELECT count(*) FROM $g.t VERSION AS OF 'v1'").collect())
    assert(gone.getMessage.contains("v1"), gone.getMessage)
  }

  test("CREATE BRANCH forks a WAP staging table; main stays undisturbed") {
    val root = Files.createTempDirectory("graft-pfsql-branch").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('a', id) FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $g.t CREATE BRANCH audit")
    // the fork reads as its own doorway table and takes normal writes
    assert(spark.sql(s"SELECT count(*) FROM $g.`t@audit`").head().getLong(0) == 100L)
    spark.sql(s"INSERT INTO $g.`t@audit` SELECT id, concat('x', id) FROM range(500, 600)")
    assert(spark.sql(s"SELECT count(*) FROM $g.`t@audit`").head().getLong(0) == 200L)
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 100L,
      "branch writes must never disturb main")
    // VERSION AS OF '<branch>' reads the branch head by name (Iceberg's
    // branch-read spelling) — same rows as the fork-table identifier
    assert(spark.sql(s"SELECT count(*) FROM $g.t VERSION AS OF 'audit'")
      .head().getLong(0) == 200L)
    // the write-audit-publish close: main atomically adopts the branch
    spark.sql(s"CALL $g.system.publish_branch('t', 'audit')").collect()
    assert(spark.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 200L,
      "publish must adopt the branch state as main's next snapshot")
    spark.sql(s"CALL $g.system.drop_branch('t', 'audit')").collect()
    assert(!new GraftCatalog(root).tables().contains("t@audit"),
      "drop_branch must remove the fork")
    // a publish against a MOVED main conflicts instead of losing commits
    spark.sql(s"ALTER TABLE $g.t CREATE BRANCH b2")
    spark.sql(s"INSERT INTO $g.t VALUES (9999, 'late')") // main moves
    val e = intercept[Exception](
      spark.sql(s"CALL $g.system.publish_branch('t', 'b2')").collect())
    assert(e.getMessage.contains("publish conflict") ||
      Option(e.getCause).exists(_.getMessage.contains("publish conflict")),
      e.getMessage)
  }

  test("WRITE ORDERED BY declares the write order; UNORDERED clears it") {
    val root = Files.createTempDirectory("graft-pfsql-order").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    val cat = new GraftCatalog(root)
    assert(cat.sortOrder("t").isEmpty)
    spark.sql(s"ALTER TABLE $g.t WRITE ORDERED BY k, v")
    assert(cat.sortOrder("t") == Seq("k", "v"))
    // subsequent INSERTs range-cluster on the declared order: disjoint
    // per-file k-ranges make the point lookup stats-prunable (AQE's
    // size-based coalesce would fold the toy-sized shuffle into ONE file
    // and hide the clustering — disable it for the fixture write only)
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      spark.sql(
        s"""INSERT INTO $g.t
           |SELECT /*+ REPARTITION(4) */ id, concat('v', id)
           |FROM range(0, 4000)""".stripMargin)
    }
    val files = cat.loadEntries("t").filter(_.kind == "data")
    assert(files.size > 1, "fixture must write multiple files")
    val pruned = cat.scanTableWhere(spark, "t", "k", 7.0, 7.0)
    assert(pruned.inputFiles.length < files.size,
      s"range-clustered write must stats-prune the lookup, " +
        s"opened ${pruned.inputFiles.length} of ${files.size}")
    val bad = intercept[Exception](
      spark.sql(s"ALTER TABLE $g.t WRITE ORDERED BY nope"))
    assert(bad.getMessage.contains("nope"), bad.getMessage)
    spark.sql(s"ALTER TABLE $g.t WRITE UNORDERED")
    assert(cat.sortOrder("t").isEmpty)
  }

  test("ANALYZE TABLE SQL runs computeTableStats; stock tables delegate") {
    val root = java.nio.file.Files.createTempDirectory("graft-analyzesql").toString
    val g = mount(root)
    spark.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(0, 400)")
    spark.sql(s"ANALYZE TABLE $g.t COMPUTE STATISTICS")
    val cat = new graft.sources.GraftCatalog(root)
    assert(cat.columnNdv("t").get("k").exists(n => math.abs(n - 400) <= 40))
    assert(!cat.statsStale("t"))
    // the INCREMENTAL extension word runs the delta union
    spark.sql(s"INSERT INTO $g.t SELECT id, concat('v', id) FROM range(400, 900)")
    spark.sql(s"ANALYZE TABLE $g.t COMPUTE STATISTICS INCREMENTAL")
    assert(cat.columnNdv("t").get("k").exists(n => math.abs(n - 900) <= 90))
    // a SESSION-catalog table keeps stock ANALYZE semantics (the command
    // re-executes the delegate's parse — the one extension grammar whose
    // plain spelling is also valid stock SQL)
    val loc = java.nio.file.Files.createTempDirectory("graft-analyzesql-v1")
    spark.sql("CREATE TABLE spark_catalog.default.ganalyze_plain (k BIGINT) " +
      s"USING parquet LOCATION '$loc'")
    try {
      spark.sql("INSERT INTO spark_catalog.default.ganalyze_plain " +
        "SELECT id FROM range(0, 25)")
      spark.sql("ANALYZE TABLE spark_catalog.default.ganalyze_plain " +
        "COMPUTE STATISTICS")
      val desc = spark.sql("DESCRIBE TABLE EXTENDED " +
        "spark_catalog.default.ganalyze_plain").collect()
        .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
      assert(desc.contains("25 rows") || desc.contains("Statistics"),
        s"stock ANALYZE must still record stats:\n$desc")
      // ...but INCREMENTAL is graft-only and refuses loudly there
      val e = intercept[UnsupportedOperationException](spark.sql(
        "ANALYZE TABLE spark_catalog.default.ganalyze_plain " +
          "COMPUTE STATISTICS INCREMENTAL"))
      assert(e.getMessage.contains("graft"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS spark_catalog.default.ganalyze_plain")
  }
}
