package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `CREATE TABLE ... PARTITIONED BY (transform)` through the DSv2 doorway:
  * the Spark transforms map onto the catalog's hidden partition spec, the
  * doorway INSERT fans rows out into `name=value/` files whose tuples land
  * in the snapshot, and a point-lookup SELECT prunes to one bucket's files
  * — the q124 claim through the front door.
  */
class GraftPartitionedDsv2Spec extends SparkSpec {

  private def withCatalogSession(root: String)(body: (String, SparkSession) => Unit): Unit = {
    val g = s"gp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$g", "graft.sources.dsv2.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$g.root", root)
    body(g, spark)
  }

  test("PARTITIONED BY bucket: fanout write, recorded tuples, pruned point lookup") {
    val root = Files.createTempDirectory("graft-dsv2-part").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(s"CREATE NAMESPACE $g.db")
      s.sql(
        s"""CREATE TABLE $g.db.t (k BIGINT, v STRING)
           |PARTITIONED BY (bucket(4, k))""".stripMargin)
      val cat = new GraftCatalog(root)
      assert(cat.partitionSpec("db/t") ==
        Seq(GraftCatalog.PartitionFieldDef("k_bucket", "bucket[4]", "k")))
      s.sql(s"INSERT INTO $g.db.t SELECT id, concat('v', id) FROM range(1, 401)")
      val data = cat.loadEntries("db/t").filter(_.kind == "data")
      assert(data.nonEmpty)
      data.foreach { e =>
        val pv = e.partitionVals.getOrElse("k_bucket",
          fail(s"no recorded tuple for ${e.path}"))
        assert(pv != null && pv.toInt >= 0 && pv.toInt < 4, s"$pv for ${e.path}")
        assert(e.path.contains(s"k_bucket=$pv"), e.path)
        assert(e.partitionTransforms("k_bucket") == "bucket[4]|k")
      }
      assert(data.map(_.partitionVals("k_bucket")).distinct.size == 4,
        "all 4 buckets must materialize at 400 keys")

      // the doorway SELECT answers correctly...
      assert(s.sql(s"SELECT v FROM $g.db.t WHERE k = 123").collect()
        .map(_.getString(0)).toSeq == Seq("v123"))
      // ...and its inner scan (the exact frame the pushed filter reaches)
      // opens ONLY the lookup bucket's files
      val expected = graft.functions.IcebergMurmur3.bucketLong(123L, 4)
      val inBucket = data.count(_.partitionVals("k_bucket").toInt == expected)
      assert(inBucket < data.size, "fixture must spread across buckets")
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      val inner = GraftInnerFrame(s, root, "db/t", None, schema,
        Array(EqualTo("k", 123L)))
      assert(inner.inputFiles.length == inBucket,
        s"point lookup must open the $inBucket bucket-$expected files, " +
          s"got ${inner.inputFiles.length} of ${data.size}")

      // partitioning() surfaces the spec (DESCRIBE renders from it)
      val desc = s.sql(s"DESCRIBE TABLE $g.db.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(desc.exists { case (_, v) => v != null && v.contains("bucket(4, k)") },
        desc.mkString("; "))
    }
  }

  test("identity + truncate transforms, null tuples, DML on a partitioned table") {
    val root = Files.createTempDirectory("graft-dsv2-part2").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(
        s"""CREATE TABLE $g.t (k BIGINT, cat STRING)
           |PARTITIONED BY (cat, truncate(100, k))""".stripMargin)
      val c = new GraftCatalog(root)
      assert(c.partitionSpec("t") == Seq(
        GraftCatalog.PartitionFieldDef("cat", "identity", "cat"),
        GraftCatalog.PartitionFieldDef("k_trunc", "truncate[100]", "k")))
      s.sql(s"INSERT INTO $g.t VALUES (5, 'a'), (150, 'a'), (250, 'b'), (7, NULL)")
      val data = c.loadEntries("t").filter(_.kind == "data")
      val tuples = data.map(e =>
        (e.partitionVals("cat"), e.partitionVals("k_trunc"))).toSet
      assert(tuples == Set(("a", "0"), ("a", "100"), ("b", "200"), (null, "0")),
        tuples)
      // identity string point-lookup prunes to that partition's files
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("cat", StringType)))
      val inner = GraftInnerFrame(s, root, "t", None, schema,
        Array(EqualTo("cat", "b")))
      assert(inner.inputFiles.length ==
        data.count(_.partitionVals("cat") == "b"))
      // row-level DML keeps working; replacement files re-record tuples
      s.sql(s"DELETE FROM $g.t WHERE k % 2 = 1") // untranslatable -> COW
      assert(s.sql(s"SELECT k FROM $g.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(150L, 250L))
      val after = new GraftCatalog(root).loadEntries("t").filter(_.kind == "data")
      assert(after.forall(_.partitionVals.contains("cat")),
        "COW replacement files must re-record partition tuples")
    }
  }

  test("dynamic partition overwrite replaces exactly the written tuples") {
    val root = Files.createTempDirectory("graft-dsv2-dynover").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(s"CREATE TABLE $g.t (k BIGINT, grp STRING) PARTITIONED BY (grp)")
      s.sql(s"INSERT INTO $g.t VALUES (1, 'a'), (2, 'a'), (3, 'b'), (4, 'c')")
      val cat = new GraftCatalog(root)
      val before = cat.loadEntries("t").filter(_.kind == "data")
      val untouchedBefore = before.filter(e =>
        Set("b", "c")(e.partitionVals("grp"))).map(_.path).toSet

      withConfs("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        s.sql(s"INSERT OVERWRITE $g.t VALUES (10, 'a'), (11, 'a'), (12, 'd')")
      }

      // partition 'a' replaced, 'd' added, 'b'/'c' files physically intact
      assert(s.sql(s"SELECT k FROM $g.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(3L, 4L, 10L, 11L, 12L))
      val after = cat.loadEntries("t").filter(_.kind == "data")
      assert(untouchedBefore.subsetOf(after.map(_.path).toSet),
        "untouched partitions' files must survive physically")
      assert(!after.exists(e => e.partitionVals("grp") == "a" &&
        before.map(_.path).contains(e.path)),
        "the overwritten partition's old files must be retired")

      // STATIC overwrite (the default) still replaces everything
      s.sql(s"INSERT OVERWRITE $g.t VALUES (100, 'z')")
      assert(s.sql(s"SELECT k, grp FROM $g.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((100L, "z")))
    }
  }

  test("partitioned INSERT clusters by source columns: bounded files per tuple") {
    val root = Files.createTempDirectory("graft-dsv2-clus").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(s"CREATE TABLE $g.t (k BIGINT, grp STRING) PARTITIONED BY (grp)")
      // 4 distinct groups across MANY input partitions: without the
      // clustered write distribution every task would write every group
      s.sql(
        s"""INSERT INTO $g.t
           |SELECT /*+ REPARTITION(8) */ id, concat('g', id % 4)
           |FROM range(0, 4000)""".stripMargin)
      val data = new GraftCatalog(root).loadEntries("t").filter(_.kind == "data")
      val perTuple = data.groupBy(_.partitionVals("grp")).view.mapValues(_.size)
      assert(perTuple.keys.toSet == Set("g0", "g1", "g2", "g3"))
      // clustered distribution puts each group in one task -> 1 file per
      // tuple (vs up to 8 without it)
      assert(data.size <= 4 + 1,
        s"clustered partitioned insert must bound files per tuple, " +
          s"got ${data.size}: ${perTuple.toMap}")
      assert(s.sql(s"SELECT count(*) FROM $g.t").head().getLong(0) == 4000L)
    }
  }

  test("merge-on-read UPDATE fans new row versions into partition tuples") {
    val root = Files.createTempDirectory("graft-dsv2-mor-part").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(
        s"""CREATE TABLE $g.t (k BIGINT, grp STRING)
           |PARTITIONED BY (grp)
           |TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""".stripMargin)
      s.sql(s"INSERT INTO $g.t SELECT id, concat('g', id % 3) FROM range(0, 300)")
      val cat = new GraftCatalog(root)
      val originals = cat.loadEntries("t").filter(_.kind == "data").map(_.path).toSet
      s.sql(s"UPDATE $g.t SET k = k + 1000 WHERE k % 10 = 7") // untranslatable -> MoR
      val after = cat.loadEntries("t")
      assert(originals.subsetOf(after.filter(_.kind == "data").map(_.path).toSet),
        "merge-on-read must not rewrite originals")
      assert(after.exists(_.kind == "posdel"))
      val fresh = after.filter(e => e.kind == "data" && !originals(e.path))
      assert(fresh.nonEmpty &&
        fresh.forall(e => Set("g0", "g1", "g2")(e.partitionVals.getOrElse("grp", null))),
        s"delta data files must carry partition tuples: " +
          fresh.map(e => (e.path, e.partitionVals)).mkString("; "))
      assert(s.sql(s"SELECT count(*), sum(k) FROM $g.t").head().toSeq ==
        Seq(300L, (0L until 300L).map(k => if (k % 10 == 7) k + 1000 else k).sum))
    }
  }

  test("dynamic overwrite after spec evolution never retires old-binding files") {
    val root = Files.createTempDirectory("graft-dsv2-dynover-evo").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
      s.sql(s"INSERT INTO $g.t SELECT id, concat('old', id) FROM range(0, 200)")
      val cat = new GraftCatalog(root)
      val oldFiles = cat.loadEntries("t").filter(_.kind == "data").map(_.path).toSet
      assert(oldFiles.nonEmpty)
      // evolve the spec keeping the field NAME: bucket[4] -> bucket[8].
      // Old files' tuple strings (0..3) collide with new-spec tuples, but
      // they hold rows of OTHER new-spec partitions — they must survive a
      // dynamic overwrite (Iceberg's per-spec ReplacePartitions semantics).
      cat.setPartitionSpec("t",
        Seq(GraftCatalog.PartitionFieldDef("k_bucket", "bucket[8]", "k")))
      withConfs("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        s.sql(s"INSERT INTO $g.t SELECT id, concat('new', id) FROM range(1000, 1200)")
        // (plain INSERT above primes new-binding files; now the overwrite)
        s.sql(s"INSERT OVERWRITE $g.t SELECT id, concat('ow', id) FROM range(2000, 2200)")
      }
      val after = cat.loadEntries("t").filter(_.kind == "data")
      assert(oldFiles.subsetOf(after.map(_.path).toSet),
        "old-spec-binding files must survive a dynamic overwrite whose " +
          "written tuple strings collide with theirs")
      // new-binding files written pre-overwrite with colliding tuples ARE
      // retired: every surviving new-binding row is from the overwrite
      val rows = s.sql(s"SELECT v FROM $g.t").collect().map(_.getString(0))
      assert(rows.count(_.startsWith("old")) == 200)
      assert(rows.count(_.startsWith("ow")) == 200)
      assert(!rows.exists(_.startsWith("new")),
        "same-binding colliding tuples must still be replaced")
    }
  }

  test("PARTITIONED BY void: INSERT clusters without resolving 'void', reads work") {
    val root = Files.createTempDirectory("graft-dsv2-void").toString
    withCatalogSession(root) { (g, s) =>
      s.sql(s"CREATE TABLE $g.t (k BIGINT, v STRING) PARTITIONED BY (void(k))")
      val cat = new GraftCatalog(root)
      assert(cat.partitionSpec("t") ==
        Seq(GraftCatalog.PartitionFieldDef("k_void", "void", "k")))
      // the regression: clusterExprs used to surface an unresolvable
      // 'void' function and every INSERT failed analysis
      s.sql(s"INSERT INTO $g.t VALUES (1, 'a'), (2, 'b')")
      assert(s.sql(s"SELECT k FROM $g.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L))
      val data = cat.loadEntries("t").filter(_.kind == "data")
      assert(data.nonEmpty && data.forall(_.partitionVals("k_void") == null),
        "void maps every row to the null partition")
    }
  }

  test("CREATE rolls back the table when applying the spec fails") {
    val root = Files.createTempDirectory("graft-dsv2-create-atomic").toString
    withCatalogSession(root) { (g, s) =>
      // distinct source columns whose DERIVED field names collide
      // (identity(k_bucket) and bucket(4, k) both name 'k_bucket'): passes
      // Spark's duplicate-column check and toPartitionFields, fails
      // setPartitionSpec's duplicate-name check AFTER the table commits —
      // the catch must drop the half-created table
      val e = intercept[Exception](s.sql(
        s"CREATE TABLE $g.bad2 (k BIGINT, k_bucket INT) " +
          "PARTITIONED BY (k_bucket, bucket(4, k))"))
      assert(e.getMessage.contains("duplicate partition field names"), e.getMessage)
      assert(!new GraftCatalog(root).tables().contains("bad2"),
        "a CREATE whose spec failed to apply must leave no table behind")
    }
  }

  test("unsupported transform shapes fail at CREATE, leaving nothing behind") {
    val root = Files.createTempDirectory("graft-dsv2-part3").toString
    withCatalogSession(root) { (g, s) =>
      val e = intercept[Exception](s.sql(
        s"CREATE TABLE $g.bad (k BIGINT) PARTITIONED BY (weird(k))"))
      assert(e.getMessage.contains("unsupported partition transform") ||
        e.getMessage.contains("weird"), e.getMessage)
      assert(!new GraftCatalog(root).tables().contains("bad"),
        "a failed CREATE must not leave a table")
    }
  }
}
