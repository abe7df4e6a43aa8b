package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Delta CHECK constraints, partition-scoped compaction, and the lake_refs
  * SQL surface. */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("check constraints: install, enforce on append/upsert/overwrite, NULL passes, drop") {
    val t = tmp("chk") + "/tbl"
    DeltaWrite.append(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), t)
    DeltaWrite.addCheckConstraint(spark, t, "v_positive", "v > 0")

    // violating writes are refused with the constraint named
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((3L, -5.0)).toDF("id", "v"), t)
    }
    assert(e.getMessage.contains("v_positive"))
    intercept[IllegalArgumentException] {
      DeltaWrite.upsert(spark, Seq((1L, -1.0)).toDF("id", "v"), t, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(spark, Seq((9L, -9.0)).toDF("id", "v"), t)
    }
    // passing writes land; NULL passes (standard CHECK three-valued logic)
    DeltaWrite.append(spark,
      Seq[(java.lang.Long, java.lang.Double)]((3L, 30.0), (4L, null)).toDF("id", "v"), t)
    assert(DeltaRead.snapshot(spark, t).count() === 4)

    // cannot install a constraint the table already violates
    intercept[IllegalArgumentException] {
      DeltaWrite.addCheckConstraint(spark, t, "v_not_null", "v IS NOT NULL")
    }
    // drop releases enforcement
    DeltaWrite.dropCheckConstraint(spark, t, "v_positive")
    DeltaWrite.append(spark, Seq((5L, -50.0)).toDF("id", "v"), t)
    assert(DeltaRead.snapshot(spark, t).count() === 5)
  }

  test("constraints survive restore and appear in the configuration") {
    val t = tmp("chk_cfg") + "/tbl"
    DeltaWrite.append(spark, Seq((1L, 1.0)).toDF("id", "v"), t)
    DeltaWrite.addCheckConstraint(spark, t, "pos", "v > 0")
    assert(DeltaRead.snapshotInfo(spark, t)
      .configuration("delta.constraints.pos") === "v > 0")
    val withProps = DeltaWrite.setProperties(spark, t, Map("graft.bloom.columns" -> "id"))
    DeltaWrite.append(spark, Seq((2L, 2.0)).toDF("id", "v"), t)
    // restore undoes the append; a checkpoint then becomes the replay base
    DeltaWrite.restore(spark, t, withProps)
    DeltaWrite.checkpoint(spark, t)
    val conf = DeltaRead.snapshotInfo(spark, t).configuration
    assert(conf.get("delta.constraints.pos").contains("v > 0"))
    assert(conf.get("graft.bloom.columns").contains("id"))
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((3L, -7.0)).toDF("id", "v"), t)
    }
    assert(e.getMessage.contains("pos"))
    assert(DeltaRead.snapshot(spark, t).select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("compact(where=...) rewrites ONLY the matching partitions") {
    val t = tmp("chk_scope") + "/tbl"
    // two small files per partition value → both partitions are candidates
    (1 to 2).foreach { i =>
      DeltaWrite.append(spark,
        Seq((i.toLong, "g1"), (i + 10L, "g2")).toDF("id", "grp"),
        t, partitionBy = Seq("grp"))
    }
    def filesPer(g: String): Int =
      DeltaRead.snapshotInfo(spark, t).files
        .count(_.partitionValues.get("grp").contains(g))
    assert(filesPer("g1") === 2 && filesPer("g2") === 2)

    DeltaWrite.compact(spark, t, smallFileBytes = 64L << 20,
      targetFileBytes = 128L << 20, where = Some("grp = 'g1'"))
    assert(filesPer("g1") === 1, "scoped partition compacted")
    assert(filesPer("g2") === 2, "out-of-scope partition untouched")
    // rows intact
    assert(DeltaRead.snapshot(spark, t).count() === 4)
    // unpartitioned tables refuse a scope predicate
    val up = tmp("chk_scope_up") + "/tbl"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "grp"), up)
    intercept[IllegalArgumentException] {
      DeltaWrite.compact(spark, up, where = Some("grp = 'a'"))
    }
  }

  test("iceberg compact(where=...) rewrites only matching identity partitions") {
    val t = tmp("chk_iscope") + "/tbl"
    (1 to 2).foreach { i =>
      IcebergWrite.append(spark,
        Seq((i.toLong, "g1"), (i + 10L, "g2")).toDF("id", "grp"),
        t, partitionBy = Seq("grp"))
    }
    def filesPer(g: String): Long =
      IcebergRead.fileStats(spark, t).where(col("min_grp") === g).count()
    assert(filesPer("g1") === 2 && filesPer("g2") === 2)
    IcebergWrite.compact(spark, t, where = Some("grp = 'g1'"))
    assert(filesPer("g1") === 1, "scoped partition compacted")
    assert(filesPer("g2") === 2, "out-of-scope partition untouched")
    assert(IcebergRead.snapshot(spark, t).count() === 4)
    // hidden transforms refuse a scope predicate
    val th = tmp("chk_iscope_h") + "/tbl"
    IcebergWrite.append(spark,
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "ts"),
      th, partitionBy = Seq("day(ts)"))
    intercept[IllegalArgumentException] {
      IcebergWrite.compact(spark, th, where = Some("id = 1"))
    }
  }

  test("lake_refs SQL surface lists Iceberg tags") {
    val t = tmp("chk_refs") + "/tbl"
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), t)
    val id = IcebergWrite.setRef(spark, t, "release-1")
    Lake.registerSqlSurface(spark)
    val rows = spark.sql(s"SELECT name, snapshot_id, type FROM lake_refs('$t')")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq === Seq(("release-1", id, "tag")))
  }
}
