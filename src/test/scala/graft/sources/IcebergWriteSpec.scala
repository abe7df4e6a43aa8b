package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Round-trip: tables written by IcebergWrite are spec-shaped Iceberg v2
  * tables readable by IcebergRead (and, structurally, any Iceberg reader).
  */
class IcebergWriteSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("id", "name").as[(Long, String)].collect().toSet

  test("append creates a readable table; snapshots accumulate and time-travel") {
    val table = Files.createTempDirectory("graft_iw").toString
    val s1 = IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)
    assert(s1 === 1L)
    assert(rows(IcebergRead.snapshot(spark, table)) === Set((1L, "a"), (2L, "b")))
    assert(Lake.detect(spark, table) === Lake.Iceberg)

    val s2 = IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), table)
    assert(s2 === 2L)
    assert(rows(IcebergRead.snapshot(spark, table)).map(_._1) === Set(1L, 2L, 3L))
    // time travel to the first snapshot
    assert(rows(IcebergRead.snapshot(spark, table, s1)).map(_._1) === Set(1L, 2L))
    // Lake dispatch honors the version argument
    assert(rows(Lake.read(spark, table, s1)).map(_._1) === Set(1L, 2L))
  }

  test("manifest avro carries spec field-ids and exact per-file record counts") {
    val table = Files.createTempDirectory("graft_iw_m").toString
    IcebergWrite.append(spark,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").repartition(3), table)
    val metaDir = new java.io.File(s"$table/metadata")
    val manifest = metaDir.listFiles().find(_.getName.startsWith("m-")).get
    val reader = new org.apache.avro.file.DataFileReader(
      manifest,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    import scala.jdk.CollectionConverters._
    val entries = try reader.iterator().asScala.toList finally reader.close()
    assert(entries.nonEmpty)
    val dfSchema = entries.head.getSchema.getField("data_file").schema()
    assert(dfSchema.getField("file_path").getObjectProp("field-id") === 100)
    assert(dfSchema.getField("record_count").getObjectProp("field-id") === 103)
    val counts = entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord].get("record_count")
      .asInstanceOf[Long])
    assert(counts.sum === 10L)
    assert(counts.forall(_ > 0L)) // per-file, not a repeated total
  }

  test("identity-partitioned append: typed partition records, spec JSON, MOR delete") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val table = Files.createTempDirectory("graft_iw_p").toString
    val df = Seq((1L, "a", "x", 10), (2L, "b", "x", 20), (3L, "c", "y", 30))
      .toDF("id", "name", "grp", "bucket")
    IcebergWrite.append(spark, df, table, partitionBy = Seq("grp", "bucket"))

    // data files keep ALL columns (no injection needed) and read back whole
    val back = IcebergRead.snapshot(spark, table)
    assert(back.columns.toSet === Set("id", "name", "grp", "bucket"))
    assert(back.select("id", "grp", "bucket").as[(Long, String, Int)].collect().toSet ===
      Set((1L, "x", 10), (2L, "x", 20), (3L, "y", 30)))

    // manifest partition records are TYPED and per-file single-valued
    val manifest = new java.io.File(s"$table/metadata").listFiles()
      .find(_.getName.startsWith("m-")).get
    val reader = new org.apache.avro.file.DataFileReader(
      manifest,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val entries = try reader.iterator().asScala.toList finally reader.close()
    val parts = entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord])
    assert(parts.map(p => (p.get("grp").toString, p.get("bucket"))).toSet ===
      Set(("x", 10), ("x", 20), ("y", 30)))
    val pSchema = parts.head.getSchema
    assert(pSchema.getField("grp").getObjectProp("field-id") === 1000)
    assert(pSchema.getField("bucket").getObjectProp("field-id") === 1001)

    // metadata declares the identity spec + the empty spec for deletes
    val meta = new String(Files.readAllBytes(
      Paths.get(table, "metadata", "v1.metadata.json")))
    assert(meta.contains(""""transform":"identity""""))
    assert(meta.contains(""""last-partition-id":1001"""))

    // partitioning pinned; MOR delete works on the partitioned table
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, df, table, partitionBy = Seq("grp")))
    IcebergWrite.deleteWhere(spark, table, col("grp") === "x" && col("bucket") === 10)
    assert(IcebergRead.snapshot(spark, table).select("id").as[Long].collect().toSet ===
      Set(2L, 3L))
    // append after the delete keeps both the delete manifest and partitioning
    IcebergWrite.append(spark,
      Seq((4L, "d", "y", 40)).toDF("id", "name", "grp", "bucket"),
      table, partitionBy = Seq("grp", "bucket"))
    assert(IcebergRead.snapshot(spark, table).select("id").as[Long].collect().toSet ===
      Set(2L, 3L, 4L))
  }

  test("bucket hash matches the Iceberg spec's published test vectors") {
    // spec Appendix B: ints widen to longs before hashing, so
    // bucket(34:int) == bucket(34:long); strings hash their UTF-8 bytes
    assert(IcebergTransforms.hashLong(34L) === 2017239379)
    assert(IcebergTransforms.hashString("iceberg") === 1210000089)
    assert(IcebergTransforms.hashLong(17486L) === -653330422) // date 2017-11-16
    assert(IcebergTransforms.bucketValue(IcebergTransforms.hashLong(34L), 16) ===
      (2017239379 & Int.MaxValue) % 16)
  }

  test("codegen'd bucket expression matches the reference hash across types and nulls") {
    // the write path's per-row ordinal (round-19: scala UDF → codegen'd
    // IcebergBucketExpr) must agree with the spec-pinned reference for
    // every supported type, through REAL codegen (a DataFrame projection,
    // not just interpreted eval), including NULL → NULL
    import org.apache.spark.sql.functions.col
    import IcebergTransforms.{Bucket, bucketValue, hashLong, hashString}
    val df = Seq(
      (Some(34), Some(34L), Some(java.sql.Date.valueOf("2017-11-16")), Some("iceberg")),
      (None: Option[Int], None: Option[Long],
        None: Option[java.sql.Date], None: Option[String])
    ).toDF("i", "l", "d", "s")
    val out = df.select(
      Bucket(16, "i").column(col("i"), org.apache.spark.sql.types.IntegerType).as("bi"),
      Bucket(16, "l").column(col("l"), org.apache.spark.sql.types.LongType).as("bl"),
      Bucket(16, "d").column(col("d"), org.apache.spark.sql.types.DateType).as("bd"),
      Bucket(16, "s").column(col("s"), org.apache.spark.sql.types.StringType).as("bs")
    ).collect()
    val r0 = out(0)
    assert(r0.getInt(0) === bucketValue(hashLong(34L), 16))
    assert(r0.getInt(1) === bucketValue(hashLong(34L), 16))
    assert(r0.getInt(2) === bucketValue(hashLong(17486L), 16)) // 2017-11-16 epoch days
    assert(r0.getInt(3) === bucketValue(hashString("iceberg"), 16))
    val r1 = out(1)
    (0 to 3).foreach(i => assert(r1.isNullAt(i), s"null input must stay null at $i"))
  }

  test("transform parse/unparse round-trips and rejects garbage") {
    import IcebergTransforms._
    assert(parse("grp") === Identity("grp"))
    assert(parse("identity(grp)") === Identity("grp"))
    assert(parse("day(ts)") === Day("ts"))
    assert(parse("days(ts)") === Day("ts"))
    assert(parse("bucket(16, id)") === Bucket(16, "id"))
    assert(parse("truncate(4, name)") === Truncate(4, "name"))
    assert(parse("hour(ts)") === Hour("ts"))
    assert(parse("hours(ts)") === Hour("ts"))
    assert(parse("month(ts)") === Month("ts"))
    assert(parse("year(ts)") === Year("ts"))
    for (s <- Seq("grp", "day(ts)", "hour(ts)", "month(ts)", "year(ts)",
        "bucket(16, id)", "truncate(4, name)")) {
      val t = parse(s)
      assert(parse(unparse(t.transformString, t.source)) === t)
    }
    intercept[IllegalArgumentException](parse("decade(ts)"))
    intercept[IllegalArgumentException](parse("bucket(0, id)"))
  }

  test("hour/month/year transform ordinals match the spec's epoch anchors") {
    import IcebergTransforms._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      java.sql.Timestamp.valueOf("1970-01-01 00:30:00"), // h 0, m 0, y 0
      java.sql.Timestamp.valueOf("1970-01-02 03:00:00"), // h 27
      java.sql.Timestamp.valueOf("1969-12-31 23:00:00"), // h -1, m -1, y -1
      java.sql.Timestamp.valueOf("2024-03-15 12:00:00")
    ).toDF("ts")
    def vals(t: Transform): Seq[Int] =
      df.select(t.column(col("ts"), org.apache.spark.sql.types.TimestampType))
        .collect().map(_.getInt(0)).toSeq
    // 2024-03-15 = epoch day 19797 (leap year) → hour 19797*24 + 12
    assert(vals(Hour("ts")) === Seq(0, 27, -1, 475140))
    assert(vals(Month("ts")) === Seq(0, 0, -1, (2024 - 1970) * 12 + 2))
    assert(vals(Year("ts")) === Seq(0, 0, -1, 54))
    // dates: month/year defined, hour refused
    val dd = Seq(java.sql.Date.valueOf("1969-12-15")).toDF("d")
    assert(dd.select(Month("d").column(col("d"), org.apache.spark.sql.types.DateType))
      .collect().head.getInt(0) === -1)
    intercept[IllegalArgumentException](
      Hour("d").column(col("d"), org.apache.spark.sql.types.DateType))
  }

  test("time transforms are session-timezone-independent (spec defines them in UTC)") {
    import IcebergTransforms._
    import org.apache.spark.sql.functions.{col, to_timestamp_ntz, lit}
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    // instants fixed up-front (JVM-TZ-anchored construction, unaffected
    // by the session conf switched below)
    val tsDf = Seq(
      java.sql.Timestamp.valueOf("1970-01-02 03:00:00"),
      java.sql.Timestamp.valueOf("1969-12-31 23:00:00"),
      java.sql.Timestamp.valueOf("2024-03-15 12:00:00")
    ).toDF("ts")
    // NTZ built from wall-clock strings — to_timestamp_ntz never
    // consults the session timezone, so the stored values are identical
    // under both sessions
    val ntzDf = Seq("1970-01-02 03:00:00", "1969-12-31 23:00:00", "2024-03-15 12:00:00")
      .toDF("s").select(to_timestamp_ntz(col("s")).as("ts"))
    val transforms: Seq[Transform] =
      Seq(Hour("ts"), Day("ts"), Month("ts"), Year("ts"))
    def ordinals(df: org.apache.spark.sql.DataFrame,
        dt: org.apache.spark.sql.types.DataType): Seq[Seq[Int]] =
      transforms.map(t => df.select(t.column(col("ts"), dt).cast("int"))
        .collect().map(_.getInt(0)).toSeq)
    val utcTs = ordinals(tsDf, TimestampType)
    val utcNtz = ordinals(ntzDf, TimestampNTZType)
    // spec anchors under UTC, first: hour 27/-1/475140 etc.
    assert(utcTs.head === Seq(27, -1, 475140))
    assert(utcTs(2) === Seq(0, -1, (2024 - 1970) * 12 + 2))
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(ordinals(tsDf, TimestampType) === utcTs,
        "TimestampType transform ordinals must not follow the session timezone")
      assert(ordinals(ntzDf, TimestampNTZType) === utcNtz,
        "NTZ transform ordinals must not follow the session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("transform-partitioned append: spec JSON, typed records, pruning never scans rejected buckets") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val table = Files.createTempDirectory("graft_iw_tr").toString
    val df = (1L to 20L).map(i => (i, s"name$i",
      java.sql.Timestamp.valueOf(s"2024-01-${(i % 3 + 1).toInt.formatted("%02d")} 10:00:00")))
      .toDF("id", "name", "ts")
    IcebergWrite.append(spark, df, table,
      partitionBy = Seq("bucket(4, id)", "day(ts)", "truncate(3, name)"))

    // the spec JSON declares the hidden-partitioning transforms with the
    // standard field names — what an external engine prunes by
    val meta = new String(Files.readAllBytes(Paths.get(table, "metadata", "v1.metadata.json")))
    assert(meta.contains(""""name":"id_bucket","transform":"bucket[4]""""))
    assert(meta.contains(""""name":"ts_day","transform":"day""""))
    assert(meta.contains(""""name":"name_trunc","transform":"truncate[3]""""))

    // full read returns everything; data files keep all source columns
    val back = IcebergRead.snapshot(spark, table)
    assert(back.columns.toSet === Set("id", "name", "ts"))
    assert(back.select("id").as[Long].collect().toSet === (1L to 20L).toSet)

    // partition records carry the TRANSFORM values, correctly typed
    val manifest = new java.io.File(s"$table/metadata").listFiles()
      .find(_.getName.startsWith("m-")).get
    val reader = new org.apache.avro.file.DataFileReader(
      manifest,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val parts = try reader.iterator().asScala.toList.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord])
    finally reader.close()
    val expectedBuckets = (1L to 20L)
      .map(i => IcebergTransforms.bucketValue(IcebergTransforms.hashLong(i), 4)).toSet
    assert(parts.map(_.get("id_bucket").asInstanceOf[Int]).toSet === expectedBuckets)
    // 2024-01-01 = epoch day 19723
    assert(parts.map(_.get("ts_day").asInstanceOf[Int]).toSet === Set(19723, 19724, 19725))
    assert(parts.map(_.get("name_trunc").toString).forall(_ == "nam"))

    // bucket pruning: keep only id 7's bucket, then DELETE every other
    // bucket's files from disk — the pruned read must not notice
    val b7 = IcebergTransforms.bucketValue(IcebergTransforms.hashLong(7L), 4)
    def prunedIds() = IcebergRead.snapshotPruned(spark, table,
      pv => pv("id_bucket") == b7).select("id").as[Long].collect().toSet
    val expect7 = (1L to 20L).filter(i =>
      IcebergTransforms.bucketValue(IcebergTransforms.hashLong(i), 4) == b7).toSet
    assert(prunedIds() === expect7)
    val keepPaths = parts.filter(_.get("id_bucket").asInstanceOf[Int] == b7)
    new java.io.File(s"$table/data").listFiles().filter(_.getName.endsWith(".parquet"))
      .filter { f =>
        val ids = spark.read.parquet(f.toString).select("id").as[Long].collect().toSet
        ids.forall(i => IcebergTransforms.bucketValue(IcebergTransforms.hashLong(i), 4) != b7)
      }.foreach(f => assert(f.delete()))
    assert(prunedIds() === expect7)
    intercept[Exception](IcebergRead.snapshot(spark, table).count())
  }

  test("transform partitioning is pinned across appends and survives upsert") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_iw_trp").toString
    val df = (1L to 8L).map(i => (i, s"v1")).toDF("id", "name")
    IcebergWrite.append(spark, df, table, partitionBy = Seq("bucket(4, id)"))
    // same transform spelled the same → accepted
    IcebergWrite.append(spark, Seq((9L, "v1")).toDF("id", "name"), table,
      partitionBy = Seq("bucket(4, id)"))
    // different transform (or identity) → refused
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((10L, "v1")).toDF("id", "name"), table,
        partitionBy = Seq("bucket(8, id)")))
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((10L, "v1")).toDF("id", "name"), table))
    // upsert re-derives the transform partitioning from the metadata
    IcebergWrite.upsert(spark, Seq((3L, "v2"), (10L, "v2")).toDF("id", "name"), table, Seq("id"))
    val got = IcebergRead.snapshot(spark, table).select("id", "name")
      .as[(Long, String)].collect().toSet
    assert(got === ((1L to 9L).filter(_ != 3L).map(i => (i, "v1")).toSet + ((3L, "v2")) + ((10L, "v2"))))
  }

  test("partition-spec evolution: new default spec, old files keep theirs, reads span both") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val table = Files.createTempDirectory("graft_iw_specevo").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    IcebergWrite.append(spark, (1L to 6L).map(i => (i, s"g${i % 2}")).toDF("id", "grp"),
      table, partitionBy = Seq("grp"))

    // evolve to bucket(4, id): metadata-only (no new snapshot, no data move)
    val filesBefore = Files.walk(Paths.get(table, "data")).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    IcebergWrite.evolvePartitionSpec(spark, table, Seq("bucket(4, id)"))
    val meta = mapper.readTree(
      Paths.get(table, "metadata", "v2.metadata.json").toFile)
    assert(meta.path("default-spec-id").asInt(-1) > 0)
    val specs = meta.path("partition-specs").elements().asScala.toSeq
    assert(specs.exists(s => s.path("fields").elements().asScala
      .exists(_.path("transform").asText() == "bucket[4]")))
    assert(meta.path("snapshots").size() === 1, "evolution must not add a snapshot")
    assert(Files.walk(Paths.get(table, "data")).iterator().asScala
      .count(p => p.toString.endsWith(".parquet")) === filesBefore)

    // old partitioning now refused; the new one accepted
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((7L, "g1")).toDF("id", "grp"), table,
        partitionBy = Seq("grp")))
    IcebergWrite.append(spark, Seq((7L, "g1"), (8L, "g0")).toDF("id", "grp"), table,
      partitionBy = Seq("bucket(4, id)"))

    // reads span both spec generations; time travel sees the old world
    assert(IcebergRead.snapshot(spark, table).select("id").as[Long].collect().sorted
      === (1L to 8L))
    assert(IcebergRead.snapshot(spark, table, snapshotId = 1L)
      .select("id").as[Long].collect().sorted === (1L to 6L))

    // new manifests cite the evolved spec id; carried ones keep spec 0
    val v3 = mapper.readTree(Paths.get(table, "metadata", "v3.metadata.json").toFile)
    val mlPath = v3.path("snapshots").elements().asScala.toSeq.last
      .path("manifest-list").asText()
    val specIds = IcebergRead.avroRecords(mlPath)
      .map(_.get("partition_spec_id").toString.toInt).toSet
    assert(specIds === Set(0, v3.path("default-spec-id").asInt(-1)))

    // MOR delete still works across the mixed-spec table
    IcebergWrite.deleteWhere(spark, table, col("id") === 2L)
    assert(IcebergRead.snapshot(spark, table).select("id").as[Long].collect().sorted
      === (1L to 8L).filter(_ != 2L))

    // upsert re-derives the CURRENT (evolved) partitioning
    IcebergWrite.upsert(spark, Seq((5L, "gX")).toDF("id", "grp"), table, Seq("id"))
    assert(IcebergRead.snapshot(spark, table).where(col("id") === 5L)
      .select("grp").as[String].head() === "gX")

    // no-op evolution refused
    intercept[IllegalArgumentException](
      IcebergWrite.evolvePartitionSpec(spark, table, Seq("bucket(4, id)")))
  }

  test("table-uuid is minted once and carried forward verbatim") {
    val table = Files.createTempDirectory("graft_iw_uuid").toString
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), table)
    def uuidOf(v: Int) = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Paths.get(table, "metadata", s"v$v.metadata.json").toFile)
      m.path("table-uuid").asText()
    }
    val u1 = uuidOf(1)
    // RFC-4122 shape, not "graft-..."
    assert(u1.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), table)
    org.apache.spark.sql.functions.lit(1) // keep import used
    IcebergWrite.deleteWhere(spark, table, org.apache.spark.sql.functions.col("id") === 1L)
    assert(uuidOf(2) === u1 && uuidOf(3) === u1)
  }

  test("addsBetween reads only the range's snapshots; delete commits refused") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_iw_inc").toString
    val s1 = IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), table)
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), table)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), table)
    assert(rows(IcebergRead.addsBetween(spark, table, s1)).map(_._1) === Set(2L, 3L))
    assert(rows(Lake.addsBetween(spark, table, s1)).map(_._1) === Set(2L, 3L))
    assert(rows(IcebergRead.addsBetween(spark, table, 0L)).map(_._1) === Set(1L, 2L, 3L))

    val s4 = IcebergWrite.deleteWhere(spark, table, col("id") === 2L)
    val e = intercept[IllegalArgumentException](IcebergRead.addsBetween(spark, table, s1))
    assert(e.getMessage.contains("ignoreChanges"))
    // with ignoreChanges: range adds minus the (globally applied) deletes
    assert(rows(IcebergRead.addsBetween(spark, table, s1, ignoreChanges = true))
      .map(_._1) === Set(3L))
    // append after the delete: a clean later range needs no flag
    IcebergWrite.append(spark, Seq((4L, "d")).toDF("id", "name"), table)
    assert(rows(IcebergRead.addsBetween(spark, table, s4)).map(_._1) === Set(4L))
  }

  test("addsBetween survives a compaction in range: nothing lost, nothing doubled") {
    val table = Files.createTempDirectory("graft_iw_inc_compact").toString
    IcebergWrite.append(spark, (1L to 3L).map(i => (i, s"r$i")).toDF("id", "name"), table)
    val a = IcebergRead.currentSnapshotId(spark, table)
    IcebergWrite.append(spark, (4L to 6L).map(i => (i, s"r$i")).toDF("id", "name"), table)
    IcebergWrite.compact(spark, table) // 'replace' — rewrites the small files
    IcebergWrite.append(spark, (7L to 9L).map(i => (i, s"r$i")).toDF("id", "name"), table)
    // consumer checkpointed at A: the in-range append's ORIGINAL file was
    // rewritten away, but its rows must still arrive exactly once
    assert(rows(IcebergRead.addsBetween(spark, table, a)).map(_._1) === (4L to 9L).toSet)
    // replace-only range: empty batch, not an error
    val afterAll = IcebergRead.currentSnapshotId(spark, table)
    IcebergWrite.compact(spark, table, smallFileBytes = Long.MaxValue)
    assert(IcebergRead.addsBetween(spark, table, afterAll).count() === 0L)
  }

  test("txnVersions: LAST mark wins in commit order, not the numeric max") {
    val table = Files.createTempDirectory("graft_iw_txnlast").toString
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), table,
      summaryProps = Map("graft.app-id" -> "sync", "graft.batch-id" -> "9000000000000000000"))
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), table,
      summaryProps = Map("graft.app-id" -> "sync", "graft.batch-id" -> "42"))
    // a random-id frontier may be numerically SMALLER than its predecessor
    assert(IcebergRead.txnVersions(spark, table)("sync") === 42L)
  }

  test("compact on a snapshot-less table returns without spinning") {
    val table = Files.createTempDirectory("graft_iw_nosnap").toString
    val metaDir = new java.io.File(table, "metadata")
    metaDir.mkdirs()
    java.nio.file.Files.writeString(metaDir.toPath.resolve("v1.metadata.json"),
      """{"format-version":2,"table-uuid":"t","location":"x","current-snapshot-id":-1,
         "schemas":[{"schema-id":0,"type":"struct","fields":[
           {"id":1,"name":"id","required":false,"type":"long"}]}],
         "current-schema-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         "default-spec-id":0,"snapshots":[],"snapshot-log":[]}""")
    java.nio.file.Files.writeString(metaDir.toPath.resolve("version-hint.text"), "1")
    assert(IcebergWrite.compact(spark, table) === -1L) // returns, no hang
  }

  test("TIMESTAMP AS OF resolves to the latest commit/snapshot at or before it") {
    val ice = Files.createTempDirectory("graft_ts_ice").toString
    val t0 = System.currentTimeMillis() - 1
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), ice)
    Thread.sleep(20)
    val tMid = System.currentTimeMillis()
    Thread.sleep(20)
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), ice)
    assert(IcebergRead.snapshotAt(spark, ice, tMid).count() === 1L)
    assert(Lake.readAt(spark, ice, System.currentTimeMillis()).count() === 2L)
    intercept[IllegalArgumentException](IcebergRead.snapshotAt(spark, ice, t0))

    val del = Files.createTempDirectory("graft_ts_del").toString
    val d0 = System.currentTimeMillis() - 1
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), del)
    Thread.sleep(20)
    val dMid = System.currentTimeMillis()
    Thread.sleep(20)
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), del)
    assert(DeltaRead.snapshotAt(spark, del, dMid).count() === 1L)
    assert(Lake.readAt(spark, del, System.currentTimeMillis()).count() === 2L)
    intercept[IllegalArgumentException](DeltaRead.snapshotAt(spark, del, d0))
  }

  test("incremental lake consumption composes with incremental near-dedup") {
    // the end-to-end training-data story: an external Delta corpus grows;
    // each increment is consumed via addsBetween and near-deduped against
    // the already-accepted corpus — no reprocessing of old data
    val corpus = Files.createTempDirectory("graft_lake_dedup").toString
    val v0 = DeltaWrite.append(spark, Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about distributed query engines")
    ).toDF("doc_id", "text"), corpus)
    val accepted = Lake.read(spark, corpus)

    // the next drop carries one near-dup of doc 1 and one genuinely new doc
    DeltaWrite.append(spark, Seq(
      (3L, "the quick brown fox jumps over the lazy dog tonight!"),
      (4L, "fresh material never seen before in any earlier batch at all")
    ).toDF("doc_id", "text"), corpus)
    val increment = Lake.addsBetween(spark, corpus, v0)
    assert(increment.count() === 2L)

    val kept = graft.operators.Dedup.incrementalDropNearDuplicates(
      increment, accepted, "doc_id", "text", threshold = 0.7)
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(4L))
  }

  test("Lake facade dispatches readPruned and deleteWhere per format") {
    import org.apache.spark.sql.functions.col
    val ice = Files.createTempDirectory("graft_lake_ice").toString
    IcebergWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "grp"), ice, Seq("grp"))
    assert(Lake.readPruned(spark, ice, pv => pv("grp") == "x")
      .select("id").as[Long].collect().toSeq === Seq(1L))
    Lake.deleteWhere(spark, ice, col("id") === 1L)
    assert(Lake.read(spark, ice).count() === 1L)

    val del = Files.createTempDirectory("graft_lake_del").toString
    DeltaWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "grp"), del, Seq("grp"))
    assert(Lake.readPruned(spark, del, pv => pv("grp") == "y")
      .select("id").as[Long].collect().toSeq === Seq(2L))
    Lake.deleteWhere(spark, del, col("id") === 2L)
    assert(Lake.read(spark, del).count() === 1L)

    val plain = Files.createTempDirectory("graft_lake_pq").toString
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(plain)
    intercept[IllegalArgumentException](Lake.deleteWhere(spark, plain, col("id") === 1L))
  }

  test("snapshotPruned prunes at the manifest level: rejected partitions never read") {
    val table = Files.createTempDirectory("graft_iw_pr").toString
    IcebergWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "name", "grp"),
      table, partitionBy = Seq("grp"))
    def prunedIds() = IcebergRead.snapshotPruned(spark, table,
      pv => pv("grp") == "x").select("id").as[Long].collect().toSet
    assert(prunedIds() === Set(1L, 2L))
    // delete partition y's data file from disk: pruned read must not notice
    val dataFiles = new java.io.File(s"$table/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val yFile = dataFiles.find { f =>
      spark.read.parquet(f.toString).select("grp").head.getString(0) == "y"
    }.get
    assert(yFile.delete())
    assert(prunedIds() === Set(1L, 2L))
    intercept[Exception](IcebergRead.snapshot(spark, table).count())
  }

  test("equality deletes and upsert: newer appends with the same key survive") {
    val table = Files.createTempDirectory("graft_iw_eq").toString
    IcebergWrite.append(spark,
      Seq((1L, "v1"), (2L, "v1"), (3L, "v1"), (4L, "v1")).toDF("id", "name"), table)

    // upsert: replace ids 2,3 and insert 5 — no data file rewritten, ONE
    // atomic snapshot (equality-delete + data manifests in one commit)
    val su = IcebergWrite.upsert(spark,
      Seq((2L, "v2"), (3L, "v2"), (5L, "v2")).toDF("id", "name"), table, Seq("id"))
    assert(su === 2L, "upsert must be ONE snapshot")
    assert(rows(IcebergRead.snapshot(spark, table)) ===
      Set((1L, "v1"), (2L, "v2"), (3L, "v2"), (4L, "v1"), (5L, "v2")))
    // pre-upsert snapshot still sees the original values (time travel)
    assert(rows(IcebergRead.snapshot(spark, table, 1L)) ===
      (1L to 4L).map(i => (i, "v1")).toSet)

    // a second upsert of an already-upserted key replaces the NEWER copy
    // too (its file is older than the new delete's sequence number)
    IcebergWrite.upsert(spark, Seq((2L, "v3")).toDF("id", "name"), table, Seq("id"))
    assert(rows(IcebergRead.snapshot(spark, table)) ===
      Set((1L, "v1"), (2L, "v3"), (3L, "v2"), (4L, "v1"), (5L, "v2")))

    // standalone equality delete without re-insert
    IcebergWrite.deleteWhereEquals(spark, table, Seq(Tuple1(4L)).toDF("id"))
    assert(rows(IcebergRead.snapshot(spark, table)).map(_._1) === Set(1L, 2L, 3L, 5L))

    // unknown key column refused
    intercept[IllegalArgumentException](
      IcebergWrite.deleteWhereEquals(spark, table, Seq(Tuple1(1L)).toDF("nope")))
  }

  test("deleteWhere: position deletes round-trip, time travel, append-after-delete") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_iw_d").toString
    val s1 = IcebergWrite.append(spark,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2), table)
    val s2 = IcebergWrite.deleteWhere(spark, table, col("id") % 2 === 0)
    assert(s2 === s1 + 1)
    assert(rows(IcebergRead.snapshot(spark, table)).map(_._1) === Set(1L, 3L, 5L))
    // pre-delete snapshot unaffected (merge-on-read: no data file rewritten)
    assert(rows(IcebergRead.snapshot(spark, table, s1)).map(_._1) === (1L to 6L).toSet)

    // append AFTER the delete: the carried manifest list must keep the
    // delete manifest's content flag, or old deleted rows resurface
    IcebergWrite.append(spark, Seq((7L, "n7"), (8L, "n8")).toDF("id", "name"), table)
    assert(rows(IcebergRead.snapshot(spark, table)).map(_._1) === Set(1L, 3L, 5L, 7L, 8L))

    // second delete hits only the new file's rows; earlier deletes persist
    IcebergWrite.deleteWhere(spark, table, col("id") === 7L)
    assert(rows(IcebergRead.snapshot(spark, table)).map(_._1) === Set(1L, 3L, 5L, 8L))

    // matching nothing commits nothing
    val before = IcebergRead.snapshot(spark, table).count()
    assert(IcebergWrite.deleteWhere(spark, table, col("id") === 999L) === -1L)
    assert(IcebergRead.snapshot(spark, table).count() === before)
  }

  test("schema mismatch and unsupported nested types are refused loudly") {
    val table = Files.createTempDirectory("graft_iw_s").toString
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), table)
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((1L, "a", 2.0)).toDF("id", "name", "x"), table))
    // arrays of primitives are supported (list type); NESTED arrays,
    // structs, and maps stay outside the subset
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((1L, Seq(Seq("a")))).toDF("id", "arr"),
        Files.createTempDirectory("graft_iw_n").toString))
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((1L, Map("k" -> "v"))).toDF("id", "m"),
        Files.createTempDirectory("graft_iw_n2").toString))
  }

  test("arrays of primitives round-trip as the spec's list type") {
    val table = Files.createTempDirectory("graft_iw_list").toString
    val df = Seq(
      (1L, Seq(1.0f, 2.5f), Seq(10L, 20L, 30L)),
      (2L, Seq.empty[Float], Seq(40L))
    ).toDF("id", "fvec", "lvec")
    IcebergWrite.append(spark, df, table)
    val back = IcebergRead.snapshot(spark, table)
    assert(back.schema("fvec").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    assert(back.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toList, r.getSeq[Long](2).toList)).toSeq ===
      Seq((1L, List(1.0f, 2.5f), List(10L, 20L, 30L)), (2L, List(), List(40L))))
    // the metadata records the list type with minted element-ids counted
    // in last-column-id (3 top-level + 2 elements)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(java.nio.file.Paths.get(table, "metadata"))
        .filter(_.toString.endsWith(".metadata.json")).findFirst().get()))
    assert(meta.contains("\"type\":\"list\"") && meta.contains("element-id"))
    assert(meta.contains("\"last-column-id\":5"), meta.take(400))
    // schema pinning still bites: same names, different ELEMENT type
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark,
        Seq((3L, Seq(1.0), Seq(1L))).toDF("id", "fvec", "lvec"), table))
    // evolution can ADD a list column; old rows read NULL
    IcebergWrite.append(spark,
      Seq((3L, Seq(9.0f), Seq(9L), Seq(1, 2))).toDF("id", "fvec", "lvec", "codes"),
      table, mergeSchema = true)
    val evolved = IcebergRead.snapshot(spark, table)
    assert(evolved.where(evolved("codes").isNull).count() === 2L)
    assert(evolved.where(evolved("id") === 3L).select(evolved("codes")).head()
      .getSeq[Int](0).toList === List(1, 2))
  }

  test("concurrent appenders lose no snapshots and keep a linear version history") {
    val table = Files.createTempDirectory("graft_iw_c").toString
    IcebergWrite.append(spark, Seq((0L, "seed")).toDF("id", "name"), table)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 4).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            start.await()
            IcebergWrite.append(spark, Seq((w * 10L, s"w$w")).toDF("id", "name"), table)
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    start.countDown(); pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    assert(rows(IcebergRead.snapshot(spark, table)).map(_._1) ===
      Set(0L, 10L, 20L, 30L, 40L))
    // gap-free metadata versions v1..v5
    (1 to 5).foreach { v =>
      assert(Files.exists(Paths.get(table, "metadata", s"v$v.metadata.json")))
    }
    // every claim cleaned up its temp file, won or lost
    assert(new java.io.File(table, "metadata").list().filter(_.endsWith(".tmp")).isEmpty)
  }

  test("a stale, empty or missing version-hint hides no commit") {
    val hint = (t: String) => Paths.get(t, "metadata", "version-hint.text")
    Seq[(String, String => Unit)](
      "stale" -> (t => Files.writeString(hint(t), "1")),
      "empty" -> (t => Files.writeString(hint(t), "")),
      "deleted" -> (t => Files.delete(hint(t)))
    ).foreach { case (how, damage) =>
      val table = Files.createTempDirectory(s"graft_iw_hint_$how").toString
      IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), table)
      IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), table)
      damage(table)
      assert(rows(IcebergRead.snapshot(spark, table)) === Set((1L, "a"), (2L, "b")), how)
      IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), table)
      assert(Files.exists(Paths.get(table, "metadata", "v3.metadata.json")), how)
      assert(!Files.exists(Paths.get(table, "metadata", "v4.metadata.json")), how)
      assert(rows(IcebergRead.snapshot(spark, table)) ===
        Set((1L, "a"), (2L, "b"), (3L, "c")), how)
    }
  }

  test("schema evolution: fresh field ids under a new schema-id; old snapshots keep theirs") {
    val table = Files.createTempDirectory("graft_iw_evolve").toString
    val s0 = IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)

    // un-merged widening append is refused, and evolution requires every
    // existing column with its exact type
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((3L, "c", 1.5)).toDF("id", "name", "score"), table))
    intercept[IllegalArgumentException](
      IcebergWrite.append(spark, Seq((3L, 1.5)).toDF("id", "score"), table, mergeSchema = true))

    IcebergWrite.append(spark, Seq((3L, "c", 1.5), (4L, "d", 2.5)).toDF("id", "name", "score"),
      table, mergeSchema = true)

    val cur = IcebergRead.snapshot(spark, table)
    assert(cur.columns.toSeq === Seq("id", "name", "score"))
    val byId = cur.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2) && byId(2L).isNullAt(2), "old files read null for the new column")
    assert(byId(3L).getDouble(2) === 1.5)
    // time travel: the old snapshot cites its own schema-id → old schema
    assert(IcebergRead.snapshot(spark, table, s0).columns.toSeq === Seq("id", "name"))

    // metadata carries the full schema-id chain with stable prior ids
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Paths.get(table, "metadata", "v2.metadata.json").toFile)
    import scala.jdk.CollectionConverters._
    val schemas = meta.path("schemas").elements().asScala.toSeq
    assert(schemas.size === 2)
    assert(meta.path("current-schema-id").asInt(-1) === 1)
    assert(meta.path("last-column-id").asInt(-1) === 3)
    val evolved = schemas.find(_.path("schema-id").asInt(-1) == 1).get
    val ids = evolved.path("fields").elements().asScala
      .map(f => f.path("name").asText() -> f.path("id").asInt(-1)).toMap
    assert(ids === Map("id" -> 1, "name" -> 2, "score" -> 3))

    // equality deletes keyed on a PRE-evolution column still resolve
    // (field ids were carried, not regenerated)
    IcebergWrite.deleteWhereEquals(spark, table, Seq(Tuple1(1L)).toDF("id"))
    assert(IcebergRead.snapshot(spark, table).collect().map(_.getLong(0)).toSet ===
      Set(2L, 3L, 4L))

    // same-schema append after evolution needs no flag; incremental read
    // across the boundary resolves against the evolved schema
    IcebergWrite.append(spark, Seq((5L, "e", 3.5)).toDF("id", "name", "score"), table)
    val incr = IcebergRead.addsBetween(spark, table, s0, ignoreChanges = true)
    assert(incr.columns.toSeq === Seq("id", "name", "score"))
    assert(incr.collect().map(_.getLong(0)).toSet === Set(3L, 4L, 5L))
  }

  test("equality-delete key sets above maxKeysPerFile split across files under ONE manifest") {
    val table = Files.createTempDirectory("graft_iw_eqsplit").toString
    IcebergWrite.append(spark, (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name"), table)
    IcebergWrite.deleteWhereEquals(spark, table,
      (1L to 6L).map(Tuple1(_)).toDF("id"), maxKeysPerFile = 2L)
    // correctness: exactly the keyed rows are gone
    assert(IcebergRead.snapshot(spark, table).collect().map(_.getLong(0)).toSet ===
      (7L to 10L).toSet)
    // the delete landed as MULTIPLE files...
    val eqFiles = Option(Paths.get(table, "data").toFile.listFiles()).get
      .filter(_.getName.startsWith("eq-delete-"))
    assert(eqFiles.length >= 3, s"expected >=3 split delete files, got ${eqFiles.length}")
    // ...cited by ONE delete manifest in the delete snapshot
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Paths.get(table, "metadata", "v2.metadata.json").toFile)
    import scala.jdk.CollectionConverters._
    val ml = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-1) == 2L).get.path("manifest-list").asText()
    val reader = new org.apache.avro.file.DataFileReader(
      new java.io.File(ml),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val manifests = try reader.iterator().asScala.toList finally reader.close()
    assert(manifests.count(_.get("content").toString.toInt == 1) === 1)
    // per-file record counts in the manifest sum to the key count
    val deleteManifest = manifests.find(_.get("content").toString.toInt == 1).get
      .get("manifest_path").toString
    val mr = new org.apache.avro.file.DataFileReader(
      new java.io.File(deleteManifest),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val entries = try mr.iterator().asScala.toList finally mr.close()
    assert(entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("record_count").toString.toLong).sum === 6L)
    assert(entries.size === eqFiles.length)
  }

  test("streaming iceberg sink is exactly-once across checkpoint loss (summary ledger)") {
    val landing = Files.createTempDirectory("graft_iw_sink").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name").repartition(3)
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val table = Files.createTempDirectory("graft_iw_sink_t").toString + "/tbl"
    val cp1 = Files.createTempDirectory("graft_iw_sink_cp").toString
    graft.streaming.StreamOps.icebergSink(spark, landing, schema, table, "app1",
      checkpointDir = Some(cp1))
    assert(IcebergRead.snapshot(spark, table).count() === 3L)
    // same checkpoint, no new data → no new snapshots
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    def nSnaps: Int = {
      val v = Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim
      mapper.readTree(Paths.get(table, "metadata", s"v$v.metadata.json").toFile)
        .path("snapshots").size()
    }
    val before = nSnaps
    graft.streaming.StreamOps.icebergSink(spark, landing, schema, table, "app1",
      checkpointDir = Some(cp1))
    assert(nSnaps === before)
    // checkpoint LOST: batch ids replay from 0 — the summary-ledger
    // high-water mark is what prevents double appends
    val cp2 = Files.createTempDirectory("graft_iw_sink_cp2").toString
    graft.streaming.StreamOps.icebergSink(spark, landing, schema, table, "app1",
      checkpointDir = Some(cp2))
    assert(IcebergRead.snapshot(spark, table).count() === 3L)
    assert(IcebergRead.txnVersions(spark, table)("app1") >= 2L)
  }

  test("changesBetween: inserts, position-deletes, upsert, and range edges") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_iw_cdc").toString
    def changes(from: Long, to: Long = -1L): Set[(Long, String, String)] =
      IcebergRead.changesBetween(spark, table, from, to)
        .select("id", "name", "_change_type")
        .as[(Long, String, String)].collect().toSet

    val s1 = IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)
    val s2 = IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), table)
    // append-only range: inserts only (no delete legs)
    assert(changes(s1) === Set((3L, "c", "insert")))
    // from the beginning: every live row is an insert
    assert(changes(0L) === Set((1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")))

    // position delete on a file common to both endpoints → a delete row
    val s3 = IcebergWrite.deleteWhere(spark, table, col("id") === 2L)
    assert(changes(s1) === Set((3L, "c", "insert"), (2L, "b", "delete")))
    assert(changes(s2, s3) === Set((2L, "b", "delete")))
    // a row inserted AND deleted inside the range nets out of the insert
    // leg but surfaces as a delete of the from-endpoint state only if it
    // existed there: id=2 existed at s1, id=3's file is new → insert leg
    // reflects to-live rows of added files only
    assert(changes(0L) === Set((1L, "a", "insert"), (3L, "c", "insert")))

    // upsert = equality-delete + re-append in one lineage: old version
    // deleted, new version inserted
    val s4 = IcebergWrite.upsert(spark, Seq((1L, "a2")).toDF("id", "name"), table, Seq("id"))
    assert(changes(s3, s4) === Set((1L, "a", "delete"), (1L, "a2", "insert")))
    // full range across the mixed lineage (the addsBetween-refused shape)
    assert(changes(s1) ===
      Set((3L, "c", "insert"), (2L, "b", "delete"), (1L, "a", "delete"), (1L, "a2", "insert")))

    // identical endpoints → empty changelog with the _change_type column
    val same = IcebergRead.changesBetween(spark, table, s4, s4)
    assert(same.columns.contains("_change_type") && same.count() === 0L)
    // unknown snapshot id refused
    intercept[IllegalArgumentException](IcebergRead.changesBetween(spark, table, 999L))
  }

  test("compact bin-packs small files as a replace snapshot; deletes are materialized away") {
    import org.apache.spark.sql.functions.col
    def live(table: String): Set[(Long, String)] = rows(IcebergRead.snapshot(spark, table))
    def nDataFiles(table: String): Int =
      IcebergRead.snapshot(spark, table).inputFiles.length

    // delete-free bin-pack: three 1-row appends collapse to one file
    val t1 = Files.createTempDirectory("graft_iw_opt1").toString
    val a1 = IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), t1)
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), t1)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), t1)
    assert(nDataFiles(t1) === 3)
    val c1 = IcebergWrite.compact(spark, t1)
    assert(nDataFiles(t1) === 1)
    assert(live(t1) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel to pre-compaction still reads the old layout
    assert(rows(IcebergRead.snapshot(spark, t1, a1)) === Set((1L, "a")))
    // idempotent: a single packed file per partition is left alone
    assert(IcebergWrite.compact(spark, t1) === c1)
    // adds-only reads SKIP the replace snapshot (data-neutral maintenance)
    // and deliver the in-range appends from their own snapshots
    assert(rows(IcebergRead.addsBetween(spark, t1, a1)).map(_._1) === Set(2L, 3L))
    // the changelog read reports the rewrite (delete+insert pairs)
    val ch = IcebergRead.changesBetween(spark, t1, a1)
    assert(ch.where(col("_change_type") === "insert").count() === 3L)
    // appends after the compaction flow normally
    IcebergWrite.append(spark, Seq((4L, "d")).toDF("id", "name"), t1)
    assert(rows(IcebergRead.addsBetween(spark, t1, c1)).map(_._1) === Set(4L))
    assert(live(t1) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // deletes present → full rewrite, deletes purged, results unchanged
    val t2 = Files.createTempDirectory("graft_iw_opt2").toString
    IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t2)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), t2)
    IcebergWrite.deleteWhere(spark, t2, col("id") === 2L)
    IcebergWrite.upsert(spark, Seq((3L, "c2")).toDF("id", "name"), t2, Seq("id"))
    val expect2 = Set((1L, "a"), (3L, "c2"))
    assert(live(t2) === expect2)
    IcebergWrite.compact(spark, t2)
    assert(live(t2) === expect2, "compaction must not change the data")
    assert(nDataFiles(t2) === 1)
    // all delete manifests dropped: upsert/delete again works on the
    // compacted table (fresh sequence scoping over the rewritten file)
    IcebergWrite.upsert(spark, Seq((1L, "a2")).toDF("id", "name"), t2, Seq("id"))
    assert(live(t2) === Set((1L, "a2"), (3L, "c2")))

    // partitioned: kept big-enough files stay (per-partition rule), data
    // and partition pruning intact after the rewrite
    val t3 = Files.createTempDirectory("graft_iw_opt3").toString
    IcebergWrite.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").withColumn("grp", col("id") % 2),
      t3, partitionBy = Seq("grp"))
    IcebergWrite.append(spark,
      Seq((3L, "c"), (4L, "d")).toDF("id", "name").withColumn("grp", col("id") % 2),
      t3, partitionBy = Seq("grp"))
    assert(nDataFiles(t3) === 4) // one per (append, grp)
    IcebergWrite.compact(spark, t3)
    assert(nDataFiles(t3) === 2) // one per grp
    assert(IcebergRead.snapshot(spark, t3).select("id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L))
    val pruned = IcebergRead.snapshotPruned(spark, t3, pv => pv("grp") == 1)
    assert(pruned.select("id").as[Long].collect().toSet === Set(1L, 3L))
    assert(pruned.inputFiles.length === 1)
  }

  test("expireSnapshots drops old snapshots and reclaims only their files") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_iw_exp").toString
    val s1 = IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), table)
    val s2 = IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "name"), table)
    IcebergWrite.deleteWhere(spark, table, col("id") === 1L)
    val sc = IcebergWrite.compact(spark, table) // rewrites both files, purges the delete
    val expect = Set((2L, "b"))
    assert(rows(IcebergRead.snapshot(spark, table)) === expect)

    // retain everything still present → no-op
    assert(IcebergWrite.expireSnapshots(spark, table, retainLast = 10, minFileAgeMs = 0L).isEmpty)
    assert(rows(IcebergRead.snapshot(spark, table, s1)) === Set((1L, "a")))

    // retain only the current snapshot: pre-compaction files reclaimed,
    // expired ids gone, current state intact
    val deleted = IcebergWrite.expireSnapshots(spark, table, minFileAgeMs = 0L)
    assert(deleted.nonEmpty, "the compacted-away originals must be reclaimable")
    assert(rows(IcebergRead.snapshot(spark, table)) === expect)
    assert(rows(IcebergRead.snapshot(spark, table, sc)) === expect)
    intercept[Exception](rows(IcebergRead.snapshot(spark, table, s1)))
    intercept[Exception](rows(IcebergRead.snapshot(spark, table, s2)))
    // idempotent; appends continue normally after expiration
    assert(IcebergWrite.expireSnapshots(spark, table, minFileAgeMs = 0L).isEmpty)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "name"), table)
    assert(rows(IcebergRead.snapshot(spark, table)) === Set((2L, "b"), (3L, "c")))
  }
}
