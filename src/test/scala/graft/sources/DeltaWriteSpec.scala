package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Round-trip: tables written by DeltaWrite are plain protocol-v1 Delta
  * tables readable by DeltaRead (and, structurally, any Delta reader). */
class DeltaWriteSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
    df.select("id", "name", "grp").as[(Long, String, String)].collect().toSet

  test("append creates a readable partitioned table; versions accumulate") {
    val table = Files.createTempDirectory("graft_dw").toString
    val a = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "grp")
    val v0 = DeltaWrite.append(spark, a, table, partitionBy = Seq("grp"))
    assert(v0 === 0L)
    assert(rows(DeltaRead.snapshot(spark, table)) === Set((1L, "a", "x"), (2L, "b", "y")))
    // partition column must NOT be inside the data files (Delta layout)
    val dataFile = DeltaRead.snapshotInfo(spark, table).files.head.path
    assert(!spark.read.parquet(dataFile).columns.contains("grp"))

    val v1 = DeltaWrite.append(spark, Seq((3L, "c", "x")).toDF("id", "name", "grp"),
      table, partitionBy = Seq("grp"))
    assert(v1 === 1L)
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(1L, 2L, 3L))
    assert(rows(DeltaRead.snapshot(spark, table, 0L)).map(_._1) === Set(1L, 2L))
    assert(Lake.detect(spark, table) === Lake.Delta)

    // schema / partitioning mismatches refused
    intercept[IllegalArgumentException](
      DeltaWrite.append(spark, Seq((1L, "z")).toDF("id", "name"), table, Seq("grp")))
    intercept[IllegalArgumentException](
      DeltaWrite.append(spark, a, table, partitionBy = Nil))
  }

  test("overwrite replaces contents atomically; old version still readable") {
    val table = Files.createTempDirectory("graft_dw_ow").toString
    DeltaWrite.append(spark, Seq((1L, "a", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    val v = DeltaWrite.overwrite(spark, Seq((9L, "z", "w")).toDF("id", "name", "grp"),
      table, Seq("grp"))
    assert(v === 1L)
    assert(rows(DeltaRead.snapshot(spark, table)) === Set((9L, "z", "w")))
    assert(rows(DeltaRead.snapshot(spark, table, 0L)) === Set((1L, "a", "x")))
  }

  test("deleteWhere marks rows via deletion vectors; no data file rewritten") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_dv").toString
    DeltaWrite.append(spark,
      (1L to 8L).map(i => (i, s"n$i", if (i <= 4) "x" else "y")).toDF("id", "name", "grp"),
      table, partitionBy = Seq("grp"))
    val filesBefore = DeltaRead.snapshotInfo(spark, table).files.map(_.path).toSet

    val v1 = DeltaWrite.deleteWhere(spark, table, col("id") % 2 === 0)
    assert(v1 === 1L)
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(1L, 3L, 5L, 7L))
    // merge-on-read: same data files, now carrying DV descriptors
    val snap = DeltaRead.snapshotInfo(spark, table)
    assert(snap.files.map(_.path).toSet === filesBefore)
    assert(snap.files.forall(_.dv.isDefined))
    assert(snap.minReaderVersion === 3 && snap.readerFeatures.contains("deletionVectors"))
    // pre-delete version still reads everything
    assert(rows(DeltaRead.snapshot(spark, table, 0L)).map(_._1) === (1L to 8L).toSet)

    // second delete UNIONS into the existing DVs
    val v2 = DeltaWrite.deleteWhere(spark, table, col("id") === 3L)
    assert(v2 === 2L)
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(1L, 5L, 7L))

    // appended rows are untouched by old DVs
    DeltaWrite.append(spark, Seq((2L, "again", "x")).toDF("id", "name", "grp"),
      table, partitionBy = Seq("grp"))
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(1L, 5L, 7L, 2L))

    // no match → no commit
    val unchanged = DeltaWrite.deleteWhere(spark, table, col("id") === 999L)
    assert(unchanged === DeltaRead.snapshotInfo(spark, table).version)
  }

  test("upsert replaces matched keys and inserts new ones in ONE commit; re-upsert and time travel work") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_up").toString
    DeltaWrite.append(spark,
      (1L to 6L).map(i => (i, s"n$i", if (i <= 3) "x" else "y")).toDF("id", "name", "grp"),
      table, partitionBy = Seq("grp"))
    val v0 = DeltaRead.snapshotInfo(spark, table).version

    // update ids 2,4 + insert id 7 — one commit, one new version
    val v1 = DeltaWrite.upsert(spark,
      Seq((2L, "u2", "x"), (4L, "u4", "y"), (7L, "i7", "x")).toDF("id", "name", "grp"),
      table, Seq("id"))
    assert(v1 === v0 + 1)
    assert(rows(DeltaRead.snapshot(spark, table)) ===
      Set((1L, "n1", "x"), (2L, "u2", "x"), (3L, "n3", "x"),
        (4L, "u4", "y"), (5L, "n5", "y"), (6L, "n6", "y"), (7L, "i7", "x")))
    // time travel: the pre-upsert version is intact
    assert(rows(DeltaRead.snapshot(spark, table, v0)) ===
      (1L to 6L).map(i => (i, s"n$i", if (i <= 3) "x" else "y")).toSet)

    // re-upsert the same key (its row now lives in an upsert-added file)
    // + a pure insert; DVs union correctly across upserts
    val v2 = DeltaWrite.upsert(spark,
      Seq((2L, "uu2", "x"), (8L, "i8", "y")).toDF("id", "name", "grp"), table, Seq("id"))
    assert(v2 === v1 + 1)
    val after = rows(DeltaRead.snapshot(spark, table))
    assert(after.count(_._1 == 2L) === 1 && after.contains((2L, "uu2", "x")))
    assert(after.map(_._1) === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))

    // pure-insert upsert (no key matches) also lands as one commit
    val v3 = DeltaWrite.upsert(spark,
      Seq((9L, "i9", "x")).toDF("id", "name", "grp"), table, Seq("id"))
    assert(v3 === v2 + 1)
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1).contains(9L))

    // upsert into a DV-deleted key: the delete stays deleted, the new row wins
    DeltaWrite.deleteWhere(spark, table, col("id") === 1L)
    DeltaWrite.upsert(spark, Seq((1L, "back", "x")).toDF("id", "name", "grp"), table, Seq("id"))
    val fin = rows(DeltaRead.snapshot(spark, table))
    assert(fin.count(_._1 == 1L) === 1 && fin.contains((1L, "back", "x")))

    // schema mismatch refused
    intercept[IllegalArgumentException](
      DeltaWrite.upsert(spark, Seq((1L, "z")).toDF("id", "name"), table, Seq("id")))
  }

  test("addsBetween reads only the range's new files; non-append commits refused") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_inc").toString
    DeltaWrite.append(spark, Seq((1L, "a", "x")).toDF("id", "name", "grp"), table) // v0
    DeltaWrite.append(spark, Seq((2L, "b", "x")).toDF("id", "name", "grp"), table) // v1
    DeltaWrite.append(spark, Seq((3L, "c", "y")).toDF("id", "name", "grp"), table) // v2
    assert(rows(DeltaRead.addsBetween(spark, table, 0L)).map(_._1) === Set(2L, 3L))
    assert(rows(DeltaRead.addsBetween(spark, table, -1L)).map(_._1) === Set(1L, 2L, 3L))
    assert(rows(DeltaRead.addsBetween(spark, table, 1L, 1L)).map(_._1) === Set.empty[Long])

    // a DV delete is remove+add of the same file → refused as adds-only...
    DeltaWrite.deleteWhere(spark, table, col("id") === 2L) // v3
    val e = intercept[IllegalArgumentException](DeltaRead.addsBetween(spark, table, 2L))
    assert(e.getMessage.contains("ignoreChanges"))
    // ...but ignoreChanges re-emits the re-added file WITH its DV applied:
    // v1's file held only id 2, which the DV deletes → nothing surfaces
    assert(rows(DeltaRead.addsBetween(spark, table, 2L, ignoreChanges = true))
      .map(_._1) === Set.empty[Long])

    // overwrite: old files removed; ignoreChanges emits only the new state
    DeltaWrite.overwrite(spark, Seq((9L, "z", "w")).toDF("id", "name", "grp"), table) // v4
    assert(rows(DeltaRead.addsBetween(spark, table, 3L, ignoreChanges = true))
      .map(_._1) === Set(9L))
    // a file added then removed inside the range is not re-reported
    assert(rows(DeltaRead.addsBetween(spark, table, 1L, ignoreChanges = true))
      .map(_._1) === Set(9L))
  }

  test("snapshotPruned prunes at the log level: rejected partitions are never read") {
    val table = Files.createTempDirectory("graft_dw_prune").toString
    DeltaWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "name", "grp"),
      table, partitionBy = Seq("grp"))
    val pruned = DeltaRead.snapshotPruned(spark, table, pv => pv("grp") == "x")
    assert(rows(pruned).map(_._1) === Set(1L, 2L))
    // delete partition y's data file from disk: the pruned read must not
    // notice (its file list never contained it); the full read must fail
    val yFile = DeltaRead.snapshotInfo(spark, table).files
      .find(_.partitionValues("grp") == "y").get.path
    assert(new java.io.File(yFile).delete())
    assert(rows(DeltaRead.snapshotPruned(spark, table, pv => pv("grp") == "x"))
      .map(_._1) === Set(1L, 2L))
    intercept[Exception](DeltaRead.snapshot(spark, table).count())
  }

  test("checkpoint preserves deletion vectors and the v3 protocol") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_dvcp").toString
    DeltaWrite.append(spark,
      (1L to 6L).map(i => (i, s"n$i", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    DeltaWrite.deleteWhere(spark, table, col("id") <= 2L)
    DeltaWrite.checkpoint(spark, table)
    DeltaWrite.append(spark, Seq((7L, "n7", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    // drop all JSON commits at/below the checkpoint — replay must come
    // entirely from the checkpoint (DVs included) plus the later commit
    val log = new java.io.File(s"$table/_delta_log")
    log.listFiles().filter(_.getName.endsWith(".json"))
      .filter(_.getName.take(20).toLong <= 1L).foreach(f => assert(f.delete()))
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(3L, 4L, 5L, 6L, 7L))
    assert(DeltaRead.snapshotInfo(spark, table).readerFeatures.contains("deletionVectors"))
  }

  test("checkpoint bounds replay: commits at/below it can disappear") {
    val table = Files.createTempDirectory("graft_dw_cp").toString
    DeltaWrite.append(spark, Seq((1L, "a", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    DeltaWrite.append(spark, Seq((2L, "b", "y")).toDF("id", "name", "grp"), table, Seq("grp"))
    val cpv = DeltaWrite.checkpoint(spark, table)
    assert(cpv === 1L)
    // a second checkpoint at the same version is a no-op, and the staging
    // of both leaves nothing behind in the log
    assert(DeltaWrite.checkpoint(spark, table) === 1L)
    val logNames = new java.io.File(table, "_delta_log").list().toSeq
    assert(logNames.count(_.endsWith(".checkpoint.parquet")) === 1)
    assert(logNames.sorted === Seq(f"${0L}%020d.json", f"${1L}%020d.checkpoint.parquet",
      f"${1L}%020d.json", "_last_checkpoint"))
    // retention clean: drop version 0's JSON — checkpoint must cover it
    Files.delete(Paths.get(table, "_delta_log", f"${0L}%020d.json"))
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(1L, 2L))
    // appends after the checkpoint merge on top of it
    DeltaWrite.append(spark, Seq((3L, "c", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) === Set(1L, 2L, 3L))
  }

  test("streaming delta sink is exactly-once across checkpoint loss (txn guard)") {
    import org.apache.spark.sql.functions._
    val landing = Files.createTempDirectory("graft_dw_sink").toString
    Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("id", "name", "grp").repartition(3)
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val table = Files.createTempDirectory("graft_dw_sink_t").toString + "/tbl"
    val cp1 = Files.createTempDirectory("graft_dw_sink_cp").toString
    graft.streaming.StreamOps.deltaSink(spark, landing, schema, table, "app1",
      checkpointDir = Some(cp1))
    assert(DeltaRead.snapshot(spark, table).count() === 3L)
    // same checkpoint, no new data → no new versions
    val vBefore = DeltaRead.snapshotInfo(spark, table).version
    graft.streaming.StreamOps.deltaSink(spark, landing, schema, table, "app1",
      checkpointDir = Some(cp1))
    assert(DeltaRead.snapshotInfo(spark, table).version === vBefore)
    // checkpoint LOST: batch ids replay from 0 — the txn high-water mark in
    // the table is what prevents double appends
    val cp2 = Files.createTempDirectory("graft_dw_sink_cp2").toString
    graft.streaming.StreamOps.deltaSink(spark, landing, schema, table, "app1",
      checkpointDir = Some(cp2))
    assert(DeltaRead.snapshot(spark, table).count() === 3L)
    // txn marks survive checkpointing + log cleaning
    DeltaWrite.checkpoint(spark, table)
    assert(DeltaRead.txnVersions(spark, table)("app1") >= 2L)
  }

  test("concurrent appenders lose no rows and keep a linear log") {
    val table = Files.createTempDirectory("graft_dw_conc").toString
    DeltaWrite.append(spark, Seq((0L, "seed", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 4).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            start.await()
            (0 until 2).foreach { i =>
              DeltaWrite.append(spark,
                Seq((w * 10L + i, s"w$w-$i", "x")).toDF("id", "name", "grp"),
                table, Seq("grp"))
            }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    start.countDown(); pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    val snap = DeltaRead.snapshotInfo(spark, table)
    assert(snap.version === 8L) // 1 seed + 8 appends, gap-free
    assert(rows(DeltaRead.snapshot(spark, table)).map(_._1) ===
      Set(0L) ++ (1 to 4).flatMap(w => Seq(w * 10L, w * 10L + 1)).toSet)
    // every claim cleaned up its temp file, won or lost
    assert(new java.io.File(table, "_delta_log").list().filter(_.endsWith(".tmp")).isEmpty)
  }

  test("pctEncodePath / pctDecode round-trip any path segment") {
    import org.scalacheck.{Gen, Arbitrary}
    import org.scalacheck.rng.Seed
    val seg = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('+', ' ', '%', '=', '.', '-', '~', '*', '/', 'é', '日'),
      1 -> Arbitrary.arbChar.arbitrary)).map(_.mkString)
    (0 until 200).foreach { i =>
      seg.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { s =>
        val path = s.split("/", -1).mkString("/") // any '/' acts as a separator
        assert(DeltaRead.pctDecode(DeltaWrite.pctEncodePath(path)) === path,
          s"round-trip failed for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      }
    }
  }

  test("partition values with '+', space, and '%' survive the layout round-trip") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val table = Files.createTempDirectory("graft_dw_enc").toString
    val vals = Seq("a+b", "c d", "e%f", null, "", "日本é", "k=v", "x/y")
    val parts = Seq("grp", "d", "ts", "x", "n")
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("grp", StringType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("x", DoubleType),
      StructField("n", IntegerType)))
    val input = vals.zipWithIndex.map { case (g, i) =>
      Row(i.toLong, s"n$i", g,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 28).plusDays(i.toLong)),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-10T09:59:59Z")
          .plusNanos(i * 3600000123000L)), // crosses the US DST switch, µs digits
        Seq(1.5, -0.25, 1e10, 3.0)(i % 4),
        if (i % 3 == 0) null else Integer.valueOf(i % 2))
    }
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(input, 3), schema)
      DeltaWrite.append(spark, df, table, partitionBy = parts)
      // the snapshot reconstructs the input multiset — '' reads back as
      // NULL, exactly as through Spark's own partitioned layout
      def norm(r: Row): Row = Row.fromSeq(r.toSeq.map { case "" => null; case v => v })
      val cols = schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
      assert(DeltaRead.snapshot(spark, table).select(cols: _*).collect().toSeq
        .sortBy(_.getLong(0)) === input.map(norm))
      // the log's partitionValues are the strings Spark's own partitionBy
      // renders, read back by Spark with type inference off. Spark names
      // its directories with the raw value, which a JVM whose file-name
      // encoding is not Unicode cannot represent (graft's layout
      // percent-encodes, so it can) — the reference then skips such rows.
      val nameable = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
        .newEncoder()
      def canName(g: String) = g == null || nameable.canEncode(g)
      val sparkDir = Files.createTempDirectory("graft_dw_enc_spark").toString + "/t"
      spark.createDataFrame(spark.sparkContext.parallelize(
          input.filter(r => canName(r.getString(2))), 3), schema)
        .write.partitionBy(parts: _*).parquet(sparkDir)
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      val sparkValues =
        try spark.read.parquet(sparkDir).select(parts.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(r => parts.indices.map(r.getString).toSeq).toSet
        finally spark.conf.unset("spark.sql.sources.partitionColumnTypeInference.enabled")
      val logValues = DeltaRead.snapshotInfo(spark, table).files
        .map(f => parts.map(f.partitionValues))
        .filter(v => canName(v.head)).toSet
      assert(logValues === sparkValues)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("NULL and '' partition values log JSON null and read back as NULL") {
    val table = Files.createTempDirectory("graft_dw_null").toString
    val df = Seq((1L, "a", "a"), (2L, "b", null), (3L, "c", "")).toDF("id", "name", "grp")
    val v = DeltaWrite.append(spark, df, table, partitionBy = Seq("grp"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    val logged = Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json"))
      .asScala.map(om.readTree).filter(_.has("add"))
      .map(_.path("add").path("partitionValues").get("grp"))
    assert(logged.count(_.isNull) === 2 && logged.count(_.asText() == "a") === 1,
      logged.mkString(","))
    assert(DeltaRead.snapshot(spark, table).where("grp IS NULL").count() === 2L)
    assert(spark.read.parquet(table).where("grp IS NULL").count() === 2L)
  }

  test("checkpoint add rows carry spec-required size/modificationTime/dataChange") {
    val table = Files.createTempDirectory("graft_dw_cp").toString
    DeltaWrite.append(spark, Seq((1L, "a", "x")).toDF("id", "name", "grp"), table, Seq("grp"))
    DeltaWrite.checkpoint(spark, table)
    val cp = spark.read.parquet(
      Paths.get(table, "_delta_log").toString + "/00000000000000000000.checkpoint.parquet")
    val addType = cp.schema("add").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(Set("path", "partitionValues", "size", "modificationTime", "dataChange")
      .subsetOf(addType.fieldNames.toSet))
    val add = cp.where(org.apache.spark.sql.functions.col("add").isNotNull)
      .select("add.size", "add.dataChange").collect()
    assert(add.nonEmpty && add.forall(r => r.getLong(0) > 0L && r.getBoolean(1)))
    val protoType = cp.schema("protocol").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(protoType.fieldNames.contains("minWriterVersion"))
    // snapshot via the checkpoint path still reads correctly
    assert(rows(DeltaRead.snapshot(spark, table)) === Set((1L, "a", "x")))
  }

  test("schema evolution: mergeSchema append swaps metaData; old files read null; time travel keeps old schema") {
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("graft_dw_evolve").toString
    val v0 = DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)
    val id0 = DeltaRead.snapshotInfo(spark, table).metaId
    assert(id0.nonEmpty)

    // un-merged widening append is refused
    intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((3L, "c", 1.5)).toDF("id", "name", "score"), table)
    }
    // evolution must carry every existing column
    intercept[RuntimeException] {
      DeltaWrite.append(spark, Seq((3L, 1.5)).toDF("id", "score"), table, mergeSchema = true)
    }
    // type change is not evolution
    intercept[Exception] {
      DeltaWrite.append(spark, Seq(("3", "c", 1.5)).toDF("id", "name", "score"),
        table, mergeSchema = true)
    }

    val v1 = DeltaWrite.append(spark,
      Seq((3L, "c", 1.5), (4L, "d", 2.5)).toDF("id", "name", "score"),
      table, mergeSchema = true)
    val snap = DeltaRead.snapshotInfo(spark, table)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "name", "score"))
    assert(snap.metaId === id0, "evolution must carry the stable table id")

    val cur = DeltaRead.snapshot(spark, table)
    assert(cur.columns.toSeq === Seq("id", "name", "score"))
    val byId = cur.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2) && byId(2L).isNullAt(2), "old files read null for the new column")
    assert(byId(3L).getDouble(2) === 1.5)

    // time travel to the pre-evolution version shows the OLD schema
    assert(DeltaRead.snapshot(spark, table, v0).columns.toSeq === Seq("id", "name"))

    // incremental read across the evolution boundary
    val incr = DeltaRead.addsBetween(spark, table, v0)
    assert(incr.columns.toSeq === Seq("id", "name", "score"))
    assert(incr.count() === 2L)

    // a same-schema append after evolution needs no mergeSchema flag
    DeltaWrite.append(spark, Seq((5L, "e", 3.5)).toDF("id", "name", "score"), table)
    assert(DeltaRead.snapshot(spark, table).count() === 5L)

    // checkpoint after evolution preserves the merged schema + stable id
    DeltaWrite.checkpoint(spark, table)
    // retention-clean everything below the checkpoint: its state must carry
    // the evolved metaData on its own
    (0L to v1).map(v => Paths.get(table, "_delta_log", f"$v%020d.json"))
      .foreach(Files.deleteIfExists(_))
    val replayed = DeltaRead.snapshotInfo(spark, table)
    assert(replayed.schema.fieldNames.toSeq === Seq("id", "name", "score"))
    assert(replayed.metaId === id0)
    assert(DeltaRead.snapshot(spark, table).count() === 5L)
  }

  test("changesBetween: inserts, DV deletes, upsert, SQL surface, and range edges") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_cdc").toString
    def changes(from: Long, to: Long = -1L): Set[(Long, String, String)] =
      DeltaRead.changesBetween(spark, table, from, to)
        .select("id", "name", "_change_type")
        .as[(Long, String, String)].collect().toSet

    val v1 = DeltaWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "x")).toDF("id", "name", "grp"), table)
    val v2 = DeltaWrite.append(spark, Seq((3L, "c", "y")).toDF("id", "name", "grp"), table)
    // append-only range: inserts only (both delete legs skipped)
    assert(changes(v1) === Set((3L, "c", "insert")))

    // deletion vector on a file common to both endpoints → a delete row
    val v3 = DeltaWrite.deleteWhere(spark, table, col("id") === 2L)
    assert(changes(v1) === Set((3L, "c", "insert"), (2L, "b", "delete")))
    assert(changes(v2, v3) === Set((2L, "b", "delete")))

    // upsert (DV-delete + append in ONE commit): old version out, new in
    val v4 = DeltaWrite.upsert(spark, Seq((1L, "a2", "x")).toDF("id", "name", "grp"),
      table, Seq("id"))
    assert(changes(v3, v4) === Set((1L, "a", "delete"), (1L, "a2", "insert")))
    // full mixed-lineage range — the shape addsBetween refuses
    assert(changes(v1) ===
      Set((3L, "c", "insert"), (2L, "b", "delete"), (1L, "a", "delete"), (1L, "a2", "insert")))

    // Lake dispatch + SQL table function produce the identical changelog
    assert(Lake.changesBetween(spark, table, v1).count() === 4L)
    Lake.registerSqlSurface(spark)
    val viaSql = spark.sql(
      s"SELECT id, name, _change_type FROM lake_changes('$table', $v1)")
      .as[(Long, String, String)].collect().toSet
    assert(viaSql === changes(v1))

    // identical endpoints → empty changelog with the _change_type column
    val same = DeltaRead.changesBetween(spark, table, v4, v4)
    assert(same.columns.contains("_change_type") && same.count() === 0L)
    intercept[IllegalArgumentException](DeltaRead.changesBetween(spark, table, 999L))
  }

  test("compact bin-packs small files + purges DVs as a layout-only commit; incremental reads skip it") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_opt").toString
    def data: Set[(Long, String, String)] = rows(DeltaRead.snapshot(spark, table))

    // three small appends (partitioned) + one DV delete
    val v1 = DeltaWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "grp"), table,
      partitionBy = Seq("grp"))
    DeltaWrite.append(spark, Seq((3L, "c", "x")).toDF("id", "name", "grp"), table,
      partitionBy = Seq("grp"))
    DeltaWrite.append(spark, Seq((4L, "d", "y")).toDF("id", "name", "grp"), table,
      partitionBy = Seq("grp"))
    DeltaWrite.deleteWhere(spark, table, col("id") === 2L)
    val before = DeltaRead.snapshotInfo(spark, table)
    val expect = Set((1L, "a", "x"), (3L, "c", "x"), (4L, "d", "y"))
    assert(data === expect)
    assert(before.files.exists(_.dv.isDefined))

    val vc = DeltaWrite.compact(spark, table)
    val after = DeltaRead.snapshotInfo(spark, table)
    assert(vc === before.version + 1)
    assert(after.files.size < before.files.size, "compaction must shrink the file count")
    assert(after.files.forall(_.dv.isEmpty), "compaction must materialize DVs away")
    assert(data === expect, "compaction must not change the data")
    // partition values survive the rewrite
    assert(after.files.flatMap(_.partitionValues.get("grp")).toSet === Set("x", "y"))
    // time travel to the pre-compaction version still reads the old layout
    assert(rows(DeltaRead.snapshot(spark, table, before.version)) === expect)

    // nothing left to do → version unchanged, no empty commit
    assert(DeltaWrite.compact(spark, table) === vc)

    // a range STARTING at the layout commit skips it and reads on; the
    // DV-delete commit earlier in history still refuses adds-only reads
    // (a genuine data change) — stock semantics on both counts
    val v5 = DeltaWrite.append(spark, Seq((5L, "e", "x")).toDF("id", "name", "grp"), table,
      partitionBy = Seq("grp"))
    assert(rows(DeltaRead.addsBetween(spark, table, vc)).map(_._1) === Set(5L))
    assert(v5 === vc + 1)
    intercept[IllegalArgumentException](DeltaRead.addsBetween(spark, table, v1))

    // DV-free lineage: an adds-only range SPANNING a compaction emits the
    // in-range appended rows exactly once — from the rewritten-away
    // original files (still on disk), never from the layout commit's
    // re-adds
    val t2 = Files.createTempDirectory("graft_dw_opt2").toString
    val w1 = DeltaWrite.append(spark, Seq((1L, "a", "x")).toDF("id", "name", "grp"), t2)
    DeltaWrite.append(spark, Seq((2L, "b", "x")).toDF("id", "name", "grp"), t2)
    val wc = DeltaWrite.compact(spark, t2)
    DeltaWrite.append(spark, Seq((3L, "c", "x")).toDF("id", "name", "grp"), t2)
    assert(DeltaRead.snapshotInfo(spark, t2, wc).files.size === 1)
    assert(rows(DeltaRead.addsBetween(spark, t2, w1)).map(_._1) === Set(2L, 3L))
  }

  test("compact with zorderBy re-clusters files so both dimensions skip") {
    import org.apache.spark.sql.functions.{col, min, max, sum}
    val table = Files.createTempDirectory("graft_dw_z").toString
    // x strictly increasing, y cycling — insertion order scatters y
    val df = spark.range(4096).select(
      (col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    DeltaWrite.append(spark, df, table)
    val bytes = DeltaRead.snapshotInfo(spark, table).files.map(_.size).sum
    DeltaWrite.compact(spark, table,
      targetFileBytes = math.max(1L, bytes / 8), zorderBy = Seq("x", "y"))
    val files = DeltaRead.snapshotInfo(spark, table).files
    assert(files.size >= 4, s"z rewrite should split into multiple files, got ${files.size}")
    // a point probe's (x, y) box should touch only a few z-contiguous files
    val covering = files.count { f =>
      val r = spark.read.parquet(f.path)
        .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
      r.getLong(0) <= 5 && 5 <= r.getLong(1) && r.getLong(2) <= 5 && 5 <= r.getLong(3)
    }
    assert(covering <= math.max(2, files.size / 3),
      s"z-order should localize the probe: $covering of ${files.size} file boxes cover it")
    // data intact through the re-layout
    assert(DeltaRead.snapshot(spark, table).count() === 4096L)
    assert(DeltaRead.snapshot(spark, table).agg(sum(col("y"))).head().getLong(0) ===
      4096L / 64 * (0L to 63L).sum)
  }

  test("applyChanges: delete-only keys vanish, updates swap, inserts land — one commit (Delta)") {
    import org.apache.spark.sql.functions.lit
    val table = Files.createTempDirectory("graft_dw_apply").toString
    DeltaWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "name", "grp"), table)
    val v0 = DeltaRead.snapshotInfo(spark, table).version
    // changelog: update key 1 (delete+insert), delete key 2, insert key 4
    val changes = Seq(
      (1L, "a", "x", "delete"), (1L, "a2", "x", "insert"),
      (2L, "b", "x", "delete"),
      (4L, "d", "y", "insert"))
      .toDF("id", "name", "grp", "_change_type")
    val v1 = DeltaWrite.applyChanges(spark, changes, table, Seq("id"))
    assert(v1 === v0 + 1, "the whole apply must be ONE commit")
    assert(rows(DeltaRead.snapshot(spark, table)) ===
      Set((1L, "a2", "x"), (3L, "c", "y"), (4L, "d", "y")))
    // missing _change_type refused
    intercept[IllegalArgumentException](
      DeltaWrite.applyChanges(spark,
        Seq((9L, "z", "x")).toDF("id", "name", "grp"), table, Seq("id")))
    // Iceberg target via the Lake dispatch, same changelog semantics
    val it = Files.createTempDirectory("graft_iw_apply").toString
    IcebergWrite.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "name", "grp"), it)
    Lake.applyChanges(spark, changes, it, Seq("id"))
    assert(rows(IcebergRead.snapshot(spark, it)) ===
      Set((1L, "a2", "x"), (3L, "c", "y"), (4L, "d", "y")))
    // applying an empty changelog is a no-op on the data
    Lake.applyChanges(spark, changes.where(lit(false)), it, Seq("id"))
    assert(rows(IcebergRead.snapshot(spark, it)) ===
      Set((1L, "a2", "x"), (3L, "c", "y"), (4L, "d", "y")))
  }

  test("Lake.sync: restart-safe incremental refresh with marks in the target's metadata") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_sync_src").toString
    val tgt = Files.createTempDirectory("graft_sync_tgt").toString
    val seed = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "name", "grp")
    DeltaWrite.append(spark, seed, src)
    IcebergWrite.append(spark, seed.limit(0), tgt) // empty target, schema only

    // first sync = full refresh
    val f1 = Lake.sync(spark, src, tgt, Seq("id"))
    assert(rows(IcebergRead.snapshot(spark, tgt)) === rows(DeltaRead.snapshot(spark, src)))

    // source evolves: delete, update (upsert), insert
    DeltaWrite.deleteWhere(spark, src, col("id") === 2L)
    DeltaWrite.upsert(spark, Seq((1L, "a2", "x"), (4L, "d", "y")).toDF("id", "name", "grp"),
      src, Seq("id"))
    val f2 = Lake.sync(spark, src, tgt, Seq("id"))
    assert(f2 > f1)
    assert(rows(IcebergRead.snapshot(spark, tgt)) ===
      Set((1L, "a2", "x"), (3L, "c", "y"), (4L, "d", "y")))

    // up-to-date sync commits NOTHING on the target
    val before = IcebergRead.currentSnapshotId(spark, tgt)
    assert(Lake.sync(spark, src, tgt, Seq("id")) === f2)
    assert(IcebergRead.currentSnapshotId(spark, tgt) === before)
    // the mark lives in the target's own metadata (restart-safe)
    assert(IcebergRead.txnVersions(spark, tgt).values.toSeq.contains(f2))

    // reverse direction: Iceberg source → Delta target
    val tgt2 = Files.createTempDirectory("graft_sync_tgt2").toString
    DeltaWrite.append(spark, seed.limit(0), tgt2)
    Lake.sync(spark, tgt, tgt2, Seq("id"))
    assert(rows(DeltaRead.snapshot(spark, tgt2)) === rows(IcebergRead.snapshot(spark, tgt)))
    IcebergWrite.upsert(spark, Seq((5L, "e", "x")).toDF("id", "name", "grp"), tgt, Seq("id"))
    Lake.sync(spark, tgt, tgt2, Seq("id"))
    assert(rows(DeltaRead.snapshot(spark, tgt2)) === rows(IcebergRead.snapshot(spark, tgt)))
  }

  test("vacuum reclaims only unreferenced files; retained versions keep time traveling") {
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft_dw_vac").toString
    DeltaWrite.append(spark, Seq((1L, "a", "x"), (2L, "b", "x")).toDF("id", "name", "grp"), table)
    DeltaWrite.append(spark, Seq((3L, "c", "x")).toDF("id", "name", "grp"), table)
    DeltaWrite.deleteWhere(spark, table, col("id") === 2L)
    val vPre = DeltaRead.snapshotInfo(spark, table).version
    val vc = DeltaWrite.compact(spark, table)
    val expect = Set((1L, "a", "x"), (3L, "c", "x"))
    assert(rows(DeltaRead.snapshot(spark, table)) === expect)

    // retain 2 versions: the pre-compaction snapshot (and its DV) survives
    val deleted2 = DeltaWrite.vacuum(spark, table, retainLastVersions = 2, minFileAgeMs = 0L)
    assert(rows(DeltaRead.snapshot(spark, table)) === expect)
    assert(rows(DeltaRead.snapshot(spark, table, vPre)) === expect,
      "version inside the retention horizon must still time travel")

    // retain 1: only the compacted files remain; older reads now fail
    val deleted1 = DeltaWrite.vacuum(spark, table, minFileAgeMs = 0L)
    assert((deleted1 ++ deleted2).nonEmpty, "compaction left unreferenced files to reclaim")
    assert(rows(DeltaRead.snapshot(spark, table)) === expect)
    assert(rows(Lake.read(spark, table, vc)) === expect)
    intercept[Exception](DeltaRead.snapshot(spark, table, vPre).collect())
    // idempotent: nothing left to reclaim
    assert(DeltaWrite.vacuum(spark, table, minFileAgeMs = 0L).isEmpty)
    // default grace: fresh unreferenced files are NOT reclaimed
    assert(DeltaWrite.vacuum(spark, table, retainLastVersions = 1).isEmpty)
    // Lake dispatch
    assert(Lake.vacuum(spark, table, minFileAgeMs = 0L).isEmpty)
  }
}
