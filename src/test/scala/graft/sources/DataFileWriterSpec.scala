package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The one data-file writer behind both formats: the stats, blooms and
  * record counts its write tasks report must equal a full read-back
  * aggregation over the files it produced, empty inputs write no file, and
  * a failed write leaves only orphans that VACUUM / expiration reclaim. */
class DataFileWriterSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/tbl"

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("b", BooleanType),
    StructField("i", IntegerType), StructField("f", FloatType),
    StructField("x", DoubleType), StructField("s", StringType),
    StructField("d", DateType), StructField("ts", TimestampType),
    StructField("allnull", IntegerType), StructField("p", IntegerType)))

  /** Every stats-supported type, NaN doubles, an all-NULL column, unicode
    * strings and µs timestamps — over three input partitions, the middle
    * one empty. */
  private def frame(n: Int): DataFrame = {
    def row(k: Int): Row = Row(k.toLong, k % 3 == 0, if (k % 7 == 0) null else k * 3,
      k.toFloat / 4, if (k % 5 == 0) Double.NaN else k * 1.5,
      if (k % 4 == 0) null else s"é日-$k-${"z" * (k % 3)}",
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong)),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusNanos(k * 1000123000L)),
      null, k % 2)
    val parts = Seq((0 until n / 2).map(row), Seq.empty[Row], (n / 2 until n).map(row))
    spark.createDataFrame(spark.sparkContext.parallelize(parts, parts.size)
      .flatMap(identity), schema)
  }

  /** The old read-back, kept as the reference: one aggregation per file
    * over what the writer produced, keyed by the file's absolute path. */
  private def readBack(paths: Seq[String], statCols: Seq[String],
      bloomCols: Seq[String]): Map[String, DataFileWriter.WrittenFile] = {
    val aggs = (count(lit(1)).as("__n") +: statCols.flatMap(c => Seq(
      min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nl_$c")))) ++
      bloomCols.map(c => graft.operators.BloomOps
        .bloomAgg(xxhash64(col(c)), 1000000L, 1024L * 1024).as(s"__bl_$c"))
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val path = new org.apache.hadoop.fs.Path(r.getAs[String]("__f")).toUri.getPath
        path -> DataFileWriter.WrittenFile(path, "", r.getAs[Long]("__n"), 0L, Nil,
          statCols.map(c => DataFileWriter.ColumnStats(c, r.getAs[Any](s"__mn_$c"),
            r.getAs[Any](s"__mx_$c"), r.getAs[Long](s"__nl_$c"))),
          bloomCols.map(c => c -> r.getAs[Array[Byte]](s"__bl_$c")))
      }.toMap
  }

  private val statCols = schema.fieldNames.toSeq

  private def parquetUnder(dir: String): Set[String] =
    if (!Files.isDirectory(Paths.get(dir))) Set.empty
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_delta_log")).toSet
      finally s.close()
    }

  test("delta: per-file stats JSON and blooms equal the read-back; empty writes add no file") {
    Seq(Nil, Seq("p")).foreach { parts =>
      val t = tmp("graft_dfw_delta")
      // empty creating append: protocol + metaData only, no data file
      DeltaWrite.append(spark, frame(40).limit(0), t, parts)
      assert(parquetUnder(t).isEmpty)
      DeltaWrite.setProperties(spark, t, Map("graft.bloom.columns" -> "s,x"))
      DeltaWrite.append(spark, frame(40), t, parts)
      val files = DeltaRead.snapshotInfo(spark, t).files
      assert(files.size === 2, "one file per non-empty input partition / partition value")
      val ref = readBack(files.map(_.path), statCols.filterNot(parts.contains), Seq("s", "x"))
      files.foreach { f =>
        assert(f.stats.contains(DeltaWrite.statsJson(ref(f.path))), s"stats of ${f.path}")
      }
      assert(ref.values.map(_.rows).sum === 40L)
      // empty append to an existing table: a commit with no add action
      val v = DeltaWrite.append(spark, frame(40).limit(0), t, parts)
      val log = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"$v%020d.json")), "UTF-8")
      assert(!log.contains("\"add\""), log)
      assert(parquetUnder(t).size === 2)
      assert(DeltaRead.snapshot(spark, t).count() === 40L)
    }
  }

  test("iceberg: record_count, bounds and bloom sidecar equal the read-back; empty writes add no file") {
    Seq(Nil, Seq("p")).foreach { parts =>
      val t = tmp("graft_dfw_ice")
      IcebergWrite.append(spark, frame(40).limit(0), t, parts)
      assert(parquetUnder(t).isEmpty)
      IcebergWrite.setProperties(spark, t, Map("graft.bloom.columns" -> "s,x"))
      IcebergWrite.append(spark, frame(40), t, parts)
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(IcebergRead.metadataFile(t))
      val snap = meta.path("snapshots").elements().asScala
        .find(_.path("snapshot-id").asLong() == meta.path("current-snapshot-id").asLong())
        .get
      val ids = meta.path("schemas").elements().asScala.toSeq.last.path("fields")
        .elements().asScala.map(f => f.path("id").asInt() -> f.path("name").asText()).toMap
      val entries = IcebergRead.avroRecords(snap.path("manifest-list").asText())
        .flatMap(m => IcebergRead.avroRecords(m.get("manifest_path").toString))
        .map(_.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord])
      assert(entries.size === 2)
      val ref = readBack(entries.map(_.get("file_path").toString), statCols, Seq("s", "x"))
      def bounds(r: org.apache.avro.generic.GenericRecord, k: String): Map[String, Any] =
        Option(r.get(k)).toSeq.flatMap(_.asInstanceOf[java.util.List[
          org.apache.avro.generic.GenericRecord]].asScala).map { kv =>
          val c = ids(kv.get("key").asInstanceOf[Int])
          val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
          val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
          c -> IcebergBounds.decode(schema(c).dataType, bytes)
        }.toMap
      val sidecars = IcebergRead.bloomSidecars(t)
      entries.foreach { e =>
        val r = ref(e.get("file_path").toString)
        assert(e.get("record_count") === r.rows)
        def same(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Double, y: Double) => x.equals(y) // NaN == NaN
          case (x: Float, y: Float) => x.equals(y)
          case _ => a == b
        }
        val lower = bounds(e, "lower_bounds")
        val upper = bounds(e, "upper_bounds")
        r.stats.foreach { s =>
          assert(same(lower.getOrElse(s.name, null), s.min), s"lower ${s.name}")
          assert(same(upper.getOrElse(s.name, null), s.max), s"upper ${s.name}")
        }
        val blooms = sidecars(e.get("file_path").toString)
        r.blooms.foreach { case (c, b) => assert(blooms(c).toSeq === b.toSeq, s"bloom $c") }
      }
      // empty append to an existing table: a snapshot with no data file
      IcebergWrite.append(spark, frame(40).limit(0), t, parts)
      assert(parquetUnder(t).size === 2)
      assert(IcebergRead.snapshot(spark, t).count() === 40L)
    }
  }

  test("a failed write leaves the table untouched; vacuum / expiration reclaim its orphans") {
    val boom = udf { (i: Long) =>
      if (i == 50L) throw new IllegalStateException("injected write failure")
      i * 2
    }
    // one input partition: the failing row comes after the task opened its
    // file, so the failed attempt leaves a partial file under the root
    val bad = spark.range(0, 100, 1, 1).select(col("id"), boom(col("id")).as("v"))
    val good = spark.range(0, 10).select(col("id"), (col("id") * 2).as("v"))
    def rows(df: DataFrame): Seq[(Long, Long)] = {
      import spark.implicits._
      df.select("id", "v").as[(Long, Long)].collect().toSeq.sorted
    }

    val dt = tmp("graft_dfw_fail_delta")
    DeltaWrite.append(spark, good, dt)
    val committed = parquetUnder(dt)
    val before = rows(DeltaRead.snapshot(spark, dt))
    intercept[Exception](DeltaWrite.append(spark, bad, dt))
    assert(DeltaRead.snapshotInfo(spark, dt).version === 0L)
    assert(rows(DeltaRead.snapshot(spark, dt)) === before)
    val orphans = parquetUnder(dt) -- committed
    assert(orphans.nonEmpty, "the failed attempt should leave its partial file")
    val vacuumed = DeltaWrite.vacuum(spark, dt, minFileAgeMs = 0L)
    assert(vacuumed.toSet === orphans)
    assert(parquetUnder(dt) === committed)
    assert(rows(DeltaRead.snapshot(spark, dt)) === before)

    val it = tmp("graft_dfw_fail_ice")
    IcebergWrite.append(spark, good, it)
    IcebergWrite.append(spark, good, it) // gives expiration a snapshot to drop
    val iceCommitted = parquetUnder(it)
    val iceBefore = rows(IcebergRead.snapshot(spark, it))
    val head = IcebergRead.currentSnapshotId(spark, it)
    intercept[Exception](IcebergWrite.append(spark, bad, it))
    assert(IcebergRead.currentSnapshotId(spark, it) === head)
    assert(rows(IcebergRead.snapshot(spark, it)) === iceBefore)
    val iceOrphans = parquetUnder(it) -- iceCommitted
    assert(iceOrphans.nonEmpty, "the failed attempt should leave its partial file")
    val expired = IcebergWrite.expireSnapshots(spark, it, retainLast = 1, minFileAgeMs = 0L)
    assert(expired.filter(_.endsWith(".parquet")).toSet === iceOrphans)
    assert(parquetUnder(it) === iceCommitted)
    assert(rows(IcebergRead.snapshot(spark, it)) === iceBefore)

    // a single-snapshot table has nothing to expire; its orphans are
    // reclaimed all the same, and no new metadata version is claimed
    val one = tmp("graft_dfw_fail_ice1")
    IcebergWrite.append(spark, good, one)
    val oneCommitted = parquetUnder(one)
    intercept[Exception](IcebergWrite.append(spark, bad, one))
    val oneOrphans = parquetUnder(one) -- oneCommitted
    assert(oneOrphans.nonEmpty, "the failed attempt should leave its partial file")
    val metaBefore = new java.io.File(one, "metadata").list().toSet
    assert(IcebergWrite.expireSnapshots(spark, one, minFileAgeMs = 0L).toSet === oneOrphans)
    assert(parquetUnder(one) === oneCommitted)
    assert(new java.io.File(one, "metadata").list().toSet === metaBefore)
    assert(rows(IcebergRead.snapshot(spark, one)) === rows(good))
  }
}
