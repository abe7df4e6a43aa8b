package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables}

/** T1–T3 (SURVEY.md §2.1): CSV/JSONL round-trips and the Hive-style
  * partitioned sink (the reference's staging-bucket key structure). Each
  * query physically writes and re-reads through the sink+source pair, then
  * hash-matches the original via the oracle. */
object IoQueries {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val t1 = GQuery(
    "t1_csv_roundtrip",
    (s, dir) => {
      val nation = Tables(s, dir, "nation")
      val out = tmp("graft_t1_csv")
      nation.write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("mode", "PERMISSIVE")
        .schema(nation.schema).csv(out)
        .orderBy(col("n_nationkey"))
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  val t2 = GQuery(
    "t2_jsonl_roundtrip",
    (s, dir) => {
      val region = Tables(s, dir, "region")
      val out = tmp("graft_t2_jsonl")
      region.write.mode("overwrite").json(out)
      s.read.schema(region.schema).json(out)
        .orderBy(col("r_regionkey"))
    },
    Some("SELECT * FROM region ORDER BY r_regionkey"))

  val t3 = GQuery(
    "t3_partitioned_sink",
    (s, dir) => {
      val out = tmp("graft_t3_part")
      Tables(s, dir, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Avro container-file round-trip through [[graft.sources.AvroIo]]
    * (hand-rolled on the Avro core API — no spark-avro module on this
    * classpath): nation written as one OCF per partition and read back,
    * plus an events leg exercising the timestamp-micros logical type and
    * a multi-file layout. Hash-matching the original proves the
    * schema/value mapping loses nothing either direction. */
  val t1avro = GQuery(
    "t_avro_roundtrip",
    (s, dir) => {
      val nation = Tables(s, dir, "nation")
      val out = tmp("graft_t1_avro")
      graft.sources.AvroIo.write(nation, out)
      graft.sources.AvroIo.read(s, out)
        .orderBy(col("n_nationkey"))
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** Avro leg two: a MULTI-FILE layout (4 writer partitions → 4 OCFs,
    * file-granular read tasks) carrying the timestamp-micros logical
    * type; the aggregate (incl. max(ts) rendered as text) hash-matches
    * the parquet original, so the µs epoch mapping is exact both ways. */
  val t2avro = GQuery(
    "t_avro_events",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("value"), col("event_type"))
      val out = tmp("graft_t2_avro_ev")
      graft.sources.AvroIo.write(ev.repartition(4), out)
      graft.sources.AvroIo.read(s, out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_ts"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value,
        strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** ORC round-trip (BASELINE.json names Parquet/ORC as the storage pair;
    * DuckDB reads the oracle from the original parquet — content identical). */
  val t1orc = GQuery(
    "t1_orc_roundtrip",
    (s, dir) => {
      val nation = Tables(s, dir, "nation")
      val out = tmp("graft_t1_orc")
      nation.write.mode("overwrite").orc(out)
      s.read.schema(nation.schema).orc(out)
        .orderBy(col("n_nationkey"))
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** File-level data skipping (DataSkipping): write orders clustered by
    * o_orderkey, collect per-file stats, answer a selective range query by
    * reading only surviving files. The oracle is the plain filter — the
    * skipping scan must be semantically invisible (pruned-file counts are
    * asserted in DataSkippingSpec). */
  val tskip = GQuery(
    "t_skipping_scan",
    (s, dir) => {
      val out = tmp("graft_skipscan")
      Tables(s, dir, "orders")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      val stats = graft.operators.DataSkipping.collectStats(s, out, Seq("o_orderkey"))
      val (df, _, _) = graft.operators.DataSkipping.scan(s, out, stats, col("o_orderkey") <= 1000)
      df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
    Some("""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey <= 1000"""))

  /** Null-count data skipping: IS NULL / IS NOT NULL probes pruned on the
    * per-file null counts — an all-null file can never satisfy IS NOT
    * NULL (nulls == rows), a null-free file never IS NULL. The nullable
    * column is derived from o_orderkey so the range layout clusters nulls
    * into whole files; prune counts are asserted in DataSkippingSpec, the
    * oracle pins the visible results. */
  val tnullskip = GQuery(
    "t_null_skipping",
    (s, dir) => {
      val out = tmp("graft_nullskip")
      Tables(s, dir, "orders")
        .withColumn("v", when(col("o_orderkey") > 2000, col("o_totalprice")))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      val stats = graft.operators.DataSkipping.collectStats(s, out, Seq("o_orderkey", "v"))
      val (nn, _, _) = graft.operators.DataSkipping.scan(s, out, stats, col("v").isNotNull)
      val (nl, _, _) = graft.operators.DataSkipping.scan(s, out, stats, col("v").isNull)
      val a = nn.agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("total"))
        .withColumn("scope", lit("not_null"))
      val b = nl.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .withColumn("scope", lit("null_rows"))
      a.unionByName(b).select(col("scope"), col("n"), col("total")).orderBy(col("scope"))
    },
    Some("""SELECT 'not_null' AS scope, count(*) AS n,
        round(sum(o_totalprice), 2) AS total FROM orders WHERE o_orderkey > 2000
      UNION ALL
      SELECT 'null_rows', count(*), round(sum(o_totalprice), 2)
      FROM orders WHERE o_orderkey <= 2000
      ORDER BY scope"""))

  /** Bloom-filter data skipping: a HASH-layout table (every file's
    * [min, max] spans the whole key domain, so interval pruning keeps all
    * files) probed by point/IN predicates on a high-cardinality string key
    * through per-file bloom sketches. Correctness contract is the same as
    * t_skipping_scan: the pruned scan must equal the full-scan filter;
    * pruned-file counts are asserted in DataSkippingSpec. */
  val tbloom = GQuery(
    "t_bloom_skipping",
    (s, dir) => {
      val out = tmp("graft_bloomscan")
      Tables(s, dir, "orders")
        .withColumn("ok_str", concat(lit("K"), col("o_orderkey")))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      val stats = graft.operators.DataSkipping.collectStats(s, out, Seq("o_orderkey"),
        bloomCols = Seq("ok_str"), bloomItems = 10000L)
      val (df, _, _) = graft.operators.DataSkipping.scan(s, out, stats,
        col("ok_str").isin("K500", "K1500", "K-absent"))
      df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
    Some("""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders WHERE concat('K', o_orderkey) IN ('K500', 'K1500', 'K-absent')"""))

  /** PERSISTED bloom skipping on a Delta table: the table opts into
    * per-file bloom sketches (`ALTER TABLE … SET BLOOM FILTER (ok_str)` →
    * the extended `graftBloom` key in each add action's stats), the data
    * lands HASH-laid-out (every file's [min, max] spans the whole key
    * domain — interval pruning keeps everything), and a point/IN
    * statement over the lake path prunes through the sketches persisted
    * in the LOG — no side stats table, stock-reader-compatible. Same
    * invisibility contract as t_bloom_skipping (its plain-layout twin):
    * the pruned scan re-applies the exact predicate, so the result equals
    * the full-scan filter; prune-file counts asserted in DeltaBloomSpec. */
  val tdeltaBloom = GQuery(
    "t_delta_bloom_skipping",
    (s, dir) => {
      val t = tmp("graft_deltabloom_q") + "/tbl"
      val src = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("ok_str", concat(lit("K"), col("o_orderkey")))
        .repartition(8, col("o_orderkey"))
      graft.sources.DeltaWrite.append(s, src.limit(0), t) // schema-only seed
      graft.sources.Lake.sql(s,
        s"ALTER TABLE '$t' SET BLOOM FILTER (ok_str)")
      graft.sources.DeltaWrite.append(s, src, t)
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
            min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM '$t' WHERE ok_str IN ('K500', 'K1500', 'K-absent')""")
    },
    Some("""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders WHERE concat('K', o_orderkey) IN ('K500', 'K1500', 'K-absent')"""))

  /** Token-bloom text-search skipping: per-file blooms over every
    * whitespace token of `text` answer "which files could contain a
    * document with this term" — full-text file pruning where min/max and
    * value blooms are useless (every file's text domain overlaps). Same
    * invisibility contract as the other skipping queries: the pruned scan
    * re-applies the exact predicate, so the result equals the full-scan
    * filter; prune counts are asserted in DataSkippingSpec. */
  val ttokens = GQuery(
    "t_token_skipping",
    (s, dir) => {
      val out = tmp("graft_tokscan")
      Tables(s, dir, "documents")
        .repartitionByRange(50, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      val stats = graft.operators.DataSkipping.collectStats(s, out, Seq("doc_id"),
        tokenBloomCols = Seq("text"), bloomItems = 100000L)
      val (df, _, _) = graft.operators.DataSkipping.scan(s, out, stats,
        array_contains(split(col("text"), " "), "dup"))
      df.agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents WHERE list_contains(string_split(text, ' '), 'dup')"""))

  /** Iceberg manifest column bounds end-to-end: a range-clustered append
    * records spec lower/upper_bounds per data file; scanPruned translates
    * a value predicate against the decoded bounds and scans only the
    * surviving files. Same invisibility contract as the other skipping
    * queries: result equals the full-scan filter (prune counts asserted
    * in IcebergStatsSpec). */
  val ticebergStats = GQuery(
    "t_iceberg_stats_prune",
    (s, dir) => {
      val table = tmp("graft_ice_stats") + "/tbl"
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey")),
        table)
      val (df, _, _) = graft.sources.IcebergRead.scanPruned(s, table,
        col("o_orderkey") <= 1000L)
      df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
    Some("""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey <= 1000"""))

  /** Delta per-file stats end-to-end (the protocol's add.stats JSON): a
    * range-clustered append records numRecords/minValues/maxValues/
    * nullCount per file; scanPruned prunes files on the decoded stats and
    * the result equals the full-scan filter — the Delta twin of
    * t_iceberg_stats_prune (prune counts asserted in DeltaStatsSpec). */
  val tdeltaStats = GQuery(
    "t_delta_stats_prune",
    (s, dir) => {
      val table = tmp("graft_delta_stats") + "/tbl"
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey")),
        table)
      val (df, _, _) = graft.sources.DeltaRead.scanPruned(s, table,
        col("o_orderkey") <= 1000L)
      df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
    ticebergStats.oracle)

  /** External-Delta interop end-to-end (sources.DeltaRead): author a REAL
    * `_delta_log` over partitioned parquet written from events (exactly the
    * layout another engine's Delta writer produces — partition column only
    * in the log, percent-encodable relative paths), commit v0 = all
    * partitions, v1 = drop the 'click' partition, then read BOTH versions
    * back through the log-replay reader. Oracle recomputes both snapshots
    * from the original events table. */
  val tdelta = GQuery(
    "t_delta_read",
    (s, dir) => {
      val table = tmp("graft_delta_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(s"$table/files")
      val schemaJson = org.apache.spark.sql.types.StructType(
        ev.schema.filter(_.name != "event_type") :+
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType)).json
      // list written part files per partition dir → add actions
      val root = new java.io.File(s"$table/files")
      val addsByType = root.listFiles().filter(_.getName.startsWith("event_type="))
        .flatMap { d =>
          val etype = d.getName.stripPrefix("event_type=")
          d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
            etype -> (s"""{"add":{"path":"files/${d.getName}/${f.getName}",""" +
              s""""partitionValues":{"event_type":"$etype"},"size":1,""" +
              s""""modificationTime":0,"dataChange":true}}""")
          }
        }.toSeq
      val logDir = java.nio.file.Paths.get(table, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      val meta =
        s"""{"metaData":{"id":"graft-q","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${schemaJson.replace("\\", "\\\\").replace("\"", "\\\"")}",""" +
          s""""partitionColumns":["event_type"],"configuration":{},"createdTime":0}}"""
      java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
        ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" +: meta +:
          addsByType.map(_._2)).mkString("", "\n", "\n"))
      java.nio.file.Files.writeString(logDir.resolve(f"${1L}%020d.json"),
        addsByType.filter(_._1 == "click")
          .map { case (_, add) =>
            val path = add.split("\"path\":\"")(1).split("\"")(0)
            s"""{"remove":{"path":"$path","deletionTimestamp":0,"dataChange":true}}"""
          }.mkString("", "\n", "\n"))
      def agg(v: Long) = graft.sources.DeltaRead.snapshot(s, table, v)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("version", lit(v))
      agg(0L).unionByName(agg(1L))
        .select(col("version"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("version"), col("event_type"))
    },
    Some("""SELECT 0 AS version, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 1, event_type, count(*), round(sum(value), 2)
      FROM events WHERE event_type <> 'click' GROUP BY event_type
      ORDER BY version, event_type"""))

  /** External-Iceberg interop end-to-end (sources.IcebergRead): author a
    * REAL Iceberg metadata tree from events — two parquet data files, Avro
    * manifests/manifest-lists written with the Avro core API, v2 metadata
    * JSON with two snapshots (all data / 'click' file deleted) — and read
    * BOTH snapshots back through the spec-path reader. Same oracle shape
    * as t_delta_read. */
  val ticeberg = GQuery(
    "t_iceberg_read",
    (s, dir) => {
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val table = tmp("graft_ice_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      def writeOne(df: org.apache.spark.sql.DataFrame, name: String): String = {
        val stage = tmp("graft_ice_stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(table, "data", name)
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(part.toPath, dest)
        dest.toString
      }
      val fClick = writeOne(ev.where(col("event_type") === "click"), "click.parquet")
      val fRest = writeOne(ev.where(col("event_type") =!= "click"), "rest.parquet")

      val entrySchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          {"name":"status","type":"int"},
          {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
            {"name":"content","type":"int","default":0},
            {"name":"file_path","type":"string"},
            {"name":"file_format","type":"string"},
            {"name":"record_count","type":"long"}]}}]}""")
      val listSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          {"name":"manifest_path","type":"string"},
          {"name":"content","type":"int","default":0}]}""")
      def avro(path: String, schema: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
        val w = new org.apache.avro.file.DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
        w.create(schema, new java.io.File(path))
        try rows.foreach(w.append) finally w.close()
      }
      def entry(status: Int, path: String): GenericRecord = {
        val d = new GenericData.Record(entrySchema.getField("data_file").schema())
        d.put("content", 0); d.put("file_path", s"file://$path")
        d.put("file_format", "PARQUET"); d.put("record_count", 1L)
        val e = new GenericData.Record(entrySchema)
        e.put("status", status); e.put("data_file", d)
        e
      }
      def ref(path: String): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", path); r.put("content", 0)
        r
      }
      avro(s"$table/metadata/m0.avro", entrySchema, Seq(entry(1, fClick), entry(1, fRest)))
      avro(s"$table/metadata/ml0.avro", listSchema, Seq(ref(s"$table/metadata/m0.avro")))
      avro(s"$table/metadata/m1.avro", entrySchema, Seq(entry(2, fClick), entry(0, fRest)))
      avro(s"$table/metadata/ml1.avro", listSchema, Seq(ref(s"$table/metadata/m1.avro")))
      val fields =
        """[{"id":1,"name":"event_id","required":false,"type":"long"},
           {"id":2,"name":"value","required":false,"type":"double"},
           {"id":3,"name":"event_type","required":false,"type":"string"}]"""
          .replaceAll("\n\\s*", "")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(table, "metadata", "v2.metadata.json"),
        (s"""{"format-version":2,"table-uuid":"graft-q","location":"unused",
          "current-snapshot-id":1,
          "schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
          "current-schema-id":0,
          "snapshots":[{"snapshot-id":0,"manifest-list":"$table/metadata/ml0.avro"},
                       {"snapshot-id":1,"manifest-list":"$table/metadata/ml1.avro"}]}""")
          .replaceAll("\n\\s*", ""))

      def agg(snapId: Long) = graft.sources.IcebergRead.snapshot(s, table, snapId)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("version", lit(snapId))
      agg(0L).unionByName(agg(1L))
        .select(col("version"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("version"), col("event_type"))
    },
    tdelta.oracle)

  /** Delta WRITER round-trip (sources.DeltaWrite → sources.DeltaRead): two
    * appends through the writer's own commit protocol (partitioned layout,
    * LakeLog version claims), both versions read back through the log
    * reader. v0 = events without clicks, v1 = + clicks. */
  val tdeltaRt = GQuery(
    "t_delta_roundtrip",
    (s, dir) => {
      val table = tmp("graft_deltaw_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type") =!= "click"),
        table, partitionBy = Seq("event_type"))
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "click"),
        table, partitionBy = Seq("event_type"))
      def agg(v: Long) = graft.sources.DeltaRead.snapshot(s, table, v)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("version", lit(v))
      agg(0L).unionByName(agg(1L))
        .select(col("version"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("version"), col("event_type"))
    },
    Some("""SELECT 0 AS version, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type <> 'click' GROUP BY event_type
      UNION ALL
      SELECT 1, event_type, count(*), round(sum(value), 2)
      FROM events GROUP BY event_type
      ORDER BY version, event_type"""))

  /** S9 outbound: write an Iceberg v2 table (two append snapshots), read
    * both back through the open metadata → manifest-list → manifest chain,
    * incl. time travel to the first snapshot. Oracle recomputes both
    * snapshot states from the source rows. */
  val ticebergRt = GQuery(
    "t_iceberg_roundtrip",
    (s, dir) => {
      val table = tmp("graft_icebergw_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val s1 = graft.sources.IcebergWrite.append(s, ev.where(col("event_type") =!= "click"), table)
      val s2 = graft.sources.IcebergWrite.append(s, ev.where(col("event_type") === "click"), table)
      def agg(snap: Long) = graft.sources.IcebergRead.snapshot(s, table, snap)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("snap", lit(snap))
      agg(s1).unionByName(agg(s2))
        .select(col("snap"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("snap"), col("event_type"))
    },
    Some("""SELECT 1 AS snap, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type <> 'click' GROUP BY event_type
      UNION ALL
      SELECT 2, event_type, count(*), round(sum(value), 2)
      FROM events GROUP BY event_type
      ORDER BY snap, event_type"""))

  /** S9 merge-on-read: append events, DELETE a predicate's rows as v2
    * position-delete files (no data file rewritten), then aggregate the
    * post-delete state plus the time-traveled pre-delete snapshot. Oracle
    * recomputes both states from the source rows — a delete that leaks or
    * over-applies breaks the hash. */
  val ticebergMor = GQuery(
    "t_iceberg_mor",
    (s, dir) => {
      val table = tmp("graft_icebergm_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val s1 = graft.sources.IcebergWrite.append(s, ev, table)
      val s2 = graft.sources.IcebergWrite.deleteWhere(s, table,
        col("event_type") === "click" && col("value") < lit(50.0))
      def agg(snap: Long, label: Int) = graft.sources.IcebergRead.snapshot(s, table, snap)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("state", lit(label))
      agg(s2, 1).unionByName(agg(s1, 0))
        .select(col("state"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("state"), col("event_type"))
    },
    Some("""SELECT 0 AS state, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 1, event_type, count(*), round(sum(value), 2)
      FROM events WHERE NOT (event_type = 'click' AND value < 50.0) GROUP BY event_type
      ORDER BY state, event_type"""))

  /** S8 merge-on-read: append events to a Delta table, DELETE a predicate
    * via deletion vectors (roaring bitmaps, protocol v3 feature — no data
    * file rewritten), aggregate the post-delete state plus the
    * time-traveled pre-delete version. Oracle recomputes both states from
    * the source rows — a DV that leaks or over-applies breaks the hash. */
  val tdeltaDv = GQuery(
    "t_delta_dv",
    (s, dir) => {
      val table = tmp("graft_deltadv_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val v0 = graft.sources.DeltaWrite.append(s, ev, table)
      val v1 = graft.sources.DeltaWrite.deleteWhere(s, table,
        col("event_type") === "view" && col("value") >= lit(70.0))
      def agg(v: Long, label: Int) = graft.sources.DeltaRead.snapshot(s, table, v)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("state", lit(label))
      agg(v1, 1).unionByName(agg(v0, 0))
        .select(col("state"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("state"), col("event_type"))
    },
    Some("""SELECT 0 AS state, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 1, event_type, count(*), round(sum(value), 2)
      FROM events WHERE NOT (event_type = 'view' AND value >= 70.0) GROUP BY event_type
      ORDER BY state, event_type"""))

  /** S8u MERGE/UPSERT on Delta: append events, then one atomic upsert
    * commit that (a) replaces every 'click' row's value (key match on
    * event_id → DV-delete + re-add) and (b) inserts brand-new rows
    * (negated ids, type 'new'). Post-upsert state plus the time-traveled
    * pre-upsert version; oracle recomputes both from the source rows — a
    * merge that drops, duplicates, or half-applies a key breaks the
    * hash. */
  val tdeltaUpsert = GQuery(
    "t_delta_upsert",
    (s, dir) => {
      val table = tmp("graft_deltaup_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val v0 = graft.sources.DeltaWrite.append(s, ev, table)
      val updates = ev.where(col("event_type") === "click")
        .withColumn("value", col("value") + lit(1000.0))
      val inserts = ev.where(col("event_type") === "view")
        .select((-col("event_id")).as("event_id"), (col("value") / 2).as("value"),
          lit("new").as("event_type"))
      val v1 = graft.sources.DeltaWrite.upsert(
        s, updates.unionByName(inserts), table, Seq("event_id"))
      def agg(v: Long, label: Int) = graft.sources.DeltaRead.snapshot(s, table, v)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("state", lit(label))
      agg(v1, 1).unionByName(agg(v0, 0))
        .select(col("state"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("state"), col("event_type"))
    },
    Some("""SELECT 0 AS state, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 1, event_type, count(*), round(sum(value), 2) FROM (
        SELECT event_id,
               CASE WHEN event_type = 'click' THEN value + 1000 ELSE value END AS value,
               event_type
        FROM events
        UNION ALL
        SELECT -event_id, value / 2, 'new' FROM events WHERE event_type = 'view'
      ) GROUP BY event_type
      ORDER BY state, event_type"""))

  /** S9p: partitioned Iceberg writes + manifest-level partition pruning —
    * an identity-partitioned table (one partition read via snapshotPruned;
    * files of other partitions never reach the scan) AND a hidden-
    * partitioned table (`day(ts)` transform: the partition record carries
    * the UTC day ordinal, pruned with a day-range predicate the oracle
    * mirrors as a timestamp comparison). Oracle recomputes all scopes
    * from the source rows. */
  val ticebergPart = GQuery(
    "t_iceberg_part",
    (s, dir) => {
      val table = tmp("graft_icebergp_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      graft.sources.IcebergWrite.append(s, ev, table, partitionBy = Seq("event_type"))
      val pruned = graft.sources.IcebergRead
        .snapshotPruned(s, table, pv => pv("event_type") == "click")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("scope", lit("click_pruned"))
      val full = graft.sources.IcebergRead.snapshot(s, table)
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("scope", lit("full"))
      // hidden partitioning: day(ts) — epoch-day 19733 == 2024-01-11 UTC;
      // a file holds exactly one ts_day, so the manifest prune is exactly
      // the row predicate ts < '2024-01-11'
      val tableDay = tmp("graft_icebergd_q")
      val evTs = Tables(s, dir, "events").select(col("event_id"), col("value"), col("ts"))
      graft.sources.IcebergWrite.append(s, evTs, tableDay, partitionBy = Seq("day(ts)"))
      val dayPruned = graft.sources.IcebergRead
        .snapshotPruned(s, tableDay, pv => pv("ts_day").asInstanceOf[Int] < 19733)
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("scope", lit("day_pruned"))
      pruned.unionByName(full).unionByName(dayPruned)
        .select(col("scope"), col("cnt"), col("sum_value"))
        .orderBy(col("scope"))
    },
    Some("""SELECT 'click_pruned' AS scope, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT 'day_pruned', count(*), round(sum(value), 2)
      FROM events WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
      UNION ALL
      SELECT 'full', count(*), round(sum(value), 2) FROM events
      ORDER BY scope"""))

  /** S9h: the REMAINING hidden-partitioning transforms end-to-end —
    * `hour(ts)` + `truncate(1, event_type)` in one spec (partition records
    * carry the epoch-hour ordinal and the 1-codepoint prefix; manifest
    * prunes mirror row predicates exactly), and `month(ts)` on a second
    * table with both a hit and a guaranteed-miss month ordinal. Oracle
    * recomputes every scope from the raw events. Epoch anchors: 2024-01-01
    * = day 19723, so 2024-01-02 06:00 UTC = hour 19724*24+6 = 473382;
    * 2024-01 = month (2024-1970)*12 = 648. */
  val ticebergHiddenPart = GQuery(
    "t_iceberg_hidden_part",
    (s, dir) => {
      val table = tmp("graft_iceberght_q")
      val ev = Tables(s, dir, "events")
        .where(col("ts") < lit("2024-01-04 00:00:00").cast("timestamp"))
        .select(col("event_id"), col("value"), col("ts"), col("event_type"))
      graft.sources.IcebergWrite.append(s, ev, table,
        partitionBy = Seq("hour(ts)", "truncate(1, event_type)"))
      def agg(df: org.apache.spark.sql.DataFrame, scope: String) =
        df.agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("scope", lit(scope))
      val hourPruned = agg(graft.sources.IcebergRead.snapshotPruned(s, table,
        pv => pv("ts_hour").asInstanceOf[Int] < 473382), "hour_pruned")
      val truncPruned = agg(graft.sources.IcebergRead.snapshotPruned(s, table,
        pv => pv("event_type_trunc") == "c"), "trunc_pruned")
      val tableM = tmp("graft_icebergmo_q")
      val evAll = Tables(s, dir, "events").select(col("event_id"), col("value"), col("ts"))
      graft.sources.IcebergWrite.append(s, evAll, tableM, partitionBy = Seq("month(ts)"))
      val monthHit = agg(graft.sources.IcebergRead.snapshotPruned(s, tableM,
        pv => pv("ts_month") == 648), "month_hit")
      val monthMiss = agg(graft.sources.IcebergRead.snapshotPruned(s, tableM,
        pv => pv("ts_month") == 649), "month_miss")
      hourPruned.unionByName(truncPruned).unionByName(monthHit).unionByName(monthMiss)
        .select(col("scope"), col("cnt"), col("sum_value"))
        .orderBy(col("scope"))
    },
    Some("""SELECT 'hour_pruned' AS scope, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE ts < TIMESTAMP '2024-01-02 06:00:00'
      UNION ALL
      SELECT 'month_hit', count(*), round(sum(value), 2) FROM events
      UNION ALL
      SELECT 'month_miss', count(*), round(sum(value), 2) FROM events WHERE false
      UNION ALL
      SELECT 'trunc_pruned', count(*), round(sum(value), 2)
      FROM events WHERE ts < TIMESTAMP '2024-01-04 00:00:00' AND event_type LIKE 'c%'
      ORDER BY scope"""))

  /** S9pe: Iceberg PARTITION-SPEC EVOLUTION end-to-end — first half of the
    * events appended under identity(event_type), the spec evolved
    * (metadata-only) to day(ts), second half appended under the new
    * layout; scans and MOR deletes must span both spec generations
    * transparently. Oracle = the same slices over the raw events. */
  val ticebergSpecEvo = GQuery(
    "t_iceberg_spec_evo",
    (s, dir) => {
      val table = tmp("graft_ice_specevo_q")
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"), col("ts"))
      graft.sources.IcebergWrite.append(s,
        ev.where(pmod(col("event_id"), lit(2)) === 0), table,
        partitionBy = Seq("event_type"))
      graft.sources.IcebergWrite.evolvePartitionSpec(s, table, Seq("day(ts)"))
      graft.sources.IcebergWrite.append(s,
        ev.where(pmod(col("event_id"), lit(2)) === 1), table,
        partitionBy = Seq("day(ts)"))
      graft.sources.IcebergWrite.deleteWhere(s, table, col("event_type") === "error")
      graft.sources.IcebergRead.snapshot(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type <> 'error'
      GROUP BY event_type ORDER BY event_type"""))

  /** S9wap: Iceberg WRITE-AUDIT-PUBLISH end-to-end — half the events land
    * as a published append, the other half (pre-filtered of 'error' rows,
    * the "audit" in miniature) as a STAGED snapshot on a branch: the head
    * must not see the stage, the branch must, and after fastForward the
    * table equals the union. Oracle = the same two slices over raw
    * events. */
  val ticebergWap = GQuery(
    "t_iceberg_wap",
    (s, dir) => {
      val table = tmp("graft_ice_wap_q")
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"))
      graft.sources.IcebergWrite.append(s,
        ev.where(pmod(col("event_id"), lit(2)) === 0), table)
      graft.sources.IcebergWrite.appendStaged(s,
        ev.where(pmod(col("event_id"), lit(2)) === 1 && col("event_type") =!= "error"),
        table, branch = "audit")
      val headPreP = graft.sources.IcebergRead.snapshot(s, table)
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("scope", lit("head_pre_publish"))
      val branch = graft.sources.IcebergRead.snapshotAtRef(s, table, "audit")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("scope", lit("audit_branch"))
      // materialize the pre-publish scopes BEFORE the head moves (plans
      // are lazy; without this the union would read post-publish state)
      val pre = headPreP.unionByName(branch).localCheckpoint()
      graft.sources.IcebergWrite.fastForward(s, table, "audit")
      val post = graft.sources.IcebergRead.snapshot(s, table)
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("scope", lit("head_published"))
      pre.unionByName(post)
        .select(col("scope"), col("cnt"), col("sum_value"))
        .orderBy(col("scope"))
    },
    Some("""WITH pub AS (SELECT * FROM events WHERE event_id % 2 = 0),
      stg AS (SELECT * FROM events WHERE event_id % 2 = 1 AND event_type <> 'error')
      SELECT 'audit_branch' AS scope,
        (SELECT count(*) FROM pub) + (SELECT count(*) FROM stg) AS cnt,
        round((SELECT sum(value) FROM pub) + (SELECT sum(value) FROM stg), 2) AS sum_value
      UNION ALL
      SELECT 'head_pre_publish', (SELECT count(*) FROM pub),
        round((SELECT sum(value) FROM pub), 2)
      UNION ALL
      SELECT 'head_published',
        (SELECT count(*) FROM pub) + (SELECT count(*) FROM stg),
        round((SELECT sum(value) FROM pub) + (SELECT sum(value) FROM stg), 2)
      ORDER BY scope"""))

  /** S8i: incremental Delta consumption — three append commits from event
    * slices, then addsBetween(v0) reads ONLY the later two commits' files
    * (the batch form of Delta's streaming source). Oracle recomputes the
    * increment from the source rows. */
  val tdeltaChanges = GQuery(
    "t_delta_changes",
    (s, dir) => {
      val table = tmp("graft_deltainc_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val v0 = graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "click"), table)
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "view"), table)
      graft.sources.DeltaWrite.append(s,
        ev.where(!col("event_type").isin("click", "view")), table)
      graft.sources.DeltaRead.addsBetween(s, table, v0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type <> 'click' GROUP BY event_type
      ORDER BY event_type"""))

  /** S8e SCHEMA EVOLUTION on Delta: append clicks with the base schema,
    * then append views carrying a NEW `bonus` column (mergeSchema → the
    * commit swaps the metaData to the merged schema; no old file is
    * rewritten). Read back (a) the evolved snapshot — old rows' bonus is
    * NULL, (b) the incremental adds ACROSS the evolution boundary, and
    * (c) the time-traveled pre-evolution version, which must still show
    * the OLD schema. Oracle recomputes all three scopes from events. */
  val tdeltaEvolve = GQuery(
    "t_delta_evolution",
    (s, dir) => {
      val table = tmp("graft_deltaev_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val v0 = graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "click"), table)
      graft.sources.DeltaWrite.append(s,
        ev.where(col("event_type") === "view")
          .withColumn("bonus", round(col("value") * 2, 2)),
        table, mergeSchema = true)
      val full = graft.sources.DeltaRead.snapshot(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          round(sum(coalesce(col("bonus"), lit(0.0))), 2).as("sum_bonus"))
        .withColumn("scope", lit("full"))
      val incr = graft.sources.DeltaRead.addsBetween(s, table, v0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          round(sum(coalesce(col("bonus"), lit(0.0))), 2).as("sum_bonus"))
        .withColumn("scope", lit("incr"))
      val preEvolution = graft.sources.DeltaRead.snapshot(s, table, v0)
      require(!preEvolution.columns.contains("bonus"),
        "time travel to the pre-evolution version must show the old schema")
      val old = preEvolution
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          lit(-1.0).as("sum_bonus"))
        .withColumn("scope", lit("pre"))
      full.unionByName(incr).unionByName(old)
        .select(col("scope"), col("event_type"), col("cnt"), col("sum_value"), col("sum_bonus"))
        .orderBy(col("scope"), col("event_type"))
    },
    Some("""SELECT 'full' AS scope, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value,
        round(sum(CASE WHEN event_type = 'view' THEN round(value * 2, 2) ELSE 0 END), 2) AS sum_bonus
      FROM events WHERE event_type IN ('click', 'view') GROUP BY event_type
      UNION ALL
      SELECT 'incr', event_type, count(*), round(sum(value), 2), round(sum(round(value * 2, 2)), 2)
      FROM events WHERE event_type = 'view' GROUP BY event_type
      UNION ALL
      SELECT 'pre', event_type, count(*), round(sum(value), 2), -1.0
      FROM events WHERE event_type = 'click' GROUP BY event_type
      ORDER BY scope, event_type"""))

  /** S9e SCHEMA EVOLUTION on Iceberg: same three scopes as
    * t_delta_evolution, through the schema-id chain — the evolving append
    * mints fresh field ids for the new column under a new schema-id, old
    * snapshots keep citing theirs (time travel shows the old schema), and
    * the incremental read across the boundary resolves old files against
    * the new schema with nulls. */
  val ticebergEvolve = GQuery(
    "t_iceberg_evolution",
    (s, dir) => {
      val table = tmp("graft_iceev_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val s0 = graft.sources.IcebergWrite.append(s, ev.where(col("event_type") === "click"), table)
      graft.sources.IcebergWrite.append(s,
        ev.where(col("event_type") === "view")
          .withColumn("bonus", round(col("value") * 2, 2)),
        table, mergeSchema = true)
      val full = graft.sources.IcebergRead.snapshot(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          round(sum(coalesce(col("bonus"), lit(0.0))), 2).as("sum_bonus"))
        .withColumn("scope", lit("full"))
      val incr = graft.sources.IcebergRead.addsBetween(s, table, s0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          round(sum(coalesce(col("bonus"), lit(0.0))), 2).as("sum_bonus"))
        .withColumn("scope", lit("incr"))
      val preEvolution = graft.sources.IcebergRead.snapshot(s, table, s0)
      require(!preEvolution.columns.contains("bonus"),
        "time travel to the pre-evolution snapshot must show the old schema")
      val old = preEvolution
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"),
          lit(-1.0).as("sum_bonus"))
        .withColumn("scope", lit("pre"))
      full.unionByName(incr).unionByName(old)
        .select(col("scope"), col("event_type"), col("cnt"), col("sum_value"), col("sum_bonus"))
        .orderBy(col("scope"), col("event_type"))
    },
    tdeltaEvolve.oracle)

  /** S9c CHANGELOG read: append clicks, append views, then position-delete
    * the cheap clicks; changesBetween(first append → current) must report
    * the views as inserts (files added in range) AND the deleted clicks as
    * deletes (new position deletes over a file common to both endpoints) —
    * the operation mix addsBetween refuses. Oracle recomputes both change
    * sets from the source rows. */
  val ticebergChanges = GQuery(
    "t_iceberg_changes",
    (s, dir) => {
      val table = tmp("graft_icebergcdc_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val s1 = graft.sources.IcebergWrite.append(s, ev.where(col("event_type") === "click"), table)
      graft.sources.IcebergWrite.append(s, ev.where(col("event_type") === "view"), table)
      graft.sources.IcebergWrite.deleteWhere(s, table,
        col("event_type") === "click" && col("value") < lit(50.0))
      graft.sources.IcebergRead.changesBetween(s, table, s1)
        .groupBy(col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumnRenamed("_change_type", "change")
        .orderBy(col("change"), col("event_type"))
    },
    Some("""SELECT 'delete' AS change, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
      FROM events WHERE event_type = 'click' AND value < 50.0 GROUP BY event_type
      UNION ALL
      SELECT 'insert', event_type, count(*), round(sum(value), 2)
      FROM events WHERE event_type = 'view' GROUP BY event_type
      ORDER BY change, event_type"""))

  /** S8c CHANGELOG read on Delta — same lineage shape as
    * [[ticebergChanges]] (append clicks, append views, DV-delete the cheap
    * clicks) through [[graft.sources.DeltaRead.changesBetween]]: views as
    * inserts, DV-deleted clicks as deletes. Same oracle — both formats'
    * changelogs must agree on the change sets. */
  val tdeltaCdc = GQuery(
    "t_delta_cdc",
    (s, dir) => {
      val table = tmp("graft_deltacdc_q")
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val v1 = graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "click"), table)
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "view"), table)
      graft.sources.DeltaWrite.deleteWhere(s, table,
        col("event_type") === "click" && col("value") < lit(50.0))
      graft.sources.DeltaRead.changesBetween(s, table, v1)
        .groupBy(col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumnRenamed("_change_type", "change")
        .orderBy(col("change"), col("event_type"))
    },
    ticebergChanges.oracle)

  /** S8o/S9o OPTIMIZE: slice events into per-type appends (many small
    * files), DV/position-delete a predicate, COMPACT both formats via the
    * Lake dispatch, and aggregate the compacted state — which must equal
    * the uncompacted truth (oracle recomputes it from source rows). The
    * per-format file counts after compaction ride along as columns, so a
    * compaction that silently does nothing (or fans out) breaks the hash:
    * each format packs to the requested ~1-file layout. */
  val tlakeCompact = GQuery(
    "t_lake_compact",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val types = Seq("click", "view", "signup", "purchase", "error")
      def build(table: String, isDelta: Boolean): Unit = {
        types.foreach { t =>
          val slice = ev.where(col("event_type") === t)
          if (isDelta) graft.sources.DeltaWrite.append(s, slice, table)
          else graft.sources.IcebergWrite.append(s, slice, table)
        }
        graft.sources.Lake.deleteWhere(s, table,
          col("event_type") === "error" && col("value") < lit(20.0))
        graft.sources.Lake.compact(s, table)
      }
      val dTable = tmp("graft_deltaopt_q"); build(dTable, isDelta = true)
      val iTable = tmp("graft_icebergopt_q"); build(iTable, isDelta = false)
      def agg(table: String, fmt: String) = {
        val snap = graft.sources.Lake.read(s, table)
        snap.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
          .withColumn("files", lit(snap.inputFiles.length))
      }
      agg(dTable, "delta").unionByName(agg(iTable, "iceberg"))
        .select(col("fmt"), col("event_type"), col("cnt"), col("sum_value"), col("files"))
        .orderBy(col("fmt"), col("event_type"))
    },
    Some("""SELECT fmt, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value,
        1 AS files
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN events
      WHERE NOT (event_type = 'error' AND value < 20.0)
      GROUP BY fmt, event_type
      ORDER BY fmt, event_type"""))

  /** PARTITION-SCOPED OVERWRITE (replaceWhere) on BOTH formats: events
    * partitioned by event_type, the 'click' partition backfilled with
    * recomputed rows (values doubled) in ONE atomic scoped commit —
    * the daily-backfill idiom. The `untouched` column PROVES the scope:
    * it compares the other partitions' physical file sets before/after
    * (Delta log paths / Iceberg manifest paths) — a replaceWhere that
    * rewrote (or dropped) a non-matching partition breaks the hash. */
  val tlakeReplaceWhere = GQuery(
    "t_lake_replace_where",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val backfill = ev.where(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
      def otherFilesDelta(t: String): Set[String] =
        graft.sources.DeltaRead.snapshotInfo(s, t).files
          .filterNot(_.partitionValues.get("event_type").contains("click"))
          .map(_.path).toSet
      def otherFilesIceberg(t: String): Set[String] =
        graft.sources.IcebergRead.fileStats(s, t)
          .where(col("min_event_type") =!= "click")
          .select("file").collect().map(_.getString(0)).toSet

      val dT = tmp("graft_rw_d_q") + "/tbl"
      graft.sources.DeltaWrite.append(s, ev, dT, partitionBy = Seq("event_type"))
      val dBefore = otherFilesDelta(dT)
      graft.sources.Lake.replaceWhere(s, backfill, dT, "event_type = 'click'")
      val dUntouched = otherFilesDelta(dT) == dBefore && dBefore.nonEmpty

      val iT = tmp("graft_rw_i_q") + "/tbl"
      graft.sources.IcebergWrite.append(s, ev, iT, partitionBy = Seq("event_type"))
      val iBefore = otherFilesIceberg(iT)
      graft.sources.Lake.replaceWhere(s, backfill, iT, "event_type = 'click'")
      val iUntouched = otherFilesIceberg(iT) == iBefore && iBefore.nonEmpty

      def agg(t: String, fmt: String, untouched: Boolean) =
        graft.sources.Lake.read(s, t)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt)).withColumn("untouched", lit(untouched))
      agg(dT, "delta", dUntouched).unionByName(agg(iT, "iceberg", iUntouched))
        .select(col("fmt"), col("event_type"), col("cnt"), col("sum_value"), col("untouched"))
        .orderBy(col("fmt"), col("event_type"))
    },
    Some("""SELECT fmt, event_type, count(*) AS cnt,
        round(sum(CASE WHEN event_type = 'click' THEN value * 2 ELSE value END), 2)
          AS sum_value,
        true AS untouched
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN events
      GROUP BY fmt, event_type
      ORDER BY fmt, event_type"""))

  /** SQL DML statement surface over BOTH formats (Lake.sql): DELETE,
    * UPDATE, and MERGE-shaped upsert driven through statement TEXT against
    * path-addressed lake tables — the MERGE's USING source reads the table
    * itself through the registered `lake_scan` table function, so the
    * whole round is lake-to-lake pure SQL. The oracle recomputes the end
    * state from source rows: errors deleted, click values doubled, view
    * values zeroed by the matched-update leg, one 'merged' row inserted
    * per purchase by the not-matched leg. */
  val tlakeSqlDml = GQuery(
    "t_lake_sql_dml",
    (s, dir) => {
      graft.sources.Lake.registerSqlSurface(s)
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      def run(t: String): Unit = {
        graft.sources.Lake.sql(s, s"DELETE FROM '$t' WHERE event_type = 'error'")
        graft.sources.Lake.sql(s, s"UPDATE '$t' SET value = value * 2 WHERE event_type = 'click'")
        graft.sources.Lake.sql(s, s"MERGE INTO '$t' USING (" +
          s"SELECT event_id, 0.0D AS value, event_type FROM lake_scan('$t') " +
          "WHERE event_type = 'view' " +
          s"UNION ALL SELECT event_id + 10000000, 1.0D, 'merged' FROM lake_scan('$t') " +
          "WHERE event_type = 'purchase') ON (event_id)")
      }
      val dT = tmp("graft_dml_d_q") + "/tbl"
      graft.sources.DeltaWrite.append(s, ev, dT)
      run(dT)
      val iT = tmp("graft_dml_i_q") + "/tbl"
      graft.sources.IcebergWrite.append(s, ev, iT)
      run(iT)
      def agg(t: String, fmt: String) =
        graft.sources.Lake.read(s, t)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      agg(dT, "delta").unionByName(agg(iT, "iceberg"))
        .select(col("fmt"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("event_type"))
    },
    Some("""WITH base AS (
        SELECT event_id, value, event_type FROM events WHERE event_type <> 'error'),
      modified AS (
        SELECT event_id,
          CASE WHEN event_type = 'click' THEN value * 2
               WHEN event_type = 'view' THEN 0.0 ELSE value END AS value,
          event_type
        FROM base
        UNION ALL
        SELECT event_id + 10000000, 1.0, 'merged' FROM base WHERE event_type = 'purchase')
      SELECT fmt, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN modified
      GROUP BY fmt, event_type
      ORDER BY fmt, event_type"""))

  /** SQL MAINTENANCE statement surface over BOTH formats (Lake.sql /
    * Lake.sqlFrame): CTAS seeds, INSERT INTO extends, a junk append is
    * rolled back with `RESTORE ... VERSION AS OF`, `OPTIMIZE` bin-packs
    * the small files (data unchanged, file count strictly drops),
    * `VACUUM ... RETAIN 1 VERSIONS FORCE` physically reclaims the
    * rolled-back + pre-compaction files, and `DESCRIBE HISTORY` still
    * answers — every step through statement TEXT. The oracle recomputes
    * the surviving data from the raw events; the maintenance effects ride
    * as in-query boolean gates (file count dropped / files deleted /
    * history non-empty) the oracle pins to TRUE. */
  val tlakeSqlMaintenance = GQuery(
    "t_lake_sql_maintenance",
    (s, dir) => {
      Tables(s, dir, "events").select(col("event_id"), col("value"), col("ts"))
        .createOrReplaceTempView("graft_maint_events")
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_sqlmnt_${fmt}_q") + "/tbl"
        graft.sources.Lake.sql(s, s"CREATE TABLE '$t' USING $fmt AS " +
          "SELECT * FROM graft_maint_events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'")
        val vGood = graft.sources.Lake.sql(s, s"INSERT INTO '$t' " +
          "SELECT * FROM graft_maint_events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' " +
          "AND ts < TIMESTAMP '2024-01-15 00:00:00'")
        graft.sources.Lake.sql(s, s"INSERT INTO '$t' " +
          "SELECT event_id, value * 1000 AS value, ts FROM graft_maint_events " +
          "WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'")
        graft.sources.Lake.sql(s, s"RESTORE '$t' TO VERSION AS OF $vGood")
        val filesBefore = graft.sources.Lake.fileStats(s, t).count()
        graft.sources.Lake.sql(s, s"OPTIMIZE '$t'")
        val filesAfter = graft.sources.Lake.fileStats(s, t).count()
        val deleted = graft.sources.Lake.sql(s, s"VACUUM '$t' RETAIN 1 VERSIONS FORCE")
        val hist = graft.sources.Lake.sqlFrame(s, s"DESCRIBE HISTORY '$t'").count()
        graft.sources.Lake.read(s, t)
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("scope", lit(fmt))
          .withColumn("compacted", lit(filesAfter < filesBefore))
          .withColumn("vacuumed", lit(deleted > 0))
          .withColumn("has_history", lit(hist >= 1))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("scope"), col("cnt"), col("sum_value"),
          col("compacted"), col("vacuumed"), col("has_history"))
        .orderBy(col("scope"))
    },
    Some("""SELECT fmt AS scope, count(*) AS cnt, round(sum(value), 2) AS sum_value,
        true AS compacted, true AS vacuumed, true AS has_history
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY fmt
      ORDER BY scope"""))

  /** SQL SELECT statement surface over BOTH formats (Lake.sqlFrame): the
    * read half of the path-addressed statement story — `SELECT cols FROM
    * '<path>' [VERSION AS OF n] [WHERE pred] [ORDER BY ...] [LIMIT n]`.
    * Two legs per format: a VERSION-pinned read with a WHERE (dispatched
    * through the stats-pruned scan) must see ONLY the first commit's
    * rows even though a second commit has landed; an ORDER BY + LIMIT
    * leg returns the current head's top rows. The oracle recomputes both
    * from raw events. */
  val tlakeSqlSelect = GQuery(
    "t_lake_sql_select",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_sqlsel_${fmt}_q") + "/tbl"
        val base = ev.where(col("event_type") =!= "error")
        val late = ev.where(col("event_type") === "error")
        val v0 =
          if (fmt == "delta") graft.sources.DeltaWrite.append(s, base, t)
          else graft.sources.IcebergWrite.append(s, base, t)
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, late, t)
        else graft.sources.IcebergWrite.append(s, late, t)
        // pinned + predicate: must answer from commit v0 alone, with the
        // WHERE going through scanPruned (per-file stats skip first)
        val pinned = graft.sources.Lake.sqlFrame(s,
          s"SELECT event_type, value FROM '$t' VERSION AS OF $v0 WHERE value >= 50.0")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("leg", lit("pinned"))
        // current head + ORDER BY/LIMIT: the five smallest error ids
        val top = graft.sources.Lake.sqlFrame(s,
          s"SELECT event_id, value, event_type FROM '$t' " +
            "WHERE event_type = 'error' ORDER BY event_id ASC LIMIT 5")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("leg", lit("limit5"))
        pinned.unionByName(top).withColumn("fmt", lit(fmt))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("leg"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("leg"), col("event_type"))
    },
    Some("""WITH legs AS (
        SELECT 'pinned' AS leg, event_type, count(*) AS cnt,
          round(sum(value), 2) AS sum_value
        FROM events WHERE event_type <> 'error' AND value >= 50.0
        GROUP BY event_type
        UNION ALL
        SELECT 'limit5', event_type, count(*), round(sum(value), 2)
        FROM (SELECT event_type, value FROM events
              WHERE event_type = 'error' ORDER BY event_id ASC LIMIT 5)
        GROUP BY event_type)
      SELECT fmt, leg, event_type, cnt, sum_value
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN legs
      ORDER BY fmt, leg, event_type"""))

  /** FULL SQL over lake paths (Lake.sqlFrame → delegateSelect): statements
    * BEYOND the single-table path dialect run whole through Spark SQL over
    * version-pinned temp views. Two legs per format: a GROUP BY aggregate
    * with VERSION AS OF + WHERE in ONE statement (must answer from the
    * first commit alone — proves the pin rides into the delegated scan),
    * and a lake-to-lake JOIN between two quoted paths with a grouped
    * weighted sum (proves multi-reference rewriting). The oracle
    * recomputes both legs from raw events. */
  val tlakeSqlAgg = GQuery(
    "t_lake_sql_agg",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_sqlagg_${fmt}_q") + "/tbl"
        val dim = tmp(s"graft_sqlagg_${fmt}_dim") + "/tbl"
        val base = ev.where(col("event_type") =!= "error")
        val late = ev.where(col("event_type") === "error")
        val v0 =
          if (fmt == "delta") graft.sources.DeltaWrite.append(s, base, t)
          else graft.sources.IcebergWrite.append(s, base, t)
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, late, t)
        else graft.sources.IcebergWrite.append(s, late, t)
        val dimDf = base.select(col("event_type")).distinct()
          .withColumn("w", length(col("event_type")).cast("double"))
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, dimDf, dim)
        else graft.sources.IcebergWrite.append(s, dimDf, dim)
        // GROUP BY + VERSION AS OF + WHERE, one statement: only commit
        // v0's rows may answer even though the error append has landed
        val pinned = graft.sources.Lake.sqlFrame(s,
          s"SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value " +
            s"FROM '$t' VERSION AS OF $v0 WHERE value >= 25.0 GROUP BY event_type")
          .withColumn("leg", lit("agg_pinned"))
        // lake-to-lake join at the current head: the dim carries only
        // non-error types, so the join re-excludes the late commit
        val joined = graft.sources.Lake.sqlFrame(s,
          s"SELECT e.event_type, count(*) AS cnt, " +
            s"round(sum(e.value * d.w), 2) AS sum_value " +
            s"FROM '$t' e JOIN '$dim' d ON e.event_type = d.event_type " +
            s"GROUP BY e.event_type")
          .withColumn("leg", lit("agg_join"))
        pinned.unionByName(joined).withColumn("fmt", lit(fmt))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("leg"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("leg"), col("event_type"))
    },
    Some("""WITH legs AS (
        SELECT 'agg_pinned' AS leg, event_type, count(*) AS cnt,
          round(sum(value), 2) AS sum_value
        FROM events WHERE event_type <> 'error' AND value >= 25.0
        GROUP BY event_type
        UNION ALL
        SELECT 'agg_join', e.event_type, count(*),
          round(sum(e.value * length(e.event_type)), 2)
        FROM events e
        JOIN (SELECT DISTINCT event_type FROM events WHERE event_type <> 'error') d
          ON e.event_type = d.event_type
        GROUP BY e.event_type)
      SELECT fmt, leg, event_type, cnt, sum_value
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN legs
      ORDER BY fmt, leg, event_type"""))

  /** THE COMPOSITION GATE for the delegated SQL surface: TPC-H Q3 (t76's
    * shape) as ONE statement of text over three LAKE PATHS — customer and
    * orders in Delta, lineitem in Iceberg, so the statement exercises
    * cross-format lake-to-lake joins, the quote-aware multi-reference
    * rewrite, GROUP BY/ORDER/LIMIT delegation, and the scan machinery of
    * both formats in a single query a reference user would actually
    * write. The oracle is t76's DuckDB text over the raw tables: the lake
    * round-trip plus delegation must be value-invisible. */
  val tlakeTpchSql = GQuery(
    "t87_lake_tpch_sql",
    (s, dir) => {
      val stage = tmp("graft_t87_q")
      val cust = s"$stage/customer"
      val ord = s"$stage/orders"
      val li = s"$stage/lineitem"
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")), cust)
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")), ord)
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"), col("l_shipdate")), li)
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT l.l_orderkey, o.o_orderdate,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM '$cust' c
            JOIN '$ord' o ON c.c_custkey = o.o_custkey
            JOIN '$li' l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-06-30'
              AND l.l_shipdate > TIMESTAMP '1998-06-30'
            GROUP BY l.l_orderkey, o.o_orderdate
            ORDER BY revenue DESC, l.l_orderkey LIMIT 10""")
    },
    Some("""SELECT l_orderkey, o_orderdate,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-30'
        AND l_shipdate > TIMESTAMP '1998-06-30'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  /** WINDOW FUNCTIONS through the delegated lake SQL (the statement shape
    * after joins/aggregates a SQL-first user writes next): top-3 events
    * per type by value via `row_number() OVER (...)` in a subquery, in
    * ONE statement over a Delta path. Proves the delegation handles
    * window specs + derived-table nesting; the oracle is the identical
    * DuckDB text over raw events. */
  val tlakeSqlWindow = GQuery(
    "t_lake_sql_window",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val t = tmp("graft_sqlwin_q") + "/tbl"
      graft.sources.DeltaWrite.append(s, ev, t)
      graft.sources.Lake.sqlFrame(s,
        s"SELECT event_type, event_id, rnk FROM (" +
          s"SELECT event_type, event_id, row_number() OVER " +
          s"(PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk " +
          s"FROM '$t') WHERE rnk <= 3 ORDER BY event_type, rnk")
    },
    Some("""SELECT event_type, event_id, CAST(rnk AS INT) AS rnk FROM (
        SELECT event_type, event_id, row_number() OVER
          (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
        FROM events) t
      WHERE rnk <= 3 ORDER BY event_type, rnk"""))

  /** `ALTER TABLE ... ADD COLUMN` through statement text (Lake.sql →
    * [[graft.sources.Lake.addColumn]]): metadata-only schema evolution on
    * BOTH formats. Per format: seed (event_id, value), ADD COLUMN tag
    * string, append rows CARRYING the new column, then verify old rows
    * read NULL for it, new rows keep their tag, and time travel to the
    * pre-ALTER version shows the OLD schema (boolean gate the oracle pins
    * false). */
  val tlakeSqlAlterAdd = GQuery(
    "t_lake_sql_alter_add",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_sqladdc_${fmt}_q") + "/tbl"
        val base = ev.where(col("event_type") =!= "error")
          .select(col("event_id"), col("value"))
        val late = ev.where(col("event_type") === "error")
          .select(col("event_id"), col("value"), lit("late").as("tag"))
        val v0 =
          if (fmt == "delta") graft.sources.DeltaWrite.append(s, base, t)
          else graft.sources.IcebergWrite.append(s, base, t)
        graft.sources.Lake.sql(s, s"ALTER TABLE '$t' ADD COLUMN tag string")
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, late, t)
        else graft.sources.IcebergWrite.append(s, late, t)
        val oldHasTag = graft.sources.Lake.read(s, t, v0).columns.contains("tag")
        // coalesce the NULL group key: Spark sorts NULLS FIRST, DuckDB
        // NULLS LAST — a null sort key would hash-mismatch on row order
        graft.sources.Lake.read(s, t)
          .groupBy(coalesce(col("tag"), lit("untagged")).as("tag"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
          .withColumn("old_schema_has_tag", lit(oldHasTag))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("tag"), col("cnt"), col("sum_value"),
          col("old_schema_has_tag"))
        .orderBy(col("fmt"), col("tag"))
    },
    Some("""SELECT fmt,
        CASE WHEN event_type = 'error' THEN 'late' ELSE 'untagged' END AS tag,
        count(*) AS cnt, round(sum(value), 2) AS sum_value,
        false AS old_schema_has_tag
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN events
      GROUP BY fmt, tag
      ORDER BY fmt, tag"""))

  /** Column-schema `CREATE TABLE` DDL (Lake.sql → empty schema-bearing
    * commit): per format, CREATE a partitioned empty table from a typed
    * column list, verify it reads back EMPTY with the declared schema,
    * INSERT the events rows through statement text (inheriting the
    * declared partitioning), and aggregate the result — the
    * migration-script opening move (CREATE, then INSERT) end-to-end. The
    * oracle recomputes the aggregate from raw events and pins
    * `was_empty` true. */
  val tlakeCreateTable = GQuery(
    "t89_lake_create_table",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"))
      ev.createOrReplaceTempView("graft_t89_ev")
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_t89_${fmt}_q") + "/tbl"
        graft.sources.Lake.sql(s,
          s"CREATE TABLE '$t' (event_id BIGINT, value DOUBLE, event_type STRING) " +
            s"USING $fmt PARTITIONED BY (event_type)")
        val emptyCnt = graft.sources.Lake.read(s, t).count()
        graft.sources.Lake.sql(s,
          s"INSERT INTO '$t' SELECT CAST(event_id AS BIGINT) AS event_id, " +
            "CAST(value AS DOUBLE) AS value, event_type FROM graft_t89_ev")
        graft.sources.Lake.sqlFrame(s,
          s"SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value " +
            s"FROM '$t' GROUP BY event_type")
          .withColumn("fmt", lit(fmt))
          .withColumn("was_empty", lit(emptyCnt == 0L))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("event_type"), col("cnt"), col("sum_value"),
          col("was_empty"))
        .orderBy(col("fmt"), col("event_type"))
    },
    Some("""SELECT fmt, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value, true AS was_empty
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN events
      GROUP BY fmt, event_type
      ORDER BY fmt, event_type"""))

  /** `USE '<dir>'` directory catalog: bare FROM/JOIN identifiers resolve
    * to `<dir>/<name>` through the same detection SHOW TABLES uses. The
    * query stages events (Delta) and a type-weight dim (Iceberg) under
    * one directory, USEs it, and runs a bare-name cross-format join with
    * a WHERE whose per-alias conjunct rides the stats-pruned scan —
    * database-feeling SQL over path-addressed tables. The catalog is
    * cleared (USE DEFAULT) after analysis; the plan stays bound to the
    * resolved views. */
  val tlakeUseCatalog = GQuery(
    "t90_lake_use_catalog",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"))
      val root = tmp("graft_t90_q")
      graft.sources.DeltaWrite.append(s, ev, s"$root/events_delta")
      graft.sources.IcebergWrite.append(s,
        ev.select(col("event_type")).distinct()
          .withColumn("w", length(col("event_type")).cast("double")),
        s"$root/type_dims")
      graft.sources.Lake.sql(s, s"USE '$root'")
      try graft.sources.Lake.sqlFrame(s,
        "SELECT e.event_type, count(*) AS cnt, " +
          "round(sum(e.value * d.w), 2) AS sum_value " +
          "FROM events_delta e JOIN type_dims d ON e.event_type = d.event_type " +
          "WHERE e.value >= 10.0 GROUP BY e.event_type ORDER BY e.event_type")
      finally graft.sources.Lake.sql(s, "USE DEFAULT")
    },
    Some("""SELECT e.event_type, count(*) AS cnt,
        round(sum(e.value * length(e.event_type)), 2) AS sum_value
      FROM events e
      JOIN (SELECT DISTINCT event_type FROM events) d
        ON e.event_type = d.event_type
      WHERE e.value >= 10.0
      GROUP BY e.event_type
      ORDER BY e.event_type"""))

  /** FULL MERGE with ordered WHEN clauses (Lake.sql → [[graft.sources
    * .Lake.mergeInto]]): per format, events seed the target, a source of
    * overlapping keys plus brand-new shifted keys drives one statement —
    * matched error rows DELETE, other matched rows UPDATE (value +=
    * src_value), unmatched rows INSERT — all as ONE atomic commit. The
    * oracle recomputes the merged end state from raw events with the
    * identical set algebra. */
  val tlakeMergeFull = GQuery(
    "t91_lake_merge_full",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"))
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_t91_${fmt}_q") + "/tbl"
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, ev, t)
        else graft.sources.IcebergWrite.append(s, ev, t)
        ev.where(col("event_id") % 5 === 0)
          .union(ev.where(col("event_id") % 7 === 0)
            .select((col("event_id") + 100000000L).as("event_id"),
              (col("value") * 2).as("value"), col("event_type")))
          .createOrReplaceTempView("graft_t91_src")
        graft.sources.Lake.sql(s,
          s"""MERGE INTO '$t' USING (SELECT * FROM graft_t91_src) ON (event_id)
              WHEN MATCHED AND event_type = 'error' THEN DELETE
              WHEN MATCHED THEN UPDATE SET value = value + src_value
              WHEN NOT MATCHED THEN INSERT *""")
        graft.sources.Lake.read(s, t)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("event_type"))
    },
    Some("""WITH src AS (
        SELECT event_id, value, event_type FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT event_id + 100000000, value * 2, event_type FROM events
        WHERE event_id % 7 = 0),
      tgt AS (SELECT event_id, value, event_type FROM events),
      merged AS (
        SELECT t.* FROM tgt t
        WHERE t.event_id NOT IN (SELECT event_id FROM src)
        UNION ALL
        SELECT t.event_id, t.value + s.value, t.event_type
        FROM tgt t JOIN src s USING (event_id)
        WHERE t.event_type <> 'error'
        UNION ALL
        SELECT s.* FROM src s
        WHERE s.event_id NOT IN (SELECT event_id FROM tgt))
      SELECT fmt, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN merged
      GROUP BY fmt, event_type
      ORDER BY fmt, event_type"""))

  /** MERGE three-valued-logic fall-through (SURVEY §2 S11mg hardening):
    * the target carries a NULLable `note` column and the first WHEN
    * clause's condition (`note = 'drop'`) evaluates NULL for a third of
    * the matched rows — standard MERGE semantics fall those rows through
    * to the next clause (the unconditional UPDATE), they are NOT exempt.
    * The oracle recomputes the end state with `IS DISTINCT FROM` set
    * algebra, so a regression to bare `!cond` accumulation (NULL
    * poisoning `remaining`) hash-mismatches immediately. */
  val tlakeMergeNullCond = GQuery(
    "t93_lake_merge_null_cond",
    (s, dir) => {
      val base = Tables(s, dir, "events")
        .select(col("event_id"), col("value"),
          when(col("event_id") % 3 === 0, lit(null).cast("string"))
            .when(col("event_id") % 3 === 1, lit("drop"))
            .otherwise(lit("keep")).as("note"))
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_t93_${fmt}_q") + "/tbl"
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, base, t)
        else graft.sources.IcebergWrite.append(s, base, t)
        base.where(col("event_id") % 2 === 0)
          .select(col("event_id"), (col("value") * 3).as("value"), col("note"))
          .union(base.where(col("event_id") % 7 === 0)
            .select((col("event_id") + 100000000L).as("event_id"),
              col("value"), col("note")))
          .createOrReplaceTempView("graft_t93_src")
        graft.sources.Lake.sql(s,
          s"""MERGE INTO '$t' USING (SELECT * FROM graft_t93_src) ON (event_id)
              WHEN MATCHED AND note = 'drop' THEN DELETE
              WHEN MATCHED THEN UPDATE SET value = value + src_value
              WHEN NOT MATCHED THEN INSERT *""")
        graft.sources.Lake.read(s, t)
          .groupBy(coalesce(col("note"), lit("~null~")).as("note"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("note"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("note"))
    },
    Some("""WITH base AS (
        SELECT event_id, value,
          CASE WHEN event_id % 3 = 0 THEN NULL
               WHEN event_id % 3 = 1 THEN 'drop' ELSE 'keep' END AS note
        FROM events),
      src AS (
        SELECT event_id, value * 3 AS value, note FROM base WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id + 100000000, value, note FROM base WHERE event_id % 7 = 0),
      merged AS (
        SELECT b.* FROM base b
        WHERE b.event_id NOT IN (SELECT event_id FROM src)
        UNION ALL
        SELECT b.event_id, b.value + s.value, b.note
        FROM base b JOIN src s USING (event_id)
        WHERE b.note IS DISTINCT FROM 'drop'
        UNION ALL
        SELECT s.* FROM src s
        WHERE s.event_id NOT IN (SELECT event_id FROM base))
      SELECT fmt, coalesce(note, '~null~') AS note, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN merged
      GROUP BY fmt, 2
      ORDER BY fmt, note"""))

  /** MERGE WITH SCHEMA EVOLUTION end-to-end (SURVEY §2 S11mg): the
    * source carries a NEW `tag` column and MISSES `value` — the target
    * extends (nullable), matched rows KEEP their value and gain the tag,
    * new keys insert with NULL value. The oracle recomputes the evolved
    * end state from raw events with explicit keep/NULL set algebra. */
  val tlakeMergeEvolve = GQuery(
    "t94_lake_merge_evolve",
    (s, dir) => {
      val base = Tables(s, dir, "events")
        .select(col("event_id"), col("value"))
      def run(fmt: String): org.apache.spark.sql.DataFrame = {
        val t = tmp(s"graft_t94_${fmt}_q") + "/tbl"
        if (fmt == "delta") graft.sources.DeltaWrite.append(s, base, t)
        else graft.sources.IcebergWrite.append(s, base, t)
        Tables(s, dir, "events")
          .where(col("event_id") % 4 === 0)
          .select(col("event_id"), col("event_type").as("tag"))
          .union(Tables(s, dir, "events").where(col("event_id") % 9 === 0)
            .select((col("event_id") + 100000000L).as("event_id"),
              col("event_type").as("tag")))
          .createOrReplaceTempView("graft_t94_src")
        graft.sources.Lake.sql(s,
          s"""MERGE WITH SCHEMA EVOLUTION INTO '$t'
              USING (SELECT * FROM graft_t94_src) ON (event_id)
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
        graft.sources.Lake.read(s, t)
          .groupBy(coalesce(col("tag"), lit("~none~")).as("tag"))
          .agg(count(lit(1)).as("cnt"),
            round(sum(coalesce(col("value"), lit(0.0))), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      }
      run("delta").unionByName(run("iceberg"))
        .select(col("fmt"), col("tag"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("tag"))
    },
    Some("""WITH base AS (SELECT event_id, value FROM events),
      src AS (
        SELECT event_id, event_type AS tag FROM events WHERE event_id % 4 = 0
        UNION ALL
        SELECT event_id + 100000000, event_type FROM events WHERE event_id % 9 = 0),
      merged AS (
        SELECT b.event_id, b.value, NULL AS tag FROM base b
        WHERE b.event_id NOT IN (SELECT event_id FROM src)
        UNION ALL
        SELECT b.event_id, b.value, s.tag
        FROM base b JOIN src s USING (event_id)
        UNION ALL
        SELECT s.event_id, NULL, s.tag FROM src s
        WHERE s.event_id NOT IN (SELECT event_id FROM base))
      SELECT fmt, coalesce(tag, '~none~') AS tag, count(*) AS cnt,
        round(sum(coalesce(value, 0)), 2) AS sum_value
      FROM (SELECT 'delta' AS fmt FROM range(1) UNION ALL SELECT 'iceberg') fmts
      CROSS JOIN merged
      GROUP BY fmt, 2
      ORDER BY fmt, tag"""))

  /** POST-RENAME MERGE (SURVEY §2 S8m2 DML): events land in a Delta
    * table, `value` is RENAMED to `amount` (metadata-only — the table
    * boots into column mapping, no file rewritten), then a full MERGE
    * runs through statement text against the RENAMED schema: matched
    * keys double their amount, new keys insert. Proves the whole
    * post-rename DML path (logical-name source → physical-name staging →
    * mapped read-back); the oracle recomputes the end state from raw
    * events with set algebra under the new column name. */
  val tlakeMergeRenamed = GQuery(
    "t101_lake_merge_renamed",
    (s, dir) => {
      val t = tmp("graft_t101_q") + "/tbl"
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "events").select(col("event_id"), col("value")), t)
      graft.sources.Lake.sql(s,
        s"ALTER TABLE '$t' RENAME COLUMN value TO amount")
      Tables(s, dir, "events")
        .where(col("event_id") % 5 === 0)
        .select(col("event_id"), (col("value") * 2).as("amount"))
        .union(Tables(s, dir, "events").where(col("event_id") % 7 === 0)
          .select((col("event_id") + 200000000L).as("event_id"),
            col("value").as("amount")))
        .createOrReplaceTempView("graft_t101_src")
      graft.sources.Lake.sql(s,
        s"""MERGE INTO '$t' USING (SELECT * FROM graft_t101_src) ON (event_id)
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      graft.sources.Lake.read(s, t)
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("amount")), 2).as("sum_amount"),
          count(when(col("event_id") >= 200000000L, 1)).as("inserted"))
    },
    Some("""WITH base AS (SELECT event_id, value FROM events),
      src AS (
        SELECT event_id, value * 2 AS amount FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT event_id + 200000000, value FROM events WHERE event_id % 7 = 0),
      merged AS (
        SELECT b.event_id, b.value AS amount FROM base b
        WHERE b.event_id NOT IN (SELECT event_id FROM src)
        UNION ALL
        SELECT s.event_id, s.amount FROM src s)
      SELECT count(*) AS cnt, round(sum(amount), 2) AS sum_amount,
        count(CASE WHEN event_id >= 200000000 THEN 1 END) AS inserted
      FROM merged"""))

  /** STORAGE-PARTITIONED JOIN end-to-end (SURVEY §2 S9bj): orders and
    * customer land in two Iceberg tables both `bucket(8, o_custkey)`-
    * partitioned, then join through the co-partitioned reader
    * ([[graft.operators.BucketedJoin]]) — zero exchanges, bucket i vs
    * bucket i only (narrow zip; the BucketingSpec asserts the no-shuffle
    * lineage, this query oracles the RESULT). At 100 TB this is the one
    * plan that joins two facts without the fact-fact exchange. The oracle
    * is the plain DuckDB join. */
  val tbucketJoin = GQuery(
    "t102_bucket_join",
    (s, dir) => {
      val root = tmp("graft_t102_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment")),
        s"$root/customer", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.operators.BucketedJoin.coBucketedJoin(s,
          s"$root/orders", s"$root/customer", "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** SPJ AUTO-ROUTE from plain SQL (SURVEY §2 S9bja): the same co-bucketed
    * layout as t102, but the join is STATEMENT TEXT — no TVF, no API call.
    * [[graft.sources.LakeDelegate]] recognizes the single-block equi-join
    * over two `bucket(8, o_custkey)` Iceberg tables and routes it through
    * the co-partitioned reader with the statement's per-alias WHERE
    * conjuncts pushed inside the per-bucket scans and the join view pruned
    * to the referenced columns (BucketingSpec asserts the plan facts: no
    * Spark join node, exact view schema). The oracle is the plain DuckDB
    * join with the same filters. */
  val tspjAuto = GQuery(
    "t103_spj_auto",
    (s, dir) => {
      val root = tmp("graft_t103_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_acctbal"), col("c_mktsegment")),
        s"$root/customer", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
              round(sum(o.o_totalprice), 2) AS revenue
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.o_custkey
            WHERE o.o_totalprice > 1000.0 AND c.c_acctbal > 0.0
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 1000.0 AND c_acctbal > 0.0
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** BUCKET-LOCAL AGGREGATION end-to-end (SURVEY §2 S9ba): orders land in
    * a `bucket(8, o_custkey)` Iceberg table across TWO appends (so buckets
    * hold multiple files), then `GROUP BY o_custkey` runs as per-bucket
    * COMPLETE hash aggregation through [[graft.operators.BucketedAgg]] —
    * zero exchange (BucketingSpec asserts the lineage), final results
    * emitted straight from each bucket. The oracle is the plain DuckDB
    * GROUP BY. At 100 TB this kills the one shuffle a high-cardinality
    * fact rollup otherwise always pays. */
  val tbucketAgg = GQuery(
    "t104_bucket_agg",
    (s, dir) => {
      val root = tmp("graft_t104_q")
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.IcebergWrite.append(s,
        orders.where(col("o_orderkey") % 2 === 0),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        orders.where(col("o_orderkey") % 2 === 1),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.operators.BucketedAgg.bucketLocalAgg(s, s"$root/t", "o_custkey",
        Seq("o_custkey"),
        Seq(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("o_orderkey")).as("first_order")),
        where = Some(col("o_totalprice") > 1000.0))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS total,
        min(o_orderkey) AS first_order
      FROM orders WHERE o_totalprice > 1000.0
      GROUP BY o_custkey ORDER BY o_custkey"""))

  /** BUCKET-LOCAL AGG AUTO-ROUTE from plain SQL (SURVEY §2 S9baa): the
    * t104 layout, but the GROUP BY is STATEMENT TEXT — the delegation
    * planner detects the single-table bucket-key grouping and plans it
    * through [[graft.operators.BucketedAgg]] (zero exchange; BucketingSpec
    * asserts the plan carries no HashAggregate). Oracle = plain DuckDB. */
  val tbucketAggSql = GQuery(
    "t105_bucket_agg_sql",
    (s, dir) => {
      val root = tmp("graft_t105_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT o_custkey, count(*) AS cnt,
              round(sum(o_totalprice), 2) AS total
            FROM '$root/t' WHERE o_totalprice > 1000.0
            GROUP BY o_custkey ORDER BY o_custkey""")
    },
    Some("""SELECT o_custkey, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS total
      FROM orders WHERE o_totalprice > 1000.0
      GROUP BY o_custkey ORDER BY o_custkey"""))

  /** SPJ + BUCKET-KEY GROUP BY fusion (SURVEY §2 S9baf): the t103 layout
    * with the rollup ON the join key — statement text plans the join
    * through the co-partitioned reader AND the aggregation bucket-locally
    * on top of it (partition i of the joined frame is bucket i), so the
    * entire join+rollup runs with ZERO exchanges (BucketingSpec asserts
    * the plan carries neither a Spark join nor a HashAggregate). To keep
    * the oracle hash exact the aggregate is integer-only (doubles would
    * differ in ulps by accumulation order). */
  val tspjAggFused = GQuery(
    "t106_spj_agg_fused",
    (s, dir) => {
      val root = tmp("graft_t106_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_nationkey"), col("c_acctbal")),
        s"$root/customer", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT o.o_custkey, count(*) AS cnt,
              min(o.o_orderkey) AS first_order, max(c.c_nationkey) AS nk
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.o_custkey
            WHERE o.o_totalprice > 1000.0
            GROUP BY o.o_custkey ORDER BY o.o_custkey""")
    },
    Some("""SELECT o_custkey, count(*) AS cnt,
        min(o_orderkey) AS first_order, max(c_nationkey) AS nk
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 1000.0
      GROUP BY o_custkey ORDER BY o_custkey"""))

  /** BUCKET-LOCAL DISTINCT from plain SQL (SURVEY §2 S9bd): duplicate
    * rows land across TWO appends into a `bucket(8, o_custkey)` Iceberg
    * table, then `SELECT DISTINCT` over key-including columns routes
    * through the per-bucket hash de-duplication — zero exchange
    * (BucketingSpec asserts no HashAggregate) — exact because equal rows
    * share a bucket. Oracle = plain DuckDB DISTINCT over the same
    * doubled-up rows. */
  val tbucketDistinct = GQuery(
    "t107_bucket_distinct",
    (s, dir) => {
      val root = tmp("graft_t107_q")
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderstatus"))
      graft.sources.IcebergWrite.append(s, orders, s"$root/t",
        partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        orders.where(col("o_custkey") % 3 === 0), s"$root/t",
        partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT DISTINCT o_custkey, o_orderstatus FROM '$root/t'
            ORDER BY o_custkey, o_orderstatus""")
    },
    Some("""SELECT DISTINCT o_custkey, o_orderstatus FROM (
        SELECT o_custkey, o_orderstatus FROM orders
        UNION ALL
        SELECT o_custkey, o_orderstatus FROM orders WHERE o_custkey % 3 = 0)
      ORDER BY o_custkey, o_orderstatus"""))

  /** SPJ with NATURAL (different) key names (SURVEY §2 S9bjk): orders
    * buckets `o_custkey`, customer buckets its OWN `c_custkey` — no
    * rename at write time — and the statement's `ON o.o_custkey =
    * c.c_custkey` still routes through the co-partitioned reader (the
    * bucket transform hashes VALUES; the names need not match). Oracle =
    * the plain DuckDB join. */
  val tspjNatural = GQuery(
    "t108_spj_natural",
    (s, dir) => {
      val root = tmp("graft_t108_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment")),
        s"$root/customer", partitionBy = Seq("bucket(8, c_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
              round(sum(o.o_totalprice), 2) AS revenue
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.c_custkey
            WHERE c.c_acctbal > 0.0
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_acctbal > 0.0
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** MULTI-TABLE SPJ auto-route (SURVEY §2 S9bj3): a 3-table flat INNER
    * chain — two co-bucketed facts plus a plain dimension — routes the
    * fact-fact pair through the zero-shuffle co-partitioned reader and
    * re-joins the dimension against the SPJ view (broadcast-scale), all
    * from statement text. This is the star shape where the zero-exchange
    * win is biggest at 100 TB: the fact-fact exchange disappears and only
    * the tiny dim join remains a Spark join. Oracle = the plain DuckDB
    * 3-way join. */
  val tspjThreeTable = GQuery(
    "t109_spj_three_table",
    (s, dir) => {
      val root = tmp("graft_t109_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal")),
        s"$root/customer", partitionBy = Seq("bucket(8, c_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        s"$root/nation")
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT n.n_name, count(*) AS cnt,
              round(sum(o.o_totalprice), 2) AS rev
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.c_custkey
            JOIN '$root/nation' n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_totalprice > 1000.0
            GROUP BY n.n_name ORDER BY n.n_name""")
    },
    Some("""SELECT n_name, count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_totalprice > 1000.0
      GROUP BY n_name ORDER BY n_name"""))

  /** BUCKET-LOCAL count(DISTINCT) (SURVEY §2 S9bcd): under a key-including
    * grouping every group lives in one bucket, so a distinct aggregate is
    * bucket-local EXACT — the statement routes with zero exchanges where
    * Spark's plan pays Expand + two shuffles. The dedup-rollup
    * (`COUNT(DISTINCT doc) per source`) is the most common aggregate an
    * LLM-data pipeline runs. Oracle = the plain DuckDB distinct count. */
  val tbucketCountDistinct = GQuery(
    "t110_bucket_count_distinct",
    (s, dir) => {
      val root = tmp("graft_t110_q")
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      graft.sources.IcebergWrite.append(s,
        orders.where(col("o_orderkey") % 2 === 0),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        orders.where(col("o_orderkey") % 2 === 1),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT o_custkey, count(DISTINCT o_orderstatus) AS d,
              count(*) AS cnt
            FROM '$root/t' GROUP BY o_custkey ORDER BY o_custkey""")
    },
    Some("""SELECT o_custkey, count(DISTINCT o_orderstatus) AS d,
        count(*) AS cnt
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  /** HAVING through the bucket-local agg route (SURVEY §2 S9bah): the
    * per-bucket aggregation is COMPLETE, so HAVING is a plain filter over
    * the routed view — including an aggregate the select list does NOT
    * carry (computed as a hidden column, filtered, projected away). Zero
    * exchanges end to end. Oracle = the plain DuckDB HAVING. */
  val tbucketHaving = GQuery(
    "t111_bucket_having",
    (s, dir) => {
      val root = tmp("graft_t111_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT o_custkey, count(*) AS cnt
            FROM '$root/t' WHERE o_totalprice > 1000.0
            GROUP BY o_custkey HAVING sum(o_totalprice) > 150000.0
            ORDER BY o_custkey""")
    },
    Some("""SELECT o_custkey, count(*) AS cnt
      FROM orders WHERE o_totalprice > 1000.0
      GROUP BY o_custkey HAVING sum(o_totalprice) > 150000.0
      ORDER BY o_custkey"""))

  /** DELTA bucket layout (SURVEY §2 S8bk): the t103 shape on DELTA tables
    * — our Delta writer stamps `bucket(n, key)` as a graft layout
    * (`__gb=` path prefixes + the `graft.bucketSpec` property, rows
    * hashed through the engine-pinned Iceberg Murmur3), and the plain-SQL
    * SPJ auto-route plans the join through the co-partitioned reader with
    * zero exchanges, exactly as on Iceberg. Oracle = the DuckDB join. */
  val tdeltaBucketJoin = GQuery(
    "t112_delta_bucket_join",
    (s, dir) => {
      val root = tmp("graft_t112_q")
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment")),
        s"$root/customer", partitionBy = Seq("bucket(8, c_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
              round(sum(o.o_totalprice), 2) AS revenue
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.c_custkey
            WHERE o.o_totalprice > 1000.0 AND c.c_acctbal > 0.0
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 1000.0 AND c_acctbal > 0.0
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** CORPUS DEDUP ACCOUNTING through the zero-exchange route (SURVEY §2
    * S9bcd over the LLM surface): documents land — with duplicates across
    * two appends — in a `bucket(8, source)` Iceberg table, and the
    * standard curation rollup `count(*) vs count(DISTINCT md5(text)) per
    * source` runs bucket-locally from plain SQL: zero exchanges, where
    * Spark's exact distinct pays Expand + two shuffles of ~the whole
    * corpus. The distinct argument is an EXPRESSION (the fingerprint),
    * exercising the seen-set's bound arbitrary children. Oracle = the
    * DuckDB distinct-md5 rollup over the same doubled rows. */
  val tbucketDedupRollup = GQuery(
    "t113_bucket_dedup_rollup",
    (s, dir) => {
      val root = tmp("graft_t113_q")
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      graft.sources.IcebergWrite.append(s, docs, s"$root/t",
        partitionBy = Seq("bucket(8, source)"))
      graft.sources.IcebergWrite.append(s,
        docs.where(col("doc_id") % 5 === 0), s"$root/t",
        partitionBy = Seq("bucket(8, source)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT source, count(*) AS total,
              count(DISTINCT md5(text)) AS uniq
            FROM '$root/t' GROUP BY source ORDER BY source""")
    },
    Some("""SELECT source, count(*) AS total,
        count(DISTINCT md5(text)) AS uniq
      FROM (SELECT * FROM documents
            UNION ALL SELECT * FROM documents WHERE doc_id % 5 = 0)
      GROUP BY source ORDER BY source"""))

  /** MERGE-ON-READ TOLERANT ROUTING, Delta (SURVEY §2 S9dv): a row-level
    * DELETE lands as deletion vectors (file-scoped masks — no row ever
    * moves between buckets), and the bucket-local aggregation route KEEPS
    * firing: the per-bucket scans apply the DV masks inline, zero
    * exchanges, where before r19 one GDPR DELETE silently reverted every
    * routed query to the full-shuffle plan until OPTIMIZE. Oracle =
    * DuckDB over the surviving rows. */
  val tdeltaDvRollup = GQuery(
    "t114_delta_dv_rollup",
    (s, dir) => {
      val root = tmp("graft_t114_q")
      graft.sources.DeltaWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.DeltaWrite.deleteWhere(s, s"$root/orders",
        col("o_orderkey") % 7 === 0)
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT o_custkey, count(*) AS cnt,
              round(sum(o_totalprice), 2) AS rev
            FROM '$root/orders' GROUP BY o_custkey ORDER BY o_custkey""")
    },
    Some("""SELECT o_custkey, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS rev
      FROM orders WHERE NOT (o_orderkey % 7 = 0)
      GROUP BY o_custkey ORDER BY o_custkey"""))

  /** MERGE-ON-READ TOLERANT ROUTING, Iceberg (SURVEY §2 S9dv): the t112
    * star shape AFTER a position-delete DELETE — the SPJ route keeps the
    * zero-exchange fact join, the per-bucket scans anti-join the delete
    * file's (path, pos) rows, and the WHERE still pushes + file-stat-
    * prunes. Oracle = DuckDB with the deleted keys filtered out. */
  val ticebergMorSpj = GQuery(
    "t115_iceberg_mor_spj",
    (s, dir) => {
      val root = tmp("graft_t115_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/orders", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment")),
        s"$root/customer", partitionBy = Seq("bucket(8, c_custkey)"))
      graft.sources.IcebergWrite.deleteWhere(s, s"$root/orders",
        col("o_orderkey") % 5 === 0)
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
              round(sum(o.o_totalprice), 2) AS revenue
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.c_custkey
            WHERE o.o_totalprice > 1000.0 AND c.c_acctbal > 0.0
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE NOT (o_orderkey % 5 = 0)
        AND o_totalprice > 1000.0 AND c_acctbal > 0.0
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** BUCKET-LOCAL WINDOW ROUTE (SURVEY §2 S9bw): a running sum + row
    * number `PARTITION BY` the bucket key from plain statement text —
    * Spark's own WindowExec runs over the clustering-declared
    * co-partitioned reader with its exchange GONE (stock Spark shuffles
    * the whole fact for this shape). Oracle = DuckDB's identical window
    * (both ANSI default frames; o_orderkey is unique, so the running sum
    * is deterministic). */
  val tbucketWindow = GQuery(
    "t116_bucket_window",
    (s, dir) => {
      val root = tmp("graft_t116_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$root/t", partitionBy = Seq("bucket(8, o_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT o_orderkey, o_custkey,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn,
              round(sum(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS run
            FROM '$root/t' WHERE o_totalprice > 1000.0
            ORDER BY o_custkey, o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_custkey,
        row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn,
        round(sum(o_totalprice) OVER
          (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS run
      FROM orders WHERE o_totalprice > 1000.0
      ORDER BY o_custkey, o_orderkey"""))

  /** COMPOSITE day+bucket LAYOUT (SURVEY §2 S9cl): the canonical 100 TB
    * fact layout — `PARTITIONED BY (day(ts), bucket(n, key))` — keeps
    * BOTH levers: the date WHERE prunes whole days' files from the
    * manifest's derived day intervals, and the surviving files still join
    * zero-exchange through the co-partitioned reader. Oracle = the DuckDB
    * star with the same date cut. */
  val tcompositeLayout = GQuery(
    "t117_composite_layout_spj",
    (s, dir) => {
      val root = tmp("graft_t117_q")
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate")),
        s"$root/orders",
        partitionBy = Seq("day(o_orderdate)", "bucket(8, o_custkey)"))
      graft.sources.IcebergWrite.append(s,
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        s"$root/customer", partitionBy = Seq("bucket(8, c_custkey)"))
      graft.sources.Lake.sqlFrame(s,
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
              round(sum(o.o_totalprice), 2) AS rev
            FROM '$root/orders' o JOIN '$root/customer' c
              ON o.o_custkey = c.c_custkey
            WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
        round(sum(o_totalprice), 2) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Catalog VIEWs end-to-end (Lake.sql CREATE VIEW → bare-name
    * expansion): events land in a Delta table under a catalog directory,
    * a VIEW stores the per-type rollup, a second VIEW filters the first,
    * and the query reads the view-over-view by bare name — all statement
    * text. The oracle recomputes the nested aggregation from raw
    * events. */
  val tlakeViews = GQuery(
    "t92_lake_views",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"))
      val root = tmp("graft_t92_q")
      graft.sources.DeltaWrite.append(s, ev, s"$root/events_delta")
      graft.sources.Lake.sql(s, s"USE '$root'")
      try {
        graft.sources.Lake.sql(s,
          "CREATE VIEW type_rollup AS SELECT event_type, count(*) AS cnt, " +
            "round(sum(value), 2) AS sum_value FROM events_delta " +
            "WHERE value >= 5.0 GROUP BY event_type")
        graft.sources.Lake.sql(s,
          "CREATE VIEW busy_types AS SELECT event_type, cnt, sum_value " +
            "FROM type_rollup WHERE cnt >= 10")
        graft.sources.Lake.sqlFrame(s,
          "SELECT event_type, cnt, sum_value FROM busy_types ORDER BY event_type")
      } finally graft.sources.Lake.sql(s, "USE DEFAULT")
    },
    Some("""SELECT event_type, cnt, sum_value FROM (
        SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        FROM events WHERE value >= 5.0 GROUP BY event_type) t
      WHERE cnt >= 10
      ORDER BY event_type"""))

  /** CDC APPLY, cross-format both ways: a target table in the OTHER
    * format is seeded from the source's first snapshot, the source then
    * evolves (append + merge-on-read delete), and one
    * `changesBetween(seed, current)` applied via `Lake.applyChanges`
    * must make the target equal the source's current state — the
    * changelog as the interchange for incremental materialized-view
    * maintenance across formats. Oracle recomputes the end state from
    * the source rows; both directions share it. */
  val tcdcApply = GQuery(
    "t_cdc_apply",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val seed = ev.where(col("event_type").isin("click", "error"))
      val later = ev.where(col("event_type") === "view")
      val delCond = col("event_type") === "error" && col("value") < lit(50.0)

      // Delta source → Iceberg target
      val dSrc = tmp("graft_cdcsrcd_q")
      val dv1 = graft.sources.DeltaWrite.append(s, seed, dSrc)
      val iTgt = tmp("graft_cdctgti_q")
      graft.sources.IcebergWrite.append(s, graft.sources.DeltaRead.snapshot(s, dSrc, dv1), iTgt)
      graft.sources.DeltaWrite.append(s, later, dSrc)
      graft.sources.DeltaWrite.deleteWhere(s, dSrc, delCond)
      graft.sources.Lake.applyChanges(s,
        graft.sources.DeltaRead.changesBetween(s, dSrc, dv1), iTgt, Seq("event_id"))

      // Iceberg source → Delta target
      val iSrc = tmp("graft_cdcsrci_q")
      val is1 = graft.sources.IcebergWrite.append(s, seed, iSrc)
      val dTgt = tmp("graft_cdctgtd_q")
      graft.sources.DeltaWrite.append(s, graft.sources.IcebergRead.snapshot(s, iSrc, is1), dTgt)
      graft.sources.IcebergWrite.append(s, later, iSrc)
      graft.sources.IcebergWrite.deleteWhere(s, iSrc, delCond)
      graft.sources.Lake.applyChanges(s,
        graft.sources.IcebergRead.changesBetween(s, iSrc, is1), dTgt, Seq("event_id"))

      def agg(table: String, direction: String) =
        graft.sources.Lake.read(s, table)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("dir", lit(direction))
      agg(iTgt, "delta_to_iceberg").unionByName(agg(dTgt, "iceberg_to_delta"))
        .select(col("dir"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("dir"), col("event_type"))
    },
    Some("""SELECT dir, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM (SELECT 'delta_to_iceberg' AS dir FROM range(1)
            UNION ALL SELECT 'iceberg_to_delta') dirs
      CROSS JOIN events
      WHERE event_type IN ('click', 'view', 'error')
        AND NOT (event_type = 'error' AND value < 50.0)
      GROUP BY dir, event_type
      ORDER BY dir, event_type"""))

  /** INCREMENTAL REFRESH: an Iceberg target follows a Delta source
    * through `Lake.sync` — full refresh on first sync, changelog apply on
    * the second (after an append + a DV delete upstream), nothing on the
    * third (up to date; the high-water mark lives in the target's own
    * metadata). The target's final aggregate must equal the source's end
    * state recomputed by the oracle; the no-op third sync is pinned by
    * riding the target's snapshot count in a column. */
  val tlakeSync = GQuery(
    "t_lake_sync",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val src = tmp("graft_syncsrc_q")
      val tgt = tmp("graft_synctgt_q")
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type").isin("click", "error")), src)
      graft.sources.IcebergWrite.append(s, ev.limit(0), tgt)
      graft.sources.Lake.sync(s, src, tgt, Seq("event_id")) // full refresh
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "view"), src)
      graft.sources.DeltaWrite.deleteWhere(s,
        src, col("event_type") === "error" && col("value") < lit(50.0))
      graft.sources.Lake.sync(s, src, tgt, Seq("event_id")) // incremental
      val snapsBefore = graft.sources.IcebergRead.currentSnapshotId(s, tgt)
      graft.sources.Lake.sync(s, src, tgt, Seq("event_id")) // up to date: no commit
      val noopClean =
        graft.sources.IcebergRead.currentSnapshotId(s, tgt) == snapsBefore
      graft.sources.Lake.read(s, tgt)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("noop_clean", lit(noopClean))
        .select(col("event_type"), col("cnt"), col("sum_value"), col("noop_clean"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value,
        true AS noop_clean
      FROM events
      WHERE event_type IN ('click', 'view', 'error')
        AND NOT (event_type = 'error' AND value < 50.0)
      GROUP BY event_type
      ORDER BY event_type"""))

  /** S8c/S9c SHALLOW CLONE: build a Delta table from events (then DV-delete
    * errors), zero-copy clone it, append clicks ONLY to the clone, and
    * aggregate the CLONE — proving the clone carries the source's live
    * state (incl. the deletion vector), takes independent writes, and the
    * source's own aggregate is untouched (checked via union with the
    * source's re-aggregation). Oracle recomputes both scopes from events. */
  val tlakeClone = GQuery(
    "t_lake_clone",
    (s, dir) => {
      val src = tmp("graft_clone_q_src") + "/tbl"
      val dst = tmp("graft_clone_q_dst") + "/tbl"
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type").isin("click", "view", "error")), src)
      graft.sources.DeltaWrite.deleteWhere(s, src, col("event_type") === "error")
      graft.sources.Lake.clone(s, src, dst)
      graft.sources.DeltaWrite.append(s,
        ev.where(col("event_type") === "purchase"), dst)
      def agg(table: String, scope: String) =
        graft.sources.DeltaRead.snapshot(s, table)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("scope", lit(scope))
      agg(dst, "clone").unionByName(agg(src, "source"))
        .select(col("scope"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("scope"), col("event_type"))
    },
    Some("""WITH base AS (SELECT event_type, value FROM events
        WHERE event_type IN ('click', 'view')),
      clone AS (SELECT event_type, value FROM base
        UNION ALL SELECT event_type, value FROM events WHERE event_type = 'purchase')
      SELECT 'clone' AS scope, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value FROM clone GROUP BY event_type
      UNION ALL
      SELECT 'source', event_type, count(*), round(sum(value), 2)
      FROM base GROUP BY event_type
      ORDER BY scope, event_type"""))

  /** S8r/S9r RESTORE: stage clicks+views (the good state), append errors
    * (the bad write), Lake.restore to the good version on BOTH formats,
    * and aggregate both restored tables — the oracle recomputes the good
    * state from events. Delta side also proves post-restore writability
    * by appending signups after the restore. */
  val tlakeRestore = GQuery(
    "t_lake_restore",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val good = ev.where(col("event_type").isin("click", "view"))
      val bad = ev.where(col("event_type") === "error")

      val dt = tmp("graft_restore_q_d") + "/tbl"
      val gv = graft.sources.DeltaWrite.append(s, good, dt)
      graft.sources.DeltaWrite.append(s, bad, dt)
      graft.sources.Lake.restore(s, dt, gv)
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type") === "signup"), dt)

      val it = tmp("graft_restore_q_i") + "/tbl"
      val gi = graft.sources.IcebergWrite.append(s, good, it)
      graft.sources.IcebergWrite.append(s, bad, it)
      graft.sources.Lake.restore(s, it, gi)

      def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      agg(graft.sources.DeltaRead.snapshot(s, dt), "delta")
        .unionByName(agg(graft.sources.IcebergRead.snapshot(s, it), "iceberg"))
        .select(col("fmt"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("fmt"), col("event_type"))
    },
    Some("""SELECT 'delta' AS fmt, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
      FROM events WHERE event_type IN ('click', 'view', 'signup') GROUP BY event_type
      UNION ALL
      SELECT 'iceberg', event_type, count(*), round(sum(value), 2)
      FROM events WHERE event_type IN ('click', 'view') GROUP BY event_type
      ORDER BY fmt, event_type"""))

  /** S8m2/S9m2 COLUMN RENAME on both formats: stage a slice of events,
    * rename value→amount and event_type→kind (Delta boots column mapping;
    * Iceberg evolves by field id), append MORE rows under the NEW names,
    * and aggregate by the renamed columns — old files must resolve the
    * renamed columns (physical-name projection / field-id resolution) and
    * new files must land beside them. Oracle recomputes from events. */
  val tlakeRename = GQuery(
    "t_lake_rename",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val first = ev.where(col("event_type").isin("click", "view"))
      val more = ev.where(col("event_type") === "purchase")
        .withColumnRenamed("value", "amount").withColumnRenamed("event_type", "kind")

      val dt = tmp("graft_rename_q_d") + "/tbl"
      graft.sources.DeltaWrite.append(s, first, dt)
      graft.sources.Lake.renameColumn(s, dt, "value", "amount")
      graft.sources.Lake.renameColumn(s, dt, "event_type", "kind")
      graft.sources.DeltaWrite.append(s, more, dt)

      val it = tmp("graft_rename_q_i") + "/tbl"
      graft.sources.IcebergWrite.append(s, first, it)
      graft.sources.Lake.renameColumn(s, it, "value", "amount")
      graft.sources.Lake.renameColumn(s, it, "event_type", "kind")
      graft.sources.IcebergWrite.append(s, more, it)

      def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.groupBy(col("kind"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("amount")), 2).as("sum_amount"))
          .withColumn("fmt", lit(fmt))
      agg(graft.sources.DeltaRead.snapshot(s, dt), "delta")
        .unionByName(agg(graft.sources.IcebergRead.snapshot(s, it), "iceberg"))
        .select(col("fmt"), col("kind"), col("cnt"), col("sum_amount"))
        .orderBy(col("fmt"), col("kind"))
    },
    Some("""SELECT fmt, event_type AS kind, count(*) AS cnt,
        round(sum(value), 2) AS sum_amount
      FROM events CROSS JOIN (SELECT unnest(['delta', 'iceberg']) AS fmt)
      WHERE event_type IN ('click', 'view', 'purchase')
      GROUP BY fmt, event_type ORDER BY fmt, kind"""))

  /** S10u UNIFORM EXPORT: stage events into a Delta table, export it as
    * an ICEBERG table referencing the same files (zero copy), then
    * aggregate the data READ THROUGH THE ICEBERG SIDE — plus an
    * Iceberg-side append proving the export is a live table, with the
    * Delta source re-aggregated to prove it never noticed. Oracle
    * recomputes both scopes from events. */
  val tlakeUniform = GQuery(
    "t_lake_uniform",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val dt = tmp("graft_uniform_q_d") + "/tbl"
      val it = tmp("graft_uniform_q_i") + "/tbl"
      graft.sources.DeltaWrite.append(s, ev.where(col("event_type").isin("click", "view")), dt)
      graft.sources.IcebergWrite.exportDeltaAsIceberg(s, dt, it)
      graft.sources.IcebergWrite.append(s,
        ev.where(col("event_type") === "purchase"), it)
      def agg(df: org.apache.spark.sql.DataFrame, scope: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("scope", lit(scope))
      agg(graft.sources.IcebergRead.snapshot(s, it), "iceberg_view")
        .unionByName(agg(graft.sources.DeltaRead.snapshot(s, dt), "delta_source"))
        .select(col("scope"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("scope"), col("event_type"))
    },
    Some("""SELECT 'delta_source' AS scope, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
      FROM events WHERE event_type IN ('click', 'view') GROUP BY event_type
      UNION ALL
      SELECT 'iceberg_view', event_type, count(*), round(sum(value), 2)
      FROM events WHERE event_type IN ('click', 'view', 'purchase') GROUP BY event_type
      ORDER BY scope, event_type"""))

  /** S10u2 UNIFORM EXPORT, reverse: stage events into a PARTITIONED
    * Iceberg table (files carry all columns), export it as a Delta table
    * referencing the same files, aggregate the data READ THROUGH THE
    * DELTA SIDE, and DV-delete errors on the export only — the Iceberg
    * source re-aggregated must still include them. */
  val tlakeUniformRev = GQuery(
    "t_lake_uniform_rev",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
      val it = tmp("graft_unirev_q_i") + "/tbl"
      val dt = tmp("graft_unirev_q_d") + "/tbl"
      graft.sources.IcebergWrite.append(s,
        ev.where(col("event_type").isin("click", "view", "error")), it,
        partitionBy = Seq("event_type"))
      graft.sources.DeltaWrite.exportIcebergAsDelta(s, it, dt)
      graft.sources.DeltaWrite.deleteWhere(s, dt, col("event_type") === "error")
      def agg(df: org.apache.spark.sql.DataFrame, scope: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .withColumn("scope", lit(scope))
      agg(graft.sources.DeltaRead.snapshot(s, dt), "delta_view")
        .unionByName(agg(graft.sources.IcebergRead.snapshot(s, it), "iceberg_source"))
        .select(col("scope"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("scope"), col("event_type"))
    },
    Some("""SELECT 'delta_view' AS scope, event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
      FROM events WHERE event_type IN ('click', 'view') GROUP BY event_type
      UNION ALL
      SELECT 'iceberg_source', event_type, count(*), round(sum(value), 2)
      FROM events WHERE event_type IN ('click', 'view', 'error') GROUP BY event_type
      ORDER BY scope, event_type"""))

  /** S8cv CONVERT TO DELTA: lay events out as hive-partitioned plain
    * parquet, convert IN PLACE (zero rewrite), DV-delete the error
    * partition's rows through the now-Delta table, and aggregate —
    * proving the converted log references the original files correctly
    * (partition values from dir names, counts from footers) and that the
    * directory became a fully writable Delta table. */
  val tlakeConvert = GQuery(
    "t_lake_convert",
    (s, dir) => {
      val pq = tmp("graft_convert_q") + "/tbl"
      Tables(s, dir, "events").select(col("event_id"), col("value"), col("event_type"))
        .where(col("event_type").isin("click", "view", "error"))
        .write.partitionBy("event_type").parquet(pq)
      graft.sources.Lake.convert(s, pq, partitionBy = Seq("event_type"))
      graft.sources.DeltaWrite.deleteWhere(s, pq, col("event_type") === "error")
      graft.sources.DeltaRead.snapshot(s, pq)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type ORDER BY event_type"""))

  /** S12m METADATA-ONLY COUNTS: `Lake.rowCount` + `Lake.partitionSummary`
    * answer count(*) and SHOW PARTITIONS from the log/manifests alone —
    * zero data files opened (at 100 TB: driver milliseconds, not a
    * cluster job). The oracle recomputes the same numbers from the DATA,
    * so a stale or wrong metadata fold hash-mismatches. Delta side also
    * DV-deletes a slice first: live counts must subtract DV cardinalities
    * exactly; Iceberg side proves the manifest fold. `from_metadata`
    * asserts in-band that neither path silently fell back to a scan. */
  val tmetaCounts = GQuery(
    "t_metadata_counts",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          pmod(col("user_id"), lit(8)).as("bucket"))
      val dtbl = tmp("graft_meta_delta") + "/tbl"
      graft.sources.DeltaWrite.append(s, ev, dtbl, partitionBy = Seq("bucket"))
      graft.sources.DeltaWrite.deleteWhere(s, dtbl, col("event_type") === "click")
      val itbl = tmp("graft_meta_ice") + "/tbl"
      graft.sources.IcebergWrite.append(s,
        ev.where(col("event_type") =!= "click"), itbl, Seq("bucket"))
      def one(fmt: String, tbl: String) = {
        val (cnt, fromMeta) = graft.sources.Lake.rowCount(s, tbl)
        graft.sources.Lake.partitionSummary(s, tbl)
          .select(lit(fmt).as("fmt"), col("partition"), col("n_rows"),
            lit(cnt).as("total_rows"), lit(fromMeta).as("from_metadata"))
      }
      one("delta", dtbl).unionByName(one("iceberg", itbl))
        .orderBy(col("fmt"), col("partition"))
    },
    Some("""WITH f AS (SELECT user_id % 8 AS bucket FROM events
        WHERE event_type <> 'click'),
      p AS (SELECT concat('bucket=', CAST(bucket AS VARCHAR)) AS "partition",
          count(*) AS n_rows FROM f GROUP BY 1)
      SELECT 'delta' AS fmt, "partition", n_rows,
        (SELECT count(*) FROM f) AS total_rows, TRUE AS from_metadata FROM p
      UNION ALL
      SELECT 'iceberg', "partition", n_rows,
        (SELECT count(*) FROM f), TRUE FROM p
      ORDER BY fmt, "partition""""))

  def all: Seq[GQuery] =
    Seq(t1, t1orc, t1avro, t2avro, t2, t3, tmetaCounts, tskip, tnullskip, tbloom, tdeltaBloom, ttokens, ticebergStats, ticebergSpecEvo, ticebergWap, tdeltaStats, tdelta, ticeberg,
      tdeltaRt, ticebergRt, ticebergMor,
      tdeltaDv, tdeltaUpsert, ticebergPart, ticebergHiddenPart, tdeltaChanges, tdeltaEvolve, ticebergEvolve,
      ticebergChanges, tdeltaCdc, tlakeCompact, tlakeReplaceWhere, tlakeSqlDml,
      tlakeSqlMaintenance, tlakeSqlSelect, tlakeSqlAgg, tlakeSqlAlterAdd, tlakeTpchSql,
      tlakeSqlWindow, tlakeCreateTable, tlakeUseCatalog, tlakeMergeFull, tlakeMergeNullCond, tlakeMergeEvolve, tlakeMergeRenamed, tbucketJoin, tspjAuto, tbucketAgg, tbucketAggSql, tspjAggFused, tbucketDistinct, tspjNatural, tspjThreeTable, tbucketCountDistinct, tbucketHaving, tdeltaBucketJoin, tbucketDedupRollup, tdeltaDvRollup, ticebergMorSpj, tbucketWindow, tcompositeLayout, tlakeViews,
      tcdcApply, tlakeSync, tlakeClone,
      tlakeRestore, tlakeRename, tlakeUniform, tlakeUniformRev, tlakeConvert)
}
