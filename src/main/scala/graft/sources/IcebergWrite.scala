package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Writer for EXTERNAL Apache Iceberg tables — the outbound half of the S9
  * interop story ([[IcebergRead]] is inbound), mirroring what
  * [[DeltaWrite]] is to [[DeltaRead]]. Emits the open spec's full chain:
  * `vN.metadata.json` (+ `version-hint.text`) → snapshot → Avro
  * manifest-list → Avro manifest → parquet data files, with Iceberg
  * field-ids carried in the Avro schemas.
  *
  * Declared subset: format-version 2, parquet data, primitive column
  * types (the same subset [[IcebergRead]] reads), IDENTITY partitioning
  * on string/int/long/date/boolean columns (typed partition records with
  * spec field-ids 1000+i in every manifest; data files keep ALL columns,
  * per the spec's recommendation, so readers need no value injection),
  * and merge-on-read position deletes ([[deleteWhere]]). Appends only
  * create new snapshots; previous snapshots stay readable (time travel
  * by snapshot id).
  *
  * Commit protocol: every `vN.metadata.json` is published by
  * [[LakeLog.claim]], so exactly one concurrent committer wins each N; the
  * loser re-reads and re-claims N+1 ([[commitSnapshot]] for snapshots,
  * [[editMetadata]] for metadata-only commits). The winner then swaps
  * `version-hint.text` ([[LakeLog.replace]]); the hint is advisory, and
  * readers and writers resolve the current version through
  * [[IcebergRead.currentMetadata]]. */
object IcebergWrite {

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamp"
    // Iceberg distinguishes `timestamp` (no zone) from `timestamptz`; an
    // NTZ column is exactly the spec's zoneless `timestamp`, so accept it
    // rather than refusing (µs representation is identical either way).
    case TimestampNTZType => "timestamp"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    // canonical TEXT form for the schema-pinning compare; the metadata
    // JSON form is an object — see icebergTypeJson
    case ArrayType(elem, _) => s"list<${icebergType(elem)}>"
    case other => throw new IllegalArgumentException(
      s"unsupported column type for Iceberg write: $other (primitive-type subset)")
  }

  /** Canonical text of a metadata "type" node — the compare form the
    * schema pinning uses against [[icebergType]]. A primitive type is a
    * JSON string; a list type is an OBJECT (where `asText()` returns ""
    * and a naive compare would break). */
  private def typeText(n: com.fasterxml.jackson.databind.JsonNode): String =
    if (n.isObject && n.path("type").asText() == "list")
      s"list<${typeText(n.path("element"))}>"
    else n.asText()

  /** JSON value for a field's "type": primitives as the quoted string,
    * `array<primitive>` as the spec's list object with a freshly minted
    * element-id from `nextId` — element ids live in the SAME id space as
    * column ids and count toward last-column-id, so callers allocate all
    * top-level ids first (keeping the data-file id stamping derivable
    * without parsing this JSON) and hand the counter over for elements. */
  private def icebergTypeJson(dt: DataType, nextId: () => Int): String = dt match {
    case ArrayType(elem, containsNull) =>
      val eid = nextId()
      s"""{"type":"list","element-id":$eid,"element":${icebergTypeJson(elem, nextId)},"element-required":${!containsNull}}"""
    case other => mapper.writeValueAsString(icebergType(other))
  }

  /** Avro type for a partition value (dates as epoch-day ints, the spec's
    * manifest representation). */
  private def partitionAvroType(dt: DataType): String = dt match {
    case StringType => "string"
    case IntegerType | DateType => "int"
    case LongType => "long"
    case BooleanType => "boolean"
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg partition column type $other " +
        "(identity partitioning subset: string/int/long/date/boolean)")
  }

  private def metaDir(table: String) = Paths.get(table.stripSuffix("/"), "metadata")
  private def dataDir(table: String) = Paths.get(table.stripSuffix("/"), "data")

  /** `df` with `parquet.field.id` metadata attached per `fieldIds` —
    * parquet files then carry Iceberg field ids (Spark's field-id writer
    * is on by default), enabling the spec's id-based column resolution. */
  private def stampFieldIds(df: DataFrame, fieldIds: Map[String, Int]): DataFrame =
    if (fieldIds.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{col => fcol}
      df.select(df.schema.fields.toSeq.map { f =>
        fieldIds.get(f.name) match {
          case Some(id) => fcol(f.name).as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id.toLong).build())
          case None => fcol(f.name)
        }
      }: _*)
    }

  /** The current schema's name → field-id map (empty pre-creation). */
  private def fieldIdMap(
      prior: Option[com.fasterxml.jackson.databind.JsonNode]): Map[String, Int] =
    prior.map { meta =>
      currentSchemaNode(meta).path("fields").elements().asScala
        .map(f => f.path("name").asText() -> f.path("id").asInt(-1))
        .filter(_._2 > 0).toMap
    }.getOrElse(Map.empty)

  /** The current metadata version and a private copy of its JSON, None
    * before the first commit. */
  private def head(table: String): Option[(Int, ObjectNode)] =
    IcebergRead.currentMetadata(table).map { case (v, f) =>
      v -> mapper.readTree(f.toFile).asInstanceOf[ObjectNode]
    }

  private def existingHead(table: String): (Int, ObjectNode) = {
    val h = head(table)
    require(h.isDefined, s"not an Iceberg table: $table")
    h.get
  }

  /** Claim metadata version `version` ([[LakeLog.claim]]); the winner then
    * points `version-hint.text` at it. */
  private def claimMetadata(table: String, version: Int, json: String): Boolean = {
    val won = LakeLog.claim(metaDir(table), s"v$version.metadata.json", json)
    if (won) LakeLog.replace(metaDir(table), "version-hint.text", version.toString)
    won
  }

  /** The optimistic loop of every metadata-only commit: `edit` gets a
    * fresh copy of the current metadata and either changes it and returns
    * `Right(result)`, which claims the next version, or returns
    * `Left(result)` to commit nothing. A lost claim re-reads and re-edits. */
  @scala.annotation.tailrec
  private def editMetadata[T](table: String)(edit: ObjectNode => Either[T, T]): T = {
    val (base, meta) = existingHead(table)
    edit(meta) match {
      case Left(result) => result
      case Right(result) =>
        meta.put("last-updated-ms", System.currentTimeMillis())
        if (claimMetadata(table, base + 1, mapper.writeValueAsString(meta))) result
        else editMetadata(table)(edit)
    }
  }

  /** The retry loop of rewrites whose whole commit derives from one base
    * version ([[commitSnapshot]]'s `expectBase`): an attempt returns None
    * when a concurrent commit moved the base, and runs again. */
  @scala.annotation.tailrec
  private def rederive(attempt: => Option[Long]): Long = attempt match {
    case Some(id) => id
    case None => rederive(attempt)
  }

  // --- Avro schemas, field-ids per the Iceberg spec's manifest tables ---

  private val manifestListSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514}]}""")

  /** Manifest-entry schema with a TYPED partition record: one nullable
    * field per partition column, spec field-ids 1000+i. Empty fields →
    * the unpartitioned r102 record. */
  private def entrySchema(partFields: Seq[(String, DataType)]): org.apache.avro.Schema = {
    val pf = partFields.zipWithIndex.map { case ((name, dt), i) =>
      s"""{"name":"$name","type":["null","${partitionAvroType(dt)}"],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int","field-id":0},
        {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int","field-id":134},
          {"name":"file_path","type":"string","field-id":100},
          {"name":"file_format","type":"string","field-id":101},
          {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pf]}},
          {"name":"record_count","type":"long","field-id":103},
          {"name":"file_size_in_bytes","type":"long","field-id":104},
          {"name":"null_value_counts","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}],"default":null,"field-id":110},
          {"name":"lower_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}],"default":null,"field-id":125},
          {"name":"upper_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}],"default":null,"field-id":128},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}]}}]}""")
  }

  /** Build the Avro (array-as-map) value for a bounds/counts map keyed by
    * field id. `kv` is the k_v record schema inside the nullable union. */
  private def kvList(fieldSchema: org.apache.avro.Schema,
      entries: Seq[(Int, Any)]): java.util.List[org.apache.avro.generic.GenericRecord] = {
    import org.apache.avro.generic.GenericData
    val arr = fieldSchema.getTypes.asScala.find(_.getType != org.apache.avro.Schema.Type.NULL).get
    val kv = arr.getElementType
    val out = new java.util.ArrayList[org.apache.avro.generic.GenericRecord](entries.size)
    entries.foreach { case (k, v) =>
      val r = new GenericData.Record(kv)
      r.put("key", k)
      r.put("value", v)
      out.add(r)
    }
    out
  }

  /** Attach per-column stats (by field id) to a data_file record: null
    * counts always, lower/upper bounds only for columns with a non-null
    * min/max. */
  private def putBounds(dfr: org.apache.avro.generic.GenericRecord,
      dataFileSchema: org.apache.avro.Schema,
      stats: Seq[DataFileWriter.ColumnStats],
      fieldIds: Map[String, Int],
      types: Map[String, DataType]): Unit = {
    val known = stats.flatMap(s => fieldIds.get(s.name).map(id => (s, id))).sortBy(_._2)
    if (known.isEmpty) return
    dfr.put("null_value_counts", kvList(dataFileSchema.getField("null_value_counts").schema(),
      known.map { case (s, id) => id -> (s.nulls: Any) }))
    val lower = known.collect { case (s, id) if s.min != null =>
      id -> (java.nio.ByteBuffer.wrap(IcebergBounds.encode(types(s.name), s.min)): Any)
    }
    val upper = known.collect { case (s, id) if s.max != null =>
      id -> (java.nio.ByteBuffer.wrap(IcebergBounds.encode(types(s.name), s.max)): Any)
    }
    if (lower.nonEmpty)
      dfr.put("lower_bounds", kvList(dataFileSchema.getField("lower_bounds").schema(), lower))
    if (upper.nonEmpty)
      dfr.put("upper_bounds", kvList(dataFileSchema.getField("upper_bounds").schema(), upper))
  }

  private def writeAvro(path: java.nio.file.Path, schema: org.apache.avro.Schema,
      records: Seq[org.apache.avro.generic.GenericRecord]): Long = {
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, path.toFile)
    try records.foreach(w.append) finally w.close()
    Files.size(path)
  }

  /** The current snapshot's manifest-list rows as (path, length, content,
    * spec-id) — the tuple a successor snapshot carries forward verbatim. */
  private def priorManifests(
      prior: Option[com.fasterxml.jackson.databind.JsonNode]): Seq[(String, Long, Int, Int)] =
    prior.toSeq.flatMap { meta =>
      val curSnap = meta.path("current-snapshot-id").asLong(-1L)
      meta.path("snapshots").elements().asScala
        .find(_.path("snapshot-id").asLong(-2L) == curSnap)
        .map(_.path("manifest-list").asText()).toSeq
        .flatMap { ml =>
          val reader = new org.apache.avro.file.DataFileReader(
            new java.io.File(ml),
            new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
          try reader.iterator().asScala.toList.map(r =>
            (r.get("manifest_path").toString, r.get("manifest_length").toString.toLong,
              Option(r.get("content")).map(_.toString.toInt).getOrElse(0),
              Option(r.get("partition_spec_id")).map(_.toString.toInt).getOrElse(0)))
          finally reader.close()
        }
    }

  /** Author the snapshot's manifest list. Counts describe THIS snapshot's
    * newly added manifest; carried rows keep (path, length, content,
    * spec-id) — the fields [[IcebergRead]]'s subset consults. */
  private def writeManifestList(table: String, snapshotId: Long,
      rows: Seq[(String, Long, Int, Int)], addedFiles: Int, addedRows: Long): java.nio.file.Path = {
    import org.apache.avro.generic.GenericData
    val mlRecords = rows.map { case (mp, len, content, specId) =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", mp)
      r.put("manifest_length", len)
      r.put("partition_spec_id", specId)
      r.put("content", content)
      r.put("sequence_number", snapshotId)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", addedFiles)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", addedRows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r
    }
    val mlPath = metaDir(table).resolve(s"snap-$snapshotId-${java.util.UUID.randomUUID()}.avro")
    writeAvro(mlPath, manifestListSchema, mlRecords)
    mlPath
  }

  /** Absolute `data/` directory, created on first use — the base every
    * data and delete file is written under. */
  private def dataBase(table: String): String = {
    Files.createDirectories(dataDir(table))
    dataDir(table).toAbsolutePath.normalize.toString
  }

  /** Write `df` as data files flat under data/ through [[DataFileWriter]]:
    * one pass, each file described by the task that wrote it. The table's
    * Iceberg field ids are stamped into the parquet columns (id-based
    * resolution is what survives renames). Partitioned writes key on each
    * transform cast to its declared result type, so every file holds one
    * partition value and carries the typed partition record (dates as the
    * spec's epoch days); a real Iceberg reader trusts record_count and
    * prunes on the partition record and the bounds, so these must be exact.
    * Stats cover every bounds-supported column. Opted-in bloom columns
    * (`graft.bloom.columns`) land in a sidecar json under metadata/ — the
    * manifest avro schema has no bloom slot. */
  private def writeDataFiles(df0: DataFrame, table: String,
      transforms: Seq[IcebergTransforms.Transform],
      partTypes: Seq[(String, DataType)],
      fieldIds: Map[String, Int]): Seq[DataFileWriter.WrittenFile] = {
    import org.apache.spark.sql.functions.{col => fcol}
    val df = stampFieldIds(df0, fieldIds)
    val bloomCols: Seq[String] = scala.util.Try {
      readPrior(table).flatMap(p => Option(p.get("properties")))
        .map(_.path("graft.bloom.columns").asText("")).getOrElse("")
    }.getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .filter(df.columns.contains)
    val written = DataFileWriter.write(df, dataBase(table),
      keys = transforms.zip(partTypes).map { case (t, (_, dt)) =>
        t.column(fcol(t.source), df.schema(t.source).dataType).cast(dt)
      },
      statColumns = df.schema.fields.toSeq
        .filter(f => IcebergBounds.supported(f.dataType)).map(_.name),
      bloomColumns = bloomCols)
    writeBloomSidecar(table, written.filter(_.blooms.nonEmpty)
      .map(w => w.path -> w.blooms.toMap).toMap)
    written.map(w => w.copy(keys = w.keys.map {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case v => v
    }))
  }

  /** One bloom-sidecar json per written batch: `{"<abs file path>":
    * {col: b64}}` — orphaned entries (files later rewritten away) are
    * harmless, the reader joins by live file path only. */
  private def writeBloomSidecar(table: String,
      sidecarMap: Map[String, Map[String, Array[Byte]]]): Unit = {
    if (sidecarMap.isEmpty) return
    val om = mapper
    val root = om.createObjectNode()
    sidecarMap.foreach { case (p, byCol) =>
      val n = root.putObject(p)
      byCol.foreach { case (c, blob) =>
        n.put(c, java.util.Base64.getEncoder.encodeToString(blob)) }
    }
    Files.createDirectories(metaDir(table))
    val out = metaDir(table).resolve(
      s"blooms-${java.util.UUID.randomUUID()}.json")
    Files.writeString(out, om.writeValueAsString(root))
  }

  private def readPrior(table: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    head(table).map(_._2)

  /** The table's default-spec partitioning as append-ready `partitionBy`
    * strings — what an INSERT INTO inherits. Empty for an unpartitioned
    * (or nonexistent) table. */
  def currentPartitionBy(spark: SparkSession, table: String): Seq[String] =
    readPrior(table).map(priorPartitionBy).getOrElse(Seq.empty)

  /** Optimistic-claim commit shared by [[append]] and [[deleteWhere]]:
    * each attempt re-reads the prior state (so a lost race carries the
    * winner's snapshots forward), authors this snapshot's manifest +
    * manifest list + metadata JSON, and claims `vN.metadata.json`
    * ([[claimMetadata]]). `authorManifest(snapshotId)` returns
    * (manifestPath, length, content, specId, addedFiles, addedRows);
    * `fieldsJson` renders the schema `fields` array and `specsJson` the
    * `partition-specs` array (+ default-spec-id, last-partition-id), both
    * from the re-read prior state. */
  private def commitSnapshot(table: String, operation: String,
      schemasJson: Option[com.fasterxml.jackson.databind.JsonNode] => (String, Int, Int),
      specsJson: Option[com.fasterxml.jackson.databind.JsonNode] => (String, Int, Int),
      authorManifest: Long => (java.nio.file.Path, Long, Int, Int, Int, Long),
      summaryProps: Map[String, String] = Map.empty,
      carryPrior: Seq[(String, Long, Int, Int)] => Seq[(String, Long, Int, Int)] =
        identity,
      expectBase: Option[Int] = None,
      stagedRef: Option[String] = None): Long = {
    def jstr(s: String) = mapper.writeValueAsString(s)
    @scala.annotation.tailrec
    def attempt(): Long = {
      // ONE version read, prior derived from exactly that version — a
      // second read here would race a concurrent winner (read prior at N,
      // see version N+1, claim N+2 carrying only N's manifests → the
      // winner's snapshot silently dropped; caught by the
      // concurrent-appender spec)
      val current = head(table)
      val base = current.map(_._1).getOrElse(0)
      val prior: Option[com.fasterxml.jackson.databind.JsonNode] = current.map(_._2)
      // expectBase: the caller derived state (e.g. compaction's kept-entry
      // list) from a specific version — retrying past a concurrent commit
      // would silently drop the winner's files; abort with -1 so the
      // caller re-derives instead
      if (expectBase.exists(_ != base)) return -1L
      val version = base + 1
      val snapshotId = version.toLong
      Files.createDirectories(metaDir(table))
      val (manifestPath, manifestLen, content, specId, addedFiles, addedRows) =
        authorManifest(snapshotId)
      val mlPath = writeManifestList(table, snapshotId,
        carryPrior(priorManifests(prior)) :+ (manifestPath.toString, manifestLen, content, specId),
        addedFiles, addedRows)

      val (schemas, currentSchemaId, lastColumnId) = schemasJson(prior)
      val (specs, defaultSpecId, lastPartitionId) = specsJson(prior)
      val priorSnaps = prior.toSeq.flatMap(_.path("snapshots").elements().asScala.map(_.toString))
      // refs carried VERBATIM: tags/branches live in table metadata, and a
      // template that omitted them silently dropped every pin on the next
      // append (caught by the refs-survive-appends spec). A STAGED commit
      // (write-audit-publish) additionally points its audit branch here.
      val priorRefs: com.fasterxml.jackson.databind.node.ObjectNode =
        prior.flatMap(p => Option(p.get("refs")))
          .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o.deepCopy() }
          .getOrElse(mapper.createObjectNode())
      stagedRef.foreach { name =>
        require(prior.isDefined, "cannot stage a snapshot on a non-existent table")
        val r = mapper.createObjectNode()
        r.put("snapshot-id", snapshotId)
        r.put("type", "branch")
        priorRefs.set[com.fasterxml.jackson.databind.JsonNode](name, r)
      }
      val now = System.currentTimeMillis()
      // table properties carried VERBATIM like refs — a template that
      // wrote {} silently dropped ANALYZE stats (and any user property)
      // on the next data commit
      val priorProps = prior.flatMap(p => Option(p.get("properties")))
        .map(_.toString).getOrElse("{}")
      // spec: the table UUID is minted ONCE at table creation and carried
      // forward verbatim — engines validate UUID continuity on metadata
      // refresh and reject a table whose UUID churns between versions
      val tableUuid = prior.map(_.path("table-uuid").asText(""))
        .filter(_.nonEmpty)
        .getOrElse(java.util.UUID.randomUUID().toString)
      val parentId = prior.map(_.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0)
      // extra summary entries (e.g. a streaming sink's (appId, batchId)
      // high-water marks — the snapshot-summary ledger convention real
      // streaming writers use) ride alongside the required operation key
      val summary = (Seq(s""""operation":${jstr(operation)}""") ++
        summaryProps.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jstr(v)}" })
        .mkString("{", ",", "}")
      val snapJson =
        s"""{"snapshot-id":$snapshotId,${parentId.map(p => s""""parent-snapshot-id":$p,""").getOrElse("")}"timestamp-ms":$now,"sequence-number":$snapshotId,
           |"summary":$summary,"manifest-list":${jstr(mlPath.toString)},"schema-id":$currentSchemaId}"""
          .stripMargin.replaceAll("\n", "")
      // snapshot-log records commit ORDER (the lineage incremental readers
      // range over — snapshot ids need not be monotonic in general)
      val priorLog = prior.toSeq.flatMap(_.path("snapshot-log").elements().asScala.map(_.toString))
      val logEntry = s"""{"timestamp-ms":$now,"snapshot-id":$snapshotId}"""
      val metaJson =
        s"""{"format-version":2,"table-uuid":${jstr(tableUuid)},
           |"location":${jstr(table)},"last-sequence-number":$snapshotId,
           |"last-updated-ms":$now,"last-column-id":$lastColumnId,
           |"current-schema-id":$currentSchemaId,
           |"schemas":[$schemas],
           |"default-spec-id":$defaultSpecId,"partition-specs":[$specs],
           |"last-partition-id":$lastPartitionId,
           |"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
           |"properties":$priorProps,
           |"refs":${mapper.writeValueAsString(priorRefs)},
           |"current-snapshot-id":${
             // STAGED: the snapshot joins `snapshots` and its branch ref,
             // but the table's head and commit order are untouched —
             // current readers and incremental consumers (which range over
             // snapshot-log) cannot see it until fastForward publishes
             if (stagedRef.isDefined)
               prior.map(_.path("current-snapshot-id").asLong(-1L)).getOrElse(-1L)
             else snapshotId},
           |"snapshot-log":[${
             (if (stagedRef.isDefined) priorLog else priorLog :+ logEntry).mkString(",")}],
           |"snapshots":[${(priorSnaps :+ snapJson).mkString(",")}]}"""
          .stripMargin.replaceAll("\n", "")

      if (claimMetadata(table, version, metaJson)) snapshotId
      else {
        // lost the race: drop this attempt's manifest/list and re-author
        // against the winner's state (data files stay — they are re-added)
        Files.deleteIfExists(manifestPath)
        Files.deleteIfExists(mlPath)
        attempt()
      }
    }
    attempt()
  }

  /** The full `schemas` array (+ current-schema-id, last-column-id)
    * carried VERBATIM from prior metadata — commits that must not alter
    * the table schema keep the whole schema-id chain intact (the spec's
    * evolution history; readers resolve old snapshots' schema-ids against
    * it). Returns (schemasArrayJson, currentSchemaId, lastColumnId). */
  private def carriedSchemas(
      prior: Option[com.fasterxml.jackson.databind.JsonNode]): (String, Int, Int) = {
    val meta = prior.getOrElse(sys.error("table has no metadata to carry the schema from"))
    val cur = currentSchemaNode(meta)
    val schemas = meta.path("schemas").elements().asScala.map(_.toString).mkString(",")
    (schemas, meta.path("current-schema-id").asInt(0),
      meta.path("last-column-id").asInt(cur.path("fields").size()))
  }

  private def currentSchemaNode(
      meta: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
    meta.path("schemas").elements().asScala
      .find(_.path("schema-id").asInt(-1) == meta.path("current-schema-id").asInt(0))
      .getOrElse(sys.error("malformed metadata: current-schema-id not in schemas"))

  /** Schema EVOLUTION: the prior schemas array plus ONE new schema —
    * current fields verbatim (ids untouched) followed by `newCols` with
    * freshly minted ids (last-column-id + 1…), under a new schema-id (max
    * prior + 1). Old snapshots keep citing their old schema-id; data files
    * are never rewritten — readers fill the added columns with null. */
  private def evolvedSchemas(meta: com.fasterxml.jackson.databind.JsonNode,
      newCols: Seq[StructField]): (String, Int, Int) = {
    def jstr(s: String) = mapper.writeValueAsString(s)
    val cur = currentSchemaNode(meta)
    val priorSchemas = meta.path("schemas").elements().asScala.map(_.toString).toSeq
    val curFields = cur.path("fields").elements().asScala.map(_.toString).toSeq
    val lastCol = meta.path("last-column-id").asInt(cur.path("fields").size())
    // top-level ids lastCol+1..lastCol+n (the SAME assignment the stager's
    // stageIds mirrors); list element-ids mint after them
    val idCounter = new java.util.concurrent.atomic.AtomicInteger(lastCol + newCols.size)
    val minted = newCols.zipWithIndex.map { case (f, i) =>
      s"""{"id":${lastCol + i + 1},"name":${jstr(f.name)},"required":false,"type":${icebergTypeJson(f.dataType, () => idCounter.incrementAndGet())}}"""
    }
    val newId = meta.path("schemas").elements().asScala
      .map(_.path("schema-id").asInt(0)).foldLeft(0)(math.max) + 1
    val evolved =
      s"""{"type":"struct","schema-id":$newId,"fields":[${(curFields ++ minted).mkString(",")}]}"""
    ((priorSchemas :+ evolved).mkString(","), newId, idCounter.get())
  }

  /** partition-specs carried verbatim from prior metadata. */
  private def carriedSpecs(
      prior: Option[com.fasterxml.jackson.databind.JsonNode]): (String, Int, Int) = {
    val meta = prior.getOrElse(sys.error("table has no metadata to carry the specs from"))
    val specs = meta.path("partition-specs").elements().asScala.map(_.toString).mkString(",")
    (if (specs.isEmpty) """{"spec-id":0,"fields":[]}""" else specs,
      meta.path("default-spec-id").asInt(0),
      meta.path("last-partition-id").asInt(999))
  }

  /** The default spec's partition fields re-rendered as `partitionBy`
    * strings ("col", "day(col)", "bucket(16, col)", …) — source-ids
    * resolved through the current schema, so the result can be fed back
    * to [[append]] verbatim. */
  private def priorPartitionBy(
      meta: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val cur = meta.path("schemas").elements().asScala
      .find(_.path("schema-id").asInt(-1) == meta.path("current-schema-id").asInt(0))
      .getOrElse(sys.error("malformed metadata: current-schema-id not in schemas"))
    val nameById = cur.path("fields").elements().asScala
      .map(f => f.path("id").asInt(-1) -> f.path("name").asText()).toMap
    val specId = meta.path("default-spec-id").asInt(0)
    meta.path("partition-specs").elements().asScala
      .find(_.path("spec-id").asInt(-1) == specId).toSeq
      .flatMap(_.path("fields").elements().asScala.map { f =>
        IcebergTransforms.unparse(f.path("transform").asText(),
          nameById.getOrElse(f.path("source-id").asInt(-1),
            sys.error(s"partition spec references unknown source-id ${f.path("source-id")}")))
      })
  }

  /** Append `df` as a new snapshot; creates the table if absent.
    * `partitionBy` entries are PARTITION TRANSFORMS — bare column names
    * (identity) or the hidden-partitioning forms `day(col)`,
    * `bucket(n, col)`, `truncate(w, col)` ([[IcebergTransforms]]).
    * Transform values are evaluated at write time, recorded as typed
    * partition records in the manifest, and declared in the table's
    * partition-spec JSON so any Iceberg engine prunes on them; data files
    * keep ALL source columns (the spec's recommendation — no reader-side
    * injection). Returns the snapshot id (== the committed metadata
    * version).
    *
    * `mergeSchema = true` enables SCHEMA EVOLUTION: `df` may carry NEW
    * columns — they get fresh field ids under a new schema-id appended to
    * the metadata's schema chain (existing ids untouched, so committed
    * equality-delete files still resolve); existing columns must match by
    * name and exact type. Old data files are never rewritten — readers
    * fill the added columns with null, and old snapshots keep citing
    * their own schema-id (time travel shows the old schema).
    *
    * `summaryProps` ride in the snapshot's summary next to the operation
    * key — the ledger streaming sinks use for exactly-once batch marks. */
  def append(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
      summaryProps: Map[String, String] = Map.empty,
      stagedTo: Option[String] = None): Long = {
    require(!df.schema.exists(f => f.dataType match {
      case ArrayType(elem, _) => elem match {
        case _: StructType | _: ArrayType | _: MapType => true
        case _ => false // arrays of primitives map to the spec's list type
      }
      case _: StructType | _: MapType => true
      case _ => false
    }), "struct/map and nested-array column types are outside the Iceberg " +
      "writer's subset (arrays of primitives are supported)")
    val transforms = partitionBy.map(IcebergTransforms.parse)
    require(transforms.forall(t => df.columns.contains(t.source)),
      s"partition source columns ${transforms.map(_.source).mkString(",")} " +
        s"not all present in ${df.columns.mkString(",")}")
    val partTypes: Seq[(String, DataType)] =
      transforms.map(t => t.fieldName -> t.resultType(df.schema(t.source).dataType))
    partTypes.foreach { case (_, dt) => partitionAvroType(dt) } // type gate

    // schema + partitioning pinning against an existing table: by NAME and
    // TYPE, not just the name set — a type change (or column permutation
    // regenerating field ids positionally) would silently remap the
    // name→id binding that committed equality-delete files resolve their
    // equality_ids through, deleting the wrong columns' rows. Field ids of
    // an existing table are always CARRIED (fieldsJson below), never
    // regenerated from df column order.
    val priorAtCheck = readPrior(table)
    priorAtCheck.foreach { meta =>
      val cur = currentSchemaNode(meta)
      val priorTypes = cur.path("fields").elements().asScala
        .map(f => f.path("name").asText() -> typeText(f.path("type"))).toSeq
      val dfTypes = df.schema.fields.map(f => f.name -> icebergType(f.dataType)).toSeq
      val priorNames = priorTypes.map(_._1).toSet
      val newCols = dfTypes.filterNot(t => priorNames.contains(t._1))
      if (!mergeSchema || newCols.isEmpty)
        require(priorTypes.sortBy(_._1) == dfTypes.sortBy(_._1),
          s"append schema ${dfTypes.map { case (n, t) => s"$n:$t" }.mkString(",")} does not " +
            s"match table schema ${priorTypes.map { case (n, t) => s"$n:$t" }.mkString(",")} " +
            "(names AND types must match; field ids are pinned to the table's" +
            (if (newCols.nonEmpty) "; pass mergeSchema=true to evolve" else "") + ")")
      else {
        // evolution gate: every existing column present with its exact
        // type; only brand-new columns may be added (they get fresh field
        // ids — existing ids, and equality-delete files resolving through
        // them, are untouched)
        val dfByName = dfTypes.toMap
        priorTypes.foreach { case (n, t) =>
          require(dfByName.get(n).contains(t),
            s"evolving append must carry every existing column with its exact type; " +
              s"'$n:$t' is ${dfByName.get(n).map(x => s"'$n:$x'").getOrElse("missing")}")
        }
      }
      val priorParts = priorPartitionBy(meta)
      val incoming = transforms.map(t => IcebergTransforms.unparse(t.transformString, t.source))
      require(priorParts == incoming,
        s"append partitioning $incoming does not match table's $priorParts")
    }

    // 1. write the data files under data/ in one pass (writeDataFiles),
    //    the file ids below stamped into their parquet columns
    val stageIds: Map[String, Int] = priorAtCheck match {
      case Some(meta) =>
        val base = fieldIdMap(priorAtCheck)
        // evolving appends mint lastCol+1… for brand-new columns, in df
        // order — the SAME assignment evolvedSchemas records, so file ids
        // and schema ids can't diverge
        val lastCol = meta.path("last-column-id")
          .asInt(currentSchemaNode(meta).path("fields").size())
        val newCols = df.schema.fields.toSeq.filterNot(f => base.contains(f.name))
        base ++ newCols.zipWithIndex.map { case (f, i) => f.name -> (lastCol + i + 1) }
      case None =>
        df.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    }
    val dataFiles = writeDataFiles(df, table, transforms, partTypes, stageIds)
    val rowCount = dataFiles.map(_.rows).sum

    // 2–5. manifest (status 1 = ADDED) + list + metadata via the shared
    // optimistic claim loop
    def jstr(s: String) = mapper.writeValueAsString(s)
    // top-level ids 1..n positionally (what sourceId/stageIds mirror);
    // list ELEMENT ids mint after them, so last-column-id covers both
    val idCounter = new java.util.concurrent.atomic.AtomicInteger(df.schema.size)
    val appendFields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":${jstr(f.name)},"required":false,"type":${icebergTypeJson(f.dataType, () => idCounter.incrementAndGet())}}"""
    }.mkString(",")
    val creationLastColumnId = idCounter.get()
    val sourceId = df.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val spec0Fields = transforms.zipWithIndex.map { case (t, i) =>
      s"""{"name":"${t.fieldName}","transform":"${t.transformString}","source-id":${sourceId(t.source)},"field-id":${1000 + i}}"""
    }.mkString(",")
    val specs =
      if (transforms.isEmpty) """{"spec-id":0,"fields":[]}"""
      else s"""{"spec-id":0,"fields":[$spec0Fields]},{"spec-id":1,"fields":[]}"""
    val schema = entrySchema(partTypes)
    commitSnapshot(table, "append",
      // existing table: carry the schema chain (and its field ids)
      // verbatim — the up-front pinning proved the incoming df matches it
      // by name+type; only table CREATION mints field ids, and only an
      // EVOLVING append (mergeSchema + new columns, re-derived against the
      // re-read prior so a lost commit race can't double-evolve) appends a
      // new schema to the chain
      schemasJson = p => p match {
        case None =>
          (s"""{"type":"struct","schema-id":0,"fields":[$appendFields]}""", 0,
            creationLastColumnId)
        case Some(meta) =>
          val names = currentSchemaNode(meta).path("fields").elements().asScala
            .map(_.path("name").asText()).toSet
          val newCols = df.schema.fields.toSeq.filterNot(f => names.contains(f.name))
          if (mergeSchema && newCols.nonEmpty) evolvedSchemas(meta, newCols)
          else carriedSchemas(p)
      },
      specsJson = p => if (p.isDefined) carriedSpecs(p) else (specs, 0, 999 + partitionBy.size),
      authorManifest = { snapshotId =>
        import org.apache.avro.generic.GenericData
        // bounds keys are the TABLE's field ids: pinned ids from the prior
        // schema when one exists, minted positional ids on creation;
        // evolving appends only write bounds for columns whose id is known
        // (bounds are per-column optional, so skipping is always sound)
        val boundIds: Map[String, Int] = priorAtCheck match {
          case Some(meta) => currentSchemaNode(meta).path("fields").elements().asScala
            .map(f => f.path("name").asText() -> f.path("id").asInt(-1))
            .filter(_._2 > 0).toMap
          case None => sourceId
        }
        val boundTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val dataFileSchema = schema.getField("data_file").schema()
        val partitionSchema = dataFileSchema.getField("partition").schema()
        val entries = dataFiles.map { w =>
          val part = new GenericData.Record(partitionSchema)
          partTypes.map(_._1).zip(w.keys).foreach { case (c, v) => part.put(c, v) }
          val dfr = new GenericData.Record(dataFileSchema)
          dfr.put("content", 0)
          dfr.put("file_path", w.path)
          dfr.put("file_format", "PARQUET")
          dfr.put("partition", part)
          dfr.put("record_count", w.rows)
          dfr.put("file_size_in_bytes", w.bytes)
          putBounds(dfr, dataFileSchema, w.stats, boundIds, boundTypes)
          val e = new GenericData.Record(schema)
          e.put("status", 1)
          e.put("snapshot_id", snapshotId)
          e.put("sequence_number", snapshotId)
          e.put("file_sequence_number", snapshotId)
          e.put("data_file", dfr)
          e
        }
        val manifestPath = metaDir(table).resolve(s"m-$snapshotId-${java.util.UUID.randomUUID()}.avro")
        val manifestLen = writeAvro(manifestPath, schema, entries)
        // tag the manifest with the table's CURRENT default spec (not a
        // hardcoded 0): after partition-spec evolution new manifests must
        // cite the spec their partition records are shaped by, while
        // carried pre-evolution manifests keep citing theirs
        val manifestSpecId =
          priorAtCheck.map(_.path("default-spec-id").asInt(0)).getOrElse(0)
        (manifestPath, manifestLen, 0, manifestSpecId, dataFiles.size, rowCount)
      },
      summaryProps = summaryProps,
      stagedRef = stagedTo)
  }

  /** WRITE-AUDIT-PUBLISH, write step: append `df` as a STAGED snapshot —
    * it joins the snapshot list and `branch` points at it, but the
    * table's head and snapshot-log are untouched, so current readers and
    * incremental consumers see nothing. Audit by reading the branch
    * ([[IcebergRead.snapshotAtRef]]); the branch ref protects the staged
    * files from [[expireSnapshots]] while the audit runs. Publish with
    * [[fastForward]] — or walk away and [[dropRef]], and expiration
    * reclaims the stage. */
  def appendStaged(spark: SparkSession, df: DataFrame, table: String,
      branch: String, partitionBy: Seq[String] = Nil,
      summaryProps: Map[String, String] = Map.empty): Long =
    append(spark, df, table, partitionBy, mergeSchema = false,
      summaryProps = summaryProps, stagedTo = Some(branch))

  /** WRITE-AUDIT-PUBLISH, publish step: fast-forward the table's head to
    * `branch`'s staged snapshot — metadata-only (the staged snapshot
    * already holds the full manifest list). Refused unless the staged
    * snapshot's parent IS the current head (a linear fast-forward): if
    * main advanced while the audit ran, the stage is stale and must be
    * re-written against the new head rather than silently dropping the
    * interleaved commits. The publish appends the snapshot-log entry, so
    * incremental consumers see exactly one new commit at publish time —
    * never the unaudited intermediate state. */
  def fastForward(spark: SparkSession, table: String, branch: String,
      dropBranch: Boolean = true): Long =
    editMetadata(table) { prior =>
      val refs = Option(prior.get("refs"))
        .collect { case o: ObjectNode => o }
        .getOrElse(throw new IllegalArgumentException(s"no refs on $table"))
      val refNode = Option(refs.get(branch)).getOrElse(
        throw new IllegalArgumentException(s"no ref '$branch' on $table"))
      require(refNode.path("type").asText() == "branch",
        s"'$branch' is a ${refNode.path("type").asText()}, not a branch")
      val staged = refNode.path("snapshot-id").asLong(-1L)
      val head = prior.path("current-snapshot-id").asLong(-1L)
      if (staged == head) Left(staged) // already published
      else {
        val snapNode = prior.path("snapshots").elements().asScala
          .find(_.path("snapshot-id").asLong(-2L) == staged)
          .getOrElse(throw new IllegalArgumentException(
            s"branch '$branch' points at unknown snapshot $staged"))
        require(snapNode.path("parent-snapshot-id").asLong(-1L) == head,
          s"cannot fast-forward: staged snapshot $staged was written against " +
            s"parent ${snapNode.path("parent-snapshot-id").asLong(-1L)} but the head " +
            s"is now $head — main advanced during the audit; re-stage against it")
        prior.put("current-snapshot-id", staged)
        prior.path("snapshot-log")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
          .add(mapper.readTree(
            s"""{"timestamp-ms":${System.currentTimeMillis()},"snapshot-id":$staged}"""))
        if (dropBranch) refs.remove(branch)
        Right(staged)
      }
    }

  /** PARTITION-SPEC EVOLUTION (the spec's marquee capability): a NEW spec
    * joins `partition-specs` under a fresh spec-id and becomes the
    * default — a METADATA-ONLY commit; no data file, manifest, or
    * snapshot is touched at any scale. Files already written keep their
    * original spec (their manifests cite its id), future appends must
    * stage under the new layout (`append`'s partitioning pin now resolves
    * to the new spec), and reads span both generations transparently —
    * this writer's data files carry every source column in-file, so no
    * reader-side reconciliation is needed across specs. Partition
    * field-ids continue from `last-partition-id` (globally unique across
    * specs, per spec). `newPartitionBy` entries are the same transform
    * strings `append` takes ("col", "day(col)", "bucket(16, col)", …);
    * empty = evolve to unpartitioned. */
  def evolvePartitionSpec(spark: SparkSession, table: String,
      newPartitionBy: Seq[String]): Unit = {
    def jstr(s: String) = mapper.writeValueAsString(s)
    editMetadata(table) { prior =>
      require(priorPartitionBy(prior) != newPartitionBy,
        s"table is already partitioned by $newPartitionBy")
      val cur = currentSchemaNode(prior)
      val idByName = cur.path("fields").elements().asScala
        .map(f => f.path("name").asText() -> f.path("id").asInt(-1)).toMap
      val transforms = newPartitionBy.map(IcebergTransforms.parse)
      transforms.foreach(t => require(idByName.contains(t.source),
        s"partition source '${t.source}' not in schema ${idByName.keys.mkString(",")}"))
      val specIds = prior.path("partition-specs").elements().asScala
        .map(_.path("spec-id").asInt(0)).toSeq
      val newSpecId = (specIds :+ 0).max + 1
      val lastPartId = prior.path("last-partition-id").asInt(999)
      val fields = transforms.zipWithIndex.map { case (t, i) =>
        s"""{"name":${jstr(t.fieldName)},"transform":${jstr(t.transformString)},"source-id":${idByName(t.source)},"field-id":${lastPartId + 1 + i}}"""
      }.mkString(",")
      prior.path("partition-specs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        .add(mapper.readTree(s"""{"spec-id":$newSpecId,"fields":[$fields]}"""))
      prior.put("default-spec-id", newSpecId)
      prior.put("last-partition-id", lastPartId + transforms.size)
      Right(())
    }
  }

  /** OPTIMIZE / rewrite-data-files: a `replace` snapshot that bin-packs
    * small data files toward `targetFileBytes` and, when the table
    * carries ANY delete files (position or equality), rewrites all data
    * files with those deletes MATERIALIZED and drops the delete manifests
    * — the spec's compaction semantics (rewritten files get this
    * snapshot's fresh sequence number, putting them beyond every existing
    * equality delete's scope, which is only sound because the deletes
    * were applied during the rewrite read).
    *
    * Delete-free tables bin-pack per partition (≥2 small files in the
    * same partition — cross-partition files cannot merge); kept files are
    * carried as status-0 EXISTING manifest entries with their ORIGINAL
    * snapshot and sequence numbers, so time travel and incremental
    * attribution stay intact. Returns the new snapshot id, or the current
    * one unchanged when there is nothing to do.
    *
    * Incremental consumers: [[IcebergRead.addsBetween]] SKIPS `replace`
    * snapshots (data-neutral by the spec) and reads in-range appends at
    * their own snapshots, so compacting never disturbs a tailing
    * consumer; [[IcebergRead.changesBetween]] instead reports the rewrite
    * as delete + insert pairs. Rewritten-away files stay on disk
    * (unreferenced) for older snapshots' time travel until expiration. */
  def compact(spark: SparkSession, table: String,
      smallFileBytes: Long = 64L << 20, targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil, where: Option[String] = None,
      curve: String = "z"): Long = {
    require(curve == "z" || curve == "hilbert",
      s"unknown clustering curve '$curve' (z | hilbert)")
    // optimistic outer loop: ALL state (kept entries, candidates) derives
    // from one observed version; a concurrent commit aborts the claim
    // (expectBase) and re-derives here rather than dropping the winner
    rederive(compactOnce(spark, table, smallFileBytes, targetFileBytes, zorderBy, where, curve))
  }

  /** A live data-file manifest entry with its lineage and carried raw
    * stats — the unit [[compactOnce]] and [[replaceWhere]] re-author
    * manifests from. */
  private case class LiveEntry(path: String, snapshotId: Long, seq: Option[Long],
      fileSeq: Option[Long], partition: Seq[(String, AnyRef)], records: Long, bytes: Long,
      rawBounds: Map[String, Seq[(Int, AnyRef)]] = Map.empty)

  /** Parse every live data-file entry out of `prior`'s data manifests —
    * (entries, whether any DELETE manifest is live). Bounds/counts maps
    * are carried VERBATIM (raw field-id-keyed values) so kept entries keep
    * their skipping stats through a rewrite. */
  private def liveDataEntries(prior: com.fasterxml.jackson.databind.JsonNode,
      what: String): (Seq[LiveEntry], Boolean) = {
    def opt(r: org.apache.avro.generic.GenericRecord, n: String): Option[AnyRef] =
      Option(r.getSchema.getField(n)).flatMap(_ => Option(r.get(n)))
    def rawKv(df0: org.apache.avro.generic.GenericRecord, n: String): Seq[(Int, AnyRef)] =
      opt(df0, n).toSeq.flatMap(_.asInstanceOf[java.util.List[_]].asScala.map { e =>
        val r = e.asInstanceOf[org.apache.avro.generic.GenericRecord]
        r.get("key").toString.toInt -> r.get("value")
      })
    val manifests = priorManifests(Some(prior))
    val hasDeletes = manifests.exists(_._3 != 0)
    val entries: Seq[LiveEntry] = manifests.filter(_._3 == 0).map(_._1).flatMap { mp =>
      IcebergRead.avroRecords(mp).flatMap { e =>
        val status = opt(e, "status").map(_.toString.toInt).getOrElse(1)
        if (status == 2) None
        else {
          val df0 = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          val part = Option(df0.get("partition"))
            .collect { case r: org.apache.avro.generic.GenericRecord =>
              r.getSchema.getFields.asScala.map(f => f.name() -> r.get(f.name())).toSeq
            }.getOrElse(Seq.empty)
          Some(LiveEntry(df0.get("file_path").toString,
            opt(e, "snapshot_id").map(_.toString.toLong).getOrElse(
              throw new IllegalArgumentException(
                s"manifest entry lacks snapshot_id (inherited ids) — $what " +
                  "must carry explicit entry lineage; refusing")),
            opt(e, "sequence_number").map(_.toString.toLong),
            opt(e, "file_sequence_number").map(_.toString.toLong),
            part, df0.get("record_count").toString.toLong,
            df0.get("file_size_in_bytes").toString.toLong,
            Seq("null_value_counts", "lower_bounds", "upper_bounds")
              .map(n => n -> rawKv(df0, n)).filter(_._2.nonEmpty).toMap))
        }
      }
    }
    (entries, hasDeletes)
  }

  /** Which live entries fall in the IDENTITY partitions matching `pred`
    * (a predicate over the typed source columns — the Delta twin's
    * contract; hidden transforms — day()/bucket()/truncate() — would need
    * the predicate re-expressed over transform VALUES and are refused).
    * Evaluated once per distinct partition tuple; membership keyed by
    * index so value stringification can't mis-bucket an entry. */
  private def identityScope(spark: SparkSession,
      prior: com.fasterxml.jackson.databind.JsonNode, entries: Seq[LiveEntry],
      pred: String, transforms: Seq[IcebergTransforms.Transform],
      what: String): LiveEntry => Boolean = {
    require(transforms.nonEmpty,
      s"$what scopes by partition values — the table is unpartitioned")
    require(transforms.forall(_.transformString == "identity"),
      s"$what supports identity partitions only — hidden-" +
        "transform scoping would need the predicate over transform values")
    import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
    val cols = transforms.map(_.source)
    val curSchema = currentSchemaNode(prior)
    // only the PARTITION SOURCE columns need literal-form types —
    // unrelated exotic columns must not block the scope
    val sparkTypeOf: Map[String, org.apache.spark.sql.types.DataType] =
      curSchema.path("fields").elements().asScala
        .filter(f => cols.contains(f.path("name").asText()))
        .map { f =>
          f.path("name").asText() -> (f.path("type").asText() match {
            case "long" => org.apache.spark.sql.types.LongType
            case "int" => org.apache.spark.sql.types.IntegerType
            case "double" => org.apache.spark.sql.types.DoubleType
            case "string" => org.apache.spark.sql.types.StringType
            case other => throw new IllegalArgumentException(
              s"$what cannot scope on a '$other' partition column " +
                "(its avro partition value is not its literal form)")
          })
        }.toMap
    def key(e: LiveEntry): Seq[String] =
      e.partition.map { case (_, v) => if (v == null) null else String.valueOf(v) }
    val tuples = entries.map(key).distinct
    val schema = org.apache.spark.sql.types.StructType(
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
      .add("__idx", org.apache.spark.sql.types.LongType)
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row.fromSeq(t :+ i.toLong)
    }
    val keepIdx = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .select((cols.map(c => fcol(c)
        .cast(sparkTypeOf.getOrElse(c, org.apache.spark.sql.types.StringType)).as(c)) :+
        fcol("__idx")): _*)
      .where(fexpr(pred)).select(fcol("__idx"))
      .collect().map(_.getLong(0)).toSet
    val keepTuples = tuples.zipWithIndex
      .collect { case (t, i) if keepIdx(i.toLong) => t }.toSet
    e => keepTuples.contains(key(e))
  }

  private def compactOnce(spark: SparkSession, table: String,
      smallFileBytes: Long, targetFileBytes: Long, zorderBy: Seq[String],
      where: Option[String] = None, curve: String = "z"): Option[Long] = {
    val (base, prior) = existingHead(table)
    val partitionBy = priorPartitionBy(prior)
    val transforms = partitionBy.map(IcebergTransforms.parse)

    val (entries, hasDeletes) = liveDataEntries(prior, "compaction")
    val inScope: LiveEntry => Boolean = where match {
      case None => _ => true
      case Some(pred) =>
        identityScope(spark, prior, entries, pred, transforms, "compact(where=...)")
    }
    val scoped = entries.filter(inScope)
    val rewrite: Seq[LiveEntry] =
      // ZORDER = explicit full re-layout (of the scope); deletes present =
      // full rewrite purging the delete files (deletes are not
      // partition-scopable — a delete file can span partitions, so a scoped
      // compact with live deletes is refused below); otherwise
      // per-partition bin-pack
      if (hasDeletes || zorderBy.nonEmpty) {
        require(where.isEmpty || !hasDeletes,
          "compact(where=...) with live delete files is not supported — " +
            "deletes can span partitions; run an unscoped compact first")
        scoped
      } else scoped.groupBy(_.partition.map { case (k, v) => k -> String.valueOf(v) })
        .values.flatMap { es =>
          val small = es.filter(_.bytes < smallFileBytes)
          if (small.size >= 2) small else Nil
        }.toSeq
    // nothing to do (also a table with no snapshot yet): no commit
    if (rewrite.isEmpty) return Some(prior.path("current-snapshot-id").asLong(-1L))
    val rewritten = rewrite.map(_.path).toSet
    val keep = entries.filterNot(e => rewritten(e.path))

    // read the candidates with every applicable delete applied
    val df = IcebergRead.snapshotRestricted(spark, table,
      rewrite.map(e => IcebergRead.localPath(e.path)).toSet)
    val nOut = math.max(1,
      math.ceil(rewrite.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
    val packed =
      if (zorderBy.nonEmpty && curve == "hilbert")
        // bits scale down with column count (n*bits must fit a long's 62
          // usable bits) — a fixed 12 would refuse HILBERT BY over >5 columns
          graft.operators.Layout.hilbertCluster(df, zorderBy, nOut,
            bits = math.min(12, 62 / zorderBy.length))
      else if (zorderBy.nonEmpty) graft.operators.Layout.zcluster(df, zorderBy, nOut)
      // partitioned: the writer distributes by the partition values — one
      // compacted file per partition
      else if (transforms.nonEmpty) df
      else df.repartition(nOut)
    val partTypes: Seq[(String, DataType)] =
      transforms.map(t => t.fieldName -> t.resultType(df.schema(t.source).dataType))

    Some(commitSnapshot(table, "replace",
      schemasJson = carriedSchemas,
      specsJson = carriedSpecs,
      authorManifest =
        authorKeptPlusNew(table, prior, keep, packed, transforms, partTypes),
      // the new manifest carries every live data file; prior data
      // manifests are dropped, and delete manifests too when purged
      carryPrior = _ => Nil,
      expectBase = Some(base))).filter(_ >= 0)
  }

  /** Author ONE manifest holding `keep`'s existing entries (lineage and
    * raw bounds preserved verbatim — the equality-delete scoping and
    * incremental attribution keys) plus fresh entries for `packed`'s
    * staged files (fresh bounds from the carried schema) — the
    * manifest-rewrite core [[compactOnce]] and [[replaceWhere]] share.
    * Returns commitSnapshot's authorManifest tuple. */
  private def authorKeptPlusNew(table: String,
      prior: com.fasterxml.jackson.databind.JsonNode, keep: Seq[LiveEntry],
      packed: DataFrame, transforms: Seq[IcebergTransforms.Transform],
      partTypes: Seq[(String, DataType)])(snapshotId: Long)
      : (java.nio.file.Path, Long, Int, Int, Int, Long) = {
    // stamp the table's field ids into the fresh files (same as append's
    // write) — id-expecting readers refuse id-less parquet
    val newFiles = writeDataFiles(packed, table, transforms, partTypes,
      fieldIdMap(Some(prior)))
    val schema = entrySchema(partTypes)
    import org.apache.avro.generic.GenericData
    // fresh rewritten files get fresh bounds (ids from the carried
    // schema); kept EXISTING entries are re-authored from the parsed
    // subset with their raw bounds carried verbatim
    val boundIds: Map[String, Int] = currentSchemaNode(prior)
      .path("fields").elements().asScala
      .map(f => f.path("name").asText() -> f.path("id").asInt(-1))
      .filter(_._2 > 0).toMap
    val boundTypes = packed.schema.fields.map(f => f.name -> f.dataType).toMap
    val dataFileSchema = schema.getField("data_file").schema()
    val partitionSchema = dataFileSchema.getField("partition").schema()
    def entry(status: Int, snapId: Long, seq: Long, fileSeq: Long, path: String,
        part: Seq[(String, Any)], nRows: Long, bytes: Long,
        stats: Seq[DataFileWriter.ColumnStats],
        rawBounds: Map[String, Seq[(Int, AnyRef)]] = Map.empty) = {
      val pr = new GenericData.Record(partitionSchema)
      part.foreach { case (k, v) => pr.put(k, v) }
      val dfr = new GenericData.Record(dataFileSchema)
      dfr.put("content", 0)
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", pr)
      dfr.put("record_count", nRows)
      dfr.put("file_size_in_bytes", bytes)
      putBounds(dfr, dataFileSchema, stats, boundIds, boundTypes)
      rawBounds.foreach { case (n, kvs) =>
        dfr.put(n, kvList(dataFileSchema.getField(n).schema(),
          kvs.map { case (k, v) => k -> (v: Any) }))
      }
      val e = new GenericData.Record(schema)
      e.put("status", status)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", fileSeq)
      e.put("data_file", dfr)
      e
    }
    val addedEntries = newFiles.map { w =>
      entry(1, snapshotId, snapshotId, snapshotId, w.path,
        partTypes.map(_._1).zip(w.keys), w.rows, w.bytes, w.stats)
    }
    val keptEntries = keep.map { f =>
      entry(0, f.snapshotId, f.seq.getOrElse(f.snapshotId),
        f.fileSeq.getOrElse(f.snapshotId), f.path, f.partition, f.records, f.bytes,
        Nil, f.rawBounds)
    }
    val manifestPath =
      metaDir(table).resolve(s"m-$snapshotId-${java.util.UUID.randomUUID()}.avro")
    val manifestLen = writeAvro(manifestPath, schema, keptEntries ++ addedEntries)
    (manifestPath, manifestLen, 0, prior.path("default-spec-id").asInt(0),
      newFiles.size, newFiles.map(_.rows).sum)
  }

  /** Whole-table OVERWRITE: one atomic `overwrite` snapshot replacing ALL
    * live data (and any live delete files — nothing they scoped survives)
    * with `df` — the INSERT OVERWRITE twin of [[DeltaWrite.overwrite]].
    * Same schema pinning as [[replaceWhere]]; prior snapshots stay
    * time-travelable until expireSnapshots. Optimistic like the other
    * commits: a raced claim re-derives against the new head. */
  def overwrite(spark: SparkSession, df: DataFrame, table: String): Long = {
    val tableFields = currentSchemaNode(existingHead(table)._2).path("fields")
      .elements().asScala.map(_.path("name").asText()).toSeq
    require(tableFields.sorted == df.schema.fieldNames.toSeq.sorted,
      s"overwrite schema ${df.schema.fieldNames.mkString(",")} does not match " +
        s"table schema ${tableFields.mkString(",")}")
    // names AND types (the Delta append pin's twin): a same-named column
    // of another type would stage parquet the table schema later MISREADS
    IcebergRead.snapshot(spark, table).schema.fields.foreach { f =>
      val in = df.schema(f.name).dataType
      require(in == f.dataType,
        s"overwrite column '${f.name}' type $in does not match table's " +
          s"${f.dataType} — cast before writing (a mismatched file " +
          "would be misread under the table schema)")
    }
    rederive {
      val (base, prior) = existingHead(table)
      val partitionBy = priorPartitionBy(prior)
      val transforms = partitionBy.map(IcebergTransforms.parse)
      val partTypes: Seq[(String, DataType)] =
        transforms.map(t => t.fieldName -> t.resultType(df.schema(t.source).dataType))
      Some(commitSnapshot(table, "overwrite",
        schemasJson = carriedSchemas,
        specsJson = carriedSpecs,
        authorManifest =
          authorKeptPlusNew(table, prior, Nil, df, transforms, partTypes),
        carryPrior = _ => Nil,
        expectBase = Some(base))).filter(_ >= 0)
    }
  }

  /** PARTITION-SCOPED OVERWRITE (`replaceWhere`), the [[DeltaWrite
    * .replaceWhere]] twin over IDENTITY partitions: one `overwrite`
    * snapshot whose single manifest carries every out-of-scope entry
    * verbatim (lineage + raw bounds) plus the staged incoming files —
    * files in non-matching partitions are untouched on disk AND keep their
    * manifest lineage. Every incoming row must satisfy `where` (one
    * distributed count), or rows outside the replaced scope would double
    * with their still-live copies. Live delete files are refused (a
    * delete file can span partitions — compact first, same rule as scoped
    * maintenance). Optimistic via expectBase: a concurrent commit
    * re-derives the kept set rather than dropping the winner's files. */
  def replaceWhere(spark: SparkSession, df: DataFrame, table: String,
      where: String): Long = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, expr => fexpr, lit => flit, not => fnot}
    // same field-name pinning as the Delta twin: a frame with extra /
    // missing / renamed columns would stage files whose schema silently
    // diverges from the table metadata (id-mapped readers surface nulls)
    val tableFields = currentSchemaNode(existingHead(table)._2).path("fields")
      .elements().asScala.map(_.path("name").asText()).toSeq
    require(tableFields.sorted == df.schema.fieldNames.toSeq.sorted,
      s"replaceWhere schema ${df.schema.fieldNames.mkString(",")} does not match " +
        s"table schema ${tableFields.mkString(",")}")
    val strays = df.where(fnot(fcoalesce(fexpr(where), flit(false)))).count()
    require(strays == 0L,
      s"replaceWhere: $strays incoming row(s) do not satisfy '$where' — rows " +
        "outside the replaced scope would duplicate their live copies")
    rederive(replaceWhereOnce(spark, df, table, where))
  }

  private def replaceWhereOnce(spark: SparkSession, df: DataFrame, table: String,
      where: String): Option[Long] = {
    val (base, prior) = existingHead(table)
    val partitionBy = priorPartitionBy(prior)
    val transforms = partitionBy.map(IcebergTransforms.parse)
    val (entries, hasDeletes) = liveDataEntries(prior, "replaceWhere")
    require(!hasDeletes,
      "replaceWhere with live delete files is not supported — a delete file " +
        "can span partitions; run a compact to materialize deletes first")
    val inScope = identityScope(spark, prior, entries, where, transforms, "replaceWhere")
    val keep = entries.filterNot(inScope)
    val partTypes: Seq[(String, DataType)] =
      transforms.map(t => t.fieldName -> t.resultType(df.schema(t.source).dataType))
    Some(commitSnapshot(table, "overwrite",
      schemasJson = carriedSchemas,
      specsJson = carriedSpecs,
      authorManifest =
        authorKeptPlusNew(table, prior, keep, df, transforms, partTypes),
      carryPrior = _ => Nil,
      expectBase = Some(base))).filter(_ >= 0)
  }

  /** SQL-UPDATE, the [[DeltaWrite.updateWhere]] twin: rows matching
    * `condition` get `assignments` applied — ONE atomic `overwrite`
    * snapshot whose manifest list carries BOTH a position-delete manifest
    * for the old images and a data manifest for the updated ones (the
    * single-commit row-delta shape of the spec), so a crash can never
    * leave rows deleted with their updated images uncommitted. Position
    * deletes cite old (file, pos) pairs explicitly, so the same-sequence
    * staged files are never in their scope. Optimistic: a concurrent
    * commit between match and claim aborts the attempt (expectBase) and
    * the whole update re-derives against the new state. Returns the final
    * snapshot id (unchanged when nothing matched — no commit). Cost
    * scales with the update's selectivity: one lineage scan to match, one
    * scan of matched rows to stage, no data file rewritten. */
  def updateWhere(spark: SparkSession, table: String,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      condition: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col => fcol}
    require(assignments.nonEmpty, "updateWhere with no assignments")
    def scoped(df: DataFrame): DataFrame = alias.map(df.as(_)).getOrElse(df)
    rederive {
      val (base, prior) = existingHead(table)
      val snapDf = IcebergRead.snapshot(spark, table)
      val byName = assignments.toMap
      val cols = snapDf.schema.fieldNames.toSet
      assignments.foreach { case (c, _) => require(cols.contains(c),
        s"updateWhere: assigned column '$c' is not in the table schema") }
      // matched positions AND updated images read ONE stats-pruned
      // lineage frame — files the predicate cannot touch never open
      val pruned = IcebergRead.lineagePruned(spark, table, condition)
      val updated = scoped(pruned).where(condition)
        .select(snapDf.schema.fields.toSeq.map { f =>
          byName.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(fcol(f.name))
        }: _*).localCheckpoint()
      if (updated.isEmpty) Some(prior.path("current-snapshot-id").asLong(-1L))
      else {
        // old images → one sorted (file_path, pos) delete file, exactly like
        // [[deleteWhere]]'s; non-empty because the updated images are
        val deleteFile = writePositionDeletes(table, scoped(pruned).where(condition)).get

        val (emptySpecId, mintEmptySpec) = emptySpecFor(prior)
        val partitionBy = priorPartitionBy(prior)
        val transforms = partitionBy.map(IcebergTransforms.parse)
        val partTypes: Seq[(String, DataType)] =
          transforms.map(t => t.fieldName -> t.resultType(updated.schema(t.source).dataType))
        // the delete manifest is authored inside authorManifest (it needs
        // the snapshot id) and joins the manifest list through carryPrior —
        // one list, one snapshot, both halves atomic
        var deleteManifest: (String, Long, Int, Int) = null
        val committed = commitSnapshot(table, "overwrite",
          schemasJson = carriedSchemas,
          specsJson = p => {
            val (specs, defaultId, lastPartId) = carriedSpecs(p)
            if (!mintEmptySpec) (specs, defaultId, lastPartId)
            else (s"""$specs,{"spec-id":$emptySpecId,"fields":[]}""", defaultId, lastPartId)
          },
          authorManifest = { snapshotId =>
            val (dmPath, dmLen) = deleteFilesManifest(table, Seq(deleteFile), 1, Nil, snapshotId)
            deleteManifest = (dmPath.toString, dmLen, 1, emptySpecId)
            authorKeptPlusNew(table, prior, Seq.empty, updated,
              transforms, partTypes)(snapshotId)
          },
          carryPrior = ms => ms :+ deleteManifest,
          expectBase = Some(base))
        // lost the race: re-derive everything
        if (committed < 0) Files.deleteIfExists(Paths.get(deleteFile.path))
        Some(committed).filter(_ >= 0)
      }
    }
  }

  /** UNIFORM-STYLE EXPORT (zero-copy cross-format): create a NEW Iceberg
    * table at `target` whose single append snapshot references the DELTA
    * table's live parquet files by absolute path — no data copied; any
    * Iceberg engine can now scan the Delta table's data through standard
    * Iceberg metadata (the published Delta "UniForm" idea, re-expressed
    * as an explicit export). Per-file record counts come from the Delta
    * adds' stats (`numRecords`) when present, else one parquet-footer
    * read each — O(files) driver metadata either way. PARTITIONED sources
    * export as identity-partitioned Iceberg: Delta files lack the
    * partition columns in-file, but the manifests carry typed partition
    * records and the reader's identity-value injection (the spec's
    * migrated-table rule) produces the column. Refused: DV-bearing
    * sources (deleted rows would resurrect), column-mapped sources
    * (physical names), nested types (writer subset).
    * The export is a real Iceberg table: later
    * IcebergWrite appends land under its own root beside the referenced
    * Delta files; Delta-side vacuum is the shared-fate hazard, as in
    * every zero-copy reference design. */
  def exportDeltaAsIceberg(spark: SparkSession, source: String, target: String): Long = {
    val snap = DeltaRead.snapshotInfo(spark, source)
    require(IcebergRead.currentMetadata(target).isEmpty, s"export target already exists: $target")
    require(snap.columnMappingMode == "none",
      "column-mapped Delta tables are not exportable (files carry physical names)")
    require(snap.files.forall(_.dv.isEmpty),
      "DV-bearing Delta tables cannot be exported zero-copy — deleted rows " +
        "would resurrect; compact (materializing DVs) first")
    require(!snap.schema.exists(f => f.dataType match {
      case _: StructType | _: ArrayType | _: MapType => true; case _ => false
    }), "nested column types are outside the Iceberg writer's subset")
    // PARTITIONED sources export as identity-partitioned Iceberg: Delta
    // data files lack the partition columns in-file, but the manifests
    // carry typed partition records and the reader's identity-value
    // injection produces the column — spec behavior for migrated tables.
    val partTypes: Seq[(String, DataType)] =
      snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    partTypes.foreach { case (_, dt) => partitionAvroType(dt) } // type gate
    def partValue(dt: DataType, s: String): AnyRef =
      if (s == null) null
      else dt match {
        case StringType => s
        case IntegerType => Integer.valueOf(s.toInt)
        case LongType => java.lang.Long.valueOf(s.toLong)
        case BooleanType => java.lang.Boolean.valueOf(s.toBoolean)
        case DateType => Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
        case other => throw new IllegalArgumentException(
          s"unsupported exported partition value type $other")
      }
    def jstr(s: String) = mapper.writeValueAsString(s)
    def recordCount(f: DeltaRead.LiveFile): Long =
      f.stats.flatMap { s =>
        val n = mapper.readTree(s).path("numRecords")
        if (n.isNumber) Some(n.asLong) else None
      }.getOrElse {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
    val exportIds = new java.util.concurrent.atomic.AtomicInteger(snap.schema.size)
    val fieldsJson = snap.schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":${jstr(f.name)},"required":false,"type":${icebergTypeJson(f.dataType, () => exportIds.incrementAndGet())}}"""
    }.mkString(",")
    val sourceId = snap.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val spec0Fields = snap.partitionColumns.zipWithIndex.map { case (c, i) =>
      s"""{"name":${jstr(c)},"transform":"identity","source-id":${sourceId(c)},"field-id":${1000 + i}}"""
    }.mkString(",")
    val specs =
      if (snap.partitionColumns.isEmpty) """{"spec-id":0,"fields":[]}"""
      else s"""{"spec-id":0,"fields":[$spec0Fields]},{"spec-id":1,"fields":[]}"""
    val schema = entrySchema(partTypes)
    commitSnapshot(target, "append",
      schemasJson = _ =>
        (s"""{"type":"struct","schema-id":0,"fields":[$fieldsJson]}""", 0,
          exportIds.get()),
      specsJson = _ => (specs, 0, 999 + snap.partitionColumns.size),
      authorManifest = { snapshotId =>
        import org.apache.avro.generic.GenericData
        val dataFileSchema = schema.getField("data_file").schema()
        val partitionSchema = dataFileSchema.getField("partition").schema()
        var rows = 0L
        val entries = snap.files.map { f =>
          val n = recordCount(f)
          rows += n
          val part = new GenericData.Record(partitionSchema)
          partTypes.foreach { case (c, dt) =>
            part.put(c, partValue(dt, f.partitionValues.get(c).orNull))
          }
          val dfr = new GenericData.Record(dataFileSchema)
          dfr.put("content", 0)
          dfr.put("file_path", f.path)
          dfr.put("file_format", "PARQUET")
          dfr.put("partition", part)
          dfr.put("record_count", n)
          dfr.put("file_size_in_bytes",
            if (f.size > 0) f.size else Files.size(Paths.get(f.path)))
          val e = new GenericData.Record(schema)
          e.put("status", 1)
          e.put("snapshot_id", snapshotId)
          e.put("sequence_number", snapshotId)
          e.put("file_sequence_number", snapshotId)
          e.put("data_file", dfr)
          e
        }
        val manifestPath = metaDir(target)
          .resolve(s"m-$snapshotId-${java.util.UUID.randomUUID()}.avro")
        val manifestLen = writeAvro(manifestPath, schema, entries)
        (manifestPath, manifestLen, 0, 0, snap.files.size, rows)
      })
  }

  /** RENAME a column — the spec's field-id evolution: a NEW schema joins
    * the chain with the field's ID unchanged and only its name replaced;
    * no data file, manifest, or delete file is touched at any scale.
    * Files written by any Iceberg engine (including ours, which stamps
    * parquet field ids) resolve the renamed column by id. Partition specs
    * and equality deletes reference source-ids, so they survive verbatim.
    * Old snapshots keep citing their old schema-id — time travel shows
    * the old name. */
  def renameColumn(spark: SparkSession, table: String,
      oldName: String, newName: String): Unit =
    evolveCurrentSchema(table, "rename", { cur =>
      val names = cur.path("fields").elements().asScala.map(_.path("name").asText()).toSeq
      require(names.contains(oldName), s"no column '$oldName' in ${names.mkString(",")}")
      require(!names.contains(newName), s"column '$newName' already exists")
      cur.path("fields").elements().asScala.map { f =>
        if (f.path("name").asText() == oldName) {
          val c = f.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          c.put("name", newName)
          c.toString
        } else f.toString
      }.toSeq
    })

  /** DROP a column — field-id evolution like [[renameColumn]]: the field
    * leaves the current schema, files keep the unread bytes. Refused when
    * the column's id is referenced by the default partition spec or by a
    * live equality-delete file (either would dangle). */
  def dropColumn(spark: SparkSession, table: String, name: String): Unit =
    evolveCurrentSchema(table, "drop", { cur =>
      val fields = cur.path("fields").elements().asScala.toSeq
      val target = fields.find(_.path("name").asText() == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' in ${fields.map(_.path("name").asText()).mkString(",")}"))
      require(fields.size > 1, "cannot drop the last column")
      val id = target.path("id").asInt(-1)
      val meta = mapper.readTree(IcebergRead.metadataFile(table))
      val specRefs = meta.path("partition-specs").elements().asScala
        .flatMap(_.path("fields").elements().asScala)
        .map(_.path("source-id").asInt(-1)).toSet
      require(!specRefs.contains(id),
        s"cannot drop '$name': partition spec references field id $id")
      require(!liveEqualityIds(table).contains(id),
        s"cannot drop '$name': live equality-delete files reference field id $id")
      fields.filterNot(_.path("name").asText() == name).map(_.toString)
    })

  /** Metadata-only schema commit shared by rename/drop: the builder maps
    * the CURRENT schema node to its new field list; the result joins the
    * schemas chain under a fresh schema-id (old snapshots keep citing
    * theirs), and a new metadata version is claimed race-safely. */
  private def evolveCurrentSchema(table: String, what: String,
      newFields: com.fasterxml.jackson.databind.JsonNode => Seq[String]): Unit =
    editMetadata(table) { prior =>
      val cur = currentSchemaNode(prior)
      val fields = newFields(cur)
      val newId = prior.path("schemas").elements().asScala
        .map(_.path("schema-id").asInt(0)).foldLeft(0)(math.max) + 1
      val evolved = mapper.readTree(
        s"""{"type":"struct","schema-id":$newId,"fields":[${fields.mkString(",")}]}""")
      prior.path("schemas").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        .add(evolved)
      prior.put("current-schema-id", newId)
      Right(())
    }

  /** SET table properties — a metadata-only version bump (no snapshot):
    * merges `props` into the metadata's `properties` object, which data
    * commits now carry verbatim. The ANALYZE-stats persistence slot. */
  def setProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Unit =
    editMetadata(table) { prior =>
      val node = Option(prior.get("properties"))
        .collect { case o: ObjectNode => o }
        .getOrElse(prior.putObject("properties"))
      props.foreach { case (k, v) => node.put(k, v) }
      Right(())
    }

  /** Field ids referenced by the current snapshot's live equality-delete
    * files — O(delete manifests) driver metadata. */
  private def liveEqualityIds(table: String): Set[Int] = {
    val meta = mapper.readTree(IcebergRead.metadataFile(table))
    val cur = meta.path("current-snapshot-id").asLong(-1L)
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == cur).toSeq
      .flatMap { s =>
        if (!s.has("manifest-list")) Seq.empty
        else IcebergRead.avroRecords(IcebergRead.localPath(s.path("manifest-list").asText()))
          .filter(r => Option(r.get("content")).exists(_.toString.toInt == 1))
          .map(_.get("manifest_path").toString)
          .flatMap { mp =>
            IcebergRead.avroRecords(IcebergRead.localPath(mp)).flatMap { e =>
              val dfr = e.get("data_file")
                .asInstanceOf[org.apache.avro.generic.GenericRecord]
              Option(dfr.get("equality_ids")) match {
                case Some(l: java.util.List[_]) => l.asScala.map(_.toString.toInt)
                case _ => Seq.empty[Int]
              }
            }
          }
      }.toSet
  }

  /** Named REF (spec v2 `refs` map): pin `name` to a snapshot — `tag` for
    * immutable audit/release points, `branch` for a movable head. A ref
    * PROTECTS its snapshot from [[expireSnapshots]] and [[rollback]]
    * (both keep ref'd snapshots in the metadata until the ref is
    * dropped), which is the spec's retention contract and what makes tags
    * usable as reproducibility pins for training runs. Re-setting an
    * existing name moves it. Returns the pinned snapshot id. */
  def setRef(spark: SparkSession, table: String, name: String,
      snapshotId: Long = -1L, refType: String = "tag"): Long = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got '$refType'")
    editMetadata(table) { prior =>
      val id = if (snapshotId >= 0) snapshotId
        else prior.path("current-snapshot-id").asLong(-1L)
      require(prior.path("snapshots").elements().asScala
          .exists(_.path("snapshot-id").asLong(-1L) == id),
        s"snapshot $id not found in $table")
      val refs = Option(prior.get("refs"))
        .collect { case o: ObjectNode => o }
        .getOrElse(prior.putObject("refs"))
      val entry = refs.putObject(name)
      entry.put("snapshot-id", id)
      entry.put("type", refType)
      Right(id)
    }
  }

  /** Drop a named ref; its snapshot becomes expirable again. No-op if the
    * name is absent. */
  def dropRef(spark: SparkSession, table: String, name: String): Unit =
    editMetadata(table) { prior =>
      Option(prior.get("refs")) match {
        case Some(o: ObjectNode) if o.has(name) => o.remove(name); Right(())
        case _ => Left(())
      }
    }

  /** ROLLBACK: make `toSnapshotId` the current snapshot again by writing
    * a new metadata version whose lineage is TRUNCATED at the target —
    * post-target snapshots and their snapshot-log entries are dropped
    * from the metadata, so commit-order resolution (and every incremental
    * reader ranging over it) sees one consistent linear history ending at
    * the target. The undone snapshots' data/manifest files stay on disk
    * (older metadata versions still reference them) until
    * [[expireSnapshots]] reclaims them. The next append's snapshot id
    * continues from the metadata version counter, so dropped ids are
    * never reused. O(1) driver metadata write. */
  def rollback(spark: SparkSession, table: String, toSnapshotId: Long): Long =
    editMetadata(table) { prior =>
      val cur = prior.path("current-snapshot-id").asLong(-1L)
      if (cur == toSnapshotId) Left(toSnapshotId) // already there
      else {
        val snaps = prior.path("snapshots").elements().asScala.toSeq
        require(snaps.exists(_.path("snapshot-id").asLong(-1L) == toSnapshotId),
          s"snapshot $toSnapshotId not found in $table")
        // truncate the log at the target; keep only snapshots the kept log
        // still references (plus any the log never covered — conservative)
        val log = prior.path("snapshot-log").elements().asScala.toSeq
        val cut = log.lastIndexWhere(_.path("snapshot-id").asLong(-1L) == toSnapshotId)
        // target missing from the log (e.g. log-expired, parent-chain-only
        // table): keep everything — conservative, order still resolvable
        val keptLog = if (cut >= 0) log.take(cut + 1) else log
        val keptIds = keptLog.map(_.path("snapshot-id").asLong(-1L)).toSet
        // named refs protect their snapshots through a rollback (tags are
        // reproducibility pins; a rollback must not sever them)
        val refIds: Set[Long] = Option(prior.get("refs"))
          .map(_.elements().asScala.map(_.path("snapshot-id").asLong(-1L)).toSet)
          .getOrElse(Set.empty)
        val dropped: Set[Long] =
          if (cut < 0) Set.empty
          else log.map(_.path("snapshot-id").asLong(-1L)).toSet --
            keptIds -- refIds - toSnapshotId
        val keptSnaps = snaps.filterNot(s => dropped(s.path("snapshot-id").asLong(-1L)))
        val snapArr = mapper.createArrayNode()
        keptSnaps.foreach(s => snapArr.add(s))
        val logArr = mapper.createArrayNode()
        keptLog.foreach(e => logArr.add(e))
        prior.set[com.fasterxml.jackson.databind.JsonNode]("snapshots", snapArr)
        prior.set[com.fasterxml.jackson.databind.JsonNode]("snapshot-log", logArr)
        prior.put("current-snapshot-id", toSnapshotId)
        Right(toSnapshotId)
      }
    }

  /** SHALLOW CLONE (zero-copy): create a NEW Iceberg table at `target`
    * whose single snapshot is the SOURCE's chosen snapshot VERBATIM — the
    * manifest-list, manifests, data and delete files are all referenced by
    * their absolute source paths (Iceberg metadata carries full paths by
    * spec, so nothing needs rewriting below the snapshot level). O(1)
    * driver metadata write; no data or manifests copied. The clone is
    * independently writable: later commits carry the cloned manifests and
    * add their own under the clone's root; `expireSnapshots` on the clone
    * derives its referenced set from the clone's own lineage, whose floor
    * is the cloned snapshot. The schema/spec chains carry verbatim, so
    * schema-ids recorded in cloned manifests still resolve. The metadata
    * version number is seeded at the cloned snapshot id (sequential-id
    * tables — ours — can then append with no id collision); external
    * tables with non-sequential ids seed at 1 and the vanishingly-unlikely
    * id collision is rejected by the commit's claim. A target that already
    * holds a table, or that a concurrent clone claims first, is refused.
    * Source expiration is the one shared-fate hazard, as in every
    * shallow-clone design. */
  def cloneShallow(spark: SparkSession, source: String, target: String,
      snapshotId: Long = -1L): Long = {
    val src = mapper.readTree(IcebergRead.metadataFile(source))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val cur =
      if (snapshotId >= 0) snapshotId else src.path("current-snapshot-id").asLong(-1L)
    require(cur >= 0, s"source has no snapshot to clone: $source")
    val keep = src.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-1L) == cur)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $cur not found in $source"))
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    // absolutize a relative manifest-list against the source root; the
    // clone's lineage starts here, so parent linkage is dropped
    val ml = keep.path("manifest-list").asText()
    if (!(ml.contains("://") || ml.startsWith("/")))
      keep.put("manifest-list", s"${source.stripSuffix("/")}/$ml")
    keep.remove("parent-snapshot-id")
    src.put("location", target.stripSuffix("/"))
    src.put("table-uuid", java.util.UUID.randomUUID().toString)
    src.put("current-snapshot-id", cur)
    val snaps = mapper.createArrayNode(); snaps.add(keep)
    src.set[com.fasterxml.jackson.databind.JsonNode]("snapshots", snaps)
    val logEntry = mapper.createObjectNode()
    logEntry.put("snapshot-id", cur)
    logEntry.put("timestamp-ms", keep.path("timestamp-ms").asLong(0L))
    val log = mapper.createArrayNode(); log.add(logEntry)
    src.set[com.fasterxml.jackson.databind.JsonNode]("snapshot-log", log)
    src.set[com.fasterxml.jackson.databind.JsonNode]("metadata-log", mapper.createArrayNode())
    val version = if (cur >= 1 && cur <= 1000000L) cur.toInt else 1
    require(IcebergRead.currentMetadata(target).isEmpty, s"clone target already exists: $target")
    require(claimMetadata(target, version, mapper.writeValueAsString(src)),
      s"concurrent writer created $target")
    cur
  }

  /** EXPIRE SNAPSHOTS + physical cleanup: drop all but the last
    * `retainLast` snapshots (the current one always survives) from the
    * metadata — a new metadata version, claimed only when some snapshot
    * expires — then delete the manifests and manifest lists only expired
    * snapshots referenced, and every unreferenced data file under data/.
    * Time travel to an expired snapshot fails loudly afterwards (its id
    * is gone from the metadata); retained history and the current state
    * are untouched. Returns the deleted file paths (with `dryRun`, the
    * ones a real run would delete, touching nothing).
    *
    * The referenced set is the union over RETAINED snapshots of their
    * manifest-list → manifest → `file_path` closure, all entry statuses
    * included — a file marked DELETED in one retained snapshot can still
    * be live in an older retained one, so only full absence makes a file
    * reclaimable. Foreign files under the table root are left alone;
    * orphans of failed or abandoned writes (their files land under data/
    * before any commit claim, [[DataFileWriter]]) are reclaimed by the
    * next call once older than `minFileAgeMs`, even when no snapshot
    * expires.
    * Metadata-only: O(manifests) driver reads, no data scanned. */
  def expireSnapshots(spark: SparkSession, table: String,
      retainLast: Int = 1, minFileAgeMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    // (retained snapshots, whether any expired)
    val (kept, expiredAny) = editMetadata(table) { meta =>
      val current = meta.path("current-snapshot-id").asLong(-1L)
      val log = meta.path("snapshot-log").elements().asScala.toSeq
      // named refs (tags/branches) protect their snapshots from expiration
      // — the spec's retention contract
      val refIds: Set[Long] = Option(meta.get("refs"))
        .map(_.elements().asScala.map(_.path("snapshot-id").asLong(-1L)).toSet)
        .getOrElse(Set.empty)
      val keepIds = (log.map(_.path("snapshot-id").asLong(-1L)).distinct
        .takeRight(math.max(1, retainLast)) :+ current).toSet ++ refIds
      def keptId(n: com.fasterxml.jackson.databind.JsonNode) =
        keepIds(n.path("snapshot-id").asLong(-1L))
      val (kept, expired) = meta.path("snapshots").elements().asScala.toSeq.partition(keptId)
      if (expired.isEmpty || dryRun) Left((kept, expired.nonEmpty))
      else {
        // same table state, snapshots and log filtered
        val snapsArr = meta.putArray("snapshots")
        kept.foreach(snapsArr.add)
        val logArr = meta.putArray("snapshot-log")
        log.filter(keptId).foreach(logArr.add)
        Right((kept, true))
      }
    }

    // referenced closure of the RETAINED snapshots
    def manifestsOf(snap: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      if (snap.has("manifest-list"))
        IcebergRead.avroRecords(snap.path("manifest-list").asText())
          .map(_.get("manifest_path").toString)
      else snap.path("manifests").elements().asScala.map(_.asText()).toSeq
    val keptLists = kept.flatMap(s =>
      if (s.has("manifest-list")) Some(IcebergRead.localPath(s.path("manifest-list").asText()))
      else None).toSet
    val keptManifests = kept.flatMap(manifestsOf).map(IcebergRead.localPath).toSet
    val referencedData = keptManifests.flatMap { mp =>
      IcebergRead.avroRecords(mp).map { e =>
        IcebergRead.localPath(e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord].get("file_path").toString)
      }
    }
    def norm(f: java.io.File): String = IcebergRead.localPath(f.getAbsolutePath)
    def listed(dir: java.nio.file.Path): Seq[java.io.File] =
      Option(dir.toFile.listFiles()).map(_.toSeq).getOrElse(Nil)
    // AGE GRACE (same rule as DeltaWrite.vacuum): a concurrent append
    // writes data files under data/ BEFORE its metadata claim — fresh
    // unreferenced files may be in-flight adds, not garbage
    val cutoff = System.currentTimeMillis() - math.max(0L, minFileAgeMs)
    val candidates = listed(dataDir(table)).filter(f => f.isFile &&
        f.getName.endsWith(".parquet") && !referencedData(norm(f)) && f.lastModified() <= cutoff) ++
      (if (!expiredAny) Nil else listed(metaDir(table)).filter { f =>
        val n = f.getName
        (n.startsWith("m-") || n.startsWith("snap-")) && n.endsWith(".avro") &&
          !keptManifests(norm(f)) && !keptLists(norm(f))
      })
    if (dryRun) return candidates.map(_.getPath)
    val reclaimed = candidates.map { f => val p = f.getPath; f.delete(); p }
    // bloom sidecar GC rides the same pass, AFTER the data deletes:
    // drop each blooms-*.json entry whose data file is GONE from disk
    // (existence, not reference, is the test — an in-flight add's
    // sidecar entry survives exactly like its staged file does under
    // the age grace); an emptied sidecar file is deleted. Bounded
    // metadata work, never touches data files.
    listed(metaDir(table))
      .filter(f => f.getName.startsWith("blooms-") && f.getName.endsWith(".json"))
      .foreach { f =>
        scala.util.Try {
          val node = mapper.readTree(f).asInstanceOf[ObjectNode]
          val dead = node.properties().asScala.map(_.getKey)
            .filterNot(p => new java.io.File(IcebergRead.localPath(p)).exists())
            .toSeq
          if (dead.nonEmpty) {
            dead.foreach(node.remove)
            if (node.isEmpty) f.delete()
            else Files.writeString(f.toPath, mapper.writeValueAsString(node))
          }
        }
      }
    reclaimed
  }

  /** The empty (partition-less) spec id delete manifests cite, minting one
    * when the table only has partitioned specs. */
  private def emptySpecFor(meta: com.fasterxml.jackson.databind.JsonNode): (Int, Boolean) = {
    val priorSpecs = meta.path("partition-specs").elements().asScala.toSeq
    if (priorSpecs.isEmpty) (0, false)
    else priorSpecs.find(_.path("fields").size() == 0) match {
      case Some(s) => (s.path("spec-id").asInt(0), false)
      case None => (priorSpecs.map(_.path("spec-id").asInt(0)).max + 1, true)
    }
  }

  /** Equality DELETE (v2 content=2): each DISTINCT row of `keys` deletes
    * every row of an OLDER data file (data sequence number strictly below
    * this commit's) whose key columns match null-safely — the CDC/upsert
    * building block streaming writers emit. No data file is rewritten;
    * the key rows land in parquet delete files cited by ONE delete
    * manifest carrying the keys' Iceberg field ids. Key sets above
    * `maxKeysPerFile` split across multiple delete files written by
    * parallel tasks — a bulk upsert of 10⁸ keys must not serialize
    * through a single task (the default bounds a file to roughly the
    * spec's recommended manifest-entry granularity). */
  def deleteWhereEquals(spark: SparkSession, table: String, keys: DataFrame,
      maxKeysPerFile: Long = 4000000L,
      summaryProps: Map[String, String] = Map.empty): Long = {
    val prior0 = readPrior(table)
    require(prior0.isDefined, s"not an Iceberg table: $table")
    val (emptySpecId, mintEmptySpec) = emptySpecFor(prior0.get)
    val (deleteFiles, eqIds) =
      writeEqualityDeletes(table, prior0.get, keys, maxKeysPerFile)
    commitSnapshot(table, "delete",
      schemasJson = carriedSchemas,
      specsJson = prior => {
        val (specs, defaultId, lastPartId) = carriedSpecs(prior)
        if (!mintEmptySpec) (specs, defaultId, lastPartId)
        else (s"""$specs,{"spec-id":$emptySpecId,"fields":[]}""", defaultId, lastPartId)
      },
      authorManifest = { snapshotId =>
        val (p, len) = deleteFilesManifest(table, deleteFiles, 2, eqIds, snapshotId)
        (p, len, 1, emptySpecId, deleteFiles.size, 0L)
      },
      summaryProps = summaryProps)
  }

  /** Resolve `keys`' columns to Iceberg field ids and write the DISTINCT
    * key rows as equality-delete parquet files under data/ — the write
    * half [[deleteWhereEquals]] and [[rowDeltaCommit]] share. Returns
    * (delete files with exact record counts, key field ids). */
  private def writeEqualityDeletes(table: String,
      prior: com.fasterxml.jackson.databind.JsonNode, keys: DataFrame,
      maxKeysPerFile: Long): (Seq[DataFileWriter.WrittenFile], Seq[Int]) = {
    // key columns → Iceberg field ids from the current schema
    val cur = prior.path("schemas").elements().asScala
      .find(_.path("schema-id").asInt(-1) == prior.path("current-schema-id").asInt(0))
      .getOrElse(sys.error(s"malformed metadata in $table"))
    val idByName = cur.path("fields").elements().asScala
      .map(f => f.path("name").asText() -> f.path("id").asInt(-1)).toMap
    val eqIds: Seq[Int] = keys.columns.toSeq.map(c => idByName.getOrElse(c,
      throw new IllegalArgumentException(
        s"key column '$c' is not in the table schema (${idByName.keys.mkString(",")})")))

    // the file count scales with the key count so each delete file is
    // written by its own task and stays individually scannable
    val distinctKeys = keys.distinct()
    val nKeys = distinctKeys.count()
    require(nKeys > 0, "equality delete with an empty key set")
    val nFiles = math.max(1L, (nKeys + maxKeysPerFile - 1) / maxKeysPerFile).toInt
    val deleteFiles = DataFileWriter.write(
      stampFieldIds(distinctKeys.repartition(nFiles), keys.columns.toSeq.zip(eqIds).toMap),
      dataBase(table), keyPrefix = _ => "eq-delete-")
    (deleteFiles, eqIds)
  }

  /** Write the matched rows' (`_file`, `_pos`) lineage as ONE position-
    * delete file under data/ — the v2 spec's (file_path, pos) table,
    * sorted as the spec recommends. None when nothing matched. */
  private def writePositionDeletes(table: String,
      matched: DataFrame): Option[DataFileWriter.WrittenFile] = {
    import org.apache.spark.sql.functions.col
    DataFileWriter.write(
      matched.select(col("_file").as("file_path"), col("_pos").as("pos"))
        .repartition(1).sortWithinPartitions("file_path", "pos"),
      dataBase(table), keyPrefix = _ => "delete-").headOption
  }

  /** Author the ONE delete manifest for `deleteFiles`: content 1
    * (position deletes) or 2 (equality deletes, carrying the key field
    * ids). Returns (path, length). */
  private def deleteFilesManifest(table: String,
      deleteFiles: Seq[DataFileWriter.WrittenFile], content: Int, eqIds: Seq[Int],
      snapshotId: Long): (java.nio.file.Path, Long) = {
    import org.apache.avro.generic.GenericData
    val schema = entrySchema(Seq.empty)
    val dataFileSchema = schema.getField("data_file").schema()
    val partitionSchema = dataFileSchema.getField("partition").schema()
    val entries = deleteFiles.map { f =>
      val dfr = new GenericData.Record(dataFileSchema)
      dfr.put("content", content)
      dfr.put("file_path", f.path)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(partitionSchema))
      dfr.put("record_count", f.rows)
      dfr.put("file_size_in_bytes", f.bytes)
      if (content == 2)
        dfr.put("equality_ids", java.util.Arrays.asList(eqIds.map(Integer.valueOf): _*))
      val e = new GenericData.Record(schema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", snapshotId)
      e.put("file_sequence_number", snapshotId)
      e.put("data_file", dfr)
      e
    }
    val manifestPath = metaDir(table).resolve(s"m-$snapshotId-${java.util.UUID.randomUUID()}.avro")
    (manifestPath, writeAvro(manifestPath, schema, entries))
  }

  /** ONE `overwrite` snapshot carrying the equality-delete manifest for
    * `keys` AND the data manifest for `rows` — the spec's single-commit
    * row delta, shared by [[upsert]] and [[applyChanges]]. The deletes
    * reach only STRICTLY-older files (data sequence < the delete's, the
    * spec's ordering rule), so the staged rows at the same sequence are
    * never in their own delete's scope — and a crash can no longer land
    * the delete without the rows. */
  private def rowDeltaCommit(spark: SparkSession, table: String,
      prior: com.fasterxml.jackson.databind.JsonNode, keys: DataFrame,
      rows: DataFrame, summaryProps: Map[String, String]): Long = {
    val (emptySpecId, mintEmptySpec) = emptySpecFor(prior)
    // the same field-name + type pinning append performs — this path
    // stages data files without going through it
    val declared = currentSchemaNode(prior).path("fields").elements().asScala
      .map(f => f.path("name").asText() -> typeText(f.path("type"))).toMap
    require(declared.keys.toSeq.sorted == rows.schema.fieldNames.toSeq.sorted,
      s"upsert schema ${rows.schema.fieldNames.mkString(",")} does not match " +
        s"table schema ${declared.keys.toSeq.sorted.mkString(",")}")
    rows.schema.fields.foreach(f =>
      require(declared(f.name) == icebergType(f.dataType),
        s"upsert column '${f.name}' type ${icebergType(f.dataType)} does not " +
          s"match table's ${declared(f.name)}"))
    val (deleteFiles, eqIds) = writeEqualityDeletes(table, prior, keys, 4000000L)
    val partitionBy = priorPartitionBy(prior)
    val transforms = partitionBy.map(IcebergTransforms.parse)
    val partTypes: Seq[(String, DataType)] =
      transforms.map(t => t.fieldName -> t.resultType(rows.schema(t.source).dataType))
    var deleteManifest: (String, Long, Int, Int) = null
    commitSnapshot(table, "overwrite",
      schemasJson = carriedSchemas,
      specsJson = p => {
        val (specs, defaultId, lastPartId) = carriedSpecs(p)
        if (!mintEmptySpec) (specs, defaultId, lastPartId)
        else (s"""$specs,{"spec-id":$emptySpecId,"fields":[]}""", defaultId, lastPartId)
      },
      authorManifest = { snapshotId =>
        val (dmPath, dmLen) = deleteFilesManifest(table, deleteFiles, 2, eqIds, snapshotId)
        deleteManifest = (dmPath.toString, dmLen, 1, emptySpecId)
        authorKeptPlusNew(table, prior, Seq.empty, rows,
          transforms, partTypes)(snapshotId)
      },
      carryPrior = ms => ms :+ deleteManifest,
      summaryProps = summaryProps)
  }

  /** UPSERT: equality-delete the incoming keys AND append the incoming
    * rows in ONE atomic `overwrite` snapshot ([[rowDeltaCommit]]) — no
    * data file rewritten, no torn delete-without-rows state at any crash
    * point. */
  def upsert(spark: SparkSession, df: DataFrame, table: String,
      keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col => fcol}
    val prior = readPrior(table)
    require(prior.isDefined, s"upsert into non-existent table $table — use append")
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} not all present in ${df.columns.mkString(",")}")
    rowDeltaCommit(spark, table, prior.get,
      df.select(keyCols.map(fcol): _*), df, Map.empty)
  }

  /** Apply a CHANGELOG (rows + `_change_type`, the [[IcebergRead.changesBetween]]
    * shape) to a KEYED table: equality-delete every affected key and
    * append the change set's insert rows in ONE atomic snapshot
    * ([[rowDeltaCommit]]) — delete-only keys vanish, updated keys swap,
    * new keys insert; an all-delete changelog commits a plain equality
    * delete. Incremental materialized-view maintenance: a downstream
    * table follows an upstream one by applying
    * `changesBetween(lastSynced, current)` instead of full rebuilds. The
    * high-water mark (summaryProps ledger) rides the same single commit,
    * so bookkeeping is atomic with the data. */
  def applyChanges(spark: SparkSession, changes0: DataFrame, table: String,
      keyCols: Seq[String], summaryProps: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.{col => fcol}
    require(changes0.columns.contains("_change_type"),
      "changes must carry _change_type ('insert' | 'delete') — the changesBetween shape")
    // the changelog plan (multi-leg union + anti join for changesBetween)
    // is consumed three times below (empty probe, delete scan, insert
    // write) — materialize it once
    val changes = changes0.localCheckpoint()
    val dataCols = changes.columns.filterNot(_ == "_change_type").toSeq
    require(keyCols.nonEmpty && keyCols.forall(dataCols.contains),
      s"key columns ${keyCols.mkString(",")} not all present in ${dataCols.mkString(",")}")
    val prior = readPrior(table)
    require(prior.isDefined, s"applyChanges into non-existent table $table")
    val affected = changes.select(keyCols.map(fcol): _*).distinct()
    // empty changelog = already in sync: no commit at all
    if (affected.isEmpty) return prior.get.path("current-snapshot-id").asLong(-1L)
    val inserts = changes.where(fcol("_change_type") === "insert")
      .select(dataCols.map(fcol): _*)
    if (inserts.isEmpty)
      deleteWhereEquals(spark, table, affected, summaryProps = summaryProps)
    else rowDeltaCommit(spark, table, prior.get, affected, inserts, summaryProps)
  }

  /** Merge-on-read DELETE: rows of the CURRENT snapshot matching
    * `condition` become a position delete file (the v2 spec's
    * (file_path, pos) parquet table) committed under a delete manifest —
    * no data file is rewritten. Readers ([[IcebergRead]] and any
    * spec-compliant engine) anti-join the tuples away at scan time.
    * Returns the new snapshot id, or -1 if nothing matched (no commit).
    * Position deletes are written partition-less (they reference files by
    * path); on a partitioned table the delete manifest cites the empty
    * spec (id 1) the partitioned append registers.
    *
    * The matching pass is one distributed scan of the live files with the
    * parquet `_metadata` file path + row index attached; only the matched
    * (path, pos) tuples — O(deleted rows) — come back through the single
    * delete-file write. */
  def deleteWhere(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long = {
    // an alias names the target for the condition's qualified /
    // subquery-correlated references (DELETE FROM '<p>' t WHERE … t.id …)
    def scoped(df: DataFrame): DataFrame = alias.map(df.as(_)).getOrElse(df)
    val prior0 = readPrior(table)
    require(prior0.isDefined, s"not an Iceberg table: $table")
    // position deletes are partition-less: cite an existing EMPTY spec, or
    // mint one past the table's highest spec id (an external table's spec 1
    // could be anything — assuming it is empty would mislabel the manifest)
    val (emptySpecId, mintEmptySpec) = emptySpecFor(prior0.get)

    // one scan: matched rows → one (file_path, pos) delete file
    // stats-pruned lineage: only files the predicate can touch are opened
    val deleteFile = writePositionDeletes(table,
        scoped(IcebergRead.lineagePruned(spark, table, condition)).where(condition)) match {
      case Some(f) => f
      case None => return -1L
    }
    commitSnapshot(table, "delete",
      schemasJson = carriedSchemas,
      specsJson = prior => {
        val (specs, defaultId, lastPartId) = carriedSpecs(prior)
        if (!mintEmptySpec) (specs, defaultId, lastPartId)
        else (s"""$specs,{"spec-id":$emptySpecId,"fields":[]}""", defaultId, lastPartId)
      },
      authorManifest = { snapshotId =>
        val (p, len) = deleteFilesManifest(table, Seq(deleteFile), 1, Nil, snapshotId)
        (p, len, 1, emptySpecId, 1, 0L)
      })
  }
}
