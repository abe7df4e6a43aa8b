package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Reader for EXTERNAL Apache Iceberg tables — the open table-format spec
  * (iceberg.apache.org/spec): the `vN.metadata.json` files under
  * `metadata/` → snapshot → manifest-list (Avro) → manifests (Avro) →
  * live parquet data files.
  * Complements [[DeltaRead]] for the lakehouse-interop story.
  *
  * Supported: format-version 1 and 2 metadata, parquet data files,
  * time travel by snapshot id, primitive column types (Iceberg data files
  * carry ALL columns — unlike Delta, partition values need no injection),
  * and BOTH v2 merge-on-read delete kinds: POSITION deletes (delete
  * manifests → parquet delete files of (file_path, pos), applied as an
  * anti join on the scan's `_metadata` file path + row index) and
  * EQUALITY deletes (content=2 — null-safe key match against data files
  * with strictly lower sequence numbers, the spec's scoping rule).
  * Refused loudly rather than misread: non-parquet file formats, nested
  * or unknown column types, heterogeneous/missing equality_ids, and
  * inherited (null) sequence numbers where scoping needs them. Columns
  * resolve by FIELD ID when the data files carry parquet ids (the spec's
  * rule — renames just work); id-less files (e.g. [[IcebergWrite]]'s)
  * fall back to name resolution.
  *
  * Position deletes skip the sequence-number check deliberately: an
  * Iceberg data-file path is written once and never reused (UUID names,
  * spec invariant), so a (path, pos) tuple can only ever refer to the one
  * file that carried that path — the anti join is exact without it.
  *
  * Scale notes: metadata JSON and manifests are read on the DRIVER with
  * the Avro core API — they are metadata, O(manifests + files) small
  * records by Iceberg's own design (the same contract as Delta log
  * replay / data skipping). Data is one parquet scan; delete files are a
  * second (usually tiny) scan whose anti join AQE turns into a broadcast
  * when it fits — no O(data) state on any single node either way. */
object IcebergRead {

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[sources] def localPath(uri: String): String = {
    // percent-only decode ('+' is literal in URI paths — see DeltaRead.pctDecode)
    val decoded = DeltaRead.pctDecode(uri)
    decoded.replaceFirst("^[a-zA-Z0-9+.-]+:(//)?", "")
  }

  /** The current metadata JSON file ([[currentMetadata]]). */
  private[sources] def metadataFile(table: String): java.io.File = {
    val dir = new java.io.File(s"${table.stripSuffix("/")}/metadata")
    require(dir.isDirectory, s"not an Iceberg table (no metadata dir): $table")
    val current = currentMetadata(table)
    require(current.isDefined, s"no *.metadata.json under $dir")
    current.get._2.toFile
  }

  /** The table's current metadata version and file, None before its first
    * commit — the one resolution the reader and [[IcebergWrite]] share.
    * `version-hint.text` is advisory (each writer sets it after its claim,
    * and racing writers can leave it behind), so the hinted version is
    * probed forward, v+1, v+2, …, until a file is missing. Without a
    * usable hint (missing, unparseable, or naming a missing file) the
    * highest-numbered `*.metadata.json` is current, per the spec's
    * file-system table convention. */
  private[sources] def currentMetadata(table: String): Option[(Int, java.nio.file.Path)] = {
    import java.nio.file.Files
    val dir = java.nio.file.Paths.get(table.stripSuffix("/"), "metadata")
    def file(v: Int) = dir.resolve(s"v$v.metadata.json")
    scala.util.Try(Files.readString(dir.resolve("version-hint.text")).trim.toInt).toOption
      .filter(v => Files.isRegularFile(file(v))) match {
      case Some(hinted) =>
        var v = hinted
        while (Files.isRegularFile(file(v + 1))) v += 1
        Some(v -> file(v))
      case None =>
        Option(dir.toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".metadata.json"))
          .map(f => ("\\d+".r.findFirstIn(f.getName).flatMap(_.toIntOption).getOrElse(0),
            f.toPath))
          .maxByOption(_._1)
    }
  }

  private[sources] def avroRecords(path: String): Seq[org.apache.avro.generic.GenericRecord] = {
    val reader = new org.apache.avro.file.DataFileReader(
      new java.io.File(localPath(path)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try reader.iterator().asScala.toList finally reader.close()
  }

  /** Spark type for a metadata "type" node: primitives arrive as JSON
    * strings, list types as the spec's object form (element-id / element /
    * element-required) → ArrayType. */
  private def fieldType(t: com.fasterxml.jackson.databind.JsonNode,
      name: String): DataType =
    if (t.isObject && t.path("type").asText() == "list")
      ArrayType(fieldType(t.path("element"), name),
        containsNull = !t.path("element-required").asBoolean(false))
    else t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "date" => DateType
      case "timestamp" | "timestamptz" => TimestampType
      case "binary" => BinaryType
      case dec if dec.startsWith("decimal(") =>
        val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg column type '$other' for field '$name' " +
          "(struct/map types are outside this reader's subset)")
    }

  /** Current snapshot restricted to `paths` (position/equality deletes
    * still applied) — the writer's compaction reads its rewrite
    * candidates through this. */
  private[sources] def snapshotRestricted(spark: SparkSession, table: String,
      paths: Set[String]): DataFrame =
    snapshotImpl(spark, table, -1L, lineage = false, keepPaths = Some(paths))

  /** Current snapshot id — the incremental-read / sync frontier. */
  /** Per-file bloom sketches from the `metadata/blooms-*.json` sidecars
    * ([[IcebergWrite]] writes one per staged batch when the table opts in
    * via the `graft.bloom.columns` property): file path → column →
    * sketch bytes. Orphaned entries (rewritten-away files) are inert —
    * consumers join by live file path. */
  private[sources] def bloomSidecars(table: String): Map[String, Map[String, Array[Byte]]] = {
    val dir = metadataFile(table).getParentFile
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.getName.startsWith("blooms-") && f.getName.endsWith(".json"))
      .flatMap { f =>
        mapper.readTree(f).properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map(c =>
            c.getKey -> java.util.Base64.getDecoder.decode(c.getValue.asText())).toMap
        }
      }.toMap
  }

  /** The metadata's table `properties` map (ANALYZE stats live here). */
  def tableProperties(spark: SparkSession, table: String): Map[String, String] = {
    val meta = mapper.readTree(metadataFile(table))
    Option(meta.get("properties")).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()))
      .toMap
  }

  def currentSnapshotId(spark: SparkSession, table: String): Long =
    mapper.readTree(metadataFile(table)).path("current-snapshot-id").asLong(-1L)

  /** The CURRENT schema from the metadata JSON alone — no manifest
    * replay, no snapshot DataFrame (round-19 optimization: the routed
    * planner needs ONLY the schema, and building the full snapshot frame
    * for `.schema` re-read every manifest and re-listed every data file
    * per routed statement). Field-id metadata matches [[snapshot]]'s. */
  def snapshotSchema(table: String): StructType = {
    val meta = mapper.readTree(metadataFile(table))
    val schemaNode = schemaNodeFor(meta, mapper.createObjectNode())
    StructType(schemaNode.path("fields").elements().asScala.map { f =>
      val md = new MetadataBuilder()
        .putLong("parquet.field.id", f.path("id").asLong(-1L)).build()
      StructField(f.path("name").asText(),
        fieldType(f.path("type"), f.path("name").asText()),
        nullable = !f.path("required").asBoolean(false), metadata = md)
    }.toSeq)
  }

  /** The Iceberg table as a DataFrame at `snapshotId` (-1 = current). */
  def snapshot(spark: SparkSession, table: String, snapshotId: Long = -1L): DataFrame =
    snapshotImpl(spark, table, snapshotId, lineage = false)

  /** [[snapshot]] plus row lineage: `_file` (the data file's path exactly
    * as the manifests spell it) and `_pos` (0-based row position in that
    * file) — the tuple a position delete references. Deletes already
    * applied; [[IcebergWrite.deleteWhere]] builds delete files from this. */
  def snapshotWithLineage(spark: SparkSession, table: String, snapshotId: Long = -1L): DataFrame =
    snapshotImpl(spark, table, snapshotId, lineage = true)

  /** Latest snapshot id whose `timestamp-ms` is at or before `timestampMs`
    * (TIMESTAMP AS OF semantics over the metadata's snapshot log). Fails
    * loudly for a timestamp before the table's first snapshot. */
  def snapshotIdAt(spark: SparkSession, table: String, timestampMs: Long): Long = {
    val meta = mapper.readTree(metadataFile(table))
    val stamped = meta.path("snapshots").elements().asScala.toSeq
      .map(s => (s.path("snapshot-id").asLong(-1L), s.path("timestamp-ms").asLong(Long.MaxValue)))
      .sortBy(_._2)
    require(stamped.nonEmpty, s"Iceberg table has no snapshots: $table")
    val eligible = stamped.filter(_._2 <= timestampMs)
    require(eligible.nonEmpty,
      s"no snapshot at or before $timestampMs (earliest is ${stamped.head._2}) — " +
        "the table did not exist yet")
    eligible.last._1
  }

  /** The table as of a wall-clock timestamp (ms since epoch). */
  def snapshotAt(spark: SparkSession, table: String, timestampMs: Long): DataFrame =
    snapshot(spark, table, snapshotIdAt(spark, table, timestampMs))

  /** [[snapshotWithLineage]] restricted to files whose manifest bounds
    * can satisfy `pred` — the Delta twin's DML matching tier (see
    * DeltaRead.lineagePruned): pruning-only, predicate NOT applied to
    * rows, any failure falls back to the full lineage scan. The bucket
    * partition-predicate projection rides along like [[scanPruned]]. */
  def lineagePruned(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): DataFrame = scala.util.Try {
    val meta = mapper.readTree(metadataFile(table))
    val resolvedId = meta.path("current-snapshot-id").asLong(-1L)
    val snapNode = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == resolvedId)
      .getOrElse(throw new IllegalArgumentException(s"snapshot $resolvedId not found"))
    // always a current-intent read (the final scan below is -1L): resolve
    // the CURRENT schema, and pin the stats frame to the resolved snapshot
    // with current-schema names (round-20 consistency, see fileStatsFull)
    val schema = StructType(fieldTriples(
      schemaNodeFor(meta, mapper.createObjectNode())).map {
      case (_, n, dt) => StructField(n, dt)
    })
    val (stats, bucketModuli) =
      fileStatsFull(spark, table, resolvedId, currentSchema = true)
    val statCols = stats.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSet
    val cond = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .where(pred).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    cond match {
      case None => snapshotWithLineage(spark, table)
      case Some(c) =>
        val survives = graft.operators.DataSkipping.fileSurvives(c, statCols)
        val bucketKeep = bucketProjection(c, bucketModuli)
        val keep = stats.where(survives && bucketKeep)
          .select("file").collect().map(_.getString(0)).toSet
        snapshotImpl(spark, table, -1L, lineage = true, keepPaths = Some(keep))
    }
  }.getOrElse(snapshotWithLineage(spark, table))

  /** Streaming-sink high-water marks from the snapshot-summary ledger:
    * for each appId recorded via `graft.app-id`, the max `graft.batch-id`
    * across all snapshots — the Iceberg twin of Delta's `txn` actions
    * (the same convention real streaming writers use, e.g. Flink's
    * max-committed-checkpoint-id summary property). O(snapshots) driver
    * metadata read. */
  def txnVersions(spark: SparkSession, table: String): Map[String, Long] = {
    val dir = new java.io.File(s"${table.stripSuffix("/")}/metadata")
    if (!dir.isDirectory) return Map.empty
    val meta = mapper.readTree(metadataFile(table))
    val marks = scala.collection.mutable.HashMap[String, Long]()
    // LAST-recorded wins (commit order), exactly like Delta's txn replay —
    // NOT the numeric max: Lake.sync marks carry Iceberg SNAPSHOT IDS,
    // which are random longs in general, so a numerically large old
    // frontier would otherwise shadow every newer one and the sync
    // high-water mark could never advance
    val order = commitOrder(meta)
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-1L) -> s).toMap
    order.flatMap(byId.get).foreach { s =>
      val sum = s.path("summary")
      val app = sum.path("graft.app-id").asText("")
      if (app.nonEmpty && sum.has("graft.batch-id"))
        marks(app) = sum.path("graft.batch-id").asText().toLong
    }
    marks.toMap
  }

  /** COPY INTO's ingested-file ledger: every `graft.copied` snapshot
    * summary's comma-separated file ids, across ALL snapshots still in
    * the metadata. Horizon caveat (documented at the statement): expiring
    * a snapshot drops its summary, so files older than the retention
    * window would re-ingest — on Delta the txn-action ledger is
    * checkpoint-durable instead. */
  def copyLedger(spark: SparkSession, table: String): Set[String] = {
    val metaPath = new org.apache.hadoop.fs.Path(s"${table.stripSuffix("/")}/metadata")
    val hfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(metaPath)) return Set.empty
    val meta = mapper.readTree(metadataFile(table))
    meta.path("snapshots").elements().asScala.flatMap { s =>
      s.path("summary").path("graft.copied").asText("")
        .split(",").filter(_.nonEmpty)
    }.toSet
  }

  /** [[snapshot]] with PARTITION PRUNING at the manifest level: `keep`
    * sees each data file's partition record as (field name → value;
    * strings decoded, dates as epoch-day ints) and files it rejects never
    * reach the scan — the manifest-side prune every Iceberg engine does
    * with partition predicates, and the 100 TB lever a post-scan filter
    * can't reach. Unpartitioned files present an empty map (kept unless
    * the caller says otherwise); delete files are never pruned (position
    * deletes are partition-less). */
  def snapshotPruned(spark: SparkSession, table: String,
      keep: Map[String, Any] => Boolean, snapshotId: Long = -1L): DataFrame =
    snapshotImpl(spark, table, snapshotId, lineage = false, prune = Some(keep))

  /** Snapshot ids in COMMIT ORDER. Snapshot ids are random longs in
    * general (only graft-written tables number them sequentially), so a
    * range must be defined over the table's lineage, not id arithmetic:
    * the metadata's `snapshot-log` when present (it records every commit
    * in order), else the `parent-snapshot-id` chain walked back from the
    * current snapshot, else strictly-increasing `timestamp-ms`. Tables
    * where none of the three establishes a total order are refused. */
  private def commitOrder(meta: com.fasterxml.jackson.databind.JsonNode): Seq[Long] = {
    val snaps = meta.path("snapshots").elements().asScala.toSeq
    val ids = snaps.map(_.path("snapshot-id").asLong(-1L))
    val log = meta.path("snapshot-log").elements().asScala
      .map(_.path("snapshot-id").asLong(-1L)).toSeq.distinct
    // the log records commits in order, but expired snapshots may have
    // been dropped from `snapshots` — keep only ids that still exist
    val fromLog = log.filter(ids.toSet)
    if (fromLog.toSet == ids.toSet) return fromLog
    // parent-chain fallback: walk back from current
    val byId = snaps.map(s => s.path("snapshot-id").asLong(-1L) -> s).toMap
    val cur = meta.path("current-snapshot-id").asLong(-1L)
    var chain = List.empty[Long]
    var at = cur
    while (at >= 0 && byId.contains(at) && !chain.contains(at)) {
      chain = at :: chain
      at = byId(at).path("parent-snapshot-id").asLong(-1L)
    }
    if (chain.toSet == ids.toSet) return chain
    // STAGED-snapshot exclusion (write-audit-publish): a snapshot present
    // in `snapshots` but neither in the log nor on the current parent
    // chain is staged, not published — commit order covers the published
    // lineage only. When the log and the chain agree with EACH OTHER, the
    // extra ids are exactly the stages; trusting the log here cannot drop
    // a published commit (that would have to be in the chain).
    if (chain.nonEmpty && chain.toSet == fromLog.toSet) return fromLog
    // timestamp fallback: unambiguous only when strictly increasing
    val stamped = snaps.map(s => (s.path("snapshot-id").asLong(-1L),
      s.path("timestamp-ms").asLong(-1L))).sortBy(_._2)
    require(stamped.map(_._2).distinct.size == stamped.size && stamped.forall(_._2 > 0),
      "cannot establish commit order: no complete snapshot-log, broken " +
        "parent-snapshot-id chain, and non-unique timestamps — refusing an " +
        "incremental read whose range would be arbitrary")
    stamped.map(_._1)
  }

  /** Rows ADDED in the snapshots after `fromSnapshotId` up to and
    * including `toSnapshotId` IN COMMIT ORDER (snapshot-log / parent-chain
    * lineage — snapshot ids themselves are not ordered in general) —
    * incremental consumption of an external Iceberg table.
    * `fromSnapshotId = 0` means "from the beginning". Data-manifest
    * entries carry their adding snapshot id, so only the range's files are
    * scanned; position deletes of the `to` snapshot still apply.
    * `replace` snapshots (compaction) are data-neutral and are SKIPPED —
    * in-range appends whose files a later in-range replace rewrote away
    * are read at their own snapshots, so table maintenance never loses or
    * doubles a consumer's rows. Snapshots whose operation is anything
    * else (delete, overwrite) make adds-only reading ambiguous and are
    * refused unless `ignoreChanges = true`. */
  def addsBetween(spark: SparkSession, table: String, fromSnapshotId: Long,
      toSnapshotId: Long = -1L, ignoreChanges: Boolean = false): DataFrame = {
    val meta = mapper.readTree(metadataFile(table))
    val order = commitOrder(meta)
    val to =
      if (toSnapshotId >= 0) toSnapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val toPos = order.indexOf(to)
    require(toPos >= 0, s"snapshot $to not found (commit order: ${order.mkString(",")})")
    val fromPos =
      if (fromSnapshotId == 0L) -1 // before the first snapshot
      else order.indexOf(fromSnapshotId)
    require(fromPos >= 0 || fromSnapshotId == 0L,
      s"snapshot $fromSnapshotId not found (commit order: ${order.mkString(",")})")
    val rangeOrdered = order.slice(fromPos + 1, toPos + 1)
    val range = rangeOrdered.toSet
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-1L) -> s).toMap
    val ops = rangeOrdered.map(id =>
      id -> byId(id).path("summary").path("operation").asText("append"))
    ops.foreach { case (id, op) =>
      // 'replace' = compaction/rewrite: data-neutral by the spec, so
      // table maintenance must not break consumers — handled below
      require(op == "append" || op == "replace" || ignoreChanges,
        s"snapshot $id is a '$op' commit — adds-only " +
          "reading is ambiguous; pass ignoreChanges=true to read the range's adds anyway")
    }
    val replaces = ops.collect { case (id, "replace") => id }.toSet
    if (replaces.isEmpty || ignoreChanges)
      // fast path (and the documented ignoreChanges re-emission behavior):
      // one scan of the range's files as they exist at `to`
      snapshotImpl(spark, table, to, lineage = false, addedIn = Some(range.contains))
    else {
      // a replace in range rewrote files whose ORIGINALS may have been
      // added in-range too (and are gone from `to`'s manifests): read
      // each append AT ITS OWN snapshot — originals still resolve there —
      // and skip the replace snapshots' rewritten copies entirely, so
      // nothing is lost and nothing double-emits
      val appendsInRange = ops.collect { case (id, "append") => id }
      if (appendsInRange.isEmpty)
        snapshotImpl(spark, table, to, lineage = false,
          addedIn = Some(Set.empty[Long].contains))
      else appendsInRange.map(id =>
        snapshotImpl(spark, table, id, lineage = false, addedIn = Some(Set(id).contains)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The snapshot id at most `n` commits after `fromSnapshotId` in LINEAGE
    * order, clamped to `toSnapshotId` — the admission-control companion of
    * [[addsBetween]] (snapshot ids are not ordered in general, so "n
    * commits later" must resolve against the commit lineage, never id
    * arithmetic). Degrades to `toSnapshotId` (uncapped) when either end is
    * no longer in the lineage (e.g. expired) — deliver, don't stall. Pure
    * metadata read; no Spark job. */
  def advanceSnapshot(spark: SparkSession, table: String, fromSnapshotId: Long,
      n: Int, toSnapshotId: Long): Long = {
    require(n > 0, s"advanceSnapshot needs n > 0, got $n")
    val order = commitOrder(mapper.readTree(metadataFile(table)))
    val fromPos = order.indexOf(fromSnapshotId)
    val toPos = order.indexOf(toSnapshotId)
    if (fromPos < 0 || toPos < 0 || fromPos >= toPos) toSnapshotId
    else order(math.min(fromPos + n, toPos))
  }

  /** Live data-file and delete-file path sets of one snapshot — pure
    * metadata (manifest-list + manifests), no Spark job. */
  private def fileSets(meta: com.fasterxml.jackson.databind.JsonNode,
      snapshotId: Long): (Set[String], Set[String]) = {
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-1L) == snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"snapshot $snapshotId not found"))
    val (dataMs, delMs) =
      if (snap.has("manifest-list")) {
        val rows = avroRecords(snap.path("manifest-list").asText()).map { r =>
          (r.get("manifest_path").toString,
            Option(r.get("content")).map(_.toString.toInt).getOrElse(0))
        }
        (rows.collect { case (p, 0) => p }, rows.collect { case (p, c) if c != 0 => p })
      } else (snap.path("manifests").elements().asScala.map(_.asText()).toSeq, Seq.empty[String])
    def paths(ms: Seq[String]): Set[String] = ms.flatMap { mp =>
      avroRecords(mp).flatMap { e =>
        val status = Option(e.getSchema.getField("status"))
          .flatMap(_ => Option(e.get("status"))).map(_.toString.toInt).getOrElse(1)
        if (status == 2) None // DELETED entry
        else Some(localPath(e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord].get("file_path").toString))
      }
    }.toSet
    (paths(dataMs), paths(delMs))
  }

  /** Per-file column statistics of a snapshot, decoded from the
    * manifests' `lower_bounds` / `upper_bounds` / `null_value_counts`
    * maps (spec single-value binaries keyed by field id — the stats every
    * real Iceberg writer records): one row per LIVE data file with
    * `file`, `rows`, and `min_<col>` / `max_<col>` / `nulls_<col>` for
    * each bounds-supported table column. Columns a file has no bounds
    * for are NULL (bounds are per-column optional). O(manifests) driver
    * metadata read; no data touched. */
  /** Snapshot HISTORY (DESCRIBE HISTORY analog): one row per snapshot in
    * COMMIT ORDER — (version = snapshot id, timestamp_ms, operation,
    * added_files, removed_files), file counts summed from the snapshot's
    * manifest-list rows. O(snapshots) driver metadata; expired snapshots
    * are simply absent. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val meta = mapper.readTree(metadataFile(table))
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-1L) -> s).toMap
    val rows = commitOrder(meta).flatMap(byId.get).map { s =>
      val (added, removed) =
        if (s.has("manifest-list"))
          scala.util.Try {
            val mls = avroRecords(s.path("manifest-list").asText())
            (mls.map(r => Option(r.get("added_files_count")).map(_.toString.toLong)
              .getOrElse(0L)).sum,
              mls.map(r => Option(r.get("deleted_files_count")).map(_.toString.toLong)
                .getOrElse(0L)).sum)
          }.getOrElse((0L, 0L))
        else (0L, 0L)
      (s.path("snapshot-id").asLong(-1L), s.path("timestamp-ms").asLong(-1L),
        s.path("summary").path("operation").asText("append"), added, removed)
    }
    import spark.implicits._
    rows.toDF("version", "timestamp_ms", "operation", "added_files", "removed_files")
  }

  /** Named refs (spec v2 `refs` map): name → (snapshot id, type). */
  def refs(spark: SparkSession, table: String): Map[String, (Long, String)] = {
    val meta = mapper.readTree(metadataFile(table))
    Option(meta.get("refs")).map { o =>
      o.fields().asScala.map { e =>
        e.getKey -> ((e.getValue.path("snapshot-id").asLong(-1L),
          e.getValue.path("type").asText("tag")))
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Snapshot read pinned by a named ref — `SELECT ... VERSION AS OF
    * 'tag'` semantics. */
  def snapshotAtRef(spark: SparkSession, table: String, ref: String): DataFrame = {
    val id = refs(spark, table).getOrElse(ref,
      throw new IllegalArgumentException(s"no ref '$ref' on $table"))._1
    snapshot(spark, table, id)
  }

  /** SCHEMA history: one row per column-level change across the snapshot
    * lineage — `create` rows for the first snapshot's schema, then diffs
    * at every snapshot whose recorded schema-id changed. Keyed by the
    * spec's FIELD IDS, so a rename is reported as `rename_column` (same
    * id, new name) — distinguishable from drop+add, which name-keyed
    * formats cannot tell apart. `version` is the snapshot id (as in
    * [[history]]). v1 metadata with a single inline schema yields just the
    * `create` rows. O(metadata) driver work; no data touched. */
  def schemaHistory(spark: SparkSession, table: String): DataFrame = {
    val meta = mapper.readTree(metadataFile(table))
    // fields as (id, name, typeText); nested types stringified compactly
    def fields(schema: com.fasterxml.jackson.databind.JsonNode): Seq[(Int, String, String)] =
      schema.path("fields").elements().asScala.toSeq.map { f =>
        val t = f.path("type")
        (f.path("id").asInt(-1), f.path("name").asText(),
          if (t.isTextual) t.asText() else t.toString)
      }
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-1L) -> s).toMap
    val schemasById: Map[Int, Seq[(Int, String, String)]] =
      if (meta.has("schemas"))
        meta.path("schemas").elements().asScala
          .map(s => s.path("schema-id").asInt(0) -> fields(s)).toMap
      else Map(0 -> fields(meta.path("schema")))
    val currentId = meta.path("current-schema-id").asInt(0)
    var prev: Option[Seq[(Int, String, String)]] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, String)]
    commitOrder(meta).flatMap(id => byId.get(id).map(id -> _)).foreach { case (id, snap) =>
      val sid = if (snap.has("schema-id")) snap.path("schema-id").asInt(currentId) else currentId
      schemasById.get(sid).foreach { cols =>
        prev match {
          case None =>
            cols.foreach { case (_, n, t) => out += ((id, "create", n, null, t)) }
          case Some(old) if old != cols =>
            val (oldById, newById) = (old.map(c => c._1 -> c).toMap, cols.map(c => c._1 -> c).toMap)
            cols.collect { case (fid, n, t) if !oldById.contains(fid) =>
              out += ((id, "add_column", n, null, t)) }
            old.collect { case (fid, n, t) if !newById.contains(fid) =>
              out += ((id, "drop_column", n, t, null)) }
            cols.collect { case (fid, n, t) if oldById.contains(fid) =>
              val (_, on, ot) = oldById(fid)
              if (on != n) out += ((id, "rename_column", s"$on -> $n", ot, t))
              else if (ot != t) out += ((id, "retype", n, ot, t))
            }
          case _ => () // unchanged schema
        }
        prev = Some(cols)
      }
    }
    import spark.implicits._
    out.toSeq.toDF("version", "change", "column", "old_type", "new_type")
  }

  /** The schema node governing `snap` (v2 `schemas` chain honoring the
    * snapshot's recorded schema-id; v1 inline `schema`) — shared by the
    * plan builder and the metadata-only stats reader. */
  private def schemaNodeFor(meta: com.fasterxml.jackson.databind.JsonNode,
      snap: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
    if (meta.has("schemas")) {
      val cur = meta.path("current-schema-id").asInt(0)
      val want = if (snap.has("schema-id")) snap.path("schema-id").asInt(cur) else cur
      meta.path("schemas").elements().asScala.toSeq
        .find(_.path("schema-id").asInt(-1) == want)
        .orElse(meta.path("schemas").elements().asScala.toSeq
          .find(_.path("schema-id").asInt(-1) == cur))
        .getOrElse(throw new IllegalArgumentException(s"schema-id $want not in schemas"))
    } else meta.path("schema")

  /** (field-id, name, Spark type) triples of a schema node. */
  private def fieldTriples(
      schemaNode: com.fasterxml.jackson.databind.JsonNode): Seq[(Int, String, DataType)] =
    schemaNode.path("fields").elements().asScala.map { f =>
      (f.path("id").asInt(-1), f.path("name").asText(),
        fieldType(f.path("type"), f.path("name").asText()))
    }.toSeq

  def fileStats(spark: SparkSession, table: String, snapshotId: Long = -1L): DataFrame = {
    val (df, bucketModuli) = fileStatsFull(spark, table, snapshotId)
    df.drop(bucketModuli.keys.map(src => s"__pb_$src").toSeq :+ "__fsize": _*)
  }

  /** Co-bucketed-layout probe for storage-partitioned joins: when the
    * CURRENT snapshot's default spec `bucket[n]`-partitions `key`, every
    * live data file carries a decodable bucket ordinal (same-spec entry),
    * and NO delete file is live (a bucket-local reader cannot apply
    * merge-on-read deletes), returns (n, bucket ordinal → file paths).
    * None on any miss — callers fall back to the shuffled plan. */
  def bucketLayout(spark: SparkSession, table: String, key: String)
      : Option[(Int, Map[Int, Seq[String]])] =
    bucketLayoutSized(spark, table, key).map { case (n, m) =>
      (n, m.map { case (b, fs) => b -> fs.map(_._1) })
    }

  /** [[bucketLayoutMoR]] restricted to DELETE-FREE snapshots
    * (compatibility for direct-file consumers that apply no masks). */
  def bucketLayoutSized(spark: SparkSession, table: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]])] =
    bucketLayoutMoR(spark, table, key).collect {
      case (n, m, NoDeletes) => (n, m)
    }

  /** The bucket layout with each file's MANIFEST-recorded byte size (the
    * skew-split sizing source — zero filesystem calls) plus the live
    * POSITION-DELETE files as [[LayoutDeletes]]: position deletes are
    * file-scoped — they hide rows but never move one between buckets —
    * so the layout survives a merge-on-read DELETE and the bucket-local
    * scans apply the masks per chunk. EQUALITY deletes refuse (their
    * sequence-number scoping needs the full MoR reader). Results are
    * cached per (table, key, metadata-version identity): every commit
    * writes a NEW metadata file, so a hit can never serve a stale
    * layout, and the statement-planning hot path (route probe + join
    * build) stops paying repeated manifest replays and footer opens. */
  def bucketLayoutMoR(spark: SparkSession, table: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)] = {
    val mf = scala.util.Try(metadataFile(table)).getOrElse(return None)
    val cacheKey = s"$table\u0000$key\u0000${mf.getPath}\u0000" +
      s"${mf.lastModified}\u0000${mf.length}"
    val hit = layoutCache.get(cacheKey)
    if (hit != null) return hit
    val computed = bucketLayoutMoRImpl(spark, table, key)
    layoutCache.put(cacheKey, computed)
    computed
  }

  private val layoutCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)]](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)]]): Boolean =
          size() > 64
      })

  /** Live delete files of a snapshot with their total MANIFEST-recorded
    * row count: Some(position-delete paths, Σ record_count — -1 when any
    * entry lacked it), or None when any EQUALITY delete is live (outside
    * the bucket-local readers' subset). O(manifests) driver metadata
    * work; the row count feeds [[Lake.bucketLayoutMoR]]'s delete-budget
    * gate without opening a single delete file. */
  private def liveDeleteFiles(table: String, snapshotId: Long): Option[(Seq[String], Long)] = {
    val meta = mapper.readTree(metadataFile(table))
    val resolvedId =
      if (snapshotId >= 0) snapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == resolvedId)
      .getOrElse(return None)
    val manifests: Seq[String] =
      if (snap.has("manifest-list"))
        avroRecords(snap.path("manifest-list").asText())
          .map(_.get("manifest_path").toString)
      else snap.path("manifests").elements().asScala.map(_.asText()).toSeq
    def opt(r: org.apache.avro.generic.GenericRecord, n: String): Option[AnyRef] =
      Option(r.getSchema.getField(n)).flatMap(_ => Option(r.get(n)))
    val posB = Seq.newBuilder[String]
    var rows = 0L
    manifests.foreach { mp =>
      avroRecords(mp).foreach { entry =>
        val status = opt(entry, "status").map(_.toString.toInt).getOrElse(1)
        val df = entry.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
        if (status != 2 && content == 2) return None // live equality delete
        if (status != 2 && content == 1) {
          posB += localPath(df.get("file_path").toString)
          if (rows >= 0) rows = opt(df, "record_count")
            .flatMap(v => v.toString.toLongOption) match {
            case Some(rc) if rc >= 0 => rows + rc
            case _ => -1L // unrecorded count: the budget gate must refuse
          }
        }
      }
    }
    Some((posB.result(), rows))
  }

  private def bucketLayoutMoRImpl(spark: SparkSession, table: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)] = scala.util.Try {
    val (posDeletes, delRows) = liveDeleteFiles(table, currentSnapshotId(spark, table))
      .getOrElse(return None)
    val (stats, moduli) = fileStatsFull(spark, table)
    val n = moduli.getOrElse(key, return None)
    val rows = stats.select(org.apache.spark.sql.functions.col("file"),
      org.apache.spark.sql.functions.col(s"__pb_$key"),
      org.apache.spark.sql.functions.col("__fsize")).collect()
    if (rows.exists(_.isNullAt(1))) return None // foreign-spec entry: bail
    val byBucket = rows.groupBy(_.getInt(1))
      .map { case (b, rs) => b -> rs.map(r => (r.getString(0), r.getLong(2))).toSeq }
    // The per-bucket reader (BucketedJoin) resolves columns BY NAME with
    // field-id metadata stripped — it bypasses the main reader's field-id
    // resolution and identity-value injection, so the layout is only
    // offered when one probe footer confirms name resolution is faithful
    // (a table's data files share a writer lineage, same probe rule as
    // snapshotImpl): files carrying parquet field ids must map every id
    // they share with the current schema to the SAME name (an external
    // engine's files after a RENAME would silently name-read the column —
    // possibly the join key — as NULL, vanishing rows from the join), a
    // schema name present in the footer under a DIFFERENT id must refuse
    // (a rename that reused the name would read the WRONG column), and
    // identity-partitioned source columns must exist in the files (the
    // bucket-local scan performs no manifest value injection).
    if (!nameReadFaithful(spark, table, byBucket.values.flatten.headOption.map(_._1)))
      return None
    val deletes: LayoutDeletes =
      if (posDeletes.isEmpty) NoDeletes else LayoutDeletes.Pos(posDeletes, delRows)
    Some((n, byBucket, deletes))
  }.toOption.flatten

  /** One-footer probe: is a plain by-name parquet read of `file` guaranteed
    * to see the same columns the id-aware snapshot reader resolves? */
  private def nameReadFaithful(spark: SparkSession, table: String,
      file: Option[String]): Boolean = scala.util.Try {
    val f = file.getOrElse(return true) // no live files: nothing to misread
    val meta = mapper.readTree(metadataFile(table))
    // the CURRENT schema (empty snap node → current-schema-id) — the one
    // BucketedJoin's snapshot(…).schema read resolves against, which a
    // metadata-only RENAME moves without touching any snapshot
    val fields = fieldTriples(schemaNodeFor(meta, mapper.createObjectNode()))
    // MIXED-LINEAGE guard the single-footer probe cannot give: after a
    // metadata-only RENAME (or retype) the table may hold BOTH pre- and
    // post-rename files, and probing one footer proves nothing about the
    // others. If ANY schema in the chain maps a current field id to a
    // different name or type, some live file may carry the old physical
    // name — refuse name-reading outright. (Conservative: a renamed table
    // whose files were all rewritten afterwards still refuses; the caller
    // falls back to the always-correct shuffled plan.)
    if (meta.has("schemas")) {
      val current = fields.map { case (id, n2, dt) => id -> (n2, dt) }.toMap
      val curId = meta.path("current-schema-id").asInt(0)
      val drifted = meta.path("schemas").elements().asScala
        .filter(_.path("schema-id").asInt(-1) != curId)
        .exists { node =>
          // an unparseable historical schema cannot be verified → drift
          scala.util.Try(fieldTriples(node)).toOption.map(_.exists {
            case (id, n2, dt) => current.get(id).exists(_ != ((n2, dt)))
          }).getOrElse(true)
        }
      if (drifted) return false
    } else {
      // no 'schemas' history at all (externally written format-version-1
      // metadata with a bare inline 'schema'): the chain-drift guard above
      // cannot run, so a renamed v1 table holding BOTH pre- and
      // post-rename files could pass the single-footer probe and have the
      // bucket-local reader name-read the join key as NULL — vanishing
      // rows. Unverifiable lineage refuses name-reading outright (our own
      // writer always emits the v2 'schemas' array, so this only
      // downgrades foreign v1 tables to the always-correct shuffled plan).
      return false
    }
    val colById = fields.map { case (id, n2, _) => id -> n2 }.toMap
    val identitySrc: Set[String] = {
      val specId = meta.path("default-spec-id").asInt(0)
      meta.path("partition-specs").elements().asScala.toSeq
        .find(_.path("spec-id").asInt(-1) == specId).toSeq
        .flatMap(_.path("fields").elements().asScala)
        .filter(_.path("transform").asText() == "identity")
        .flatMap(pf => colById.get(pf.path("source-id").asInt(-1)))
        .toSet
    }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val fs = r.getFileMetaData.getSchema.getFields.asScala
      val footerNames = fs.map(_.getName).toSet
      val footerIdName = fs.filter(_.getId != null)
        .map(pf => pf.getId.intValue() -> pf.getName).toMap
      val idsOk =
        if (footerIdName.isEmpty) true
        else fields.forall { case (id, name, _) =>
          footerIdName.get(id) match {
            case Some(fn) => fn == name // shared id must carry the same name
            case None => !footerNames.contains(name) // name reuse under another id
          }
        }
      idsOk && identitySrc.forall(footerNames.contains)
    } finally r.close()
  }.getOrElse(false)

  /** [[fileStats]] plus, for every default-spec `bucket[n]` partition
    * field, a hidden `__pb_<sourceCol>` column carrying the file's
    * partition bucket ordinal (null when the entry's manifest was written
    * under a DIFFERENT spec — a foreign/evolved table may reuse a field
    * name with another transform, so decoding it under this spec would
    * prune wrongly). Returns the moduli map (source col → n) so
    * [[scanPruned]] can project equality/IN probes through the writer's
    * Murmur3 bucket function — the spec's partition-predicate projection
    * for the one transform that yields no [lo, hi] interval. */
  private[sources] def fileStatsFull(spark: SparkSession, table: String,
      snapshotId: Long = -1L, currentSchema: Boolean = false): (DataFrame, Map[String, Int]) = {
    val meta = mapper.readTree(metadataFile(table))
    val resolvedId =
      if (snapshotId >= 0) snapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == resolvedId)
      .getOrElse(throw new IllegalArgumentException(s"snapshot $resolvedId not found"))
    // CURRENT read → CURRENT schema (round-20 consistency fix): a
    // metadata-only evolution (rename) adds no snapshot, so the head
    // snapshot may cite the pre-evolution schema-id — resolving it here
    // would name the stat/__pb_ columns under the OLD names while the
    // planner (snapshotSchema/snapshotImpl, same rule below at scanPruned)
    // uses the new ones, silently de-clawing pruning and the bucket-layout
    // probe. Time travel keeps the snapshot's recorded schema-id;
    // `currentSchema` lets a current-intent caller PIN the snapshot id
    // (concurrent-commit atomicity) while keeping current-schema names.
    val fields = fieldTriples(
      if (snapshotId >= 0 && !currentSchema) schemaNodeFor(meta, snap)
      else schemaNodeFor(meta, mapper.createObjectNode()))
    val statFields = fields.filter { case (_, _, dt) => IcebergBounds.supported(dt) }
    // partition values double as SOURCE-COLUMN intervals when a file
    // carries no bounds for the column: identity → the degenerate [v, v],
    // and the TIME transforms (hour/day/month/year) plus integer
    // truncate[w] each cover an exact value range — so an EXTERNAL
    // engine's bound-less files still prune on time/range predicates
    // through the hidden partitioning (real Iceberg's partition-predicate
    // projection). bucket and string truncate reproduce no usable
    // interval. Real bounds, when present, win (they are tighter).
    val defaultSpecId = meta.path("default-spec-id").asInt(0)
    val nSpecs = meta.path("partition-specs").elements().asScala.size
    val partFieldFor: Map[String, (String, String)] = { // source col → (transform, part field)
      val srcName = fields.map { case (id, n, _) => id -> n }.toMap
      meta.path("partition-specs").elements().asScala.toSeq
        .find(_.path("spec-id").asInt(-1) == defaultSpecId).toSeq
        .flatMap(_.path("fields").elements().asScala)
        .flatMap { f =>
          srcName.get(f.path("source-id").asInt(-1)).map(src =>
            src -> (f.path("transform").asText(), f.path("name").asText()))
        }.toMap
    }
    val BucketT = """bucket\[(\d+)\]""".r
    // bucket[n] partition fields of the default spec over hashable source
    // types: their per-file ordinals ride along as __pb_ columns
    val bucketFields: Seq[(String, String, Int)] = // (source col, part field, n)
      fields.collect { case (_, name, dt)
          if Seq(IntegerType, LongType, StringType, DateType).contains(dt) =>
        partFieldFor.get(name).collect {
          case (BucketT(n), pf) => (name, pf, n.toInt) }
      }.flatten
    val bucketModuli = bucketFields.map { case (src, _, n) => src -> n }.toMap
    def partValue(dt: DataType, v: AnyRef): Any = dt match {
      case IntegerType => v.toString.toInt
      case LongType => v.toString.toLong
      case StringType => v.toString
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toString.toLong))
      case _ => null // outside the identity-partition fallback subset
    }
    def tsOf(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    def dateOf(epochDay: Long): java.sql.Date =
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay))
    val TruncT = """truncate\[(\d+)\]""".r
    // inclusive [lo, hi] interval a transform value covers for its source
    def derivedInterval(transform: String, dt: DataType, v: AnyRef): (Any, Any) = {
      def monthSpan(m: Int): (java.time.LocalDate, java.time.LocalDate) = {
        val start = java.time.LocalDate.of(1970 + Math.floorDiv(m, 12),
          Math.floorMod(m, 12) + 1, 1)
        (start, start.plusMonths(1))
      }
      (transform, dt) match {
        case ("identity", _) => val pv = partValue(dt, v); (pv, pv)
        case ("hour", TimestampType) =>
          val h = v.toString.toLong
          (tsOf(h * 3600000000L), tsOf((h + 1) * 3600000000L - 1))
        case ("day", TimestampType) =>
          val d = v.toString.toLong
          (tsOf(d * 86400000000L), tsOf((d + 1) * 86400000000L - 1))
        case ("day", DateType) =>
          val dd = dateOf(v.toString.toLong); (dd, dd)
        case ("month", TimestampType) =>
          val (s, n) = monthSpan(v.toString.toInt)
          (tsOf(s.toEpochDay * 86400000000L), tsOf(n.toEpochDay * 86400000000L - 1))
        case ("month", DateType) =>
          val (s, n) = monthSpan(v.toString.toInt)
          (dateOf(s.toEpochDay), dateOf(n.toEpochDay - 1))
        case ("year", TimestampType) =>
          val y = 1970 + v.toString.toInt
          val s = java.time.LocalDate.of(y, 1, 1)
          val n = java.time.LocalDate.of(y + 1, 1, 1)
          (tsOf(s.toEpochDay * 86400000000L), tsOf(n.toEpochDay * 86400000000L - 1))
        case ("year", DateType) =>
          val y = 1970 + v.toString.toInt
          (java.sql.Date.valueOf(java.time.LocalDate.of(y, 1, 1)),
            java.sql.Date.valueOf(java.time.LocalDate.of(y, 12, 31)))
        case (TruncT(w), IntegerType) =>
          val lo = v.toString.toInt; (lo, lo + w.toInt - 1)
        case (TruncT(w), LongType) =>
          val lo = v.toString.toLong; (lo, lo + w.toLong - 1)
        case _ => (null, null) // bucket / string truncate: keep conservative
      }
    }

    // (manifest path, spec-id its entries were written under): manifest-
    // list records carry partition_spec_id; a v1 inline manifest list
    // doesn't, so trust it only when the table defines a single spec.
    // Derived partition intervals/buckets are decoded ONLY for entries
    // whose spec IS the default spec partFieldFor was built from — an
    // evolved or foreign spec may bind the same field NAME to a different
    // transform, and decoding under the wrong transform would produce a
    // wrong interval and an unsafe prune.
    val dataManifests: Seq[(String, Int)] =
      if (snap.has("manifest-list"))
        avroRecords(snap.path("manifest-list").asText()).collect {
          case r if Option(r.get("content")).forall(_.toString.toInt == 0) =>
            (r.get("manifest_path").toString,
              Option(r.getSchema.getField("partition_spec_id"))
                .flatMap(_ => Option(r.get("partition_spec_id")))
                .map(_.toString.toInt)
                .getOrElse(if (nSpecs <= 1) defaultSpecId else -1))
        }
      else snap.path("manifests").elements().asScala.map(p =>
        (p.asText(), if (nSpecs <= 1) defaultSpecId else -1)).toSeq

    def opt(r: org.apache.avro.generic.GenericRecord, n: String): Option[AnyRef] =
      Option(r.getSchema.getField(n)).flatMap(_ => Option(r.get(n)))
    def kvMap(df: org.apache.avro.generic.GenericRecord, name: String): Map[Int, AnyRef] =
      opt(df, name).map { v =>
        v.asInstanceOf[java.util.List[_]].asScala.map { e =>
          val r = e.asInstanceOf[org.apache.avro.generic.GenericRecord]
          r.get("key").toString.toInt -> r.get("value")
        }.toMap
      }.getOrElse(Map.empty)
    def bytesOf(v: AnyRef): Array[Byte] = v match {
      case b: java.nio.ByteBuffer =>
        val c = b.duplicate(); val a = new Array[Byte](c.remaining()); c.get(a); a
      case a: Array[Byte] => a
      case other => throw new IllegalArgumentException(s"unexpected bounds value $other")
    }

    val rows = dataManifests.flatMap { case (mp, mSpecId) =>
      val derivable = mSpecId == defaultSpecId
      avroRecords(mp).flatMap { entry =>
        val status = opt(entry, "status").map(_.toString.toInt).getOrElse(1)
        val df = entry.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
        if (status == 2 || content != 0) None
        else {
          val lower = kvMap(df, "lower_bounds")
          val upper = kvMap(df, "upper_bounds")
          val nulls = kvMap(df, "null_value_counts")
          val partRec = opt(df, "partition")
            .collect { case r: org.apache.avro.generic.GenericRecord => r }
          def partField(fieldName: String): Option[AnyRef] =
            partRec.flatMap(r => Option(r.getSchema.getField(fieldName))
              .flatMap(_ => Option(r.get(fieldName))))
          val cells = statFields.flatMap { case (id, name, dt) =>
            val mn = lower.get(id).map(b => IcebergBounds.decode(dt, bytesOf(b))).orNull
            val mx = upper.get(id).map(b => IcebergBounds.decode(dt, bytesOf(b))).orNull
            val (mn2, mx2) =
              if (mn == null && mx == null && derivable) {
                partFieldFor.get(name).flatMap { case (transform, fieldName) =>
                  partField(fieldName).map(derivedInterval(transform, dt, _))
                }.getOrElse((null, null))
              } else (mn, mx)
            Seq(mn2, mx2, nulls.get(id).map(v => Long.box(v.toString.toLong)).orNull) }
          val pbCells = bucketFields.map { case (_, pf, _) =>
            if (!derivable) null
            else partField(pf).map(v => Int.box(v.toString.toInt)).orNull
          }
          Some(org.apache.spark.sql.Row.fromSeq(
            localPath(df.get("file_path").toString) +:
              df.get("record_count").toString.toLong +:
              ((cells ++ pbCells) :+
                Long.box(scala.util.Try(
                  df.get("file_size_in_bytes").toString.toLong).getOrElse(0L)))))
        }
      }
    }
    val outSchema = StructType(
      StructField("file", StringType) :: StructField("rows", LongType) ::
        ((statFields.flatMap { case (_, n, dt) => Seq(
          StructField(s"min_$n", dt), StructField(s"max_$n", dt),
          StructField(s"nulls_$n", LongType)) } ++
          bucketFields.map { case (src, _, _) =>
            StructField(s"__pb_$src", IntegerType) }) :+
          StructField("__fsize", LongType)).toList)
    (spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava), outSchema),
      bucketModuli)
  }

  /** Live data-entry summaries of a snapshot, straight from the
    * manifests: one (partition-string, record_count, file_size) per live
    * data file, plus whether ANY delete manifest/entry is live. The
    * partition string renders the entry's own partition record as
    * `field=value/...` in record-schema order ("" when unpartitioned) —
    * spec evolution yields per-spec strings, exactly as the entries
    * carry them. */
  private def entrySummaries(table: String,
      snapshotId: Long): (Seq[(String, Long, Long)], Boolean) = {
    val meta = mapper.readTree(metadataFile(table))
    val resolvedId =
      if (snapshotId >= 0) snapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == resolvedId)
      .getOrElse(throw new IllegalArgumentException(s"snapshot $resolvedId not found"))
    val manifestInfos: Seq[(String, Int)] =
      if (snap.has("manifest-list"))
        avroRecords(snap.path("manifest-list").asText()).map { r =>
          (r.get("manifest_path").toString,
            Option(r.get("content")).map(_.toString.toInt).getOrElse(0))
        }
      else snap.path("manifests").elements().asScala.map(p => (p.asText(), 0)).toSeq
    var hasDeletes = manifestInfos.exists(_._2 != 0)
    def opt(r: org.apache.avro.generic.GenericRecord, n: String): Option[AnyRef] =
      Option(r.getSchema.getField(n)).flatMap(_ => Option(r.get(n)))
    val sums = manifestInfos.filter(_._2 == 0).flatMap { case (mp, _) =>
      avroRecords(mp).flatMap { entry =>
        val status = opt(entry, "status").map(_.toString.toInt).getOrElse(1)
        val df = entry.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
        if (content != 0) { hasDeletes = true; None }
        else if (status == 2) None
        else {
          val pstr = opt(df, "partition")
            .collect { case r: org.apache.avro.generic.GenericRecord => r }
            .map(r => r.getSchema.getFields.asScala.map(f =>
              s"${f.name}=${Option(r.get(f.name)).map(_.toString).getOrElse("null")}")
              .mkString("/"))
            .getOrElse("")
          Some((pstr, df.get("record_count").toString.toLong,
            df.get("file_size_in_bytes").toString.toLong))
        }
      }
    }
    (sums, hasDeletes)
  }

  /** Metadata-only EXACT row count: Σ record_count over the snapshot's
    * live data entries — O(manifests) driver work, zero data files
    * opened (at 100 TB: milliseconds instead of a cluster-wide counting
    * job). None when the snapshot carries ANY live delete manifest:
    * merge-on-read deletes hide rows the per-file counts still include,
    * so only a scan is exact then — callers fall back. */
  def countFromMetadata(spark: SparkSession, table: String,
      snapshotId: Long = -1L): Option[Long] = {
    val (sums, hasDeletes) = entrySummaries(table, snapshotId)
    if (hasDeletes) None else Some(sums.map(_._2).sum)
  }

  /** SHOW PARTITIONS analog, metadata-only: one row per distinct
    * partition value — (partition, n_files, n_rows, bytes). Refused when
    * live delete files exist (the physical per-file counts would
    * overstate live rows; compact first to materialize deletes). */
  def partitionSummary(spark: SparkSession, table: String,
      snapshotId: Long = -1L): DataFrame = {
    val (sums, hasDeletes) = entrySummaries(table, snapshotId)
    require(!hasDeletes,
      "partitionSummary with live delete files would overstate live rows — " +
        "compact first to materialize merge-on-read deletes")
    val rows = sums.groupBy(_._1).toSeq.map { case (p, fs) =>
      org.apache.spark.sql.Row(p, fs.size.toLong, fs.map(_._2).sum, fs.map(_._3).sum)
    }.sortBy(_.getString(0))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      StructType(
        StructField("partition", StringType) ::
          StructField("n_files", LongType) ::
          StructField("n_rows", LongType) ::
          StructField("bytes", LongType) :: Nil))
  }

  /** Stats-pruned scan: translate `pred` into a file-survives test over
    * [[fileStats]] (the shared [[graft.operators.DataSkipping]]
    * translator — conservative on every shape it can't reason about and
    * on files lacking bounds), scan ONLY surviving files through the full
    * merge-on-read path (position/equality deletes still apply), and
    * re-apply the exact predicate. Returns (dataframe, survivingFiles,
    * totalFiles). This is the manifest-stats prune every Iceberg engine
    * runs before planning a scan — at 100 TB the decision is O(files)
    * driver work that saves reading the non-matching terabytes. */
  def scanPruned(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, snapshotId: Long = -1L)
      : (DataFrame, Long, Long) = {
    // pin "current" ONCE: the stats frame, the predicate schema, and the
    // final scan must all see the same snapshot or a concurrent commit
    // between resolutions silently drops rewritten files from the result
    val meta = mapper.readTree(metadataFile(table))
    val resolvedId =
      if (snapshotId >= 0) snapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val snapNode = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == resolvedId)
      .getOrElse(throw new IllegalArgumentException(s"snapshot $resolvedId not found"))
    // current read → current schema, matching snapshotImpl/fileStatsFull
    // (see the round-20 note in fileStatsFull)
    val schema = StructType(fieldTriples(
      if (snapshotId >= 0) schemaNodeFor(meta, snapNode)
      else schemaNodeFor(meta, mapper.createObjectNode())).map {
      case (_, n, dt) => StructField(n, dt)
    })
    val (stats0, bucketModuli) =
      fileStatsFull(spark, table, resolvedId, currentSchema = snapshotId < 0)
    val statCols = stats0.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSet
    // sidecar bloom sketches join the stats frame as bloom_<col> columns
    // (opt-in property; missing sketch = null = conservative keep) — the
    // =/IN tier for hash layouts whose [min,max] spans the domain
    val bloomColNames = tableProperties(spark, table).get("graft.bloom.columns")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .filter(schema.fieldNames.contains)
    val (stats, bloomSet) =
      if (bloomColNames.isEmpty) (stats0, Set.empty[String])
      else {
        val side = bloomSidecars(table)
        if (side.isEmpty) (stats0, Set.empty[String])
        else {
          def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
          val normSide = side.map { case (k, v) => norm(k) -> v }
          val added = bloomColNames.foldLeft(stats0) { (df, c) =>
            val look = org.apache.spark.sql.functions.udf((f: String) =>
              normSide.get(norm(f)).flatMap(_.get(c)).orNull)
            df.withColumn(s"bloom_$c",
              look(org.apache.spark.sql.functions.col("file")))
          }
          (added, bloomColNames.toSet)
        }
      }
    // analyzed plan over an empty same-schema frame: same move as the
    // Delta twin — optimization could fold/push the predicate out of
    // Filter shape (e.g. into a MOR join side), losing the prune
    val cond = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .where(pred).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    val survives = cond.map(
      graft.operators.DataSkipping.fileSurvives(_, statCols, bloomSet))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // bucket[n] partition-predicate projection rides as an extra conjunct:
    // min/max intervals can't express a bucket, but an equality/IN probe
    // CAN be hashed with the writer's transform and compared to each
    // file's partition ordinal
    val bucketKeep = cond.map(bucketProjection(_, bucketModuli))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val total = stats.count()
    val keep = stats.where(survives && bucketKeep)
      .select("file").collect().map(_.getString(0)).toSet
    val df = snapshotImpl(spark, table, resolvedId, lineage = false,
      keepPaths = Some(keep), currentSchema = snapshotId < 0).where(pred)
    (df, keep.size.toLong, total)
  }

  /** Partition-predicate projection for `bucket[n]` transforms: a
    * top-level equality/IN conjunct on a bucket-partitioned source column
    * keeps only files whose partition bucket ordinal equals the probe
    * value's bucket under the writer's Murmur3 transform — the spec FIXES
    * that hash ([[IcebergTransforms.murmur3]]), so the projection is
    * valid for tables written by any conforming engine. Only top-level
    * AND legs are projected; every other shape — and any file whose
    * `__pb_` ordinal is null (different-spec entry, missing partition
    * record) — keeps the file, conservative like
    * [[graft.operators.DataSkipping.fileSurvives]]. This is the one
    * transform [[fileStats]]' derived intervals cannot cover: a bucket
    * ordinal maps to no [lo, hi] source range, so without projection an
    * external bucket-partitioned table with stripped bounds full-scans
    * under point lookups. */
  private def bucketProjection(pred: org.apache.spark.sql.catalyst.expressions.Expression,
      moduli: Map[String, Int]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, In, Literal}
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    if (moduli.isEmpty) return lit(true)
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // the probe value's bucket, hashed exactly as the writer hashed the
    // column (ints widen to the 8-byte long form; dates hash epoch days;
    // strings hash UTF-8) — None for shapes/types outside the projection
    def bucketOf(name: String, v: Any, dt: DataType): Option[Int] = {
      val h = (dt, v) match {
        case (_, null) => None
        case (IntegerType, i: Int) => Some(IcebergTransforms.hashLong(i.toLong))
        case (LongType, l: Long) => Some(IcebergTransforms.hashLong(l))
        case (DateType, d: Int) => Some(IcebergTransforms.hashLong(d.toLong))
        case (StringType, s) => Some(IcebergTransforms.hashString(s.toString))
        case _ => None
      }
      h.map(IcebergTransforms.bucketValue(_, moduli(name)))
    }
    def eqKeep(name: String, v: Any, dt: DataType): org.apache.spark.sql.Column =
      bucketOf(name, v, dt)
        .map(b => coalesce(col(s"__pb_$name") === lit(b), lit(true)))
        .getOrElse(lit(true))
    val legs = conjuncts(pred).map {
      case EqualTo(a: AttributeReference, Literal(v, dt)) if moduli.contains(a.name) =>
        eqKeep(a.name, v, dt)
      case EqualTo(Literal(v, dt), a: AttributeReference) if moduli.contains(a.name) =>
        eqKeep(a.name, v, dt)
      case In(a: AttributeReference, vs) if moduli.contains(a.name) &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val bs = vs.map { case Literal(v, dt) => bucketOf(a.name, v, dt) }
        if (bs.exists(_.isEmpty)) lit(true)
        else coalesce(
          col(s"__pb_${a.name}").isin(bs.flatten.distinct.map(Int.box): _*), lit(true))
      case _ => lit(true)
    }
    legs.reduce(_ && _)
  }

  /** CHANGELOG between two snapshots — the read-side twin of
    * [[addsBetween]] that also reports DELETES: the table's columns plus
    * `_change_type` ('insert' | 'delete'). Works for ANY operation mix in
    * the range (append, delete, overwrite/upsert, compaction), where
    * adds-only reading refuses.
    *
    * File-level diff, so cost scales with what CHANGED, not table size:
    *   - files only in `to`  → their live rows are inserts (one scan of
    *     just those files);
    *   - files only in `from` → their live-at-`from` rows are deletes;
    *   - files in BOTH contribute only when the snapshots' delete-file
    *     sets differ (new position/equality deletes): live-at-`from`
    *     minus live-at-`to` via one (file, pos) anti join, restricted to
    *     the common files. Append-only ranges skip this leg entirely.
    *
    * Rewrite-style commits (compaction) report their rows as delete +
    * insert pairs — row-identity net-out across rewrites needs content
    * keys the format doesn't carry per row (same caveat as Iceberg's own
    * changelog scan). `fromSnapshotId = 0` = since the beginning (all
    * rows at `to` are inserts). */
  def changesBetween(spark: SparkSession, table: String, fromSnapshotId: Long,
      toSnapshotId: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val meta = mapper.readTree(metadataFile(table))
    val order = commitOrder(meta)
    val to =
      if (toSnapshotId >= 0) toSnapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val toPos = order.indexOf(to)
    require(toPos >= 0, s"snapshot $to not found (commit order: ${order.mkString(",")})")
    def tag(df: DataFrame, t: String): DataFrame = df.withColumn("_change_type", lit(t))
    if (fromSnapshotId == 0L)
      return tag(snapshotImpl(spark, table, to, lineage = false), "insert")
    val fromPos = order.indexOf(fromSnapshotId)
    require(fromPos >= 0,
      s"snapshot $fromSnapshotId not found (commit order: ${order.mkString(",")})")
    require(fromPos <= toPos,
      s"snapshot $fromSnapshotId is after $to in commit order — empty/negative range")

    val (fromData, fromDel) = fileSets(meta, fromSnapshotId)
    val (toData, toDel) = fileSets(meta, to)
    val addedFiles = toData -- fromData
    val removedFiles = fromData -- toData
    val common = fromData.intersect(toData)

    val legs = Seq.newBuilder[DataFrame]
    if (addedFiles.nonEmpty)
      legs += tag(snapshotImpl(spark, table, to, lineage = false,
        keepPaths = Some(addedFiles)), "insert")
    if (removedFiles.nonEmpty)
      legs += tag(snapshotImpl(spark, table, fromSnapshotId, lineage = false,
        keepPaths = Some(removedFiles)), "delete")
    if (common.nonEmpty && fromDel != toDel) {
      val before = snapshotImpl(spark, table, fromSnapshotId, lineage = true,
        keepPaths = Some(common))
      val after = snapshotImpl(spark, table, to, lineage = true,
        keepPaths = Some(common))
      legs += tag(
        before.join(after.select(col("_file"), col("_pos")), Seq("_file", "_pos"), "left_anti")
          .drop("_file", "_pos"), "delete")
    }
    legs.result() match {
      case Seq() => tag(snapshotImpl(spark, table, to, lineage = false), "insert").limit(0)
      // unionByName(allowMissing): legs read at different snapshots may
      // resolve different schema versions (add-column evolution in range);
      // pre-evolution delete rows null-fill the new columns
      case ls => ls.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  private def snapshotImpl(spark: SparkSession, table: String, snapshotId: Long,
      lineage: Boolean, prune: Option[Map[String, Any] => Boolean] = None,
      addedIn: Option[Long => Boolean] = None,
      keepPaths: Option[String => Boolean] = None,
      currentSchema: Boolean = false): DataFrame = {
    val meta = mapper.readTree(metadataFile(table))
    val formatVersion = meta.path("format-version").asInt(1)
    require(formatVersion <= 2, s"unsupported Iceberg format-version $formatVersion")

    val allSnapshots = meta.path("snapshots").elements().asScala.toSeq
    require(allSnapshots.nonEmpty, s"Iceberg table has no snapshots: $table")
    val resolvedId =
      if (snapshotId >= 0) snapshotId else meta.path("current-snapshot-id").asLong(-1L)
    val targetSnap = allSnapshots.find(_.path("snapshot-id").asLong(-2L) == resolvedId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $resolvedId not found (have ${allSnapshots.map(_.path("snapshot-id").asLong(0)).mkString(",")})"))

    // schema: v2 `schemas` + current-schema-id; v1 inline `schema`. A
    // CURRENT read (-1) always uses the CURRENT schema — rename/drop are
    // metadata-only commits that add no snapshot, so the head snapshot may
    // still cite the pre-evolution schema-id. An explicitly TIME-TRAVELED
    // snapshot resolves against ITS recorded schema-id (the spec embeds
    // the id per snapshot so evolution doesn't rewrite history);
    // snapshots without one — or ids the chain no longer carries — fall
    // back to the current schema. `currentSchema` lets a current-intent
    // caller (scanPruned) PIN the snapshot id against concurrent commits
    // while still resolving the CURRENT schema, so pruned and unpruned
    // current reads agree after a metadata-only evolution (round 20).
    val schemaNode =
      if (snapshotId >= 0 && !currentSchema) schemaNodeFor(meta, targetSnap)
      else schemaNodeFor(meta, mapper.createObjectNode())
    // carry the Iceberg field ids: when the data files were written by a
    // real Iceberg engine their parquet columns have matching ids, and
    // id-based resolution survives column renames that name matching
    // can't (the spec's correct resolution rule)
    val schema = StructType(schemaNode.path("fields").elements().asScala.map { f =>
      val md = new MetadataBuilder()
        .putLong("parquet.field.id", f.path("id").asLong(-1L)).build()
      StructField(f.path("name").asText(),
        fieldType(f.path("type"), f.path("name").asText()),
        nullable = !f.path("required").asBoolean(false), metadata = md)
    }.toSeq)

    val snap = targetSnap

    // manifest list (standard) or inline v1 `manifests` fallback; v2 splits
    // manifests into data (content 0) and delete (content 1) manifests
    val (dataManifests: Seq[String], deleteManifests: Seq[String]) =
      if (snap.has("manifest-list")) {
        val rows = avroRecords(snap.path("manifest-list").asText()).map { r =>
          val content = Option(r.get("content")).map(_.toString.toInt).getOrElse(0)
          (r.get("manifest_path").toString, content)
        }
        (rows.collect { case (p, 0) => p }, rows.collect { case (p, c) if c != 0 => p })
      } else (snap.path("manifests").elements().asScala.map(_.asText()).toSeq, Seq.empty[String])

    case class MEntry(path: String, content: Int, seq: Option[Long], equalityIds: Seq[Int],
        partition: Map[String, Any] = Map.empty, size: Long = 0L)

    // GenericData.Record.get THROWS on fields absent from the writer
    // schema (older/minimal manifests legitimately omit optional ones)
    def opt(r: org.apache.avro.generic.GenericRecord, name: String): Option[AnyRef] =
      Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))

    def liveEntries(mp: String, expectData: Boolean): Seq[MEntry] =
      avroRecords(mp).flatMap { entry =>
        val status = opt(entry, "status").map(_.toString.toInt).getOrElse(1)
        if (status == 2) None // DELETED entry: not part of this snapshot
        else {
          val df = entry.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
          if (expectData)
            require(content == 0,
              "Iceberg delete file in a data manifest — malformed table; refusing")
          else require(content == 1 || content == 2,
            s"unexpected content=$content entry in a delete manifest; refusing")
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("parquet"), s"unsupported Iceberg file format: $fmt")
          // partition record values (typed avro → scala) — used for
          // manifest-level pruning AND identity-value injection below
          val partValues: Map[String, Any] =
            if (!expectData) Map.empty
            else opt(df, "partition")
              .collect { case r: org.apache.avro.generic.GenericRecord =>
                r.getSchema.getFields.asScala.map { f =>
                  f.name() -> (r.get(f.name()) match {
                    case u: org.apache.avro.util.Utf8 => u.toString
                    case v => v
                  })
                }.toMap
              }.getOrElse(Map.empty)
          val kept = prune match {
            case Some(keep) if expectData => keep(partValues)
            case _ => true
          }
          // incremental-range filter: by the entry's adding snapshot id
          // (delete files never filtered — they apply globally by path)
          val inRange = addedIn match {
            case Some(in) if expectData =>
              val sid = opt(entry, "snapshot_id").map(_.toString.toLong)
                .getOrElse(throw new IllegalArgumentException(
                  "manifest entry lacks snapshot_id (inherited ids) — incremental " +
                    "reads need explicit per-entry ids; refusing"))
              in(sid)
            case _ => true
          }
          val seq = opt(entry, "sequence_number").map(_.toString.toLong)
          val eqIds = opt(df, "equality_ids").toSeq.flatMap {
            case a: java.util.Collection[_] => a.asScala.map(_.toString.toInt).toSeq
            case _ => Seq.empty
          }
          val path = localPath(df.get("file_path").toString)
          // path-set restriction (changelog reads): data files only —
          // delete files always apply, extra ones anti-join to nothing
          val keptPath = !expectData || keepPaths.forall(_(path))
          if (kept && inRange && keptPath)
            Some(MEntry(path, content, seq, eqIds, partValues,
              opt(df, "file_size_in_bytes").map(_.toString.toLong).getOrElse(0L)))
          else None
        }
      }

    val dataEntries = dataManifests.flatMap(liveEntries(_, expectData = true))
    val deleteEntries = deleteManifests.flatMap(liveEntries(_, expectData = false))
    val liveFiles = dataEntries.map(_.path)
    val posDeleteFiles = deleteEntries.filter(_.content == 1).map(_.path)
    val eqDeletes = deleteEntries.filter(_.content == 2)

    import org.apache.spark.sql.functions._
    val outSchema =
      if (!lineage) schema
      else StructType(schema.fields.toSeq :+ StructField("_file", StringType) :+
        StructField("_pos", LongType))
    val outCols = outSchema.map(f => col(f.name))

    if (liveFiles.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else {
      // resolve columns by Iceberg field id when the files carry parquet
      // ids (a real engine's files do — id resolution survives column
      // renames that name matching can't); files without ids, e.g. our own
      // writer's, keep name resolution. One footer probe decides: a
      // table's data files share a writer lineage.
      val (useFieldIds, probeColumns) = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(liveFiles.head),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val fs = r.getFileMetaData.getSchema.getFields.asScala
          (fs.exists(_.getId != null), fs.map(_.getName).toSet)
        } finally r.close()
      }
      val readSchema =
        if (useFieldIds) { spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true"); schema }
        else StructType(schema.map(f => f.copy(metadata = Metadata.empty)))
      // merge-on-read: anti-join the scan against the (file_path, pos)
      // tuples. Both sides normalize to a bare decoded path (scheme and
      // authority stripped, percent-decoded, '+' protected — the DeltaRead
      // partition-injection idiom) so writer-vs-scan URI spelling
      // differences can't mask a delete.
      def norm(c: org.apache.spark.sql.Column) =
        url_decode(regexp_replace(
          regexp_replace(c, "^[a-zA-Z0-9+.-]+:(//)?", ""), "\\+", "%2B"))
      // scan built from MANIFEST-recorded (path, size) pairs when the
      // manifests carried exact sizes (the spec requires them; defensive
      // fallback keeps the listing path): zero filesystem calls at plan
      // time — no per-file driver stats, no distributed listing job past
      // 32 files (round-19 optimization, guide §6)
      val liveSized = dataEntries.map(e => (e.path, e.size))
      val scan0 =
        if (liveSized.forall(_._2 > 0))
          org.apache.spark.sql.graft.Bridge.parquetScanDf(spark, readSchema, liveSized)
        else spark.read.schema(readSchema).parquet(liveFiles: _*)
      val base0 = scan0
        .withColumn("_file", norm(col("_metadata.file_path")))
        .withColumn("_pos", col("_metadata.row_index"))
      // IDENTITY-PARTITION VALUE INJECTION (spec rule for migrated /
      // externally-written tables): a data file may legitimately OMIT an
      // identity-partitioned source column — the reader must produce its
      // value from the manifest's partition record. The footer probe
      // decides (one file; a table's data files share a writer lineage):
      // identity source columns absent from the probe get a per-file
      // broadcast-map coalesce; tables whose files carry all columns (ours)
      // pay nothing.
      val base = {
        val specId = meta.path("default-spec-id").asInt(0)
        val colById = schemaNode.path("fields").elements().asScala
          .map(f => f.path("id").asInt(-1) -> f.path("name").asText()).toMap
        // (spec partition-field name → schema column name) for identity fields
        val identity: Seq[(String, String)] = meta.path("partition-specs").elements().asScala
          .find(_.path("spec-id").asInt(-1) == specId).toSeq
          .flatMap(_.path("fields").elements().asScala)
          .filter(_.path("transform").asText() == "identity")
          .flatMap(f => colById.get(f.path("source-id").asInt(-1))
            .map(cn => f.path("name").asText() -> cn))
        val missing = identity.filter { case (_, cn) => !probeColumns.contains(cn) }
        if (missing.isEmpty) base0
        else {
          def castFromString(c: org.apache.spark.sql.Column, dt: DataType) = dt match {
            case DateType => date_from_unix_date(c.cast("int"))
            case TimestampType => timestamp_micros(c.cast("long"))
            case TimestampNTZType => timestamp_micros(c.cast("long")).cast(TimestampNTZType)
            case other => c.cast(other)
          }
          import spark.implicits._
          val rows = dataEntries.map { e =>
            (new org.apache.hadoop.fs.Path(e.path).toUri.getPath,
              missing.map { case (pf, _) =>
                e.partition.get(pf).map(String.valueOf).orNull
              })
          }
          val pm = rows.toDF("_file", "__pv")
            .select(col("_file") +: missing.zipWithIndex.map { case ((_, cn), i) =>
              col("__pv").getItem(i).as(s"__pv_$cn")
            }: _*)
          val joined = base0.join(broadcast(pm), Seq("_file"), "left")
          missing.foldLeft(joined) { case (df, (_, cn)) =>
            val dt = schema(cn).dataType
            df.withColumn(cn, coalesce(df(cn), castFromString(df(s"__pv_$cn"), dt)))
          }.drop(missing.map { case (_, cn) => s"__pv_$cn" }: _*)
        }
      }
      val undeleted =
        if (posDeleteFiles.isEmpty) base
        else {
          val dels = spark.read.parquet(posDeleteFiles: _*)
            .select(norm(col("file_path")).as("_file"), col("pos").as("_pos"))
          base.join(dels, Seq("_file", "_pos"), "left_anti")
        }

      // equality deletes (content=2): a delete row removes every row of an
      // OLDER data file (data sequence number strictly below the delete's)
      // whose equality columns match, null-safely — the CDC/upsert shape.
      // One union of the delete files + one anti join; per-file sequence
      // numbers attach via a broadcast map like partition values.
      val afterEq =
        if (eqDeletes.isEmpty) undeleted
        else {
          val idToName = schema.fields
            .map(f => f.metadata.getLong("parquet.field.id") -> f.name).toMap
          val idSets = eqDeletes.map(_.equalityIds.toSet).distinct
          require(idSets.size == 1 && idSets.head.nonEmpty,
            s"equality deletes with heterogeneous or missing equality_ids " +
              s"(${idSets.mkString(";")}) — outside this reader's subset; refusing")
          val keyCols = idSets.head.toSeq.sorted.map(id =>
            idToName.getOrElse(id.toLong, throw new IllegalArgumentException(
              s"equality_ids references unknown field id $id")))
          require(dataEntries.forall(_.seq.isDefined) && eqDeletes.forall(_.seq.isDefined),
            "inherited (null) sequence numbers — equality-delete scoping needs " +
              "explicit per-entry sequence numbers; refusing")
          import spark.implicits._
          val seqMap = dataEntries
            .map(e => (new org.apache.hadoop.fs.Path(e.path).toUri.getPath, e.seq.get))
            .toDF("_file", "__seq")
          val dels = eqDeletes.map { e =>
            spark.read.parquet(e.path).select(keyCols.map(col): _*)
              .withColumn("__dseq", lit(e.seq.get))
          }.reduce(_ unionByName _)
          val withSeq = undeleted.join(broadcast(seqMap), Seq("_file"), "left")
          val cond = keyCols.map(c => withSeq(c) <=> dels(c)).reduce(_ && _) &&
            withSeq("__seq") < dels("__dseq")
          withSeq.join(dels, cond, "left_anti")
        }
      afterEq.select(outCols: _*)
    }
  }
}
