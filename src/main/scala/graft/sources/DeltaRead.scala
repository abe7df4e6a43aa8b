package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Reader for EXTERNAL Delta Lake tables — the open `_delta_log` format
  * (Delta Lake PROTOCOL.md; Armbrust et al., VLDB 2020 — see PAPERS.md).
  * The engine's own catalog (graft.ingest.Catalog) is Delta-STYLE by
  * design; this reads actual Delta tables written by other engines, the
  * first interop ask of a lakehouse user.
  *
  * Supported: reader protocol version 1 (plain parquet data files),
  * partitioned tables (partition values injected from the log — Delta data
  * files do NOT contain partition columns), checkpoint parquet files +
  * `_last_checkpoint` pointer, time travel to any log version. Refused
  * loudly rather than misread: minReaderVersion > 1 (column mapping,
  * deletion vectors) and non-parquet formats.
  *
  * Scale notes: log replay reads O(commits-since-checkpoint) small JSON
  * files plus one checkpoint parquet — bounded by Delta's own checkpoint
  * cadence, independent of data size. The file list is O(live files) on
  * the driver (same contract as data skipping / Delta's own kernel). Data
  * is read in ONE parquet scan; partition values attach via a broadcast
  * map on `input_file_name()`, so partition-predicate pushdown happens in
  * the engine (filter the broadcast side / the injected column) without
  * per-partition scans. */
object DeltaRead {

  /** One live data file in a snapshot: absolute path + log-carried
    * partition values (column name → string value, null for NULL) + the
    * log-carried size/modificationTime (0 when the source action omitted
    * them — used when re-emitting checkpoint add rows, where the Delta spec
    * makes them required) + the file's deletion vector, if any. */
  case class LiveFile(path: String, partitionValues: Map[String, String],
      size: Long = 0L, modificationTime: Long = 0L,
      dv: Option[DeletionVectors.Descriptor] = None,
      stats: Option[String] = None)

  case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[LiveFile],
      columnMappingMode: String = "none",
      minReaderVersion: Int = 1,
      readerFeatures: Set[String] = Set.empty,
      metaId: String = "",
      configuration: Map[String, String] = Map.empty) {
    /** Physical (in-file / in-log) name of a logical schema column — the
      * identity unless `delta.columnMapping.mode = name` renamed it. */
    def physicalName(logical: String): String =
      if (columnMappingMode != "name") logical
      else schema.find(_.name == logical)
        .filter(_.metadata.contains("delta.columnMapping.physicalName"))
        .map(_.metadata.getString("delta.columnMapping.physicalName"))
        .getOrElse(logical)
  }

  private val actionsDdl =
    """add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>, size: BIGINT,
                  modificationTime: BIGINT, dataChange: BOOLEAN, stats: STRING,
                  deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING,
                                         offset: INT, sizeInBytes: INT, cardinality: BIGINT>>,
       remove STRUCT<path: STRING, dataChange: BOOLEAN>,
       metaData STRUCT<id: STRING, schemaString: STRING,
                       partitionColumns: ARRAY<STRING>,
                       format: STRUCT<provider: STRING>,
                       configuration: MAP<STRING, STRING>>,
       protocol STRUCT<minReaderVersion: INT, readerFeatures: ARRAY<STRING>>"""

  private val dvDdl =
    "struct<storageType:string,pathOrInlineDv:string,offset:int,sizeInBytes:int,cardinality:bigint>"

  /** Parse a nullable deletionVector struct column at row index `i`. */
  private def parseDv(r: org.apache.spark.sql.Row, i: Int): Option[DeletionVectors.Descriptor] =
    if (r.isNullAt(i)) None
    else {
      val d = r.getStruct(i)
      Some(DeletionVectors.Descriptor(d.getString(0), d.getString(1),
        if (d.isNullAt(2)) None else Some(d.getInt(2)), d.getInt(3),
        if (d.isNullAt(4)) 0L else d.getLong(4)))
    }

  private def parseDvNode(
      n: com.fasterxml.jackson.databind.JsonNode): Option[DeletionVectors.Descriptor] =
    if (n == null || n.isMissingNode || n.isNull) None
    else Some(DeletionVectors.Descriptor(
      n.path("storageType").asText(), n.path("pathOrInlineDv").asText(),
      if (n.has("offset") && !n.path("offset").isNull) Some(n.path("offset").asInt())
      else None,
      n.path("sizeInBytes").asInt(0), n.path("cardinality").asLong(0L)))

  /** One commit's action objects, parsed ON THE DRIVER (Jackson over the
    * hadoop stream). A commit JSON is a handful of KB of metadata;
    * replaying a long log through per-commit `spark.read.json` JOBS costs
    * ~40 ms of scheduler floor EACH — O(commits) Spark jobs for zero
    * distributed work. Driver parsing makes log replay a pure metadata
    * fold, the shape every production Delta reader uses. */
  private def commitActionNodes(hfs: org.apache.hadoop.fs.FileSystem,
      table: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = new org.apache.hadoop.fs.Path(s"${logPath(table)}/${f"$v%020d"}.json")
    val in = hfs.open(p)
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).map(om.readTree).toList
    } finally in.close()
  }

  private def nodeStr(n: com.fasterxml.jackson.databind.JsonNode, f: String): String = {
    val v = n.path(f)
    if (v.isMissingNode || v.isNull) null else v.asText()
  }

  private def logPath(table: String) = s"${table.stripSuffix("/")}/_delta_log"

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One listing of a `_delta_log` on file system `fs`: each commit file
    * as (version, status) and each checkpoint version, both ascending. */
  private[sources] case class LogListing(fs: org.apache.hadoop.fs.FileSystem,
      commits: Seq[(Long, org.apache.hadoop.fs.FileStatus)], checkpoints: Seq[Long]) {
    def versions: Seq[Long] = commits.map(_._1)
  }

  /** The table's log listing, None when it has no `_delta_log` — the one
    * place commit and checkpoint file names are recognised. */
  private[sources] def listLog(spark: SparkSession, table: String): Option[LogListing] = {
    val dir = new org.apache.hadoop.fs.Path(logPath(table))
    val hfs = fs(spark, dir)
    if (!hfs.exists(dir)) None
    else {
      val all = hfs.listStatus(dir).toSeq
      def versioned(n: String) = n.take(20).forall(_.isDigit)
      Some(LogListing(hfs,
        all.collect { case st if st.getPath.getName.length == 25 &&
            st.getPath.getName.endsWith(".json") && versioned(st.getPath.getName) =>
          st.getPath.getName.take(20).toLong -> st
        }.sortBy(_._1),
        all.map(_.getPath.getName).collect {
          case n if n.endsWith(".checkpoint.parquet") && versioned(n) => n.take(20).toLong
        }.sorted))
    }
  }

  private def existingLog(spark: SparkSession, table: String): LogListing = {
    val log = listLog(spark, table)
    require(log.isDefined, s"not a Delta table (no _delta_log): $table")
    log.get
  }

  /** Percent-only decode (RFC 3986): log paths encode special chars as %XX
    * but a literal '+' is just '+' — URLDecoder alone would corrupt it to a
    * space (form-urlencoded rules), so protect it first. */
  private[sources] def pctDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Absolute data-file path: log paths are table-root-relative and
    * percent-encoded; already-absolute URIs pass through. */
  private def resolve(table: String, p: String): String = {
    val decoded = pctDecode(p)
    if (decoded.contains("://") || decoded.startsWith("/")) decoded
    else s"${table.stripSuffix("/")}/$decoded"
  }

  /** Log replay to `version` (-1 = latest): checkpoint state (if one at or
    * before the target exists) + JSON commits after it, in version order. */
  def snapshotInfo(spark: SparkSession, table: String, version: Long = -1L): Snapshot = {
    import scala.jdk.CollectionConverters._
    val log = existingLog(spark, table)
    val commitVersions = log.versions
    require(commitVersions.nonEmpty, s"empty _delta_log in $table")
    val latest = commitVersions.max
    val target = if (version < 0) latest else version
    require(commitVersions.contains(target),
      s"version $target not in log (have ${commitVersions.min}..$latest)")

    val fromCheckpoint = log.checkpoints.filter(_ <= target).lastOption

    // A retention-cleaned log may have dropped early JSON commits; without a
    // checkpoint at/after the gap the replay would silently MISS adds. Every
    // commit in (checkpoint, target] must be present, and with no checkpoint
    // the commits must start at version 0.
    val replayFrom = fromCheckpoint.getOrElse(-1L)
    val needed = (replayFrom + 1) to target
    val present = commitVersions.toSet
    val missing = needed.filterNot(present)
    require(missing.isEmpty,
      s"cannot reconstruct version $target: log versions ${missing.mkString(",")} are " +
        s"missing and no checkpoint covers them (log retention cleaned them?)")

    // Mutable replay state, keyed by resolved path (driver-side, O(files)).
    val live = scala.collection.mutable.LinkedHashMap[String, LiveFile]()
    var schemaString: String = null
    var partitionCols: Seq[String] = Seq.empty
    var minReader = 1
    var readerFeatures = Set.empty[String]
    var configuration: Map[String, String] = Map.empty
    var metaId: String = ""

    def applyMeta(id: String, schemaStr: String, parts: Seq[String], provider: String,
        conf: Map[String, String]): Unit = {
      if (provider != null)
        require(provider == "parquet", s"unsupported Delta data format: $provider")
      if (id != null && id.nonEmpty) metaId = id
      if (schemaStr != null) { schemaString = schemaStr; partitionCols = parts; configuration = conf }
    }

    fromCheckpoint.foreach { cv =>
      val cp = spark.read.parquet(s"${logPath(table)}/${f"$cv%020d"}.checkpoint.parquet")
      val cols = cp.columns.toSet
      def structFields(name: String): Set[String] = cp.schema.collectFirst {
        case f if f.name == name => f.dataType match {
          case s: StructType => s.fieldNames.toSet
          case _ => Set.empty[String]
        }
      }.getOrElse(Set.empty)
      if (cols.contains("protocol")) {
        val pFields = structFields("protocol")
        val feat =
          if (pFields.contains("readerFeatures")) col("protocol.readerFeatures")
          else lit(null).cast("array<string>")
        cp.where(col("protocol").isNotNull)
          .select(col("protocol.minReaderVersion"), feat)
          .collect().foreach { r =>
            if (!r.isNullAt(0)) minReader = math.max(minReader, r.getInt(0))
            if (!r.isNullAt(1)) readerFeatures ++= r.getSeq[String](1)
          }
      }
      if (cols.contains("metaData")) {
        val mFields = structFields("metaData")
        val conf =
          if (mFields.contains("configuration")) col("metaData.configuration")
          else lit(null).cast("map<string,string>")
        val mid =
          if (mFields.contains("id")) col("metaData.id") else lit(null).cast("string")
        cp.where(col("metaData").isNotNull)
          .select(col("metaData.schemaString"), col("metaData.partitionColumns"),
            col("metaData.format.provider"), conf, mid)
          .collect().foreach { r =>
            applyMeta(if (r.isNullAt(4)) null else r.getString(4), r.getString(0),
              Option(r.getSeq[String](1)).map(_.toSeq).getOrElse(Seq.empty), r.getString(2),
              Option(r.getMap[String, String](3)).map(_.toMap).getOrElse(Map.empty))
          }
      }
      // size/modificationTime are spec-required in checkpoints but tolerate
      // their absence (older graft-written checkpoints omitted them)
      val addFields = structFields("add")
      def optLong(n: String) =
        if (addFields.contains(n)) coalesce(col(s"add.$n"), lit(0L)) else lit(0L)
      val dvCol =
        if (addFields.contains("deletionVector")) col("add.deletionVector")
        else lit(null).cast(dvDdl)
      val statsCol =
        if (addFields.contains("stats")) col("add.stats") else lit(null).cast("string")
      cp.where(col("add").isNotNull)
        .select(col("add.path"), col("add.partitionValues"),
          optLong("size"), optLong("modificationTime"), dvCol, statsCol)
        .collect().foreach { r =>
          val p = resolve(table, r.getString(0))
          live(p) = LiveFile(p,
            Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty),
            r.getLong(2), r.getLong(3), parseDv(r, 4),
            if (r.isNullAt(5)) None else Some(r.getString(5)))
        }
    }

    val pending = commitVersions.filter(v => v > fromCheckpoint.getOrElse(-1L) && v <= target)
    pending.foreach { v =>
      val actions = commitActionNodes(log.fs, table, v)
      actions.foreach { a =>
        val pr = a.path("protocol")
        if (!pr.isMissingNode && !pr.isNull) {
          minReader = math.max(minReader, pr.path("minReaderVersion").asInt(1))
          if (pr.has("readerFeatures") && !pr.path("readerFeatures").isNull)
            readerFeatures ++= pr.path("readerFeatures").elements().asScala.map(_.asText())
        }
        val md = a.path("metaData")
        if (!md.isMissingNode && !md.isNull) {
          val provider = {
            val p = md.path("format").path("provider")
            if (p.isMissingNode || p.isNull) null else p.asText()
          }
          if (md.has("schemaString") || provider != null)
            applyMeta(nodeStr(md, "id"), nodeStr(md, "schemaString"),
              if (md.has("partitionColumns") && !md.path("partitionColumns").isNull)
                md.path("partitionColumns").elements().asScala.map(_.asText()).toSeq
              else Seq.empty,
              provider,
              if (md.has("configuration") && !md.path("configuration").isNull)
                md.path("configuration").fields().asScala
                  .map(e => e.getKey -> e.getValue.asText()).toMap
              else Map.empty)
        }
      }
      // removes first, then adds: a commit that rewrites a file (remove+add
      // of the same path) must leave it live
      actions.foreach { a =>
        val rm = a.path("remove")
        if (!rm.isMissingNode && !rm.isNull && rm.has("path"))
          live.remove(resolve(table, rm.path("path").asText()))
      }
      actions.foreach { a =>
        val ad = a.path("add")
        if (!ad.isMissingNode && !ad.isNull && ad.has("path")) {
          val p = resolve(table, ad.path("path").asText())
          val pv: Map[String, String] =
            if (ad.has("partitionValues") && !ad.path("partitionValues").isNull)
              ad.path("partitionValues").fields().asScala
                .map(e => e.getKey ->
                  (if (e.getValue.isNull) null else e.getValue.asText())).toMap
            else Map.empty
          live(p) = LiveFile(p, pv,
            ad.path("size").asLong(0L), ad.path("modificationTime").asLong(0L),
            parseDvNode(ad.path("deletionVector")),
            Option(nodeStr(ad, "stats")))
        }
      }
    }

    // Protocol gate: v1 plain; v2 = column mapping (name mode supported
    // below); v3+ lists explicit readerFeatures — read only when every
    // named feature is one this reader implements.
    val supportedFeatures = Set("columnMapping", "deletionVectors")
    if (minReader >= 3) {
      require(readerFeatures.nonEmpty,
        s"Delta reader protocol $minReader lists no readerFeatures (spec requires " +
          "them at v3) — malformed; refusing rather than misreading")
      val unknown = readerFeatures -- supportedFeatures
      require(unknown.isEmpty,
        s"unsupported Delta reader features ${unknown.mkString(",")} " +
          "(protocol v3) — refusing rather than misreading")
    }
    val mode = configuration.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "none" || mode == "name",
      s"unsupported delta.columnMapping.mode '$mode' — only 'name' (physical-name " +
        "rename) and 'none' are implemented; 'id' needs parquet field-id matching")

    require(schemaString != null, s"no metaData action found in log of $table")
    Snapshot(target, DataType.fromJson(schemaString).asInstanceOf[StructType],
      partitionCols, live.values.toSeq, mode, minReader, readerFeatures,
      metaId, configuration)
  }

  /** Latest recorded `txn` version per appId at the head of the log —
    * Delta's idempotent-writer high-water marks (checkpoint txn rows plus
    * commits after it). A streaming sink consults this to skip replayed
    * batches. */
  def txnVersions(spark: SparkSession, table: String): Map[String, Long] = {
    val log = listLog(spark, table).getOrElse(return Map.empty)
    val commitVersions = log.versions
    if (commitVersions.isEmpty) return Map.empty
    val latest = commitVersions.max
    val fromCheckpoint = log.checkpoints.filter(_ <= latest).lastOption
    val marks = scala.collection.mutable.HashMap[String, Long]()
    fromCheckpoint.foreach { cv =>
      val cp = spark.read.parquet(s"${logPath(table)}/${f"$cv%020d"}.checkpoint.parquet")
      if (cp.columns.contains("txn"))
        cp.where(col("txn").isNotNull).select(col("txn.appId"), col("txn.version"))
          .collect().foreach(r => marks(r.getString(0)) = r.getLong(1))
    }
    commitVersions.filter(_ > fromCheckpoint.getOrElse(-1L)).foreach { v =>
      commitActionNodes(log.fs, table, v).foreach { a =>
        val t = a.path("txn")
        if (!t.isMissingNode && !t.isNull && t.has("appId")) {
          val app = t.path("appId").asText()
          marks(app) = math.max(marks.getOrElse(app, Long.MinValue),
            t.path("version").asLong(Long.MinValue))
        }
      }
    }
    marks.toMap
  }

  /** The Delta table as a DataFrame at `version` (-1 = latest). Partition
    * columns are injected from the log's partitionValues and cast to their
    * declared types; column order follows the table schema. Under
    * `delta.columnMapping.mode = name` the parquet files (and the log's
    * partitionValues keys) carry PHYSICAL column names — the scan reads
    * those and renames to the logical schema in the same projection.
    * Files carrying deletion vectors get their deleted positions
    * anti-joined away: blobs load driver-side (compressed-bitmap sized),
    * positions explode only inside a distributed flatMap. */
  def snapshot(spark: SparkSession, table: String, version: Long = -1L): DataFrame =
    snapshotImpl(spark, table, version, lineage = false)

  /** [[snapshot]] plus row lineage: `_file` (normalized data-file path)
    * and `_pos` (0-based row position in that file) — the tuple a
    * deletion vector marks. DVs already applied;
    * [[DeltaWrite.deleteWhere]] builds new DVs from this. */
  def snapshotWithLineage(spark: SparkSession, table: String, version: Long = -1L): DataFrame =
    snapshotImpl(spark, table, version, lineage = true)

  /** [[snapshotWithLineage]] restricted to the files whose persisted
    * stats can satisfy `pred` — the DML matching tier: a `DELETE/UPDATE …
    * WHERE` only OPENS files the predicate can touch, so the positional
    * delete of one day never scans the year. Pruning-only: a skipped
    * file can produce no matched positions by the stats' soundness, and
    * any failure — unresolvable predicate (subqueries, target aliases),
    * missing stats — falls back to the full lineage scan. Unlike
    * [[scanPruned]] the predicate is NOT applied to rows here; the
    * caller's own `.where` does that (its conditions may carry
    * subqueries the empty-frame resolution cannot see). */
  def lineagePruned(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): DataFrame = scala.util.Try {
    val snap = snapshotInfo(spark, table)
    val stats = statsFrame(spark, snap)
    val statCols = stats.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSet
    val bloomCols = stats.columns.collect {
      case c if c.startsWith("bloom_") => c.stripPrefix("bloom_") }.toSet
    val cond = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), snap.schema)
      .where(pred).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    cond match {
      case None => snapshotImpl(spark, table, -1L, lineage = true)
      case Some(c) =>
        val keep = stats
          .where(graft.operators.DataSkipping.fileSurvives(c, statCols, bloomCols))
          .select("file").collect().map(_.getString(0)).toSet
        assembleData(spark, table,
          snap.copy(files = snap.files.filter(f => keep(f.path))), lineage = true)
    }
  }.getOrElse(snapshotWithLineage(spark, table))

  /** Latest version whose commit is at or before `timestampMs` (TIMESTAMP
    * AS OF semantics, from the commit files' modification times — the
    * filesystem-table convention stock Delta uses absent in-commit
    * timestamps). Fails loudly for a timestamp before the table existed. */
  def versionAt(spark: SparkSession, table: String, timestampMs: Long): Long = {
    val stamped = existingLog(spark, table).commits
      .map { case (v, st) => (v, st.getModificationTime) }
    require(stamped.nonEmpty, s"empty _delta_log in $table")
    val eligible = stamped.filter(_._2 <= timestampMs)
    require(eligible.nonEmpty,
      s"no commit at or before $timestampMs (earliest is ${stamped.head._2}) — " +
        "the table did not exist yet")
    eligible.last._1
  }

  /** The table as of a wall-clock timestamp (ms since epoch). */
  def snapshotAt(spark: SparkSession, table: String, timestampMs: Long): DataFrame =
    snapshot(spark, table, versionAt(spark, table, timestampMs))

  /** Commit HISTORY (DESCRIBE HISTORY analog): one row per log version —
    * (version, timestamp_ms, operation, added_files, removed_files).
    * Operation is classified from the commit's action mix: `create`
    * (v0 protocol+metaData), `append` (adds only), `delete` (removes w/o
    * adds, or DV re-adds), `overwrite` (data removes + adds), `optimize`
    * (layout-only, every action dataChange=false), `metadata` (schema /
    * config swap only). Driver-side line parse, O(log size); commits
    * cleaned by retention are simply absent. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val log = existingLog(spark, table)
    val rows = log.commits.map { case (v, st) =>
      val actions = commitActionNodes(log.fs, table, v)
      def count(kind: String)(p: com.fasterxml.jackson.databind.JsonNode => Boolean): Long =
        actions.count(n => n.has(kind) && p(n.path(kind))).toLong
      val (adds, removes) = (count("add")(_ => true), count("remove")(_ => true))
      val dataAdds = count("add")(_.path("dataChange").asBoolean(true))
      val dataRemoves = count("remove")(_.path("dataChange").asBoolean(true))
      val dvAdds = count("add")(_.has("deletionVector"))
      val hasProtocol = actions.exists(_.has("protocol"))
      val op =
        if (v == 0L && hasProtocol) "create"
        else if (adds > 0 && dataRemoves == 0 && removes > 0) "optimize"
        else if (dvAdds > 0 && dataRemoves > 0 && adds == dvAdds) "delete"
        else if (dataRemoves > 0 && dataAdds > 0) "overwrite"
        else if (dataRemoves > 0) "delete"
        else if (adds > 0) "append"
        else "metadata"
      (v, st.getModificationTime, op, adds, removes)
    }
    import spark.implicits._
    rows.toDF("version", "timestamp_ms", "operation", "added_files", "removed_files")
  }

  /** SCHEMA history: one row per column-level change across the table's
    * lifetime — `create` rows for the initial schema, then
    * `add_column` / `drop_column` / `retype` diffs at every version whose
    * commit carries a metaData action with a changed schema. Name-keyed
    * (the Delta log identifies columns by name at protocol v1; a rename
    * surfaces as drop+add — Iceberg's field-id twin distinguishes them).
    * O(log files) driver metadata; no data touched. */
  def schemaHistory(spark: SparkSession, table: String): DataFrame = {
    val log = existingLog(spark, table)
    var prev: Option[Seq[(String, String)]] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, String)]
    log.versions.foreach { v =>
      val schemaStr = commitActionNodes(log.fs, table, v).filter(_.has("metaData"))
        .lastOption.map(_.path("metaData").path("schemaString").asText())
      schemaStr.foreach { s =>
        val cols = DataType.fromJson(s).asInstanceOf[StructType]
          .fields.toSeq.map(f => f.name -> f.dataType.simpleString)
        prev match {
          case None =>
            cols.foreach { case (n, t) => out += ((v, "create", n, null, t)) }
          case Some(old) =>
            val (om2, nm) = (old.toMap, cols.toMap)
            cols.collect { case (n, t) if !om2.contains(n) => out += ((v, "add_column", n, null, t)) }
            old.collect { case (n, t) if !nm.contains(n) => out += ((v, "drop_column", n, t, null)) }
            cols.collect { case (n, t) if om2.get(n).exists(_ != t) =>
              out += ((v, "retype", n, om2(n), t)) }
        }
        prev = Some(cols)
      }
    }
    import spark.implicits._
    out.toSeq.toDF("version", "change", "column", "old_type", "new_type")
  }

  /** Per-file column statistics of a snapshot, decoded from the add
    * actions' `stats` JSON (the Delta protocol's data-skipping stats:
    * numRecords / minValues / maxValues / nullCount): one row per live
    * file with `file`, `rows`, and `min_<col>` / `max_<col>` /
    * `nulls_<col>` per supported data column — NULL where a file carries
    * no stats (stats are optional per the protocol). Column-mapped
    * tables' stats keys are physical names; they are translated back to
    * logical here. O(log replay) driver work; no data touched. */
  def fileStats(spark: SparkSession, table: String, version: Long = -1L): DataFrame =
    statsFrame(spark, snapshotInfo(spark, table, version))

  /** [[fileStats]] over an already-resolved snapshot — callers holding one
    * (scanPruned) must NOT re-resolve "current": a concurrent commit
    * between two resolutions would build the keep-set from a different
    * file population than the scan and silently drop rows. */
  private def statsFrame(spark: SparkSession, snap: Snapshot): DataFrame = {
    // partition columns join the frame as DEGENERATE intervals
    // (min = max = the file's partition value), so partition predicates
    // prune through the same translator as data-column predicates
    val partFields = snap.schema.fields.toSeq
      .filter(f => snap.partitionColumns.contains(f.name))
      .filter(f => statsSupported(f.dataType))
    val statFields = snap.schema.fields.toSeq
      .filterNot(f => snap.partitionColumns.contains(f.name))
      .filter(f => statsSupported(f.dataType)) ++ partFields
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def decode(dt: org.apache.spark.sql.types.DataType,
        n: com.fasterxml.jackson.databind.JsonNode): Any = dt match {
      case org.apache.spark.sql.types.BooleanType => n.asBoolean()
      case org.apache.spark.sql.types.IntegerType => n.asInt()
      case org.apache.spark.sql.types.LongType => n.asLong()
      case org.apache.spark.sql.types.FloatType => n.asDouble().toFloat
      case org.apache.spark.sql.types.DoubleType => n.asDouble()
      case org.apache.spark.sql.types.StringType => n.asText()
      case org.apache.spark.sql.types.DateType => java.sql.Date.valueOf(n.asText())
      case org.apache.spark.sql.types.TimestampType =>
        // ISO-8601 with any offset ("...Z", "...+02:00", "...-08:00") or
        // zoneless local form — external writers produce all three
        val t = n.asText()
        val instant = scala.util.Try(java.time.OffsetDateTime.parse(t).toInstant)
          .getOrElse(java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC))
        java.sql.Timestamp.from(instant)
      case other => throw new IllegalArgumentException(s"no stats decoding for $other")
    }
    // an unparseable external stat value keeps the file (same contract as
    // every other unknown shape) rather than failing the whole scan
    def safeDecode(dt: org.apache.spark.sql.types.DataType,
        n: com.fasterxml.jackson.databind.JsonNode): Any =
      scala.util.Try(decode(dt, n)).getOrElse(null)
    val partSet = partFields.map(_.name).toSet
    // log partition values are Hive-canonical strings; unparseable or
    // default-partition values fall back to null (conservative keep)
    def parsePart(dt: org.apache.spark.sql.types.DataType, s: String): Any =
      scala.util.Try(dt match {
        case org.apache.spark.sql.types.StringType => s
        case org.apache.spark.sql.types.IntegerType => s.toInt
        case org.apache.spark.sql.types.LongType => s.toLong
        case org.apache.spark.sql.types.FloatType => s.toFloat
        case org.apache.spark.sql.types.DoubleType => s.toDouble
        case org.apache.spark.sql.types.BooleanType => s.toBoolean
        case org.apache.spark.sql.types.DateType => java.sql.Date.valueOf(s)
        case org.apache.spark.sql.types.TimestampType =>
          java.sql.Timestamp.valueOf(s.replace("T", " "))
        case _ => null
      }).getOrElse(null)
    // persisted per-file blooms (the `graftBloom` extended stats key —
    // written by stageFiles for the table's `graft.bloom.columns`): each
    // opted-in EXISTING column gets a `bloom_<name>` binary column the
    // fileSurvives translator probes for =/IN where [min,max] can't help
    val bloomFields = snap.configuration.get("graft.bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .flatMap(n => snap.schema.fields.find(_.name == n))
    val rows = snap.files.map { f =>
      val parsed = f.stats.map(mapper.readTree)
      def section(name: String): com.fasterxml.jackson.databind.JsonNode =
        parsed.map(_.path(name)).getOrElse(
          com.fasterxml.jackson.databind.node.MissingNode.getInstance())
      val (mins, maxs, nulls) = (section("minValues"), section("maxValues"), section("nullCount"))
      val n = parsed.map(_.path("numRecords").asLong(-1L)).filter(_ >= 0).map(Long.box).orNull
      val cells = statFields.flatMap { sf =>
        val key = snap.physicalName(sf.name)
        if (partSet.contains(sf.name)) {
          val v = f.partitionValues.get(key).filter(_ != null)
            .map(parsePart(sf.dataType, _)).orNull
          // a null partition value means EVERY row is null in that column
          Seq(v, v, if (v == null) n else Long.box(0L))
        } else {
          def cell(sec: com.fasterxml.jackson.databind.JsonNode,
              f: com.fasterxml.jackson.databind.JsonNode => Any): Any = {
            val v = sec.path(key)
            if (v.isMissingNode || v.isNull) null else f(v)
          }
          Seq(cell(mins, safeDecode(sf.dataType, _)), cell(maxs, safeDecode(sf.dataType, _)),
            cell(nulls, n => Long.box(n.asLong())))
        }
      }
      val bloomCells = bloomFields.map { bf =>
        val v = section("graftBloom").path(snap.physicalName(bf.name))
        // missing sketch (file written before the opt-in, or by a foreign
        // writer) → null → conservative keep in the probe
        if (v.isMissingNode || v.isNull) null
        else scala.util.Try(java.util.Base64.getDecoder.decode(v.asText()))
          .getOrElse(null)
      }
      org.apache.spark.sql.Row.fromSeq(f.path +: n +: (cells ++ bloomCells))
    }
    val outSchema = StructType(
      StructField("file", org.apache.spark.sql.types.StringType) ::
        StructField("rows", org.apache.spark.sql.types.LongType) ::
        (statFields.flatMap(sf => Seq(
          StructField(s"min_${sf.name}", sf.dataType), StructField(s"max_${sf.name}", sf.dataType),
          StructField(s"nulls_${sf.name}", org.apache.spark.sql.types.LongType))) ++
          bloomFields.map(bf =>
            StructField(s"bloom_${bf.name}", org.apache.spark.sql.types.BinaryType))).toList)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
  }

  private def numRecordsOf(f: LiveFile): Option[Long] =
    f.stats.flatMap { s =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s).path("numRecords")
      if (n.isMissingNode || n.isNull) None else Some(n.asLong())
    }

  /** Metadata-only EXACT row count: Σ numRecords − Σ DV cardinality over
    * the snapshot's live files — a driver-side log fold, zero data files
    * opened (at 100 TB: milliseconds instead of a cluster-wide counting
    * job). Deletion vectors subtract exactly (their cardinality is part
    * of the descriptor). None when any file lacks `numRecords` (stats
    * are optional per the protocol; external writers may omit them) —
    * callers fall back to a scan. */
  def countFromMetadata(spark: SparkSession, table: String,
      version: Long = -1L): Option[Long] = {
    val counts = snapshotInfo(spark, table, version).files
      .map(f => numRecordsOf(f).map(_ - f.dv.map(_.cardinality).getOrElse(0L)))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** SHOW PARTITIONS analog, metadata-only: one row per distinct
    * partition value — (partition, n_files, n_rows, bytes) with
    * `partition` rendered canonically as `col=value/col2=value2` in the
    * table's partition-column order ("" for an unpartitioned table).
    * Row counts are live (DV cardinalities subtracted per file). Refused
    * when a live file lacks `numRecords` — a partial summary would read
    * as a complete one. */
  def partitionSummary(spark: SparkSession, table: String,
      version: Long = -1L): DataFrame = {
    val snap = snapshotInfo(spark, table, version)
    val grouped = snap.files.groupBy { f =>
      snap.partitionColumns.map { c =>
        s"$c=${f.partitionValues.get(snap.physicalName(c)).filter(_ != null).getOrElse("null")}"
      }.mkString("/")
    }
    val rows = grouped.toSeq.map { case (p, fs) =>
      val live = fs.map { f =>
        val n = numRecordsOf(f).getOrElse(throw new IllegalArgumentException(
          s"partitionSummary: ${f.path} carries no numRecords stats — " +
            "a partial summary would read as a complete one"))
        n - f.dv.map(_.cardinality).getOrElse(0L)
      }
      org.apache.spark.sql.Row(p, fs.size.toLong, live.sum, fs.map(_.size).sum)
    }.sortBy(_.getString(0))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(
        StructField("partition", org.apache.spark.sql.types.StringType) ::
          StructField("n_files", org.apache.spark.sql.types.LongType) ::
          StructField("n_rows", org.apache.spark.sql.types.LongType) ::
          StructField("bytes", org.apache.spark.sql.types.LongType) :: Nil))
  }

  private[sources] def statsSupported(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }

  /** Stats-pruned scan — the Delta twin of
    * [[IcebergRead.scanPruned]]: translate `pred` into a file-survives
    * test over [[fileStats]] (shared [[graft.operators.DataSkipping]]
    * translator; conservative on unknown shapes and on files without
    * stats), scan ONLY surviving files through the full merge-on-read
    * path (deletion vectors still applied), and re-apply the exact
    * predicate. Returns (dataframe, survivingFiles, totalFiles). This is
    * the protocol's data-skipping contract: the prune is O(files) driver
    * metadata that saves scheduling a task per non-matching file. */
  def scanPruned(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, version: Long = -1L): (DataFrame, Long, Long) = {
    // ONE log replay: the stats frame and the final scan share this
    // snapshot — re-resolving "current" separately would race a
    // concurrent commit and drop rewritten files from the scan
    val snap = snapshotInfo(spark, table, version)
    val stats = statsFrame(spark, snap)
    val statCols = stats.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSet
    val bloomCols = stats.columns.collect {
      case c if c.startsWith("bloom_") => c.stripPrefix("bloom_") }.toSet
    // resolve the predicate against an EMPTY frame with the snapshot's
    // schema, reading the ANALYZED plan: resolving against the real scan
    // and optimizing would let Catalyst fold partition predicates into the
    // partition-injection join's LocalRelation — correct for execution,
    // but the Filter node (and with it the whole prune) disappears
    val cond = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), snap.schema)
      .where(pred).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    val survives = cond.map(
      graft.operators.DataSkipping.fileSurvives(_, statCols, bloomCols))
      .getOrElse(lit(true))
    val total = stats.count()
    val keep = stats.where(survives).select("file").collect().map(_.getString(0)).toSet
    val df = assembleData(spark, table,
      snap.copy(files = snap.files.filter(f => keep(f.path))), lineage = false).where(pred)
    (df, keep.size.toLong, total)
  }

  /** Rows ADDED in versions (fromVersion, toVersion] — incremental
    * consumption of an external Delta table, the batch form of Delta's
    * streaming source. Reads ONLY the newly added files (one scan of
    * O(new data), never the table); schema/partition handling and DV
    * application follow the `toVersion` snapshot.
    *
    * Commits carrying removes (overwrite, delete, compaction) make "what
    * was added" ambiguous for a consumer that already saw the old rows;
    * they are refused unless `ignoreChanges = true` — exactly the
    * semantics of stock Delta's streaming `ignoreChanges` option (re-added
    * files may then surface rows the consumer has already seen; dedup
    * downstream). */
  def addsBetween(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long = -1L, ignoreChanges: Boolean = false): DataFrame = {
    val snap = snapshotInfo(spark, table, toVersion) // also validates `toVersion`
    require(fromVersion <= snap.version,
      s"fromVersion $fromVersion is beyond the resolved toVersion ${snap.version}")
    val range = (fromVersion + 1) to snap.version
    val added = scala.collection.mutable.LinkedHashMap[String, LiveFile]()
    val rewrittenAway = scala.collection.mutable.Set.empty[String]
    range.foreach { v =>
      val commitPath = s"${logPath(table)}/${f"$v%020d"}.json"
      val hfs = fs(spark, new org.apache.hadoop.fs.Path(commitPath))
      // a checkpoint-cleaned commit inside the range cannot be replayed
      require(hfs.exists(new org.apache.hadoop.fs.Path(commitPath)),
        s"commit $v was cleaned from the log — cannot enumerate its adds")
      val commit = spark.read.schema(StructType.fromDDL(actionsDdl)).json(commitPath)
        .select(col("add.path").as("ap"), col("add.partitionValues").as("pv"),
          col("remove.path").as("rp"),
          coalesce(col("add.size"), lit(0L)).as("sz"),
          coalesce(col("add.modificationTime"), lit(0L)).as("mt"),
          col("add.deletionVector").as("dv"),
          coalesce(col("add.dataChange"), lit(true)).as("adc"),
          coalesce(col("remove.dataChange"), lit(true)).as("rdc"))
        .collect()
      // layout-only commits (compaction: every action dataChange=false)
      // rewrite rows that were already emitted — skip the whole commit, the
      // stock streaming-source rule. Only DATA removes make adds ambiguous.
      val hasDataRemove = commit.exists(r => !r.isNullAt(2) && r.getBoolean(7))
      require(!hasDataRemove || ignoreChanges,
        s"commit $v contains removes (overwrite/delete) — adds-only " +
          "reading is ambiguous; pass ignoreChanges=true to emit re-added files anyway")
      commit.foreach { r =>
        if (!r.isNullAt(0) && r.getBoolean(6)) {
          val p = resolve(table, r.getString(0))
          added(p) = LiveFile(p,
            Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty),
            r.getLong(3), r.getLong(4), parseDv(r, 5))
        }
        if (!r.isNullAt(2) && !r.getBoolean(7))
          rewrittenAway += resolve(table, r.getString(2))
      }
    }
    // files added in-range but no longer live at toVersion: a DATA remove
    // (delete/overwrite) means the rows are gone — drop them (they would
    // double-report against the reality at `to`); a LAYOUT-ONLY remove
    // (compaction) means the rows live on in rewritten files whose adds we
    // skipped — emit them from the original file, which stays on disk
    // until vacuum (the snapshot they were added in is exactly their
    // content; stock streaming emitted them the same way, pre-compaction).
    val liveNow = snap.files.map(_.path).toSet
    assembleData(spark, table,
      snap.copy(files =
        added.values.filter(f => liveNow(f.path) || rewrittenAway(f.path)).toSeq),
      lineage = false)
  }

  /** CHANGELOG between two versions — the twin of [[addsBetween]] that
    * also reports DELETES: the table's columns plus `_change_type`
    * ('insert' | 'delete'). Works for ANY commit mix (append, DV delete,
    * overwrite/upsert, compaction), where adds-only reading refuses.
    *
    * Snapshot diff at FILE granularity, so cost scales with what changed:
    * files only at `toVersion` → inserts (their live rows, DVs applied);
    * files only at `fromVersion` → deletes (live-at-from rows); files at
    * BOTH whose deletion vector changed → the newly-marked positions via
    * one (file, pos) anti join restricted to just those files. Append-only
    * ranges skip both delete legs. Rewrite commits (compaction) report
    * delete + insert pairs for the rewritten rows — same caveat as the
    * Iceberg twin ([[IcebergRead.changesBetween]]): per-row identity
    * across rewrites isn't in the log. */
  def changesBetween(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val toSnap = snapshotInfo(spark, table, toVersion)
    require(fromVersion >= 0 && fromVersion <= toSnap.version,
      s"fromVersion $fromVersion outside [0, ${toSnap.version}]")
    def tag(df: DataFrame, t: String): DataFrame = df.withColumn("_change_type", lit(t))
    val fromSnap = snapshotInfo(spark, table, fromVersion)
    val fromByPath = fromSnap.files.map(f => f.path -> f).toMap
    val toByPath = toSnap.files.map(f => f.path -> f).toMap
    val added = toSnap.files.filterNot(f => fromByPath.contains(f.path))
    val removed = fromSnap.files.filterNot(f => toByPath.contains(f.path))
    val dvChanged = fromSnap.files.filter(f => toByPath.get(f.path).exists(_.dv != f.dv))
    val legs = Seq.newBuilder[DataFrame]
    if (added.nonEmpty)
      legs += tag(assembleData(spark, table, toSnap.copy(files = added), lineage = false),
        "insert")
    if (removed.nonEmpty)
      legs += tag(assembleData(spark, table, fromSnap.copy(files = removed), lineage = false),
        "delete")
    if (dvChanged.nonEmpty) {
      val before = assembleData(spark, table, fromSnap.copy(files = dvChanged), lineage = true)
      val after = assembleData(spark, table,
        toSnap.copy(files = dvChanged.map(f => toByPath(f.path))), lineage = true)
      legs += tag(
        before.join(after.select(col("_file"), col("_pos")), Seq("_file", "_pos"), "left_anti")
          .drop("_file", "_pos"), "delete")
    }
    legs.result() match {
      case Seq() =>
        tag(assembleData(spark, table, toSnap.copy(files = Nil), lineage = false), "insert")
      // versions in range may carry evolved schemas (add-column):
      // pre-evolution delete rows null-fill the new columns
      case ls => ls.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** [[snapshot]] with PARTITION PRUNING at the log level: `keep` sees each
    * file's logical-keyed partition values (string-typed, null for NULL,
    * exactly as the log carries them) and files it rejects never reach the
    * scan. A `.where` on the injected partition column still filters rows
    * but cannot shrink the file list — this is the 100 TB lever, the same
    * move Delta's own kernel makes with partition predicates. */
  /** Co-bucketed-layout probe for the zero-exchange routes — the Delta
    * twin of [[IcebergRead.bucketLayoutMoR]]. The table must stamp
    * `graft.bucketSpec = "n,key"` (our bucketed writer does), run WITHOUT
    * column mapping (the bucket-local reader resolves columns by NAME),
    * declare no partition columns, and EVERY live file must carry the
    * writer's `__gb=<ordinal>` path prefix. A rewriting commit
    * (merge/optimize without the bucketed staging) stages un-prefixed
    * files and the probe then refuses — conservative: callers fall back
    * to the always-correct shuffled plan. Live DELETION VECTORS do NOT
    * refuse: a DV masks rows of its own file in place (the path — and so
    * the bucket ordinal — is unchanged), so the layout holds and the
    * probe returns the per-file descriptors for the bucket-local scans
    * to apply. Ordinals hash through the engine-pinned Iceberg Murmur3
    * bucket transform, so a Delta table co-buckets with an Iceberg table
    * of the same (n, key type) — cross-format SPJ works. Sizes are the
    * log's recorded file sizes (zero filesystem calls). */
  def bucketLayoutMoR(spark: SparkSession, table: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)] = scala.util.Try {
    val snap = snapshotInfo(spark, table)
    val (n, col) = snap.configuration.get(DeltaWrite.bucketSpecKey)
      .flatMap(DeltaWrite.parseBucketSpec).getOrElse(return None)
    if (!col.equalsIgnoreCase(key)) return None
    if (snap.columnMappingMode != "none") return None
    if (snap.partitionColumns.nonEmpty) return None
    val dvB = Map.newBuilder[String, DeletionVectors.Descriptor]
    val entries = snap.files.map { f =>
      // the writer stages table/__gb=<ordinal>/part-….parquet — the
      // file's PARENT directory segment carries the ordinal (paths here
      // are already resolved absolute)
      val segs = pctDecode(f.path).split('/')
      if (segs.length < 2 || !segs(segs.length - 2).startsWith("__gb="))
        return None
      val ord = segs(segs.length - 2).substring(5).toIntOption.getOrElse(return None)
      if (ord < 0 || ord >= n) return None
      val resolved = resolve(table, f.path)
      f.dv.foreach(d => dvB += resolved -> d)
      ord -> ((resolved, f.size))
    }
    val dvByPath = dvB.result()
    val deletes: LayoutDeletes =
      if (dvByPath.isEmpty) NoDeletes else LayoutDeletes.Dv(table, dvByPath)
    Some((n, entries.groupBy(_._1).map { case (b, es) => b -> es.map(_._2) },
      deletes))
  }.toOption.flatten

  /** [[bucketLayoutMoR]] restricted to DV-free snapshots (compatibility
    * for direct-file consumers that apply no masks). */
  def bucketLayoutSized(spark: SparkSession, table: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]])] =
    bucketLayoutMoR(spark, table, key).collect {
      case (n, m, NoDeletes) => (n, m)
    }

  def snapshotPruned(spark: SparkSession, table: String,
      keep: Map[String, String] => Boolean, version: Long = -1L): DataFrame =
    snapshotImpl(spark, table, version, lineage = false, prune = Some(keep))

  private def snapshotImpl(spark: SparkSession, table: String, version: Long,
      lineage: Boolean, prune: Option[Map[String, String] => Boolean] = None): DataFrame = {
    val snap0 = snapshotInfo(spark, table, version)
    val snap = prune match {
      case None => snap0
      case Some(keep) =>
        // present the predicate with LOGICAL keys (the log stores physical
        // ones under column mapping)
        val logicalOf = snap0.partitionColumns
          .map(c => snap0.physicalName(c) -> c).toMap
        snap0.copy(files = snap0.files.filter { f =>
          keep(f.partitionValues.map { case (k, v) => (logicalOf.getOrElse(k, k), v) })
        })
    }
    assembleData(spark, table, snap, lineage)
  }

  /** One scan over `snap.files` with partition injection, column-mapping
    * rename, DV application, and optional lineage — shared by the
    * snapshot readers and [[addsBetween]]. */
  private[sources] def assembleData(spark: SparkSession, table: String, snap: Snapshot,
      lineage: Boolean): DataFrame = {
    val dataSchema = StructType(
      snap.schema.filterNot(f => snap.partitionColumns.contains(f.name))
        .map(f => StructField(snap.physicalName(f.name), f.dataType, f.nullable)))
    val outSchema =
      if (!lineage) snap.schema
      else StructType(snap.schema.fields.toSeq :+
        StructField("_file", org.apache.spark.sql.types.StringType) :+
        StructField("_pos", org.apache.spark.sql.types.LongType))
    if (snap.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)

    // scan built from the LOG-recorded (path, size) pairs when every add
    // carried its size (ours always do): zero filesystem calls at plan
    // time — no per-file driver stats, no distributed listing job past 32
    // files (round-19 optimization, guide §6). Absent sizes keep the
    // listing path.
    val data =
      if (snap.files.forall(_.size > 0))
        org.apache.spark.sql.graft.Bridge.parquetScanDf(spark, dataSchema,
          snap.files.map(f => (f.path, f.size)))
      else spark.read.schema(dataSchema).parquet(snap.files.map(_.path): _*)
    val dvFiles = snap.files.filter(_.dv.isDefined)
    val needFile = lineage || dvFiles.nonEmpty || snap.partitionColumns.nonEmpty
    val needPos = lineage || dvFiles.nonEmpty

    // normalize scheme+authority off the URI with codegen'd string ops
    // (no scalar UDF): "file:///a/b" and "file:/a/b" both → "/a/b".
    // Protect literal '+' (valid unencoded in URI paths, e.g. Hive-style
    // partition dirs from external writers) before url_decode, whose
    // form-urlencoded rules would corrupt it to a space and silently null
    // the partition values via the left join below.
    val keyed =
      if (!needFile) data
      else data.withColumn("__file",
        url_decode(regexp_replace(
          regexp_replace(input_file_name(), "^[a-zA-Z0-9+.-]+:(//)?", ""),
          "\\+", "%2B")))
    val withPos = if (needPos) keyed.withColumn("__pos", col("_metadata.row_index")) else keyed

    val undeleted =
      if (dvFiles.isEmpty) withPos
      else {
        import spark.implicits._
        val blobs = dvFiles.map { f =>
          (new org.apache.hadoop.fs.Path(f.path).toUri.getPath,
            DeletionVectors.load(table, f.dv.get))
        }
        val dels = spark.createDataset(blobs)
          .flatMap { case (p, blob) =>
            DeletionVectors.fromBlob(blob).iterator.map(pos => (p, pos))
          }
          .toDF("__file", "__pos")
        withPos.join(dels, Seq("__file", "__pos"), "left_anti")
      }

    val withParts =
      if (snap.partitionColumns.isEmpty) undeleted
      else {
        // one scan for all files; per-file partition values attach via a
        // broadcast (normalized-path → values) join on the file key
        import spark.implicits._
        val mapping = snap.files.map { f =>
          val norm = new org.apache.hadoop.fs.Path(f.path).toUri.getPath
          (norm, snap.partitionColumns.map(c =>
            f.partitionValues.getOrElse(snap.physicalName(c), null)))
        }.toDF("__file", "__pvals")
        undeleted.join(broadcast(mapping), Seq("__file"), "left")
      }

    val cols = snap.schema.map { f =>
      if (snap.partitionColumns.contains(f.name))
        element_at(col("__pvals"), snap.partitionColumns.indexOf(f.name) + 1)
          .cast(f.dataType).as(f.name)
      else col(snap.physicalName(f.name)).as(f.name)
    } ++ (if (lineage) Seq(col("__file").as("_file"), col("__pos").as("_pos")) else Seq.empty)
    withParts.select(cols: _*)
  }
}
