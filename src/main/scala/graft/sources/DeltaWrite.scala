package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** Writer for the open Delta `_delta_log` format — the outbound half of the
  * interop story ([[DeltaRead]] is inbound): tables written here are plain
  * protocol-v1 Delta tables (JSON commits, standard partition layout with
  * partition columns only in the log, optional checkpoint parquet +
  * `_last_checkpoint`) that any Delta reader can open.
  *
  * Commit protocol: each version file is published by [[LakeLog.claim]],
  * so exactly one concurrent committer wins each number. Pure adds
  * commute and just claim the next free version ([[commitNext]]); every
  * other commit re-reads the snapshot and rebuilds on a lost claim
  * ([[commitLoop]]). */
object DeltaWrite {

  private def logDir(table: String) = Paths.get(table.stripSuffix("/"), "_delta_log")

  /** Percent-only encode (RFC 3986 path rules): special chars → %XX, space
    * → %20 (never '+' — URLEncoder's form rules would corrupt a literal '+'
    * on decode). Inverse of [[DeltaRead.pctDecode]]. */
  private[sources] def pctEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  /** Log-path form of a literal disk-relative path: every segment percent-
    * encoded (the Delta spec stores percent-encoded paths). The DISK name of
    * a partition dir is itself Hive-escaped (e.g. value "e%f" → dir
    * "grp=e%25f"), so the LOG form double-encodes: "grp=e%2525f" — decode on
    * read recovers the literal disk name, never the raw value. remove and
    * checkpoint paths MUST go through the same encoding or they fail to
    * match their add's key during replay. */
  private[sources] def pctEncodePath(diskRel: String): String =
    // limit -1 keeps empty segments (e.g. a trailing '/'): encode must be a
    // total inverse of pctDecode even on degenerate paths
    diskRel.split("/", -1).map(pctEncode).mkString("/")

  /** Log form of a live file's path: table-root-relative, percent-encoded. */
  private def relPath(table: String, path: String): String =
    pctEncodePath(path.stripPrefix(s"${table.stripSuffix("/")}/"))

  private def jsonStr(s: String): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.writeValueAsString(s) // proper JSON string escaping (quotes, controls)
  }

  private def tryCommitAt(table: String, version: Long, content: String): Boolean =
    LakeLog.claim(logDir(table), f"$version%020d.json", content)

  private def currentVersions(spark: SparkSession, table: String): Seq[Long] =
    DeltaRead.listLog(spark, table).map(_.versions).getOrElse(Nil)

  /** Claim the next free version for a commit that commutes with any
    * concurrent one (pure adds): a lost claim just tries the next number. */
  private def commitNext(spark: SparkSession, table: String, content: String): Long = {
    var v = currentVersions(spark, table).lastOption.map(_ + 1).getOrElse(0L)
    while (!tryCommitAt(table, v, content)) v += 1
    v
  }

  /** The optimistic read-modify-claim loop of every other commit: `build`
    * derives the commit from a fresh snapshot and it claims the version
    * after that snapshot; a lost claim re-reads and rebuilds. `None`
    * commits nothing and returns the snapshot's version. */
  @scala.annotation.tailrec
  private def commitLoop(spark: SparkSession, table: String)(
      build: DeltaRead.Snapshot => Option[String]): Long = {
    val snap = DeltaRead.snapshotInfo(spark, table)
    build(snap) match {
      case None => snap.version
      case Some(content) if tryCommitAt(table, snap.version + 1, content) => snap.version + 1
      case Some(_) => commitLoop(spark, table)(build)
    }
  }

  private def protocolAction = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  /** metaData action. The `id` is the table's STABLE identifier (spec:
    * minted once at creation, carried forward verbatim on every later
    * metaData swap — schema evolution, overwrite); `configuration` must
    * likewise be carried or a swap would silently drop e.g. the
    * column-mapping mode. */
  private def metaAction(schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String], id: String,
      configuration: Map[String, String] = Map.empty): String = {
    val schemaJson = schema.json // Delta schemaString IS Spark's StructType json
    val parts = partitionBy.map(c => jsonStr(c)).mkString("[", ",", "]")
    val conf = configuration.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    s"""{"metaData":{"id":${jsonStr(id)},"format":""" +
      s"""{"provider":"parquet","options":{}},"schemaString":${jsonStr(schemaJson)},""" +
      s""""partitionColumns":$parts,"configuration":$conf,""" +
      s""""createdTime":${System.currentTimeMillis()}}}"""
  }

  private def newTableId(): String = s"graft-${java.util.UUID.randomUUID()}"

  /** The table's stable id, carried into every metaData swap. */
  private def tableId(snap: DeltaRead.Snapshot): String =
    if (snap.metaId.nonEmpty) snap.metaId else newTableId()

  /** A metaData action keeping the snapshot's schema and partitioning. */
  private def metaSwap(snap: DeltaRead.Snapshot, configuration: Map[String, String]): String =
    metaAction(snap.schema, snap.partitionColumns, tableId(snap), configuration)

  /** Table property stamping a graft bucket layout: `"n,key"`. */
  private[sources] val bucketSpecKey = "graft.bucketSpec"

  private[sources] def parseBucketSpec(s: String): Option[(Int, String)] =
    s.split(",", 2) match {
      case Array(n, c) => n.trim.toIntOption.filter(_ > 0).map(_ -> c.trim)
      case _ => None
    }

  /** Write `df`'s rows as data files under the table root through
    * [[DataFileWriter]] and return one add action per file. Partitioned
    * writes lay out one `c=v/` directory level per partition column and
    * keep the partition columns out of the file contents. Each add records
    * the value as the string Spark's `partitionBy` renders (session time
    * zone), NULL and '' as JSON null. Directory names are percent-encoded,
    * so they stay ASCII whatever the JVM's file-name encoding; NULL and ''
    * go under Spark's `__HIVE_DEFAULT_PARTITION__`. `recordValues = false`
    * (the graft bucket layout) keeps the `__gb=k/` directory but records
    * no values.
    *
    * Each add carries the protocol's data-skipping stats, computed by the
    * write tasks ([[statsJson]]). Files land under the table root before
    * the commit claim: a failed write or a commit that gives up leaves
    * unreferenced files, which [[vacuum]] reclaims. */
  private def writeFiles(df: DataFrame, table: String, partitionBy: Seq[String],
      dataChange: Boolean = true, recordValues: Boolean = true): Seq[String] = {
    // persisted per-file blooms: the table opts in via the
    // `graft.bloom.columns` property (ALTER TABLE … SET BLOOM FILTER) —
    // point/IN predicates on high-NDV columns then prune where [min,max]
    // spans the whole domain. Config names LOGICAL columns; the written
    // frame speaks physical under column mapping, so translate here.
    val bloomCols: Seq[String] = scala.util.Try {
      val snap = DeltaRead.snapshotInfo(df.sparkSession, table)
      snap.configuration.get("graft.bloom.columns").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(snap.physicalName)
    }.getOrElse(Nil)
    val dataCols = df.columns.toSeq.filterNot(partitionBy.contains)
    DataFileWriter.write(df, table, Some(dataCols),
      keys = partitionBy.map(c => col(c).cast(org.apache.spark.sql.types.StringType)),
      keyPrefix = vals => partitionBy.zip(vals).map {
        case (c, null | "") => s"${pctEncode(c)}=__HIVE_DEFAULT_PARTITION__/"
        case (c, v) => s"${pctEncode(c)}=${pctEncode(v.toString)}/"
      }.mkString,
      statColumns = dataCols.filter(c => DeltaRead.statsSupported(df.schema(c).dataType)),
      bloomColumns = bloomCols.filter(dataCols.contains)
    ).map { f =>
      val values =
        if (!recordValues) Map.empty[String, String]
        else partitionBy.zip(f.keys).map { case (c, v) =>
          c -> Option(v).map(_.toString).filter(_.nonEmpty).orNull
        }.toMap
      addAction(pctEncodePath(f.rel), values, f.bytes, dataChange, statsJson(f))
    }
  }

  /** One written file's protocol stats JSON: numRecords / minValues /
    * maxValues / nullCount over its stats columns — timestamps ISO-8601
    * UTC at full microseconds, never truncated, so max bounds stay exact —
    * plus, for bloom columns, an xxhash64 (seed 42) sketch per column under
    * the extended `graftBloom` key (base64; stock readers ignore unknown
    * keys). */
  private[sources] def statsJson(f: DataFileWriter.WrittenFile): String = {
    import com.fasterxml.jackson.databind.JsonNode
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val nf = om.getNodeFactory
    def jsonValue(v: Any): JsonNode = v match {
      case b: Boolean => nf.booleanNode(b)
      case i: Int => nf.numberNode(i)
      case l: Long => nf.numberNode(l)
      case x: Float => nf.numberNode(x)
      case d: Double => nf.numberNode(d)
      case s: String => nf.textNode(s)
      case t: java.sql.Timestamp =>
        nf.textNode(java.time.format.DateTimeFormatter
          .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
          .withZone(java.time.ZoneOffset.UTC).format(t.toInstant))
      case d @ (_: java.sql.Date | _: java.time.LocalDate) => nf.textNode(d.toString)
      case other => throw new IllegalArgumentException(s"no stats encoding for $other")
    }
    val root = om.createObjectNode()
    root.put("numRecords", f.rows)
    val (mins, maxs, nulls) =
      (root.putObject("minValues"), root.putObject("maxValues"), root.putObject("nullCount"))
    f.stats.foreach { s =>
      if (s.min != null) mins.set[JsonNode](s.name, jsonValue(s.min))
      if (s.max != null) maxs.set[JsonNode](s.name, jsonValue(s.max))
      nulls.put(s.name, s.nulls)
    }
    if (f.blooms.nonEmpty) {
      val blooms = root.putObject("graftBloom")
      f.blooms.foreach { case (c, blob) =>
        blooms.put(c, java.util.Base64.getEncoder.encodeToString(blob))
      }
    }
    om.writeValueAsString(root)
  }

  /** `partitionValues` object of an add action; a null value is JSON null. */
  private def pvJson(values: Iterable[(String, String)]): String =
    values.map { case (k, v) => s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}" }
      .mkString("{", ",", "}")

  private def addAction(rel: String, values: Map[String, String], size: Long,
      dataChange: Boolean, stats: String): String =
    s"""{"add":{"path":${jsonStr(rel)},"partitionValues":${pvJson(values)},"size":$size,""" +
      s""""modificationTime":${System.currentTimeMillis()},"dataChange":$dataChange,""" +
      s""""stats":${jsonStr(stats)}}}"""

  /** `,"deletionVector":{...}` fragment of an add action (empty offset
    * elided — inline DVs carry none). */
  private def dvActionJson(d: DeletionVectors.Descriptor): String = {
    val off = d.offset.map(o => s""""offset":$o,""").getOrElse("")
    s""","deletionVector":{"storageType":${jsonStr(d.storageType)},""" +
      s""""pathOrInlineDv":${jsonStr(d.pathOrInlineDv)},$off""" +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
  }

  private def removeAction(rel: String, dataChange: Boolean): String =
    s"""{"remove":{"path":${jsonStr(rel)},"deletionTimestamp":${System.currentTimeMillis()},""" +
      s""""dataChange":$dataChange}}"""

  /** Append `df` to the Delta table at `table`, creating it (protocol +
    * metaData + adds at version 0) if absent. Returns the committed
    * version. Schema must match an existing table's column names (checked
    * against the latest metaData — a silent widening append would corrupt
    * readers).
    *
    * `txn` is Delta's idempotent-writer action `{"txn": {appId, version}}`:
    * a streaming sink records its (appId, batchId) with each commit and
    * skips batches at/below the recorded high-water mark on replay —
    * exactly-once appends over an at-least-once foreachBatch.
    *
    * `mergeSchema = true` enables SCHEMA EVOLUTION: `df` may carry NEW
    * columns (appended after the table's, in `df` order); the commit then
    * swaps the metaData action to the merged schema (stable table id and
    * configuration carried forward — the spec's evolution mechanism).
    * Existing columns must still match by name and type, and old data
    * files are never rewritten — the reader resolves them against the new
    * schema and fills the added columns with null. Tables under column
    * mapping are refused for evolution (new fields would need physical
    * names assigned). */
  def append(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil, txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false,
      txns: Seq[(String, Long)] = Nil): Long = {
    val exists = currentVersions(spark, table).nonEmpty
    // BUCKET LAYOUT (SURVEY §2 S8bk): `partitionBy = Seq("bucket(n, key)")`
    // writes a storage-partitioned layout the zero-exchange routes can
    // read — rows hash through the SAME engine-pinned Murmur3 the Iceberg
    // bucket transform uses (so cross-format co-bucketed joins align),
    // each file holds exactly one bucket (staged under a `__gb=<ordinal>`
    // path prefix — the ordinal rides in the PATH, not the schema), and
    // the table stamps `graft.bucketSpec = "n,key"`. Delta's metadata
    // declares NO partition columns: the layout is a graft property, and
    // stock readers see a plain unpartitioned table. An append to an
    // already-bucketed table adopts the layout automatically (explicit
    // spec must match), so INSERT/COPY INTO keep it; rewriting commits
    // (delete/merge/optimize) drop the prefix and the layout probe then
    // refuses — conservative, never wrong.
    val BucketPat =
      """(?i)^\s*bucket\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$""".r
    var bucketSpec: Option[(Int, String)] = partitionBy match {
      case Seq(BucketPat(n, c)) => Some((n.toInt, c))
      case _ =>
        // a bucket transform mixed with identity partitioning has no
        // staged layout here — refuse loudly instead of letting the
        // stager fail on a "column" named bucket(8, k)
        require(!partitionBy.exists(p => BucketPat.findFirstIn(p).isDefined),
          s"Delta bucket layout must be the SOLE partition spec, got " +
            s"${partitionBy.mkString(", ")}")
        None
    }
    if (bucketSpec.isEmpty && partitionBy.isEmpty && exists)
      bucketSpec = DeltaRead.snapshotInfo(spark, table).configuration
        .get(bucketSpecKey).flatMap(parseBucketSpec)
    bucketSpec.foreach { case (_, key) =>
      require(df.schema.fieldNames.contains(key),
        s"bucket key '$key' missing from the appended frame")
    }
    val declaredParts = if (bucketSpec.isDefined) Nil else partitionBy
    var evolvedMeta: Option[String] = None
    // under column mapping the PARQUET FILES (and partition dirs / log
    // partitionValues) carry physical names — stage with them or the read
    // path mis-resolves renamed columns
    var stageDf = df
    var stageParts = declaredParts
    if (exists) {
      val snap = DeltaRead.snapshotInfo(spark, table)
      require(snap.partitionColumns == declaredParts,
        s"append partitioning $partitionBy does not match table's ${snap.partitionColumns}")
      bucketSpec.foreach { case (n, key) =>
        require(snap.columnMappingMode == "none",
          "bucketed append under column mapping is not supported (the " +
            "bucket-local reader resolves by name)")
        // an explicit spec on an existing table must match its stamped
        // layout — a bucketed table is CREATED bucketed (retro-bucketing
        // would leave old un-prefixed files the layout probe refuses)
        if (partitionBy.nonEmpty)
          require(snap.configuration.get(bucketSpecKey).flatMap(parseBucketSpec)
            .exists { case (tn, tk) => tn == n && tk.equalsIgnoreCase(key) },
            s"append bucket($n, $key) does not match the table's stamped " +
              s"layout (${snap.configuration.getOrElse(bucketSpecKey, "none")})")
      }
      val tableCols = snap.schema.fieldNames.toSet
      val newCols = df.schema.filterNot(f => tableCols.contains(f.name))
      if (!mergeSchema || newCols.isEmpty) {
        require(snap.schema.fieldNames.sorted.sameElements(df.schema.fieldNames.sorted),
          s"append schema ${df.schema.fieldNames.mkString(",")} does not match table " +
            s"schema ${snap.schema.fieldNames.mkString(",")}" +
            (if (newCols.nonEmpty) " (pass mergeSchema=true to evolve)" else ""))
        // names AND types: a same-named column of another type (decimal
        // into double, int into bigint) would stage a file the table
        // schema later MISREADS — decimal unscaled longs surface as
        // garbage doubles. Refuse loudly; callers cast first (the SQL
        // INSERT surface conforms automatically).
        snap.schema.fields.foreach { f =>
          val in = df.schema(f.name).dataType
          require(in == f.dataType,
            s"append column '${f.name}' type $in does not match table's " +
              s"${f.dataType} — cast before appending (a mismatched file " +
              "would be misread under the table schema)")
        }
      } else {
        require(snap.columnMappingMode == "none",
          "schema evolution under column mapping is not supported (new fields " +
            "would need physical-name assignment)")
        snap.schema.fields.foreach { f =>
          val in = df.schema.fields.find(_.name == f.name).getOrElse(
            sys.error(s"evolving append must carry every existing column; missing '${f.name}'"))
          require(in.dataType == f.dataType,
            s"column '${f.name}' type ${in.dataType} does not match table's ${f.dataType} " +
              "(type changes are not evolution — they would misread old files)")
        }
        val merged = org.apache.spark.sql.types.StructType(
          snap.schema.fields.toSeq ++ newCols.map(f => f.copy(metadata =
            org.apache.spark.sql.types.Metadata.empty)))
        evolvedMeta = Some(metaAction(merged, declaredParts, tableId(snap), snap.configuration))
      }
      if (snap.columnMappingMode == "name") {
        val phys = snap.schema.fieldNames.map(n => n -> snap.physicalName(n)).toMap
        stageDf = df.select(snap.schema.fieldNames.toSeq
          .map(n => col(n).as(phys(n))): _*)
        stageParts = declaredParts.map(phys)
      }
      enforceConstraints(snap, df)
    }
    // bucketed staging: the ordinal column exists only during the write —
    // partitionBy drops it from the file contents, the `__gb=k` path
    // prefix carries it, and the add records plain (empty) partition
    // values. NULL keys land deterministically in ordinal 0 rather than
    // a null partition value (which would stage an un-decodable
    // `__HIVE_DEFAULT_PARTITION__` dir and silently brick the layout):
    // sound for every zero-exchange consumer — the join drops null keys
    // on both sides (SQL equality), and agg/DISTINCT only need the null
    // GROUP confined to one bucket, which a constant ordinal guarantees.
    bucketSpec.foreach { case (n, key) =>
      // the staging column name is reserved: a user column called __gb
      // would be silently overwritten with the ordinal and then dropped
      // from file contents by partitionBy while the schema still declares
      // it — refuse loudly instead
      require(!df.schema.fieldNames.contains("__gb"),
        "bucketed Delta write: column name '__gb' is reserved for the " +
          "bucket-ordinal staging path — rename the column")
      val dt = df.schema(key).dataType
      stageDf = stageDf.withColumn("__gb",
        org.apache.spark.sql.functions.coalesce(
          IcebergTransforms.Bucket(n, key).column(col(key), dt),
          org.apache.spark.sql.functions.lit(0)))
      stageParts = Seq("__gb")
    }
    val adds = writeFiles(stageDf, table, stageParts, recordValues = bucketSpec.isEmpty)
    val header =
      if (exists) evolvedMeta.toSeq
      else Seq(protocolAction, metaAction(df.schema, declaredParts, newTableId(),
        bucketSpec.map(bs => Map(bucketSpecKey -> s"${bs._1},${bs._2}"))
          .getOrElse(Map.empty)))
    val txnAction = (txn.toSeq ++ txns).map { case (appId, v) =>
      s"""{"txn":{"appId":${jsonStr(appId)},"version":$v,"lastUpdated":${System.currentTimeMillis()}}}"""
    }
    commitNext(spark, table, (header ++ txnAction ++ adds).mkString("", "\n", "\n"))
  }

  /** Replace the table contents with `df` (remove all live files + add the
    * new ones, one atomic commit). Optimistic: a concurrent commit between
    * read and claim forces a re-read so no concurrent add is lost. */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil): Long = {
    require(currentVersions(spark, table).nonEmpty,
      s"overwrite of non-existent table $table — use append")
    val snapAtCheck = DeltaRead.snapshotInfo(spark, table)
    val mapped = snapAtCheck.columnMappingMode == "name"
    if (mapped) {
      // supported under column mapping for the SAME logical shape (the
      // TRUNCATE/backfill/merge path): stage under physical names, keep
      // the mapped metaData verbatim. A schema- or partition-CHANGING
      // overwrite would need physical-name assignment for new columns —
      // still refused loudly.
      require(snapAtCheck.schema.fieldNames.sorted
          .sameElements(df.schema.fieldNames.sorted) &&
          snapAtCheck.schema.fields.forall(f =>
            df.schema(f.name).dataType == f.dataType) &&
          partitionBy == snapAtCheck.partitionColumns,
        "overwrite of a column-mapped table must keep the table's schema " +
          "and partitioning (schema-changing overwrite would need " +
          "physical-name assignment)")
    }
    enforceConstraints(snapAtCheck, df)
    val (sdf, sparts) =
      if (mapped) toPhysical(snapAtCheck, df) else (df, partitionBy)
    val adds = writeFiles(sdf, table, sparts)
    commitLoop(spark, table) { snap =>
      val removes = snap.files.map(f => removeAction(relPath(table, f.path), dataChange = true))
      // metaData swap keeps the STABLE table id + configuration (the spec's
      // continuity rule); only the schema/partitioning may change, and the
      // schema change is safe because every old file is removed here.
      // Under mapping the schema is the snapshot's own (physical-name
      // metadata preserved) — df's logical schema lacks the mapping.
      val meta =
        if (mapped) metaSwap(snap, snap.configuration)
        else metaAction(df.schema, partitionBy, tableId(snap), snap.configuration)
      Some((meta +: (removes ++ adds)).mkString("", "\n", "\n"))
    }
  }

  /** Which live files fall in the partitions matching `pred` (a predicate
    * over the TYPED partition columns, e.g. "day = '2024-01-03'"):
    * evaluated once per distinct partition tuple (driver-tiny); membership
    * is decided on the original log strings via an index, so cast
    * round-trips can't mis-bucket a file. Shared by [[compact]]'s scoped
    * maintenance and [[replaceWhere]]'s scoped overwrite. */
  /** Stage-side physical projection for column-mapped tables: data files,
    * partition dirs, per-file stats and partitionValues keys all carry
    * PHYSICAL names; the metaData schema maps them back to logical at
    * read. Identity for unmapped tables. `df` must carry exactly the
    * table's logical columns (any order — the projection also pins
    * table-schema order). Returns (stagedDf, stagePartitionColumns). */
  private def toPhysical(snap: DeltaRead.Snapshot, df: DataFrame)
      : (DataFrame, Seq[String]) =
    if (snap.columnMappingMode != "name") (df, snap.partitionColumns)
    else (df.select(snap.schema.fieldNames.toSeq
        .map(n => col(n).as(snap.physicalName(n))): _*),
      snap.partitionColumns.map(snap.physicalName))

  private def scopeByPartition(spark: SparkSession, snap: DeltaRead.Snapshot,
      pred: String, what: String): DeltaRead.LiveFile => Boolean = {
    import org.apache.spark.sql.functions.{col => fcol}
    require(snap.partitionColumns.nonEmpty,
      s"$what scopes by partition values — the table is unpartitioned")
    val cols = snap.partitionColumns
    // committed partitionValues keys are PHYSICAL names under mapping
    val key: String => String =
      if (snap.columnMappingMode == "name") snap.physicalName else identity
    val tuples = snap.files
      .map(f => cols.map(c => f.partitionValues.getOrElse(key(c), null))).distinct
    val schema = org.apache.spark.sql.types.StructType(
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row.fromSeq(t :+ i.toLong)
    }
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      schema.add("__idx", org.apache.spark.sql.types.LongType))
    val keepIdx = sdf
      .select((cols.map(c => fcol(c).cast(snap.schema(c).dataType).as(c)) :+
        fcol("__idx")): _*)
      .where(expr(pred)).select(fcol("__idx"))
      .collect().map(_.getLong(0)).toSet
    val keepTuples = tuples.zipWithIndex
      .collect { case (t, i) if keepIdx(i.toLong) => t }.toSet
    f => keepTuples.contains(cols.map(c => f.partitionValues.getOrElse(key(c), null)))
  }

  /** PARTITION-SCOPED OVERWRITE (`replaceWhere`): atomically swap the
    * partitions matching `where` (a predicate over the typed partition
    * columns) for `df`'s rows — the daily-backfill idiom ("recompute
    * 2024-01-03 and replace just that day") that whole-table [[overwrite]]
    * cannot express without rewriting everything. One commit: removes for
    * every live file in a matching partition + adds for the staged rows;
    * files in non-matching partitions are untouched (asserted by the
    * t_lake_replace_where file-count oracle). Every incoming row must
    * itself satisfy `where` — rows outside the replaced scope would
    * otherwise silently double with their still-live copies (the standard
    * replaceWhere contract, enforced with one distributed count).
    *
    * At 100 TB this is the only sane backfill: cost scales with the
    * replaced partitions, and concurrent appends to OTHER partitions are
    * retried around optimistically (the remove set re-derives per
    * attempt, exactly like [[overwrite]]). */
  def replaceWhere(spark: SparkSession, df: DataFrame, table: String,
      where: String): Long = {
    require(currentVersions(spark, table).nonEmpty,
      s"replaceWhere on non-existent table $table — use append")
    val snap0 = DeltaRead.snapshotInfo(spark, table)
    require(snap0.schema.fieldNames.sorted.sameElements(df.schema.fieldNames.sorted),
      s"replaceWhere schema ${df.schema.fieldNames.mkString(",")} does not match " +
        s"table schema ${snap0.schema.fieldNames.mkString(",")}")
    enforceConstraints(snap0, df)
    val strays = df.where(!coalesce(expr(where), lit(false))).count()
    require(strays == 0L,
      s"replaceWhere: $strays incoming row(s) do not satisfy '$where' — rows " +
        "outside the replaced scope would duplicate their live copies")
    val (sdf, sparts) = toPhysical(snap0, df)
    val adds = writeFiles(sdf, table, sparts)
    // the replacement was computed against snap0's state — files another
    // writer commits INTO the replaced scope after that are rows the
    // caller never saw, and silently removing them would be last-writer-
    // wins data loss; conflict-fail instead (out-of-scope concurrent
    // appends still retry around harmlessly)
    val scopeAt0 = snap0.files.filter(
      scopeByPartition(spark, snap0, where, "replaceWhere")).map(_.path).toSet
    commitLoop(spark, table) { snap =>
      val inScope = scopeByPartition(spark, snap, where, "replaceWhere")
      val inScopeFiles = snap.files.filter(inScope)
      val newcomers = inScopeFiles.filterNot(f => scopeAt0.contains(f.path))
      if (newcomers.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"replaceWhere('$where') conflicts with a concurrent write into the " +
            s"replaced scope: ${newcomers.size} file(s) newer than the staging-time " +
            s"snapshot (v${snap0.version}) match the predicate (e.g. " +
            s"${newcomers.head.path}) — re-derive the replacement and retry")
      val removes = inScopeFiles.map(f => removeAction(relPath(table, f.path), dataChange = true))
      Some((removes ++ adds).mkString("", "\n", "\n"))
    }
  }

  /** SQL-UPDATE: rows of the current snapshot matching `condition` get
    * `assignments` applied — ONE atomic commit (matched rows DV-deleted,
    * their updated images appended), so readers see every row's old or
    * new state, never a mix and never a missing row. No key columns
    * needed: matching is positional (file, pos), the same machinery as
    * [[deleteWhere]]. Returns the committed version (unchanged when
    * nothing matched — no commit).
    *
    * Scale: one distributed lineage scan finds matches; the updated
    * images are one scan of the MATCHED rows only (cost scales with the
    * update's selectivity, not the table); executor-built DV bitmaps as
    * in every MoR path here. */
  def updateWhere(spark: SparkSession, table: String,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      condition: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long = {
    require(assignments.nonEmpty, "updateWhere with no assignments")
    def scoped(df: DataFrame): DataFrame = alias.map(df.as(_)).getOrElse(df)
    val snap0 = DeltaRead.snapshotInfo(spark, table)
    val cols = snap0.schema.fieldNames.toSet
    assignments.foreach { case (c, _) => require(cols.contains(c),
      s"updateWhere: assigned column '$c' is not in the table schema") }
    // stats-pruned lineage: matched positions AND updated images read the
    // same pruned file set — files the predicate cannot touch never open
    val lineage = DeltaRead.lineagePruned(spark, table, condition)
    val matched = scoped(lineage).where(condition).select(col("_file"), col("_pos"))
    dvDeletePlan(spark, table, snap0, matched) match {
      case None => snap0.version // nothing matched: no commit
      case Some((dvActions, dvAt0, affectedPaths)) =>
        // updated images: the matched rows with assignments applied, in
        // table-schema order and types (an assignment must not retype)
        val byName = assignments.toMap
        val updated0 = scoped(lineage).where(condition)
        val updated = updated0.select(snap0.schema.fields.toSeq.map { f =>
          byName.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
        }: _*)
        enforceConstraints(snap0, updated)
        val (sUpd, sParts) = toPhysical(snap0, updated)
        val adds = writeFiles(sUpd, table, sParts)
        commitDvGuarded(spark, table, (dvActions ++ adds).mkString("", "\n", "\n"),
          dvAt0, affectedPaths)
    }
  }

  /** OPTIMIZE: bin-pack small files (and materialize deletion vectors)
    * into `targetFileBytes`-sized files, committed as a LAYOUT-ONLY
    * change — every remove and add carries `dataChange=false`, so
    * incremental readers ([[DeltaRead.addsBetween]], stock streaming
    * sources) skip the commit entirely instead of re-emitting rewritten
    * rows. Only files smaller than `smallFileBytes` or carrying a DV are
    * rewritten; right-sized clean files are left untouched, so cost
    * scales with the small-file debt, not the table. Partitioning is
    * preserved (rewritten rows are re-staged under their partition dirs,
    * clustered by the partition columns). Returns the committed version,
    * or the current version unchanged when there is nothing to do
    * (fewer than 2 rewrite candidates and no DV to purge).
    *
    * Rewritten-away files stay on disk (unreferenced) until a vacuum —
    * the spec's separation of commit and physical cleanup; crucially this
    * is what lets in-range adds-only reads still serve rows from
    * pre-compaction files.
    *
    * Optimistic like [[overwrite]]: a concurrent commit between the
    * snapshot read and the claim re-reads and re-stages, so a concurrent
    * DV delete on a candidate file is never lost. */
  def compact(spark: SparkSession, table: String,
      smallFileBytes: Long = 64L << 20, targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil, where: Option[String] = None,
      curve: String = "z"): Long = {
    import org.apache.spark.sql.functions.{col => fcol}
    require(curve == "z" || curve == "hilbert",
      s"unknown clustering curve '$curve' (z | hilbert)")
    require(currentVersions(spark, table).nonEmpty, s"not a Delta table: $table")
    // a lost claim leaves this attempt's files unreferenced (vacuum debt);
    // the next attempt re-derives from the fresh snapshot
    commitLoop(spark, table) { snap =>
      // `where` scopes maintenance to the partitions matching a predicate
      // over the TYPED partition columns ("day = '2024-01-03'", "grp IN
      // (...)") — at 100 TB you compact yesterday's partition, not the
      // table.
      val inScope: DeltaRead.LiveFile => Boolean =
        where.map(scopeByPartition(spark, snap, _, "compact(where=...)"))
          .getOrElse(_ => true)
      // candidate selection is PER PARTITION: two small files in different
      // partitions cannot be merged (the rewrite would just re-emit them),
      // so a partition qualifies only with ≥2 small files or a DV to purge.
      // ZORDER is an explicit full re-layout (every in-scope file
      // re-clusters) — deliberately NOT idempotent: the caller asked for a
      // rewrite.
      // a graft-bucketed table (S8bk) compacts PER BUCKET and re-stages
      // under the `__gb=` prefixes, so maintenance preserves the
      // zero-exchange layout instead of silently bricking it; the ordinal
      // is recomputed from the DATA, so even stray un-prefixed small
      // files re-enter the layout
      val bucketSpec =
        if (zorderBy.nonEmpty || snap.partitionColumns.nonEmpty ||
          snap.columnMappingMode != "none") None
        else snap.configuration.get(bucketSpecKey).flatMap(parseBucketSpec)
          .filter { case (_, k) => snap.schema.fieldNames.contains(k) }
      def bucketDirOf(p: String): String = {
        val segs = DeltaRead.pctDecode(p).split('/')
        if (segs.length >= 2 && segs(segs.length - 2).startsWith("__gb="))
          segs(segs.length - 2)
        else ""
      }
      val scoped = snap.files.filter(inScope)
      val candidates =
        if (zorderBy.nonEmpty) scoped
        else scoped.groupBy(f =>
          if (bucketSpec.isDefined) Map("__gb" -> bucketDirOf(f.path))
          else f.partitionValues).values.flatMap { fs =>
          val small = fs.filter(f => f.size < smallFileBytes || f.dv.isDefined)
          if (small.size >= 2 || small.exists(_.dv.isDefined)) small else Nil
        }.toSeq
      if (candidates.isEmpty) None else {
        // DVs applied during the read = materialized out of the new files
        val df = DeltaRead.assembleData(spark, table, snap.copy(files = candidates),
          lineage = false)
        val nOut = math.max(1,
          math.ceil(candidates.map(_.size).sum.toDouble / targetFileBytes).toInt)
        val packed =
          if (zorderBy.nonEmpty && curve == "hilbert")
            // bits scale down with column count (n*bits must fit a long's 62
            // usable bits) — a fixed 12 would refuse HILBERT BY over >5 columns
            graft.operators.Layout.hilbertCluster(df, zorderBy, nOut,
              bits = math.min(12, 62 / zorderBy.length))
          else if (zorderBy.nonEmpty) graft.operators.Layout.zcluster(df, zorderBy, nOut)
          else if (bucketSpec.isDefined) {
            // recompute the ordinal; the writer distributes by it, so each
            // bucket's rewritten rows become one compacted file
            val (n, key) = bucketSpec.get
            require(!snap.schema.fieldNames.contains("__gb"),
              "bucketed Delta compact: column name '__gb' is reserved for " +
                "the bucket-ordinal staging path")
            val dt = snap.schema(key).dataType
            df.withColumn("__gb", org.apache.spark.sql.functions.coalesce(
              IcebergTransforms.Bucket(n, key).column(fcol(key), dt),
              org.apache.spark.sql.functions.lit(0)))
          }
          // partitioned: the writer distributes by the partition values —
          // one compacted file per partition
          else if (snap.partitionColumns.nonEmpty) df
          else df.repartition(nOut)
        val (sPacked, sParts) =
          if (bucketSpec.isDefined) (packed, Seq("__gb")) // mapping is none
          else toPhysical(snap, packed)
        val adds = writeFiles(sPacked, table, sParts, dataChange = false,
          recordValues = bucketSpec.isEmpty)
        val removes = candidates.map(f => removeAction(relPath(table, f.path), dataChange = false))
        Some((removes ++ adds).mkString("", "\n", "\n"))
      }
    }
  }

  /** SET table properties — one metadata-only commit merging `props` into
    * the configuration (which every later commit carries forward). The
    * ANALYZE-stats persistence slot; same mechanism as CHECK constraints. */
  def setProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Long =
    commitLoop(spark, table)(snap => Some(metaSwap(snap, snap.configuration ++ props)))

  /** CHECK constraints (the protocol's `delta.constraints.<name>`
    * configuration): [[addCheckConstraint]] first proves every EXISTING
    * row satisfies the predicate (one distributed count — a constraint
    * that the table already violates must not be installable), then
    * commits the metaData swap; every later [[append]]/[[overwrite]]/
    * [[upsert]] enforces all installed constraints on the incoming rows
    * and refuses the write with per-constraint violation counts. SQL
    * semantics: only FALSE violates (NULL passes — the standard CHECK
    * rule, so `x > 0` admits null x unless you also constrain
    * `x IS NOT NULL`). */
  def addCheckConstraint(spark: SparkSession, table: String,
      name: String, predicateSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    val nViol = DeltaRead.snapshot(spark, table)
      .where(!coalesce(expr(predicateSql), lit(true))).count()
    require(nViol == 0,
      s"cannot add CHECK constraint '$name': $nViol existing rows violate ($predicateSql)")
    val key = s"delta.constraints.$name"
    commitLoop(spark, table) { snap =>
      require(!snap.configuration.contains(key), s"constraint '$name' already exists")
      Some(metaSwap(snap, snap.configuration + (key -> predicateSql)))
    }
  }

  /** Remove a CHECK constraint; no-op version bump refused if absent. */
  def dropCheckConstraint(spark: SparkSession, table: String, name: String): Long = {
    val key = s"delta.constraints.$name"
    commitLoop(spark, table) { snap =>
      require(snap.configuration.contains(key), s"no constraint '$name' on $table")
      Some(metaSwap(snap, snap.configuration - key))
    }
  }

  /** Enforce the table's installed CHECK constraints on incoming rows —
    * called by every row-adding writer. One count job per constraint
    * (constraints are few; the common case is zero and costs nothing). */
  private def enforceConstraints(snap: DeltaRead.Snapshot, df: DataFrame): Unit = {
    val installed = snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }
    val violated = installed.toSeq.map { case (n, p) =>
      (n, p, df.where(!coalesce(expr(p), lit(true))).count())
    }.filter(_._3 > 0)
    require(violated.isEmpty,
      "CHECK constraint(s) violated: " + violated
        .map { case (n, p, c) => s"$n ($c rows fail '$p')" }.mkString("; "))
  }

  /** Column-mapping bootstrap: the snapshot's schema with physical names
    * and ids assigned (IDENTITY physicals for existing columns, so no
    * data file, partition dir, or committed partitionValues key changes
    * meaning) plus the configuration carrying the mode. Already-mapped
    * tables pass through unchanged. */
  private def withMapping(snap: DeltaRead.Snapshot)
      : (org.apache.spark.sql.types.StructType, Map[String, String]) =
    if (snap.columnMappingMode == "name") (snap.schema, snap.configuration)
    else {
      val fields = snap.schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("delta.columnMapping.physicalName", f.name)
          .putLong("delta.columnMapping.id", i + 1L)
          .build())
      }
      (org.apache.spark.sql.types.StructType(fields), snap.configuration ++ Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> snap.schema.fields.length.toString))
    }

  /** Protocol action required for column mapping on top of the table's
    * current protocol, or None if already sufficient: v2/v5 legacy form
    * for plain tables, a v3/v7 `columnMapping` feature entry when the
    * table already runs feature protocols (e.g. deletionVectors). */
  private def mappingProtocol(snap: DeltaRead.Snapshot): Option[String] =
    if (snap.columnMappingMode == "name") None
    else if (snap.minReaderVersion >= 3) {
      if (snap.readerFeatures.contains("columnMapping")) None
      else {
        val feats = (snap.readerFeatures + "columnMapping").toSeq.sorted
        val fjson = feats.map(jsonStr).mkString("[", ",", "]")
        Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":$fjson,"writerFeatures":$fjson}}""")
      }
    } else Some("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")

  /** RENAME a column — metadata-only under column mapping (the spec's
    * rename mechanism): the field keeps its PHYSICAL name, only the
    * logical name changes, so no data file is rewritten at any scale. On
    * first use the table is bootstrapped into
    * `delta.columnMapping.mode = name` with identity physical names
    * (existing files and partitionValues keys stay valid verbatim).
    * Later [[append]]s stage parquet with physical column names; the
    * reader projects them back to logical. Works for partition columns
    * too (their physical name is what partition dirs and log keys carry).
    * This is what makes a rename a RENAME in [[DeltaRead.schemaHistory]]'s
    * Iceberg twin but a metaData swap here — name-keyed history reports
    * it as drop+add, the spec's own limitation. */
  def renameColumn(spark: SparkSession, table: String,
      oldName: String, newName: String): Long = {
    commitLoop(spark, table) { snap =>
      require(snap.schema.fieldNames.contains(oldName),
        s"no column '$oldName' in ${snap.schema.fieldNames.mkString(",")}")
      require(!snap.schema.fieldNames.contains(newName),
        s"column '$newName' already exists")
      val (mapped, conf) = withMapping(snap)
      val renamed = org.apache.spark.sql.types.StructType(
        mapped.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f))
      val parts = snap.partitionColumns.map(c => if (c == oldName) newName else c)
      Some((mappingProtocol(snap).toSeq :+ metaAction(renamed, parts, tableId(snap), conf))
        .mkString("", "\n", "\n"))
    }
  }

  /** DROP a column — metadata-only under column mapping: the field leaves
    * the logical schema; existing parquet files keep the physical column,
    * which the mapped projection simply never reads. Partition columns
    * cannot be dropped (their values live in the layout, not the files). */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    commitLoop(spark, table) { snap =>
      require(snap.schema.fieldNames.contains(name),
        s"no column '$name' in ${snap.schema.fieldNames.mkString(",")}")
      require(!snap.partitionColumns.contains(name),
        s"cannot drop partition column '$name'")
      require(snap.schema.fields.length > 1, "cannot drop the last column")
      val (mapped, conf) = withMapping(snap)
      val dropped = org.apache.spark.sql.types.StructType(
        mapped.fields.filterNot(_.name == name))
      Some((mappingProtocol(snap).toSeq :+
        metaAction(dropped, snap.partitionColumns, tableId(snap), conf))
        .mkString("", "\n", "\n"))
    }
  }

  /** CONVERT TO DELTA, in place: write a `_delta_log` INTO an existing
    * plain-parquet directory whose version-0 adds reference the files
    * already there (relative paths) — the classic zero-rewrite migration.
    * Hive-partitioned layouts convert with their partition values parsed
    * from the `k=v` directory components (Hive-escaped names decoded;
    * `__HIVE_DEFAULT_PARTITION__` → null), and the schema comes from
    * Spark's standard partition-discovering read, so partition columns
    * get their inferred types exactly as a reader of the plain directory
    * would see them. Record counts ride each add's stats via one footer
    * read per file — O(files) driver metadata, no data pass. After
    * conversion the directory IS a Delta table: appends, DV deletes,
    * constraints, clone, export all apply. */
  def convertParquet(spark: SparkSession, dir: String,
      partitionBy: Seq[String] = Nil): Long = {
    require(currentVersions(spark, dir).isEmpty, s"$dir already has a _delta_log")
    val root = new java.io.File(dir.stripSuffix("/"))
    require(root.isDirectory, s"not a directory: $dir")
    val df = spark.read.parquet(dir)
    val schema = df.schema
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' not in discovered schema ${schema.fieldNames.mkString(",")}"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .filterNot(_.getName.startsWith("_")).filterNot(_.getName.startsWith("."))
        .flatMap(walk)
      else Seq(f)
    val files = walk(root).filter(_.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under $dir")
    val adds = files.map { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val pv: Map[String, String] = rel.split("/").dropRight(1)
        .filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else DeltaRead.pctDecode(v))
        }.toMap.view.filterKeys(partitionBy.contains).toMap
      require(pv.keySet == partitionBy.toSet,
        s"file $rel does not sit under all partition dirs ${partitionBy.mkString(",")}")
      val n = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
      s"""{"add":{"path":${jsonStr(pctEncodePath(rel))},""" +
        s""""partitionValues":${pvJson(partitionBy.map(c => c -> pv(c)))},""" +
        s""""size":${f.length},"modificationTime":${f.lastModified},"dataChange":true,""" +
        s""""stats":${jsonStr(s"""{"numRecords":$n}""")}}}"""
    }
    val content = (Seq(protocolAction,
      metaAction(schema, partitionBy, newTableId())) ++ adds).mkString("", "\n", "\n")
    require(tryCommitAt(dir, 0L, content), s"concurrent writer created a log at $dir")
    0L
  }

  /** UNIFORM-STYLE EXPORT, reverse direction: create a NEW Delta table at
    * `target` whose version-0 commit references the ICEBERG table's live
    * data files by absolute path — zero copy; any Delta reader scans the
    * Iceberg data through a standard `_delta_log`. Iceberg data files
    * carry ALL columns in-file (including identity partition sources), so
    * even a PARTITIONED Iceberg table exports — as an UNPARTITIONED Delta
    * table (the values are in the files; only partition pruning is lost).
    * Record counts ride each add's stats as `numRecords`. Refused: MOR
    * sources with live delete files (deleted rows would resurrect —
    * compact first, which materializes deletes). Iceberg-side expiration
    * is the shared-fate hazard. */
  def exportIcebergAsDelta(spark: SparkSession, source: String, target: String): Long = {
    require(currentVersions(spark, target).isEmpty, s"export target already exists: $target")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = om.readTree(IcebergRead.metadataFile(source))
    val cur = meta.path("current-snapshot-id").asLong(-1L)
    require(cur >= 0, s"Iceberg table has no snapshot to export: $source")
    val snap = meta.path("snapshots").elements()
    var snapNode: com.fasterxml.jackson.databind.JsonNode = null
    while (snap.hasNext) {
      val s = snap.next()
      if (s.path("snapshot-id").asLong(-2L) == cur) snapNode = s
    }
    require(snapNode != null, s"current snapshot $cur not found in $source")
    // manifest list (or v1 inline manifests); refuse delete manifests
    val manifests: Seq[(String, Int)] =
      if (snapNode.has("manifest-list"))
        IcebergRead.avroRecords(IcebergRead.localPath(snapNode.path("manifest-list").asText()))
          .map { r =>
            val content = Option(r.getSchema.getField("content"))
              .flatMap(_ => Option(r.get("content"))).map(_.toString.toInt).getOrElse(0)
            (r.get("manifest_path").toString, content)
          }
      else {
        import scala.jdk.CollectionConverters._
        snapNode.path("manifests").elements().asScala.map(m => (m.asText(), 0)).toSeq
      }
    require(manifests.forall(_._2 == 0),
      "Iceberg table carries live DELETE files — a zero-copy Delta export " +
        "would resurrect deleted rows; compact (materializing deletes) first")
    val files: Seq[(String, Long, Long)] = manifests.map(_._1).flatMap { mp =>
      IcebergRead.avroRecords(IcebergRead.localPath(mp)).flatMap { e =>
        val status = Option(e.getSchema.getField("status"))
          .flatMap(_ => Option(e.get("status"))).map(_.toString.toInt).getOrElse(1)
        if (status == 2) None
        else {
          val dfr = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          Some((IcebergRead.localPath(dfr.get("file_path").toString),
            dfr.get("record_count").toString.toLong,
            dfr.get("file_size_in_bytes").toString.toLong))
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      IcebergRead.snapshot(spark, source).schema.fields
        .map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val adds = files.map { case (p, n, size) =>
      s"""{"add":{"path":${jsonStr(pctEncodePath(p))},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":${System.currentTimeMillis()},"dataChange":true,""" +
        s""""stats":${jsonStr(s"""{"numRecords":$n}""")}}}"""
    }
    val content = (Seq(protocolAction, metaAction(schema, Nil, newTableId())) ++ adds)
      .mkString("", "\n", "\n")
    require(tryCommitAt(target, 0L, content), s"concurrent writer created $target")
    0L
  }

  /** RESTORE: roll the table's LIVE STATE back to `toVersion` as a NEW
    * commit — history is preserved, so time travel to the undone versions
    * still works (stock RESTORE TABLE semantics; the recovery path after
    * a bad write). The commit removes files not live at the target,
    * re-adds target files that were since removed or whose deletion
    * vector changed (descriptors and stats verbatim — the referenced DV
    * blobs remain on disk until vacuumed past the target), and swaps the
    * metaData back when schema or partitioning evolved in between.
    * Caveat shared with every RESTORE implementation: vacuum retention
    * must still cover the restore window, or the re-added files may
    * already be reclaimed. Idempotent at the target (restoring to the
    * current version is a no-op returning it). O(files) driver metadata;
    * no data moved. */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val tgt = DeltaRead.snapshotInfo(spark, table, toVersion)
    commitLoop(spark, table) { now =>
      require(toVersion <= now.version,
        s"cannot restore $table to future version $toVersion (current ${now.version})")
      val nowBy = now.files.map(f => f.path -> f).toMap
      val tgtBy = tgt.files.map(f => f.path -> f).toMap
      val dvChanged = tgt.files.filter(f => nowBy.get(f.path).exists(_.dv != f.dv))
      val removes =
        (now.files.filterNot(f => tgtBy.contains(f.path)) ++ dvChanged).map(f =>
          removeAction(relPath(table, f.path), dataChange = true))
      val adds =
        (tgt.files.filterNot(f => nowBy.contains(f.path)) ++ dvChanged).map { f =>
          val st = f.stats.map(s => s""","stats":${jsonStr(s)}""").getOrElse("")
          s"""{"add":{"path":${jsonStr(relPath(table, f.path))},"partitionValues":${pvJson(f.partitionValues)},""" +
            s""""size":${f.size},"modificationTime":${f.modificationTime},""" +
            s""""dataChange":true$st${f.dv.map(dvActionJson).getOrElse("")}}}"""
        }
      val meta =
        if (tgt.schema != now.schema || tgt.partitionColumns != now.partitionColumns)
          Seq(metaAction(tgt.schema, tgt.partitionColumns, tableId(now), tgt.configuration))
        else Seq.empty
      val actions = meta ++ removes ++ adds
      // at the target already, or live state equals it (e.g. only txn/no-op
      // commits in between) — nothing to rewrite, and an actionless commit
      // would be a blank log entry
      if (toVersion == now.version || actions.isEmpty) None
      else Some(actions.mkString("", "\n", "\n"))
    }
  }

  /** SHALLOW CLONE (zero-copy): create a NEW Delta table at `target`
    * whose version-0 commit references the SOURCE snapshot's live data
    * files by ABSOLUTE path — no data is copied or moved. The standard
    * dev/test snapshotting primitive: cloning a 100 TB table is one
    * O(files) driver-side commit. The clone is independently writable —
    * later commits stage new files under the clone's own root, removes of
    * cloned files just drop the reference, and vacuum only ever walks the
    * CLONE's directory, so source data is never touched (the time-travel
    * floor of the clone is its own version 0). DV-bearing files carry
    * their deletion vectors: on-disk DV blobs are referenced by
    * absolute-path ('p') descriptors, inline ('i') ones travel in the
    * action. Stats and partition values carry verbatim; a column-mapped
    * source's mapping carries whole (schema metadata + configuration +
    * protocol feature), so post-rename tables clone like any other.
    * Source vacuum is the one shared-fate hazard, as in every shallow
    * clone design: reclaiming source files a clone still references
    * breaks the clone, not the source. */
  def cloneShallow(spark: SparkSession, source: String, target: String,
      version: Long = -1L): Long = {
    val snap = DeltaRead.snapshotInfo(spark, source, version)
    require(currentVersions(spark, target).isEmpty, s"clone target already exists: $target")
    // column mapping carries over whole: the metaData action below copies
    // the source's schema (physical-name metadata included) and its
    // configuration (mode + maxColumnId); partitionValues keys are
    // physical in both tables, so the adds stay valid verbatim
    val needsCm = snap.columnMappingMode == "name"
    val proto =
      if (snap.files.exists(_.dv.isDefined)) {
        val feats = (Seq("deletionVectors") ++
          (if (needsCm) Seq("columnMapping") else Nil)).sorted
        val fjson = feats.map(jsonStr).mkString("[", ",", "]")
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":$fjson,"writerFeatures":$fjson}}"""
      } else if (needsCm)
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      else protocolAction
    val adds = snap.files.map { f =>
      val st = f.stats.map(s => s""","stats":${jsonStr(s)}""").getOrElse("")
      val dv = f.dv.map { d =>
        dvActionJson(d.storageType match {
          case "i" => d // inline blob travels inside the action
          case _ => d.copy(storageType = "p",
            pathOrInlineDv =
              DeletionVectors.filePath(source, d).get.toAbsolutePath.toString,
            offset = d.offset)
        })
      }.getOrElse("")
      s"""{"add":{"path":${jsonStr(pctEncodePath(f.path))},"partitionValues":${pvJson(f.partitionValues)},""" +
        s""""size":${f.size},"modificationTime":${f.modificationTime},""" +
        s""""dataChange":true$st$dv}}"""
    }
    val content = (Seq(proto,
      metaAction(snap.schema, snap.partitionColumns, newTableId(), snap.configuration)) ++
      adds).mkString("", "\n", "\n")
    require(tryCommitAt(target, 0L, content), s"concurrent writer created $target")
    0L
  }

  /** VACUUM: physically delete data and DV files under the table root
    * that no RETAINED version references — the cleanup half compaction
    * and overwrite defer (their rewritten-away files stay on disk so
    * retained-version time travel and spanning incremental reads keep
    * working). Retention is version-count based in this engine's subset
    * (`retainLastVersions`, default 1 = current only), the same contract
    * as the wall-clock retention production Delta uses: time travel (and
    * adds-only reads whose range starts) BEFORE the horizon fail after a
    * vacuum — by design, and loudly (missing files). It also reclaims
    * the orphans of failed or abandoned writes, whose files land under the
    * table root before any commit claim ([[DataFileWriter]]).
    *
    * Only files a Delta writer lays down are candidates (`*.parquet`
    * data, `deletion_vector_*.bin`); `_delta_log` is never touched, and
    * foreign files are left alone. Returns the deleted paths. Metadata
    * only: the referenced set is O(files × retained versions) from log
    * replay — no data is read. */
  def vacuum(spark: SparkSession, table: String, retainLastVersions: Int = 1,
      minFileAgeMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val versions = currentVersions(spark, table)
    require(versions.nonEmpty, s"not a Delta table: $table")
    val keep = versions.takeRight(math.max(1, retainLastVersions))
    val root = Paths.get(table.stripSuffix("/"))
    def norm(p: java.nio.file.Path): String = p.toAbsolutePath.normalize.toString
    val referenced: Set[String] = keep.flatMap { v =>
      val snap = DeltaRead.snapshotInfo(spark, table, v)
      snap.files.map(f => norm(Paths.get(f.path))) ++
        snap.files.flatMap(_.dv).flatMap(d =>
          DeletionVectors.filePath(table, d).map(norm))
    }.toSet
    def walk(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName != "_delta_log" => walk(d)
        case f if f.isFile => Seq(f)
        case _ => Seq.empty
      }
    // AGE GRACE (stock Delta's retention-duration rule, default 24 h): a
    // concurrent writer writes data files into the table dir BEFORE
    // claiming its commit; an unreferenced-but-fresh file may be exactly
    // such an in-flight add, and deleting it would corrupt the winner's
    // table. Only files older than the grace window are reclaimable —
    // pass 0 only when no concurrent writers can exist.
    val cutoff = System.currentTimeMillis() - math.max(0L, minFileAgeMs)
    walk(root.toFile).filter { f =>
      val name = f.getName
      (name.endsWith(".parquet") || name.startsWith("deletion_vector_")) &&
        !referenced(norm(f.toPath)) && f.lastModified() <= cutoff
    }.map { f => val p = f.getPath; if (!dryRun) f.delete(); p }
  }

  /** Merge-on-read DELETE via deletion vectors: rows of the CURRENT
    * snapshot matching `condition` are marked in per-file roaring bitmaps
    * (Delta PROTOCOL.md "Deletion Vectors") — no data file is rewritten.
    * The commit re-adds each affected file with its DV descriptor
    * (remove + add of the same path) and, on first use, upgrades the
    * protocol to v3 with the `deletionVectors` reader/writer feature.
    * Returns the committed version; the current version unchanged if
    * nothing matched.
    *
    * Scale: matching is one distributed lineage scan; per-file bitmaps are
    * built on the EXECUTORS (groupByKey over matched positions) and only
    * the compressed blobs come back to the driver, which concatenates them
    * into one DV file. A file that already carries a DV gets the union of
    * old + new positions (decoded driver-side — O(that file's deletions),
    * not O(data)). */
  def deleteWhere(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long = {
    val snap0 = DeltaRead.snapshotInfo(spark, table)
    // an alias names the target for the condition's qualified /
    // subquery-correlated references (DELETE FROM '<p>' t WHERE … t.id …)
    def scoped(df: DataFrame): DataFrame = alias.map(df.as(_)).getOrElse(df)
    // stats-pruned lineage: only files the predicate can touch are opened
    val matched = scoped(DeltaRead.lineagePruned(spark, table, condition))
      .where(condition).select(col("_file"), col("_pos"))
    dvDeletePlan(spark, table, snap0, matched) match {
      case None => snap0.version
      case Some((actions, dvAt0, affectedPaths)) =>
        commitDvGuarded(spark, table, actions.mkString("", "\n", "\n"), dvAt0, affectedPaths)
    }
  }

  /** Build the remove+add-with-DV action list marking `matched`
    * (_file, _pos) rows deleted in `snap0` — the shared MoR-delete core of
    * [[deleteWhere]] and [[upsert]]. Returns None when nothing matched;
    * otherwise (actions, the affected files' pre-commit DV descriptors —
    * the guard [[commitDvGuarded]] enforces — and their normalized paths). */
  private def dvDeletePlan(spark: SparkSession, table: String,
      snap0: DeltaRead.Snapshot, matched: DataFrame)
      : Option[(Seq[String], Map[String, Option[DeletionVectors.Descriptor]], Seq[String])] = {
    import spark.implicits._
    val newBlobs: Map[String, Array[Byte]] = matched.as[(String, Long)].groupByKey(_._1)
      .mapGroups { (f, it) =>
        (f, DeletionVectors.toBlob(it.map(_._2).toArray.sorted))
      }
      .collect().toMap
    if (newBlobs.isEmpty) return None

    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val affected = snap0.files.filter(f => newBlobs.contains(norm(f.path)))
    val uuid = java.util.UUID.randomUUID()
    val uuidZ85 = Z85.encode(java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array())
    val dvFile = Paths.get(table.stripSuffix("/"), s"deletion_vector_$uuid.bin")
    val withDescriptors: Seq[(DeltaRead.LiveFile, DeletionVectors.Descriptor)] =
      affected.map { f =>
        val newPos = DeletionVectors.fromBlob(newBlobs(norm(f.path)))
        val allPos = f.dv match {
          case Some(prev) =>
            (DeletionVectors.expandedPositions(table, prev) ++ newPos)
              .distinct.sorted
          case None => newPos
        }
        val blob = DeletionVectors.toBlob(allPos)
        val off = DeletionVectors.appendToFile(dvFile, blob)
        f -> DeletionVectors.Descriptor("u", uuidZ85, Some(off), blob.length, allPos.length.toLong)
      }

    // protocol upgrade on first DV use; an upgrade must carry the table's
    // existing features forward (legacy column mapping becomes explicit)
    val protoUp =
      if (snap0.minReaderVersion >= 3 && snap0.readerFeatures.contains("deletionVectors")) Seq.empty
      else {
        val feats = (snap0.readerFeatures ++
          (if (snap0.columnMappingMode != "none") Set("columnMapping") else Set.empty) +
          "deletionVectors").toSeq.sorted
        val fjson = feats.map(jsonStr).mkString("[", ",", "]")
        Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":$fjson,"writerFeatures":$fjson}}""")
      }
    val actions = protoUp ++ withDescriptors.flatMap { case (f, d) =>
      val rel = relPath(table, f.path)
      val off = d.offset.get
      // stats carried VERBATIM through the DV re-add: a deletion vector
      // never touches the physical file, so numRecords stays the physical
      // count and min/max stay valid (possibly non-tight) bounds
      val st = f.stats.map(s => s""","stats":${jsonStr(s)}""").getOrElse("")
      Seq(
        removeAction(rel, dataChange = true),
        s"""{"add":{"path":${jsonStr(rel)},"partitionValues":${pvJson(f.partitionValues)},"size":${f.size},""" +
          s""""modificationTime":${f.modificationTime},"dataChange":true$st,""" +
          s""""deletionVector":{"storageType":"u","pathOrInlineDv":${jsonStr(d.pathOrInlineDv)},""" +
          s""""offset":$off,"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}}}""")
    }
    val dvAt0: Map[String, Option[DeletionVectors.Descriptor]] =
      affected.map(f => norm(f.path) -> f.dv).toMap
    Some((actions, dvAt0, affected.map(f => norm(f.path))))
  }

  /** Optimistic-commit loop for DV-bearing commits: every affected file
    * must still be live AND still carry the DV descriptor its union was
    * computed against — a concurrent deleteWhere that re-added the file
    * with a new DV would be silently undone (its deleted rows resurrected)
    * if this commit's pre-race union overwrote it. */
  private def commitDvGuarded(spark: SparkSession, table: String, content: String,
      dvAt0: Map[String, Option[DeletionVectors.Descriptor]],
      affectedPaths: Seq[String]): Long = {
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    commitLoop(spark, table) { snap =>
      val liveNow = snap.files.map(f => norm(f.path) -> f.dv).toMap
      val gone = affectedPaths.filterNot(liveNow.contains)
      require(gone.isEmpty,
        s"concurrent commit removed ${gone.mkString(",")} while the delete ran — " +
          "rerun against the new snapshot")
      val dvMoved = dvAt0.collect { case (p, d0) if liveNow(p) != d0 => p }
      require(dvMoved.isEmpty,
        s"concurrent deleteWhere updated the deletion vector of ${dvMoved.mkString(",")} " +
          "while this delete ran — rerun against the new snapshot")
      Some(content)
    }
  }

  /** MERGE-style UPSERT: rows of the current snapshot whose `keyCols`
    * match a row of `df` are DV-deleted and all of `df` is appended — the
    * whole merge is ONE atomic commit (remove+add-with-DV for matched
    * files plus the new adds), so readers see either the old or the new
    * state of every key, never a mix. Unmatched incoming keys are plain
    * inserts. Returns the committed version.
    *
    * Scale: the match is one distributed semi-join of the table scan
    * against the (deduplicated, usually broadcast-sized) incoming key set;
    * per-file DV bitmaps are built on the executors exactly as
    * [[deleteWhere]]'s. Nothing O(table) reaches the driver. */
  def upsert(spark: SparkSession, df: DataFrame, table: String,
      keyCols: Seq[String]): Long = {
    require(currentVersions(spark, table).nonEmpty,
      s"upsert into non-existent table $table — use append")
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} not all present in ${df.columns.mkString(",")}")
    val snap0 = DeltaRead.snapshotInfo(spark, table)
    require(snap0.schema.fieldNames.sorted.sameElements(df.schema.fieldNames.sorted),
      s"upsert schema ${df.schema.fieldNames.mkString(",")} does not match table " +
        s"schema ${snap0.schema.fieldNames.mkString(",")}")
    enforceConstraints(snap0, df)

    // matched = table rows whose key tuple appears in df (null-safe)
    val lineage = DeltaRead.snapshotWithLineage(spark, table)
    val keys = broadcast(df.select(keyCols.map(col): _*).distinct())
    val cond = keyCols.map(c => lineage(c) <=> keys(c)).reduce(_ && _)
    val matched = lineage.join(keys, cond, "left_semi")
      .select(col("_file"), col("_pos"))
    val plan = dvDeletePlan(spark, table, snap0, matched)

    val (sdf, sparts) = toPhysical(snap0, df)
    val adds = writeFiles(sdf, table, sparts)
    plan match {
      case None => // pure insert: no DV guard needed, adds commute
        commitNext(spark, table, adds.mkString("", "\n", "\n"))
      case Some((dvActions, dvAt0, affectedPaths)) =>
        commitDvGuarded(spark, table, (dvActions ++ adds).mkString("", "\n", "\n"),
          dvAt0, affectedPaths)
    }
  }

  /** Apply a CHANGELOG (rows + `_change_type` 'insert' | 'delete' — the
    * shape [[DeltaRead.changesBetween]] / [[IcebergRead.changesBetween]]
    * emit) to a KEYED table in ONE atomic commit: every affected key's
    * current row is DV-deleted and the change set's insert rows are
    * appended — delete-only keys vanish, updated keys swap, new keys
    * insert. Readers see the old or the new state of every key, never a
    * mix. This is incremental materialized-view maintenance: a downstream
    * table follows an upstream one by periodically applying
    * `changesBetween(lastSynced, current)` instead of full rebuilds.
    *
    * Scale: one distributed semi-join of the table scan against the
    * (deduplicated, broadcast) affected-key set; executor-built DV
    * bitmaps; nothing O(table) on the driver — [[upsert]]'s cost shape
    * plus nothing. */
  def applyChanges(spark: SparkSession, changes0: DataFrame, table: String,
      keyCols: Seq[String], txn: Option[(String, Long)] = None): Long = {
    require(currentVersions(spark, table).nonEmpty,
      s"applyChanges into non-existent table $table")
    require(changes0.columns.contains("_change_type"),
      "changes must carry _change_type ('insert' | 'delete') — the changesBetween shape")
    // consumed three times (empty probe, DV-delete semi-join, insert
    // write) — materialize the changelog plan once
    val changes = changes0.localCheckpoint()
    val dataCols = changes.columns.filterNot(_ == "_change_type").toSeq
    require(keyCols.nonEmpty && keyCols.forall(dataCols.contains),
      s"key columns ${keyCols.mkString(",")} not all present in ${dataCols.mkString(",")}")
    val snap0 = DeltaRead.snapshotInfo(spark, table)
    require(snap0.schema.fieldNames.sorted.sameElements(dataCols.sorted),
      s"changes schema ${dataCols.mkString(",")} does not match table " +
        s"schema ${snap0.schema.fieldNames.mkString(",")}")
    val inserts = changes.where(col("_change_type") === "insert")
      .select(dataCols.map(col): _*)
    val affected = broadcast(changes.select(keyCols.map(col): _*).distinct())
    // empty changelog = already in sync: no commit at all
    if (affected.isEmpty) return snap0.version
    val lineage = DeltaRead.snapshotWithLineage(spark, table)
    val cond = keyCols.map(c => lineage(c) <=> affected(c)).reduce(_ && _)
    val matched = lineage.join(affected, cond, "left_semi")
      .select(col("_file"), col("_pos"))
    val plan = dvDeletePlan(spark, table, snap0, matched)
    val (sIns, sParts) = toPhysical(snap0, inserts)
    val adds = writeFiles(sIns, table, sParts)
    // optional high-water mark ((appId, version) txn action) riding the
    // SAME commit — sync bookkeeping is atomic with the apply
    val txnActions = txn.toSeq.map { case (appId, v) =>
      s"""{"txn":{"appId":${jsonStr(appId)},"version":$v,"lastUpdated":${System.currentTimeMillis()}}}"""
    }
    plan match {
      case None => commitNext(spark, table, (txnActions ++ adds).mkString("", "\n", "\n"))
      case Some((dvActions, dvAt0, affectedPaths)) =>
        commitDvGuarded(spark, table,
          (txnActions ++ dvActions ++ adds).mkString("", "\n", "\n"),
          dvAt0, affectedPaths)
    }
  }

  /** Write a checkpoint parquet consolidating the latest snapshot, plus the
    * `_last_checkpoint` pointer — bounds future log replay, exactly as
    * Delta's own checkpointing does. */
  def checkpoint(spark: SparkSession, table: String): Long = {
    import spark.implicits._
    val snap = DeltaRead.snapshotInfo(spark, table)
    val schemaJson = snap.schema.json
    // txn high-water marks must survive into the checkpoint, or a cleaned
    // log would erase the streaming sink's replay guard
    val txns = DeltaRead.txnVersions(spark, table).toSeq
    val none5 = (None: Option[String], None: Option[String], None: Option[Int],
      None: Option[Int], None: Option[Long])
    val rows = ("protocol", null: String, null: Map[String, String], null: String, null: String, 0L, 0L, 0L, none5, null: String) +:
      ("meta", null: String, null: Map[String, String], schemaJson, null: String, 0L, 0L, 0L, none5, null: String) +:
      (snap.files.map { f =>
        val rel = relPath(table, f.path)
        // DV descriptors must survive into the checkpoint or a cleaned log
        // would resurrect every DV-deleted row; stats likewise, or replay
        // from a checkpoint would lose every file's skipping bounds
        val dv = f.dv.map(d => (Some(d.storageType), Some(d.pathOrInlineDv),
          d.offset, Some(d.sizeInBytes), Some(d.cardinality))).getOrElse(none5)
        ("add", rel, f.partitionValues, null: String, null: String, 0L, f.size, f.modificationTime, dv, f.stats.orNull)
      } ++ txns.map { case (appId, v) =>
        ("txn", null: String, null: Map[String, String], null: String, appId, v, 0L, 0L, none5, null: String)
      })
    // add rows carry the spec-required size/modificationTime/dataChange —
    // a checkpoint whose adds lack them is rejected by stock Delta readers
    val readerFeats =
      if (snap.readerFeatures.nonEmpty) typedLit(snap.readerFeatures.toSeq.sorted)
      else lit(null).cast("array<string>")
    val cp = rows.toDF("kind", "path", "pv", "ss", "appId", "tver", "sz", "mt", "dv", "st").select(
      when($"kind" === "protocol", struct(
        lit(snap.minReaderVersion).as("minReaderVersion"),
        lit(if (snap.readerFeatures.nonEmpty) 7 else 2).as("minWriterVersion"),
        readerFeats.as("readerFeatures"),
        // spec: writerFeatures is REQUIRED at minWriterVersion 7 — a
        // checkpoint whose protocol omits it is malformed to stock readers
        // (null when no features: the field must then be absent/NULL, as at
        // writer version 2)
        readerFeats.as("writerFeatures"))).as("protocol"),
      when($"kind" === "meta", struct(
        lit(if (snap.metaId.nonEmpty) snap.metaId else "graft-checkpoint").as("id"),
        $"ss".as("schemaString"),
        typedLit(snap.partitionColumns).as("partitionColumns"),
        struct(lit("parquet").as("provider")).as("format"),
        // the whole configuration survives, or a replay from the checkpoint
        // loses the column-mapping mode, CHECK constraints and properties
        typedLit(snap.configuration).as("configuration"))).as("metaData"),
      when($"kind" === "add", struct($"path".as("path"), $"pv".as("partitionValues"),
        $"sz".as("size"), $"mt".as("modificationTime"),
        lit(true).as("dataChange"), $"st".as("stats"),
        when($"dv._1".isNotNull, struct(
          $"dv._1".as("storageType"), $"dv._2".as("pathOrInlineDv"),
          $"dv._3".as("offset"), $"dv._4".as("sizeInBytes"),
          $"dv._5".as("cardinality"))).as("deletionVector"))).as("add"),
      when($"kind" === "txn", struct($"appId".as("appId"), $"tver".as("version"))).as("txn"))
    // staged under a hidden name inside _delta_log (no log listing sees
    // it), then claimed: readers see the whole checkpoint or none, and a
    // lost claim means this version is already checkpointed
    val name = f"${snap.version}%020d.checkpoint.parquet"
    val stage = logDir(table).resolve(s".$name.${java.util.UUID.randomUUID()}.tmp").toFile
    try {
      cp.coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      LakeLog.claim(logDir(table), name, part.toPath)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stage)
    LakeLog.replace(logDir(table), "_last_checkpoint",
      s"""{"version":${snap.version},"size":${rows.size}}""")
    snap.version
  }
}
