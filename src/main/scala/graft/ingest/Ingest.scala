package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-file arrival metadata (C1) — the reference's StagingEngine computed
  * name/size/hash/arrival per S3 object event; here one Spark job captures
  * the same for every file in a landing dir. */
case class FileMeta(
    path: String,
    name: String,
    size: Long,
    modification_time: java.sql.Timestamp,
    content_hash: String)

/** Registered data-source config (C2/C3/C5/C9) — the reference kept these
  * in a DynamoDB table keyed by source name. */
case class SourceConfig(
    name: String,
    format: String, // csv | json | parquet
    requiredColumns: Seq[String],
    schemaDdl: String, // declared schema as DDL, e.g. "id INT, name STRING"
    partitionBy: Seq[String],
    retentionDays: Int)

/** Catalog entry (C6) — the reference's DynamoDB item per staged file,
  * streamed to Elasticsearch; here a row in the catalog table. */
case class CatalogEntry(
    source: String,
    raw_path: String,
    content_hash: String,
    status: String, // success | failed | expired
    reason: String,
    arrival_ts: java.sql.Timestamp,
    staged_path: String,
    num_rows: Long)

/** Java-serializable carrier for a Hadoop Configuration (which is Writable
  * but not Serializable) — Spark's own equivalent is private[spark]. */
private[graft] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object Manifest {
  /** C1: capture arrival metadata for every file under `dir`, hashing each
    * file in a fixed-size streaming window (8 KiB buffer) inside
    * mapPartitions — constant executor memory regardless of file size
    * (`binaryFile` + `md5(content)` would materialize whole files; a 10 GB
    * landing object must not OOM a task). Listing is tiny (one row per
    * file) and the hash work distributes across the cluster. */
  def capture(spark: SparkSession, dir: String): Dataset[FileMeta] = {
    import spark.implicits._
    val paths = spark.read.format("binaryFile")
      .load(dir)
      .select(col("path"), col("length"), col("modificationTime"))
      .as[(String, Long, java.sql.Timestamp)]
    // Ship the SESSION's Hadoop conf to executors (spark.hadoop.* —
    // s3a credentials/endpoints etc. — are only in the session conf; a
    // bare `new Configuration()` sees classpath defaults and fails auth).
    val hconf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    paths.repartition(col("path")).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (path, size, mtime) =>
        md.reset()
        // Hadoop FS API → scheme-agnostic (file://, hdfs://, s3a://)
        val hPath = new org.apache.hadoop.fs.Path(path)
        val fs = hPath.getFileSystem(hconf.value.value)
        val in = fs.open(hPath)
        try {
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) {
            if (n > 0) md.update(buf, 0, n)
            n = in.read(buf)
          }
        } finally in.close()
        val hash = md.digest().map("%02x".format(_)).mkString
        FileMeta(path, path.substring(path.lastIndexOf('/') + 1), size, mtime, hash)
      }
    }
  }
}

object Validate {
  /** C2: required-attribute validation. Returns (valid, rejected) — rejected
    * rows carry a `reason` column, mirroring the reference's Failed bucket +
    * reason notification. */
  def requiredColumns(df: DataFrame, cfg: SourceConfig): (DataFrame, DataFrame) = {
    val missing = cfg.requiredColumns.filterNot(df.columns.contains)
    if (missing.nonEmpty) {
      val rejected = df.withColumn("reason", lit(s"missing columns: ${missing.mkString(",")}"))
      (df.limit(0), rejected)
    } else {
      val nullCond = cfg.requiredColumns.map(c => col(c).isNull).reduce(_ || _)
      val reasonExpr = concat_ws(",",
        cfg.requiredColumns.map(c => when(col(c).isNull, lit(s"null $c"))): _*)
      (df.where(!nullCond), df.where(nullCond).withColumn("reason", reasonExpr))
    }
  }

  /** C3: schema conformance — cast conformable columns to the declared
    * type, reject the frame when a declared column is absent. Extra columns
    * are dropped (declared schema is authoritative, as in the reference's
    * metadata validation). */
  def conformSchema(df: DataFrame, declared: StructType): Either[String, DataFrame] = {
    val missing = declared.fields.map(_.name).filterNot(df.columns.contains)
    if (missing.nonEmpty) Left(s"missing columns: ${missing.mkString(",")}")
    else Right(df.select(declared.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
  }
}

object Stage {
  /** C4: content-hash dedup — drop files whose hash is already SUCCESSFULLY
    * staged (left_anti against the catalog's success entries — a failed or
    * expired entry must not block re-ingestion of a fixed/re-arriving file)
    * AND keep a single representative per hash within the incoming batch
    * itself (first by path), so two identical files arriving together
    * stage once. */
  def dedupeByHash(manifest: Dataset[FileMeta], catalog: DataFrame): Dataset[FileMeta] = {
    import manifest.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val staged =
      if (catalog.columns.contains("status")) catalog.where(col("status") === "success")
      else catalog
    val seen = if (staged.isEmpty) catalog.sparkSession.emptyDataFrame
      .withColumn("content_hash", lit("")).select("content_hash")
    else staged.select("content_hash").distinct()
    val w = Window.partitionBy(col("content_hash")).orderBy(col("path"))
    manifest.join(seen, Seq("content_hash"), "left_anti")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .as[FileMeta]
  }

  /** C5: move to staging under the source's partitioned key layout
    * (the reference's `source/table/date=…` staging-bucket structure). */
  def stage(df: DataFrame, cfg: SourceConfig, stagingRoot: String): String = {
    val target = s"$stagingRoot/${cfg.name}"
    val writer = df.write.mode("append")
    (if (cfg.partitionBy.nonEmpty) writer.partitionBy(cfg.partitionBy: _*) else writer)
      .parquet(target)
    target
  }

  /** Schema-evolving read of a staged table: batches written before a
    * source added columns coexist with later ones; `mergeSchema` unions the
    * per-file schemas and fills missing columns with NULL — the standard
    * additive-evolution contract (drops/renames still go through
    * [[Validate.conformSchema]] rejection). */
  def readStaged(spark: SparkSession, cfg: SourceConfig, stagingRoot: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$stagingRoot/${cfg.name}")
}

/** C6/C7/C9: the catalog is a Parquet table with an append-only JSON
  * transaction log (Delta-paper pattern, PAPERS.md): each commit adds a
  * version file listing the parquet parts it added, claimed through
  * [[graft.sources.LakeLog.claim]] like the lake tables' logs; readers
  * reconstruct the table as the union of all live parts. No second system —
  * "indexing into Elasticsearch" (C7) becomes plain Spark SQL over this
  * table. */
class Catalog(spark: SparkSession, root: String) {
  import java.nio.file.{Files, Paths}
  private val logDir = Paths.get(root, "_txn_log")
  private val dataDir = Paths.get(root, "data")

  private def versions: Seq[java.nio.file.Path] =
    if (!Files.isDirectory(logDir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      // Files.list holds a directory fd until closed — this runs on every
      // commit-loop iteration, so a leak here exhausts ulimit under load
      val s = Files.list(logDir)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.endsWith(".json")).sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Live parquet part paths from the log (add entries minus remove
    * entries), replayed up to `atVersion` inclusive (-1 = latest). */
  def liveParts(atVersion: Int = -1): Seq[String] = {
    val adds = scala.collection.mutable.LinkedHashSet[String]()
    val upTo = if (atVersion < 0) versions else versions.take(atVersion + 1)
    upTo.foreach { v =>
      Files.readAllLines(v).forEach { line =>
        if (line.startsWith("add:")) adds += line.stripPrefix("add:")
        else if (line.startsWith("remove:")) adds -= line.stripPrefix("remove:")
      }
    }
    adds.toSeq
  }

  /** Time travel: the catalog as of log version `v` (0-based). Snapshot
    * isolation falls out of the append-only log — old parts are never
    * rewritten, only de-referenced. */
  def tableAt(v: Int): DataFrame = {
    import spark.implicits._
    val parts = liveParts(v)
    if (parts.isEmpty) spark.emptyDataset[CatalogEntry].toDF()
    else spark.read.parquet(parts: _*)
  }

  /** Put-if-absent claim of log version `version`: exactly one concurrent
    * claimant wins each number. */
  private def tryCommitAt(version: Int, content: String): Boolean =
    graft.sources.LakeLog.claim(logDir, f"$version%08d.json", content)

  /** C6: append entries as a new parquet part + commit a new log version.
    * A pure add commutes with ANY concurrent commit, so losing the version
    * race just means re-claiming the next number — no recomputation. */
  def append(entries: Dataset[CatalogEntry]): Unit = synchronized {
    Files.createDirectories(dataDir)
    val part = dataDir.resolve(s"part-${java.util.UUID.randomUUID()}")
    entries.toDF().coalesce(1).write.mode("overwrite").parquet(part.toString)
    while (!tryCommitAt(versions.size, s"add:$part\n")) {}
  }

  /** The catalog as a DataFrame (empty-but-typed when no commits yet). */
  def table(): DataFrame = {
    import spark.implicits._
    val parts = liveParts()
    if (parts.isEmpty) spark.emptyDataset[CatalogEntry].toDF()
    else spark.read.parquet(parts: _*)
  }

  /** C7: catalog search is plain SQL/DataFrame over the table. */
  def search(predicate: String): DataFrame = table().where(predicate)

  /** DESCRIBE HISTORY analog: one row per log version — commit time, the
    * operation kind inferred from its add/remove shape, and the part
    * counts. The log is the source of truth, so history is just a read. */
  def history(): DataFrame = {
    import spark.implicits._
    versions.zipWithIndex.map { case (p, v) =>
      val lines = Files.readAllLines(p)
      import scala.jdk.CollectionConverters._
      val adds = lines.asScala.count(_.startsWith("add:"))
      val removes = lines.asScala.count(_.startsWith("remove:"))
      val op =
        if (removes == 0 && adds > 0) "append"
        else if (removes > 0 && adds > 0) "rewrite" // upsert or compaction
        else "empty"
      (v, new java.sql.Timestamp(Files.getLastModifiedTime(p).toMillis), op, adds, removes)
    }.toDF("version", "commit_ts", "operation", "added_parts", "removed_parts")
  }

  /** Upsert (MERGE): update-or-insert whole entries by key, last-writer-wins
    * — the Delta-paper copy-on-write move. One pass tags every live row with
    * its physical file (`input_file_name`); only parts that actually contain
    * a matched key are rewritten (matched rows replaced, the rest of the
    * part copied); untouched parts keep their files byte-identical, and the
    * commit atomically swaps removed/added parts in the log. Readers of the
    * previous version are unaffected (snapshot isolation). At 100 TB the
    * rewrite cost is proportional to TOUCHED data, not table size. */
  def upsert(updates: Dataset[CatalogEntry],
      keyCols: Seq[String] = Seq("source", "raw_path")): Unit = synchronized {
    import spark.implicits._
    // Optimistic loop: read at version `base`, compute the rewrite, try to
    // claim `base` — a concurrent commit means the read was stale, so
    // re-read and recompute (orphaned merge parts from lost attempts are
    // unreferenced garbage, exactly as in the Delta protocol).
    var committed = false
    while (!committed) {
      val base = versions.size
      val parts = liveParts()
      val keyed = updates.toDF()
      // No empty-catalog fast path through append(): append re-claims the
      // NEXT version on a lost race, which for an upsert would commit a
      // stale read (two racing upserts of one key → duplicate keys). The
      // claim below is pinned to `base`, so a concurrent commit forces a
      // re-read instead.
      val touchedParts =
        if (parts.isEmpty) Seq.empty[String]
        else {
          val cur = spark.read.parquet(parts: _*).withColumn("__file", input_file_name())
          val touchedFiles = cur
            .join(broadcast(keyed.select(keyCols.map(col): _*).distinct()), keyCols)
            .select("__file").distinct().as[String].collect()
            .map(f => java.nio.file.Paths.get(new java.net.URI(f).getPath))
          parts.filter(p => touchedFiles.exists(_.startsWith(Paths.get(p).toAbsolutePath)))
        }
      val survivors =
        if (touchedParts.isEmpty) spark.emptyDataset[CatalogEntry].toDF()
        else spark.read.parquet(touchedParts: _*)
          .join(broadcast(keyed.select(keyCols.map(col): _*).distinct()), keyCols, "left_anti")
      val rewritten = survivors.unionByName(keyed)
      val part = dataDir.resolve(s"merge-${java.util.UUID.randomUUID()}")
      rewritten.coalesce(1).write.mode("overwrite").parquet(part.toString)
      committed = tryCommitAt(base,
        (touchedParts.map(p => s"remove:$p") :+ s"add:$part").mkString("", "\n", "\n"))
    }
  }

  /** Change data feed (Delta CDF analog): row-level changes between the
    * snapshots at two log versions, computed purely from the part diff —
    * no change files are written at commit time. Rows a rewrite copied
    * verbatim (upsert survivors, compaction output) appear in BOTH the
    * removed and added part sets and cancel in the multiset `exceptAll`,
    * so only real changes surface; a pure compaction window yields an
    * empty feed. Keys present on both sides are classified as
    * update_preimage/update_postimage, added-only as insert, removed-only
    * as delete. Cost ∝ parts touched in the window, not table size. */
  def changes(fromVersion: Int, toVersion: Int = -1,
      keyCols: Seq[String] = Seq("source", "raw_path")): DataFrame = {
    import spark.implicits._
    val before = liveParts(fromVersion).toSet
    val after = liveParts(toVersion).toSet
    def readParts(parts: Set[String]) =
      if (parts.isEmpty) spark.emptyDataset[CatalogEntry].toDF()
      else spark.read.parquet(parts.toSeq: _*)
    // each frame below is consumed 2-3 times (semi/anti branches + the key
    // intersect) — materialize once or the part scans and exceptAll
    // shuffles recompute per consumer (~5 scans per collect). The part
    // READS are checkpointed first: both exceptAll lineages consume both
    // sides, so checkpointing only the exceptAll results would still scan
    // each part set twice.
    val addedRows = readParts(after -- before).localCheckpoint()
    val removedRows = readParts(before -- after).localCheckpoint()
    val inserted = addedRows.exceptAll(removedRows).localCheckpoint()
    val deleted = removedRows.exceptAll(addedRows).localCheckpoint()
    // NB: updKeys is broadcast — bounded by rows UPDATED in the window, not
    // table size; a window spanning a huge upsert should read the feed in
    // smaller version windows (documented trade, matches the cost contract)
    val updKeys =
      inserted.select(keyCols.map(col): _*).intersect(deleted.select(keyCols.map(col): _*))
        .localCheckpoint()
    inserted.join(broadcast(updKeys), keyCols, "left_semi")
      .withColumn("_change_type", lit("update_postimage"))
      .unionByName(inserted.join(broadcast(updKeys), keyCols, "left_anti")
        .withColumn("_change_type", lit("insert")))
      .unionByName(deleted.join(broadcast(updKeys), keyCols, "left_semi")
        .withColumn("_change_type", lit("update_preimage")))
      .unionByName(deleted.join(broadcast(updKeys), keyCols, "left_anti")
        .withColumn("_change_type", lit("delete")))
  }

  /** Compaction (Delta-paper maintenance): rewrite all live parts into one
    * and commit a version that removes the old parts — readers before the
    * commit still see the old parts (snapshot isolation via the log); the
    * log itself stays append-only. At 100 TB this bounds the
    * many-small-parts listing cost that per-batch appends accumulate. */
  def compact(): Unit = synchronized {
    // Same optimistic read-compute-claim loop as upsert.
    var done = false
    while (!done) {
      val base = versions.size
      val parts = liveParts()
      if (parts.size <= 1) return
      val merged = dataDir.resolve(s"compact-${java.util.UUID.randomUUID()}")
      spark.read.parquet(parts: _*).coalesce(1)
        .write.mode("overwrite").parquet(merged.toString)
      done = tryCommitAt(base,
        (parts.map(p => s"remove:$p") :+ s"add:$merged").mkString("", "\n", "\n"))
    }
  }

  /** C9: retention — mark entries older than the source's retention as
    * expired. An UPSERT by key (not an append): the tombstone must
    * supersede the success row, or the next expire() pass re-matches the
    * still-live original and appends the same tombstone forever, and
    * `search("status = 'success'")` keeps returning expired files.
    * Data-dir deletion is the caller's move — the log stays the source of
    * truth. */
  def expire(cfg: SourceConfig, now: java.sql.Timestamp): Dataset[CatalogEntry] = {
    import spark.implicits._
    val cutoff = new java.sql.Timestamp(now.getTime - cfg.retentionDays * 86400000L)
    val expired = table()
      .where(col("source") === cfg.name && col("status") === "success" &&
        col("arrival_ts") < lit(cutoff))
      .as[CatalogEntry]
      .map(e => e.copy(status = "expired", reason = s"retention ${cfg.retentionDays}d"))
      // materialize BEFORE the upsert: the plan reads table(), which after
      // the commit no longer contains these rows as status='success'
      .localCheckpoint()
    if (!expired.isEmpty) upsert(expired)
    expired
  }
}

/** C8: notifications — the reference published SNS success/failure; here an
  * append-only notifications table (same log pattern) + console echo. */
class Notifier(spark: SparkSession, root: String) {
  private val dir = java.nio.file.Paths.get(root, "notifications")
  def notify(source: String, status: String, detail: String): Unit = {
    import spark.implicits._
    java.nio.file.Files.createDirectories(dir)
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    Seq((source, status, detail, ts)).toDF("source", "status", "detail", "ts")
      .coalesce(1).write.mode("append").parquet(dir.toString)
  }
  def all(): DataFrame = spark.read.parquet(dir.toString)
}

/** E1′ (SURVEY.md §3.2): the end-to-end ingestion pipeline — streaming file
  * discovery over a landing dir, then per-batch validate → dedupe → stage →
  * record → notify inside foreachBatch (ST7). */
object IngestPipeline {
  def runOnce(spark: SparkSession, landingDir: String, cfg: SourceConfig,
      warehouseRoot: String): Catalog = {
    import spark.implicits._
    val catalog = new Catalog(spark, s"$warehouseRoot/catalog")
    val notifier = new Notifier(spark, warehouseRoot)
    val manifest = Manifest.capture(spark, landingDir)
    val fresh = Stage.dedupeByHash(manifest, catalog.table())
    val declared = StructType.fromDDL(cfg.schemaDdl)
    // collect() here materializes one row PER FILE (arrival metadata), not
    // per data row — per-file validity/lineage is inherently a per-file
    // decision (the reference ran one Lambda per file); the row-level work
    // below stays distributed.
    val entries = fresh.collect().toSeq.map { fm =>
      val raw = cfg.format match {
        case "csv"  => spark.read.option("header", "true").schema(declared).csv(fm.path)
        case "json" => spark.read.schema(declared).json(fm.path)
        case _      => spark.read.parquet(fm.path)
      }
      val (valid, rejected) = Validate.requiredColumns(raw, cfg)
      val nRejected = rejected.count()
      val nValid = valid.count()
      if (nRejected > 0 || nValid == 0) {
        notifier.notify(cfg.name, "failed", s"${fm.name}: $nRejected invalid rows")
        CatalogEntry(cfg.name, fm.path, fm.content_hash, "failed",
          s"$nRejected invalid rows", fm.modification_time, "", nValid)
      } else {
        val staged = Stage.stage(valid, cfg, s"$warehouseRoot/staging")
        notifier.notify(cfg.name, "success", s"${fm.name}: $nValid rows")
        CatalogEntry(cfg.name, fm.path, fm.content_hash, "success", "",
          fm.modification_time, staged, nValid)
      }
    }
    // upsert, not append: a failed file re-attempts on every run (only
    // SUCCESS hashes block re-ingestion), so its entry must replace the
    // previous attempt's rather than accumulate one row per run
    if (entries.nonEmpty) catalog.upsert(spark.createDataset(entries))
    catalog
  }

  /** Continuous variant (ST7 foreachBatch): streaming file discovery over
    * the landing dir; each micro-batch is validated, staged partitioned,
    * and cataloged. AvailableNow drains the backlog then stops — the same
    * query runs unbounded in production. */
  def stream(spark: SparkSession, landingDir: String, cfg: SourceConfig,
      warehouseRoot: String): Unit = {
    import spark.implicits._
    val catalog = new Catalog(spark, s"$warehouseRoot/catalog")
    val declared = StructType.fromDDL(cfg.schemaDdl)
    val src = cfg.format match {
      case "csv"  => spark.readStream.option("header", "true").schema(declared).csv(landingDir)
      case "json" => spark.readStream.schema(declared).json(landingDir)
      case _      => spark.readStream.schema(declared).parquet(landingDir)
    }
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is at-least-once: a crash after the catalog commit
        // but before the checkpoint offset commit replays this batchId —
        // the catalog entry keyed by batchId is the idempotency guard
        // (standard pattern), so such a replay neither re-stages nor
        // re-catalogs. A crash BETWEEN Stage.stage and catalog.append still
        // double-stages; closing that window needs transactional staging
        // (the Catalog's log pattern applied to the data itself).
        val already = !catalog.table()
          .where(col("source") === cfg.name &&
            col("raw_path") === s"stream-batch-$batchId")
          .isEmpty
        if (!already) {
          val (valid, rejected) = Validate.requiredColumns(batch, cfg)
          val nValid = valid.count()
          val staged = if (nValid > 0) Stage.stage(valid, cfg, s"$warehouseRoot/staging") else ""
          val ts = new java.sql.Timestamp(System.currentTimeMillis())
          catalog.append(spark.createDataset(Seq(CatalogEntry(
            cfg.name, s"stream-batch-$batchId", "", "success",
            s"rejected=${rejected.count()}", ts, staged, nValid))))
        }
        ()
      }
      .option("checkpointLocation", s"$warehouseRoot/_checkpoints/${cfg.name}")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
