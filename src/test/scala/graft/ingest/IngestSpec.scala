package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** C1–C9 golden-flow tests (SURVEY.md §2.9/§5): landing dir with a valid
  * file, an invalid file, and a duplicate-content file driven through the
  * full pipeline; catalog/lineage/notification/retention assertions. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkLanding(): String = {
    val dir = Files.createTempDirectory("graft_landing")
    Files.writeString(dir.resolve("a.csv"), "id,name,grp\n1,alpha,x\n2,beta,y\n")
    Files.writeString(dir.resolve("b.csv"), "id,name,grp\n1,alpha,x\n2,beta,y\n") // dup content of a
    Files.writeString(dir.resolve("c.csv"), "id,name,grp\n,broken,x\n3,gamma,z\n") // null id row
    dir.toString
  }

  private val cfg = SourceConfig(
    name = "testsrc", format = "csv",
    requiredColumns = Seq("id", "name"),
    schemaDdl = "id INT, name STRING, grp STRING",
    partitionBy = Seq("grp"), retentionDays = 30)

  test("C1 manifest captures size and content hash per file") {
    val landing = mkLanding()
    val m = Manifest.capture(spark, landing).collect()
    assert(m.length === 3)
    val byName = m.map(f => f.name -> f).toMap
    assert(byName("a.csv").content_hash === byName("b.csv").content_hash)
    assert(byName("a.csv").content_hash !== byName("c.csv").content_hash)
    assert(byName("a.csv").size > 0)
  }

  test("C2 required-column validation splits valid and rejected rows with reasons") {
    val df = Seq((Some(1), "x"), (None, "y")).toDF("id", "name")
    val (valid, rejected) = Validate.requiredColumns(df, cfg.copy(requiredColumns = Seq("id")))
    assert(valid.count() === 1)
    val r = rejected.select("reason").as[String].collect()
    assert(r.toSeq === Seq("null id"))
  }

  test("C3 schema conformance casts conformable frames and rejects drift") {
    val ok = Validate.conformSchema(Seq(("1", "x")).toDF("id", "name"),
      StructType.fromDDL("id INT, name STRING"))
    assert(ok.isRight)
    assert(ok.toOption.get.schema("id").dataType.typeName === "integer")
    val drift = Validate.conformSchema(Seq((1, "x")).toDF("id", "other"),
      StructType.fromDDL("id INT, name STRING"))
    assert(drift.isLeft)
  }

  test("E1' pipeline: validate, dedupe, stage partitioned, catalog, notify, idempotent rerun") {
    val landing = mkLanding()
    val warehouse = Files.createTempDirectory("graft_wh").toString
    val catalog = IngestPipeline.runOnce(spark, landing, cfg, warehouse)

    val entries = catalog.table().orderBy("raw_path").collect()
    // b.csv deduped away by content hash → 2 catalog entries
    assert(entries.length === 2)
    val statuses = catalog.table().select("status").as[String].collect().sorted.toSeq
    assert(statuses === Seq("failed", "success"))

    // staged data is partitioned by grp and readable
    val staged = spark.read.parquet(s"$warehouse/staging/${cfg.name}")
    assert(staged.count() === 2) // only a.csv's rows
    assert(Files.isDirectory(Paths.get(s"$warehouse/staging/${cfg.name}/grp=x")))

    // notifications recorded for both outcomes
    val notes = new Notifier(spark, warehouse).all()
    assert(notes.count() === 2)

    // rerun: success hashes block re-staging (C4); the failed file
    // re-attempts but its entry is UPSERTED in place → still 2 entries
    IngestPipeline.runOnce(spark, landing, cfg, warehouse)
    assert(catalog.table().count() === 2)
    assert(spark.read.parquet(s"$warehouse/staging/${cfg.name}").count() === 2)

    // C7 search over the catalog is plain SQL
    assert(catalog.search("status = 'success'").count() === 1)

    // C9 retention: cutoff in the future expires the staged success entry
    val later = new java.sql.Timestamp(System.currentTimeMillis() + 90L * 86400000L)
    val expired = new Catalog(spark, s"$warehouse/catalog").expire(cfg, later)
    assert(expired.count() === 1)
    assert(catalog.table().where(col("status") === "expired").count() === 1)
  }

  test("C4/C9: a failed file re-ingests after a config fix; expire is idempotent") {
    val landing = Files.createTempDirectory("graft_refix").toString
    Files.writeString(Paths.get(landing, "d.csv"), "id,name,grp\n1,delta,x\n")
    val warehouse = Files.createTempDirectory("graft_refix_wh").toString
    // misconfigured: requires a column the file doesn't have → failed entry
    val bad = cfg.copy(requiredColumns = Seq("id", "name", "missing_col"))
    val catalog = IngestPipeline.runOnce(spark, landing, bad, warehouse)
    assert(catalog.search("status = 'failed'").count() === 1)
    // fixed config: the failed hash must NOT block re-ingestion
    IngestPipeline.runOnce(spark, landing, cfg, warehouse)
    assert(catalog.search("status = 'success'").count() === 1)
    assert(catalog.table().count() === 1) // upserted, not accumulated
    assert(spark.read.parquet(s"$warehouse/staging/${cfg.name}").count() === 1)

    // C9: expire supersedes the success row (upsert) — a second pass
    // finds nothing left to expire, and search no longer returns it
    val later = new java.sql.Timestamp(System.currentTimeMillis() + 90L * 86400000L)
    val cat = new Catalog(spark, s"$warehouse/catalog")
    assert(cat.expire(cfg, later).count() === 1)
    assert(cat.expire(cfg, later).count() === 0) // idempotent
    assert(cat.search("status = 'success'").count() === 0)
    assert(cat.table().count() === 1) // one expired row, no tombstone pile-up
    // an expired hash no longer blocks: the same file re-ingests
    IngestPipeline.runOnce(spark, landing, cfg, warehouse)
    assert(cat.search("status = 'success'").count() === 1)
  }

  test("E1' streaming variant: foreachBatch stages and catalogs micro-batches") {
    val landing = Files.createTempDirectory("graft_stream_landing")
    Files.writeString(landing.resolve("a.csv"), "id,name,grp\n1,alpha,x\n2,beta,y\n")
    val warehouse = Files.createTempDirectory("graft_stream_wh").toString
    IngestPipeline.stream(spark, landing.toString, cfg, warehouse)
    val cat = new Catalog(spark, s"$warehouse/catalog")
    assert(cat.table().where(col("status") === "success").count() === 1)
    assert(spark.read.parquet(s"$warehouse/staging/${cfg.name}").count() === 2)
    // second run with a NEW file: checkpoint skips the already-ingested one
    Files.writeString(landing.resolve("b.csv"), "id,name,grp\n3,gamma,z\n")
    IngestPipeline.stream(spark, landing.toString, cfg, warehouse)
    assert(spark.read.parquet(s"$warehouse/staging/${cfg.name}").count() === 3)
  }

  test("C6 txn log: appends are atomic versions and readers see the union") {
    val root = Files.createTempDirectory("graft_cat").toString
    val cat = new Catalog(spark, root)
    val now = new java.sql.Timestamp(0L)
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p1", "h1", "success", "", now, "st1", 10))))
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p2", "h2", "success", "", now, "st2", 20))))
    assert(cat.liveParts().size === 2)
    assert(cat.table().count() === 2)
    assert(Files.list(Paths.get(root, "_txn_log")).count() === 2)

    // time travel: version 0 sees only the first append
    assert(cat.tableAt(0).count() === 1)
    assert(cat.tableAt(0).select("raw_path").as[String].head() === "p1")

    // compaction merges live parts under a new log version; content unchanged
    cat.compact()
    assert(cat.liveParts().size === 1)
    assert(cat.table().count() === 2)
    assert(Files.list(Paths.get(root, "_txn_log")).count() === 3)
    // snapshots before the compaction still read the original parts
    assert(cat.tableAt(1).count() === 2)
    assert(cat.tableAt(0).count() === 1)
  }

  test("C6 commits are put-if-absent: a racing committer never loses an update") {
    val root = Files.createTempDirectory("graft_cat_race").toString
    val now = new java.sql.Timestamp(0L)
    // two INDEPENDENT catalog instances over the same root (synchronized is
    // per-instance, so these race on version numbers like two processes)
    val c1 = new Catalog(spark, root)
    val c2 = new Catalog(spark, root)
    c1.append(spark.createDataset(Seq(
      CatalogEntry("s", "p0", "h0", "success", "", now, "st", 1))))
    // plant the NEXT version file directly (a concurrent writer's commit
    // that c1 has not observed); a rename-based commit would overwrite it
    val planted = Paths.get(root, "_txn_log", "00000001.json")
    Files.writeString(planted, "") // empty commit: adds nothing, holds the slot
    val plantedTime = Files.getLastModifiedTime(planted)
    c1.append(spark.createDataset(Seq(
      CatalogEntry("s", "p1", "h1", "success", "", now, "st", 1))))
    // the planted commit survived byte-for-byte; c1's landed at version 2
    assert(Files.getLastModifiedTime(planted) === plantedTime)
    assert(Files.readString(planted) === "")
    assert(Files.exists(Paths.get(root, "_txn_log", "00000002.json")))
    assert(c2.table().count() === 2)

    // racing appends from both instances: all 6 land, no version collides
    (1 to 2).foreach { i =>
      val t1 = new Thread(() => c1.append(spark.createDataset(Seq(
        CatalogEntry("s", s"a$i", s"ha$i", "success", "", now, "st", 1)))))
      val t2 = new Thread(() => c2.append(spark.createDataset(Seq(
        CatalogEntry("s", s"b$i", s"hb$i", "success", "", now, "st", 1)))))
      t1.start(); t2.start(); t1.join(); t2.join()
    }
    assert(c1.table().count() === 6)
  }

  test("C6 history reflects every commit with its operation kind") {
    val root = Files.createTempDirectory("graft_cat_hist").toString
    val cat = new Catalog(spark, root)
    val now = new java.sql.Timestamp(0L)
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p1", "h1", "success", "", now, "st", 1))))
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p2", "h2", "success", "", now, "st", 1))))
    cat.compact()
    val hist = cat.history().orderBy($"version")
      .select($"version", $"operation", $"added_parts", $"removed_parts")
      .as[(Int, String, Int, Int)].collect().toSeq
    assert(hist === Seq((0, "append", 1, 0), (1, "append", 1, 0), (2, "rewrite", 1, 2)))
  }

  test("C5 staged reads merge additively evolved schemas") {
    val root = Files.createTempDirectory("graft_evolve").toString
    val cfgNoPart = cfg.copy(name = "evolving", partitionBy = Nil)
    Stage.stage(Seq((1, "alpha")).toDF("id", "name"), cfgNoPart, s"$root/staging")
    // the source later adds a column; old files lack it
    Stage.stage(Seq((2, "beta", "x")).toDF("id", "name", "grp"), cfgNoPart, s"$root/staging")
    val merged = Stage.readStaged(spark, cfgNoPart, s"$root/staging")
    assert(merged.columns.sorted.toSeq === Seq("grp", "id", "name"))
    val rows = merged.orderBy($"id").select($"id", $"name", $"grp").collect()
    assert(rows(0).getInt(0) === 1 && rows(0).isNullAt(2)) // old batch: NULL grp
    assert(rows(1).getString(2) === "x")
  }

  test("C6 upsert: copy-on-write merge rewrites only touched parts") {
    val root = Files.createTempDirectory("graft_cat_merge").toString
    val cat = new Catalog(spark, root)
    val now = new java.sql.Timestamp(0L)
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p1", "h1", "success", "", now, "st1", 10))))
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p2", "h2", "success", "", now, "st2", 20))))
    val untouched = cat.liveParts().head // holds p1 only

    // update p2's status, insert p3 — one merge
    cat.upsert(spark.createDataset(Seq(
      CatalogEntry("s", "p2", "h2", "expired", "retention", now, "st2", 20),
      CatalogEntry("s", "p3", "h3", "success", "", now, "st3", 30))))

    val t = cat.table()
    assert(t.count() === 3) // update did not duplicate, insert landed
    assert(t.where(col("raw_path") === "p2").select("status").as[String].head() === "expired")
    assert(t.where(col("raw_path") === "p3").count() === 1)
    // the part without matching keys survives un-rewritten
    assert(cat.liveParts().contains(untouched))
    // pre-merge snapshot still sees the old p2
    assert(cat.tableAt(1).where(col("raw_path") === "p2")
      .select("status").as[String].head() === "success")

    // upsert into an empty catalog is a plain insert
    val empty = new Catalog(spark, Files.createTempDirectory("graft_cat_e").toString)
    empty.upsert(spark.createDataset(Seq(
      CatalogEntry("s", "p9", "h9", "success", "", now, "st9", 1))))
    assert(empty.table().count() === 1)
  }

  test("C6 change feed: part-diff CDF surfaces only real changes; compaction is silent") {
    val root = Files.createTempDirectory("graft_cat_cdf").toString
    val cat = new Catalog(spark, root)
    val now = new java.sql.Timestamp(0L)
    cat.append(spark.createDataset(Seq(
      CatalogEntry("s", "p1", "h1", "success", "", now, "st1", 10),
      CatalogEntry("s", "p2", "h2", "success", "", now, "st2", 20)))) // v0
    cat.upsert(spark.createDataset(Seq(
      CatalogEntry("s", "p2", "h2", "expired", "retention", now, "st2", 20),
      CatalogEntry("s", "p3", "h3", "success", "", now, "st3", 30)))) // v1

    val feed = cat.changes(fromVersion = 0)
      .select(col("raw_path"), col("_change_type"), col("status"))
      .as[(String, String, String)].collect().toSet
    assert(feed === Set(
      ("p2", "update_preimage", "success"),
      ("p2", "update_postimage", "expired"),
      ("p3", "insert", "success"))) // p1 was copied, not changed — absent

    cat.compact() // v2: pure rewrite
    assert(cat.changes(fromVersion = 1).count() === 0)
    // full window (v0 → latest) equals the v0→v1 feed: compaction stays silent
    assert(cat.changes(fromVersion = 0).count() === 3)
  }

  test("C6 property: concurrent committers lose no updates, history stays linear") {
    // One Catalog INSTANCE per thread over the same root — the in-object
    // `synchronized` never arbitrates, so the put-if-absent hard-link claim
    // (tryCommitAt) is the only thing preventing lost updates, exactly as
    // with independent writer processes.
    val root = Files.createTempDirectory("graft_cat_conc").toString
    val now = new java.sql.Timestamp(0L)
    val nWriters = 6
    val perWriter = 4
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(nWriters)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until nWriters).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val cat = new Catalog(spark, root)
            start.await()
            (0 until perWriter).foreach { i =>
              if (w % 2 == 0) // appenders: unique path per commit
                cat.append(spark.createDataset(Seq(
                  CatalogEntry("s", s"app-$w-$i", s"h$w$i", "success", "", now, "st", 1))))
              else // upserters: each rewrites its OWN key with a new hash
                cat.upsert(spark.createDataset(Seq(
                  CatalogEntry("s", s"ups-$w", s"h$w-$i", "success", "", now, "st", 1))))
            }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, failures.toArray.mkString("; "))

    val cat = new Catalog(spark, root)
    // linear history: exactly one commit per version number, no gaps
    val nCommits = nWriters * perWriter
    assert(cat.history().count() === nCommits.toLong)
    val logFiles = Files.list(Paths.get(root, "_txn_log")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(logFiles).asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq.sorted
    assert(names === (0 until nCommits).map(v => f"$v%08d.json"))
    // every claim cleaned up its temp file, won or lost
    assert(new java.io.File(root, "_txn_log").list().filter(_.endsWith(".tmp")).isEmpty)
    // no lost appends: every appended path present exactly once
    val rows = cat.table().select($"raw_path", $"content_hash").as[(String, String)].collect()
    val appended = rows.filter(_._1.startsWith("app-")).map(_._1).sorted.toSeq
    assert(appended ===
      (0 until nWriters by 2).flatMap(w => (0 until perWriter).map(i => s"app-$w-$i")).sorted)
    // no lost upserts and no duplicate keys: each upserter's key appears
    // once, carrying its final (sequentially last) hash
    val upserted = rows.filter(_._1.startsWith("ups-")).toSeq.sorted
    assert(upserted ===
      (1 until nWriters by 2).map(w => (s"ups-$w", s"h$w-${perWriter - 1}")).sorted)
  }
}
