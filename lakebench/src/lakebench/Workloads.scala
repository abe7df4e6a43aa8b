package lakebench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{BucketedJoin, Layout}
import graft.queries.BenchQueries
import graft.sources.{DeltaWrite, IcebergRead, IcebergWrite, Lake}
import Harness.{dirBytes, files}

/** One workload: seeded inputs generated once as plain parquet, a set-up
  * that builds the workload's tables from them into a fresh directory
  * (the engine's layout and lake writes, timed as `setup_s`), an untimed
  * warm-up that also takes reference results, and a timed pass over its
  * op mix. Every seeded choice derives from `seed`. */
abstract class Workload(val h: Harness, val gen: Gen, val seed: Long) {
  def spark: SparkSession = h.spark
  def tracer: Tracer = h.tracer

  /** Writes the seeded inputs under `dir`; not timed. */
  def generate(dir: String): Unit
  def setup(dir: String): Unit
  def warmup(): Unit
  def pass(i: Int): Unit
  /** Op kinds whose latencies are pooled into `query_ms`. */
  def queryKinds: Set[String]
  /** End-of-run correctness checks (through [[Harness.check]]). */
  def finish(): Unit = ()
  /** Table-directory bytes over the bytes of the same rows as plain parquet. */
  def spaceAmp: Double

  protected def rng(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  /** Runs `tasks` concurrently on `n` threads and waits for all of them. */
  protected def parallel(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }
}

object Workload {
  /** Reduces every column to one (hash sum, row count) row: the whole
    * result is computed, the collect stays small, and equal multisets give
    * equal rows whatever the row order. */
  def forced(df: DataFrame): DataFrame =
    df.select(pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)), lit(1000000007L))
        .as("h"))
      .agg(sum(col("h")).as("hs"), count(lit(1)).as("n"))

  /** Transaction-log entries: Delta commit files or Iceberg snapshots. */
  def logEntries(path: String): Double =
    if (new java.io.File(s"$path/_delta_log").isDirectory)
      files(s"$path/_delta_log").count(_.getName.endsWith(".json")).toDouble
    else files(s"$path/metadata").count(_.getName.startsWith("snap-")).toDouble

  def apply(name: String, h: Harness, seed: Long): Workload = name match {
    case "scan_analytics" => new ScanAnalytics(h, new Gen(h.spark, seed, 0.01), seed)
    // the lake workloads use one year of order dates: twelve month
    // partitions in the month-partitioned Iceberg tables
    case "lake_reads" => new LakeReads(h, new Gen(h.spark, seed, 0.01, orderDays = 365), seed)
    case "ingest_merge" => new IngestMerge(h, new Gen(h.spark, seed, 0.02, orderDays = 365), seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload.{forced, logEntries}

/** b1–b15 over compacted parquet, in a seeded order each pass. Loads
  * Catalyst, scheduling and execution; no lake statement, metadata or
  * commit call is made. */
final class ScanAnalytics(h: Harness, gen: Gen, seed: Long) extends Workload(h, gen, seed) {
  private val tables =
    Seq("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")
  // the file counts graft.Bench compacts to
  private val targetFiles = Map("lineitem" -> 16, "orders" -> 8, "events" -> 16,
    "customer" -> 4, "documents" -> 8, "embeddings" -> 8)
  private var raw = ""
  private var dir = ""
  private val reference = mutable.HashMap.empty[String, Int]

  val queryKinds = Set("query")

  // one file per table, as the engine's fixtures are delivered
  def generate(d: String): Unit = {
    parallel(h.cores)(tables.map(n => () => gen.table(n).coalesce(1).write.parquet(s"$d/$n.parquet")))
    raw = d
  }

  // graft.Bench's layout step
  def setup(d: String): Unit = {
    parallel(h.cores)(tables.map(n => () =>
      Layout.compact(Tables(spark, raw, n), s"$d/$n.parquet", targetFiles.getOrElse(n, 1))))
    dir = d
  }

  private def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq.map(_.toString))

  // a query that fails here has no reference, so each timed run of it fails
  def warmup(): Unit = BenchQueries.headline.foreach { q =>
    scala.util.Try(digest(q.build(spark, dir).collect())).foreach(reference(q.name) = _)
  }

  def pass(i: Int): Unit = rng(i).shuffle(BenchQueries.headline).foreach { q =>
    h.query("query", q.name)(_ => q.build(spark, dir))(rows =>
      reference.get(q.name).contains(digest(rows)))
  }

  def spaceAmp: Double =
    tables.map(n => dirBytes(s"$dir/$n.parquet")).sum.toDouble /
      tables.map(n => dirBytes(s"$raw/$n.parquet")).sum
}

/** The rb1–rb4 routed shapes beside their shuffled twins, with seeded
  * custkey ranges and date cuts, plus seeded stats-pruned range scans of
  * a Delta and an Iceberg copy. The only workload whose wall time the
  * statement route and warm metadata replay gate. */
final class LakeReads(h: Harness, gen: Gen, seed: Long) extends Workload(h, gen, seed) {
  private var plain = ""
  private var root = ""
  private val lakeDirs = Seq("ord", "cust", "ord_day", "rng_delta", "rng_ice")

  val queryKinds = Set("routed", "shuffled", "scan_pruned")

  def generate(d: String): Unit = {
    gen.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .write.parquet(s"$d/orders")
    gen.customer.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.parquet(s"$d/customer")
    plain = d
  }

  def setup(d: String): Unit = {
    val orders = spark.read.parquet(s"$plain/orders")
    val customer = spark.read.parquet(s"$plain/customer")
    // range-clustered copies, so file stats can prune a custkey range
    val clustered = orders.repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey")
    parallel(h.cores)(Seq(
      () => {
        IcebergWrite.append(spark, orders, s"$d/ord", partitionBy = Seq("bucket(16, o_custkey)"))
        // a merge-on-read delete, so the masked scans are on the path
        IcebergWrite.deleteWhere(spark, s"$d/ord",
          pmod(col("o_orderkey"), lit(10)) === lit(java.lang.Math.floorMod(seed, 10L)))
      },
      () => IcebergWrite.append(spark, customer, s"$d/cust",
        partitionBy = Seq("bucket(16, c_custkey)")),
      () => IcebergWrite.append(spark, orders, s"$d/ord_day",
        partitionBy = Seq("month(o_orderdate)", "bucket(8, o_custkey)")),
      () => DeltaWrite.append(spark, clustered, s"$d/rng_delta"),
      () => IcebergWrite.append(spark, clustered, s"$d/rng_ice")))
    root = d
  }

  private def snapshot(path: String): DataFrame =
    tracer.span("metadata.snapshot")(IcebergRead.snapshot(spark, path))

  private def route(df: => DataFrame): DataFrame = tracer.span("statement.build")(df)

  /** (name, routed, shuffled) with the run's seeded literals. The
    * literals stay fixed for the run, so after the warm-up every pass
    * plans the same statements. */
  private lazy val shapes: Seq[(String, () => DataFrame, () => DataFrame)] = {
    val r = rng(-1)
    val n = gen.nCustomer
    val lo = 1 + r.nextInt((n / 2).toInt)
    val hi = lo + n / 2
    val inRange = col("o_custkey").between(lo, hi)
    // a cut in the first half of April keeps about 73% of the orders, so
    // every seed asks for about the same work
    val cut = f"1995-04-${1 + r.nextInt(14)}%02d 00:00:00"
    val win = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    Seq(
      ("rb1_window", () => route(Lake.sqlFrame(spark,
        s"""SELECT o_custkey, o_orderkey,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn,
              sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS run
            FROM '$root/ord' WHERE o_custkey BETWEEN $lo AND $hi""")),
        () => snapshot(s"$root/ord").where(inRange)
          .select(col("o_custkey"), col("o_orderkey"), row_number().over(win).as("rn"),
            sum(col("o_totalprice")).over(win).as("run"))),
      ("rb2_rollup_masked", () => route(Lake.sqlFrame(spark,
        s"""SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS sv
            FROM '$root/ord' WHERE o_custkey BETWEEN $lo AND $hi GROUP BY o_custkey""")),
        () => snapshot(s"$root/ord").where(inRange).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sv"))),
      ("rb3_spj", () => route(BucketedJoin.coBucketedJoin(spark, s"$root/ord", s"$root/cust",
        "o_custkey", rightKey = "c_custkey", leftWhere = Some(inRange))),
        () => snapshot(s"$root/ord").where(inRange)
          .join(snapshot(s"$root/cust").hint("shuffle_hash"),
            col("o_custkey") === col("c_custkey"))
          .drop("c_custkey")),
      ("rb4_composite_pruned", () => route(Lake.sqlFrame(spark,
        s"""SELECT o_custkey, count(*) AS n FROM '$root/ord_day'
            WHERE o_orderdate >= TIMESTAMP '$cut' GROUP BY o_custkey""")),
        () => snapshot(s"$root/ord_day")
          .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(cut)))
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))))
  }

  /** Seeded custkey range over an eighth of the key space. */
  private def scanRange(salt: Int): Column = {
    val n = gen.nCustomer
    val lo = 1 + rng(-2L - salt).nextInt((n - n / 8).toInt)
    col("o_custkey").between(lo, lo + n / 8)
  }

  private def shapeOps(i: Int): Unit = {
    val r = rng(i + 7)
    r.shuffle(shapes).foreach { case (name, routed, shuffled) =>
      val rows = mutable.HashMap.empty[String, Array[Row]]
      val pair = Seq("routed" -> routed, "shuffled" -> shuffled)
      val recs = (if (r.nextBoolean()) pair else pair.reverse).map { case (kind, build) =>
        kind -> h.query(kind, s"${name}_$kind")(_ => forced(build())) { got =>
          rows(kind) = got
          true
        }
      }.toMap
      // the routed result must equal its shuffled twin's
      if (recs.values.forall(_.ok) && !rows("routed").sameElements(rows("shuffled"))) {
        recs("routed").ok = false
        System.err.println(s"[lakebench] $name: routed result differs from its shuffled twin")
      }
    }
    for ((fmt, path) <- r.shuffle(Seq("delta" -> s"$root/rng_delta", "iceberg" -> s"$root/rng_ice"))) {
      val pred = scanRange(fmt.length)
      var files = (0L, 0L)
      var pruned = Array.empty[Row]
      val rec = h.query("scan_pruned", s"scan_pruned_$fmt") { _ =>
        val (df, kept, total) = tracer.span("metadata.snapshot")(Lake.scanPruned(spark, path, pred))
        files = (kept, total)
        forced(df)
      } { got =>
        pruned = got
        true
      }
      h.aside {
        // the pruned scan must equal the unpruned filter
        if (rec.ok && !forced(Lake.read(spark, path).where(pred)).collect().sameElements(pruned)) {
          rec.ok = false
          System.err.println(s"[lakebench] scan_pruned_$fmt differs from the unpruned filter")
        }
        if (rec.traced) {
          rec.notes("metadata.files_kept") = files._1.toDouble
          rec.notes("metadata.files_total") = files._2.toDouble
          rec.notes("metadata.log_entries") = logEntries(path)
        }
      }
    }
  }

  def warmup(): Unit = shapeOps(-1)

  def pass(i: Int): Unit = shapeOps(i)

  /** Lake table bytes over the plain-parquet bytes of the rows written
    * into them: orders into four tables, customer into one. */
  def spaceAmp: Double =
    lakeDirs.map(d => dirBytes(s"$root/$d")).sum.toDouble /
      (4 * dirBytes(s"$plain/orders") + dirBytes(s"$plain/customer"))
}

/** Writes beside reads: a base orders table as Delta partitioned by
  * status (the staged writer) and as Iceberg by month (the direct writer).
  * A pass upserts one seeded micro-batch into both tables (about 70%
  * updates, 30% new keys), then applies a seeded range delete and then a
  * compaction to both. After each of the three commit pairs comes a
  * read-after-write aggregate over both tables, which must agree; after
  * each compaction and at the end both tables must equal a plain-Spark
  * model. */
final class IngestMerge(h: Harness, gen: Gen, seed: Long) extends Workload(h, gen, seed) {
  // about a sixth of the base table per batch
  val batchRows = 5000
  private val updateFrac = 0.7
  private var plain = ""
  private var root = ""
  private var batches = 0
  private val deletes = mutable.ArrayBuffer.empty[(Int, Column)]
  private var space = 0.0
  private val columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  val queryKinds = Set("fresh_read")

  private def delta = s"$root/delta"
  private def iceberg = s"$root/iceberg"

  def generate(d: String): Unit = {
    gen.orders.write.parquet(s"$d/base")
    plain = d
  }

  def setup(d: String): Unit = {
    val base = spark.read.parquet(s"$plain/base")
    parallel(2)(Seq(
      () => DeltaWrite.append(spark, base, s"$d/delta", partitionBy = Seq("o_orderstatus")),
      () => IcebergWrite.append(spark, base, s"$d/iceberg",
        partitionBy = Seq("month(o_orderdate)"))))
    root = d
    batches = 0
    deletes.clear()
  }

  /** Keys inserted before batch `b`. */
  private def maxKey(b: Int): Long =
    gen.nOrders + (batchRows - (batchRows * updateFrac).toInt).toLong * (b - 1)

  /** Batch `b`: distinct existing keys (an affine permutation of the key
    * space, seeded offset) plus the next run of new keys, with seeded
    * values. Written once as plain parquet; the engine reads that. */
  private def batch(b: Int): String = {
    val path = s"$root/batches/$b"
    val nUpd = (batchRows * updateFrac).toInt
    val m = maxKey(b)
    require(m < 1000003L, "key space must stay below the permutation prime")
    val off = java.lang.Math.floorMod(rng(b * 17L).nextLong(), m)
    val keys = spark.range(nUpd).select(((col("id") * 1000003L + off) % m + 1).as("k"))
      .union(spark.range(batchRows - nUpd).select((col("id") + m + 1).as("k")))
    keys.select(gen.orderCols(col("k"), 100 + 10 * b): _*).write.parquet(path)
    path
  }

  /** Seeded custkey range over half a percent of the customers. */
  private def deletePred(b: Int): Column = {
    val w = math.max(1L, gen.nCustomer / 200)
    val lo = 1 + java.lang.Math.floorMod(rng(b * 23L).nextLong(), gen.nCustomer - w)
    col("o_custkey").between(lo, lo + w)
  }

  private def rowBytes: Double = dirBytes(s"$plain/base").toDouble / gen.nOrders

  /** A commit op on `path`; in traced passes the table directory is listed
    * before and after, for bytes written and files added. */
  private def commit(fmt: String, kind: String, path: String, logicalRows: => Long)
      (body: => Unit): Unit = {
    val before = if (h.traced) h.aside(files(path).map(f => f.getPath -> f.length).toMap) else null
    val rows = if (h.traced) h.aside(logicalRows) else 0L
    val rec = h.op("commit", s"$fmt.$kind")(_ => { tracer.span(s"commit.$kind")(body); true })
    if (before != null) h.aside {
      val added = files(path).filterNot(f => before.contains(f.getPath))
      rec.notes("commit.bytes_written") = added.map(_.length).sum.toDouble
      rec.notes("commit.files_added") = added.size.toDouble
      rec.notes("commit.logical_bytes") = rows * rowBytes
    }
  }

  private def cycle(b: Int): Unit = {
    val input = spark.read.parquet(h.aside(batch(b)))
    val both = Seq("delta" -> delta, "iceberg" -> iceberg)
    for ((fmt, table) <- both)
      commit(fmt, "upsert", table, batchRows.toLong)(Lake.upsert(spark, input, table, Seq("o_orderkey")))
    batches = b
    freshRead()
    val pred = deletePred(b)
    deletes += ((b, pred))
    for ((fmt, table) <- both)
      commit(fmt, "delete", table, Lake.read(spark, table).where(pred).count())(
        Lake.deleteWhere(spark, table, pred))
    freshRead()
    for ((fmt, table) <- both)
      commit(fmt, "compact", table, Lake.read(spark, table).count())(Lake.compact(spark, table))
    freshRead()
    h.check(s"tables against the model after batch $b")(matchesModel())
  }

  /** Read-after-write aggregate over both tables; they must agree. */
  private def freshRead(): Unit = {
    val rec = h.op("fresh_read", "fresh_read") { rec =>
      val got = Seq(delta, iceberg).map { table =>
        h.collect(rec) {
          tracer.span("metadata.snapshot")(Lake.read(spark, table))
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
            .orderBy(col("o_orderstatus"))
        }.toSeq
      }
      got.head == got(1)
    }
    if (rec.traced) h.aside {
      rec.notes("metadata.log_entries") = (logEntries(delta) + logEntries(iceberg)) / 2
      val n = (Lake.read(spark, delta).inputFiles.length +
        Lake.read(spark, iceberg).inputFiles.length).toDouble
      rec.notes("metadata.files_kept") = n
      rec.notes("metadata.files_total") = n
    }
  }

  /** Plain-Spark model of base + batches + deletes: per key the latest
    * version, dropped if a later delete's predicate matched it. */
  private def model: DataFrame = {
    val versions = (0 to batches).map { b =>
      val p = if (b == 0) s"$plain/base" else s"$root/batches/$b"
      spark.read.parquet(p).select(columns.map(col) :+ lit(b).as("__v"): _*)
    }.reduce(_ unionByName _)
    val latest = versions
      .withColumn("__rn", row_number().over(Window.partitionBy(col("o_orderkey"))
        .orderBy(col("__v").desc)))
      .where(col("__rn") === 1)
    // a delete follows its batch's upsert, so it also sees that batch's rows
    val deleted = deletes.map { case (b, p) => col("__v") <= b && p }
      .foldLeft(lit(false))(_ || _)
    latest.where(!deleted).select(columns.map(col): _*)
  }

  private def matchesModel(): Boolean = {
    val want = forced(model).collect()
    Seq(delta, iceberg).forall(t =>
      forced(Lake.read(spark, t).select(columns.map(col): _*)).collect().sameElements(want))
  }

  /** Both table directories over twice the live rows as plain parquet. */
  private def spaceAmplification(): Double = {
    val rows = s"$root/model-$batches"
    model.write.parquet(rows)
    (dirBytes(delta) + dirBytes(iceberg)).toDouble / (2 * dirBytes(rows))
  }

  def warmup(): Unit = cycle(1)

  def pass(i: Int): Unit = {
    cycle(i + 2)
    // the tables after the first timed pass are the same in every run
    if (i == 0) space = h.aside(spaceAmplification())
  }

  override def finish(): Unit = h.check("tables against the model at the end")(matchesModel())

  def spaceAmp: Double = space
}
