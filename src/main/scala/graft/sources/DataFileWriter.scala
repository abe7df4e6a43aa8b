package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

/** The one parquet data-file writer behind both lake formats: every data
  * and delete file [[DeltaWrite]] and [[IcebergWrite]] commit is written
  * here, in ONE pass, straight to its final place under the table root.
  *
  * Layout. With key expressions the rows are hash-distributed by the keys
  * over `defaultParallelism` and sorted by key within each task, so each
  * distinct key tuple is one contiguous run and becomes exactly one file —
  * one file per partition value per write. The numbered repartition is
  * deliberate: the column-only form is AQE-coalescible, and a few-MB write
  * shuffle then coalesces to one sequential writer. Without keys nothing is
  * shuffled: each non-empty input partition becomes one file, so callers
  * keep their own repartition / z-order / sort. An empty input writes no
  * file at all.
  *
  * Description. The task that writes a file also describes it, as rows
  * stream through: row count, byte size, key values, per-column min / max /
  * null count, and bloom sketches. min/max use Spark's own interpreted
  * orderings (NaN and UTF-8 order exactly as the min()/max() aggregates);
  * a bloom inserts xxhash64(col, seed 42) per row, NULLs included, which is
  * bit-identical to [[graft.operators.BloomOps.bloomAgg]] over the same
  * rows. Nothing is read back and nothing is moved.
  *
  * Orphans. A failed task attempt, a failed job, or a commit that loses
  * its race leaves UUID-named files under the table root that no log entry
  * or manifest cites — commits cite only what succeeded tasks returned.
  * [[DeltaWrite.vacuum]] and [[IcebergWrite.expireSnapshots]] reclaim them
  * once they are older than their age grace. */
object DataFileWriter {

  /** One column's bounds in one file: external (java) values, min/max
    * null when every value is NULL. */
  final case class ColumnStats(name: String, min: Any, max: Any, nulls: Long)

  /** One written file as its task reported it. `rel` is relative to the
    * base directory (key prefix + file name), `path` is absolute.
    * `keys` are the file's key values as external (java) values. */
  final case class WrittenFile(path: String, rel: String, rows: Long, bytes: Long,
      keys: Seq[Any], stats: Seq[ColumnStats], blooms: Seq[(String, Array[Byte])])

  /** Bloom sketch size shared with the read-side probes. */
  private val BloomItems = 1000000L
  private val BloomBits = 1024L * 1024

  /** Write `fileColumns` of `df` (default: all) as parquet under
    * `baseDir`. `keys` are evaluated over `df`; `keyPrefix` renders one
    * file's key values as the start of its relative path — directory
    * levels ending in '/', a name prefix, or both — before a fresh
    * `<uuid>-part-<task>-<n>` name. Stats and blooms cover the named file
    * columns. */
  def write(df: DataFrame, baseDir: String, fileColumns: Option[Seq[String]] = None,
      keys: Seq[Column] = Nil, keyPrefix: Seq[Any] => String = _ => "",
      statColumns: Seq[String] = Nil, bloomColumns: Seq[String] = Nil): Seq[WrittenFile] = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val dataCols = fileColumns.getOrElse(df.columns.toSeq)
    val keyCols = keys.indices.map(i => s"__key_$i")
    val projected = df.select(dataCols.map(c => df(s"`${c.replace("`", "``")}`")) ++
      keys.zip(keyCols).map { case (k, n) => k.as(n) }: _*)
    val distributed =
      if (keys.isEmpty) projected
      else projected.repartition(spark.sparkContext.defaultParallelism, keyCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*)
    val fullSchema = distributed.schema
    val nData = dataCols.length
    val dataSchema = org.apache.spark.sql.types.StructType(fullSchema.fields.take(nData))
    val keyTypes = fullSchema.fields.drop(nData).map(_.dataType).toSeq
    def indexed(names: Seq[String]): Seq[(String, Int)] =
      names.map(c => c -> dataSchema.fieldIndex(c))
    val statCols = indexed(statColumns)
    val bloomCols = indexed(bloomColumns)
    val statTypes = statCols.map { case (_, i) => dataSchema.fields(i).dataType }
    val (factory, confBc) =
      org.apache.spark.sql.graft.Bridge.parquetWriteSupport(spark, dataSchema)
    val base = baseDir.stripSuffix("/")

    distributed.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow, XxHash64}
      if (!it.hasNext) Iterator.empty
      else {
        val conf = confBc.value.value
        val tac = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
          new org.apache.hadoop.mapreduce.TaskAttemptID(
            "graft", 0, org.apache.hadoop.mapreduce.TaskType.MAP, pid, 0))
        val ext = factory.getFileExtension(tac)
        val dataProj = UnsafeProjection.create(
          dataSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
          })
        val keyProj = UnsafeProjection.create(keyTypes.zipWithIndex.map { case (dt, i) =>
          BoundReference(nData + i, dt, nullable = true)
        })
        val keyToExt = keyTypes.map(createToScalaConverter)
        val orderings = statTypes.map(
          org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering)
        val statToExt = statTypes.map(createToScalaConverter)
        val hashProjs = bloomCols.map { case (_, i) =>
          org.apache.spark.sql.graft.Bridge.createMutableProjection(Seq(new XxHash64(
            Seq(BoundReference(i, dataSchema.fields(i).dataType, nullable = true)), 42L)))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[WrittenFile]
        var writer: org.apache.spark.sql.execution.datasources.OutputWriter = null
        var curKey: UnsafeRow = null
        var keyVals: Seq[Any] = null
        var rel: String = null
        var rows = 0L
        var seq = 0
        val mins = Array.ofDim[Any](statCols.size)
        val maxs = Array.ofDim[Any](statCols.size)
        val nulls = Array.ofDim[Long](statCols.size)
        var blooms: Array[org.apache.spark.util.sketch.BloomFilter] = null
        def open(row: InternalRow): Unit = {
          keyVals = keyTypes.indices.map { i =>
            if (row.isNullAt(nData + i)) null else keyToExt(i)(row.get(nData + i, keyTypes(i)))
          }
          rel = s"${keyPrefix(keyVals)}${java.util.UUID.randomUUID()}-part-$pid-$seq$ext"
          seq += 1
          writer = factory.newInstance(s"$base/$rel", dataSchema, tac)
          rows = 0L
          java.util.Arrays.fill(mins.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(maxs.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(nulls, 0L)
          blooms = Array.fill(bloomCols.size)(
            org.apache.spark.util.sketch.BloomFilter.create(BloomItems, BloomBits))
        }
        def closeFile(): Unit = {
          writer.close()
          writer = null
          val path = s"$base/$rel"
          val hp = new org.apache.hadoop.fs.Path(path)
          out += WrittenFile(path, rel, rows, hp.getFileSystem(conf).getFileStatus(hp).getLen,
            keyVals,
            statCols.indices.map { j =>
              ColumnStats(statCols(j)._1,
                if (mins(j) == null) null else statToExt(j)(mins(j)),
                if (maxs(j) == null) null else statToExt(j)(maxs(j)), nulls(j))
            },
            bloomCols.indices.map { j =>
              val bos = new java.io.ByteArrayOutputStream()
              blooms(j).writeTo(bos)
              (bloomCols(j)._1, bos.toByteArray)
            })
        }
        // a failed task releases its open stream; the partial file is an
        // orphan no commit cites
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            if (writer != null) scala.util.Try(writer.close())
          })
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null || k != curKey) {
            if (writer != null) closeFile()
            curKey = k.copy()
            open(row)
          }
          writer.write(dataProj(row))
          rows += 1
          var j = 0
          while (j < statCols.size) {
            val idx = statCols(j)._2
            if (row.isNullAt(idx)) nulls(j) += 1
            else {
              val v = row.get(idx, statTypes(j))
              if (mins(j) == null || orderings(j).lt(v, mins(j))) mins(j) = InternalRow.copyValue(v)
              if (maxs(j) == null || orderings(j).gt(v, maxs(j))) maxs(j) = InternalRow.copyValue(v)
            }
            j += 1
          }
          var b = 0
          while (b < bloomCols.size) {
            blooms(b).putLong(hashProjs(b)(row).getLong(0))
            b += 1
          }
        }
        if (writer != null) closeFile()
        out.iterator
      }
    }.collect().toSeq
  }
}
