package graft.ops

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal,
  UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory,
  PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, Decimal, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator
import org.apache.spark.util.sketch.BloomFilter

/** The parquet format a snapshot commit writes its data through: plain
  * Parquet files, plus what a stats and bloom sidecar needs of each
  * file, gathered by the writer while it writes the file — the way
  * Delta and Iceberg collect their per-file metrics — instead of by a
  * second scan of the fresh files. Each [[OutputWriter]] keeps its
  * file's row count, min/max/null count per stats column (Catalyst's
  * ordering for the type: NaN largest) and a bloom filter per bloom
  * column, and hands one [[SidecarParquetFormat.WrittenFile]] to the
  * driver when it closes.
  *
  * Internal to [[SnapshotTable]], which writes through
  * [[SidecarParquetFormat.write]]: a write names this class as its
  * format and carries an opaque commit id as its only option, which
  * [[prepareWrite]] resolves to the commit's columns and collector.
  * A write without a registered id fails loudly.
  */
class SidecarParquetFormat extends ParquetFileFormat {

  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(sparkSession, job, options, dataSchema)
    val commit = options.get(SidecarParquetFormat.CommitKey)
      .flatMap(id => Option(SidecarParquetFormat.open.get(id)))
      .getOrElse(throw new IllegalStateException(
        s"${getClass.getName} is SnapshotTable's internal write format; " +
          "commit through SnapshotTable instead of naming it"))
    val tz = Some(sparkSession.sessionState.conf.sessionLocalTimeZone)
    // hive partition columns are not in the written rows: their per-file
    // value comes from the staged directory's partition paths
    val at = (c: String) => Some(dataSchema.fieldNames.indexOf(c)).filter(_ >= 0)
    new SidecarParquetFormat.WriterFactory(inner,
      commit.statsCols.flatMap(c => at(c).map(i => (c, i, dataSchema(i).dataType))),
      commit.bloomCols.flatMap(c => at(c).map(i => (c, i,
        SidecarParquetFormat.asString(
          BoundReference(i, dataSchema(i).dataType, nullable = true), tz)))),
      commit.bloomExpectedItems,
      commit.keys.map(f => (f, at(f.name).getOrElse(-1))), tz, commit.sink)
  }
}

object SidecarParquetFormat {

  /** The one option a sidecar write carries: its commit's id. */
  private val CommitKey = "graft.sidecar.commit"

  /** What a writer saw of one data file: the file's path below its
    * task attempt directory (`p=0/part-….parquet`, the path relative to
    * the staged directory once the job commits), its row count, the
    * value range of each stats column written into it and the
    * serialized bloom filter of each bloom column. Partition columns
    * appear in neither list.
    */
  private[ops] final case class WrittenFile(file: String, rows: Long,
      stats: Seq[ValueRange], blooms: Seq[(String, Array[Byte])])

  /** A stats column's range in one file: Catalyst values of the
    * column's type, null when the file holds no non-null value.
    */
  private[ops] final case class ValueRange(column: String, min: Any, max: Any,
      nulls: Long)

  private final case class Commit(statsCols: Seq[String], bloomCols: Seq[String],
      bloomExpectedItems: Long, keys: Seq[StructField],
      sink: CollectionAccumulator[WrittenFile])

  /** The writes in flight on this driver, by commit id. */
  private val open = new java.util.concurrent.ConcurrentHashMap[String, Commit]()

  /** Save `w` to `path` through this format and return one record per
    * file the write produced (0-row files included). With `keys`, each
    * writer also writes the key columns of its rows (an upsert's
    * tombstones) to a key file of its own under `path/_deletes/`, in the
    * same task attempt, so the job commit publishes both together; a key
    * column that is a hive partition column takes its value from the
    * file's partition directory. The commit's collector lives only for
    * the write: it leaves the registry and Spark's accumulator registry
    * however the write ends.
    */
  private[ops] def write(spark: SparkSession, w: DataFrameWriter[Row], path: String,
      statsCols: Seq[String], bloomCols: Seq[String],
      bloomExpectedItems: Long, keys: Seq[StructField] = Nil): Seq[WrittenFile] = {
    val sink = new CollectionAccumulator[WrittenFile]
    spark.sparkContext.register(sink)
    val id = java.util.UUID.randomUUID().toString
    open.put(id, Commit(statsCols, bloomCols, bloomExpectedItems, keys, sink))
    try {
      w.format(classOf[SidecarParquetFormat].getName).option(CommitKey, id).save(path)
      import scala.jdk.CollectionConverters._
      sink.value.asScala.toSeq
    } finally {
      open.remove(id)
      org.apache.spark.GraftAccess.unregister(sink)
    }
  }

  /** Spark's `CAST(e AS STRING)`: how a stats bound is rendered and
    * what a bloom filter is fed.
    */
  private[ops] def asString(e: Expression, tz: Option[String]): Cast =
    Cast(e, StringType, tz)

  /** An empty bloom filter of the sidecars' size and false-positive rate. */
  private[ops] def newBloom(expectedItems: Long): BloomFilter =
    BloomFilter.create(expectedItems, 0.01)

  /** A bloom filter's serialized form, as the sidecars store it. */
  private[ops] def bits(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** `keyCols` pairs each key column with its ordinal in the written
    * rows, or -1 for a hive partition column, whose value is the file's
    * partition directory's.
    */
  private[ops] final class WriterFactory(inner: OutputWriterFactory,
      statsCols: Seq[(String, Int, DataType)], bloomCols: Seq[(String, Int, Expression)],
      bloomExpectedItems: Long, keyCols: Seq[(StructField, Int)], tz: Option[String],
      sink: CollectionAccumulator[WrittenFile])
      extends OutputWriterFactory {

    override def getFileExtension(context: TaskAttemptContext): String =
      inner.getFileExtension(context)

    override def newInstance(path: String, dataSchema: StructType,
        context: TaskAttemptContext): OutputWriter = {
      val attempt = s"/${context.getTaskAttemptID}/"
      val i = path.indexOf(attempt)
      val file = if (i < 0) path else path.substring(i + attempt.length)
      val keyFile =
        if (keyCols.isEmpty) None
        else {
          if (i < 0) throw new IllegalStateException(
            s"no task attempt directory in the write path $path to put its key file under")
          Some(keyWriter(path.substring(0, i + attempt.length), file, context))
        }
      new Writer(inner.newInstance(path, dataSchema, context), file, keyFile)
    }

    /** The key file of data file `file` (relative to `attemptDir`) and the
      * projection of a written row onto the key columns. The key file sits
      * flat in `_deletes/`, so a read of that directory finds no partition
      * columns; a partitioned file's name carries a hash of its partition
      * path, since one task names the files of all its partitions alike.
      */
    private def keyWriter(attemptDir: String, file: String,
        context: TaskAttemptContext): (OutputWriter, UnsafeProjection) = {
      val f = new org.apache.hadoop.fs.Path(file)
      val partDir = Option(f.getParent).fold("")(_.toString)
      val name =
        if (partDir.isEmpty) f.getName
        else {
          val ext = getFileExtension(context)
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(partDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .take(8).map("%02x".format(_)).mkString
          s"${f.getName.stripSuffix(ext)}-$h$ext"
        }
      lazy val partValues = PartitioningUtils.parsePathFragment(partDir)
      val proj = UnsafeProjection.create(keyCols.map {
        case (k, i) if i >= 0 => BoundReference(i, k.dataType, nullable = true)
        case (k, _) =>
          val raw = partValues.getOrElse(k.name, throw new IllegalStateException(
            s"key column ${k.name} is neither written nor a partition of $file"))
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) Literal(null, k.dataType)
          else Literal(Cast(Literal(raw), k.dataType, tz).eval(), k.dataType)
      })
      // the parquet writer takes its schema from the task's configuration
      val conf = new org.apache.hadoop.conf.Configuration(context.getConfiguration)
      ParquetWriteSupport.setSchema(StructType(keyCols.map(_._1)), conf)
      conf.unset(ParquetWriteSupport.SPARK_VARIANT_SHREDDING_SCHEMA)
      (new ParquetOutputWriter(s"${attemptDir}_deletes/$name",
        new TaskAttemptContextImpl(conf, context.getTaskAttemptID)), proj)
    }

    private final class Writer(inner: OutputWriter, file: String,
        keyFile: Option[(OutputWriter, UnsafeProjection)]) extends OutputWriter {
      private var rows = 0L
      private val ords = statsCols.map(_._2).toArray
      private val get = statsCols.map(s => InternalRow.getAccessor(s._3, nullable = false)).toArray
      private val order = statsCols.map(s =>
        org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(s._3)).toArray
      private val mins = new Array[Any](ords.length)
      private val maxs = new Array[Any](ords.length)
      private val nulls = new Array[Long](ords.length)
      private val keyOrds = bloomCols.map(_._2).toArray
      private val keys = bloomCols.map(_._3).toArray
      private val blooms = keys.map(_ => newBloom(bloomExpectedItems))

      override def write(row: InternalRow): Unit = {
        rows += 1
        var i = 0
        while (i < ords.length) {
          if (row.isNullAt(ords(i))) nulls(i) += 1
          else {
            val v = get(i)(row, ords(i))
            if (mins(i) == null || order(i).lt(v, mins(i))) mins(i) = owned(v)
            if (maxs(i) == null || order(i).gt(v, maxs(i))) maxs(i) = owned(v)
          }
          i += 1
        }
        i = 0
        while (i < keys.length) {
          // the key is the UTF-8 of the value's string cast
          if (!row.isNullAt(keyOrds(i)))
            blooms(i).putBinary(keys(i).eval(row).asInstanceOf[UTF8String].getBytes)
          i += 1
        }
        inner.write(row)
        keyFile.foreach { case (w, proj) => w.write(proj(row)) }
      }

      override def close(): Unit = {
        inner.close()
        keyFile.foreach(_._1.close())
        sink.add(WrittenFile(file, rows,
          statsCols.zipWithIndex.map { case ((c, _, _), i) =>
            ValueRange(c, mins(i), maxs(i), nulls(i)) },
          bloomCols.zipWithIndex.map { case ((c, _, _), i) => c -> bits(blooms(i)) }))
      }

      override def path(): String = inner.path()
    }
  }

  /** A bound that outlives the row: string and decimal values may point
    * into a buffer the next row reuses.
    */
  private def owned(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case d: Decimal => d.clone()
    case other => other
  }
}
