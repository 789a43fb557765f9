package graft.util

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Parquet metadata and small reads in the driver, with no Spark job.
  *
  * `spark.read.parquet(dir)` infers the schema with one Spark job per call
  * (`mergeSchemasInParallel`), even though with `mergeSchema` off it reads
  * a single footer. The reference's catalog keeps each table's metadata
  * and sample with the table (PAPER.md, "Catalog"), so opening a table or
  * planning over its sample runs no query; this object is the Spark-side
  * equivalent: the footer and the sample rows are read in the driver
  * through parquet-hadoop and Spark's own vectorized reader.
  */
object ParquetMeta {

  /** Exactly the schema `spark.read.parquet(dir)` infers: the footer of the
    * first data file by path (Spark's pick with `mergeSchema` off), read by
    * `ParquetFileFormat.readSchemaFromFooter`'s rule, all fields nullable.
    * Layouts this rule does not cover (no data file, a missing path,
    * partition subdirectories, summary files, `mergeSchema` on) are
    * inferred by Spark itself, so they also fail with Spark's own error. */
  def schema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = visible(conf, dir)
    if (footerRule(spark, files)) footerSchema(spark, footer(conf, files.head))
    else spark.read.parquet(dir).schema
  }

  private def footerRule(spark: SparkSession, files: Seq[FileStatus]): Boolean =
    !spark.sessionState.conf.isParquetSchemaMergingEnabled && files.nonEmpty &&
      !files.exists(f => f.isDirectory || f.getPath.getName.startsWith("_"))

  private def footerSchema(spark: SparkSession, meta: ParquetMetadata): StructType = {
    val stored = Option(meta.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    nullable(stored.getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(meta.getFileMetaData.getSchema))).asInstanceOf[StructType]
  }

  /** `spark.read.parquet(dir)` with its schema taken from [[schema]]. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema(spark, dir)).parquet(dir)

  /** [[schema]] and every row of the parquet files at `dir`, read in path
    * order by Spark's `VectorizedParquetRecordReader` in the driver and
    * copied to UnsafeRows. Meant for small files (planning samples): it
    * starts no job and creates no broadcast, lists `dir` once and reads
    * each file's footer once (the reader takes it as given). */
  def sample(spark: SparkSession, dir: String): (StructType, Array[InternalRow]) = {
    val sql = spark.sessionState.conf
    // what ParquetFileFormat puts in a scan task's Hadoop conf: every conf
    // the session sets, plus the effective values of the flags the reader's
    // schema converter requires (it fails on a missing one; INT96 columns
    // need int96AsTimestamp), the time zone and case sensitivity
    val conf = spark.sessionState.newHadoopConf()
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.CASE_SENSITIVE
    ).foreach(e => conf.set(e.key, spark.conf.get(e.key)))
    val files = visible(conf, dir)
    val footers = files.filter(_.isFile).map(f => f -> footer(conf, f))
    val requested =
      if (footerRule(spark, files)) footerSchema(spark, footers.head._2)
      else spark.read.parquet(dir).schema
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    // interpreted: compiling a projection per schema costs more than
    // projecting a sample's ≤2k rows (the 56 suite samples, 4 cores, cold
    // JVM: 2.6 s with generated projections, 1.7 s interpreted)
    val project = InterpretedUnsafeProjection.createProjection(
      requested.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    val out = ArrayBuffer[InternalRow]()
    footers.foreach { case (f, meta) =>
      val kv = meta.getFileMetaData.getKeyValueMetaData.get _
      val convertTz =
        if (sql.isParquetINT96TimestampConversion &&
            !meta.getFileMetaData.getCreatedBy.startsWith("parquet-mr"))
          java.time.ZoneId.of(sql.sessionLocalTimeZone)
        else null
      val dt = DataSourceUtils.datetimeRebaseSpec(kv,
        spark.conf.get(SQLConf.PARQUET_REBASE_MODE_IN_READ.key))
      val int96 = DataSourceUtils.int96RebaseSpec(kv,
        spark.conf.get(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key))
      val reader = new VectorizedParquetRecordReader(convertTz, dt.mode.toString, dt.timeZone,
        int96.mode.toString, int96.timeZone, false, sql.parquetVectorizedReaderBatchSize)
      try {
        reader.initialize(new FileSplit(f.getPath, 0, f.getLen, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()), None, None, Some(meta))
        while (reader.nextKeyValue())
          out += project(reader.getCurrentValue.asInstanceOf[InternalRow]).copy()
      } finally reader.close()
    }
    (requested, out.toArray)
  }

  /** The entries of `dir` (or `dir` itself when it is a file) that Spark's
    * file index lists, sorted by path; empty when `dir` does not exist. */
  private def visible(conf: Configuration, dir: String): Seq[FileStatus] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.filterNot(s => hidden(s.getPath.getName)).sortBy(_.getPath.toString)
  }

  /** InMemoryFileIndex's rule: `_`/`.` names are skipped, except partition
    * directories and the parquet summary files. */
  private def hidden(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
      !n.startsWith("_common_metadata") && !n.startsWith("_metadata")

  /** The whole footer of `f`, row groups included. */
  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try reader.getFooter finally reader.close()
  }

  /** `DataType.asNullable` (private to Spark): file sources read every
    * field, element and map value as nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
