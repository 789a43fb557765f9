package graft.util

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Per-table planning samples (~2k deterministic uniform rows + the true
  * row count) that [[graft.plans.SampleJoinReorder]] estimates from — the
  * Spark analog of the reference's stored Arrow sample blocks
  * (QueryGraph.cpp:264-294). Catalyst's stats cannot see the selectivity
  * of the suites' string predicates (LIKE/Contains/IN) and therefore
  * neither broadcast nor order those join trees correctly.
  *
  * Layout: the table `<dir>/<t>` (or `<dir>/<t>.parquet`) samples to
  * `<dir>/_samples/<t>.parquet` plus `<dir>/_samples/<t>.count` holding the
  * true row count; the bucketed layout `<dir>/_bucketed/<t>` resolves to
  * its parent dir's samples. This object is the one writer and the one
  * reader of that layout. Planning metadata only — never query data.
  */
object PlanningSamples {

  /** A table's sample held in driver memory: `rows` follow `schema`;
    * `count` is the true row count of the whole table. */
  final case class Sample(path: String, schema: StructType, rows: Array[InternalRow], count: Long)

  private val loaded = new ConcurrentHashMap[String, Sample]()

  /** Write `name`'s sample under `dir`: `sample` when given (test
    * fixtures), else the seeded draw (fraction 2500/total, seed 42, at most
    * 2000 rows). Returns the true row count of `table`. */
  def write(dir: String, name: String, table: DataFrame, sample: Option[DataFrame] = None): Long = {
    val total = table.count()
    val draw = sample.getOrElse(table
      .sample(withReplacement = false, math.min(1.0, 2500.0 / math.max(total, 1L)), seed = 42)
      .limit(2000))
    val path = s"$dir/_samples/$name.parquet"
    draw.coalesce(1).write.mode("overwrite").parquet(path)
    Files.write(Paths.get(s"$dir/_samples/$name.count"), total.toString.getBytes("UTF-8"))
    loaded.remove(path)
    total
  }

  /** Samples for the tables `<dir>/<name>` that have none yet: an already
    * materialized data dir is backfilled exactly once. */
  def ensure(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.filterNot { n =>
      new java.io.File(s"$dir/_samples/$n.parquet").isDirectory &&
        new java.io.File(s"$dir/_samples/$n.count").isFile
    }.foreach(n => write(dir, n, ParquetMeta.read(spark, s"$dir/$n")))

  /** The sample of the table stored at `tableRoot` (a relation root path,
    * `file:` prefix allowed), read once per JVM in the driver
    * ([[ParquetMeta]]: the footer's schema and the rows, no Spark job);
    * None when the table has no sample or its count file does not hold a
    * row count. */
  def of(spark: SparkSession, tableRoot: String): Option[Sample] = {
    val f = new java.io.File(tableRoot.stripPrefix("file:"))
    val (dir, name) =
      if (f.getParentFile != null && f.getParentFile.getName == "_bucketed")
        (f.getParentFile.getParentFile.getPath, f.getName)
      else (f.getParent, f.getName.stripSuffix(".parquet"))
    val path = s"$dir/_samples/$name.parquet"
    val countFile = new java.io.File(s"$dir/_samples/$name.count")
    Option(loaded.computeIfAbsent(path, { _ =>
      val count =
        if (!new java.io.File(path).isDirectory || !countFile.isFile) None
        else {
          val src = scala.io.Source.fromFile(countFile)
          try scala.util.Try(src.mkString.trim.toLong).toOption finally src.close()
        }
      count.map { n =>
        val (schema, rows) = ParquetMeta.sample(spark, path)
        Sample(path, schema, rows, n)
      }.orNull
    }))
  }
}
