package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types._
import graft.tpcds.TpcdsGen.{Dia, DuckDia, SparkDia}
import java.nio.file.{Files, Paths}

/** The plumbing every vendored query suite (TPC-DS, TPCx-BB, JOB, SSB,
  * ClickBench) shares: a materialize-once table cache, the positional
  * output normalizer with its DuckDB twin, and the output signature.
  *
  * Output determinism: every suite result is renamed positionally to
  * c1..cN and numerically normalized on BOTH compare sides — fractional
  * columns by the suite's [[Rounding]], integral columns to bigint, the
  * rest raw — so the sorted hash-compare against DuckDB is well-defined. The
  * DuckDB side needs each query's column kinds before any SparkSession
  * exists (Verify dumps oracle_sql.json first), so each suite commits them
  * as a static `*Sig` map; SuiteSpec checks every entry against [[sigOf]]
  * of the analyzed query and prints the replacement line on a mismatch.
  */
object Suites {

  /** Every suite query name in SparkEntry.queries (the builders ignore the
    * data-dir argument: suite tables live in their own generator dirs). */
  lazy val names: Set[String] = Seq(
    graft.tpcds.Tpcds.queries, graft.tpcds.Tpcxbb.queries, graft.job.Job.queries,
    graft.ssb.Ssb.queries, graft.clickbench.Clickbench.queries).flatMap(_.keys).toSet

  /** One suite's closed-form tables, materialized to parquet once per
    * machine and registered once per session.
    *
    * `tables` pairs each parquet dir name under `dataDir` with its
    * generator; the registered name is `prefix` + dir name. The completion
    * marker `_ALL_TABLES_OK_<hash>` hashes the Spark-dialect generator text,
    * so a changed closed form regenerates the parquet instead of silently
    * serving stale rows. Scanning parquet (vectorized, with pushdown and
    * pruning) beats re-evaluating the generator expressions per query, and
    * sidesteps a Spark interaction where a cached generator view breaks
    * attribute resolution when a WITH-CTE references it through
    * deduplicated branches. With `analyzed` (generator scale > 1) the
    * tables register as ANALYZE'd catalog tables so CBO join reorder fires
    * (see [[CatalogStats]]); at the gate scale, plain temp views. */
  final class TableSet(dataDir: String, tables: Seq[(String, Dia => String)],
      prefix: String, analyzed: Boolean) {
    private val registered =
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

    def ensure(spark: SparkSession): Unit =
      if (!registered.containsKey(spark)) synchronized {
        if (!registered.containsKey(spark)) {
          val ver = Integer.toHexString(tables.map(_._2(SparkDia)).mkString.hashCode)
          val done = Paths.get(s"$dataDir/_ALL_TABLES_OK_$ver")
          GenLock.withFileLock(s"$dataDir.lock") {
            if (!Files.exists(done)) {
              tables.foreach { case (name, gen) =>
                spark.sql(gen(SparkDia)).write.mode("overwrite").parquet(s"$dataDir/$name")
              }
              Files.createFile(done)
            }
            // planning samples for SampleJoinReorder (idempotent backfill)
            PlanningSamples.ensure(spark, dataDir, tables.map(_._1))
          }
          tables.foreach { case (name, _) =>
            if (analyzed) CatalogStats.registerAnalyzed(spark, prefix + name, s"$dataDir/$name")
            else ParquetMeta.read(spark, s"$dataDir/$name").createOrReplaceTempView(prefix + name)
          }
          // mark only after the views exist: a transient generation failure
          // must retry on the next query, not poison the whole session
          registered.put(spark, java.lang.Boolean.TRUE)
        }
      }

    /** DuckDB DDL for the registered names `keep` accepts. The oracle
      * materializes tables with CREATE TABLE IF NOT EXISTS (cheap after the
      * first query on a shared connection) rather than inlining them as
      * CTEs: inlined generator expressions made DuckDB's optimizer blow up
      * on the larger multi-join queries. */
    def duckDdl(keep: String => Boolean = _ => true): String =
      tables.filter(t => keep(prefix + t._1)).map { case (name, gen) =>
        s"CREATE TABLE IF NOT EXISTS $prefix$name AS (${gen(DuckDia)});"
      }.mkString("\n")
  }

  /** A suite's rounding rule for fractional output columns: the Spark
    * column and its DuckDB text, kept side by side so they cannot drift. */
  final case class Rounding(spark: Column => Column, duck: String => String)

  /** `round(x, 3)` over the double value (JOB, SSB). */
  val Round3: Rounding = Rounding(
    c => round(c.cast("double"), 3),
    c => s"round(cast($c as double), 3)")

  /** One char per output column: d = fractional, l = integral, r = raw. */
  def sigOf(df: DataFrame): String =
    df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType | DoubleType | FloatType => 'd'
        case ByteType | ShortType | IntegerType | LongType => 'l'
        case _ => 'r'
      }
    }.mkString

  /** Positional rename to c1..cN plus the numeric normalization. */
  def wrap(df: DataFrame, rounding: Rounding): DataFrame = {
    val renamed = df.toDF((1 to df.schema.length).map("c" + _): _*)
    val outs = renamed.columns.toIndexedSeq.zip(sigOf(renamed)).map {
      case (c, 'd') => rounding.spark(col(c)).as(c)
      case (c, 'l') => col(c).cast("long").as(c)
      case (c, _) => col(c)
    }
    renamed.select(outs: _*)
  }

  /** DuckDB mirror of [[wrap]] over the query text `body`, given the
    * query's committed signature. */
  def oracleSelect(sig: String, rounding: Rounding, body: String): String = {
    val cols = (1 to sig.length).map("c" + _)
    val sel = cols.zip(sig).map {
      case (c, 'd') => s"${rounding.duck(c)} AS $c"
      case (c, 'l') => s"cast($c as bigint) AS $c"
      case (c, _) => c
    }.mkString(", ")
    s"SELECT $sel FROM (\n$body\n) AS t(${cols.mkString(", ")})"
  }

  private val wordRe = "[\\p{L}_][\\p{L}\\p{N}_]*".r

  /** Prefix every whole-word table name outside string literals, quoted
    * identifiers and comments ([[graft.sqlsurface.SqlScan.mask]]). The
    * rename covers aliases too, so it is a pure alpha-rename. With
    * `members = false`, a word right after a `.` (a qualified column) is
    * left alone, for schemas that reuse table names as column names. */
  def renameTables(sql: String, names: Set[String], prefix: String,
      members: Boolean): String = {
    val m = graft.sqlsurface.SqlScan.mask(sql)
    def afterDot(i: Int): Boolean = {
      val k = m.lastIndexWhere(!_.isWhitespace, i - 1)
      k >= 0 && m.charAt(k) == '.'
    }
    graft.sqlsurface.SqlScan.splice(sql, wordRe.findAllMatchIn(m)
      .filter(w => names(w.matched.toLowerCase) && (members || !afterDot(w.start)))
      .map(w => (w.start, w.start, prefix)).toSeq)
  }
}
