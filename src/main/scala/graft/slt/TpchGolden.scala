package graft.slt

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.sqlsurface.{GraftSql, SqlCanonicalizer}

/** TPC-H golden-answer check: the 22 queries end to end through GraftSql
  * (parse, canonicalize, Catalyst plan, execute) against a known answer set.
  *
  * The fixture comes from one offline dbgen, DuckDB's bundled `tpch`
  * extension (tools/gen_tpch_sf1.py): the eight tables as parquet, the
  * extension's own query texts (`qNN.sql`, from `tpch_queries()`) and its
  * answers at the same scale (`qNN.ans`, from `tpch_answers()`). Data,
  * queries and answers therefore agree, so every cell of every query is
  * compared; nothing is masked. These are DuckDB's texts of the 22 queries,
  * not the reference's verbatim corpus (test/sqlite-datasets/tpchSf1.test,
  * whose answers come from a 2.14-era dbgen with a different free-text
  * pool). Cells compare under the reference's fuzzy-float rule
  * ([[SltRunner.cellEq]], sqlite-tester.cpp compareFuzzy), right-trimmed:
  * CHAR(n) columns may print blank-padded.
  */
object TpchGolden {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "partsupp", "orders", "lineitem")

  def register(spark: SparkSession, dir: String): Unit =
    tables.foreach { t =>
      graft.util.ParquetMeta.read(spark, s"$dir/$t.parquet").createOrReplaceTempView(t)
    }

  private def rstrip(s: String): String = s.replaceAll("\\s+$", "")

  def run(spark: SparkSession, dir: String): SltRunner.FileResult = {
    register(spark, dir)
    val failures = (1 to 22).flatMap { n =>
      val q = f"q$n%02d"
      val sql = Files.readString(Paths.get(s"$dir/$q.sql")).trim.stripSuffix(";")
      // header line, then one `|`-separated row per line
      val want = Files.readAllLines(Paths.get(s"$dir/$q.ans")).asScala.toSeq.drop(1)
        .filter(_.nonEmpty).map(_.split("\\|", -1).toSeq.map(rstrip))
      Try(SltRunner.rowsOf(GraftSql(spark, SqlCanonicalizer.pgNullOrder(sql)))) match {
        case Failure(e) => Some(s"$q: ${String.valueOf(e.getMessage).take(200)}")
        case Success(rows) =>
          val got = rows.map(_.map(rstrip))
          val ok = got.length == want.length && got.zip(want).forall { case (g, w) =>
            g.length == w.length && g.zip(w).forall((SltRunner.cellEq _).tupled)
          }
          if (ok) None
          else Some(s"$q: " + got.zip(want).zipWithIndex.collectFirst {
            case ((g, w), i) if g != w => s"row $i got=${g.mkString("|")} want=${w.mkString("|")}"
          }.getOrElse(s"rows ${got.length} want ${want.length}"))
      }
    }
    SltRunner.FileResult(dir, 22 - failures.size, failures.size, failures)
  }
}
