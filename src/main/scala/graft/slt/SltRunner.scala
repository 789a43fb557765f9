package graft.slt

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.sqlsurface.{GraftSql, SqlCanonicalizer}

/** sqllogictest runner — the reference's primary correctness harness
  * (reference src/tools/sqlite-tester.cpp: record parsing :380-:497, result
  * normalization + md5 hashing `ResultHasher` :39-170). Runs the SAME corpus
  * files (test/sqlite-small, test/sqlite, uni) against the Spark engine via
  * the GraftSql statement router, so CREATE TABLE / INSERT / CREATE FUNCTION /
  * SELECT all flow through the engine's own surface, canonicalization
  * included ([[graft.sqlsurface.SqlCanonicalizer]]: quantified comparisons,
  * decorrelation rewrites, type synonyms, table-level PRIMARY KEY).
  *
  * The only harness shim left is the column-level PRIMARY KEY strip
  * (Spark's DDL rejects it; metadata-only in the corpus). Queries also get
  * the corpus's Postgres null ordering through
  * [[graft.sqlsurface.SqlCanonicalizer.pgNullOrder]].
  */
object SltRunner {

  sealed trait Record
  case class Statement(sql: String, expectError: Boolean) extends Record
  case class Query(sql: String, sortMode: String, expected: Seq[String],
      valueWise: Boolean, label: String = "") extends Record

  case class FileResult(file: String, passed: Int, failed: Int,
      failures: Seq[String]) {
    def total: Int = passed + failed
  }

  def parse(content: String): Seq[Record] = {
    val lines = content.linesIterator.toVector
    val records = Vector.newBuilder[Record]
    var i = 0
    while (i < lines.length) {
      val line = lines(i).trim
      if (line.isEmpty || line.startsWith("#")) { i += 1 }
      else if (line.startsWith("statement")) {
        val expectError = line.contains("error")
        i += 1
        val sql = new StringBuilder
        while (i < lines.length && lines(i).trim.nonEmpty && !lines(i).startsWith("----")) {
          sql.append(lines(i)).append("\n"); i += 1
        }
        records += Statement(sql.toString.trim.stripSuffix(";"), expectError)
      } else if (line.startsWith("query")) {
        val tokens = line.split("\\s+").toSeq
        val sortMode = tokens.find(t => t == "rowsort" || t == "valuesort" || t == "nosort")
          .getOrElse("nosort")
        // classic sqllogictest type-strings ("III", "TTI", ...) list expected
        // values ONE PER LINE row-major; the reference's `tsv` extension uses
        // tab-separated rows (sqlite-tester.cpp result parsing)
        val valueWise = tokens.length < 2 || tokens(1) != "tsv"
        i += 1
        val sql = new StringBuilder
        while (i < lines.length && !lines(i).startsWith("----") && lines(i).trim.nonEmpty) {
          sql.append(lines(i)).append("\n"); i += 1
        }
        val expected = Vector.newBuilder[String]
        while (i < lines.length && lines(i).trim.isEmpty) i += 1 // blank before ----
        if (i < lines.length && lines(i).startsWith("----")) {
          i += 1
          while (i < lines.length && lines(i).trim.nonEmpty) {
            expected += lines(i); i += 1
          }
        }
        // trailing free-form token names the query in the reference's tsv
        // extension ("query tsv nosort precision=3 roundfloats tpchq1")
        val label = tokens.drop(1).lastOption.filter(t =>
          !Set("tsv", "rowsort", "valuesort", "nosort", "roundfloats").contains(t) &&
            !t.startsWith("precision") && !t.matches("[IRT]+")).getOrElse("")
        records += Query(sql.toString.trim.stripSuffix(";"), sortMode, expected.result(),
          valueWise, label)
      } else if (line.startsWith("hash-threshold") || line.startsWith("halt") ||
        line.startsWith("skipif") || line.startsWith("onlyif")) {
        i += 1 // modifiers we don't need for these corpora
      } else { i += 1 }
    }
    records.result()
  }

  /** Column-level PRIMARY KEY: Spark's DDL rejects it, and the corpus's
    * is metadata only. */
  private[slt] def adaptDdl(sql: String): String =
    if (!sql.toUpperCase.startsWith("CREATE TABLE")) sql
    else sql.replaceAll("(?i)\\s+primary\\s+key\\b(?!\\s*\\()", "")

  private def fmt(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "t" else "f"
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case f: Float =>
      if (f == math.rint(f) && math.abs(f) < 1e15) f.toLong.toString
      else f.toString // Float.toString gives the shortest round-trip form
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private[slt] def rowsOf(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map((r: Row) => (0 until r.length).map(j => fmt(r.get(j))))

  /** Tolerant cell compare: exact string, or numeric within the reference's
    * fuzzy-float tolerance (sqlite-tester compareFuzzy / precision=3 rounding,
    * reference src/tools/sqlite-tester.cpp:275): abs 1e-3 or rel 1e-6. */
  private[slt] def cellEq(a: String, b: String): Boolean =
    a == b || (((Try(a.toDouble), Try(b.toDouble)): @unchecked) match {
      case (Success(x), Success(y)) =>
        math.abs(x - y) <= 1e-3 ||
          math.abs(x - y) <= 1e-6 * math.max(math.abs(x), math.abs(y))
      case _ => false
    })

  private def md5Of(values: Seq[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    values.foreach(v => md.update((v + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private val hashRe = """(\d+) values hashing to ([0-9a-f]{32})""".r

  private val insertRe =
    """(?is)^\s*INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+)$""".r

  /** A merged run of consecutive single-row INSERTs (counted as n records). */
  private case class MergedInsert(sql: String, n: Int) extends Record

  /** Consecutive `INSERT INTO t(cols) VALUES (...)` statements into the same
    * table are merged into one multi-row INSERT — the corpus shuffles the
    * column order per row, so each tuple is re-ordered to the first-seen
    * column list. One datasource write instead of hundreds (the reference
    * appends to an in-memory Arrow table; Spark writes files per INSERT). */
  private def mergeInserts(records: Seq[Record]): Seq[Record] = {
    def parseIns(sql: String): Option[(String, Seq[String], Seq[Seq[String]])] =
      insertRe.findFirstMatchIn(sql).flatMap { m =>
        val table = m.group(1).toLowerCase
        val cols = Option(m.group(2)).map(_.split(",").toSeq.map(_.trim.toLowerCase))
          .getOrElse(Seq.empty)
        val tuples = graft.sqlsurface.SqlScan.splitTop(m.group(3).trim, ",").map(_.trim)
        // each top-level element must be a parenthesized tuple
        if (tuples.forall(t => t.startsWith("(") && t.endsWith(")")))
          Some((table, cols,
            tuples.map(t => graft.sqlsurface.SqlScan.splitTop(
              t.substring(1, t.length - 1), ",").map(_.trim))))
        else None
      }
    val out = Vector.newBuilder[Record]
    var i = 0
    while (i < records.length) {
      records(i) match {
        case Statement(sql, false) =>
          parseIns(sql) match {
            case Some((table, canonCols, firstTuples))
                if firstTuples.forall(t => canonCols.isEmpty || t.length == canonCols.length) =>
              val rows = Vector.newBuilder[Seq[String]]
              rows ++= firstTuples
              var n = 1
              var j = i + 1
              var go = true
              while (go && j < records.length && n < 500) {
                records(j) match {
                  case Statement(s2, false) => parseIns(s2) match {
                    case Some((t2, c2, tup2))
                        if t2 == table &&
                          tup2.forall(t => t.length == (if (canonCols.isEmpty) firstTuples.head.length else canonCols.length)) &&
                          (c2 == canonCols || (c2.nonEmpty && canonCols.nonEmpty && c2.sorted == canonCols.sorted)) =>
                      // re-order tuple fields to the canonical column list
                      val remapped =
                        if (c2 == canonCols) tup2
                        else tup2.map(t => canonCols.map(c => t(c2.indexOf(c))))
                      rows ++= remapped
                      n += 1; j += 1
                    case _ => go = false
                  }
                  case _ => go = false
                }
              }
              val colSql = if (canonCols.isEmpty) "" else canonCols.mkString("(", ", ", ")")
              val valuesSql = rows.result().map(_.mkString("(", ", ", ")")).mkString(", ")
              out += MergedInsert(s"INSERT INTO $table$colSql VALUES $valuesSql", n)
              i = j
            case _ => out += records(i); i += 1
          }
        case r => out += r; i += 1
      }
    }
    out.result()
  }

  def runFile(spark: SparkSession, path: String): FileResult = {
    val content = Files.readString(Paths.get(path))
    val db = "slt_" + math.abs(path.hashCode).toString
    // reference inserts rely on lax value coercion ('24002' into an int col);
    // save the prior policy so SLT runs don't leak LEGACY into the session
    val priorAssignPolicy = spark.conf.getOption("spark.sql.storeAssignmentPolicy")
    spark.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
    // clean catalog AND warehouse dir: a killed previous run can leave table
    // directories behind, which make CREATE TABLE fail (LOCATION_ALREADY_EXISTS)
    Try(spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$db.db")
    if (wh.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(wh)
    }
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"USE $db")
    var passed = 0
    var failed = 0
    val failures = Vector.newBuilder[String]
    try {
      mergeInserts(parse(content)).foreach {
        case MergedInsert(sql, n) =>
          Try(GraftSql(spark, sql)) match {
            case Success(_) => passed += n
            case Failure(e) =>
              failed += n; failures += s"${short(sql)} -> ${short(e.getMessage)}"
          }
        case Statement(sql, expectError) =>
          Try(GraftSql(spark, adaptDdl(sql))) match {
            case Success(_) if !expectError => passed += 1
            case Failure(_) if expectError => passed += 1
            case Success(_) => failed += 1; failures += s"expected error: ${short(sql)}"
            case Failure(e) => failed += 1; failures += s"${short(sql)} -> ${short(e.getMessage)}"
          }
        case Query(sql0, sortMode0, expected, valueWise, _) =>
          val sql = SqlCanonicalizer.pgNullOrder(sql0)
          // a distributed engine has no deterministic row order without
          // ORDER BY; fall back to rowsort for unordered nosort queries
          val coercedToRowsort =
            sortMode0 == "nosort" && !sql.toLowerCase.contains("order by")
          val sortMode = if (coercedToRowsort) "rowsort" else sortMode0
          Try(rowsOf(GraftSql(spark, sql))) match {
            case Failure(e) => failed += 1; failures += s"${short(sql)} -> ${short(e.getMessage)}"
            case Success(rows) =>
              val got: Seq[Seq[String]] = sortMode match {
                case "rowsort" => rows.sortBy(_.mkString("\u0000"))
                case "valuesort" => rows.flatten.sorted.map(Seq(_))
                case _ => rows
              }
              val ok = expected match {
                case Seq(hashRe(n, h)) =>
                  val vals = got.flatten
                  vals.length == n.toInt && md5Of(vals) == h
                case _ if valueWise =>
                  // classic sqllogictest: expected values one per line,
                  // row-major (sqlite-tester.cpp result normalization)
                  val gotVals = got.flatten
                  val wantVals = sortMode match {
                    case "valuesort" => expected.map(_.trim).sorted
                    case "rowsort" if coercedToRowsort =>
                      // nosort record coerced to rowsort: the expected file
                      // values are in engine arrival order, not pre-sorted —
                      // regroup into rows and sort them the same way as `got`
                      val ncol = rows.headOption.map(_.length).getOrElse(1).max(1)
                      expected.map(_.trim).grouped(ncol).toSeq
                        .sortBy(_.mkString(" ")).flatten
                    case _ => expected.map(_.trim) // genuine rowsort: file pre-sorted
                  }
                  gotVals.length == wantVals.length &&
                    gotVals.zip(wantVals).forall((cellEq _).tupled)
                case _ =>
                  // right-trim tsv cells: dbgen CHAR(n) columns print
                  // blank-padded in the reference's goldens (s_name
                  // CHAR(25) -> "Supplier#000008449       "), while the
                  // TpchGolden fixture stores unpadded VARCHAR - CHAR
                  // comparison semantics ignore the pad, so the compare
                  // does too
                  def rstrip(s: String): String = s.replaceAll("\\s+$", "")
                  val want = expected.map(_.split("\t").toSeq.map(rstrip))
                  val wantSorted = sortMode match {
                    case "rowsort" => want.sortBy(_.mkString("\u0000"))
                    case "valuesort" => want.flatten.sorted.map(Seq(_))
                    case _ => want
                  }
                  got.length == wantSorted.length &&
                    got.zip(wantSorted).forall { case (g, w) =>
                      g.length == w.length &&
                        g.map(rstrip).zip(w).forall((cellEq _).tupled)
                    }
              }
              if (ok) passed += 1
              else {
                failed += 1
                failures += s"result mismatch: ${short(sql)} | got=${short(got.map(_.mkString(",")).mkString(";"))} want=${short(expected.mkString(";"))}"
              }
          }
      }
    } finally {
      priorAssignPolicy match {
        case Some(v) => spark.conf.set("spark.sql.storeAssignmentPolicy", v)
        case None    => spark.conf.unset("spark.sql.storeAssignmentPolicy")
      }
      spark.sql(s"USE default")
      Try(spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    }
    FileResult(path, passed, failed, failures.result())
  }

  private def short(s: String): String = {
    val t = Option(s).getOrElse("null").replaceAll("\\s+", " ")
    if (t.length > 140) t.take(140) + "…" else t
  }
}

/** CLI: run corpus files, print per-file pass/fail. With no arguments it
  * runs every file of the vendored sqlite-small corpus (run from the repo
  * root). */
object SltMain {
  def main(args: Array[String]): Unit = {
    val files = if (args.nonEmpty) args.toSeq else {
      val dir = new java.io.File("src/test/resources/slt/sqlite-small")
      require(dir.isDirectory, s"no corpus at ${dir.getAbsolutePath}; run from the repo root")
      dir.listFiles().map(_.getPath).filter(_.endsWith(".test")).sorted.toSeq
    }
    val spark = graft.Engine.create(master = "local[4]", shufflePartitions = 4,
      appName = "graft-slt")
    var totalPass = 0
    var totalFail = 0
    files.foreach { f =>
      val r = SltRunner.runFile(spark, f)
      totalPass += r.passed; totalFail += r.failed
      println(s"[slt] ${f.split('/').last}: ${r.passed}/${r.total} pass")
      r.failures.take(200).foreach(x => println(s"  FAIL $x"))
    }
    println(s"[slt] TOTAL: $totalPass/${totalPass + totalFail}")
    spark.stop()
  }
}
