package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Ordering contract (round-11 hardening): `oracle_sql.json` is STATIC —
  * derivable with no Spark session — so it is written FIRST, before any
  * query executes. Round 10's artifact came back `{}` because the oracle
  * map was written only after the full sequential per-query dump (~15 min
  * on the driver host); any harness timeout mid-dump left the compare with
  * no oracle map and zeroed the round. Now a timeout mid-dump still leaves
  * the oracle map plus every parquet dumped so far, so the compare records
  * partial results instead of nothing.
  *
  * The dump itself runs through a small thread pool (default 8 threads,
  * override SPARK_GRAFT_VERIFY_THREADS): Spark schedules concurrent jobs
  * from multiple threads natively, and the per-query driver-side constants
  * (plan + codegen, ~0.5-2 s each over 459 queries) overlap instead of
  * serializing. Shared-session safety: Tables' catalog cache is a
  * ConcurrentHashMap, temp views registered by query builders are
  * idempotent per data dir (same content on re-create), and each output
  * path is owned by exactly one query name.
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write the static oracle map. Public so VerifySpec can assert it lands
    * independently of (and before) any query dump. */
  def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated name-prefix filter for fast local iteration
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    new java.io.File(outDir).mkdirs()
    writeOracleJson(outDir) // FIRST — before any Spark work (see scaladoc)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Engine.create, not a vanilla session: the correctness gate must run
    // the plans the engine actually ships — extensions (Decorrelate,
    // TinySinglePartitionSort) and the data-dir-derived regime included.
    val spark = Engine.create(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-verify",
      dataDir = Some(sfDir))

    val work = SparkEntry.queries.filter(kv => only(kv._1)).toSeq.sortBy(_._1)
    val nThreads = math.max(1, math.min(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt, work.size))
    val pool = Executors.newFixedThreadPool(nThreads)
    val done = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[String]()
    work.foreach { case (name, fn) =>
      pool.execute { () =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          failures.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // Write an explicit error marker so the driver's compare records a
          // FAILURE (schema mismatch) for this query instead of silently
          // omitting it from the round's correctness artifact.
          try {
            import spark.implicits._
            Seq(s"ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
              .toDF("graft_query_error").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () }
        } finally {
          val n = done.incrementAndGet()
          if (n % 50 == 0) println(s"[verify] progress $n/${work.size}")
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(24, TimeUnit.HOURS)
    val failed = failures.size()
    println(s"[verify] done ${done.get}/${work.size} ok=${done.get - failed} failed=$failed" +
      (if (failed > 0) " [" + String.join(",", failures) + "]" else ""))
    spark.stop()
  }
}
