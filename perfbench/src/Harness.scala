package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.types.StructType

import org.apache.spark.graftbench.TraceListener

import graft.{Engine, Prepared, SparkEntry}

/** One benchmark run inside one JVM, driven only through the engine's public
  * calls: `Engine.create`, `SparkEntry.queries` (which wraps the suite
  * builders `Tpcds.run`/`Job.run`/`Ssb.run`/`Clickbench.run`), the suites'
  * `ensure`, and `Prepared.freshRdd` followed by a full drain.
  *
  * A closed loop of one client: exactly one query is in flight at a time.
  * Raw records (set-ups, executions, passes, heap samples and, when traced,
  * spans and Spark listener aggregates) are written to `<out>/run.json` and
  * `<out>/spans.jsonl`; `perfbench/run.py` turns them into metrics. Each
  * query's result is dumped once per run, outside the timed passes, to
  * `<out>/results/<query>/` for the DuckDB output check.
  *
  * Usage: graftbench.Harness <workload> <seed> <seconds> <trace 0|1> <outDir>
  *          <sf0.1 dir> <sf1 dir>
  */
object Harness {

  /** A workload: its queries, its data dir (empty = generator-scale suites),
    * and the nominal wall of one pass on a 4-core host, which turns the
    * requested seconds into a FIXED pass count. Fixing the count (instead of
    * looping until a deadline) keeps sample counts, tail ranks and heap
    * growth identical between a slower and a faster build. */
  final case class Workload(data: String, queries: Seq[String], nominalPassS: Double,
      minPasses: Int)

  val lightSf01: Seq[String] = Seq(
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q10", "tpch_q21",
    "agg_rollup", "agg_groupjoin", "win_running_sum",
    "dedup_exact", "sim_cosine_topk", "text_quality", "ev_sessions")

  val scanSf1: Seq[String] = Seq(
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q10", "tpch_q21",
    "agg_groupjoin", "ev_sessions")

  val dedupSf01: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embed_cos")

  /** The ad-hoc draw: four queries from each suite (three from JOB), submitted
    * in a seeded order after untimed warm-up queries from outside the list.
    * Fifteen queries put the tail (the 11th largest latency) and the median
    * among several similar queries instead of on the cheapest one or two. */
  val adhocQueries: Seq[String] = Seq(
    "job_q1a", "job_q3a", "job_q8a",
    "ssb_q11", "ssb2_q11", "ssb2_q21", "ssb_q31",
    "tpcds_q3", "tpcds_q7", "tpcds_q42", "tpcds_q39a",
    "cb_q2", "cb_q8", "cb_q13", "cb_q16")

  /** One untimed query per suite from outside the draw warms the JVM's
    * planning and execution paths (JIT, and SampleJoinReorder's per-table
    * sample frames for every table two measured queries share), so the seeded
    * order does not decide which measured query carries a cold start. */
  val adhocWarmup: Seq[String] = Seq("job_q2a", "ssb_q12", "tpcds_q55", "cb_q1")

  def workload(name: String, sf01: String, sf1: String): Workload = name match {
    case "olap_prepared_sf01" => Workload(sf01, lightSf01, 4.7, 2)
    case "olap_scan_sf1" => Workload(sf1, scanSf1, 10.6, 2)
    case "dedup_sf01" => Workload(sf01, dedupSf01, 2.8, 4)
    case "adhoc_suites" => Workload("", adhocQueries, 0.0, 1)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  // ---------------------------------------------------------------- clocks

  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000.0

  /** Epoch microseconds on the monotonic clock (Spark's events carry epoch
    * milliseconds, so both sides of a span tree share one time axis). */
  def nowUs(): Double = epochBaseUs + (System.nanoTime() - nanoBase) / 1000.0

  // ----------------------------------------------------------------- spans

  final case class Span(id: Long, parent: Long, exec: Long, name: String,
      startUs: Double, endUs: Double, attrs: Map[String, String])

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L

  /** Record a span around `f`. Spans live in memory and are written at exit.
    * The id is also set as a Spark local property, so jobs submitted inside
    * the call name it as their parent. */
  def span[T](spark: SparkSession, name: String, parent: Long, exec: Long,
      attrs: Map[String, String] = Map.empty)(f: Long => T): T = {
    val id = nextId; nextId += 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowUs()
    try f(id)
    finally {
      spans += Span(id, parent, exec, name, t0, nowUs(), attrs)
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  val SpanProp = "graftbench.span"

  // ------------------------------------------------------------- execution

  final case class Exec(id: Long, query: String, phase: String, pass: Int,
      startUs: Double, endUs: Double, rddId: Int, reused: Boolean, rows: Long,
      error: String)

  /** Consume every row of every partition; returns the row count. */
  def drain(rdd: RDD[InternalRow]): Long =
    rdd.mapPartitions(it => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator(n) })
      .collect().sum

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, outDir, sf01, sf1) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val wl = workload(wlName, sf01, sf1)
    val out = new File(outDir); out.mkdirs()
    val rnd = new Random(seed)
    val adhoc = wl.data.isEmpty
    val queries = if (adhoc) rnd.shuffle(wl.queries) else wl.queries
    val passes =
      if (adhoc) 1 else math.max(wl.minPasses, math.round(seconds / wl.nominalPassS).toInt)
    val cores = Runtime.getRuntime.availableProcessors
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen")).orNull
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    // ---------------------------------------------------------- set-up
    // Set up SetupRounds times: the first round is timed from JVM start, the
    // later rounds from a stopped context. The last round's session is the
    // one measured; set-up time is reported as the median of the rounds.
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000.0
    val setups = mutable.ArrayBuffer[Map[String, Double]]()
    val listener = new TraceListener()
    var spark: SparkSession = null
    var prepared: Map[String, DataFrame] = Map.empty
    val SetupRounds = 3
    var rules0 = Map.empty[String, Long]
    for (round <- 0 until SetupRounds) {
      if (spark != null) { spark.stop(); System.gc() }
      rules0 = ruleTimes() // the trace's rule times cover the last round on
      val t0 = if (round == 0) jvmStartUs else nowUs()
      val tc0 = nowUs()
      spark = Engine.create(master = s"local[$cores]", shufflePartitions = cores,
        appName = s"graftbench-$wlName",
        dataDir = if (adhoc) None else Some(wl.data),
        extraConf = Map(
          "spark.sql.warehouse.dir" -> new File(out, "warehouse").getAbsolutePath))
      val tc1 = nowUs()
      // job and stage ids restart with every context: trace the last one only
      if (traced && round == SetupRounds - 1) spark.sparkContext.addSparkListener(listener)
      // data preparation: register the suites' parquet tables and planning
      // samples (generator-scale session); dataDir sessions register their
      // tables lazily inside PREPARE
      if (adhoc) {
        graft.tpcds.Tpcds.ensure(spark); graft.job.Job.ensure(spark)
        graft.ssb.Ssb.ensure(spark); graft.clickbench.Clickbench.ensure(spark)
      }
      val td1 = nowUs()
      // PREPARE: construct (parse + analyze) every query once; ad-hoc queries
      // are submitted as fresh SQL per execution instead
      prepared =
        if (adhoc) Map.empty
        else wl.queries.map(q => q -> SparkEntry.queries(q)(spark, wl.data)).toMap
      val tp1 = nowUs()
      setups += Map("total_s" -> (tp1 - t0) / 1e6, "engine_create_s" -> (tc1 - tc0) / 1e6,
        "datagen_s" -> (td1 - tc1) / 1e6, "prepare_s" -> (tp1 - td1) / 1e6,
        "jvm_to_create_s" -> (tc0 - t0) / 1e6)
    }

    // ------------------------------------------------------- executions
    val execs = mutable.ArrayBuffer[Exec]()
    val seenRdds = mutable.Set[Int]()
    val collected = mutable.Map[String, (Array[InternalRow], StructType)]()
    var execId = 0L

    // per-query planning records (tracker phases + rule times)
    val planning = mutable.LinkedHashMap[String, Map[String, Double]]()
    def trackPlanning(q: String, df: DataFrame): Unit = {
      val tr = df.queryExecution.tracker
      val ph = tr.phases.map { case (k, v) => s"phase.$k" -> (v.endTimeMs - v.startTimeMs) / 1e3 }
      val starts = tr.phases.map { case (k, v) => s"start.$k" -> v.startTimeMs * 1000.0 }
      val ends = tr.phases.map { case (k, v) => s"end.$k" -> v.endTimeMs * 1000.0 }
      val rules = tr.rules.collect { case (k, v) if RuleNames.exists(k.endsWith) =>
        s"rule.${k.split('.').last}" -> v.totalTimeNs / 1e9 }
      planning(q) = ph ++ starts ++ ends ++ rules
    }

    /** One execution: the freshRdd call, then a full drain. Ad-hoc queries
      * are constructed from SQL text inside the timed region and their (small)
      * results are collected in place, since they run only once per JVM. */
    def execute(q: String, phase: String, pass: Int): Unit = {
      execId += 1
      val id = execId
      val t0 = nowUs()
      var rddId = -1
      var reused = false
      var rows = 0L
      var err = ""
      span(spark, "exec", 0, id, Map("query" -> q, "phase" -> phase, "pass" -> pass.toString)) { root =>
        try {
          val df =
            if (adhoc) span(spark, "construct", root, id)(_ => SparkEntry.queries(q)(spark, wl.data))
            else prepared(q)
          val rdd = span(spark, "Prepared.freshRdd", root, id) { _ => Prepared.freshRdd(df) }
          rddId = rdd.id
          reused = !seenRdds.add(rddId)
          rows = span(spark, "drain", root, id, Map("rdd" -> rddId.toString)) { _ =>
            if (adhoc) {
              val rs = rdd.map(_.copy()).collect()
              collected(q) = (rs, df.schema)
              rs.length.toLong
            } else drain(rdd)
          }
          if (adhoc) trackPlanning(q, df)
        } catch { case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $q failed: $err")
        }
      }
      execs += Exec(id, q, phase, pass, t0, nowUs(), rddId, reused, rows, err)
    }

    val passRecs = mutable.ArrayBuffer[Map[String, Double]]()
    val heapMb = mutable.ArrayBuffer[Double]()
    // full GC, a pause for the ContextCleaner to drop the state that GC just
    // made unreachable (broadcast blocks, shuffle files), and a second GC
    def postGcOldGenMb(): Double = {
      System.gc(); Thread.sleep(200); System.gc()
      if (oldGen == null) -1.0 else oldGen.getCollectionUsage.getUsed / 1048576.0
    }

    if (adhoc) adhocWarmup.foreach(q => execute(q, "warmup", -1))

    // first EXECUTE of every query (plan, codegen and cache fill included). The
    // cold executions and the check pass below run in the workload's own
    // order, so that JIT warm-up takes the same path in every run.
    val gf0 = gcMs()
    val tf0 = nowUs()
    queries.foreach(q => execute(q, "first", 0))
    val tf1 = nowUs()
    val gf1 = gcMs()
    if (!adhoc) prepared.foreach { case (q, df) => trackPlanning(q, df) }
    heapMb += postGcOldGenMb()
    passRecs += Map("pass" -> 0, "wall_s" -> (tf1 - tf0) / 1e6, "gc_s" -> (gf1 - gf0) / 1e3,
      "start_us" -> tf0, "end_us" -> tf1, "traced" -> (if (traced) 1 else 0))

    // Output check, untimed: one more execution of every prepared query
    // through the same path the passes time (a cache hit), collecting its
    // rows. Run before the measured passes, it also warms them up. Ad-hoc
    // queries run once per JVM, so theirs were collected in place.
    val checkErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def checkFailed(q: String, e: Throwable): Unit = {
      checkErrors.put(q, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      System.err.println(s"[perfbench] result check of $q failed: ${checkErrors.get(q)}")
    }
    val results: Seq[(String, (Array[InternalRow], StructType))] =
      if (adhoc) queries.flatMap(q => collected.get(q).map(q -> _))
      else queries.flatMap { q =>
        try Some(q -> (Prepared.freshRdd(prepared(q)).map(_.copy()).collect(), prepared(q).schema))
        catch { case e: Throwable => checkFailed(q, e); None }
      }

    def measuredPasses(from: Int, n: Int, tracedPass: Boolean): Unit =
      for (p <- from until from + n) {
        val order = rnd.shuffle(queries)
        val g0 = gcMs()
        val t0 = nowUs()
        order.foreach(q => execute(q, "measured", p))
        val t1 = nowUs()
        val g1 = gcMs()
        if (p == from + n - 1) heapMb += postGcOldGenMb()
        passRecs += Map("pass" -> p, "wall_s" -> (t1 - t0) / 1e6, "gc_s" -> (g1 - g0) / 1e3,
          "start_us" -> t0, "end_us" -> t1, "traced" -> (if (tracedPass) 1 else 0))
      }

    if (!adhoc) {
      if (traced) {
        // untraced and traced passes alternate (listener detached, then
        // attached), so within-process drift cancels in the difference of
        // their medians: the listener's overhead
        for (i <- 0 until passes) {
          spark.sparkContext.removeSparkListener(listener)
          measuredPasses(2 * i + 1, 1, tracedPass = false)
          spark.sparkContext.addSparkListener(listener)
          measuredPasses(2 * i + 2, 1, tracedPass = true)
        }
      } else measuredPasses(1, passes, tracedPass = false)
    }
    val rules1 = ruleTimes()

    // dump the checked results to parquet for the DuckDB comparison
    val resultsDir = new File(out, "results")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, cores))
    results.map { case (q, (rows, schema)) =>
      q -> pool.submit(new Runnable {
        def run(): Unit = {
          val conv = CatalystTypeConverters.createToScalaConverter(schema)
          val ext = rows.map(r => conv(r).asInstanceOf[Row]).toSeq
          spark.createDataFrame(ext.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(resultsDir, q).getAbsolutePath)
        }
      })
    }.foreach { case (q, f) =>
      try f.get() catch { case e: java.util.concurrent.ExecutionException => checkFailed(q, e.getCause) }
    }
    pool.shutdown()
    val oracle = SparkEntry.oracleSql
    writeJson(new File(out, "oracle_sql.json"),
      Json.obj(queries.filter(oracle.contains).map(q => q -> Json.str(oracle(q)))))

    if (traced) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.stop()

    // ------------------------------------------------------------- record
    val ruleDelta = RuleNames.map(r => r.split('.').last ->
      (rules1.getOrElse(r, 0L) - rules0.getOrElse(r, 0L)) / 1e9)
    val rec = Json.obj(Seq(
      "workload" -> Json.str(wlName), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "traced" -> traced.toString,
      "cores" -> cores.toString, "passes" -> passes.toString,
      "data" -> Json.str(wl.data),
      "queries" -> Json.arr(queries.map(Json.str)),
      "setups" -> Json.arr(setups.toSeq.map(numObj)),
      "passes_rec" -> Json.arr(passRecs.toSeq.map(numObj)),
      "heap_mb" -> Json.arr(heapMb.toSeq.map(Json.num)),
      "rules_s" -> numObj(ruleDelta.toMap),
      "planning" -> Json.obj(planning.toSeq.map { case (q, m) => q -> numObj(m) }),
      "check_errors" -> Json.obj(checkErrors.asScala.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "execs" -> Json.arr(execs.toSeq.map { e =>
        Json.obj(Seq("id" -> e.id.toString, "query" -> Json.str(e.query),
          "phase" -> Json.str(e.phase), "pass" -> e.pass.toString,
          "start_us" -> Json.num(e.startUs),
          "end_us" -> Json.num(e.endUs), "rdd" -> e.rddId.toString,
          "reused" -> e.reused.toString, "rows" -> e.rows.toString,
          "error" -> Json.str(e.error)))
      }),
      "listener" -> (if (traced) listener.toJson else "null")))
    writeJson(new File(out, "run.json"), rec)
    val pw = new PrintWriter(new File(out, "spans.jsonl"))
    try {
      spans.foreach { s =>
        pw.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "exec" -> s.exec.toString, "name" -> Json.str(s.name),
          "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs),
          "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.str(v) }))))
      }
      if (traced) listener.spans.foreach(pw.println)
    } finally pw.close()
  }

  /** Optimizer rules the trace times by name (class-name suffix match). */
  val RuleNames: Seq[String] = Seq(
    "graft.plans.SampleJoinReorder", "graft.plans.DecorrelateComplexAggs",
    "graft.plans.TinySinglePartitionSort")

  /** Cumulative per-rule time (ns) from Catalyst's process-wide rule meter,
    * which also sees the planning runs a Dataset's own tracker does not
    * (a fresh QueryExecution inside Prepared's fallback path). */
  def ruleTimes(): Map[String, Long] = {
    val line = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    RuleExecutor.dumpTimeSpent().split('\n').toSeq.flatMap {
      case line(rule, _, total, _, _) if RuleNames.exists(rule.endsWith) =>
        RuleNames.find(rule.endsWith).map(_ -> total.toLong)
      case _ => None
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def numObj(m: Map[String, Double]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })

  private def writeJson(f: File, s: String): Unit = Files.writeString(f.toPath, s)
}

/** Minimal JSON writer (values are passed pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
