package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Session factory for the graft engine — the Spark analog of the reference's
  * session/connection object (`Connection.sql`, reference
  * tools/python/lingodb/__init__.py:44-75; DefaultQueryExecuter,
  * src/execution/Execution.cpp:280-394). Catalyst's optimizer pipeline plays
  * the role of the reference's RelAlg pass pipeline
  * (src/compiler/Dialect/RelAlg/Passes.cpp:17-50); AQE is the runtime
  * re-optimizer standing in for sample-driven DPhyp join ordering (SURVEY §4.1).
  */
object Engine {
  /** Largest table's byte size under a scale-factor dir — tables are either
    * single `<name>.parquet` files (the driver's testdata) or
    * `<name>.parquet/` directories (Spark-written, tools.ScaleUp). */
  def largestTableBytes(dataDir: String): Long = {
    val root = new java.io.File(dataDir)
    val tableBytes = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map { d =>
        if (d.isDirectory)
          Option(d.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        else d.length
      }
    if (tableBytes.isEmpty) 0L else tableBytes.max
  }

  /** Below this largest-table size the session runs in the tiny-data
    * regime: static 8-partition shuffles, no AQE, single-partition sorts.
    * The whole dataset fits in one executor's memory many times over, so
    * runtime re-planning and wide shuffles only add scheduling latency —
    * measured at sf0.1: AQE off + 8 shuffle partitions cut the
    * comparable-14 total ~25% (PERF_r10 §3). 64 MB keeps sf1
    * (~110 MB lineitem) and everything larger on the scale path. */
  val TinyBytes: Long = 64L * 1024 * 1024

  /** Between TinyBytes and this, the session runs the SMALL regime: same
    * latency cuts as tiny (no AQE, narrow shuffles, single-partition
    * sorts, conservative broadcast threshold) but scan splits keep the
    * continuous parallel sizing — at ~100 MB/table the scan itself is
    * worth parallelizing (measured at sf1: packing a table into one split
    * took tpch_q1 0.5 → 1.5 s, while AQE-off + 8-partition shuffles took
    * the comparable-14 total 6.6 → 4.7 s). Above this, full scale path. */
  val SmallBytes: Long = 512L * 1024 * 1024

  /** The session's data regime — `tiny`, `small` or `scale` — written once
    * by [[create]] from the data dir's largest table (see TinyBytes,
    * SmallBytes); a session without a data dir is `scale`. */
  val RegimeConf = "spark.graft.regime"

  /** True unless the regime is `scale`: "the whole dataset is KB-MB
    * scale", so operators trade scale-safe plan shapes for latency —
    * single-partition sorts (plans.TinySinglePartitionSort), shuffle-hash
    * dims instead of broadcasts (Tables.dim, Tables.hashIfSmall) and spread
    * 1-task generator stages (Dedup). Unset or unknown values count as
    * `scale`. No consumer tells tiny from small. */
  def smallRegime(conf: SQLConf): Boolean =
    conf.getConfString(RegimeConf, "scale") match {
      case "tiny" | "small" => true
      case _ => false
    }

  private val localN = """local\[(\d+)(?:,\s*\d+)?\]""".r

  /** Task slots of a session on `master`: N for `local[N]` (and
    * `local[N,maxFailures]`), 1 for `local`, the machine's count for
    * `local[*]` or any other master. */
  def masterCores(master: String): Int = master match {
    case "local" => 1
    case localN(n) => n.toInt
    case _ => Runtime.getRuntime.availableProcessors
  }

  /** Scan-split sizing derived from the data directory's actual file layout.
    *
    * Parquet scans split at [maxPartitionBytes] boundaries; the right value
    * is a function of data volume vs the session's core count
    * ([[masterCores]]), not a fixed constant.
    * Continuous rule: size splits so a scan of the LARGEST table yields
    * ~3 tasks per core (inside the classic 2-4×-cores target that keeps all
    * cores busy without per-task overhead dominating), clamped to
    * [4 MB, 128 MB]. The previous binary ≥64 MB-file threshold had a cliff:
    * sf10's 32 × 32 MB lineitem files packed into 128 MB bins made only ~9
    * scan tasks on 32 cores — the same wall time as sf100 on 10× less data —
    * while sf100's 242 MB files were fine at 128 MB. The continuous rule
    * gives sf10 ~12 MB splits (≈96 tasks), sf100 ~76 MB (≈128 tasks), and
    * small SFs the 4 MB floor (one task per MB-sized file), with no cliff in
    * between. Open cost scales with the split (split/8, clamped to
    * [512 KB, 4 MB]) so small-file packing stays proportional.
    */
  def scanSplitConf(dataDir: String, cores: Int): (Long, Long) = {
    val largest = largestTableBytes(dataDir)
    val split = math.max(4L * 1024 * 1024,
      math.min(128L * 1024 * 1024, largest / (cores * 3L)))
    val openCost = math.max(512L * 1024, math.min(4L * 1024 * 1024, split / 8))
    (split, openCost)
  }

  def create(
      master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft",
      dataDir: Option[String] = None,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val cores = masterCores(master)
    val (splitBytes, openCost) = dataDir.map(scanSplitConf(_, cores))
      .getOrElse((4L * 1024 * 1024, 512L * 1024))
    // tiny-data regime (see TinyBytes): the dataset is so small that AQE's
    // stage-by-stage re-planning and 32-wide shuffles are pure scheduling
    // overhead. Static narrow shuffles + no AQE + single-partition sorts
    // (plans.TinySinglePartitionSort) recover the latency; above the
    // threshold every knob keeps its scale setting.
    val largest = dataDir.map(largestTableBytes).getOrElse(0L)
    val tiny = largest > 0 && largest <= TinyBytes
    // small regime: tiny's latency cuts with parallel scans (see SmallBytes)
    val small = largest > TinyBytes && largest <= SmallBytes
    // tiny: 8-wide shuffles (scheduling dominates); small: 16 — wide enough
    // that CPU-dense shuffle stages (ev_sessions' 10M-row session window,
    // q1's agg) keep more cores busy, while still half the scheduling cost
    // of 32 (A/B at sf1: 16 beats both 8 and 32 on the comparable total;
    // the two bucketed-fact queries q9/q21 prefer 8 by ~50 ms but the
    // scan-heavy queries win more)
    val shufParts =
      if (tiny) math.min(8, shufflePartitions)
      else if (small) math.min(16, shufflePartitions)
      else shufflePartitions
    // one split per file in tiny regime (single-row-group files, see below)
    val (effSplit, effOpen) =
      if (tiny) (128L * 1024 * 1024, 4L * 1024 * 1024) else (splitBytes, openCost)
    val base = SparkSession.builder()
      .master(master)
      .appName(appName)
      // Neumann-style decorrelation beyond Catalyst's subquery support
      // (SURVEY §2.1 relalg unnesting; reference Transforms/Unnesting.cpp)
      .withExtensions { e =>
        e.injectResolutionRule(_ => plans.DecorrelateComplexAggs)
        // sample-driven join reorder + broadcast hints (reference
        // QueryGraph.cpp:264-294); it fires only where every join leaf has
        // a planning sample, and `spark.sql.optimizer.excludedRules=
        // graft.plans.SampleJoinReorder` turns it off for A/Bs — see its
        // scaladoc. PRE-CBO, not the operator batch: inside the
        // operator fixpoint the rule saw half-formed join trees (conditions
        // not yet extracted from WHERE), hinted an inner 2-leaf join early,
        // and the hint then blocked flatten() for the real tree on later
        // iterations. Pre-CBO runs ONCE on the final operator-optimized
        // tree and still precedes Catalyst's stats-based join reorder,
        // which skips hinted joins.
        e.injectPreCBORule(s => plans.SampleJoinReorder(s))
        // tiny/small-regime single-partition sorts (no-op in the scale
        // regime, see smallRegime)
        e.injectOptimizerRule(_ => plans.TinySinglePartitionSort)
      }
      .config("spark.sql.shuffle.partitions", shufParts.toString)
      // One regime key, read through smallRegime by every operator that
      // trades a scale-safe plan shape for latency on KB-MB data:
      // - single-partition sorts (plans.TinySinglePartitionSort);
      // - spread 1-task generator stages (Dedup.spread): the driver's
      //   testdata tables are single-row-group parquet files, so a scan
      //   stage is ONE task no matter the split conf, and a CPU-dense
      //   generator chained onto the scan (shingle explode + hash mixing,
      //   LSH key fan-out) would run serially on one core; a KB-scale
      //   exchange spreads it across the cores;
      // - co-partitioned shuffle-hash joins instead of estimate-driven
      //   broadcasts (Tables.dim, Dedup.tinyHash): parallel per-partition
      //   builds instead of a single-threaded driver collect.
      // At scale all of these are off: multi-file tables already give scan
      // parallelism, repartitioning raw payloads before exploding would
      // shuffle the whole corpus, and explicit broadcast hints are
      // load-bearing at sf100.
      .config(RegimeConf, if (tiny) "tiny" else if (small) "small" else "scale")
      // Tiny regime scan/broadcast shape (measured from the stage timeline at sf0.1):
      // - The driver's testdata files are single-row-group parquet, so a
      //   scan can't parallelize below one file: the default
      //   minPartitionNum(=cores) split produced 21 tasks of which 20 read
      //   NOTHING (the one holding the row-group offset reads it all) —
      //   one split per file removes the empty-task wave.
      // - A fact side whose post-filter estimate sneaks under the default
      //   10 MB threshold gets BROADCAST: the driver then single-threadedly
      //   builds a 300k-row hash relation (~180 ms dead gap in tpch_q3,
      //   still there at 4 MB — the filtered-fact estimate is ~2.7 MB).
      //   1 MB keeps real dimension broadcasts (the engine's own plans hint
      //   them explicitly, and hints ignore the threshold) and pushes
      //   fact-side joins back to 8-partition shuffles (~40 ms here).
      .config("spark.sql.files.minPartitionNum",
        if (tiny) "1" else cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold",
        if (tiny) (1L * 1024 * 1024).toString
        else if (small) (4L * 1024 * 1024).toString
        else (10L * 1024 * 1024).toString)
      // Scan-split sizing — derived from the file layout, see scanSplitConf
      .config("spark.sql.files.maxPartitionBytes", effSplit.toString)
      .config("spark.sql.files.openCostInBytes", effOpen.toString)
      // Vectorized-reader batch: 16k rows/batch instead of the default 4k.
      // Fewer batch boundaries per scan = fewer per-batch bookkeeping stalls
      // in the decode hot loop (A/B at sf100, QTime runs=5: tpch_q9
      // 10.12 → 9.47 s median, q3/q5/q6 each ~5%; neutral at sf0.1; 32k
      // regressed — L2-resident batches stop paying off past ~16k). The
      // schemas here are narrow (≤17 columns), so per-batch memory stays
      // a few MB; a wide-schema deployment would revisit this.
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Bucketed scans report their on-disk sort order so co-located
      // SMJs skip the Sort entirely (ScaleUp writes exactly one file per
      // bucket, the shape Spark requires before it trusts the ordering;
      // with >1 file per bucket Spark ignores the flag rather than
      // mis-sorting). Measured at sf10: tpch_q5 3.11→2.29s, q21 1.69→1.40s.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Long-lived sessions (bench loops, ETL services) accumulate shuffle
      // files until the DRIVER garbage-collects the ShuffleDependency that
      // owns them — with a large heap that can be never. The sf100 bench
      // filled a 54 GB disk this way (17 queries × 6 runs of retained spill).
      // ContextCleaner's periodic GC defaults to 30 min; 2 min bounds the
      // retained-shuffle window at a negligible GC cost.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // Runtime Bloom-filter injection (SPARK-32268): when a shuffle join's
      // creation side carries a selective filter, drop definitely-non-
      // matching rows from the big side BEFORE its exchange (guide §3.2).
      // The stock application-side threshold (10 GB) is tuned for clusters
      // where the filter build competes with real work; on this engine's
      // data sizes it simply never fired — tpcds_q80 at generator scale
      // exchanged+sorted the FULL store_sales for its left-outer returns
      // join before the 1.7%-selective date predicate could apply (Catalyst
      // cannot reorder the inner date join below the outer join; the bloom
      // filter pushes its effect there instead: 9.2 → 4.8 s median).
      // 128 MB keeps it off toy scans (tiny/small plans never qualify, so
      // the bench's prepared-RDD tier eligibility is unaffected) while any
      // fact-scale shuffle join benefits; explicit-broadcast plans are
      // skipped by the rule (it targets shuffle joins only).
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        (128L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", (!(tiny || small)).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
    // caller-provided overrides, then ad-hoc env overrides ("k=v;k=v") —
    // env wins so a bench A/B can still override a caller default
    val withCaller = extraConf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
    val withExtra = sys.env.get("GRAFT_SPARK_EXTRA").iterator
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .foldLeft(withCaller) { (b, kv) =>
        kv.split("=", 2) match {
          case Array(k, v) => b.config(k, v)
          case _ => throw new IllegalArgumentException(
            s"GRAFT_SPARK_EXTRA entry '$kv' is not key=value (entries are ';'-separated)")
        }
      }
    val built = withExtra.getOrCreate()
    built.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(built)
    built
  }
}
