package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic benchmark scale-up: replicates the driver's sf0.1 testdata
  * K× with key-offset remapping, preserving join cardinalities, filter
  * selectivities, and per-key group sizes (each replica is a disjoint copy
  * of the key graph, the same construction dbgen uses across scale factors:
  * more customers/orders/parts, not bigger groups).
  *
  * Bench-only data (never a correctness input): the driver's oracle gate
  * runs at sf0.01 on its own testdata; this exists so BENCH can run at sf1
  * (~6M lineitem) and be compared against a DuckDB baseline on the SAME
  * files (see BASELINE.md). Document text is rewritten into a disjoint
  * per-replica token vocabulary so each replica carries the base corpus'
  * full near-dup structure (see the documents job below).
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [k] [tables,csv]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    // optional table filter for partial regeneration (bucketed/sample steps
    // are filtered the same way)
    val tableFilter: String => Boolean =
      if (args.length > 3) args(3).split(",").toSet else _ => true
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle files live until the driver GCs their ShuffleDependency;
      // at k=1000 the per-table replication shuffles retained ~39 GB of
      // spill across tables and blew the disk before the bucketed phase
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, k, tableFilter)
    spark.stop()
  }

  /** Programmatic entry (Sf1Spec auto-provisions /tmp/graft_sf1 through
    * this with the test session — the CLI main owns its own session). */
  def run(spark: SparkSession, src: String, out: String, k: Int,
      tableFilter: String => Boolean = _ => true): Unit = {

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** K replicas of df with each key column in `offsets` shifted by
      * replica*stride; strides are well above the key's 1x max so replica
      * key spaces are disjoint. The source is spread across all cores first:
      * the driver's sf0.1 tables are single parquet files, so without the
      * repartition the k-fold explode (and everything downstream of it)
      * runs in ONE task — at k=1000 that serializes a 600M-row expansion. */
    def spread(df: DataFrame): DataFrame =
      df.repartition(Runtime.getRuntime.availableProcessors)
    def replicate(df: DataFrame, offsets: (String, Long)*): DataFrame = {
      val withR = spread(df).withColumn("_r", explode(sequence(lit(0), lit(k - 1))))
      offsets.foldLeft(withR) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("_r") * stride)
      }.drop("_r")
    }

    val CUST = 1000000L; val ORD = 10000000L; val PART = 1000000L
    val SUPP = 100000L; val DOC = 1000000L; val VEC = 1000000L
    val EV = 10000000L; val USER = 1000000L

    val jobs: Seq[(String, DataFrame)] = Seq(
      "region" -> tbl("region"),
      "nation" -> tbl("nation"),
      "customer" -> replicate(tbl("customer"), "c_custkey" -> CUST),
      "supplier" -> replicate(tbl("supplier"), "s_suppkey" -> SUPP),
      "part" -> replicate(tbl("part"), "p_partkey" -> PART),
      "orders" -> replicate(tbl("orders"), "o_orderkey" -> ORD, "o_custkey" -> CUST),
      "lineitem" -> replicate(tbl("lineitem"),
        "l_orderkey" -> ORD, "l_partkey" -> PART, "l_suppkey" -> SUPP),
      "events" -> replicate(tbl("events"), "event_id" -> EV, "user_id" -> USER),
      "documents" -> {
        val d = spread(tbl("documents")).withColumn("_r", explode(sequence(lit(0), lit(k - 1))))
        d.withColumn("doc_id", col("doc_id") + col("_r") * DOC)
          // Each replica rewrites the corpus into a DISJOINT token vocabulary
          // (every word tagged with the replica id) — the text analog of the
          // key-offset remapping above. This preserves per-replica shingle
          // statistics exactly (document frequencies, near-dup pair structure,
          // gram-set sizes all replicate ×k) the way key offsets preserve join
          // cardinalities. The earlier " replica <r>" SUFFIX did not: interior
          // 3-grams were shared across all k replicas, so at k≥65 every gram
          // blew past the df≤64 cap and the ngram/minhash/simhash pipelines
          // ran on an EMPTY capped set — the pair-generation plans never
          // actually executed past toy scale (measured: tools.NgramSkewProbe
          // at sf10 found 0 surviving grams).
          .withColumn("text",
            when(col("_r") === 0, col("text"))
              .otherwise(array_join(
                transform(split(col("text"), " "),
                  w => concat(w, lit("~"), col("_r"))), " ")))
          .withColumn("n_chars", length(col("text")))
          .drop("_r")
      },
      "embeddings" -> {
        // flip a distinct per-replica sign pattern so replicas are near- not
        // exact-duplicates: sign-identical copies would share every LSH band
        // and quadratically multiply candidate pairs (real pipelines exact-
        // dedup first; the bench should model post-exact-dedup data).
        // The pattern is r's BIT pattern tiled over the dimensions — distinct
        // for every r < 1024. The earlier (i + r) % 13 form repeated every 13
        // replicas, so k=1000 produced ~77 sign-IDENTICAL copies per base
        // vector and the LSH candidate join blew up quadratically (~78M
        // pairs, >50 GB shuffle): exactly the degenerate input the
        // perturbation exists to rule out.
        val d = spread(tbl("embeddings")).withColumn("_r", explode(sequence(lit(0), lit(k - 1))))
        d.withColumn("vec_id", col("vec_id") + col("_r") * VEC)
          .withColumn("embedding",
            expr("transform(embedding, (x, i) -> CASE WHEN _r > 0 AND ((_r >> (i % 10)) & 1) = 1 THEN -x ELSE x END)"))
          .drop("_r")
      })

    // Production-shaped file layout: multiple key-range-clustered files per
    // table (parquet can only split scans at row-group boundaries, so the
    // single-file output the replicate() lineage would otherwise inherit
    // serializes EVERY scan to one task — in Spark and DuckDB alike). Range
    // clustering on the primary key also gives real min/max footer stats,
    // the layout a 100 TB table would have after ingest compaction.
    // File counts for the scan-heavy tables match the core count: parquet
    // files here are single-row-group (written in one pass, under the 128 MB
    // default group size at most SFs), so a scan CANNOT parallelize below one
    // file — the old 8-file documents/embeddings layout pinned every corpus
    // scan (the dominant stage of all text/embedding pipelines) to 8 of 32
    // cores at EVERY decade (stage timeline: the sf100 ngram "68 s bimodal
    // stage" was 8 scan tasks at 55-65 s with 24 cores idle). 32 files match
    // the bench machine; a cluster deployment sizes this to executors, same
    // as the bucket counts below. The 32 MB row-group override on the writes
    // keeps big-decade files splittable beyond the file count too.
    val layout: Map[String, (Int, String)] = Map(
      "customer" -> (16, "c_custkey"), "supplier" -> (2, "s_suppkey"),
      "part" -> (8, "p_partkey"), "orders" -> (16, "o_orderkey"),
      "lineitem" -> (32, "l_orderkey"), "events" -> (32, "ts"),
      "documents" -> (32, "doc_id"), "embeddings" -> (32, "vec_id"))

    new java.io.File(out).mkdirs()
    jobs.filter(j => tableFilter(j._1)).foreach { case (name, df0) =>
      val t0 = System.nanoTime()
      val df = layout.get(name) match {
        case Some((n, key)) => df0.repartitionByRange(n, col(key))
        case None => df0
      }
      // 32 MB row groups (default 128 MB): both engines parallelize parquet
      // at row-group granularity, so single-group files cap scan parallelism
      // at the file count; 32 MB keeps sf100-sized files (~100-750 MB)
      // splittable for Spark's size-based splits and DuckDB's group-parallel
      // reader alike at a negligible compression cost.
      df.write.mode("overwrite")
        .option("parquet.block.size", (32L * 1024 * 1024).toString)
        .parquet(s"$out/$name.parquet")
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(f"[scaleup] $name%-12s $n%10d rows  ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      System.gc() // let ContextCleaner delete the finished table's shuffle files
    }

    // Bucketed layout for the order-key fact-fact join (Tables.load prefers it
    // when present): lineitem+orders hash-clustered into the SAME bucket count
    // on the order key, one file per bucket, sorted within. This is the layout
    // a 100 TB lake chooses for this workload — the l_orderkey ⋈ o_orderkey
    // join (tpch q3/q5/q8/q9/q10/q21) and every groupBy(l_orderkey) then run
    // with zero shuffle exchanges (the Spark analog of the reference's
    // persistent hash index, LingoDBHashIndex.cpp). 32 buckets match the
    // bench machine's cores; a cluster deployment sizes this to executors
    // (e.g. 4096) — the plan shape is identical.
    val bucketJobs = Seq(("lineitem", "l_orderkey", 32), ("orders", "o_orderkey", 32))
    bucketJobs.filter(b => tableFilter(b._1)).foreach { case (name, key, nb) =>
      val t0 = System.nanoTime()
      val path = s"$out/_bucketed/$name"
      val tmp = s"graft_scaleup_bkt_$name"
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      spark.read.parquet(s"$out/$name.parquet")
        .repartition(nb, col(key)) // same murmur3 hash as bucketBy → 1 file/bucket
        .write.bucketBy(nb, key).sortBy(key)
        .option("path", path).mode("overwrite").saveAsTable(tmp)
      spark.sql(s"DROP TABLE IF EXISTS $tmp") // external: files stay, catalog entry goes
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_bucketspec"),
        s"$key $nb".getBytes("UTF-8"))
      println(f"[scaleup] $name%-12s bucketed($nb on $key)  ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      System.gc() // let ContextCleaner delete the finished table's shuffle files
    }

    // Per-table planning samples (~2k rows, deterministic seed) + true row
    // counts, consumed by plans.SampleJoinReorder (see util.PlanningSamples).
    jobs.map(_._1).filter(tableFilter).foreach { name =>
      val total = graft.util.PlanningSamples.write(out, name, spark.read.parquet(s"$out/$name.parquet"))
      println(f"[scaleup] $name%-12s sample written ($total%d rows total)")
    }
  }
}
