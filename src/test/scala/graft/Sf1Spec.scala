package graft

import org.apache.spark.sql.functions._

/** sf1 re-assertion of the spec-only contract queries (round-7 verdict #6).
  *
  * The seven `no_oracle` queries are recall/bound-spec'd at fixture scale
  * (n=20k synthetic, sf0.001 testdata); this suite re-runs the LSH/ANN
  * recall specs and the sketch error bounds on the sf1 dataset
  * (/tmp/graft_sf1, 10× the driver's sf0.1, written by tools.ScaleUp) so
  * the "holds at scale" claim is asserted, not extrapolated.
  *
  * Self-provisioning: when /tmp/graft_sf1 is absent (VM refresh wipes it)
  * the fixture regenerates it via ScaleUp (~1 min) instead of canceling —
  * a plain `sbt test` must never silently lose its only at-scale recall
  * coverage (round-9 verdict #7). Opt out of the whole suite (fast local
  * iteration) with GRAFT_SKIP_SF1=1.
  */
class Sf1Spec extends SparkSpec {
  private val sf1 = "/tmp/graft_sf1"
  private val skipped = sys.env.get("GRAFT_SKIP_SF1").contains("1")

  /** Provision once per JVM; a marker file distinguishes a COMPLETE build
    * from a partial one left by a killed run (which must be rebuilt). */
  private def provisioned: Boolean = this.synchronized {
    if (skipped) false
    else {
      val done = new java.io.File(sf1, "_bucketed/orders/_bucketspec")
      if (!done.isFile) {
        info(s"provisioning $sf1 via ScaleUp (absent or incomplete)")
        graft.tools.ScaleUp.run(spark, "/root/testdata/sf0.1", sf1, k = 10)
      }
      done.isFile
    }
  }

  private def gated(name: String)(body: => Unit): Unit =
    test(name) {
      assume(!skipped, "GRAFT_SKIP_SF1=1 set")
      assert(provisioned, s"$sf1 provisioning failed")
      body
    }

  gated("sf1: minhash-LSH recall — complete at jac>=0.8, >=0.97 at the 0.5 boundary") {
    // The sf1 corpus carries ~246k true near-dup pairs, ~18k of them AT the
    // 0.5 verification boundary — unlike the fixture, whose planted dups
    // are all high-jaccard. LSH banding is probabilistic by construction:
    // with 16 bands × 2 rows the catch probability is 0.99 at j=0.5 and
    // 1-3e-8 at j>=0.8, so the honest spec is completeness where the curve
    // is flat and a measured floor at the boundary. (The original 8×4
    // shape put the S-curve midpoint ABOVE the threshold — 40% catch at
    // j=0.5, ~11k structurally missed pairs; this test is what caught it.)
    val exactDf = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf1)
      .filter(col("jac") >= 0.5).select("a", "b", "jac").collect()
    val exact = exactDf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val high = exactDf.filter(_.getAs[Double]("jac") >= 0.8)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf1)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "sf1 corpus should contain planted near-dups")
    assert(high.subsetOf(lsh),
      s"missed high-jaccard pairs at sf1: ${(high -- lsh).take(20)}")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.97, s"sf1 minhash recall $recall < 0.97 over jac>=0.5")
  }

  gated("sf1: simhash pairs respect the hamming threshold") {
    val rows = SparkEntry.queries("dedup_simhash")(spark, sf1).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
  }

  gated("sf1: ANN LSH multi-probe recall vs brute force") {
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf1).collect()
      .filter(_.getLong(1) <= 5).map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    // same floor as the fixture test: near-random embeddings are LSH's
    // worst case and the corpus stays near-random at every ScaleUp factor
    assert(recall >= 0.3, s"sf1 multi-probe ANN recall $recall < 0.3")
  }

  gated("sf1: ANN IVF recall vs brute force") {
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf1).collect()
      .filter(_.getLong(1) <= 5).map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.2, s"sf1 IVF ANN recall $recall < 0.2")
  }

  gated("sf1: embed-cos top-20 planted twins surface") {
    val rows = SparkEntry.queries("dedup_embed_cos")(spark, sf1).collect()
    assert(rows.length == 20)
    assert(rows.head.getAs[Double]("sim") >= 0.9, "top pair should be a twin")
  }

  gated("sf1: sketch estimates stay within bounds of exact values") {
    val approx = SparkEntry.queries("ev_approx_stats")(spark, sf1).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("approx_users"), r.getAs[Double]("ap50"), r.getAs[Double]("ap99"))).toMap
    val ev = Tables.load(spark, sf1, "events")
    val exactUsers = ev.groupBy("event_type").agg(countDistinct("user_id").as("u"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("u")).toMap
    assert(approx.keySet == exactUsers.keySet)
    approx.foreach { case (et, (au, ap50, ap99)) =>
      val eu = exactUsers(et)
      assert(math.abs(au - eu).toDouble / eu < 0.10, s"$et: approx $au vs exact $eu")
      assert(ap50 <= ap99, s"$et: quantile order")
    }
    val exactQ = SparkEntry.queries("ev_quantiles")(spark, sf1).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("p50")).toMap
    approx.foreach { case (et, (_, ap50, _)) =>
      val range = ev.filter(col("event_type") === et)
        .agg(max("value").cast("double")).collect().head.getDouble(0)
      assert(math.abs(ap50 - exactQ(et)) <= 0.05 * range,
        s"$et: ap50 $ap50 vs exact ${exactQ(et)}")
    }
  }
}
