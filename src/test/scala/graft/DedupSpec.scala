package graft

import org.apache.spark.sql.functions._

/** LSH candidate generation must not lose true near-duplicates (the planted
  * near-dup pairs in the synthetic corpus), and signatures must be stable. */
class DedupSpec extends SparkSpec {

  test("minhash-LSH finds every pair with exact jaccard >= 0.5") {
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .filter(col("jac") >= 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "synthetic corpus should contain planted near-dups")
    assert(exact.subsetOf(lsh), s"missed pairs: ${exact -- lsh}")
  }

  test("simhash pairs respect the hamming threshold") {
    val rows = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
  }

  test("simhash 3-of-6-block candidates are COMPLETE for hamming<=3 at n=20k") {
    import spark.implicits._
    // 20k random 64-bit signatures + 100 planted twins within hamming 3.
    // Completeness is structural (any <=3 flips leave some 3-block key
    // exact), so recall must be 1.0 — at any n. Candidate volume must stay
    // ~linear: the 20 keys live in a ~2^32 space, so random collisions are
    // O(n^2/2^32) ~ 0 here, unlike the old 16-bit chunks whose buckets grew
    // with n and overflowed the skew cap.
    val rnd = new scala.util.Random(11)
    val base = (0 until 20000).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 100).map { i =>
      val (id, s) = base(rnd.nextInt(20000))
      val flips = rnd.shuffle((0 until 64).toList).take(1 + rnd.nextInt(3))
      (id, 100000L + i, flips.foldLeft(s)((x, b) => x ^ (1L << b)))
    }
    val sigs = (base ++ planted.map(p => (p._2, p._3))).toDF("doc_id", "sig")
    val cand = graft.data.Dedup.simhashCandidates(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = planted.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(want.subsetOf(cand), s"missed planted pairs: ${want -- cand}")
    assert(cand.size < 20000, s"candidate volume ${cand.size} not ~linear at n=20k")
  }

  test("exact dedup: every group keeps its minimal doc_id") {
    val rows = SparkEntry.queries("dedup_exact")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_copies")).sum ==
      Tables.load(spark, sf, "documents").count())
  }

  test("sign-band candidates: recall 1.0 on planted near-dup vectors") {
    import spark.implicits._
    // 50 seeded random base vectors, each with a 1%-perturbed near-dup twin
    // (cos > 0.99). Sign-LSH must catch every planted pair.
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val twins = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x + (rnd.nextGaussian() * 0.01f * math.abs(x)).toFloat))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val cand = graft.data.Dedup.signBandCandidates(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 50).map(i => (i.toLong, i + 1000L)).toSet
    assert(planted.subsetOf(cand), s"missed planted pairs: ${planted -- cand}")
    // and it is a sparsifier, not an all-pairs enumerator, on random data
    val n = 100
    val allPairs = n * (n - 1) / 2
    val randOnly = graft.data.Dedup.signBandCandidates(
      base.toDF("vec_id", "embedding").limit(n)).count()
    assert(randOnly < allPairs / 2, s"candidates $randOnly not sparse vs $allPairs")
  }

  test("sign-band candidates stay sparse AND high-recall at n=20k") {
    import spark.implicits._
    // The round-2 scheme (8-bit bands, 256-value keyspace) saturated near
    // n=16k: buckets outgrew the cap and recall collapsed. The 16-bit
    // multi-probe scheme has no cap and a 65,536-value keyspace — this
    // fixture pins both properties at a scale the old scheme failed.
    val rnd = new scala.util.Random(13)
    val n = 20000
    val base = (0 until n).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // 100 planted near-dups: additive noise flips ~a few signs (coords near 0)
    val twins = (0 until 100).map { i =>
      val (_, v) = base(i)
      (1000000L + i, v.map(x => x + (rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val cand = graft.data.Dedup.signBandCandidates(df)
    val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 100).map(i => (i.toLong, 1000000L + i)).toSet
    val recall = planted.count(candSet.contains).toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall < 0.9; missed ${planted -- candSet}")
    val allPairs = n.toLong * (n - 1) / 2
    assert(candSet.size < allPairs / 50,
      s"candidates ${candSet.size} not sparse vs $allPairs")
  }

  test("sign-band skew guard: anisotropic same-halfspace mass stays bounded") {
    import spark.implicits._
    // Real embedding corpora are anisotropic — mass shares sign bits. The
    // degenerate extreme: thousands of all-positive vectors, every sign bit
    // 1, so ALL of them land in the same (ci,kv) bucket for every combo.
    // Pre-cap this made the exact⋈probed join quadratic (~n²/2 ≈ 12.5M
    // pairs at n=5k); the round-11 cap drops the saturated exact side, so
    // the degenerate mass contributes ZERO candidates while planted
    // near-dups among normal vectors keep recall 1.0.
    val rnd = new scala.util.Random(23)
    val n = 5000
    val aniso = (0 until n).map(i =>
      (i.toLong, Array.fill(64)(math.abs(rnd.nextGaussian()).toFloat + 0.01f)))
    val base = (0 until 20).map(i =>
      (100000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val twins = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x + (rnd.nextGaussian() * 0.01f * math.abs(x)).toFloat))
    }
    val df = (aniso ++ base ++ twins).toDF("vec_id", "embedding")
    val cand = graft.data.Dedup.signBandCandidates(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (100000L + i, 101000L + i)).toSet
    assert(planted.subsetOf(cand), s"missed planted pairs: ${planted -- cand}")
    // the 5k-vector saturated bucket must contribute no pair explosion:
    // without the cap this set would exceed 12M; the anisotropic ids
    // (0 until n) must produce no intra-mass candidates at all
    assert(!cand.exists { case (a, b) => a < n && b < n },
      "saturated bucket leaked intra-mass candidate pairs")
    assert(cand.size < 5000, s"candidate volume ${cand.size} not bounded under skew")
  }

  test("sign-band probe volume is exactly the closed-form bound at n=20k") {
    import spark.implicits._
    // Locks dedup_embed_cos's candidate generation to ≤199 probe rows per
    // vector (6 combos × 33 masks + 6 exact keys): a future keyspace edit
    // that widens probing (e.g. 2-bit flips) or adds combos fails here
    // BEFORE it reintroduces a pair explosion at bench scale.
    val rnd = new scala.util.Random(17)
    val n = 20000
    val df = (0 until n).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val keys = graft.data.Dedup.signBandKeys(df)
    assert(keys.count() == n.toLong * 6, "6 combo keys per vector")
    val probeRows = graft.data.Dedup.signBandProbes(keys).count()
    assert(probeRows == n.toLong * graft.data.Dedup.SignBandProbesPerVec,
      s"probe volume $probeRows != n × ${graft.data.Dedup.SignBandProbesPerVec}")
    assert(graft.data.Dedup.SignBandProbesPerVec <= 199, "probe multiplier bound")
  }

  test("sim_ann_lsh multi-probe: top-5 recall vs brute force") {
    // The testdata embeddings are near-random, so the exact top-5 are only
    // weakly correlated with their queries — the hardest case for LSH (the
    // expected same-bucket probability for an angle-θ pair is (1-θ/π)^6,
    // tiny near θ≈π/2). Single-probe scanned 1/64 of the corpus; 1-bit
    // multi-probe scans 7/64 and must clear a 0.3 floor here, where
    // single-probe measured well under it. Clustered corpora (the realistic
    // near-dup case, covered by the planted-pair tests above) sit far
    // higher on the same machinery.
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .filter(_.getLong(1) <= 5).map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.3, s"multi-probe ANN recall $recall < 0.3")
  }

  test("sim_ann_ivf: 2-of-16-cell probe recall vs brute force") {
    // Same near-random worst case as the LSH test: cosine neighbors barely
    // beat chance, so cell-locality is weak. nProbe=2 of 16 cells scans
    // ~1/8 of the corpus; floor set where single-cell probing measured
    // clearly below it. Clustered corpora sit far higher.
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .filter(_.getLong(1) <= 5).map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.2, s"IVF ANN recall $recall < 0.2")
    assert(ivf.size == 25, "5 queries x top-5")
  }

  test("embed-cos top-20: planted twins surface with near-1 cosine") {
    val rows = SparkEntry.queries("dedup_embed_cos")(spark, sf).collect()
    // the contract plants a twin (coordinate 1 negated) for every 50th
    // vector; each is a guaranteed candidate (1 flipped sign bit) and the
    // highest-cosine pairs on otherwise-random data
    val nTwins = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 50 === 0).count()
    assert(rows.length >= math.min(nTwins, 20L) && rows.length <= 20)
    assert(rows.forall { r => r.getAs[Double]("sim") >= -1.0 && r.getAs[Double]("sim") <= 1.0 })
    assert(rows.head.getAs[Double]("sim") >= 0.9, "top pair should be a twin")
  }

  test("cluster labels are a fixpoint consistent with the pair graph") {
    val lbl = SparkEntry.queries("dedup_cluster")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(lbl.size.toLong == nDocs, "every document gets exactly one label")
    // rep is the component min: always <= member, and itself labeled by itself
    assert(lbl.forall { case (v, l) => l <= v && lbl(l) == l })
    // every scored near-dup pair landed in one component
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .filter(col("jac") >= 0.5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => lbl(a) == lbl(b) },
      "pair endpoints must share a cluster rep")
  }

  test("jaccardPairs small/scale branches produce identical rows") {
    // The two regime branches of jaccardPairs (and dfCapped under them)
    // differ only in exchange/join-strategy shape — size-carrying + hinted
    // hash probes on small data vs the shared-g-exchange + shuffle-hash
    // sizes attachment at scale (r12). The driver's oracle gate only ever
    // runs the small branch (sf0.01 is tiny-regime), so this spec is what
    // pins the SCALE branch to the same result set.
    // Flips the one regime key Engine.create writes, so each side is a
    // shape some Engine session really produces.
    def withRegime[T](regime: String)(f: => T): T = {
      spark.conf.set(Engine.RegimeConf, regime)
      try f finally spark.conf.unset(Engine.RegimeConf)
    }
    def rows(regime: String) = withRegime(regime) {
      SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
        .collect().map(_.toString).toSeq.sorted
    }
    // expression ids, lambda variable ids and plan ids differ between any
    // two builds
    def plan(regime: String) = withRegime(regime) {
      SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).queryExecution.executedPlan
        .toString.replaceAll("(#|_|plan_id=)\\d+", "$1")
    }
    assert(plan("scale") == plan("scale"), "normalized plans must be reproducible")
    assert(plan("small") != plan("scale"),
      "the regime flip must change the executed plan, or the row check below is vacuous")
    val smallRows = rows("small")
    val scaleRows = rows("scale")
    assert(smallRows.nonEmpty, "fixture corpus should produce jaccard pairs")
    assert(smallRows == scaleRows,
      s"branch divergence: ${(smallRows.toSet -- scaleRows.toSet).take(3)} vs " +
        s"${(scaleRows.toSet -- smallRows.toSet).take(3)}")
  }

  test("jaccard is symmetric-free (a < b) and within [0,1]") {
    val rows = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).collect()
    assert(rows.forall { r =>
      val (a, b, j) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jac"))
      a < b && j >= 0.0 && j <= 1.0
    })
  }

  test("hashedCapped requires one row per doc_id (documented precondition)") {
    import spark.implicits._
    // The round-8 row-local gram dedup (array_distinct per row) equals the
    // old global distinct() ONLY when each doc_id appears on one row — the
    // contract hashedCapped's scaladoc documents. This pins both sides:
    // well-formed input yields true per-doc set sizes; duplicated doc_id
    // rows inflate them (here 2x), which is why multi-row-per-doc sources
    // must pre-aggregate before shingling.
    val text = "w1 w2 w3 w4 w5" // 3 distinct trigram shingles
    val clean = Seq((1L, text), (2L, "x1 x2 x3")).toDF("doc_id", "text")
    val dup = Seq((1L, text), (1L, text), (2L, "x1 x2 x3")).toDF("doc_id", "text")
    def sizes(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.data.Dedup.hashedCapped(df)
        .groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes(clean) == Map(1L -> 3L, 2L -> 1L))
    assert(sizes(dup) == Map(1L -> 6L, 2L -> 1L),
      "duplicate doc_id rows must double the gram multiset — the documented divergence")
  }
}
