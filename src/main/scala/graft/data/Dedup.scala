package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the point of each):
  * - exact: hash-groupBy on a content fingerprint — one shuffle keyed by the
  *   fingerprint; at 100 TB this is the cheapest possible full-corpus dedup.
  * - ngram jaccard: pairs are generated ONLY through shared shingles (join on
  *   the shingle), never by enumerating the n² document pairs.
  * - minhash LSH: candidate pairs come from band-bucket collisions, so work is
  *   proportional to collisions, not pairs; bucket size is capped to keep a
  *   skewed bucket (e.g. boilerplate shingles) from exploding a task.
  * - simhash: 64-bit signature via per-bit majority vote, banded into 16-bit
  *   chunks for candidate generation (hamming<=k ⇒ some chunk equal for k<=3·…).
  * - embedding cosine: brute-force pair scoring at test scale; the LSH-bucketed
  *   scale path lives in [[Similarity]].
  */
object Dedup {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)
  type Q = (SparkSession, String) => DataFrame

  /** Spread a CPU-dense generator's input across the cores in the tiny/small
    * regime (Engine.smallRegime): the driver's
    * single-row-group parquet files make every scan stage ONE task, so a
    * shingle explode / LSH key fan-out chained onto the scan runs serially
    * on 1 of 32 cores (StageProbe r11: ngram's main stage was 1.58 s
    * single-task of a 2.6 s query). The exchange this inserts moves the raw
    * KB-scale input once; the generator then runs `defaultParallelism`-wide.
    * At scale this is the identity — multi-file tables
    * already split, and repartitioning a 100 TB corpus' raw payload before
    * exploding it would be the guide §2.3 anti-pattern. Hash-partitioned on
    * the row key (deterministic under retry, unlike round-robin of a
    * non-sorted input; see SPARK-38388 discussion in the guide §2.5).
    * Width = the session's shuffle-partition setting, NOT the core count:
    * a back-to-back A/B at 32 cores had 8-wide beating 32-wide on every
    * heavy (embed_cos 0.29 vs 0.54 s median) — at KB-per-task sizes the
    * extra tasks cost more in scheduling+GC than they buy in parallelism,
    * the same trade the Engine's narrow tiny-regime shuffles encode. */
  private def spread(df: DataFrame, key: String): DataFrame =
    if (smallRegime(df)) df.repartition(col(key)) else df

  private def smallRegime(df: DataFrame): Boolean =
    graft.Engine.smallRegime(df.sparkSession.sessionState.conf)

  /** Tiny/small-regime shuffle-hash hint for joins whose both sides are
    * corpus-scale (e.g. the shared-shingle self-join): per-partition hash
    * build of a KB–MB side beats both the planner's estimate-driven
    * BROADCAST (a driver collect, and on the prepared-RDD tier a full
    * relation rebuild before every re-drain) and a sort-merge's
    * per-consumption sorts. At scale the
    * hint is NOT applied: a per-partition hash table of a fact-scale side
    * can exhaust execution memory, and sort-merge's graceful spill is the
    * right trade (the sf100 campaign shape). Joins whose build side is
    * structurally bounded (candidate sets) hint shuffle_hash
    * unconditionally instead — see jaccardForCandidates. */
  private def tinyHash(df: DataFrame): DataFrame =
    if (smallRegime(df)) df.hint("shuffle_hash")
    else df

  /** Hashed-gram shingles: the gram string collapses to its xxhash64, so
    * every downstream shuffle — df-count, the signature aggregate, both
    * verification-join sides, the jaccard pair join — moves 8-byte longs
    * instead of ~25-byte strings. An in-doc collision merges two grams
    * (set size −1), a cross-doc collision adds one shared gram; in a 2⁶⁴
    * keyspace both are vanishing (P ≈ n²/2⁶⁵ ≈ 10⁻⁸ at the oracle gate's
    * corpus size). Every jaccard consumer depends only on per-doc gram-set
    * sizes and pairwise intersection COUNTS, never on gram identity, so the
    * hash preserves every result, the DuckDB string-gram oracle's included.
    *
    * One query often has several consumers of these shingles (signature
    * pass + both verification-join sides). They are NOT persisted: the
    * consumers' subtrees are identical, so Spark's ReuseExchange dedupes
    * the shuffle map sides — the corpus is scanned and exploded ONCE and
    * each consumer re-reduces from shuffle files (local disk), never
    * re-reading the corpus. Measured at sf0.1 this beats persist() by ~25%
    * (the columnar cache build serializes branches that otherwise run
    * concurrently), and at 100 TB it avoids pinning a corpus-sized shingle
    * set in the cache. PlanSpec asserts the reuse.
    *
    * PRECONDITION (load-bearing for the row-local-dedup equivalence): the
    * input has ONE ROW PER doc_id — true of the `documents` table (doc_id
    * is its key). With duplicate doc_id rows, per-row `array_distinct`
    * would emit duplicate (doc_id, g) pairs that a global distinct() would
    * have merged: df counts inflate (over-capping) and per-doc set sizes
    * double, silently corrupting every downstream jaccard. DedupSpec
    * ("hashedCapped requires one row per doc_id") pins this contract —
    * callers joining a multi-row-per-doc source must pre-aggregate
    * (e.g. groupBy(doc_id).agg(concat_ws over collect_list)) first.
    *
    * Shape (round 8): a document's distinct gram set is computed ROW-LOCALLY
    * (`array_distinct` over a `transform` of the word array) — the global
    * `distinct()` the old shape shuffled is redundant because, given the
    * precondition, all of a doc's grams live in its own row, so in-doc
    * dedup IS global dedup of (doc_id, g). That deletes the dedup exchange + two dedup
    * hash-aggregates that dominated the sf100 shingle pipelines (PERF_r10
    * §4's negative result: skipping the distinct naively forced a second
    * corpus scan; row-local dedup avoids both). The df-cap stays the
    * HASH-aggregate + semi-join shape (dfCapped): a `count over
    * (partition by g)` window was measured faster at sf10 (one exchange
    * fewer) but catastrophically worse at sf100 — WindowExec SORTS its
    * ~500M-row input on every consumption (the exchange is reused, the
    * sort is not), and the external-sort spill exhausted the disk where
    * the hash df-count's state is one long per distinct gram. A/B
    * receipts: sf10 minhash 24.1→13.6 s (window) vs 24.1→15.9 s (this
    * shape); sf100 window DNF (>20 min, disk), this shape completes. */
  private[graft] def hashedCapped(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{rolling_hash, splitmix64 => sm}
    val w = split(col("text"), " ")
    // Gram hash (round 9, closed form): per-word 61-bit rolling_hash, then
    // a position-sensitive splitmix64 chain over the 3-word window —
    // sm64(sm64(sm64(h(w1)) ^ h(w2)) ^ h(w3)). Every step is mirrorable in
    // plain SQL (OracleSql.sm64Select), which is what lets the minhash and
    // simhash oracles enumerate the IDENTICAL signatures the engine
    // computes (the old xxhash64(concat_ws) gram was engine-defined, so
    // those two queries were rows-only-checked). Each word hashes ONCE per
    // row (hw array) instead of ~3x through overlapping windows, and no
    // 25-byte gram string is materialized — the window mix is 4 long ops.
    // Collision analysis unchanged from the xxhash64 shape: 64-bit
    // keyspace, P ≈ n²/2⁶⁵ at corpus scale (scaladoc above).
    val gs = spread(docs, "doc_id").filter(col("doc_id").isNotNull && size(w) >= 3)
      .select(col("doc_id"),
        transform(w, wd => rolling_hash(wd)).as("hw"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("hw")) - 2),
          i => sm(sm(sm(element_at(col("hw"), i))
            .bitwiseXOR(element_at(col("hw"), i + 1)))
            .bitwiseXOR(element_at(col("hw"), i + 2)))))).as("g"))
    dfCapped(gs)
  }

  /** Re-key a grams frame by doc_id before a doc-keyed aggregation.
    *
    * The df-capped grams come out of the semi-join PARTITIONED BY g, so a
    * direct groupBy(doc_id) runs its partial phase on partitions where
    * nearly EVERY document appears (a doc's ~52 grams scatter across all g
    * partitions: P(doc hits a given partition) ≈ 1−(31/32)⁵² ≈ 0.8). For a
    * wide aggregate — minhash's 32 min columns, simhash's 64 bit-sums —
    * the partial state is then #partitions × #docs × row width: ~38 GB of
    * partial-aggregate exchange at sf100 (5M docs), which exhausted this
    * host's 53 GB spill headroom. One explicit hash exchange of the raw
    * (doc_id, g) rows (~260M × 16 B ≈ 5 GB) makes the partial phase a full
    * combine (each partition owns its docs outright) and the post-partial
    * exchange a no-op — Catalyst sees the child partitioning satisfies the
    * aggregate's distribution. All doc-keyed consumers of one query share
    * this single exchange via ReuseExchange. */
  private[data] def byDocId(grams: DataFrame): DataFrame =
    grams.repartition(col("doc_id"))

  /** Distinct (doc_id, 3-word-shingle) pairs. Guard size>=3: Spark's
    * sequence(1, n) with n<1 would produce a descending sequence.
    * The explicit doc_id IS NOT NULL matches the null-filter the downstream
    * equi-joins push into their branches: with it, every consumer's shingle
    * subtree canonicalizes identically and AQE's ReuseExchange computes the
    * corpus-side explode+distinct map work ONCE per query (PlanProbe:
    * without the filter the signature branch re-scans the corpus). */
  private[graft] def shingles(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    spread(docs, "doc_id").filter(col("doc_id").isNotNull && size(w) >= 3)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), explode(expr("sequence(1, size(w) - 2)")).as("i"), col("w"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("g"))
      .filter(col("g").isNotNull) // same reason: gram-keyed joins push isnotnull(g)
      .distinct()
  }

  /** Document-frequency cap: drop shingles appearing in more than `maxDf`
    * docs BEFORE any pair generation. A shingle shared by k docs contributes
    * k² rows to a shared-shingle self-join — boilerplate at corpus scale
    * (headers, licenses) makes an uncapped join a job-killer. The df-cap
    * bounds per-shingle fan-out; near-dup signal lives in rare shingles, so
    * recall on true near-dups is unaffected. */
  private[graft] val MaxShingleDf = 64
  /** Both branches produce the identical capped (doc_id, g) multiset; they
    * differ in how the df-count and the semi-join share work:
    *
    * Small data: one explicit g-exchange feeds BOTH the df-count and the
    * semi-join's probe side, and the semi is a hinted hash probe. Without
    * this, the planner broadcast `rare` (estimates are KBs here) — the
    * probe side then had NO exchange to reuse and every consumer of the
    * capped grams re-ran the scan+explode subtree from the top (StageProbe
    * r11: ngram exploded the corpus 4×, three passes as sequential 1-task
    * broadcast builds).
    *
    * Scale: the classic two-phase df-count (partial below its exchange) +
    * an ANTI hash probe against the FREQUENT grams (round 12 — see the
    * branch comment for the sort accounting). The small-data shape measured
    * WORSE here (ngram sf10 25 → 41 s with allocation-stall warnings): the
    * forced per-partition hash build of ~1.5M RARE grams competes for
    * execution memory with the explode and the downstream pair sorts — the
    * anti probe's build is the df>cap COMPLEMENT, thousands of rows, which
    * has no such footprint. */
  private[graft] def dfCapped(grams: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    if (smallRegime(grams)) {
      val gx = grams.repartition(col("g"))
      // count(doc_id), not count(*): doc_id is null-filtered upstream so the
      // value is identical, but referencing it stops column pruning from
      // projecting the aggregate's subtree down to (g) alone — a pruned
      // subtree is a DIFFERENT exchange and the corpus would explode twice
      // (verified in the r11 plan: count(*) produced two 32-task explode
      // stages; count(doc_id) one ReusedExchange).
      val rare = gx.groupBy(col("g")).agg(count(col("doc_id")).as("df"))
        .filter(col("df") <= maxDf).select(col("g"))
      // USING-join puts g first; restore (doc_id, g) for positional toDF callers
      gx.join(rare.hint("shuffle_hash"), Seq("g"), "left_semi")
        .select(col("doc_id"), col("g"))
    } else {
      // Scale (round 12): the cap is an ANTI join against the FREQUENT
      // grams — the tiny complement (df > maxDf is boilerplate: a few
      // thousand grams at sf100) — hinted shuffle_hash with freq as build.
      // The r11 semi-join against the RARE grams (≈ all ~250M distinct
      // grams) planned as a SortMergeJoin, and because the semi output
      // feeds three consumers with no exchange above it (self-join side a,
      // side b, sizes), every consumer re-sorted BOTH semi inputs: r12
      // StageProbe at sf100 counted six ~260M-row external sorts across
      // the 4,717 s-CPU pair stage and the sizes stage. The anti probe is
      // a per-partition hash lookup instead — no sort on either side, and
      // re-probing per consumer is a few seconds of CPU, not a re-sort.
      // Build safety at any scale: |freq| / shuffle-partitions rows per
      // partition, and freq shrinks as boilerplate concentration drops —
      // a corpus where freq IS large has a tiny capped output anyway.
      // NULL semantics: left_anti KEEPS rows whose key matches nothing,
      // including null g, where left_semi dropped them — the isNotNull
      // guard restores exact semi/oracle semantics (g IN (...)) for
      // callers that don't already filter nulls.
      val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select(col("g"))
      grams.filter(col("g").isNotNull)
        .join(freq.hint("shuffle_hash"), Seq("g"), "left_anti")
        .select(col("doc_id"), col("g"))
    }
  }

  /** Exact jaccard over shingle sets for pairs that share >=1 shingle.
    * Pair enumeration is bounded by the df-cap (no shingle fans out more
    * than MaxShingleDf ways); sizes use the same capped sets so the ratio
    * stays a true jaccard of the capped universe. Callers pass an
    * already-df-capped (ideally cached) grams frame. */
  /** Both branches compute the IDENTICAL result (same columns, same rows —
    * the oracle pins them); they differ only in WHERE the per-doc set sizes
    * attach, a trade that flips with data size (measured r11 at sf0.1 vs
    * sf10, QTime):
    *
    * Small data (tiny/small regime): sizes ride WITH the grams through the
    * shared-shingle self-join and min() recovers them per pair — the two
    * post-aggregation pair joins and their exchanges disappear, which is
    * what matters when the per-stage constant dominates (ngram sf0.1
    * 1.81 → 0.68 s). Costs one doc_id exchange + a re-exchange by g of the
    * gram set — KBs here.
    *
    * Scale: the pair set after the (a,b) aggregation is SMALLER than the
    * gram set, so re-hashing pairs twice against the per-doc sizes table
    * beats moving the full gram set through two extra exchanges (doc_id,
    * then back to g): the size-carrying shape measured ngram sf10
    * 25 → 33 s. The df-capped grams flow through ONE explicit g-exchange
    * (gx) shared by the self-join sides and the sizes aggregate, and the
    * sizes joins are hinted shuffle-hash with sizes as build — receipts in
    * the branch comment below (r12 StageProbe at sf100). */
  private[data] def jaccardPairs(grams: DataFrame): DataFrame = {
    if (smallRegime(grams)) {
      val byDoc = byDocId(grams)
      // count(g): non-null by construction, and referencing it keeps the
      // aggregate's input projection identical to byDoc so the doc_id
      // exchange is shared (same pruning hazard as dfCapped's df-count).
      val sizes = byDoc.groupBy(col("doc_id")).agg(count(col("g")).as("sz"))
      val gsz = byDoc.join(sizes.hint("shuffle_hash"), "doc_id")
      val a = gsz.toDF("a", "g", "sa")
      val b = gsz.toDF("b", "g", "sb")
      a.join(tinyHash(b), Seq("g")).filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("ic"), min(col("sa")).as("sa"), min(col("sb")).as("sb"))
        .select(col("a"), col("b"), col("ic"),
          col("sa"), col("sb"),
          (col("ic").cast("double") /
            (col("sa") + col("sb") - col("ic")).cast("double")).as("jac"))
    } else {
      // Round 12 (StageProbe at sf100: 471 s wall, 97 % core-busy — every
      // second below is CPU removed, not rebalanced):
      //
      // 1. The df-cap arrives as an ANTI hash probe (dfCapped scale
      //    branch), so the capped grams are hash(g)-partitioned with no
      //    sort anywhere below; the self-join consumes that partitioning
      //    directly and only pays its own two SMJ sorts. count(g), not
      //    count(*), in sizes for the column-pruning hazard dfCapped
      //    documents: a doc_id-only sizes subtree would be a DIFFERENT
      //    exchange and the explode map work would run twice.
      //
      // 2. shuffle_hash on the sizes attachment joins, sizes as build. The
      //    planner's sort-merge externally sorted the PAIR-SCALE ic set
      //    twice (by a, then by b — 1,834 + 2,761 s CPU at sf100); the
      //    per-doc sizes side is one 16-byte row per document, so its
      //    per-partition hash build is |docs|/shuffle-partitions rows
      //    (~2.5 MB at sf100/32) and scales with the partition count —
      //    the agg_groupjoin/jaccardForCandidates bounded-build argument.
      //    ic streams through both joins unsorted.
      val sizes = grams.groupBy(col("doc_id")).agg(count(col("g")).as("sz"))
      val a = grams.toDF("a", "g")
      val b = grams.toDF("b", "g")
      val ic = a.join(b, Seq("g")).filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ic"))
      ic.join(sizes.toDF("a", "sa").hint("shuffle_hash"), "a")
        .join(sizes.toDF("b", "sb").hint("shuffle_hash"), "b")
        .select(col("a"), col("b"), col("ic"),
          col("sa"), col("sb"),
          (col("ic").cast("double") /
            (col("sa") + col("sb") - col("ic")).cast("double")).as("jac"))
    }
  }

  /** Exact jaccard computed ONLY for the given candidate pairs: intersection
    * counts come from cand ⋈ grams(a) ⋈ grams(b, g) — work is proportional to
    * Σ|shingles(a)| over candidates, never to all shared-shingle pairs. This
    * is the verification path LSH exists to enable (a plain
    * jaccardPairs + semi-join would re-enumerate every pair anyway, since the
    * two-sided pair aggregation can't be pushed past the semi-join). */
  private[data] def jaccardForCandidates(cand: DataFrame, grams: DataFrame): DataFrame = {
    // caller passes already-df-capped grams (shared with signature generation).
    // byDoc: the doc-keyed consumers (sizes, the a-side join) read the grams
    // through ONE doc_id exchange (shared with the caller's signature
    // aggregate via ReuseExchange) — see byDocId's scaladoc for why doc-keyed
    // aggregation must not run directly on the g-partitioned semi-join output.
    // Same size-carrying shape as jaccardPairs (see its doc): sa/sb ride the
    // gram sides and min() recovers them per pair, deleting the two
    // pair-scale sizes joins. Both ga and gb read gsz, whose subtrees are
    // identical — the doc_id exchange and the gsz join's map work are
    // computed once (ReuseExchange); ga is already partitioned on a, so the
    // cand⋈ga join only exchanges the candidate set.
    val byDoc = byDocId(grams)
    val sizes = byDoc.groupBy(col("doc_id")).agg(count(col("g")).as("sz"))
    val gsz = byDoc.join(sizes.hint("shuffle_hash"), "doc_id")
    val ga = gsz.toDF("a", "g", "sa")
    val gb = gsz.toDF("b", "g", "sb")
    // shuffle_hash with the CANDIDATE side as build (hint on the left
    // subtree): cand — and then cand⋈ga, whose row count is Σ|grams(a)|
    // over candidates — is the structurally bounded side at every scale,
    // while ga/gb are corpus-scale. The planner's estimate-driven choice
    // here was a BROADCAST of the gram table at small SFs (driver collect
    // + clone-tier execution) and a sort-merge at large SFs (per-
    // consumption sort of the gram table).
    cand.hint("shuffle_hash").join(ga, Seq("a"))
      .hint("shuffle_hash").join(gb, Seq("b", "g"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("ic"), min(col("sa")).as("sa"), min(col("sb")).as("sb"))
      .select(col("a"), col("b"), col("ic"), col("sa"), col("sb"),
        (col("ic").cast("double") /
          (col("sa") + col("sb") - col("ic")).cast("double")).as("jac"))
  }

  /** doc pairs (a<b) that co-occur in any bucket; bucket size capped so one
    * degenerate bucket cannot quadratically explode (skew guard for scale).
    *
    * The cap is a COUNT-PREPASS, not collect-then-filter: sizes aggregate
    * first (fixed-width partial agg, no per-bucket array), and only rows of
    * in-range buckets reach collect_set — a degenerate million-doc bucket
    * never materializes its id array on any executor. Both aggregations
    * hash-partition `buckets` by the same key, so ReuseExchange shares the
    * one shuffle; the guard costs a broadcast-able bucket-id join, not a
    * second pass over the data. (Round 11, VERDICT r10 #4: the previous
    * shape built the full array and dropped it after — a memory cliff the
    * minhash df-cap masked structurally but the generic path did not.) */
  private[data] def pairsFromBuckets(buckets: DataFrame, maxBucket: Int = 64): DataFrame = {
    // One explicit bucket-exchange feeds the count-prepass, the guard join's
    // probe side AND the collect_set (all bucket-keyed): the upstream
    // signature pipeline (minhash agg + band explode / simhash majority
    // vote) is computed once and every step on top runs zero-exchange.
    // Without it the size-filter side re-derived the whole signature subtree
    // as a separate broadcast build in the tiny/small regime (no exchange to
    // reuse — StageProbe r11). shuffle_hash keeps the guard join a hash
    // probe of the in-range bucket ids rather than sorting the bucket rows.
    val bx = buckets.repartition(col("bucket"))
    val inRange = bx.groupBy(col("bucket"))
      .agg(countDistinct(col("doc_id")).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBucket)
      .select(col("bucket"))
    val grouped = bx.join(inRange.hint("shuffle_hash"), "bucket").groupBy(col("bucket"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
    grouped
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  /** Candidate pairs from coordinate-sign LSH, Manku-style 2-band-combo
    * keys with single-bit multi-probe: band j (0..3) is the 16 sign bits of
    * coordinates [16j+1 .. 16j+16] (1-based); each vector is keyed under
    * every C(4,2)=6 pair of bands (a 32-bit key), and a pair is a candidate
    * iff some combo key agrees exactly OR differs in exactly one bit
    * (probing). Closed form — reproducible in plain SQL, so a DuckDB oracle
    * can enumerate the identical set.
    *
    * Scale: this is the third keyspace generation, each forced by an order
    * of magnitude of corpus growth. 8-bit bands (256 keys) saturated at
    * n≈16k; 16-bit bands (65,536 keys, round 3) held to n≈200k but produce
    * ~n²·17·4/2¹⁶ candidate pairs — at n=2M (bench sf100) that is ~4
    * BILLION pairs and a disk-filling shuffle. The 2-band combos live in a
    * 2³² keyspace: expected random collisions are n²·6·33/2³² (~1M pairs at
    * n=2M, ~10⁹ at n=1B — linear-ish headroom to corpus scale), and no
    * bucket cap means nothing is silently dropped.
    *
    * Recall (pair with k flipped sign bits collides iff some band PAIR
    * holds ≤1 of the k flips): complete for k≤3 — any 3 flips leave two
    * bands with ≤1 between them — 0.90 at k=4 (only the all-distinct-bands
    * spread fails), 0.77 at k=5; ≈0.98 on the n=20k DedupSpec fixture
    * (σ=0.1 additive noise, mean k≈1.9). The previous scheme's per-band
    * ≤1-flip predicate had higher deep-tail recall (complete to k=7) but
    * does not survive corpus scale; near-dups at k≥4 of 64 sign bits are
    * cos≲0.9 borderline pairs, the top-20 contract's tail. */
  /** Closed-form probe-volume bound: 6 band combos × (1 exact + 32 one-bit
    * flips) probe rows per vector. DedupSpec locks signBandProbes' row count
    * to exactly n × this, so a keyspace edit cannot silently reintroduce a
    * candidate-pair explosion (the 16-bit-band scheme this replaced shuffled
    * ~4B pairs at n=2M). */
  private[graft] val SignBandProbesPerVec: Long = 6L * 33L

  /** Per-vector combo keys (6 rows/vector). */
  private[graft] def signBandKeys(emb: DataFrame): DataFrame = {
    // One codegen-native sign_bits node instead of 96 inlined CASE WHENs:
    // band j = bits[16j .. 16j+15], bit-for-bit the old Σ-of-whens value
    // (SignBits scaladoc pins the equivalence), so the closed-form DuckDB
    // oracle is unchanged. The CASE-WHEN tree was ~64 KB and the candidate
    // self-join put it on BOTH sides — Catalyst spent ~2.8 s/run generating
    // whole-stage source for it (PhaseProbe sf0.1: toRdd 2.79 s of the
    // 4.4 s total, at every scale factor since planning cost is
    // data-independent).
    val bits = graft.functions.GraftFunctions.sign_bits(col("embedding"))
    val band = (j: Int) =>
      shiftrightunsigned(bits, 16 * j).bitwiseAND(lit(0xFFFFL))
    val combos = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
    val keyArr = array(combos.zipWithIndex.map { case ((x, y), ci) =>
      struct(lit(ci).as("ci"), (band(x) * 65536L + band(y)).as("kv"))
    }: _*)
    spread(emb, "vec_id").select(col("vec_id"), explode(keyArr).as("k"))
      .select(col("vec_id"), col("k.ci").as("ci"), col("k.kv").as("kv"))
  }

  /** Probe side: each key row fans out to the exact key plus its 32 one-bit
    * flips — exactly SignBandProbesPerVec rows per vector, never more. */
  private[graft] def signBandProbes(keys: DataFrame): DataFrame = {
    val masks = 0L +: (0 until 32).map(f => 1L << f)
    keys.select(col("vec_id"), col("ci"),
      explode(array(masks.map(m => col("kv").bitwiseXOR(lit(m))): _*)).as("kv"))
  }

  /** Default exact-side bucket cap for [[signBandCandidates]]. Random
    * embeddings never approach it (expected bucket size n·6/2³² ≈ 1.4 even
    * at n=1B), so on isotropic data the candidate set — and the DuckDB
    * oracle hash — is unchanged; it exists for ANISOTROPIC real-world
    * embedding corpora where mass shares sign bits and one dominant
    * (ci,kv) bucket would make the exact⋈probed join quadratic. */
  private[graft] val SignBandMaxBucket: Int = 1024

  private[graft] def signBandCandidates(
      emb: DataFrame, maxBucket: Int = SignBandMaxBucket): DataFrame = {
    // One explicit (ci,kv) exchange: the bucket-count prepass, the exact
    // side of the guard join and the probe fan-out all read the keys
    // through it (ReuseExchange), so the sign_bits key generation runs ONCE
    // — previously the ok-count side broadcast-rebuilt the key subtree and
    // the probe side re-derived it a third time (StageProbe r11: three
    // embedding passes of a 4-pass query).
    val keys = signBandKeys(emb).repartition(col("ci"), col("kv"))
    // Skew guard (round 11, VERDICT r10 #3): a SATURATED band key carries no
    // near-dup discrimination — thousands of vectors agreeing on 32 sign
    // bits is a property of the embedding distribution, not of duplication —
    // so exact-side keys in buckets larger than maxBucket are dropped BEFORE
    // the join. Output is then bounded per bucket by maxBucket × probes-in,
    // and probes FROM a dropped bucket still reach its 32 one-bit-flip
    // neighbors (each itself capped), so the join stays linear in the
    // dominant bucket's size instead of quadratic. Both the count and the
    // join hash-partition `keys` by (ci,kv) — ReuseExchange shares the
    // shuffle. The DuckDB oracle mirrors the cap bit-for-bit (okkeys CTE).
    // count(vec_id), not count(*): vec_id is the table key (never null in
    // the corpus contract), and referencing it keeps this subtree's
    // projection identical to `keys` so the (ci,kv) exchange is shared —
    // a pruned (ci,kv)-only subtree would re-run the key generation
    // (same column-pruning hazard as dfCapped's df-count).
    val ok = keys.groupBy(col("ci"), col("kv")).agg(count(col("vec_id")).as("bn"))
      .filter(col("bn") <= maxBucket).select(col("ci"), col("kv"))
    // re-project in keys order: an equi-join on Seq(...) moves the join
    // keys to the FRONT of the output, which would scramble the positional
    // toDF rename below. shuffle_hash: both sides are already (ci,kv)-
    // partitioned, so the hint only picks hash-probe over sort-merge
    // (the sorts were pure overhead — the guard is a set-membership test).
    val exact = keys.join(ok.hint("shuffle_hash"), Seq("ci", "kv"))
      .select(col("vec_id"), col("ci"), col("kv"))
    // exact ⋈ probed finds every ≤1-bit combo-key pair; least/greatest
    // normalization (NOT an a<b filter — that would silently lose pairs
    // whose smaller-id endpoint sits in the saturated bucket) keeps a pair
    // alive whenever EITHER endpoint's bucket is below the cap.
    // shuffle_hash with exact as build: the capped exact side is the
    // bounded one (≤maxBucket per bucket) — sort-merge would externally
    // sort the 33×-exploded probe stream instead.
    exact.toDF("a", "ci", "kv").hint("shuffle_hash")
      .join(signBandProbes(keys).toDF("b", "ci", "kv"), Seq("ci", "kv"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** SimHash blocking à la Manku/Jain/Sarma (WWW'07 near-duplicate
    * detection): split the 64-bit signature into 6 blocks (11,11,10,11,11,10
    * bits) and bucket each doc under every C(6,3)=20 choice of 3 blocks
    * (a ~32-bit key). Any pair within hamming distance 3 leaves ≥3 blocks
    * untouched, so some 3-block key matches exactly — candidate generation
    * is COMPLETE for hamming≤3 by construction, at any corpus size.
    *
    * Scale: the round-2 scheme bucketed on single 16-bit chunks — a 65,536
    * keyspace whose buckets grow linearly with n and hit the skew cap at
    * corpus scale (silent recall collapse). The 20 3-block keys live in a
    * ~2³² keyspace: buckets stay O(1) for random signatures (~n·20/2³²),
    * and the cap remains only as a guard against degenerate skew (e.g.
    * boilerplate corpora full of identical signatures, which exact dedup
    * should have removed first). */
  private[graft] val simhashBlocks: Seq[(Int, Int)] = // (shift, width)
    Seq((0, 11), (11, 11), (22, 10), (32, 11), (43, 11), (54, 10))
  private[graft] def simhashCandidates(sig: DataFrame, maxBucket: Int = 64): DataFrame = {
    val combos = simhashBlocks.indices.combinations(3).toSeq
    // 8-byte xxhash64 bucket keys instead of concat_ws strings (same
    // reasoning as the minhash bands): a collision only adds a candidate,
    // and every candidate is verified by the exact hamming filter.
    val keys = combos.zipWithIndex.map { case (c, ci) =>
      xxhash64(lit(ci) +: c.map { bi =>
        val (sh, w) = simhashBlocks(bi)
        shiftrightunsigned(col("sig"), sh).bitwiseAND(lit((1L << w) - 1))
      }: _*)
    }
    val buckets = sig.select(col("doc_id"),
      explode(array(keys: _*)).as("bucket"))
    pairsFromBuckets(buckets, maxBucket)
  }

  /** 64-bit simhash signature per doc: per-bit majority over shingle hashes.
    * Accepts string grams (hashed here) or pre-hashed long grams. */
  private[graft] def simhashSignatures(grams: DataFrame): DataFrame = {
    val hCol =
      if (grams.schema("g").dataType == org.apache.spark.sql.types.LongType) col("g")
      else xxhash64(col("g"))
    // byDocId: 64 bit-sum columns make the widest partial state of any
    // doc-keyed aggregate — see byDocId's doc for the g-partitioned blowup
    val withH = byDocId(grams).select(col("doc_id"), hCol.as("h"))
    val bitSums = withH.groupBy(col("doc_id")).agg(
      sum(when(col("h").bitwiseAND(lit(1L << 0)) =!= 0L, 1).otherwise(-1)).as("b0"),
      (1 until 64).map(i =>
        sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1)).as(s"b$i")): _*)
    bitSums.select(col("doc_id"),
      (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("sig"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: groupBy content hash, keep min doc_id (one shuffle).
    "dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("h")),

    // N-gram Jaccard near-dup with full DuckDB oracle. Pair generation via
    // shared-shingle join only.
    "dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(hashedCapped(t(s, d, "documents")))
        .filter(col("jac") >= 0.1)
        .orderBy("a", "b")),

    // MinHash (32 perms) + LSH (16 bands x 2 rows) with exact-jaccard
    // verification of candidates ONLY (jaccardForCandidates) — the pair
    // enumeration LSH exists to avoid never runs. The hash family is
    // closed-form (round 9: rolling_hash words + splitmix64 mixing), so
    // the DuckDB oracle replays the identical signatures and this query is
    // fully hash-checked (OracleSql.minhashLshOracle); the recall spec in
    // DedupSpec remains as the semantic gate.
    "dedup_minhash_lsh" -> ((s, d) => {
      // shared by the signature pass AND both sides of the verification
      // join — the identical subtrees let ReuseExchange compute the
      // shingle+df-cap map work once (see hashedCapped's doc; PlanSpec
      // asserts the ReusedExchange)
      val grams = hashedCapped(t(s, d, "documents"))
      val nHash = 32
      // Double hashing (Kirsch-Mitzenmacher style, overflow-free for ANSI
      // mode): h_k = h1 XOR rot(h2, k) gives 32 independent-enough
      // permutations from TWO hash evaluations per shingle instead of
      // 32 — the signature pass is the LSH bottleneck at corpus scale.
      // grams.g is already a closed-form 64-bit gram hash (hashedCapped),
      // so h1 is the gram itself and h2 one further splitmix64 round —
      // both mirrored bit-exactly by the DuckDB oracle (OracleSql), which
      // is what moves this query from rows-only to hash-checked.
      val h1 = col("g")
      val h2 = graft.functions.GraftFunctions.splitmix64(col("g"))
      def rot(c: Column, k: Int): Column =
        if (k == 0) c
        else shiftleft(c, k).bitwiseOR(shiftrightunsigned(c, 64 - k))
      // byDocId: the 32-min partial phase on g-partitioned input is a
      // 38 GB exchange at sf100 (see byDocId's doc); the doc_id exchange
      // here is the SAME one the verification path reads (ReuseExchange)
      val mh = byDocId(grams).groupBy(col("doc_id")).agg(
        min(h1.bitwiseXOR(h2)).as("h0"),
        (1 until nHash).map(k => min(h1.bitwiseXOR(rot(h2, k))).as(s"h$k")): _*)
      // one band-array explode instead of per-band re-aggregations — the
      // minhash groupBy runs once, not once per band. Bucket keys are 8-byte
      // xxhash64 of (band, row minhashes), not concat_ws strings: the bands
      // frame is 16 rows/doc and the string key was ~80 bytes of rendered
      // decimals per row — ~10× the bucket groupBy's shuffle BYTES. On
      // local[32] (disk-backed shuffle) wall-clock is unchanged — the
      // shingle pass dominates — but on a network-shuffling cluster the
      // volume is the cost, so the long key is the scale-correct shape. A
      // hash collision can only ADD a candidate pair, and every candidate
      // passes exact-jaccard verification below, so correctness is
      // unaffected; recall too (equal band contents still collide).
      //
      // Band shape 16×2, not 8×4: the contract verifies at jaccard ≥ 0.5,
      // and the S-curve midpoint must sit BELOW the verification threshold
      // or boundary pairs are structurally missed — t = (1/b)^(1/r) is
      // 0.59 at 8×4 (catch probability at j=0.5: 1-(1-0.5⁴)⁸ = 0.40; the
      // sf1 gate surfaced ~11k missed marginal pairs) vs 0.25 at 16×2
      // (catch at j=0.5: 1-(1-0.25)¹⁶ = 0.99, at j≥0.8: 1-3e-8). The cost
      // is weaker keys → more spurious candidates, all killed by the exact
      // verification; volume is bounded by the df-cap + bucket cap and
      // measured at sf1/sf10 (PERF_r10 §5).
      val bands = mh.select(col("doc_id"),
        explode(array((0 until 16).map { bnd =>
          xxhash64(lit(bnd) +:
            (0 until 2).map(r => col(s"h${bnd * 2 + r}")): _*)
        }: _*)).as("bucket"))
      val cand = pairsFromBuckets(bands)
      val verified = jaccardForCandidates(cand, grams)
        .filter(col("jac") >= 0.5)
      verified.select(col("a"), col("b"), col("jac")).orderBy("a", "b")
    }),

    // SimHash: 64-bit signature = per-bit majority over shingle hashes;
    // candidates from Manku 3-of-6-block buckets (complete for hamming<=3);
    // verified near-dups at hamming<=3.
    "dedup_simhash" -> ((s, d) => {
      val grams = hashedCapped(t(s, d, "documents"))
      // sig feeds candidate generation and both hamming-join sides; its
      // subtrees are identical, so the shuffle map sides are reused (see
      // hashedCapped) — only the cheap post-shuffle agg repeats
      val sig = simhashSignatures(grams)
      val cand = simhashCandidates(sig)
      val sa = sig.toDF("a", "siga")
      val sb = sig.toDF("b", "sigb")
      cand.join(sa, "a").join(sb, "b")
        .select(col("a"), col("b"),
          bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("a", "b")
    }),

    // Embedding-cosine near-dup, candidate-bounded: pairs are generated from
    // coordinate-sign LSH (2-band combo keys), then exact cosine is computed
    // ONLY on candidates — never an all-pairs crossJoin. The band scheme is
    // closed-form (sign of the k-th coordinate), so the DuckDB oracle
    // enumerates the IDENTICAL candidate set and the query stays fully
    // hash-checked. Brute force survives as the recall baseline in DedupSpec
    // and in sim_cosine_topk.
    //
    // The driver's embeddings are fully random — at sf0.01 a properly
    // selective LSH finds NO near-dup pairs (an empty top-20 is the correct
    // dedup answer on dup-free data, but a contract row that exercises
    // nothing). Deterministic twins (every 50th vector with coordinate 1
    // negated — exactly one flipped sign bit, so candidate generation is
    // complete for them) are planted identically on both engines, the same
    // pattern text_pii_scrub uses for its redaction paths.
    "dedup_embed_cos" -> ((s, d) => {
      val base = t(s, d, "embeddings").select("vec_id", "embedding")
      val twins = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          concat(array(-element_at(col("embedding"), 1)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      // codegen array_dot/array_norm: bit-identical accumulation order to
      // the HOF chains they replaced (oracle hashes pin the add order)
      val e = base.unionAll(twins)
        .select(col("vec_id"), col("embedding"),
          graft.functions.GraftFunctions.array_norm(col("embedding")).as("norm"))
      val cand = signBandCandidates(e.select(col("vec_id"), col("embedding")))
      val ea = e.toDF("a", "ea", "na")
      val eb = e.toDF("b", "eb", "nb")
      // shuffle_hash, candidate side as build (same reasoning as
      // jaccardForCandidates): cand is the bounded side; the corpus
      // embedding frame streams instead of being sorted (SMJ) per join.
      cand.hint("shuffle_hash").join(ea, "a")
        .hint("shuffle_hash").join(eb, "b")
        .select(col("a"), col("b"),
          (graft.functions.GraftFunctions.array_dot(col("ea"), col("eb")) /
            (col("na") * col("nb"))).as("cos"))
        .orderBy(col("cos").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), round(col("cos"), 4).as("sim"))
    }),

    // Connected-components canonicalization: a near-dup pair list is not yet
    // a dedup decision — A~B and B~C must collapse to ONE kept document even
    // when A~C was never scored. Components over the jaccard>=0.5 pair graph,
    // each doc labeled with its component's min doc_id (the canonical copy).
    // Iterative min-label propagation: per round one edges⋈labels shuffle
    // join + one vertex rollup, converging in diameter(G) rounds — near-dup
    // clusters are shallow (dups of dups of one original), so this is a
    // handful of bounded distributed jobs, not a driver-side graph walk.
    // localCheckpoint truncates the per-round lineage (else round k replays
    // rounds 1..k-1); convergence is detected by the label sum, which is
    // strictly decreasing until fixpoint under min-propagation.
    "dedup_cluster" -> ((s, d) =>
      clusterLabels(t(s, d, "documents")).orderBy("doc_id")),

    // The dedup DECISION applied: keep exactly one document per near-dup
    // component (the min-doc_id representative) — the corpus a pipeline
    // actually ships to training after near-dedup.
    "dedup_apply" -> ((s, d) =>
      clusterLabels(t(s, d, "documents"))
        .filter(col("cluster_rep") === col("doc_id"))
        .select(col("doc_id"))
        .orderBy("doc_id"))
  )

  /** (doc_id, cluster_rep) for every document: connected components over the
    * jaccard>=0.5 near-dup pair graph via iterative min-label propagation
    * (see the dedup_cluster scaladoc above for the 100 TB analysis). */
  private[data] def clusterLabels(docs: DataFrame): DataFrame = {
    val pairs = jaccardPairs(hashedCapped(docs))
      .filter(col("jac") >= 0.5).select(col("a"), col("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint() // score pairs once, not once per round
    var lbl = docs.select(col("doc_id").as("v"), col("doc_id").as("l"))
      .localCheckpoint()
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("l").cast("decimal(38,0)"))).head.getDecimal(0)
    var prev = lblSum(lbl)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxCcRounds) {
      val nbr = edges.join(lbl, col("dst") === col("v"))
        .select(col("src").as("v"), col("l"))
      val next = lbl.union(nbr).groupBy("v").agg(min("l").as("l"))
        .localCheckpoint()
      val cur = lblSum(next)
      converged = cur.compareTo(prev) == 0
      prev = cur
      lbl = next
      iter += 1
    }
    lbl.select(col("v").as("doc_id"), col("l").as("cluster_rep"))
  }

  /** Min-label propagation round cap: components from near-dup chains have
    * tiny diameter; the cap only guards pathological inputs. (A 100 TB
    * deployment with adversarial chain-shaped components would swap in
    * large-star/small-star's O(log n) contraction — same per-round plan
    * shape, different edge rewrite.) */
  private[data] val MaxCcRounds = 30

  val oracle: Map[String, String] = Map(
    // Closed-form hash family (round 9) → these two moved from rows-only
    // to fully hash-checked; see OracleSql for the mod-2^64 SQL mirror.
    "dedup_minhash_lsh" -> graft.util.OracleSql.minhashLshOracle,
    "dedup_simhash" -> graft.util.OracleSql.simhashOracle,
    "dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY h",
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
              g0 AS (SELECT doc_id, unnest(generate_series(1, len(w) - 2)) AS i, w FROM w),
              grams0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM g0),
              grams AS (SELECT doc_id, g FROM grams0
                        WHERE g IN (SELECT g FROM grams0 GROUP BY g HAVING count(*) <= 64)),
              sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
              ic AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ic
                     FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
         SELECT a, b, ic, sa.sz AS sa, sb.sz AS sb,
                CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) AS jac
         FROM ic JOIN sizes sa ON ic.a = sa.doc_id JOIN sizes sb ON ic.b = sb.doc_id
         WHERE CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) >= 0.1
         ORDER BY a, b""",
    "dedup_embed_cos" -> {
      // band value: 16 sign bits of coords [16j+1 .. 16j+16]; combo key:
      // band x · 2^16 + band y over the C(4,2)=6 band pairs — must mirror
      // signBandCandidates bit-for-bit
      val bandSum = (0 until 16)
        .map(r => s"(CASE WHEN embedding[16*j+${r + 1}] >= 0 THEN ${1 << r} ELSE 0 END)")
        .mkString(" +\n                     ")
      val comboVals = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
        .zipWithIndex.map { case ((x, y), ci) => s"($ci,$x,$y)" }.mkString(",")
      val maskVals = (0L +: (0 until 32).map(f => 1L << f))
        .map(m => s"($m)").mkString(",")
      s"""WITH emb AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000000,
                     list_prepend(-(embedding[1]), list_slice(embedding, 2, 64))
              FROM embeddings WHERE vec_id % 50 = 0),
              bands AS (
              SELECT vec_id, j,
                     $bandSum AS bv
              FROM emb CROSS JOIN (VALUES (0),(1),(2),(3)) AS gen(j)),
              keys AS MATERIALIZED (
              SELECT b1.vec_id, c.ci, CAST(b1.bv AS BIGINT) * 65536 + b2.bv AS kv
              FROM (VALUES $comboVals) AS c(ci, x, y)
              JOIN bands b1 ON b1.j = c.x
              JOIN bands b2 ON b2.j = c.y AND b2.vec_id = b1.vec_id),
              okkeys AS MATERIALIZED (
              SELECT ci, kv FROM keys GROUP BY ci, kv
              HAVING count(*) <= ${SignBandMaxBucket}),
              exact AS (
              SELECT k.vec_id, k.ci, k.kv FROM keys k
              JOIN okkeys o ON k.ci = o.ci AND k.kv = o.kv),
              probes AS (
              SELECT vec_id, ci, xor(kv, m) AS kv
              FROM keys CROSS JOIN (VALUES $maskVals) AS masks(m)),
              cand AS (SELECT DISTINCT least(k.vec_id, p.vec_id) AS a,
                                       greatest(k.vec_id, p.vec_id) AS b
                       FROM exact k JOIN probes p ON k.ci = p.ci AND k.kv = p.kv
                       AND k.vec_id <> p.vec_id),
              e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                           CAST(unnest(embedding) AS DOUBLE) AS v FROM emb),
              norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
              dots AS (SELECT cand.a, cand.b, sum(ea.v * eb.v) AS dot
                       FROM cand JOIN e ea ON ea.vec_id = cand.a
                       JOIN e eb ON eb.vec_id = cand.b AND eb.i = ea.i
                       GROUP BY 1, 2)
         SELECT a, b, round(dot / (na.nrm * nb.nrm), 4) AS sim
         FROM dots JOIN norms na ON dots.a = na.vec_id JOIN norms nb ON dots.b = nb.vec_id
         ORDER BY dot / (na.nrm * nb.nrm) DESC, a, b LIMIT 20"""
    },
    // Transitive closure over the same jaccard>=0.5 pair graph the Spark side
    // builds: reach(v) accumulates every label reachable from v (UNION dedups,
    // so the recursion terminates on the finite vertex×label space); the min
    // over reachable labels is exactly the component minimum.
    "dedup_cluster" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
              g0 AS (SELECT doc_id, unnest(generate_series(1, len(w) - 2)) AS i, w FROM w),
              grams0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM g0),
              grams AS (SELECT doc_id, g FROM grams0
                        WHERE g IN (SELECT g FROM grams0 GROUP BY g HAVING count(*) <= 64)),
              sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
              ic AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ic
                     FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
              pairs AS (SELECT a, b FROM ic
                        JOIN sizes sa ON ic.a = sa.doc_id JOIN sizes sb ON ic.b = sb.doc_id
                        WHERE CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) >= 0.5),
              e AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
              reach(v, l) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.src, r.l FROM e JOIN reach r ON e.dst = r.v)
         SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(l) AS BIGINT) AS cluster_rep
         FROM reach GROUP BY v ORDER BY doc_id""",
    "dedup_apply" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
              g0 AS (SELECT doc_id, unnest(generate_series(1, len(w) - 2)) AS i, w FROM w),
              grams0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM g0),
              grams AS (SELECT doc_id, g FROM grams0
                        WHERE g IN (SELECT g FROM grams0 GROUP BY g HAVING count(*) <= 64)),
              sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
              ic AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ic
                     FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
              pairs AS (SELECT a, b FROM ic
                        JOIN sizes sa ON ic.a = sa.doc_id JOIN sizes sb ON ic.b = sb.doc_id
                        WHERE CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) >= 0.5),
              e AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
              reach(v, l) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.src, r.l FROM e JOIN reach r ON e.dst = r.v)
         SELECT CAST(v AS BIGINT) AS doc_id
         FROM reach GROUP BY v HAVING min(l) = v ORDER BY doc_id"""
  )
}
