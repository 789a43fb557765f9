package graft

import graft.util.Suites

/** The committed `*Sig` maps against the analyzed suite queries.
  *
  * The DuckDB side of every suite query is built from a static output
  * signature (one char per column: d/l/r, see [[Suites.sigOf]]), because
  * the oracle map is written before any SparkSession exists. A stale entry
  * would only surface as a hash mismatch in the full oracle gate; this spec
  * analyses every suite query (no execution) and, on a mismatch or a
  * missing entry, prints the exact replacement line for the named map —
  * run `sbt "testOnly graft.SuiteSpec"` to regenerate after changing a
  * query text or a generator's column types.
  */
class SuiteSpec extends SparkSpec {

  /** (query-name prefix, key prefix in the map, map name, committed map) */
  private val sigMaps: Seq[(String, String, String, Map[String, String])] = Seq(
    ("tpcds_q", "", "TpcdsSig", graft.tpcds.TpcdsSig.sigs),
    ("tpcxbb_q", "", "TpcxbbSig", graft.tpcds.TpcxbbSig.sigs),
    ("job_q", "", "JobSig", graft.job.JobSig.sigs),
    ("ssb_q", "", "SsbSig", graft.ssb.SsbSig.sigs),
    ("ssb2_q", "s", "SsbSig", graft.ssb.SsbSig.sigs),
    ("cb_q", "", "ClickbenchSig", graft.clickbench.ClickbenchSig.sigs))

  test("every suite query's output signature matches its committed *Sig entry") {
    val queries = SparkEntry.queries
    val checked = Suites.names.toSeq.sorted.map { name =>
      val (pfx, keyPfx, mapName, sigs) = sigMaps.find(m => name.startsWith(m._1))
        .getOrElse(fail(s"$name: no *Sig map covers this suite"))
      val key = keyPfx + name.stripPrefix(pfx)
      val sig = Suites.sigOf(queries(name)(spark, sf))
      (mapName, key, sigs.get(key), sig)
    }
    val wrong = checked.filterNot { case (_, _, committed, sig) => committed.contains(sig) }
    wrong.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (mapName, rows) =>
      println(s"--- $mapName: replace or add ---")
      rows.foreach { case (_, key, committed, sig) =>
        println(s"""    "$key" -> "$sig",""" +
          committed.fold("  // missing")(c => s"""  // was "$c""""))
      }
    }
    val stale = sigMaps.groupBy(_._3).toSeq.flatMap { case (mapName, ms) =>
      val used = checked.collect { case (`mapName`, key, _, _) => key }.toSet
      (ms.head._4.keySet -- used).toSeq.sorted.map(k => s"$mapName \"$k\"")
    }
    assert(wrong.isEmpty, s"${wrong.size} stale or missing *Sig entries (replacement lines above)")
    assert(stale.isEmpty, s"*Sig entries with no suite query: ${stale.mkString(", ")}")
    assert(checked.size == Suites.names.size)
  }

  test("every suite query has an oracle built from its signature") {
    val oracle = SparkEntry.oracleSql
    assert(Suites.names.filterNot(oracle.contains).isEmpty)
  }
}
