package graft.ssb

/** Static output signatures for the SSB queries (key: "NN" named variant,
  * "sNN" Crystal-coded variant); SuiteSpec checks them and prints
  * replacements. */
object SsbSig {
  val sigs: Map[String, String] = Map(
    "11" -> "d",
    "12" -> "d",
    "13" -> "d",
    "21" -> "dlr",
    "22" -> "dlr",
    "23" -> "dlr",
    "31" -> "rrld",
    "32" -> "rrld",
    "33" -> "rrld",
    "34" -> "rrld",
    "41" -> "lrd",
    "42" -> "lrrd",
    "43" -> "lrrd",
    "s11" -> "d",
    "s12" -> "d",
    "s13" -> "d",
    "s21" -> "dll",
    "s22" -> "dll",
    "s23" -> "dll",
    "s31" -> "llld",
    "s32" -> "llld",
    "s33" -> "llld",
    "s34" -> "llld",
    "s41" -> "lld",
    "s42" -> "llld",
    "s43" -> "llld"
  )
}
