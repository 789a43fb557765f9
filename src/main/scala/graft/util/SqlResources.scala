package graft.util

import java.nio.charset.StandardCharsets

/** Loader for the benchmark suites' query texts.
  *
  * The texts are the public TPC-DS/JOB/SSB/ClickBench/TPCx-BB SQL the
  * reference also ships (reference resources/sql); they are vendored under
  * `src/main/resources/graft/sql/<suite>/` and read from the classpath only,
  * so the engine's benchmark surface is self-contained.
  */
object SqlResources {

  /** Query `qn` of `suite`, trimmed and without its trailing semicolon. */
  def loadQuery(suite: String, qn: String): String = {
    val path = s"/graft/sql/$suite/$qn.sql"
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"no query text $path on the classpath")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.stripSuffix(";").trim
    finally in.close()
  }
}
