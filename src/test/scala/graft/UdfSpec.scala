package graft

import graft.sqlsurface.{GraftSql, UdfSurface}

class UdfSpec extends SparkSpec {

  test("LANGUAGE scala UDF: create, use in SQL") {
    UdfSurface.execute(spark,
      "CREATE OR REPLACE FUNCTION addOne(x int) RETURNS int LANGUAGE sql AS $$ x + 1 $$")
    val got = spark.sql("SELECT addOne(41) AS v").collect().head.getInt(0)
    assert(got == 42)
  }

  test("LANGUAGE c corpus form: return expr;") {
    UdfSurface.execute(spark,
      "CREATE OR REPLACE FUNCTION addFloats(x float4, y float4) RETURNS float4 LANGUAGE c AS $$ return x+y; $$")
    val got = spark.sql("SELECT addFloats(CAST(1.5 AS FLOAT), CAST(2.25 AS FLOAT)) AS v")
      .collect().head.getFloat(0)
    assert(got == 3.75f)
  }

  test("string function body + inlining stays optimizable") {
    UdfSurface.execute(spark,
      "CREATE FUNCTION shout(s varchar) RETURNS varchar LANGUAGE sql AS $$ upper(s) || '!' $$")
    assert(spark.sql("SELECT shout('hi') AS v").collect().head.getString(0) == "HI!")
    // the macro is inlined: a constant argument constant-folds to a literal plan
    val plan = spark.sql("SELECT shout('hi') AS v").queryExecution.optimizedPlan.toString
    assert(plan.contains("HI!"), s"macro not folded: $plan")
  }

  test("CREATE FUNCTION keeps a declared return type's parameters") {
    GraftSql(spark, "CREATE OR REPLACE FUNCTION half(x double) RETURNS decimal(10,2) " +
      "LANGUAGE sql AS $$ x / 2 $$")
    assert(spark.sql("SELECT half(2.5) AS v").collect().head.getDecimal(0) ==
      new java.math.BigDecimal("1.25"))
  }

  test("CREATE FUNCTION takes a parameterized argument type and dialect synonyms") {
    GraftSql(spark, "CREATE OR REPLACE FUNCTION vlen(x varchar(3), n int4) RETURNS int8 " +
      "LANGUAGE sql AS $$ length(x) + n $$")
    val r = spark.sql("SELECT vlen('ab', 1) AS v")
    assert(r.schema.head.dataType == org.apache.spark.sql.types.LongType)
    assert(r.collect().head.getLong(0) == 3L)
  }

  test("python UDF: tuple assignment swaps via parallel semantics") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_swapdiff(a bigint, b bigint) RETURNS bigint LANGUAGE python AS $$
def py_swapdiff(a, b):
    if a < b:
        a, b = b, a
    return a - b
$$""")
    assert(spark.sql("SELECT py_swapdiff(3, 10) AS v").collect().head.getLong(0) == 7L)
    assert(spark.sql("SELECT py_swapdiff(10, 3) AS v").collect().head.getLong(0) == 7L)
  }

  test("python UDF: for over a list literal with len/str/int builtins") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_sumsel(x bigint) RETURNS varchar LANGUAGE python AS $$
def py_sumsel(x):
    total = 0
    for w in [1, 10, 100]:
        total += w * x
    return str(total) + '/' + str(len([1, 2, 3])) + '/' + str(int('7') + x)
$$""")
    assert(spark.sql("SELECT py_sumsel(2) AS v").collect().head.getString(0) == "222/3/9")
  }

  test("python UDF: subscripts with negative indices on strings and lists") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_ends(s varchar) RETURNS varchar LANGUAGE python AS $$
def py_ends(s):
    parts = [s[0], s[-1]]
    return parts[0] + parts[1] + parts[-1]
$$""")
    assert(spark.sql("SELECT py_ends('hello') AS v").collect().head.getString(0) == "hoo")
  }

  test("python UDF: unpacking a list-valued RHS into names") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_unpack(x bigint) RETURNS bigint LANGUAGE python AS $$
def py_unpack(x):
    lo, hi = [x - 1, x + 1]
    return lo * hi
$$""")
    assert(spark.sql("SELECT py_unpack(5) AS v").collect().head.getLong(0) == 24L)
  }

  test("python UDF: for over a string iterates characters") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_vowels(s varchar) RETURNS bigint LANGUAGE python AS $$
def py_vowels(s):
    n = 0
    for ch in s:
        if ch == 'a':
            n += 1
        else:
            if ch == 'e':
                n += 1
    return n
$$""")
    // a's: sea, at, dawn = 3; e's: sea, breeze×3 = 4
    assert(spark.sql("SELECT py_vowels('sea breeze at dawn') AS v").collect().head.getLong(0) == 7L)
  }

  test("python UDF: helper defs, while, dict, f-string through the SQL surface") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_toplang(s varchar) RETURNS varchar LANGUAGE python AS $$
def norm(w):
    return w.strip('.,').lower()

def py_toplang(s):
    counts = {}
    for w in s.split():
        k = norm(w)
        counts[k] = counts.get(k, 0) + 1
    best, best_n = '', 0
    for k, v in counts.items():
        if v > best_n:
            best, best_n = k, v
    return f"{best}:{best_n}"
$$""")
    assert(spark.sql("SELECT py_toplang('Go go GO. stop') AS v")
      .collect().head.getString(0) == "go:3")
  }

  test("python UDF: import math + comprehension through the SQL surface") {
    UdfSurface.execute(spark,
      """CREATE FUNCTION py_rms(a double, b double, c double) RETURNS double LANGUAGE python AS $$
import math

def py_rms(a, b, c):
    xs = [a, b, c]
    return math.sqrt(sum(x * x for x in xs) / len(xs))
$$""")
    val got = spark.sql("SELECT py_rms(3.0, 4.0, 12.0) AS v").collect().head.getDouble(0)
    assert(math.abs(got - math.sqrt((9.0 + 16.0 + 144.0) / 3)) < 1e-12)
  }

  // ---- CPython semantics the pickled wrapper carries (UdfSurface scaladoc)

  test("python UDF: a float result for an int return truncates (stock Spark gives NULL)") {
    GraftSql(spark, """CREATE OR REPLACE FUNCTION py_f2i(x int) RETURNS int LANGUAGE python AS $$
def py_f2i(x):
    return x / 2
$$""")
    val r = spark.sql("SELECT py_f2i(3), py_f2i(-7)").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == -3)
  }

  test("python UDF: a bool result for an int return is 0/1 (stock Spark gives NULL)") {
    GraftSql(spark, """CREATE OR REPLACE FUNCTION py_b2i(x int) RETURNS int LANGUAGE python AS $$
def py_b2i(x):
    return x > 1
$$""")
    val r = spark.sql("SELECT py_b2i(3), py_b2i(0)").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 0)
  }

  test("python UDF: a non-string result for a string return is its str()") {
    GraftSql(spark, """CREATE OR REPLACE FUNCTION py_pair(x double) RETURNS varchar LANGUAGE python AS $$
def py_pair(x):
    if x < 0:
        return x
    return (x, [int(x), None])
$$""")
    val r = spark.sql("SELECT py_pair(2.5), py_pair(-1.0)").collect().head
    assert(r.getString(0) == "(2.5, [2, None])" && r.getString(1) == "-1.0")
  }

  test("python UDF: a NULL argument is NULL without calling the body") {
    // the body raises on None; Spark lifts the UDF out of the CASE guard,
    // so only the wrapper's own null check keeps it from seeing None
    GraftSql(spark, """CREATE OR REPLACE FUNCTION py_up(s varchar) RETURNS varchar LANGUAGE python AS $$
def py_up(s):
    return s.upper()
$$""")
    val rows = spark.sql(
      """SELECT py_up(s) AS u, CASE WHEN s IS NULL THEN 'none' ELSE py_up(s) END AS g
         FROM VALUES ('a'), (NULL) AS t(s) ORDER BY s NULLS LAST""").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("A", "A"), (null, "none")))
  }

  // ---- failures surface at CREATE FUNCTION with the interpreter's stderr

  private def createPy(name: String, body: String): IllegalArgumentException =
    intercept[IllegalArgumentException](GraftSql(spark,
      s"CREATE OR REPLACE FUNCTION $name(x bigint) RETURNS bigint LANGUAGE python AS $$$$\n$body\n$$$$"))

  test("python UDF: a SyntaxError fails CREATE FUNCTION") {
    val e = createPy("py_bad", "def py_bad(x):\n    return x +")
    assert(e.getMessage.contains("SyntaxError"), e.getMessage)
  }

  test("python UDF: a NameError while executing the module fails CREATE FUNCTION") {
    val e = createPy("py_bad", "class C(Missing):\n    pass\ndef py_bad(x):\n    return x")
    assert(e.getMessage.contains("NameError: name 'Missing' is not defined"), e.getMessage)
  }

  test("python UDF: no def named after the function fails CREATE FUNCTION") {
    val e = createPy("py_bad", "def other(x):\n    return x")
    assert(e.getMessage.contains("no def named py_bad"), e.getMessage)
  }

  test("python UDF: a missing interpreter or a mismatched pyspark fails before any row") {
    import org.apache.spark.sql.types.LongType
    val body = "def f(x):\n    return x"
    val missing = intercept[IllegalArgumentException](
      UdfSurface.picklePython("/nonexistent/python3", "f", LongType, body, spark.version))
    assert(missing.getMessage.contains("/nonexistent/python3"), missing.getMessage)
    val python = UdfSurface.pythonExec(spark)
    val mismatch = intercept[IllegalArgumentException](
      UdfSurface.picklePython(python, "f", LongType, body, "0.0.0"))
    assert(mismatch.getMessage.contains("does not match Spark 0.0.0"), mismatch.getMessage)
    // the same call with the session's version pickles
    val (ver, command) = UdfSurface.picklePython(python, "f", LongType, body, spark.version)
    assert(ver.matches("""3\.\d+""") && command.nonEmpty)
  }

  test("router dispatches SQL, pipe-SQL, SET, CREATE FUNCTION") {
    Tables.registerAll(spark, sf)
    assert(GraftSql(spark, "SELECT count(*) AS n FROM region").collect().head.getLong(0) == 5L)
    assert(GraftSql(spark, "FROM region |> WHERE r_regionkey < 2 |> SELECT r_name").count() == 2)
    GraftSql(spark, "SET spark.sql.graft.test=hello")
    assert(spark.conf.get("spark.sql.graft.test") == "hello")
    GraftSql(spark, "CREATE FUNCTION tripled(x bigint) RETURNS bigint LANGUAGE sql AS $$ x * 3 $$")
    assert(spark.sql("SELECT tripled(14) AS v").collect().head.getLong(0) == 42L)
  }

  test("COPY csv into a temp view") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_copy").toFile
    val f = new java.io.File(tmp, "t.csv")
    java.nio.file.Files.writeString(f.toPath, "a|b\n1|x\n2|y\n")
    GraftSql(spark, s"COPY mytab FROM '${f.getAbsolutePath}' (FORMAT csv, DELIMITER '|', HEADER true)")
    val rows = spark.sql("SELECT * FROM mytab ORDER BY a").collect()
    assert(rows.length == 2 && rows.head.getInt(0) == 1 && rows.head.getString(1) == "x")
  }

  test("COPY appends into a declared-schema table; repeated COPY accumulates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_copy_append").toFile
    val f = new java.io.File(tmp, "rows.csv")
    java.nio.file.Files.writeString(f.toPath, "1,alpha\n2,Beta\n")
    spark.sql("DROP TABLE IF EXISTS copy_target")
    spark.sql("CREATE TABLE copy_target (id INT, name STRING) USING parquet")
    try {
      GraftSql(spark, s"COPY copy_target FROM '${f.getAbsolutePath}' (FORMAT csv)")
      GraftSql(spark, s"COPY copy_target FROM '${f.getAbsolutePath}' (FORMAT csv)")
      val rows = spark.sql("SELECT id, name FROM copy_target ORDER BY id, name").collect()
      assert(rows.length == 4)
      assert(rows.map(_.getInt(0)).toSeq == Seq(1, 1, 2, 2))
      // values keep their original case (option parsing must not uppercase them)
      assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "alpha", "Beta", "Beta"))
    } finally spark.sql("DROP TABLE IF EXISTS copy_target")
  }

  test("COPY bare HEADER flag means header=true") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_copy_hdr").toFile
    val f = new java.io.File(tmp, "h.csv")
    java.nio.file.Files.writeString(f.toPath, "a,b\n10,ten\n")
    GraftSql(spark, s"COPY hdrtab FROM '${f.getAbsolutePath}' (FORMAT csv, HEADER)")
    val rows = spark.sql("SELECT a, b FROM hdrtab").collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 10 && rows.head.getString(1) == "ten")
  }

  test("engine-side canonicalization: GraftSql alone handles mixed-outer aggregates") {
    // shapes from the reference's unnesting corpus (test/sqlite-small/
    // unnesting.test:205,336) that Catalyst rejects outright — the rewrite
    // must live in the engine front-end, not the test harness
    import spark.implicits._
    Seq(1, 2, 3).toDF("i").createOrReplaceTempView("canon_ints")
    val q1 = "SELECT i, (SELECT MIN(i+2*i1.i) FROM canon_ints) AS m FROM canon_ints i1 ORDER BY i"
    intercept[Exception](spark.sql(q1).collect()) // raw Catalyst can't
    val r1 = GraftSql(spark, q1).collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).longValue))
    assert(r1.toSeq == Seq((1, 3L), (2, 5L), (3, 7L)))
    val q2 = "SELECT (SELECT SUM(i)+SUM(i1.i) FROM canon_ints) AS s FROM canon_ints i1 ORDER BY 1"
    val r2 = GraftSql(spark, q2).collect().map(_.getAs[Number](0).longValue)
    assert(r2.toSeq == Seq(9L, 12L, 15L))
  }

  test("canonicalization: join-condition subqueries and deep division (unnesting.test tail)") {
    import spark.implicits._
    Seq(1, 2, 3).toDF("i").createOrReplaceTempView("canon_ints")
    // scalar subqueries on both sides of a join comparison: Spark never
    // executes subqueries pushed into hash-join keys
    val q1 = "SELECT * FROM canon_ints s1 INNER JOIN canon_ints s2 ON " +
      "(SELECT 2*SUM(i)*s1.i FROM canon_ints)=(SELECT SUM(i)*s2.i FROM canon_ints) ORDER BY s1.i"
    intercept[Exception](spark.sql(q1).collect())
    assert(GraftSql(spark, q1).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 2)))
    // correlated boolean select-list over two outer aliases
    val q2 = "SELECT * FROM canon_ints s1 INNER JOIN canon_ints s2 ON " +
      "(SELECT s1.i=i FROM canon_ints WHERE s2.i=i) ORDER BY s1.i"
    intercept[Exception](spark.sql(q2).collect())
    assert(GraftSql(spark, q2).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 1), (2, 2), (3, 3)))
    // relational division: correlation two scopes deep
    val q3 = "SELECT * FROM (VALUES (1),(2),(3)) s(m) WHERE NOT EXISTS (" +
      "SELECT * FROM (VALUES (2),(3)) v(n) WHERE NOT EXISTS (" +
      "SELECT * FROM (VALUES (1,2),(1,3),(2,2),(3,3)) h(m,n) WHERE h.m = s.m AND h.n = v.n))"
    intercept[Exception](spark.sql(q3).collect())
    assert(GraftSql(spark, q3).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("unsupported language rejected") {
    intercept[IllegalArgumentException](UdfSurface.execute(spark,
      "CREATE FUNCTION bad(x int) RETURNS int LANGUAGE cobol AS $$ x $$"))
  }
}
