package graft

import graft.sqlsurface.UdfSurface

/** Statement-shaped `LANGUAGE c` bodies — the interpreter path (CInterp)
  * behind the Catalyst-macro fast path. The reference compiles these with
  * the system compiler (src/catalog/UDFImplementer.cpp); expected values
  * here are what the compiled C would produce. */
class CUdfSpec extends SparkSpec {

  private def define(ddl: String): Unit = { UdfSurface.execute(spark, ddl); () }
  private def sqlLong(q: String): Long = spark.sql(q).collect().head.getLong(0)

  test("for loop with accumulator (sum 0..n-1)") {
    define("""CREATE FUNCTION c_sumto(n int) RETURNS bigint LANGUAGE c AS $$
      long s = 0;
      for (int i = 0; i < n; i++) {
        s += i;
      }
      return s;
    $$""")
    assert(sqlLong("SELECT c_sumto(10) AS v") == 45L)
    assert(sqlLong("SELECT c_sumto(0) AS v") == 0L)
  }

  test("while loop: iterative gcd with parallel-free swap") {
    define("""CREATE FUNCTION c_gcd(a bigint, b bigint) RETURNS bigint LANGUAGE c AS $$
      while (b != 0) {
        long t = b;
        b = a % b;
        a = t;
      }
      return a < 0 ? -a : a;
    $$""")
    assert(sqlLong("SELECT c_gcd(48, 18) AS v") == 6L)
    assert(sqlLong("SELECT c_gcd(17, 5) AS v") == 1L)
  }

  test("nested loops, break and continue") {
    // count of i in [2, n] that are prime (trial division with break)
    define("""CREATE FUNCTION c_nprimes(n int) RETURNS int LANGUAGE c AS $$
      int count = 0;
      for (int i = 2; i <= n; i++) {
        bool prime = true;
        for (int d = 2; d * d <= i; d++) {
          if (i % d == 0) { prime = false; break; }
        }
        if (!prime) continue;
        count++;
      }
      return count;
    $$""")
    // primes up to 30: 2 3 5 7 11 13 17 19 23 29
    assert(spark.sql("SELECT c_nprimes(30) AS v").collect().head.getInt(0) == 10)
  }

  test("do-while, compound assignment, integer division semantics") {
    // digits of |n| via do-while (handles n = 0 correctly)
    define("""CREATE FUNCTION c_ndigits(n bigint) RETURNS int LANGUAGE c AS $$
      if (n < 0) n = -n;
      int d = 0;
      do {
        d++;
        n /= 10;
      } while (n > 0);
      return d;
    $$""")
    assert(spark.sql("SELECT c_ndigits(0) AS v").collect().head.getInt(0) == 1)
    assert(spark.sql("SELECT c_ndigits(-12345) AS v").collect().head.getInt(0) == 5)
  }

  test("float/int promotion, casts, libm functions") {
    define("""CREATE FUNCTION c_hyp(a double, b double) RETURNS double LANGUAGE c AS $$
      double s = a * a + b * b;
      return sqrt(s);
    $$""")
    assert(spark.sql("SELECT c_hyp(3.0, 4.0) AS v").collect().head.getDouble(0) == 5.0)
    define("""CREATE FUNCTION c_avgtrunc(a int, b int) RETURNS int LANGUAGE c AS $$
      int s = a + b;
      return s / 2;          /* C integer division truncates toward zero */
    $$""")
    assert(spark.sql("SELECT c_avgtrunc(-3, 0) AS v").collect().head.getInt(0) == -1)
  }

  test("strings: strlen/strcmp/char codes over a column") {
    import spark.implicits._
    define("""CREATE FUNCTION c_vowels(s varchar) RETURNS int LANGUAGE c AS $$
      int n = 0;
      for (int i = 0; i < strlen(s); i++) {
        int c = tolower(s[i]);
        if (c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u') n++;
      }
      return n;
    $$""")
    assert(spark.sql("SELECT c_vowels('Analytics') AS v").collect().head.getInt(0) == 3)
    assert(spark.sql("SELECT c_vowels('xyz') AS v").collect().head.getInt(0) == 0)
  }

  test("bitwise ops, hex literals, shifts (popcount)") {
    define("""CREATE FUNCTION c_popcount(x bigint) RETURNS int LANGUAGE c AS $$
      int n = 0;
      while (x != 0) {
        n += (int)(x & 0x1);
        x = x >> 1;
      }
      return n;
    $$""")
    assert(spark.sql("SELECT c_popcount(255) AS v").collect().head.getInt(0) == 8)
    assert(spark.sql("SELECT c_popcount(1024) AS v").collect().head.getInt(0) == 1)
  }

  test("null propagation and use over a table") {
    import spark.implicits._
    define("""CREATE FUNCTION c_collatz(n bigint) RETURNS int LANGUAGE c AS $$
      int steps = 0;
      while (n != 1) {
        if (n % 2 == 0) n /= 2;
        else n = 3 * n + 1;
        steps++;
      }
      return steps;
    $$""")
    Seq[java.lang.Long](6L, 27L, null).toDF("n").createOrReplaceTempView("c_nums")
    val got = spark.sql("SELECT c_collatz(n) AS v FROM c_nums ORDER BY v NULLS FIRST")
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
    assert(got == Seq(-1, 8, 111)) // collatz(6)=8, collatz(27)=111, null -> null
  }

  test("infinite loop hits the execution budget instead of hanging") {
    define("""CREATE FUNCTION c_spin(x int) RETURNS int LANGUAGE c AS $$
      while (true) { x = x + 1; }
      return x;
    $$""")
    val err = intercept[Exception] {
      spark.sql("SELECT c_spin(1) AS v").collect()
    }
    assert(err.getMessage.contains("budget") ||
      (err.getCause != null && err.getCause.getMessage.contains("budget")))
  }

  test("corpus expression bodies still take the macro path (constant-folds)") {
    define("CREATE OR REPLACE FUNCTION c_inc(x int) RETURNS int LANGUAGE c AS $$ return x+1; $$")
    val plan = spark.sql("SELECT c_inc(41) AS v").queryExecution.optimizedPlan.toString
    assert(plan.contains("42"), s"macro not folded: $plan")
  }

  test("ternary: `?:` is C's conditional, not a parse error") {
    define("CREATE OR REPLACE FUNCTION c_pos(x int) RETURNS int LANGUAGE c AS $$ return x > 0 ? 1 : 0; $$")
    assert(spark.sql("SELECT c_pos(5) AS a, c_pos(-2) AS b").collect().head.toSeq == Seq(1, 0))
  }

  test("logical and: `&&` yields C's 0/1, not a parse error") {
    define("CREATE OR REPLACE FUNCTION c_both(a int, b int) RETURNS int LANGUAGE c AS $$ return a > 0 && b > 0; $$")
    assert(spark.sql("SELECT c_both(1, 2) AS a, c_both(1, -1) AS b").collect().head.toSeq == Seq(1, 0))
  }

  test("logical or: `||` yields C's 0/1, not a string concatenation") {
    define("CREATE OR REPLACE FUNCTION c_either(a int, b int) RETURNS int LANGUAGE c AS $$ return a || b; $$")
    assert(spark.sql("SELECT c_either(2, 3) AS a, c_either(0, 0) AS b").collect().head.toSeq == Seq(1, 0))
  }

  test("int division in an expression body truncates before the double return") {
    define("CREATE OR REPLACE FUNCTION c_mid(a int, b int) RETURNS double LANGUAGE c AS $$ return (a + b) / 2; $$")
    assert(spark.sql("SELECT c_mid(1, 2) AS v").collect().head.getDouble(0) == 1.0)
  }

  test("char literal: 'a' is the int 97, not a string") {
    define("CREATE OR REPLACE FUNCTION c_isa(x int) RETURNS boolean LANGUAGE c AS $$ return x == 'a'; $$")
    assert(spark.sql("SELECT c_isa(97) AS a, c_isa(98) AS b").collect().head.toSeq == Seq(true, false))
  }

  // ---------------------------------------------- round 10: arrays + strings

  private def sqlStr(q: String): String = spark.sql(q).collect().head.getString(0)

  test("int array: digit histogram with brace init and index lvalues") {
    define("""CREATE FUNCTION c_maxdigit(n bigint) RETURNS int LANGUAGE c AS $$
      int h[10] = {0};
      if (n < 0) n = -n;
      do {
        h[n % 10]++;
        n /= 10;
      } while (n > 0);
      int best = 0;
      for (int d = 1; d < 10; d++) {
        if (h[d] >= h[best]) best = d;
      }
      return best;
    $$""")
    // 1223334444: digit 4 appears most
    assert(spark.sql("SELECT c_maxdigit(1223334444) AS v").collect().head.getInt(0) == 4)
    assert(spark.sql("SELECT c_maxdigit(0) AS v").collect().head.getInt(0) == 0)
  }

  test("char buffer: build a string by index, return buf converts to SQL string") {
    define("""CREATE FUNCTION c_rev(s varchar) RETURNS varchar LANGUAGE c AS $$
      char buf[256];
      int n = strlen(s);
      for (int i = 0; i < n; i++) {
        buf[i] = s[n - 1 - i];
      }
      buf[n] = '\0';
      return buf;
    $$""")
    assert(sqlStr("SELECT c_rev('spark') AS v") == "kraps")
    assert(sqlStr("SELECT c_rev('') AS v") == "")
  }

  test("strcpy/strcat/strncmp/strchr against compiled-C behavior") {
    define("""CREATE FUNCTION c_join(a varchar, b varchar) RETURNS varchar LANGUAGE c AS $$
      char buf[128];
      strcpy(buf, a);
      strcat(buf, "-");
      strcat(buf, b);
      if (strncmp(buf, "x", 1) == 0 && strchr(buf, '-') >= 0) {
        strcat(buf, "!");
      }
      return buf;
    $$""")
    assert(sqlStr("SELECT c_join('xa', 'b') AS v") == "xa-b!")
    assert(sqlStr("SELECT c_join('a', 'b') AS v") == "a-b")
  }

  test("sprintf: %d/%s/%c/%x, width and precision, literal %%") {
    define("""CREATE FUNCTION c_fmt(i bigint, s varchar, f double) RETURNS varchar LANGUAGE c AS $$
      char buf[128];
      sprintf(buf, "%05ld|%-4s|%c|%x|%.2f|100%%", i, s, 'Z', i, f);
      return buf;
    $$""")
    assert(sqlStr("SELECT c_fmt(42, 'ab', 3.14159) AS v") == "00042|ab  |Z|2a|3.14|100%")
  }

  test("char array initializer from a string literal, memset, array-to-string args") {
    define("""CREATE FUNCTION c_pad(n int) RETURNS varchar LANGUAGE c AS $$
      char buf[32] = "id=";
      char stars[16];
      memset(stars, '*', 15);
      stars[n] = '\0';
      strcat(buf, stars);
      return buf;
    $$""")
    assert(sqlStr("SELECT c_pad(3) AS v") == "id=***")
  }

  test("array index out of bounds raises instead of corrupting") {
    define("""CREATE FUNCTION c_oob(n int) RETURNS int LANGUAGE c AS $$
      int a[4] = {1, 2, 3, 4};
      return a[n];
    $$""")
    assert(spark.sql("SELECT c_oob(2) AS v").collect().head.getInt(0) == 3)
    val err = intercept[Exception](spark.sql("SELECT c_oob(9) AS v").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("out of bounds")), msgs(err).mkString("; "))
  }

  test("char-buffer overflow raises instead of smashing (the UB a sandbox must not have)") {
    define("""CREATE FUNCTION c_smash(s varchar) RETURNS varchar LANGUAGE c AS $$
      char buf[4];
      strcpy(buf, s);
      return buf;
    $$""")
    assert(sqlStr("SELECT c_smash('ab') AS v") == "ab")
    val err = intercept[Exception](spark.sql("SELECT c_smash('abcdef') AS v").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("overflows")), msgs(err).mkString("; "))
  }
}
