package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.util.Det._

/** Scalar-function surface (SURVEY §2.2/§2.3) — the reference's runtime
  * function registry (src/compiler/Dialect/DB/RuntimeFunctions/RuntimeFunctions.cpp:271-344)
  * re-expressed as Spark builtins, plus the two custom Catalyst expressions
  * (erf, rolling_hash) Spark lacks. All stay inside whole-stage codegen.
  */
object FunctionQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // String registry: Substring/ToUpper/ToLower/StringLength/Replace/
    // Concatenate/Contains/StringFind/Ord (RuntimeFunctions.cpp:276-288).
    "fn_string" -> ((s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 8).as("sub"),
          length(col("p_name")).cast("long").as("len"),
          regexp_replace(col("p_type"), " ", "_").as("repl"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("cat"),
          ascii(col("p_name")).cast("int").as("first_cp"),
          instr(col("p_name"), "a").cast("long").as("pos_a"),
          col("p_name").contains("o").as("has_o"),
          (instr(col("p_name"), "an") - 1).cast("long").as("py_find_an"))
        .orderBy("p_partkey")),

    // Like / ConstLike (RuntimeFunctions.cpp:291-292).
    "fn_like" -> ((s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          col("p_type").like("PRO%").as("is_promo"),
          col("p_type").like("%ED%").as("has_ed"),
          (!col("p_type").like("%O%")).as("no_o"),
          col("p_brand").startsWith("Brand#1").as("b1"),
          col("p_type").endsWith("M").as("ends_m"))
        .orderBy("p_partkey")),

    // RegexpReplace (RuntimeFunctions.cpp:290) + extract + match.
    "fn_regex" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(
          col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          col("c_name").rlike("[02468]$").as("even_end"))
        .orderBy("c_custkey")),

    // StringSplit (RuntimeFunctions.cpp:279) → db.list<string> → ArrayType.
    "fn_split" -> ((s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          element_at(split(col("text"), " "), 1).as("first_tok"),
          element_at(split(col("text"), " "), -1).as("last_tok"))
        .orderBy("doc_id")),

    // Date registry: Extract*/DateTrunc/DateDiff/DateAdd/DateSubtract
    // (RuntimeFunctions.cpp:316-330). Unioned edge rows (negative keys, so
    // they can't collide with data keys) exercise what the synthetic dates
    // don't: leap days (2000/2024), the non-leap century boundary, a
    // year-end rollover, and dates past 1999 (negative datediff).
    "fn_date" -> ((s, d) => {
      import s.implicits._
      val edge = Seq(
        (-5L, "2000-02-29 00:00:00"), (-4L, "1900-03-01 12:30:00"),
        (-3L, "1999-12-31 23:59:59"), (-2L, "2024-02-29 06:00:00"),
        (-1L, "2000-12-31 00:00:00"))
        .toDF("o_orderkey", "ds")
        .select(col("o_orderkey"), col("ds").cast("timestamp_ntz").as("o_orderdate"))
      t(s, d, "orders").filter(col("o_custkey") <= 50)
        .select(col("o_orderkey"), col("o_orderdate"))
        .unionByName(edge)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("m"),
          dayofmonth(col("o_orderdate")).cast("int").as("dom"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_99"),
          date_add(col("o_orderdate").cast("date"), 90).as("plus90"),
          last_day(col("o_orderdate").cast("date")).as("eom"))
        .orderBy("o_orderkey")
    }),

    // Math registry: Abs/Sqrt/Log/Exp/Sin/Cos/ASin (RuntimeFunctions.cpp:332-340).
    // Transcendentals rounded to 6 decimals — libm vs JDK may differ by 1 ulp.
    "fn_math" -> ((s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          abs(col("p_size") - 25).cast("long").as("abs_sz"),
          sqrt(col("p_size").cast("double")).as("sqrt_sz"),
          pow(col("p_size").cast("double"), 2).as("sq_sz"),
          (col("p_partkey") % 7).cast("long").as("mod7"),
          floor(col("p_retailprice")).cast("long").as("fl"),
          ceil(col("p_retailprice")).cast("long").as("ce"),
          round(log(col("p_retailprice")), 6).as("ln_p"),
          round(exp(col("p_size").cast("double") / 10.0), 6).as("exp_p"),
          round(sin(col("p_size").cast("double")), 6).as("sin_sz"),
          round(cos(col("p_size").cast("double")), 6).as("cos_sz"),
          round(asin(col("p_size").cast("double") / 50.0), 6).as("asin_sz"),
          signum(col("p_size") - 25).cast("int").as("sgn"),
          greatest(col("p_size"), lit(25)).cast("long").as("gr"),
          least(col("p_size"), lit(25)).cast("long").as("le"))
        .orderBy("p_partkey")),

    // Casts (db.cast, DBOps.td:547; string casts via runtime LowerToStd.cpp:300-372).
    // Edge columns target the synthetic-data risk the table rows can't reach:
    // max-precision decimal round-trip, HALF_UP decimal narrowing, decimal
    // addition precision inference, whitespace-trimmed numeric parse,
    // malformed parse (try_cast → NULL, both engines), int64 boundary, and
    // the date domain ends.
    "fn_cast" -> ((s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 100)
        .select(
          col("p_partkey"),
          lit("42").cast("long").as("s2i"),
          col("p_size").cast("string").as("i2s"),
          lit("3.5").cast("double").as("s2d"),
          col("p_size").cast("double").as("i2d"),
          lit("1998-03-15").cast("date").as("s2date"),
          lit("99999999999999999999999999999999999.999")
            .cast(DecimalType(38, 3)).cast("string").as("dec38"),
          lit("1.005").cast(DecimalType(10, 3)).cast(DecimalType(10, 2))
            .cast("string").as("dec_round"),
          (lit("2.5").cast(DecimalType(3, 1)) + lit("0.25").cast(DecimalType(3, 2)))
            .cast("string").as("dec_add"),
          lit(" -7.25 ").cast("double").as("s2d_trim"),
          expr("try_cast('oops' AS double)").as("bad2d"),
          lit("9223372036854775807").cast("long").as("maxlong"),
          // date domain ends, round-tripped back to strings: DATE values at
          // year 1/9999 overflow ns-resolution timestamp representations in
          // compare harnesses (pandas), so the hashed output must be the
          // engine-neutral string form — the string→date→string round-trip
          // still exercises the full date domain cast both ways
          lit("0001-01-01").cast("date").cast("string").as("dmin"),
          lit("9999-12-31").cast("date").cast("string").as("dmax"))
        .orderBy("p_partkey")),

    // CASE WHEN / COALESCE / NULLIF (sql_analyzer.cpp:2840; SURVEY §2.3).
    "fn_case" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") <= 300)
        .select(
          col("l_orderkey"), big(col("l_linenumber")).as("ln"),
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 40, "mid")
            .otherwise("high").as("band"),
          coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_or_neg1"))
        .orderBy("l_orderkey", "ln")),

    // BETWEEN / IN value list (db.between DBOps.td:501, db.oneof :511).
    "fn_between_in" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderdate").between(
          to_timestamp(lit("1997-01-01 00:00:00")), to_timestamp(lit("1997-03-31 00:00:00"))))
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey")),

    // JSON field extraction over the events.props payload column.
    "fn_json" -> ((s, d) =>
      t(s, d, "events").filter(col("event_id") <= 2000)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // Hash (RuntimeFunctions.cpp:341) — content hashes with portable semantics.
    "fn_hash" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          md5(col("c_name").cast("binary")).as("h_md5"),
          sha2(col("c_name").cast("binary"), 256).as("h_sha256"))
        .orderBy("c_custkey")),

    // Bitwise integer surface: and/or/xor/shifts/popcount (codegen builtins
    // both engines; shifts bounded so no overflow divergence).
    "fn_bitwise" -> ((s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") <= 10000)
        .select(col("o_orderkey"),
          expr("o_orderkey & o_custkey").as("band"),
          expr("o_orderkey | o_custkey").as("bor"),
          expr("o_orderkey ^ o_custkey").as("bxor"),
          expr("shiftleft(o_orderkey, 3)").as("shl"),
          expr("shiftright(o_orderkey, 2)").as("shr"),
          bit_count(col("o_orderkey")).cast("long").as("pop"))
        .orderBy("o_orderkey")),

    // erf — custom Catalyst expression (no DuckDB equivalent → rows-only).
    "fn_erf" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          GraftFunctions.erf(col("c_acctbal") / 10000.0).as("erf_bal"))
        .orderBy("c_custkey")),

    // RandomInRange (RuntimeFunctions.cpp:310) — nondeterministic → rows-only;
    // range + distribution contract locked by FunctionsSpec.
    "fn_random_range" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          GraftFunctions.random_in_range(lit(10), lit(20)).as("r"))
        .orderBy("c_custkey")),

    // CREATE FUNCTION ... LANGUAGE sql/c → Catalyst expression macro
    // (graft.sqlsurface.UdfSurface; reference udf.test surface).
    "fn_udf_macro" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_add_one(x int) RETURNS int LANGUAGE c AS $$ return x+1; $$")
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_scaled(x double, f double) RETURNS double LANGUAGE sql AS $$ x * f + 1.0 $$")
      t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          expr("graft_add_one(p_size)").cast("int").as("size1"),
          expr("graft_scaled(p_retailprice, 2.0)").as("scaled"))
        .orderBy("p_partkey")
    }),

    // statement-shaped C body (loops/mutation) → interpreter path
    // (graft.functions.CInterp; the reference compiles these via cc+dlopen,
    // UDFImplementer.cpp). Oracle: DuckDB's native gcd — semantics pinned
    // against the real math, not our own interpreter.
    "fn_c_udf_loop" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        """CREATE OR REPLACE FUNCTION graft_c_gcd(a bigint, b bigint) RETURNS bigint LANGUAGE c AS $$
          while (b != 0) {
            long t = b;
            b = a % b;
            a = t;
          }
          return a < 0 ? -a : a;
        $$""")
      t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          expr("graft_c_gcd(p_partkey, p_size)").as("g"))
        .orderBy("p_partkey")
    }),

    // string-BUILDING C body: local char buffers, a reverse loop over
    // array-element lvalues, sprintf — the round-10 CInterp surface
    // (arrays + the str*/sprintf libc family). Oracle: DuckDB printf +
    // reverse, so the semantics are pinned against real libc behavior.
    "fn_c_udf_string" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        """CREATE OR REPLACE FUNCTION graft_c_tag(id bigint, name varchar) RETURNS varchar LANGUAGE c AS $$
          char buf[160];
          char rev[80];
          int n = strlen(name);
          for (int i = 0; i < n; i++) {
            rev[i] = name[n - 1 - i];
          }
          rev[n] = '\0';
          sprintf(buf, "%ld:", id);
          strcat(buf, name);
          strcat(buf, ":");
          strcat(buf, rev);
          return buf;
        $$""")
      t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          expr("graft_c_tag(p_partkey, p_name)").as("tag"))
        .orderBy("p_partkey")
    }),

    // Python UDF on CPython (reference py_interp bridge; UdfSurface) — the
    // oracle replays the same arithmetic/string semantics in plain SQL
    "fn_py_udf" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_tax(x int) RETURNS int AS $$\n" +
          "def graft_py_tax(x):\n    t = 0\n    for i in range(1, 4):\n" +
          "        t = t + x * i\n    return t\n$$ LANGUAGE python")
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_shout(s varchar) RETURNS varchar AS $$\n" +
          "def graft_py_shout(s):\n    return s.upper()\n$$ LANGUAGE python")
      t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          expr("graft_py_tax(p_size)").as("tax6"),
          expr("graft_py_shout(p_brand)").as("brand_up"))
        .orderBy("p_partkey")
    }),

    // try/except + a lambda key= kwarg, with a full DuckDB oracle: the UDF
    // bodies compute SQL-expressible values, so the hash compare covers
    // them end to end — ZeroDivisionError handling replays as a CASE, the
    // lambda-keyed min as a correlated ORDER BY ... LIMIT 1 over the split
    // words.
    "fn_py_udf2" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_safediv(a bigint, b bigint) RETURNS bigint AS $$\n" +
          "def graft_py_safediv(a, b):\n" +
          "    try:\n        return a // b\n" +
          "    except ZeroDivisionError:\n        return -1\n$$ LANGUAGE python")
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_shortword(s varchar) RETURNS varchar AS $$\n" +
          "def graft_py_shortword(s):\n" +
          "    return min(s.split(' '), key=lambda w: (len(w), w))\n$$ LANGUAGE python")
      t(s, d, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          expr("graft_py_safediv(doc_id, doc_id % 5)").as("safe_q"),
          expr("graft_py_shortword(text)").as("shortest"))
        .orderBy("doc_id")
    }),

    // nested def + nonlocal closure, a yield generator and **kwargs in one
    // body whose result is SQL-expressible: sum of non-empty token lengths
    // ×100 + token count of split(' ')
    "fn_py_udf3" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_tokmetric(s varchar) RETURNS bigint AS $$\n" +
          "def graft_py_tokmetric(s, **opts):\n" +
          "    scale = opts.get('scale', 100)\n" +
          "    total = 0\n" +
          "    def add(n):\n" +
          "        nonlocal total\n" +
          "        total += n\n" +
          "    def lens(ws):\n" +
          "        for w in ws:\n" +
          "            if len(w) > 0:\n" +
          "                yield len(w)\n" +
          "    toks = s.split(' ')\n" +
          "    for L in lens(toks):\n" +
          "        add(L)\n" +
          "    return total * scale + len(toks)\n$$ LANGUAGE python")
      t(s, d, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"), expr("graft_py_tokmetric(text)").as("tok_metric"))
        .orderBy("doc_id")
    }),

    // functools.reduce (char-polynomial hash) and itertools.groupby
    // (consecutive-run count) — both replayed in DuckDB (list_reduce lambda
    // / list_filter over adjacent char pairs), so standard-library imports
    // are hash-checked end to end.
    "fn_py_udf4" -> ((s, d) => {
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_polyhash(s varchar) RETURNS bigint AS $$\n" +
          "from functools import reduce\n" +
          "def graft_py_polyhash(s):\n" +
          "    return reduce(lambda a, c: (a * 31 + ord(c)) % 1000000007, s, 7)\n" +
          "$$ LANGUAGE python")
      graft.sqlsurface.UdfSurface.execute(s,
        "CREATE OR REPLACE FUNCTION graft_py_runs(s varchar) RETURNS bigint AS $$\n" +
          "from itertools import groupby\n" +
          "def graft_py_runs(s):\n" +
          "    return len([k for k, g in groupby(s)])\n" +
          "$$ LANGUAGE python")
      t(s, d, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          expr("graft_py_polyhash(text)").as("poly_h"),
          expr("graft_py_runs(text)").as("runs"))
        .orderBy("doc_id")
    }),

    // rolling_hash — custom fingerprint expression, hash-checked against a
    // DuckDB replay of the same 61-bit polynomial (util.OracleSql.rollingFp).
    "fn_rolling_hash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), GraftFunctions.rolling_hash(col("text")).as("fp"))
        .orderBy("doc_id")),

    // db.dict surface (reference DBOps.td:148-159) → Spark MapType: build,
    // point lookup (element_at), key test, cardinality, key enumeration, a
    // value fold, and per-entry iteration via explode — the oracle replays
    // the same scalars in plain SQL (DuckDB's MAP returns list-wrapped
    // lookups, so a literal map-to-map compare would test DuckDB's wrapping,
    // not ours).
    "fn_map" -> ((s, d) => {
      val m = map(
        lit("sz"), col("p_size").cast("long"),
        lit("bkt"), pmod(col("p_partkey"), lit(7)))
      t(s, d, "part").filter(col("p_partkey") <= 300)
        .withColumn("m", m)
        .select(col("p_partkey"), col("m"), explode(col("m")).as(Seq("mk", "mv")))
        .select(col("p_partkey"), col("mk"), col("mv"),
          element_at(col("m"), lit("sz")).as("v_sz"),
          map_contains_key(col("m"), lit("bkt")).as("has_bkt"),
          size(col("m")).as("n_keys"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("ks"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("total"))
        .orderBy("p_partkey", "mk")
    })
  )

  val oracle: Map[String, String] = Map(
    "fn_string" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
                substring(p_name, 1, 8) AS sub, CAST(length(p_name) AS BIGINT) AS len,
                replace(p_type, ' ', '_') AS repl,
                p_brand || '/' || p_type AS cat,
                CAST(ascii(p_name) AS INTEGER) AS first_cp,
                CAST(instr(p_name, 'a') AS BIGINT) AS pos_a,
                contains(p_name, 'o') AS has_o,
                CAST(instr(p_name, 'an') - 1 AS BIGINT) AS py_find_an
         FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""",
    "fn_like" ->
      """SELECT p_partkey, p_type LIKE 'PRO%' AS is_promo, p_type LIKE '%ED%' AS has_ed,
                p_type NOT LIKE '%O%' AS no_o,
                p_brand LIKE 'Brand#1%' AS b1, p_type LIKE '%M' AS ends_m
         FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""",
    "fn_regex" ->
      """SELECT c_custkey, regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
                regexp_extract(c_name, '([0-9]+)', 1) AS digits,
                regexp_matches(c_name, '[02468]$') AS even_end
         FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""",
    "fn_split" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                string_split(text, ' ')[1] AS first_tok,
                string_split(text, ' ')[-1] AS last_tok
         FROM documents ORDER BY doc_id""",
    "fn_date" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderdate FROM orders WHERE o_custkey <= 50
           UNION ALL
           SELECT * FROM (VALUES
             (CAST(-5 AS BIGINT), TIMESTAMP '2000-02-29 00:00:00'),
             (CAST(-4 AS BIGINT), TIMESTAMP '1900-03-01 12:30:00'),
             (CAST(-3 AS BIGINT), TIMESTAMP '1999-12-31 23:59:59'),
             (CAST(-2 AS BIGINT), TIMESTAMP '2024-02-29 06:00:00'),
             (CAST(-1 AS BIGINT), TIMESTAMP '2000-12-31 00:00:00')) v(o_orderkey, o_orderdate))
         SELECT o_orderkey, CAST(extract(year FROM o_orderdate) AS INTEGER) AS y,
                CAST(extract(month FROM o_orderdate) AS INTEGER) AS m,
                CAST(extract(day FROM o_orderdate) AS INTEGER) AS dom,
                CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_99,
                CAST(o_orderdate AS DATE) + 90 AS plus90,
                last_day(CAST(o_orderdate AS DATE)) AS eom
         FROM base ORDER BY o_orderkey""",
    "fn_math" ->
      """SELECT p_partkey, CAST(abs(p_size - 25) AS BIGINT) AS abs_sz,
                sqrt(CAST(p_size AS DOUBLE)) AS sqrt_sz,
                pow(CAST(p_size AS DOUBLE), 2) AS sq_sz,
                CAST(p_partkey % 7 AS BIGINT) AS mod7,
                CAST(floor(p_retailprice) AS BIGINT) AS fl,
                CAST(ceil(p_retailprice) AS BIGINT) AS ce,
                round(ln(p_retailprice), 6) AS ln_p,
                round(exp(CAST(p_size AS DOUBLE) / 10.0), 6) AS exp_p,
                round(sin(CAST(p_size AS DOUBLE)), 6) AS sin_sz,
                round(cos(CAST(p_size AS DOUBLE)), 6) AS cos_sz,
                round(asin(CAST(p_size AS DOUBLE) / 50.0), 6) AS asin_sz,
                CAST(sign(p_size - 25) AS INTEGER) AS sgn,
                CAST(greatest(p_size, 25) AS BIGINT) AS gr,
                CAST(least(p_size, 25) AS BIGINT) AS le
         FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""",
    "fn_cast" ->
      """SELECT p_partkey, CAST('42' AS BIGINT) AS s2i, CAST(p_size AS VARCHAR) AS i2s,
                CAST('3.5' AS DOUBLE) AS s2d, CAST(p_size AS DOUBLE) AS i2d,
                CAST('1998-03-15' AS DATE) AS s2date,
                CAST(CAST('99999999999999999999999999999999999.999' AS DECIMAL(38,3)) AS VARCHAR) AS dec38,
                CAST(CAST(round(CAST('1.005' AS DECIMAL(10,3)), 2) AS DECIMAL(10,2)) AS VARCHAR) AS dec_round,
                CAST(CAST('2.5' AS DECIMAL(3,1)) + CAST('0.25' AS DECIMAL(3,2)) AS VARCHAR) AS dec_add,
                CAST(' -7.25 ' AS DOUBLE) AS s2d_trim,
                TRY_CAST('oops' AS DOUBLE) AS bad2d,
                CAST('9223372036854775807' AS BIGINT) AS maxlong,
                CAST(CAST('0001-01-01' AS DATE) AS VARCHAR) AS dmin,
                CAST(CAST('9999-12-31' AS DATE) AS VARCHAR) AS dmax
         FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""",
    "fn_case" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
                CASE WHEN l_quantity < 10 THEN 'low'
                     WHEN l_quantity < 40 THEN 'mid' ELSE 'high' END AS band,
                coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_neg1
         FROM lineitem WHERE l_orderkey <= 300 ORDER BY l_orderkey, ln""",
    "fn_between_in" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00'
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')
         ORDER BY o_orderkey""",
    "fn_json" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
         FROM events WHERE event_id <= 2000 ORDER BY event_id""",
    "fn_udf_macro" ->
      """SELECT p_partkey, CAST(p_size + 1 AS INTEGER) AS size1,
                p_retailprice * 2.0 + 1.0 AS scaled
         FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
    "fn_c_udf_loop" ->
      """SELECT p_partkey, gcd(p_partkey, CAST(p_size AS BIGINT)) AS g
         FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
    "fn_c_udf_string" ->
      """SELECT p_partkey, printf('%d:%s:%s', p_partkey, p_name, reverse(p_name)) AS tag
         FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
    "fn_py_udf3" ->
      """SELECT doc_id,
                CAST(length(replace(text, ' ', '')) AS BIGINT) * 100
                  + (length(text) - length(replace(text, ' ', '')) + 1) AS tok_metric
         FROM documents WHERE doc_id <= 200 ORDER BY doc_id""",
    "fn_py_udf4" ->
      """SELECT doc_id,
                CASE WHEN length(text) = 0 THEN CAST(7 AS BIGINT)
                     ELSE list_reduce(
                            list_prepend(CAST(7 AS BIGINT),
                              list_transform(string_split(text, ''),
                                x -> CAST(ord(x) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007) END AS poly_h,
                CAST(CASE WHEN length(text) = 0 THEN 0
                          ELSE 1 + length(list_filter(range(2, length(text) + 1),
                                 i -> text[i] <> text[i-1])) END AS BIGINT) AS runs
         FROM documents WHERE doc_id <= 200 ORDER BY doc_id""",
    "fn_py_udf" ->
      """SELECT p_partkey, CAST(p_size * 6 AS INTEGER) AS tax6,
                upper(p_brand) AS brand_up
         FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
    "fn_py_udf2" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 5 = 0 THEN -1
                     ELSE CAST(doc_id // (doc_id % 5) AS BIGINT) END AS safe_q,
                (SELECT w FROM unnest(string_split(text, ' ')) AS t(w)
                 ORDER BY length(w), w LIMIT 1) AS shortest
         FROM documents WHERE doc_id <= 200 ORDER BY doc_id""",
    "fn_hash" ->
      """SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256
         FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""",
    "fn_rolling_hash" ->
      s"""SELECT doc_id, fp FROM (${graft.util.OracleSql.rollingFp("text")}) t
          ORDER BY doc_id""",
    "fn_bitwise" ->
      """SELECT o_orderkey,
                o_orderkey & o_custkey AS band,
                o_orderkey | o_custkey AS bor,
                xor(o_orderkey, o_custkey) AS bxor,
                o_orderkey << 3 AS shl,
                o_orderkey >> 2 AS shr,
                CAST(bit_count(o_orderkey) AS BIGINT) AS pop
         FROM orders WHERE o_orderkey <= 10000 ORDER BY o_orderkey""",
    "fn_map" ->
      """WITH p AS (
           SELECT p_partkey, CAST(p_size AS BIGINT) AS sz, p_partkey % 7 AS bkt
           FROM part WHERE p_partkey <= 300),
         e AS (
           SELECT p_partkey, 'bkt' AS mk, bkt AS mv, sz, bkt FROM p
           UNION ALL
           SELECT p_partkey, 'sz' AS mk, sz AS mv, sz, bkt FROM p)
         SELECT p_partkey, mk, mv,
                sz AS v_sz, TRUE AS has_bkt, CAST(2 AS INTEGER) AS n_keys,
                'bkt,sz' AS ks, sz + bkt AS total
         FROM e ORDER BY p_partkey, mk"""
  )
}
