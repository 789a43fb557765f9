package graft

import graft.sqlsurface.{GraftSql, PipeSql}

class PipeSqlSpec extends SparkSpec {

  private def run(q: String) = {
    Tables.registerAll(spark, sf)
    PipeSql.sql(spark, q)
  }

  test("values head with select/drop/extend/set") {
    val df = run(
      """FROM (VALUES (1, 1), (2, 2), (3, 3)) AS t(x, y)
        ||> SELECT *
        ||> EXTEND x + y AS s
        ||> SET y = y * 10
        ||> DROP x
        ||> ORDER BY s""".stripMargin)
    assert(df.columns.toSeq == Seq("y", "s"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((10, 2), (20, 4), (30, 6)))
  }

  test("where + join + aggregate group by") {
    val df = run(
      """FROM nation
        ||> JOIN region ON n_regionkey = r_regionkey
        ||> WHERE r_name = 'ASIA'
        ||> AGGREGATE count(*) AS n GROUP BY r_name
        ||> LIMIT 5""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n") == 5L)
  }

  test("union all with nested pipe") {
    val df = run(
      """FROM region
        ||> SELECT r_name
        ||> UNION ALL (FROM region |> SELECT r_name)""".stripMargin)
    assert(df.count() == 10)
  }

  test("plain select head still works") {
    val df = run("SELECT 1 AS one |> EXTEND one + 1 AS two")
    assert(df.collect().head.getInt(1) == 2)
  }

  test("unsupported operator raises") {
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      run("FROM region |> FROBNICATE x"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("WHERE on a one-column table without an alias filters") {
    spark.sql("SELECT * FROM VALUES (true), (false) AS t(b)").createOrReplaceTempView("flags")
    try assert(run("FROM flags |> WHERE b").count() == 1)
    finally spark.catalog.dropTempView("flags")
  }

  test("SELECT head with its own WHERE clause") {
    val df = run(
      "SELECT r_name, r_regionkey FROM region WHERE r_regionkey < 3 |> WHERE r_regionkey > 0")
    assert(df.collect().map(_.getString(0)).toSet == Set("AMERICA", "ASIA"))
  }

  test("pipe stages are canonicalized like classic SQL") {
    val sub = "r_regionkey = ANY (SELECT n_regionkey FROM nation WHERE n_nationkey < 3)"
    val classic = GraftSql(spark, s"SELECT * FROM region WHERE $sub").collect().toSet
    assert(classic.nonEmpty && run(s"FROM region |> WHERE $sub").collect().toSet == classic)
    assert(run("FROM region |> WHERE EXISTS (SELECT 1, 2)").count() == 5)
    assert(run("FROM region |> SELECT r_name |> UNION ALL (SELECT 'x')").count() == 6)
    assert(run("FROM region |> ORDER BY r_regionkey |> INNER JOIN nation " +
      "ON n_regionkey = r_regionkey AND n_regionkey = (SELECT 1)").count() == 5)
  }

  test("WHERE after a windowed SELECT filters the window's output") {
    val df = run(
      "FROM VALUES (1), (2), (3) AS t(x) |> SELECT x, rank() OVER (ORDER BY x) AS r |> WHERE x > 1")
    assert(rows(df.orderBy("x")) == Seq(Seq(2, 2), Seq(3, 3)))
  }

  test("RIGHT JOIN after WHERE keeps the unmatched right rows") {
    val df = run(
      "FROM VALUES (1), (2) AS a(x) |> WHERE x = 1 |> RIGHT JOIN VALUES (1), (2) AS b(y) ON x = y")
    assert(rows(df.orderBy("y")) == Seq(Seq(1, 1), Seq(null, 2)))
  }

  test("WHERE naming a SELECT alias runs after the SELECT") {
    assert(run("FROM region |> SELECT r_regionkey + 1 AS b |> WHERE b > 2").count() == 3)
  }

  test("AGGREGATE naming an EXTEND alias reads the extended rows") {
    val df = run("FROM region |> EXTEND r_regionkey * 2 AS k2 |> AGGREGATE sum(k2) AS s")
    assert(rows(df) == Seq(Seq(20L)))
  }

  test("pipe queries leave no temp view behind") {
    Seq("pipe_filter_agg", "pipe_extend_set_drop", "pipe_setop").foreach { q =>
      assert(sqlsurface.PipeSqlQueries.queries(q)(spark, sf).count() > 0, q)
    }
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith("__pipe_")))
  }
}
