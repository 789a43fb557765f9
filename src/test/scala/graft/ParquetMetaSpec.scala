package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.TimestampType

import graft.util.{ParquetMeta, PlanningSamples}

/** Tables and planning samples open from parquet footers in the driver
  * ([[ParquetMeta]]): no Spark job, and exactly what Spark's own read gives. */
class ParquetMetaSpec extends SparkSpec {

  private def ensureSuites(s: SparkSession): Unit = {
    graft.tpcds.Tpcds.ensure(s); graft.tpcds.Tpcxbb.ensure(s); graft.job.Job.ensure(s)
    graft.ssb.Ssb.ensure(s); graft.clickbench.Clickbench.ensure(s)
  }

  /** Every temp view of `s` with the root path of the parquet table under it. */
  private def viewRoots(s: SparkSession): Seq[(String, String)] =
    s.catalog.listTables().collect().toSeq.filter(_.isTemporary).map { t =>
      t.name -> s.table(t.name).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.head.toString
      }.getOrElse(fail(s"view ${t.name} is not a parquet table"))
    }.sortBy(_._1)

  test("a fresh session opens every suite table and Tables.all with no Spark job, as Spark infers them") {
    assume(graft.tpcds.TpcdsGen.Scale == 1 && graft.job.JobGen.Scale == 1 &&
      graft.clickbench.ClickbenchGen.Scale == 1,
      "past generator scale 1 the suites register ANALYZE'd catalog tables, which run jobs")
    ensureSuites(spark) // materializes the suite parquet once per machine
    val fresh = spark.newSession()
    val (loaded, jobs) = jobsDuring {
      ensureSuites(fresh)
      Tables.all.map(t => t -> Tables.load(fresh, sf, t))
    }
    assert(jobs == 0, s"registration started $jobs Spark job(s)")
    val views = viewRoots(fresh)
    assert(views.size >= 56, s"expected every suite table as a view, got ${views.size}")
    for ((name, root) <- views)
      assert(fresh.table(name).schema == spark.read.parquet(root).schema, name)
    for ((t, df) <- loaded)
      assert(df.schema == Tables.normalizeTs(spark.read.parquet(s"$sf/$t.parquet")).schema, t)
  }

  test("every suite sample equals Spark's read of its file, INT96 timestamps included") {
    val s = spark.newSession()
    ensureSuites(s)
    val samples = viewRoots(s).map {
      case (name, root) =>
        name -> PlanningSamples.of(spark, root).getOrElse(fail(s"$name has no sample"))
    }
    assert(samples.size >= 56, s"expected every suite table's sample, got ${samples.size}")
    for ((name, s) <- samples) {
      val want = spark.read.parquet(s.path)
      assert(s.schema == want.schema, name)
      val toRow = CatalystTypeConverters.createToScalaConverter(s.schema)
      assert(s.rows.toSeq.map(toRow(_).asInstanceOf[Row]) == want.collect().toSeq, name)
    }
    // ClickBench hits keeps its three timestamps as parquet INT96, which the
    // reader decodes only with int96AsTimestamp in its Hadoop conf
    val hits = samples.collectFirst { case ("cb_hits", s) => s }.get
    val footer = {
      val file = new java.io.File(hits.path).listFiles().filter(_.getName.endsWith(".parquet")).head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getPath), spark.sessionState.newHadoopConf()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    for (c <- Seq("EventTime", "ClientEventTime", "LocalEventTime")) {
      assert(footer.getType(Seq(c): _*).asPrimitiveType.getPrimitiveTypeName.name == "INT96", c)
      assert(hits.schema(c).dataType == TimestampType, c)
      assert(hits.rows.exists(r => !r.isNullAt(hits.schema.fieldIndex(c))), s"$c has no value")
    }
  }

  test("layouts outside the footer rule fall back to Spark's own inference and errors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pm_").toString
    // partitioned: the partition column comes from Spark's inference
    Seq((1L, "a"), (2L, "b")).toDF("v", "p").write.partitionBy("p").parquet(s"$dir/parted")
    assert(ParquetMeta.schema(spark, s"$dir/parted") == spark.read.parquet(s"$dir/parted").schema)
    // no data file: the same error as Spark's read
    new java.io.File(s"$dir/empty").mkdirs()
    def err(f: => Any): String = intercept[org.apache.spark.sql.AnalysisException](f).getCondition
    assert(err(ParquetMeta.schema(spark, s"$dir/empty")) == err(spark.read.parquet(s"$dir/empty")))
    assert(err(ParquetMeta.read(spark, s"$dir/missing")) == err(spark.read.parquet(s"$dir/missing")))
  }
}
