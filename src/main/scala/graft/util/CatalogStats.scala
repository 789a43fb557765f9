package graft.util

import org.apache.spark.sql.SparkSession

/** Catalog-table registration with CBO statistics for the scaled query
  * suites.
  *
  * At generator scale 1 the suites register plain temp views — fast, and
  * the gate queries don't need stats. Past toy size the views are a
  * scale-killer: Catalyst's cost-based join reorder only fires on catalog
  * tables WITH statistics, and without it TPC-DS q72 joins
  * catalog_sales⋈inventory on the item key alone — a ×(warehouses ×
  * inventory-weeks) row blowup per sale (measured: 137 s at scale 100,
  * 15 s after ANALYZE, the classic q72 plan trap). Registering the scaled
  * parquet dirs as unmanaged catalog tables and running ANALYZE (basic +
  * all-column ndv/min/max) is exactly what a real deployment does; the
  * in-memory catalog makes it a once-per-session cost, paid inside the
  * suite's one-time ensure(), never inside a measured run. The DDL's
  * column list comes from the parquet footer in the driver
  * ([[ParquetMeta.schema]], no Spark job); the two ANALYZE statements are
  * the jobs a registration runs.
  */
object CatalogStats {
  /** Register `name` as an unmanaged parquet table at `path` and ANALYZE
    * it (row count + all-column stats). Idempotent per session. */
  def registerAnalyzed(spark: SparkSession, name: String, path: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val schema = ParquetMeta.schema(spark, path).toDDL
      spark.sql(s"CREATE TABLE $name ($schema) USING parquet LOCATION '$path'")
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
    }
}
