package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.cubes.Cubes
import graft.query.{CubeQuery, Pred}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** The one session factory every main and spec builds through:
    * `local[cpus]` with as many shuffle partitions, UTC session time,
    * no UI, WARN logging. On a JVM that already has a session,
    * `getOrCreate` returns it and re-applies the runtime SQL settings. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises the whole engine: slices + sub-field, conditional metric,
    * predicate, sort, limit.
    */
  def entry(spark: SparkSession): DataFrame =
    CubeQuery(Cubes.lineitemCube(spark, "/root/testdata/sf0.001"))
      .slice("return_flag", "returnFlag")
      .slice("ship_year", "shipDate", "year")
      .measure("cnt", "count")
      .measure("amount", "amount")
      .measureWhen("cnt_hiqty", "count", Pred.gt("quantity", 25))
      .when(Pred.between("shipDate", "1995-01-01", "2001-12-31"))
      .desc("cnt")
      .limit(20)
      .toDF

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = graft.queries.Registry.oracleSql
}
