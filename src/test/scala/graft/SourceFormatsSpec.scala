package graft

import graft.model.{Cube, Dimension, Metric, Selector}
import graft.query.{CubeQuery, Pred}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The cube layer is source-format agnostic: a Cube wraps ANY DataFrame,
  * so the same declaration runs over parquet, ORC, CSV, or JSON — and
  * keeps the format's native strengths (ORC gets predicate pushdown like
  * parquet; text formats don't, and the engine must not pretend they
  * do). At 100 TB the columnar formats are the real targets; the text
  * paths matter for landing zones and interchange.
  */
class SourceFormatsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  private def cubeOver(fact: org.apache.spark.sql.DataFrame) = Cube(
    name = "li_any", fact = fact,
    dimensions = Map("returnFlag" -> Dimension("returnFlag", col("l_returnflag"))),
    metrics = Map(
      "count" -> Metric.countAll("count"),
      "sumQty" -> Metric.sumOf("sumQty", col("l_quantity"))),
    selectors = Map("quantity" -> Selector("quantity", col("l_quantity"))))

  private def run(fact: org.apache.spark.sql.DataFrame) =
    CubeQuery(cubeOver(fact)).slice("f", "returnFlag")
      .measure("c", "count").measure("q", "sumQty")
      .when(Pred.gt("quantity", 25)).asc("f")
      .toDF.collect().map(_.toString).sorted

  test("one cube declaration over parquet, ORC, CSV, and JSON: identical results") {
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("graft_formats").toString
    base.write.orc(s"$dir/orc")
    base.write.option("header", "true").csv(s"$dir/csv")
    base.write.json(s"$dir/json")

    val expected = run(base)
    assert(expected.nonEmpty)
    assert(run(spark.read.orc(s"$dir/orc")).sameElements(expected))
    // schema-on-read for the text formats: CSV needs the types declared
    // (inference would read doubles fine here, but declared is the
    // contract); JSON infers doubles natively
    assert(run(spark.read.option("header", "true")
      .schema("l_returnflag STRING, l_quantity DOUBLE").csv(s"$dir/csv"))
      .sameElements(expected))
    assert(run(spark.read.json(s"$dir/json")).sameElements(expected))

    // ORC keeps predicate pushdown, like parquet: the selector must
    // reach the scan as a pushed filter
    val orcPlan = CubeQuery(cubeOver(spark.read.orc(s"$dir/orc")))
      .slice("f", "returnFlag").measure("c", "count")
      .when(Pred.gt("quantity", 25)).toDF
      .queryExecution.executedPlan.toString
    assert(orcPlan.contains("PushedFilters") && orcPlan.contains("l_quantity"),
      s"ORC scan lost pushdown:\n$orcPlan")
  }
}
