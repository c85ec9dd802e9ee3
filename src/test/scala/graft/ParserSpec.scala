package graft

import graft.cubes.Cubes
import graft.model.CubeQueryException
import graft.parse.QueryParser
import graft.respond.Renest
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ParserSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  private def cube = Cubes.lineitemCube(spark, sf)

  test("V1: unknown field name raises") {
    val e = intercept[CubeQueryException](QueryParser.parse(cube,
      """{"fields": [{"name": "frobnicate"}]}"""))
    assert(e.getMessage.contains("neither metric nor dimension"))
  }

  test("V5: _aq. injection in argument values raises") {
    val e = intercept[CubeQueryException](QueryParser.parse(cube,
      """{"args": {"returnFlag": {"eq": "_aq.count"}},
         "fields": [{"name": "count"}]}"""))
    assert(e.getMessage.contains("_aq."))
  }

  test("V4: unknown argument raises") {
    val e = intercept[CubeQueryException](QueryParser.parse(cube,
      """{"args": {"bogusSel": {"eq": 1}}, "fields": [{"name": "count"}]}"""))
    assert(e.getMessage.contains("unknown argument"))
  }

  test("R8: union without __typename raises; with it, literal is emitted") {
    val e = intercept[CubeQueryException](QueryParser.parse(cube,
      """{"fields": [{"name": "shipDate", "union": true,
          "fields": [{"name": "year"}]}]}"""))
    assert(e.getMessage.contains("__typename"))

    val ok = QueryParser.parse(cube,
      """{"fields": [
           {"name": "returnFlag"},
           {"name": "shipDate", "union": true,
            "fields": [{"name": "__typename"}, {"name": "year"}]},
           {"name": "count"}]}""")
    val nested = Renest.nest(ok.query.toDF, ok.root, typeNameValue = "ShipDate")
    val row = nested.select("shipDate.__typename").distinct().collect()
    assert(row.map(_.getString(0)).toSeq == Seq("ShipDate"))
  }

  test("plan-backed overlap metric dispatches through the parsed front door") {
    val events = Cubes.eventsCube(spark, sf)
    val p = QueryParser.parse(events,
      """{ "fields": [
           {"name": "arm"},
           {"name": "viewPurchaseOverlap", "alias": "ov"}],
           "args": { "options": {"asc": "arm"} } }""")
    val rows = p.query.toDF.collect()
    assert(rows.length == 4) // 4 experiment arms
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.exists(_.getDouble(1) > 0))
  }

  test("R8: per-row discriminator resolves __typename from the row; onType gates fields") {
    val events = Cubes.eventsCube(spark, sf)
    val p = QueryParser.parse(events,
      """{ "union": true,
           "discriminator": {"on": "etype",
             "mapping": {"purchase": "PurchaseStats", "signup": "SignupStats"},
             "default": "EventStats"},
           "args": { "options": {"asc": "etype"} },
           "fields": [
             {"name": "__typename"},
             {"name": "eventType", "alias": "etype"},
             {"name": "count", "alias": "cnt"},
             {"name": "sumValue", "alias": "revenue", "onType": "PurchaseStats"},
             {"name": "avgValue", "alias": "avg_val", "onType": "SignupStats"}] }""")
    val rows = Renest.nest(p.query.toDF, p.root).collect()
    assert(rows.nonEmpty)
    val byType = rows.map(r => r.getString(1) -> r).toMap
    // mapping hit
    assert(byType("purchase").getString(0) == "PurchaseStats")
    assert(byType("signup").getString(0) == "SignupStats")
    // default fallback for unmapped member values
    assert(byType("click").getString(0) == "EventStats")
    // onType: populated on own member rows, NULL elsewhere
    assert(!byType("purchase").isNullAt(3) && byType("purchase").isNullAt(4))
    assert(!byType("signup").isNullAt(4) && byType("signup").isNullAt(3))
    assert(byType("click").isNullAt(3) && byType("click").isNullAt(4))
  }

  test("R8: discriminator on a sub-element varies the nested __typename per row") {
    val p = QueryParser.parse(cube,
      """{"fields": [
           {"name": "returnFlag", "alias": "flag"},
           {"name": "shipDate", "union": true,
            "discriminator": {"on": "flag",
              "mapping": {"R": "ReturnedShipDate"}},
            "fields": [{"name": "__typename"}, {"name": "year"}]},
           {"name": "count"}]}""")
    val nested = Renest.nest(p.query.toDF, p.root, typeNameValue = "ShipDate")
    val tn = nested.select("flag", "shipDate.__typename").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tn("R") == "ReturnedShipDate")
    // no default in the discriminator => unmapped rows fall back to the
    // constant typeNameValue
    assert(tn("N") == "ShipDate" && tn("A") == "ShipDate")
  }

  test("R3: three-level nesting — chained sub-field paths re-nest as struct of struct") {
    val p = QueryParser.parse(cube,
      """{"args": { "options": {"asc": "flag"} },
          "fields": [
           {"name": "returnFlag", "alias": "flag"},
           {"name": "shipDate", "alias": "sd", "fields": [
              {"name": "date", "alias": "d", "fields": [
                 {"name": "year"}, {"name": "month"}]}]},
           {"name": "count", "alias": "cnt"}]}""")
    val nested = Renest.nest(p.query.toDF, p.root)
    assert(nested.schema("sd").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val rows = nested.select("flag", "sd.d.year", "sd.d.month", "cnt").collect()
    assert(rows.nonEmpty)
    // chained resolution == applying year/month to the cast date directly
    val direct = graft.cubes.Tables.lineitem(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.year(
          org.apache.spark.sql.functions.col("l_shipdate").cast("date")).as("y"),
        org.apache.spark.sql.functions.month(
          org.apache.spark.sql.functions.col("l_shipdate").cast("date")).as("m"))
      .count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet == direct)
  }

  test("R8: discriminator 'on' must be a result column (validated, not AnalysisException)") {
    val p = QueryParser.parse(cube,
      """{ "union": true,
           "discriminator": {"on": "no_such_col", "mapping": {"R": "T"}},
           "fields": [
             {"name": "__typename"},
             {"name": "returnFlag", "alias": "flag"},
             {"name": "count"}] }""")
    val e = intercept[CubeQueryException](Renest.nest(p.query.toDF, p.root))
    assert(e.getMessage.contains("no_such_col"))
  }

  test("aliases make distinct columns; duplicate names collapse (R4)") {
    val p = QueryParser.parse(cube,
      """{"fields": [
           {"name": "count", "alias": "all_rows"},
           {"name": "count", "alias": "all_rows"},
           {"name": "count", "alias": "again"}]}""")
    assert(p.query.measures.map(_._1) == Seq("all_rows", "again"))
  }

  test("JSON null prunes non-nullable ops, keeps eq as IS NULL") {
    val pruned = QueryParser.parse(cube,
      """{"args": {"quantity": {"gt": null}}, "fields": [{"name": "count"}]}""")
    assert(pruned.query.toDF.collect()(0).getLong(0) > 0) // unfiltered

    val isNull = QueryParser.parse(cube,
      """{"args": {"returnFlag": {"eq": null}}, "fields": [{"name": "count"}]}""")
    assert(isNull.query.toDF.collect()(0).getLong(0) == 0) // no null flags
  }

  test("snake_case operators camelize (not_eq == notEq)") {
    val a = QueryParser.parse(cube,
      """{"args": {"quantity": {"not_eq": 7}}, "fields": [{"name": "count"}]}""")
    val b = QueryParser.parse(cube,
      """{"args": {"quantity": {"notEq": 7}}, "fields": [{"name": "count"}]}""")
    assert(a.query.toDF.collect()(0).getLong(0) == b.query.toDF.collect()(0).getLong(0))
  }

  test("R6: Boolean type hint converts 1/0 to real booleans at the edge") {
    // a ClickHouse-shaped cube: boolean exposed as 0/1 int dimension
    import org.apache.spark.sql.functions._
    val base = cube
    val withBool = base.copy(dimensions = base.dimensions +
      ("isReturned" -> graft.model.Dimension("isReturned",
        when(col("l_returnflag") === "R", 1).otherwise(0))))
    val p = QueryParser.parse(withBool,
      """{"fields": [
           {"name": "isReturned", "type": "Boolean"},
           {"name": "count", "alias": "cnt"}]}""")
    val rows = Renest.nest(p.query.toDF, p.root).collect()
    assert(rows.map(_.getBoolean(0)).toSet == Set(true, false))
  }

  test("parser drives a multi-fact cube: merged compile through the front door") {
    val sales = Cubes.salesCube(spark, sf)
    val parsed = QueryParser.parse(sales,
      """{ "args": { "options": {"asc": "yr"} },
           "fields": [
             {"name": "year", "alias": "yr"},
             {"name": "lineCount", "alias": "lc"},
             {"name": "orderRevenue", "alias": "rev"}] }""")
    val viaParser = parsed.query.toDF.collect().map(_.toString).sorted
    val direct = graft.query.CubeQuery(sales)
      .slice("yr", "year").measure("lc", "lineCount").measure("rev", "orderRevenue")
      .asc("yr").toDF.collect().map(_.toString).sorted
    assert(viaParser.nonEmpty && viaParser.sameElements(direct))
    // both columns populated in at least one row => genuinely merged
    val rows = parsed.query.toDF.collect()
    assert(rows.exists(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("multi-fact merge generalizes to THREE sources (pairwise full-outer fold)") {
    import org.apache.spark.sql.functions._
    import graft.model._
    val li = graft.cubes.Tables.lineitem(spark, sf)
    def src(name: String, metrics: Set[String], cost: Int) = CubeSource(
      name, li, servesDimensions = Set("year"), servesMetrics = metrics, cost = cost)
    val tri = Cube(
      name = "tri", fact = li,
      dimensions = Map("year" -> Dimension("year", year(col("l_shipdate")))),
      metrics = Map(
        "cnt" -> Metric.countAll("cnt"),
        "qty" -> Metric.sumOf("qty", col("l_quantity")),
        "maxp" -> Metric.maxOf("maxp", col("l_extendedprice"))),
      selectors = Map("year" -> Selector("year", year(col("l_shipdate")))),
      altSources = Seq(
        src("a", Set("cnt"), 1), src("b", Set("qty"), 2), src("c", Set("maxp"), 3)))
    val merged = graft.query.CubeQuery(tri).slice("yr", "year")
      .measure("cnt", "cnt").measure("qty", "qty").measure("maxp", "maxp")
      .asc("yr").toDF
    val direct = li.groupBy(year(col("l_shipdate")).as("yr"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"),
        max("l_extendedprice").as("maxp"))
      .orderBy("yr")
    assert(merged.collect().map(_.toString) sameElements direct.collect().map(_.toString))
    // genuinely a 3-way merge: two full-outer joins in the plan
    val joins = merged.queryExecution.optimizedPlan.toString
      .linesIterator.count(l => l.contains("Join FullOuter"))
    assert(joins == 2, s"expected 2 full-outer joins, saw $joins")
  }

  test("metric args dispatch onto the metric: topParts size + FILTER selector") {
    import org.apache.spark.sql.functions.col
    // size arg reaches the metric; quantity arg becomes a FILTER pred
    val p = QueryParser.parse(cube,
      """{"fields": [
           {"name": "returnFlag", "alias": "flag"},
           {"name": "topParts", "alias": "tp",
            "args": {"size": 2, "quantity": {"gt": 25}}}],
         "args": {"options": {"asc": "flag"}}}""")
    val rows = p.query.toDF.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val arr = r.getSeq[org.apache.spark.sql.Row](1)
      assert(arr.size <= 2) // size arg applied
    }
    // equals the exact two-phase operator under the same FILTER
    val exact = graft.operators.TopK.perGroupTuples(
        graft.cubes.Tables.lineitem(spark, sf).filter(col("l_quantity") > 25),
        Seq("flag" -> col("l_returnflag")), col("l_partkey"), 2)
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1))))
      .toMap
    rows.foreach { r =>
      val got = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))
      assert(got == exact(r.getString(0)))
    }
  }

  test("option values beyond Int range error cleanly (no silent wraparound)") {
    // optionValue keeps the Long; applying it as `limit` errors during parse
    val e = intercept[CubeQueryException](QueryParser.parse(cube,
      s"""{"args": {"options": {"limit": ${1L + Int.MaxValue}}},
           "fields": [{"name": "count"}]}"""))
    assert(e.getMessage.contains("exceeds integer range"))
  }

  test("V5: _aq. injection guard also covers option/metric-arg strings") {
    val e = intercept[CubeQueryException](QueryParser.parse(cube,
      """{"args": {"options": {"desc": "_aq.cnt"}},
         "fields": [{"name": "count", "alias": "cnt"}]}"""))
    assert(e.getMessage.contains("_aq."))
  }

  test("topParts capacity is a metric arg: tiny capacity still returns k rows") {
    // capacity bounds the sketch, not the output: with capacity=4 over
    // 200 distinct parts the counts are approximate but the shape holds
    val p = QueryParser.parse(cube,
      """{"fields": [
           {"name": "returnFlag", "alias": "flag"},
           {"name": "topParts", "alias": "tp", "args": {"size": 2, "capacity": 4}}],
         "args": {"options": {"asc": "flag"}}}""")
    val rows = p.query.toDF.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[org.apache.spark.sql.Row](1).size <= 2))
  }

  test("unknown metric argument raises (V4 on metrics)") {
    val p = QueryParser.parse(cube,
      """{"fields": [{"name": "topParts", "args": {"bogus": 9}}]}""")
    val e = intercept[CubeQueryException](p.query.toDF)
    assert(e.getMessage.contains("takes no argument 'bogus'"))
  }

  test("fractional + integer metric args parse and dispatch: semanticSurvivors, packedBins") {
    // fractional arg (threshold 0.9 → no pairs qualify → zero drops)
    val emb = Cubes.embeddingsCube(spark, sf)
    val r = QueryParser.parse(emb,
      """{"fields": [
           {"name": "vectors"},
           {"name": "semanticSurvivors", "alias": "sv",
            "args": {"threshold": 0.9, "nLists": 1}}]}""").query.toDF.collect()(0)
    assert(r.getLong(0) == r.getLong(1),
      "at threshold 0.9 nothing drops: survivors == corpus size")
    // unknown arg raises on both new metrics (V4)
    val e1 = intercept[CubeQueryException](QueryParser.parse(emb,
      """{"fields": [{"name": "semanticSurvivors", "args": {"bogus": 1}}]}""")
      .query.toDF)
    assert(e1.getMessage.contains("takes no argument 'bogus'"))
    val docs = Cubes.documentsCube(spark, sf)
    val e2 = intercept[CubeQueryException](QueryParser.parse(docs,
      """{"fields": [{"name": "packedBins", "args": {"cap": 64}}]}""")
      .query.toDF)
    assert(e2.getMessage.contains("takes no argument 'cap'"))
    // invalid capacity errors cleanly, not at execution
    val e3 = intercept[CubeQueryException](QueryParser.parse(docs,
      """{"fields": [{"name": "packedBins", "args": {"maxTokens": 0}}]}""")
      .query.toDF)
    assert(e3.getMessage.contains("positive integer"))
  }

  test("packedBins FILTER composes: metric-level predicate gates which docs pack") {
    val docs = Cubes.documentsCube(spark, sf)
    val viaFilter = QueryParser.parse(docs,
      """{"args": {"options": {"asc": "source"}},
          "fields": [
           {"name": "source"},
           {"name": "packedBins", "alias": "bins",
            "args": {"maxTokens": 128, "nChars": {"gteq": 200}}}]}""").query.toDF
    val viaWhere = QueryParser.parse(docs,
      """{"args": {"nChars": {"gteq": 200}, "options": {"asc": "source"}},
          "fields": [
           {"name": "source"},
           {"name": "packedBins", "alias": "bins", "args": {"maxTokens": 128}}]}""")
      .query.toDF
    // FILTER keeps every group (groups whose docs all fail pred pack 0
    // bins); the WHERE form drops rows first. On groups surviving both,
    // the bin counts agree.
    val f = viaFilter.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val w = viaWhere.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(w.nonEmpty && w.forall { case (s, b) => f.get(s).contains(b) })
  }

  test("tabular contract returns columns + rows (O20)") {
    val p = QueryParser.parse(cube,
      """{"fields": [{"name": "returnFlag"}, {"name": "count", "alias": "cnt"}]}""")
    val (cols, rows) = Renest.tabular(p.query.toDF)
    assert(cols == Seq("returnFlag", "cnt") && rows.nonEmpty)
  }

  test("fill option: map form parses; step validated as a literal; unknown column raises") {
    // map form with explicit step + per-group spines
    val p = QueryParser.parse(cube,
      """{"fields": [
           {"name": "returnFlag", "alias": "flag"},
           {"name": "shipDate", "fields": [{"name": "year"}]},
           {"name": "count", "alias": "cnt"}],
         "args": {"options": {"asc": "shipDate__year",
           "fill": {"key": "shipDate__year", "step": "1", "each": "flag"}}}}""")
    val rows = p.query.toDF.collect()
    val perFlag = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)))
    perFlag.foreach { case (_, years) =>
      assert(years.toSeq == (years.min to years.max).toSeq,
        s"years not dense: ${years.mkString(",")}")
    }
    // free-form SQL in step is rejected, not eval'd
    val bad = QueryParser.parse(cube,
      """{"fields": [{"name": "shipDate", "fields": [{"name": "year"}]},
                     {"name": "count"}],
         "args": {"options": {"fill": {"key": "shipDate__year",
           "step": "1) union select 1"}}}}""")
    val e1 = intercept[CubeQueryException](bad.query.toDF)
    assert(e1.getMessage.contains("interval or integer literal"))
    // unknown result column
    val e2 = intercept[CubeQueryException](
      QueryParser.parse(cube,
        """{"fields": [{"name": "count"}],
           "args": {"options": {"fill": "nope"}}}""").query.toDF)
    assert(e2.getMessage.contains("unknown result column"))
    // pinned FROM/TO bounds: the axis is fixed regardless of the data's
    // observed span (WITH FILL FROM x TO y)
    val pinned = QueryParser.parse(cube,
      """{"fields": [
           {"name": "shipDate", "fields": [{"name": "year"}]},
           {"name": "count", "alias": "cnt"}],
         "args": {"shipDate": {"between": ["1996-01-01", "1997-12-31"]},
           "options": {"asc": "shipDate__year",
             "fill": {"key": "shipDate__year", "step": "1",
                      "from": "1990", "to": "2003"}}}}""")
      .query.toDF.collect()
    // ClickHouse bound semantics: FROM inclusive, TO exclusive => [1990, 2003)
    assert(pinned.map(_.getInt(0)).toSeq == (1990 to 2002).toSeq)
    assert(pinned.filter(r => r.getInt(0) < 1996 || r.getInt(0) > 1997)
      .forall(_.getLong(1) == 0L))
    // real rows OUTSIDE the pinned window are preserved, not dropped:
    // spine is [1990, 1997) but the real 1997 row still appears
    val outside = QueryParser.parse(cube,
      """{"fields": [
           {"name": "shipDate", "fields": [{"name": "year"}]},
           {"name": "count", "alias": "cnt"}],
         "args": {"shipDate": {"between": ["1996-01-01", "1997-12-31"]},
           "options": {"asc": "shipDate__year",
             "fill": {"key": "shipDate__year", "step": "1",
                      "from": "1990", "to": "1997"}}}}""")
      .query.toDF.collect()
    assert(outside.map(_.getInt(0)).toSeq == (1990 to 1997).toSeq)
    assert(outside.find(_.getInt(0) == 1997).get.getLong(1) > 0L)
    // inverted pinned window (from past the data, from > to): empty
    // spine, no runtime error, input rows pass through untouched
    val inverted = QueryParser.parse(cube,
      """{"fields": [
           {"name": "shipDate", "fields": [{"name": "year"}]},
           {"name": "count", "alias": "cnt"}],
         "args": {"shipDate": {"between": ["1996-01-01", "1997-12-31"]},
           "options": {"asc": "shipDate__year",
             "fill": {"key": "shipDate__year", "step": "1",
                      "from": "2010", "to": "2005"}}}}""")
      .query.toDF.collect()
    assert(inverted.map(_.getInt(0)).toSeq == Seq(1996, 1997))
    assert(inverted.forall(_.getLong(1) > 0L))
  }
}
