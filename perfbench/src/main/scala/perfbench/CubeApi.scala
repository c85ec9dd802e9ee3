package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.cubes.Cubes
import graft.exec.{CubeRunner, DatabaseRegistry, ExecStats, PlanCache}
import graft.model.Cube
import graft.parse.QueryParser
import graft.query.QueryOpt
import graft.respond.Renest
import graft.sources.Catalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One GraphQL-shaped cube request with its independent DuckDB SQL. */
final case class Request(id: Int, cube: String, json: String, sql: String, kind: String)

/** Seeded request generator for `cube_api` (and the cube requests of
  * `lakehouse_rw`). Twelve templates cover slices, date sub-fields,
  * conditional measures, `between`/`in`/`any` filters, `desc`/`limit`/
  * `limitBy`, nested fields and a union with a discriminator, over the
  * lineitem, orders, events and documents cubes. */
object Requests {
  private def day(r: SplittableRandom, from: String, span: Int): String =
    java.time.LocalDate.parse(from).plusDays(r.nextInt(span).toLong).toString
  /** A 365-day range; only its start is drawn. */
  private def dayRange(r: SplittableRandom): (String, String) = {
    val a = day(r, "1995-01-02", 2100)
    (a, java.time.LocalDate.parse(a).plusDays(365L).toString)
  }
  private def q(s: String) = "\"" + s + "\""
  /** A threshold in [lo, hi) with two decimals, so ad-hoc literals rarely repeat. */
  private def frac(r: SplittableRandom, lo: Int, hi: Int): String =
    java.math.BigDecimal.valueOf(lo * 100L + r.nextInt((hi - lo) * 100), 2).toPlainString
  private def pickN(r: SplittableRandom, xs: Seq[String], n: Int): Seq[String] =
    xs.map(x => (r.nextDouble(), x)).sortBy(_._1).take(n).map(_._2).sorted

  val Templates = 12

  /** Instantiate template `t` with literals drawn from `r`. Returns
    * (cube, json, sql). */
  def instantiate(t: Int, r: SplittableRandom): (String, String, String) = t match {
    case 0 => // slice + between on a timestamp
      val (a, b) = dayRange(r)
      ("lineitem",
        s"""{"cube":"lineitem","args":{"shipDate":{"between":[${q(a)},${q(b)}]}},"fields":[{"name":"returnFlag","alias":"flag"},{"name":"count","alias":"cnt"},{"name":"amount"}]}""",
        s"""SELECT l_returnflag AS "flag", count(*) AS "cnt", round(sum(l_extendedprice), 2) AS "amount" FROM lineitem WHERE l_shipdate BETWEEN '$a' AND '$b' GROUP BY 1""")
    case 1 => // date sub-fields (nested) + in
      val flags = pickN(r, Seq("A", "N", "R"), 2)
      val qty = frac(r, 20, 30)
      ("lineitem",
        s"""{"cube":"lineitem","args":{"returnFlag":{"in":[${flags.map(q).mkString(",")}]},"quantity":{"gteq":$qty}},"fields":[{"name":"shipDate","fields":[{"name":"year"},{"name":"month"}]},{"name":"count","alias":"cnt"},{"name":"sumQty"}]}""",
        s"""SELECT year(l_shipdate) AS "shipDate.year", month(l_shipdate) AS "shipDate.month", count(*) AS "cnt", sum(l_quantity) AS "sumQty" FROM lineitem WHERE l_returnflag IN (${flags.map(f => s"'$f'").mkString(",")}) AND l_quantity >= $qty GROUP BY 1, 2""")
    case 2 => // conditional measures
      val st = if (r.nextBoolean()) "F" else "O"
      val qty = frac(r, 20, 30)
      ("lineitem",
        s"""{"cube":"lineitem","args":{"lineStatus":{"eq":${q(st)}}},"fields":[{"name":"returnFlag","alias":"flag"},{"name":"count","alias":"cnt"},{"name":"count","alias":"cnt_hi","args":{"quantity":{"gt":$qty}}},{"name":"avgDiscount","alias":"avg_disc"}]}""",
        s"""SELECT l_returnflag AS "flag", count(*) AS "cnt", count(*) FILTER (WHERE l_quantity > $qty) AS "cnt_hi", round(avg(l_discount), 6) AS "avg_disc" FROM lineitem WHERE l_linestatus = '$st' GROUP BY 1""")
    case 3 => // any: OR-tree
      val q1 = frac(r, 25, 35)
      val q2 = frac(r, 5, 15)
      ("lineitem",
        s"""{"cube":"lineitem","args":{"any":[{"returnFlag":{"eq":"R"},"quantity":{"gt":$q1}},{"lineStatus":{"eq":"F"},"quantity":{"lt":$q2}}]},"fields":[{"name":"returnFlag","alias":"flag"},{"name":"lineStatus","alias":"status"},{"name":"count","alias":"cnt"},{"name":"maxPrice","alias":"max_price"}]}""",
        s"""SELECT l_returnflag AS "flag", l_linestatus AS "status", count(*) AS "cnt", max(l_extendedprice) AS "max_price" FROM lineitem WHERE (l_returnflag = 'R' AND l_quantity > $q1) OR (l_linestatus = 'F' AND l_quantity < $q2) GROUP BY 1, 2""")
    case 4 => // desc + limit over a date sub-field
      val (a, b) = dayRange(r)
      val n = 3 + r.nextInt(8)
      ("lineitem",
        s"""{"cube":"lineitem","args":{"shipDate":{"between":[${q(a)},${q(b)}]},"options":{"desc":"amount","limit":$n}},"fields":[{"name":"shipDate","fields":[{"name":"date"}]},{"name":"count","alias":"cnt"},{"name":"amount"}]}""",
        s"""SELECT CAST(l_shipdate AS DATE) AS "shipDate.date", count(*) AS "cnt", round(sum(l_extendedprice), 2) AS "amount" FROM lineitem WHERE l_shipdate BETWEEN '$a' AND '$b' GROUP BY 1 ORDER BY "amount" DESC LIMIT $n""")
    case 5 => // desc + limitBy
      val qty = frac(r, 20, 30)
      val k = 1 + r.nextInt(3)
      ("lineitem",
        s"""{"cube":"lineitem","args":{"quantity":{"lt":$qty},"options":{"desc":"amount","limitBy":{"each":"flag","limit":$k}}},"fields":[{"name":"returnFlag","alias":"flag"},{"name":"shipDate","fields":[{"name":"year"}]},{"name":"amount"}]}""",
        s"""SELECT "flag", "shipDate.year", "amount" FROM (SELECT *, row_number() OVER (PARTITION BY "flag" ORDER BY "amount" DESC) AS rn FROM (SELECT l_returnflag AS "flag", year(l_shipdate) AS "shipDate.year", round(sum(l_extendedprice), 2) AS "amount" FROM lineitem WHERE l_quantity < $qty GROUP BY 1, 2)) WHERE rn <= $k""")
    case 6 => // star-join chain orders → customer → nation → region
      val a = day(r, "1995-01-01", 2000)
      val b = java.time.LocalDate.parse(a).plusDays(180L).toString
      ("orders",
        s"""{"cube":"orders","args":{"orderDate":{"between":[${q(a)},${q(b)}]}},"fields":[{"name":"regionName","alias":"region"},{"name":"orderPriority","alias":"priority"},{"name":"count","alias":"cnt"},{"name":"revenue"}]}""",
        s"""SELECT r_name AS "region", o_orderpriority AS "priority", count(*) AS "cnt", round(sum(o_totalprice), 2) AS "revenue" FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE o_orderdate BETWEEN '$a' AND '$b' GROUP BY 1, 2""")
    case 7 => // orders: nested date sub-field + in + gt
      val pr = pickN(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 2)
      val price = 200000 + r.nextInt(100000)
      ("orders",
        s"""{"cube":"orders","args":{"orderPriority":{"in":[${pr.map(q).mkString(",")}]},"totalPrice":{"gt":$price}},"fields":[{"name":"orderStatus","alias":"status"},{"name":"orderDate","fields":[{"name":"year"}]},{"name":"count","alias":"cnt"},{"name":"avgPrice","alias":"avg_price"}]}""",
        s"""SELECT o_orderstatus AS "status", year(o_orderdate) AS "orderDate.year", count(*) AS "cnt", round(avg(o_totalprice), 4) AS "avg_price" FROM orders WHERE o_orderpriority IN (${pr.map(p => s"'$p'").mkString(",")}) AND o_totalprice > $price GROUP BY 1, 2""")
    case 8 => // union with a per-row discriminator
      val d0 = 1 + r.nextInt(20)
      val d1 = d0 + 5
      val (a, b) = (f"2024-01-$d0%02d ${r.nextInt(24)}%02d:00:00",
        f"2024-01-$d1%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00")
      ("events",
        s"""{"cube":"events","union":true,"discriminator":{"on":"etype","mapping":{"purchase":"PurchaseStats","signup":"SignupStats"},"default":"EventStats"},"args":{"ts":{"between":[${q(a)},${q(b)}]}},"fields":[{"name":"__typename"},{"name":"eventType","alias":"etype"},{"name":"count","alias":"cnt"},{"name":"sumValue","alias":"revenue","onType":"PurchaseStats"},{"name":"avgValue","alias":"avg_signup_value","onType":"SignupStats"}]}""",
        s"""SELECT CASE event_type WHEN 'purchase' THEN 'PurchaseStats' WHEN 'signup' THEN 'SignupStats' ELSE 'EventStats' END AS "__typename", event_type AS "etype", count(*) AS "cnt", CASE WHEN event_type = 'purchase' THEN round(sum(value), 2) END AS "revenue", CASE WHEN event_type = 'signup' THEN round(avg(value), 4) END AS "avg_signup_value" FROM events WHERE ts BETWEEN '$a' AND '$b' GROUP BY event_type""")
    case 9 => // events: day sub-field + exact distinct
      val lo = r.nextInt(400)
      val hi = lo + 150
      ("events",
        s"""{"cube":"events","args":{"value":{"between":[$lo,$hi]}},"fields":[{"name":"eventType","alias":"etype"},{"name":"ts","fields":[{"name":"day"}]},{"name":"count","alias":"cnt"},{"name":"uniqueUsers","alias":"users"}]}""",
        s"""SELECT event_type AS "etype", CAST(ts AS DATE) AS "ts.day", count(*) AS "cnt", count(DISTINCT user_id) AS "users" FROM events WHERE value BETWEEN $lo AND $hi GROUP BY 1, 2""")
    case 10 => // documents: plain slice
      val n = 200 + r.nextInt(200)
      ("documents",
        s"""{"cube":"documents","args":{"nChars":{"gt":$n}},"fields":[{"name":"source"},{"name":"count","alias":"cnt"}]}""",
        s"""SELECT source AS "source", count(*) AS "cnt" FROM documents WHERE n_chars > $n GROUP BY 1""")
    case _ => // documents: text-derived metric
      val lo = 40 + r.nextInt(300)
      val hi = lo + 100
      ("documents",
        s"""{"cube":"documents","args":{"nChars":{"between":[$lo,$hi]}},"fields":[{"name":"source"},{"name":"count","alias":"cnt"},{"name":"sumTokens","alias":"tokens"}]}""",
        s"""SELECT source AS "source", count(*) AS "cnt", CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS "tokens" FROM documents WHERE n_chars BETWEEN $lo AND $hi GROUP BY 1""")
  }

  /** The `cube_api` request stream. Its shape is fixed and only its
    * literals come from the seed, so every seed sends the same mix: a
    * `dashShare` of positions (spread evenly) go to a pool of `pool`
    * repeat-identical dashboard requests, pool entry k with Zipf(1.1)
    * weight 1/(k+1)^1.1 (smooth weighted round-robin); the rest are ad-hoc
    * requests that cycle through the templates with literals that never
    * repeat. */
  def stream(seed: Long, n: Int, pool: Int, dashShare: Double): Seq[Request] = {
    val r = new SplittableRandom(seed)
    val seen = scala.collection.mutable.HashSet.empty[String]
    def fresh(t: Int): (String, String, String) = {
      var x = instantiate(t, r)
      var tries = 0
      while (seen.contains(x._2)) {
        tries += 1
        require(tries < 10000, s"template $t ran out of fresh literals")
        x = instantiate(t, r)
      }
      seen += x._2
      x
    }
    val dash = (0 until pool).map { k =>
      val (c, j, s) = fresh(k % Templates)
      Request(k, c, j, s, "dashboard")
    }
    val weights = dash.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
    val credit = Array.fill(pool)(0.0)
    var adhoc = 0
    (0 until n).map { i =>
      if (math.floor((i + 1) * dashShare) > math.floor(i * dashShare)) {
        weights.indices.foreach(k => credit(k) += weights(k))
        val k = credit.indices.maxBy(credit)
        credit(k) -= weights.sum
        dash(k)
      } else {
        val (c, j, s) = fresh(adhoc % Templates)
        adhoc += 1
        Request(pool + adhoc, c, j, s, "adhoc")
      }
    }
  }
}

/** Cube construction and execution shared by the workloads. */
object CubeExec {
  def cubeFor(name: String, manifested: Option[String] = None): (SparkSession, Catalog) => Cube =
    (s, cat) => {
      val cube = name match {
        case "lineitem" => Cubes.lineitemCube(s, cat)
        case "orders" => Cubes.ordersCube(s, cat)
        case "events" => Cubes.eventsCube(s, cat)
        case "documents" => Cubes.documentsCube(s, cat)
      }
      manifested match {
        case Some(table) => cube.copy(fact = graft.sources.Manifest.read(s, table),
          manifestTable = Some(table))
        case None => cube
      }
    }

  /** Flatten a (possibly nested) result row to its leaf values. */
  def leaves(v: Any): Seq[Any] = v match {
    case r: Row => r.toSeq.flatMap(leaves)
    case x => Seq(x)
  }

  /** Leaf column names, dotted through nested structs. */
  def leafNames(df: org.apache.spark.sql.types.StructType, prefix: String = ""): Seq[String] =
    df.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: org.apache.spark.sql.types.StructType => leafNames(st, prefix + f.name + ".")
        case _ => Seq(prefix + f.name)
      }
    }

  final case class Answer(columns: Seq[String], rows: Seq[Seq[Any]], hit: Option[Boolean])

  /** The untraced path: the program's own end-to-end runner. */
  def execute(spark: SparkSession, registry: DatabaseRegistry, req: Request,
      cache: Option[PlanCache], manifested: Option[String] = None): Answer = {
    val res = CubeRunner.execute(spark, registry, cubeFor(req.cube, manifested), req.json,
      cache = cache)
    val names = res.rows.headOption.map(_.schema).map(leafNames(_)).getOrElse(res.columns)
    Answer(names, res.rows.map(r => leaves(r)), None)
  }

  /** The traced path: the same public calls, in the same order, that
    * `CubeRunner.execute` makes, each wrapped in a span of its layer. The
    * `exec` span holds the runner's own work around the collect: the
    * stats listener it registers, and its wait for that listener. */
  def executeTraced(spark: SparkSession, registry: DatabaseRegistry, req: Request,
      cache: Option[PlanCache], trace: Trace, manifested: Option[String] = None): Answer = {
    val t0 = trace.nowNs
    val cat = registry.catalog(None)
    val cube = trace.span("cubes.build")(cubeFor(req.cube, manifested)(spark, cat))
    val parsed = trace.span("parse")(QueryParser.parse(cube, req.json))
    val q = parsed.query
    var built = false
    def build: DataFrame = {
      built = true
      val flat = trace.span("compile")(q.toDF)
      trace.span("respond.nest")(Renest.nest(flat, parsed.root, cube.name))
    }
    val cacheable = q.measures.forall { case (_, m) =>
      !cube.metrics.get(m.metric).exists(_.snapshotsData) &&
        !cube.altSources.exists(_.metricOverrides.get(m.metric).exists(_.snapshotsData)) } &&
      !q.options.contains(QueryOpt.StatsOnly) &&
      cube.manifestTable.isEmpty
    val df = cache match {
      case Some(c) if cacheable =>
        trace.span("exec.plan_cache")(c.getOrCompile(
          PlanCache.key(spark, cat.id, cube.name, true, q, parsed.root))(build))
      case _ => build
    }
    val (cols, rows) = trace.span("exec") {
      val stats = new ExecStats
      val done = new CountDownLatch(1)
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
          stats.durationNs = durationNs
          stats.physicalPlan = qe.executedPlan.toString
          done.countDown()
        }
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          done.countDown()
      }
      spark.listenerManager.register(listener)
      try {
        val out = trace.span("respond.collect")(Renest.tabular(df))
        stats.rowCount = out._2.size.toLong
        done.await(2, TimeUnit.SECONDS)
        out
      } finally spark.listenerManager.unregister(listener)
    }
    trace.catalystPhases(df, t0)
    val names = rows.headOption.map(_.schema).map(leafNames(_)).getOrElse(cols)
    Answer(names, rows.map(r => leaves(r)), if (cacheable && cache.isDefined) Some(!built) else None)
  }
}
