package graft.cubes

import graft.model._
import graft.sources.{Catalog, PathCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Table loaders: fixture parquet roots (TESTDATA.md) or any typed
  * [[graft.sources.Catalog]] (O17 heterogeneous routing). */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ReadCache.parquet(spark, s"$dir/$name.parquet")

  /** Catalog-routed load; `events` gets its timestamp normalization. */
  def table(s: SparkSession, cat: Catalog, name: String): DataFrame =
    if (name == "events") events(s, cat) else cat.load(s, name)

  def events(s: SparkSession, cat: Catalog): DataFrame = {
    readNanosAsLong(s)
    normalizeEventTs(cat.load(s, "events"))
  }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = {
    readNanosAsLong(s)
    normalizeEventTs(load(s, d, "events"))
  }

  /** Legacy conf kept so an older-style TIMESTAMP(NANOS) fixture still
    * loads (as raw longs) instead of failing the scan outright. The
    * setting is session-wide: from the first events load on, every
    * parquet read in the session reads such columns as longs. It is
    * written only while the session does not already read `true`, so
    * later loads write no shared state. */
  private[graft] def readNanosAsLong(s: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (s.conf.get(key, "false") != "true") s.conf.set(key, "true")
  }

  /** The engine's contract is `ts: TimestampType`. Fixtures have shipped it
    * three ways; normalize by the dtype actually read:
    *   - LongType — parquet TIMESTAMP(NANOS) read as raw epoch-ns longs
    *     (Spark 4 refuses nanos timestamps; see legacy conf above) →
    *     floor-convert to µs, same truncation DuckDB's epoch_ms applies;
    *   - TimestampNTZType — parquet timestamp[us] with no tz (current
    *     fixtures) → cast to TimestampType, value-preserving under the
    *     pinned UTC session zone and matching the oracles' naive stamps;
    *   - TimestampType — a warehouse catalog serving real timestamps →
    *     pass through. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => convertEventTs(raw)
      case TimestampNTZType =>
        raw.withColumn("ts", F.col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def convertEventTs(raw: DataFrame): DataFrame =
    // integer `div`, NOT `/`: epoch-ns values exceed double's 53-bit
    // mantissa, so floating division floors to the wrong microsecond
    raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Cube declarations over the fixtures (FIXTURES.md "Representative cube
  * declarations"). These are what a user of the engine writes; everything
  * else (joins, source choice, FILTER aggs) is driven from here.
  *
  * A declaration over a [[graft.sources.PathCatalog]] is built once per
  * (session, catalog root, declaration, `spark.sql.session.timeZone`)
  * and reused ([[graft.sources.ReadCache.memo]], under its immutable-path
  * contract): a repeated request pays a map lookup, not a rebuild of
  * every join-spec frame and metric. The zone is in the key because the
  * events fact's NTZ→TIMESTAMP cast is analysed with the zone in force
  * when it is built. A JDBC catalog's cube, `eventsCubeOver(df)` and a
  * supplied `rollup` are built on every call; a manifested fact is the
  * caller's to re-read per request (`cube.copy(fact = Manifest.read(..))`).
  */
object Cubes {
  import F.col

  private def memo(s: SparkSession, cat: Catalog, decl: String)(build: => Cube): Cube =
    cat match {
      case PathCatalog(root) => graft.sources.ReadCache.memo(s,
        ("cube", root, decl, s.conf.get("spark.sql.session.timeZone")))(build)
      case _ => build
    }

  /** LineitemCube — single-source cube plus the full star-join chain
    * lineitem→orders→customer→nation→region for dimension sub-fields
    * that cross tables (SURVEY §2.4 Joins; reference parse_tree.rb:29).
    */
  def lineitemCube(s: SparkSession, d: String): Cube =
    lineitemCube(s, PathCatalog(d))

  def lineitemCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "lineitemCube") {
    val li = Tables.table(s, cat, "lineitem")
    Cube(
      name = "lineitem",
      fact = li,
      dimensions = Map(
        "returnFlag" -> Dimension("returnFlag", col("l_returnflag")),
        "lineStatus" -> Dimension("lineStatus", col("l_linestatus")),
        "partKey" -> Dimension("partKey", col("l_partkey")),
        "orderKey" -> Dimension("orderKey", col("l_orderkey")),
        // string-typed numeric (ClickHouse big-number idiom) for
        // desc_by_integer (O12)
        "orderKeyStr" -> Dimension("orderKeyStr", col("l_orderkey").cast("string")),
        "shipDate" -> Dimension("shipDate", col("l_shipdate"), fields = Map(
          "year" -> (c => F.year(c)),
          "month" -> (c => F.month(c)),
          "day" -> (c => F.dayofmonth(c)),
          "date" -> (c => c.cast("date")))),
        // star-chain dimensions (broadcast joins, applied only when used)
        "custSegment" -> Dimension("custSegment", col("c_mktsegment"),
          requires = Set("customer")),
        "custName" -> Dimension("custName", col("c_name"),
          requires = Set("customer")),
        "nationName" -> Dimension("nationName", col("n_name"),
          requires = Set("nation")),
        "regionName" -> Dimension("regionName", col("r_name"),
          requires = Set("region")),
        "partBrand" -> Dimension("partBrand", col("p_brand"),
          requires = Set("part")),
        "partType" -> Dimension("partType", col("p_type"),
          requires = Set("part")),
        "suppName" -> Dimension("suppName", col("s_name"),
          requires = Set("supplier"))),
      metrics = Map(
        "count" -> Metric.countAll("count"),
        "sumQty" -> Metric.sumOf("sumQty", col("l_quantity")),
        // distinct-collect metric (ClickHouse groupUniqArray): sorted for
        // determinism, JSON at the edge (array cells are unhashable in
        // the driver harness); collect_set skips the FILTER-nulled rows
        "lineStatuses" -> Metric("lineStatuses", p => F.to_json(F.array_sort(
          F.collect_set(p.map(pr => F.when(pr, col("l_linestatus")))
            .getOrElse(col("l_linestatus")))))),
        // map-valued aggregate (ClickHouse sumMap): per group, the
        // lineStatus -> sum(quantity) map. Plan-backed — the per-key
        // sums need their own grouping level (operators/MapAgg).
        "qtyByStatus" -> Metric("qtyByStatus",
          build = _ => throw new CubeQueryException(
            "qtyByStatus is plan-backed: flat grouping only"),
          planBuild = Some { (fact, keys, pred) =>
            graft.operators.MapAgg.sumMapJson(
              fact, keys, col("l_linestatus"), col("l_quantity"), pred)
          }),
        // money sums rounded to cents on both engine and oracle side so the
        // float-summation order difference can't flip the hash compare
        "amount" -> Metric.sumOf("amount", col("l_extendedprice"))
          .mapValue(F.round(_, 2)),
        "revenue" -> Metric.sumOf("revenue",
            col("l_extendedprice") * (F.lit(1) - col("l_discount")))
          .mapValue(F.round(_, 2)),
        "avgDiscount" -> Metric.avgOf("avgDiscount", col("l_discount"))
          .mapValue(F.round(_, 6)),
        "avgQty" -> Metric.avgOf("avgQty", col("l_quantity"))
          .mapValue(F.round(_, 6)),
        "minPrice" -> Metric.minOf("minPrice", col("l_extendedprice")),
        "maxPrice" -> Metric.maxOf("maxPrice", col("l_extendedprice")),
        "uniqueOrders" -> Metric.uniqExact("uniqueOrders", col("l_orderkey")),
        "uniqueOrdersApprox" -> Metric.uniqApprox("uniqueOrdersApprox", col("l_orderkey")),
        "uniqueParts" -> Metric.uniqExact("uniqueParts", col("l_partkey")),
        // exact interpolated percentiles (ClickHouse quantile());
        // percentile_approx is the 100 TB drop-in
        "medianPrice" -> Metric("medianPrice", p => F.round(
          F.call_function("percentile",
            p.map(pr => F.when(pr, col("l_extendedprice"))).getOrElse(col("l_extendedprice")),
            F.lit(0.5)), 4)),
        "p90Price" -> Metric("p90Price", p => F.round(
          F.call_function("percentile",
            p.map(pr => F.when(pr, col("l_extendedprice"))).getOrElse(col("l_extendedprice")),
            F.lit(0.9)), 4)),
        // ClickHouse quantiles(...) parity: several percentiles in ONE
        // aggregation pass (array-typed metric)
        "quantilesPrice" -> Metric("quantilesPrice", p => {
          val c = p.map(pr => F.when(pr, col("l_extendedprice")))
            .getOrElse(col("l_extendedprice"))
          F.transform(
            F.call_function("percentile", c, F.typedlit(Seq(0.25, 0.5, 0.75))),
            x => F.round(x, 4))
        }),
        // ClickHouse argMin/argMax parity. The ordering is a (price, key)
        // struct so ties break deterministically — at 100 TB a bare
        // min_by(price) tie would be partition-order-dependent.
        "cheapestPart" -> Metric("cheapestPart", p =>
          F.min_by(col("l_partkey"), p.map(pr => F.when(pr,
              F.struct(col("l_extendedprice"), col("l_partkey"))))
            .getOrElse(F.struct(col("l_extendedprice"), col("l_partkey"))))),
        "priciestPart" -> Metric("priciestPart", p =>
          F.max_by(col("l_partkey"), p.map(pr => F.when(pr,
              F.struct(col("l_extendedprice"), col("l_partkey"))))
            .getOrElse(F.struct(col("l_extendedprice"), col("l_partkey"))))),
        // parameterized tuple metric (ClickHouse topK(size); the reference
        // dispatches the size arg onto the metric, parse_tree.rb:127-130).
        // Single-pass SpaceSaving sketch; exact while the per-group
        // distinct count stays under `capacity`, so capacity is a metric
        // arg too: the default covers TPC-H partkeys to SF≈0.3, larger
        // corpora raise it per query (or use the exact two-phase TopK
        // operator, q22/q23).
        // `exact: true` switches to the plan-backed two-phase TopK
        // (Metric.planBuild): bit-exact at ANY scale — no capacity bound
        // — for the cost of a second scan of the fact.
        "topParts" -> {
          def intArg(bound: Map[String, Any], name: String): Int = bound(name) match {
            case i: Int => i
            case other => throw new CubeQueryException(
              s"topParts $name must be an integer, got $other")
          }
          def make(bound: Map[String, Any]): Metric = {
            val exact = bound("exact") match {
              case b: Boolean => b
              case other => throw new CubeQueryException(
                s"topParts exact must be a boolean, got $other")
            }
            Metric("topParts",
              build = p => graft.functions.TopKFreq(
                intArg(bound, "size"), capacity = intArg(bound, "capacity"))(
                p.map(pr => F.when(pr, col("l_partkey"))).getOrElse(col("l_partkey"))),
              applyArgFn = Some { (k, v) =>
                if (bound.contains(k)) make(bound + (k -> v))
                else throw new CubeQueryException(
                  s"metric 'topParts' takes no argument '$k' (has: ${bound.keys.mkString(",")})")
              },
              planBuild = if (!exact) None else Some { (fact, keys, pred) =>
                graft.operators.TopK.perGroupTuplesComplete(
                  fact, keys, col("l_partkey"), intArg(bound, "size"), pred)
              })
          }
          make(Map("size" -> 3, "capacity" -> 65536, "exact" -> false))
        }),
      selectors = Map(
        "shipDate" -> Selector("shipDate", col("l_shipdate")),
        "quantity" -> Selector("quantity", col("l_quantity")),
        "returnFlag" -> Selector("returnFlag", col("l_returnflag")),
        "lineStatus" -> Selector("lineStatus", col("l_linestatus")),
        "partKey" -> Selector("partKey", col("l_partkey")),
        "orderKey" -> Selector("orderKey", col("l_orderkey")),
        "price" -> Selector("price", col("l_extendedprice")),
        "discount" -> Selector("discount", col("l_discount")),
        "regionName" -> Selector("regionName", col("r_name"), requires = Set("region")),
        "custSegment" -> Selector("custSegment", col("c_mktsegment"),
          requires = Set("customer")),
        "partType" -> Selector("partType", col("p_type"), requires = Set("part")),
        "partBrand" -> Selector("partBrand", col("p_brand"), requires = Set("part"))),
      joins = Map(
        // orders is a FACT, not a dimension: never force-broadcast it.
        // Catalyst/AQE still broadcasts below the size threshold (so small
        // SFs plan identically) but switches to shuffle join at scale.
        "orders" -> JoinSpec("orders", Tables.table(s, cat, "orders"),
          col("l_orderkey") === col("o_orderkey"), broadcastRight = false),
        "customer" -> JoinSpec("customer", Tables.table(s, cat, "customer"),
          col("o_custkey") === col("c_custkey"), dependsOn = Set("orders")),
        "nation" -> JoinSpec("nation", Tables.table(s, cat, "nation"),
          col("c_nationkey") === col("n_nationkey"), dependsOn = Set("customer")),
        "region" -> JoinSpec("region", Tables.table(s, cat, "region"),
          col("n_regionkey") === col("r_regionkey"), dependsOn = Set("nation")),
        "part" -> JoinSpec("part", Tables.table(s, cat, "part"),
          col("l_partkey") === col("p_partkey")),
        "supplier" -> JoinSpec("supplier", Tables.table(s, cat, "supplier"),
          col("l_suppkey") === col("s_suppkey"))))
  }

  /** LineitemCube with a daily pre-aggregated alternative source — the
    * activecube optimal-table-selection demo (SURVEY §4). When a query
    * touches only shipDate/returnFlag/lineStatus × count/sumQty/amount,
    * the compiler routes it to the ~25×-smaller rollup and re-aggregates
    * partial aggregates (count = sum of partial counts). In production
    * the rollup is a materialized table; here it's derived on the fly
    * from the same fixture so the oracle can verify equivalence.
    */
  def lineitemCubeWithRollup(s: SparkSession, d: String): Cube =
    lineitemCubeWithRollup(s, PathCatalog(d))

  def lineitemCubeWithRollup(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "lineitemCubeWithRollup") {
    val base = lineitemCube(s, cat)
    val rollup = base.fact
      .groupBy(col("l_shipdate"), col("l_returnflag"), col("l_linestatus"))
      .agg(
        F.count(F.lit(1)).as("cnt_p"),
        F.sum(col("l_quantity")).as("qty_p"),
        F.sum(col("l_extendedprice")).as("price_p"))
    def filtered(c: org.apache.spark.sql.Column, p: Option[org.apache.spark.sql.Column]) =
      p.map(pr => F.when(pr, c)).getOrElse(c)
    base.copy(altSources = Seq(CubeSource(
      name = "daily_rollup",
      df = rollup,
      servesDimensions = Set("shipDate", "returnFlag", "lineStatus"),
      servesMetrics = Set("count", "sumQty", "amount"),
      cost = 1, // ≪ fact; chosen whenever it covers the query
      metricOverrides = Map(
        "count" -> Metric("count",
          p => F.coalesce(F.sum(filtered(col("cnt_p"), p)), F.lit(0L))),
        "sumQty" -> Metric("sumQty", p => F.sum(filtered(col("qty_p"), p))),
        "amount" -> Metric("amount",
          p => F.round(F.sum(filtered(col("price_p"), p)), 2))))))
  }

  /** OrdersCube — second fact; customer sub-fields resolve via broadcast
    * join (FIXTURES.md OrdersCube).
    */
  def ordersCube(s: SparkSession, d: String): Cube =
    ordersCube(s, PathCatalog(d))

  def ordersCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "ordersCube") {
    val o = Tables.table(s, cat, "orders")
    Cube(
      name = "orders",
      fact = o,
      dimensions = Map(
        "orderStatus" -> Dimension("orderStatus", col("o_orderstatus")),
        "orderPriority" -> Dimension("orderPriority", col("o_orderpriority")),
        "orderDate" -> Dimension("orderDate", col("o_orderdate"), fields = Map(
          "year" -> (c => F.year(c)),
          "month" -> (c => F.month(c)),
          "date" -> (c => c.cast("date")))),
        "custName" -> Dimension("custName", col("c_name"), requires = Set("customer")),
        "mktSegment" -> Dimension("mktSegment", col("c_mktsegment"),
          requires = Set("customer")),
        "nationName" -> Dimension("nationName", col("n_name"), requires = Set("nation")),
        "regionName" -> Dimension("regionName", col("r_name"), requires = Set("region"))),
      metrics = Map(
        "count" -> Metric.countAll("count"),
        "revenue" -> Metric.sumOf("revenue", col("o_totalprice"))
          .mapValue(F.round(_, 2)),
        "avgPrice" -> Metric.avgOf("avgPrice", col("o_totalprice"))
          .mapValue(F.round(_, 4)),
        "uniqueCustomers" -> Metric.uniqExact("uniqueCustomers", col("o_custkey"))),
      selectors = Map(
        "orderDate" -> Selector("orderDate", col("o_orderdate")),
        "orderStatus" -> Selector("orderStatus", col("o_orderstatus")),
        "orderPriority" -> Selector("orderPriority", col("o_orderpriority")),
        "totalPrice" -> Selector("totalPrice", col("o_totalprice")),
        "mktSegment" -> Selector("mktSegment", col("c_mktsegment"),
          requires = Set("customer"))),
      joins = Map(
        "customer" -> JoinSpec("customer", Tables.table(s, cat, "customer"),
          col("o_custkey") === col("c_custkey")),
        "nation" -> JoinSpec("nation", Tables.table(s, cat, "nation"),
          col("c_nationkey") === col("n_nationkey"), dependsOn = Set("customer")),
        "region" -> JoinSpec("region", Tables.table(s, cat, "region"),
          col("n_regionkey") === col("r_regionkey"), dependsOn = Set("nation"))))
  }

  /** SalesCube — a MULTI-FACT cube: lineitem serves line-level metrics,
    * orders serves order-level metrics, and the shared `year` dimension is
    * re-expressed per source. A query mixing metrics from both compiles to
    * two aggregates full-outer-joined on the slice keys (SURVEY §1/§7
    * multi-source cube merge; activecube's multi-table cubes).
    */
  def salesCube(s: SparkSession, d: String): Cube =
    salesCube(s, PathCatalog(d))

  def salesCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "salesCube") {
    val li = Tables.table(s, cat, "lineitem")
    val o = Tables.table(s, cat, "orders")
    Cube(
      name = "sales",
      fact = li,
      dimensions = Map(
        "year" -> Dimension("year", F.year(col("l_shipdate")))),
      metrics = Map(
        "lineCount" -> Metric.countAll("lineCount"),
        "sumQty" -> Metric.sumOf("sumQty", col("l_quantity")),
        "orderCount" -> Metric.countAll("orderCount"),
        "orderRevenue" -> Metric.sumOf("orderRevenue", col("o_totalprice"))
          .mapValue(F.round(_, 2))),
      selectors = Map(
        "year" -> Selector("year", F.year(col("l_shipdate")))),
      altSources = Seq(
        CubeSource("lineitem", li,
          servesDimensions = Set("year"),
          servesMetrics = Set("lineCount", "sumQty"),
          cost = 100),
        CubeSource("orders", o,
          servesDimensions = Set("year"),
          servesMetrics = Set("orderCount", "orderRevenue"),
          cost = 25,
          dimOverrides = Map(
            "year" -> Dimension("year", F.year(col("o_orderdate")))),
          selectorOverrides = Map(
            "year" -> Selector("year", F.year(col("o_orderdate")))))))
  }

  /** DocumentsCube — the training-data corpus as a cube: text-analysis
    * operators (language ID, quality score, token counts, fingerprints)
    * exposed as dimensions/metrics so curation queries go through the
    * same front door as OLAP ones. All derived columns are row-local
    * codegen'd expressions (graft.llm.TextAnalysis).
    */
  def documentsCube(s: SparkSession, d: String): Cube =
    documentsCube(s, PathCatalog(d))

  def documentsCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "documentsCube") {
    import graft.llm.TextAnalysis
    val docs = Tables.table(s, cat, "documents")
    Cube(
      name = "documents",
      fact = docs,
      dimensions = Map(
        "source" -> Dimension("source", col("source")),
        "docId" -> Dimension("docId", col("doc_id")),
        "lang" -> Dimension("lang", TextAnalysis.langId(col("text"))),
        // EXPLODING chunk dimension: the sliding-window chunking
        // (llm/TextAnalysis.chunks, 40-token windows advancing 30) as a
        // front-door slice — one output row per chunk. The element is a
        // (idx, n_tokens, chunk_md5) struct; the `json` sub-field
        // serializes it for the flat response (struct cells are
        // unhashable at the driver edge, the q71 lesson). Row-local —
        // map-only before the aggregation like `token`.
        "chunk" -> Dimension("chunk",
          F.transform(TextAnalysis.chunks(col("text"), 40, 30), c =>
            F.struct(
              c.getField("idx").as("idx"),
              c.getField("n_tokens").as("n_tokens"),
              F.md5(c.getField("chunk")).as("chunk_md5"))),
          fields = Map("json" -> (arr => F.transform(arr, e => F.to_json(e)))),
          explode = true),
        // the deterministic train/val/test assignment as a first-class
        // dimension: slicing training data by split composes with every
        // other front-door feature, and the assignment is reproducible
        // by ANY engine (llm/Splits)
        "split" -> Dimension("split", graft.llm.Splits.assignSplit(
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
        // the deterministic output-shard assignment (llm/Sharding) as a
        // dimension: auditing the emitted training stream composes with
        // every other slice/metric, and any engine recomputes the same
        // shard from the same md5 hash
        "shard" -> Dimension("shard",
          graft.llm.Splits.hashBucket(col("doc_id"), 8)),
        // EXPLODING dimension (ClickHouse arrayJoin): one output row per
        // token — corpus token frequency through the generic front door
        "token" -> Dimension("token",
          graft.llm.Dedup.tokens(F.lower(col("text"))), explode = true)),
      metrics = Map(
        "count" -> Metric.countAll("count"),
        "avgQuality" -> Metric.avgOf("avgQuality",
            TextAnalysis.qualityScore(col("text"))).mapValue(F.round(_, 4)),
        "sumTokens" -> Metric.sumOf("sumTokens", TextAnalysis.tokenCount(col("text"))),
        "uniqueTexts" -> Metric.uniqExact("uniqueTexts", F.md5(col("text"))),
        // mean Gopher repetition score — curation dashboards slice this
        // by lang/source to find templated shards
        "avgDup3" -> Metric.avgOf("avgDup3",
          TextAnalysis.dupNgramFraction(col("text"), 3)).mapValue(F.round(_, 4)),
        // sequence packing through the front door: context windows
        // (next-fit bins over the group's docs in doc_id order) needed
        // to hold the group at `maxTokens` capacity — a deterministic
        // aggregate (functions/NextFitBins), FILTER-composable because
        // collect_list skips the nulls a metric-level predicate makes.
        // The unbounded streaming path stays llm/Packing.packSequences.
        "packedBins" -> Metric.parameterized(
          "packedBins", Map("maxTokens" -> 128)) { bound => p =>
          val cap = bound("maxTokens") match {
            case i: Int if i > 0 => i
            case other => throw new CubeQueryException(
              s"packedBins maxTokens must be a positive integer, got $other")
          }
          val doc = F.struct(col("doc_id").cast("long"),
            TextAnalysis.tokenCount(col("text")).cast("int"))
          graft.functions.NextFitBins(
            F.sort_array(F.collect_list(
              p.map(pr => F.when(pr, doc)).getOrElse(doc))), cap)
        },
        // corpus-trained bigram quality gate through the front door:
        // per group, mean per-doc avg ln P(w_i | w_{i-1}) under the
        // model trained on the whole pred-filtered corpus. Pure plan
        // lineage (model re-derived per execution — cacheable, no
        // snapshotsData; see LangModel.avgLogprobPlan).
        "avgLogprob" -> Metric("avgLogprob",
          build = _ => throw new CubeQueryException(
            "avgLogprob is plan-backed: flat grouping only"),
          planBuild = Some { (fact, keys, pred) =>
            graft.llm.LangModel.avgLogprobPlan(
              fact, keys, col("doc_id"), col("text"), pred)
          }),
        // DSIR importance through the front door: per group, the mean
        // log importance weight of its docs w.r.t. the deterministic
        // VALIDATION split as the target distribution (llm/Importance —
        // hashed-n-gram models, both re-derived in-plan). High = the
        // slice looks like the data we want more of.
        "avgDsirWeight" -> Metric("avgDsirWeight",
          build = _ => throw new CubeQueryException(
            "avgDsirWeight is plan-backed: flat grouping only"),
          planBuild = Some { (fact, keys, pred) =>
            graft.llm.Importance.avgWeightPlan(
              fact, keys, col("doc_id"), col("text"),
              graft.llm.Splits.assignSplit(col("doc_id"),
                Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)) === "val",
              pred)
          }),
        // per-group average TRAINED-classifier probability (llm/
        // Classifier — logistic regression re-trained in-plan on the
        // pred-filtered corpus; supervision: "is src0", the curated
        // reference source). High = the slice reads like reference data.
        "avgModelQuality" -> Metric("avgModelQuality",
          build = _ => throw new CubeQueryException(
            "avgModelQuality is plan-backed: flat grouping only"),
          planBuild = Some { (fact, keys, pred) =>
            graft.llm.Classifier.avgScorePlan(
              fact, keys, col("doc_id"), col("text"),
              col("source") === "src0", pred)
          }),
        // token-budget mixture through the front door: tokens KEPT by
        // the greedy (quality desc, id asc) prefix under a per-group
        // budget — the budget is a metric arg, dispatched like topK's
        // size (parse_tree.rb:127-130)
        "mixTokens" -> {
          def make(bound: Map[String, Any]): Metric = {
            def budgetArg: Long = bound("budget") match {
              case i: Int if i > 0 => i.toLong
              case other => throw new CubeQueryException(
                s"mixTokens budget must be a positive integer, got $other")
            }
            Metric("mixTokens",
              build = _ => throw new CubeQueryException(
                "mixTokens is plan-backed: flat grouping only"),
              planBuild = Some { (fact, keys, pred) =>
                graft.llm.Mixture.mixTokensPlan(
                  fact, keys, col("doc_id"),
                  TextAnalysis.tokenCount(col("text")),
                  TextAnalysis.qualityScore(col("text")),
                  budgetArg, pred)
              },
              applyArgFn = Some { (k, v) =>
                if (bound.contains(k)) make(bound + (k -> v))
                else throw new CubeQueryException(
                  s"metric 'mixTokens' takes no argument '$k' (has: ${bound.keys.mkString(",")})")
              })
          }
          make(Map("budget" -> 300))
        }),
      selectors = Map(
        "source" -> Selector("source", col("source")),
        "split" -> Selector("split", graft.llm.Splits.assignSplit(
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
        "nChars" -> Selector("nChars", col("n_chars")),
        // repetition-quality gate as a first-class selector: `when
        // dup3 <= 0.2` drops stamped/templated docs in-plan (row-local
        // expression, composes with pushdown like any other predicate)
        "dup3" -> Selector("dup3", TextAnalysis.dupNgramFraction(col("text"), 3))))
  }

  /** AudioCube — the decoded audio-feature table AS a cube fact: docs
    * render to real PCM WAVs on the executors and decode back through
    * the real codec (llm/Multimodal), and the resulting per-media
    * features answer parsed queries like any other table. Any derived
    * DataFrame is a legal fact (the funnelCube precedent), so the media
    * modality needs no special front-door machinery.
    */
  def audioCube(s: SparkSession, d: String): Cube =
    audioCube(s, PathCatalog(d))

  def audioCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "audioCube") {
    import graft.llm.Multimodal
    val feats = Multimodal.extractAudioFeatures(s,
      Multimodal.wavMediaFromDocuments(s, Tables.table(s, cat, "documents"))).toDF()
    Cube(
      name = "audio",
      fact = feats,
      dimensions = Map(
        "mediaId" -> Dimension("mediaId", col("media_id")),
        "sampleRate" -> Dimension("sampleRate", col("sample_rate"))),
      metrics = Map(
        "count" -> Metric.countAll("count"),
        "avgRms" -> Metric.avgOf("avgRms", col("rms")).mapValue(F.round(_, 6)),
        "sumSamples" -> Metric.sumOf("sumSamples", col("n_samples")),
        "avgDurationMs" -> Metric.avgOf("avgDurationMs", col("duration_ms"))
          .mapValue(F.round(_, 6))),
      selectors = Map(
        "mediaId" -> Selector("mediaId", col("media_id")),
        "nSamples" -> Selector("nSamples", col("n_samples")),
        "rms" -> Selector("rms", col("rms"))))
  }

  /** VideoCube — the sampled-frame feature table AS a cube fact: docs
    * render to motion-PNG containers, every 2nd frame is seek-sampled
    * and decoded through the real image codec (llm/Multimodal), one
    * fact row per sampled frame.
    */
  def videoCube(s: SparkSession, d: String): Cube =
    videoCube(s, PathCatalog(d))

  def videoCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "videoCube") {
    import graft.llm.Multimodal
    val frames = Multimodal.frameFeatures(s,
      Multimodal.sampleFrames(s,
        Multimodal.videoMediaFromDocuments(s, Tables.table(s, cat, "documents")),
        stride = 2)).toDF()
    Cube(
      name = "video",
      fact = frames,
      dimensions = Map(
        "mediaId" -> Dimension("mediaId", col("media_id")),
        "frameIdx" -> Dimension("frameIdx", col("frame_idx"))),
      metrics = Map(
        "frames" -> Metric.countAll("frames"),
        "avgBrightness" -> Metric.avgOf("avgBrightness", col("brightness"))
          .mapValue(F.round(_, 6)),
        "maxWidth" -> Metric.maxOf("maxWidth", col("width")),
        "maxHeight" -> Metric.maxOf("maxHeight", col("height"))),
      selectors = Map(
        "mediaId" -> Selector("mediaId", col("media_id")),
        "frameIdx" -> Selector("frameIdx", col("frame_idx"))))
  }

  /** EmbeddingsCube — the embedding corpus behind the same front door as
    * the OLAP cubes, so curation readouts (semantic dedup yield, per-label
    * vector counts) are ordinary parsed queries. `semanticSurvivors` is
    * the SemDeDup library operator (llm/Similarity.semanticDedup) as a
    * parameterized plan-backed metric: the dedup is computed over the
    * whole pred-filtered corpus (k-means cells + within-cell drops,
    * exactly the library semantics), survivors attributed back to their
    * slice group.
    */
  def embeddingsCube(s: SparkSession, d: String): Cube =
    embeddingsCube(s, PathCatalog(d))

  def embeddingsCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "embeddingsCube") {
    val emb = Tables.table(s, cat, "embeddings")
    Cube(
      name = "embeddings",
      fact = emb,
      dimensions = Map(
        "label" -> Dimension("label", col("label"))),
      metrics = Map(
        "vectors" -> Metric.countAll("vectors"),
        "semanticSurvivors" -> {
          def make(bound: Map[String, Any]): Metric = {
            def thresholdArg: Double = bound("threshold") match {
              case d: Double => d
              case i: Int => i.toDouble
              case other => throw new CubeQueryException(
                s"semanticSurvivors threshold must be numeric, got $other")
            }
            def nListsArg: Int = bound("nLists") match {
              case i: Int if i >= 0 => i // 0 = occupancy-adaptive √n cells
              case other => throw new CubeQueryException(
                "semanticSurvivors nLists must be a non-negative integer " +
                  s"(0 = adaptive √n cells), got $other")
            }
            Metric("semanticSurvivors",
              build = _ => throw new CubeQueryException(
                "semanticSurvivors is plan-backed: flat grouping only"),
              planBuild = Some { (fact, keys, pred) =>
                graft.llm.Similarity.semanticSurvivorsPlan(
                  fact, keys, col("vec_id"), col("embedding"),
                  thresholdArg, nListsArg, seed = 7L, pred = pred)
              },
              // centroids are TRAINED at compile and baked as literals —
              // an index snapshot; CubeRunner must not plan-cache it
              snapshotsData = true,
              applyArgFn = Some { (k, v) =>
                if (bound.contains(k)) make(bound + (k -> v))
                else throw new CubeQueryException(
                  s"metric 'semanticSurvivors' takes no argument '$k' " +
                    s"(has: ${bound.keys.mkString(",")})")
              })
          }
          make(Map("threshold" -> 0.5, "nLists" -> 0))
        }),
      selectors = Map(
        "label" -> Selector("label", col("label")),
        "vecId" -> Selector("vecId", col("vec_id"))))
  }

  /** EventsCube — the stream table queried as a batch cube (the streaming
    * variants live in graft.streaming).
    */
  def eventsCube(s: SparkSession, d: String): Cube =
    eventsCube(s, PathCatalog(d))

  def eventsCube(s: SparkSession, cat: Catalog): Cube =
    memo(s, cat, "eventsCube")(eventsCubeOver(Tables.events(s, cat)))

  /** The SAME events declaration over a caller-supplied fact — notably a
    * STREAMING DataFrame (`Streaming.eventsStream` + watermark): a
    * parsed front-door query compiles to one declarative plan that runs
    * identically live and batch (StreamingSpec "parsed query served
    * from a live stream"). Cube declarations bind column expressions,
    * not tables, so streaming needs no parallel declaration. */
  def eventsCubeOver(e: org.apache.spark.sql.DataFrame): Cube = {
    Cube(
      name = "events",
      fact = e,
      dimensions = Map(
        "eventType" -> Dimension("eventType", col("event_type")),
        "user" -> Dimension("user", col("user_id")),
        "ts" -> Dimension("ts", col("ts"), fields = Map(
          "hour" -> (c => F.date_trunc("hour", c)),
          "day" -> (c => c.cast("date")),
          "minute" -> (c => F.date_trunc("minute", c)))),
        // deterministic experiment arm (llm/Splits hash bucket): constant
        // per user across runs and engines, so retention/conversion read-
        // outs slice by A/B assignment through the front door
        "arm" -> Dimension("arm",
          graft.llm.Splits.hashBucket(col("user_id"), 4)),
        // gap-based session window (30 min, Streaming.sessionAggs'
        // semantics) as a first-class dimension: the compiler groups on
        // the expression Column directly, so Spark's session-window
        // rewrite fires in BOTH batch and streaming — one parsed
        // document serves the sessionization read-out live (StreamingSpec
        // "parsed SESSION-WINDOW query served from a live stream").
        // Sliced as the whole {start, end} struct: sub-fields would wrap
        // the expression in GetStructField, which the session-window
        // grouping rewrite doesn't match.
        "session" -> Dimension("session",
          F.session_window(col("ts"), "30 minutes"))),
      metrics = Map(
        "count" -> Metric.countAll("count"),
        "sumValue" -> Metric.sumOf("sumValue", col("value")).mapValue(F.round(_, 2)),
        "avgValue" -> Metric.avgOf("avgValue", col("value")).mapValue(F.round(_, 4)),
        "uniqueUsers" -> Metric.uniqExact("uniqueUsers", col("user_id")),
        // KMV/theta distinct sketch (functions/KmvSketch) as a front-
        // door metric: deterministic (xxhash64), FILTER-composable —
        // the predicate nulls the hash so non-matching rows skip the
        // sketch, never pollute it (xxhash64(null) is NOT null, hence
        // the explicit null guard: a NULL user_id must skip the sketch
        // the same way count_distinct skips it, not contribute the
        // seed hash as a phantom distinct value).
        "uniqueUsersKmv" -> Metric("uniqueUsersKmv", p => {
          val h = F.when(col("user_id").isNotNull, F.xxhash64(col("user_id")))
          graft.functions.KmvSketch.estimateDistinct(
            graft.functions.KmvSketch(1024)(
              p.map(pp => F.when(pp, h)).getOrElse(h)), 1024)
        }),
        // cohort retention as a METRIC (ClickHouse retention): needs a
        // per-user flag level under the slice grouping, so it is plan-
        // backed (operators/Funnel.retentionJson). Value = JSON
        // [n_cohort, retained_wk2, retained_wk4] per group.
        "retentionWeekly" -> Metric("retentionWeekly",
          build = _ => throw new CubeQueryException(
            "retentionWeekly is plan-backed: flat grouping only"),
          planBuild = Some { (fact, keys, pred) =>
            graft.operators.Funnel.retentionJson(fact, keys, col("user_id"), Seq(
              col("event_type") === "signup" &&
                col("ts") < F.lit("2024-01-04").cast("timestamp"),
              col("ts") >= F.lit("2024-01-08").cast("timestamp") &&
                col("ts") < F.lit("2024-01-15").cast("timestamp"),
              col("ts") >= F.lit("2024-01-22").cast("timestamp") &&
                col("ts") < F.lit("2024-01-29").cast("timestamp")), pred)
          }),
        // estimated |view-users ∩ purchase-users| per slice group —
        // HLL inclusion–exclusion (operators/Overlap), plan-backed like
        // retention: three conditional sketches per group, one hash agg.
        // The error estimand is |A|+|B|+|A∪B|, not the intersection
        // (Overlap scaladoc); q149 carries the exact-anchored bound.
        "viewPurchaseOverlap" -> Metric("viewPurchaseOverlap",
          build = _ => throw new CubeQueryException(
            "viewPurchaseOverlap is plan-backed: flat grouping only"),
          planBuild = Some { (fact, keys, pred) =>
            graft.operators.Overlap.overlapPlan(fact, keys, col("user_id"),
              col("event_type") === "view", col("event_type") === "purchase",
              pred)
          }),
        // parameterized bounded-state distinct (ClickHouse uniqUpTo(N)):
        // exact while <= n, n+1 once exceeded — state capped at n+1
        // values per group; n is a metric arg, FILTER-composable
        "usersUpTo" -> {
          def make(bound: Map[String, Any]): Metric = {
            def nArg: Int = bound("n") match {
              case i: Int => i
              case other => throw new CubeQueryException(
                s"usersUpTo n must be an integer, got $other")
            }
            Metric("usersUpTo",
              build = p => graft.functions.UniqUpTo(nArg)(
                p.map(pr => F.when(pr, col("user_id"))).getOrElse(col("user_id"))),
              applyArgFn = Some { (k, v) =>
                if (bound.contains(k)) make(bound + (k -> v))
                else throw new CubeQueryException(
                  s"metric 'usersUpTo' takes no argument '$k' (has: ${bound.keys.mkString(",")})")
              })
          }
          make(Map("n" -> 100))
        },
        // total completed view→signup→purchase sequences (ClickHouse
        // sequenceCount) per slice group — plan-backed like retention:
        // the greedy chain scan needs a per-user level under the slice
        // grouping (operators/Funnel.sequenceTotalPlan). The whale cap
        // is a metric ARG (dispatched like mixTokens' budget):
        // `maxEventsPerUser: n` bounds per-user aggregation state at 2n
        // everywhere incl. map-side partials (functions/EarliestN) —
        // the front door for "don't let one bot account own a reducer".
        // 0 (the default) = uncapped.
        "seqConversions" -> {
          def make(bound: Map[String, Any]): Metric = {
            def capArg: Option[Int] = bound("maxEventsPerUser") match {
              case 0 => None
              case i: Int if i > 0 => Some(i)
              case other => throw new CubeQueryException(
                "seqConversions maxEventsPerUser must be a non-negative " +
                  s"integer (0 = uncapped), got $other")
            }
            Metric("seqConversions",
              build = _ => throw new CubeQueryException(
                "seqConversions is plan-backed: flat grouping only"),
              planBuild = Some { (fact, keys, pred) =>
                graft.operators.Funnel.sequenceTotalPlan(fact, keys,
                  col("user_id"), col("ts"), col("event_type"),
                  Seq("view", "signup", "purchase"), pred,
                  maxEventsPerUser = capArg)
              },
              applyArgFn = Some { (k, v) =>
                if (bound.contains(k)) make(bound + (k -> v))
                else throw new CubeQueryException(
                  s"metric 'seqConversions' takes no argument '$k' " +
                    s"(has: ${bound.keys.mkString(",")})")
              })
          }
          make(Map("maxEventsPerUser" -> 0))
        }),
      selectors = Map(
        "eventType" -> Selector("eventType", col("event_type")),
        "value" -> Selector("value", col("value")),
        "ts" -> Selector("ts", col("ts")),
        "user" -> Selector("user", col("user_id"))))
  }

  /** Funnel cube: the per-user funnel-stage frame AS a cube fact — any
    * derived DataFrame is a legal fact, so event-sequence analytics
    * compose with the whole front door (slices, selectors, options).
    * One row per user with funnel activity; `stage` = furthest
    * signup→view→purchase step within 7 days of first signup.
    */
  def funnelCube(s: SparkSession, d: String): Cube =
    funnelCube(s, PathCatalog(d))

  def funnelCube(s: SparkSession, cat: Catalog): Cube = memo(s, cat, "funnelCube") {
    val stages = graft.operators.Funnel.funnelStages(
      Tables.events(s, cat), col("user_id"), col("ts"), col("event_type"),
      Seq("signup", "view", "purchase"), windowMicros = 7L * 86400 * 1000000)
    Cube(
      name = "funnel",
      fact = stages,
      dimensions = Map("stage" -> Dimension("stage", col("stage"))),
      metrics = Map("users" -> Metric.countAll("users")),
      selectors = Map(
        "stage" -> Selector("stage", col("stage")),
        "user" -> Selector("user", col("user_id"))))
  }

  /** EventsCube + a daily SKETCH rollup alternative source — optimal-
    * table selection for a NON-ADDITIVE metric (the AggregatingMergeTree
    * pattern behind the reference's ClickHouse backend): each rollup
    * cell stores an HLL sketch of its users, so `uniqueUsersApprox`
    * re-aggregates by sketch UNION, which is lossless at fixed lgK
    * (PropertySpec) — the rollup path returns BIT-IDENTICAL estimates
    * to sketching the raw fact. In production the rollup is a
    * materialized table; here it's derived from the fixture so specs can
    * prove fact-path == rollup-path.
    */
  def eventsCubeWithSketchRollup(s: SparkSession, d: String): Cube =
    eventsCubeWithSketchRollup(s, PathCatalog(d))

  def eventsCubeWithSketchRollup(s: SparkSession, cat: Catalog): Cube =
    memo(s, cat, "eventsCubeWithSketchRollup")(
      eventsCubeWithSketchRollup(s, cat, rollup = None))

  /** `rollup = Some(df)`: serve the daily_sketch source from a
    * MATERIALIZED cell table (e.g. one maintained live by
    * [[graft.streaming.Streaming.maintainSketchRollup]]) instead of
    * recomputing cells from the fact on every query. */
  def eventsCubeWithSketchRollup(s: SparkSession, cat: Catalog,
      rollup: Option[org.apache.spark.sql.DataFrame]): Cube = {
    val base = eventsCube(s, cat)
    val day = col("ts").cast("date")
    val daily = rollup.getOrElse(dailySketchCells(base.fact))
    def filtered(c: org.apache.spark.sql.Column, p: Option[org.apache.spark.sql.Column]) =
      p.map(pr => F.when(pr, c)).getOrElse(c)
    base.copy(
      dimensions = base.dimensions +
        ("day" -> Dimension("day", day)),
      selectors = base.selectors +
        ("day" -> Selector("day", day)),
      metrics = base.metrics +
        ("uniqueUsersApprox" -> Metric("uniqueUsersApprox",
          p => F.hll_sketch_estimate(
            F.hll_sketch_agg(filtered(col("user_id"), p), F.lit(14))))) +
        // GK-based both ways: accuracy 100 == the cells' eps 0.01
        ("medianValueApprox" -> Metric("medianValueApprox",
          p => F.percentile_approx(filtered(col("value"), p), F.lit(0.5), F.lit(100)))),
      altSources = Seq(CubeSource(
        name = "daily_sketch",
        df = daily,
        servesDimensions = Set("day", "eventType"),
        servesMetrics = Set("count", "uniqueUsersApprox", "medianValueApprox"),
        cost = 1,
        dimOverrides = Map(
          "day" -> Dimension("day", col("day")),
          "eventType" -> Dimension("eventType", col("event_type"))),
        selectorOverrides = Map(
          "day" -> Selector("day", col("day")),
          "eventType" -> Selector("eventType", col("event_type"))),
        metricOverrides = Map(
          "count" -> Metric("count",
            p => F.coalesce(F.sum(filtered(col("cnt_p"), p)), F.lit(0L))),
          "uniqueUsersApprox" -> Metric("uniqueUsersApprox",
            p => F.hll_sketch_estimate(
              F.hll_union_agg(filtered(col("uu_sk"), p)))),
          "medianValueApprox" -> Metric("medianValueApprox",
            p => graft.functions.QuantileSketch.quantileUnion(0.5, 0.01)(
              filtered(col("q_sk"), p)))))))
  }

  /** The daily sketch-cell aggregation shared by the on-the-fly rollup
    * source and the streaming maintainer: per (day, event_type), an HLL
    * user sketch, a GK quantile cell, and a plain count. */
  def dailySketchCells(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(
        F.hll_sketch_agg(col("user_id"), F.lit(14)).as("uu_sk"),
        graft.functions.QuantileSketch.quantileCell(0.01)(col("value")).as("q_sk"),
        F.count(F.lit(1)).as("cnt_p"))
}
