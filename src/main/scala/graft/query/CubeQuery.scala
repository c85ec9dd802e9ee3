package graft.query

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Predicate ADT (reference parse_tree.rb:149-193: selector operator
  * dispatch, AND of hash entries / array elements, `any:` OR-trees).
  * Predicates are symbolic — bound to a cube's selector columns only at
  * compile time, so the same query tree can compile against any source.
  */
sealed trait Pred
object Pred {
  /** One selector operator application, e.g. Op("shipDate", "between",
    * Some(Seq(a, b))). `arg = None` semantics mirror parse_tree.rb:9,158-160:
    * nullable ops (eq/notEq/is/not) become IS [NOT] NULL; all other ops with
    * a None arg are silently pruned at compile time (absent GraphQL
    * variable ≠ IS NULL).
    */
  final case class Op(selector: String, op: String, arg: Option[Any]) extends Pred
  final case class And(ps: Seq[Pred]) extends Pred
  final case class Or(ps: Seq[Pred]) extends Pred

  /** The operator vocabulary (reference parse_tree.rb:149-156 dispatches
    * any op the selector responds to; this is the activecube set). */
  val Nullable: Set[String] = Set("eq", "notEq", "is", "not") // parse_tree.rb:9
  val AllOps: Set[String] = Nullable ++ Set(
    "gt", "lt", "gteq", "lteq", "in", "notIn", "like", "notLike", "between")

  // builder sugar
  def eq(s: String, v: Any): Pred = Op(s, "eq", Option(v))
  def notEq(s: String, v: Any): Pred = Op(s, "notEq", Option(v))
  def gt(s: String, v: Any): Pred = Op(s, "gt", Option(v))
  def lt(s: String, v: Any): Pred = Op(s, "lt", Option(v))
  def gteq(s: String, v: Any): Pred = Op(s, "gteq", Option(v))
  def lteq(s: String, v: Any): Pred = Op(s, "lteq", Option(v))
  def in(s: String, vs: Seq[Any]): Pred = Op(s, "in", Some(vs))
  def notIn(s: String, vs: Seq[Any]): Pred = Op(s, "notIn", Some(vs))
  def like(s: String, v: String): Pred = Op(s, "like", Some(v))
  def notLike(s: String, v: String): Pred = Op(s, "notLike", Some(v))
  def between(s: String, lo: Any, hi: Any): Pred = Op(s, "between", Some(Seq(lo, hi)))
  def isNull(s: String): Pred = Op(s, "is", None)
  def isNotNull(s: String): Pred = Op(s, "not", None)
  def and(ps: Pred*): Pred = And(ps)
  def or(ps: Pred*): Pred = Or(ps)
}

/** Ordered query options (reference parse_tree.rb:46-68,127-143). The
  * reference re-orders the options hash to the literal GraphQL argument
  * order and applies them in sequence — application order is semantic
  * (`desc` before `limitBy` before `limit` ≠ any other order), so options
  * are a Seq folded left, never a Map.
  */
sealed trait QueryOpt
object QueryOpt {
  /** Sort by previously-selected *result* columns (keys), not source
    * columns — parse_tree.rb:140-141 prefixes keys with '_aq.'. */
  final case class Desc(keys: Seq[String]) extends QueryOpt
  final case class Asc(keys: Seq[String]) extends QueryOpt
  /** Sort with an integer cast (ClickHouse string-numeric columns,
    * parse_tree.rb:140-141 desc_by_integer/asc_by_integer). */
  final case class DescByInteger(keys: Seq[String]) extends QueryOpt
  final case class AscByInteger(keys: Seq[String]) extends QueryOpt
  final case class Limit(n: Int) extends QueryOpt
  final case class Offset(n: Int) extends QueryOpt
  /** ClickHouse `LIMIT n OFFSET m BY expr` — top-K rows per distinct value
    * of result column(s) `each` (parse_tree.rb:142-143). Ordering within a
    * group = the sort state current at fold time. */
  final case class LimitBy(each: Seq[String], limit: Int, offset: Int = 0) extends QueryOpt
  /** ClickHouse `ORDER BY … WITH FILL [FROM x] [TO y] [STEP n]`: densify
    * result column `key` to a fixed step after aggregation — absent
    * steps appear with numeric metrics zeroed. `step` is a validated
    * literal ("interval 1 day", "4") and defaults by the key's type;
    * `from`/`to` override the observed min/max bounds (a dashboard's
    * fixed axis) — `from` inclusive, `to` EXCLUSIVE, exactly as
    * ClickHouse; real result rows outside the pinned window are
    * preserved, never dropped. `each` gives every distinct combination
    * of those result columns its own spine. */
  final case class Fill(key: String, step: Option[String] = None,
      each: Seq[String] = Nil, from: Option[String] = None,
      to: Option[String] = None,
      interpolate: Seq[String] = Nil) extends QueryOpt
  /** TIME TRAVEL on a manifested cube source: pin the fact scan to a
    * committed snapshot — by version, or (`tsMillis`) the newest
    * snapshot at/before a wall-clock instant. The parsed front door
    * for [[graft.sources.Manifest.readVersion]]/[[graft.sources.Manifest.readAsOf]];
    * compilation rebinds the fact and disables rollup alt-sources
    * (they materialize CURRENT data and would serve the wrong epoch).
    * Position-independent: the first AsOf in the option list wins. */
  final case class AsOf(version: Option[Long],
      tsMillis: Option[Long], tag: Option[String] = None) extends QueryOpt
  /** METADATA-SERVED aggregates: route the query to
    * [[graft.sources.Manifest.statsAggregateGrouped]] — count/min/max/
    * sum folded at the driver from the ANALYZE sidecars, zero data-file
    * opens on a covered snapshot; bare-column slices, exact inclusive
    * range filters and asOf compose. Explicit opt-in with V4-style
    * loud refusal when the query shape is not servable (joined or
    * expression-valued dimensions, other filters, non-flat grouping,
    * an exotic metric, an integral result past 2⁵³). */
  case object StatsOnly extends QueryOpt
}

/** A slice: dimension plus optional chained sub-field path
  * (parse_tree.rb:29,90-91 — `date { year }` etc.). */
final case class SliceRef(dim: String, path: Seq[String] = Nil)

/** A measure: metric plus optional metric-level predicate and named
  * metric arguments (parse_tree.rb:88,111-135 — selector args become
  * conditional aggregation; any other arg is dispatched onto the metric,
  * e.g. topK's size). */
final case class MeasureRef(
    metric: String,
    filter: Option[Pred] = None,
    args: Seq[(String, Any)] = Nil)

/** Multi-grouping-set modes (no surface in the reference — each query has
  * exactly one grouping set, SURVEY §2.4 — but free via Catalyst and part
  * of a complete engine). */
sealed trait GroupingMode
object GroupingMode {
  case object Flat extends GroupingMode
  case object Rollup extends GroupingMode
  case object CubeSets extends GroupingMode
  /** Arbitrary GROUPING SETS over slice keys (ROLLUP/CUBE are the two
    * fixed shapes; this is the general form). */
  final case class Sets(sets: Seq[Seq[String]]) extends GroupingMode
}

/** Immutable fluent query builder (reference parse_tree.rb:84-107 — every
  * activecube call returns a new query; the element-tree fold reassigns).
  * Compile with [[graft.compile.Compiler]].
  */
final case class CubeQuery(
    cube: Cube,
    slices: Seq[(String, SliceRef)] = Nil,
    measures: Seq[(String, MeasureRef)] = Nil,
    wheres: Seq[Pred] = Nil,
    options: Seq[QueryOpt] = Nil,
    grouping: GroupingMode = GroupingMode.Flat) {

  def withRollup: CubeQuery = copy(grouping = GroupingMode.Rollup)
  def withCubeSets: CubeQuery = copy(grouping = GroupingMode.CubeSets)
  /** Arbitrary grouping sets over slice KEYS (validated at compile). */
  def withGroupingSets(sets: Seq[Seq[String]]): CubeQuery =
    copy(grouping = GroupingMode.Sets(sets))

  def slice(key: String, dim: String, path: String*): CubeQuery =
    copy(slices = slices :+ (key -> SliceRef(dim, path)))
  def measure(key: String, metric: String): CubeQuery =
    copy(measures = measures :+ (key -> MeasureRef(metric)))
  def measureWhen(key: String, metric: String, p: Pred): CubeQuery =
    copy(measures = measures :+ (key -> MeasureRef(metric, Some(p))))
  /** Measure with metric-level args (and optionally a FILTER predicate):
    * args are validated against the metric at compile time. */
  def measureArgs(key: String, metric: String, args: Seq[(String, Any)],
      filter: Option[Pred] = None): CubeQuery =
    copy(measures = measures :+ (key -> MeasureRef(metric, filter, args)))
  def when(p: Pred): CubeQuery = copy(wheres = wheres :+ p)

  def desc(keys: String*): CubeQuery = copy(options = options :+ QueryOpt.Desc(keys))
  def asc(keys: String*): CubeQuery = copy(options = options :+ QueryOpt.Asc(keys))
  def descByInteger(keys: String*): CubeQuery =
    copy(options = options :+ QueryOpt.DescByInteger(keys))
  def ascByInteger(keys: String*): CubeQuery =
    copy(options = options :+ QueryOpt.AscByInteger(keys))
  def asOfVersion(v: Long): CubeQuery =
    copy(options = options :+ QueryOpt.AsOf(Some(v), None))
  def asOfTimestamp(tsMillis: Long): CubeQuery =
    copy(options = options :+ QueryOpt.AsOf(None, Some(tsMillis)))
  def asOfTag(name: String): CubeQuery =
    copy(options = options :+ QueryOpt.AsOf(None, None, Some(name)))
  def statsOnly: CubeQuery =
    copy(options = options :+ QueryOpt.StatsOnly)
  def limit(n: Int): CubeQuery = copy(options = options :+ QueryOpt.Limit(n))
  def offset(n: Int): CubeQuery = copy(options = options :+ QueryOpt.Offset(n))
  def limitBy(each: Seq[String], limit: Int, offset: Int = 0): CubeQuery =
    copy(options = options :+ QueryOpt.LimitBy(each, limit, offset))
  def fill(key: String, step: Option[String] = None,
      each: Seq[String] = Nil, from: Option[String] = None,
      to: Option[String] = None, interpolate: Seq[String] = Nil): CubeQuery =
    copy(options = options :+ QueryOpt.Fill(key, step, each, from, to, interpolate))

  /** Generic option dispatch by name (reference parse_tree.rb:127-130 —
    * any argument name is tried as a method; unknown raises). */
  def option(name: String, arg: Any): CubeQuery = name match {
    case "desc" => desc(asStrings(arg): _*)
    case "asc" => asc(asStrings(arg): _*)
    case "descByInteger" | "desc_by_integer" => descByInteger(asStrings(arg): _*)
    case "ascByInteger" | "asc_by_integer" => ascByInteger(asStrings(arg): _*)
    case "limit" => limit(asInt("limit", arg))
    case "offset" => offset(asInt("offset", arg))
    case "limitBy" | "limit_by" => arg match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        limitBy(asStrings(mm("each")), asInt("limitBy.limit", mm("limit")),
          mm.get("offset").map(asInt("limitBy.offset", _)).getOrElse(0))
      case other => throw new CubeQueryException(s"limitBy needs a map, got $other")
    }
    case "fill" | "withFill" | "with_fill" => arg match {
      case s: String => fill(s)
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        fill(mm.getOrElse("key",
            throw new CubeQueryException("fill needs a 'key'")).toString,
          mm.get("step").map(_.toString),
          mm.get("each").map(asStrings).getOrElse(Nil),
          mm.get("from").map(_.toString),
          mm.get("to").map(_.toString),
          mm.get("interpolate").map(asStrings).getOrElse(Nil))
      case other => throw new CubeQueryException(s"fill needs a key or map, got $other")
    }
    case "asOf" | "as_of" => asOfVersion(asLong("asOf", arg))
    case "asOfTimestamp" | "as_of_timestamp" =>
      asOfTimestamp(asLong("asOfTimestamp", arg))
    case "asOfTag" | "as_of_tag" => arg match {
      case s: String => asOfTag(s)
      case other => throw new CubeQueryException(
        s"option 'asOfTag' needs a tag name string, got $other")
    }
    case "statsOnly" | "stats_only" => arg match {
      case true => statsOnly
      case other => throw new CubeQueryException(
        s"option 'statsOnly' takes only true, got $other")
    }
    case other => throw new CubeQueryException(s"unknown option '$other'") // V4
  }

  /** Long option values (snapshot versions, epoch millis): Int or Long. */
  private def asLong(name: String, a: Any): Long = a match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new CubeQueryException(
      s"option '$name' needs an integer, got $other")
  }

  /** Integer option values: reject anything that doesn't fit an Int
    * EXPLICITLY (a >2³¹ limit used to wrap around silently). */
  private def asInt(name: String, a: Any): Int = a match {
    case i: Int => i
    case l: Long => throw new CubeQueryException(
      s"option '$name' value $l exceeds integer range")
    case other => throw new CubeQueryException(
      s"option '$name' needs an integer, got $other")
  }

  private def asStrings(a: Any): Seq[String] = a match {
    case s: String => Seq(s)
    case xs: Seq[_] => xs.map(_.toString)
    case other => Seq(other.toString)
  }

  def toDF: DataFrame = graft.compile.Compiler.compile(this)
}
