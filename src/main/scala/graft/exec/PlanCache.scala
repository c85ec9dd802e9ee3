package graft.exec

import graft.parse.QueryParser.Element
import graft.query.CubeQuery
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  ExchangeQueryStageExec}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Compiled-plan memoization per canonical query — the
  * response_builder.rb:27-38 analogue: the reference synthesizes (and
  * caches) a response class per (tree-shape, column-map); the Spark
  * equivalent of that per-shape one-off cost is Catalyst analysis +
  * optimization + whole-stage codegen, paid lazily on a DataFrame's
  * first action. Caching the DataFrame reuses its QueryExecution, so a
  * repeated query runs at the warm number (BASELINE.md: cold is 2–4×
  * warm). Literal values are part of the key, not just the shape —
  * Spark plans embed literals, and re-binding them soundly would mean
  * parameterized plans; repeat-identical queries (dashboards, polling)
  * are the case the reference optimizes too.
  *
  * Entries serve their first run's data. That was always so for any
  * plan with an exchange, JDBC sources included: a re-collected
  * adaptive plan replays the shuffle output its first run materialized
  * and reads no source. So a hit SETTLES its entry into the rows
  * themselves when re-running the plan could read nothing else — the
  * plan is an adaptive one whose final plan is fixed (it has run),
  * every leaf of that final plan is a materialized exchange stage or a
  * local table, and every expression in it is deterministic. The hit
  * collects the frame once, the entry keeps those rows with their
  * schema and the plan string of a local relation over them, and the
  * hit returns them; later hits return its rows — no Spark execution.
  * The entry holds its result once: [[getOrCompile]] serves the same
  * entry as a frame, and for a settled one builds a local relation over
  * its rows on each call. A result of more than 10,000 rows (the
  * row cap), a final stage that scans a source, or a nondeterministic
  * one is served as before.
  *
  * Access-ordered LRU, bounded — janino classes pin metaspace, and a
  * settled entry holds its rows, so the bound matters for a long-lived
  * server.
  */
final class PlanCache(maxEntries: Int = 128) {
  import PlanCache.{Frame, Served, Settled}

  /** A cached entry; `claimed` admits one settle attempt, ever. */
  private final class Entry(@volatile var served: Served) {
    val claimed = new AtomicBoolean(false)
  }
  private val map = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > maxEntries
  }
  private var _hits = 0L
  private var _misses = 0L

  /** The one lookup. Single-flight: the build runs under the lock, so a
    * concurrent burst of the same shape compiles ONCE and the rest block
    * briefly then hit. Serializing first-builds of different shapes is
    * the accepted cost — a build is tens of ms of Catalyst work, and the
    * entire point of the cache is that builds are rare. A hit's settle
    * runs outside the lock; concurrent hits of the entry meanwhile serve
    * its frame. */
  private[exec] def lookup(key: String)(build: => DataFrame): Served = {
    val (e, hit) = synchronized {
      val cached = map.get(key)
      if (cached != null) { _hits += 1; (cached, true) }
      else { _misses += 1; val e = new Entry(Frame(build)); map.put(key, e); (e, false) }
    }
    if (hit) settle(e) else e.served
  }

  /** The frame view of [[lookup]]: a local relation over a settled
    * entry's rows. */
  def getOrCompile(key: String)(build: => DataFrame): DataFrame = lookup(key)(build) match {
    case Frame(df) => df
    case st: Settled => st.spark.createDataFrame(st.rows.asJava, st.schema)
  }

  /** What the entry serves, settled into its rows first when it
    * qualifies. A settle that throws or finds more than the row cap
    * leaves the entry as it was, and it is not tried again. */
  private def settle(e: Entry): Served = e.served match {
    case f @ Frame(df) if PlanCache.replaysOnlyStages(df) && e.claimed.compareAndSet(false, true) =>
      try {
        val rows = df.collect()
        if (rows.length > PlanCache.SettleRowCap) f
        else {
          val seq = rows.toSeq
          val local = df.sparkSession.createDataFrame(seq.asJava, df.schema)
          val settled = Settled(df.sparkSession, df.schema, seq,
            local.queryExecution.executedPlan.toString)
          e.served = settled
          settled
        }
      } catch { case NonFatal(_) => f }
    case served => served
  }

  def hits: Long = synchronized(_hits)
  def misses: Long = synchronized(_misses)
}

object PlanCache {
  /** What a lookup serves: a frame to collect, or a settled entry's rows
    * with their schema and the physical plan string of a local relation
    * over them (computed once, when the entry settles). */
  private[exec] sealed trait Served
  private[exec] final case class Frame(df: DataFrame) extends Served
  private[exec] final case class Settled(spark: SparkSession, schema: StructType,
      rows: Seq[Row], plan: String) extends Served {
    val columns: Seq[String] = schema.fieldNames.toSeq
  }

  /** Largest result a settled entry holds, in rows. */
  private val SettleRowCap = 10000

  /** Whether collecting `df` again can only read what its first run
    * materialized: its adaptive plan is final, every leaf of that plan
    * is an exchange stage or a local table, and every expression in it
    * is deterministic. */
  private def replaysOnlyStages(df: DataFrame): Boolean =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if a.isFinalPlan =>
        val plan = a.finalPhysicalPlan
        plan.collectLeaves().forall {
          case _: ExchangeQueryStageExec | _: LocalTableScanExec => true
          case _ => false
        } && !plan.exists(_.expressions.exists(!_.deterministic))
      case _ => false
    }

  /** Canonical cache key: session identity + session time zone +
    * database root + cube + query data + response shape. The zone is in
    * it because timestamp literals, casts and `hour`/`date` fields are
    * evaluated in it: an entry settled under one zone would replay rows
    * computed in that zone after a switch. Serialized with TYPE TAGS, not
    * structural toString: `Op("flag","eq",Some(25))` and
    * `Op("flag","eq",Some("25"))` render identically under toString but
    * compile to different plans (numeric vs string comparison under
    * Spark's coercion), so an untyped key would silently share one
    * cached DataFrame between semantically different queries. Strings
    * are length-prefixed so no value can forge a delimiter. */
  def key(spark: SparkSession, dir: String, cubeName: String, nested: Boolean,
      q: CubeQuery, root: Element): String =
    canon((System.identityHashCode(spark), spark.conf.get("spark.sql.session.timeZone"),
      dir, cubeName, nested,
      (q.slices, q.measures, q.wheres, q.options, q.grouping), root))

  /** Typed canonical form of the query-data value graph (ADTs, tuples,
    * Options, Seqs, primitive leaves). Every leaf carries its runtime
    * type; strings are `s<len>:<bytes>`, so "25" ≠ 25 and no embedded
    * delimiter or parenthesis can alias two structures. */
  private[graft] def canon(v: Any): String = v match {
    case null => "z"
    case s: String => s"s${s.length}:$s"
    case i: Int => s"i$i"
    case l: Long => s"l$l"
    case d: Double => s"d$d"
    case f: Float => s"f$f"
    case sh: Short => s"h$sh"
    case by: Byte => s"y$by"
    case b: Boolean => s"b$b"
    case bd: BigDecimal => s"m$bd"
    case bi: BigInt => s"g$bi"
    case None => "n"
    case Some(x) => s"o(${canon(x)})"
    case xs: Seq[_] => xs.map(canon).mkString("q(", ",", ")")
    case m: Map[_, _] => // deterministic regardless of insertion order
      m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }
        .sorted.mkString("M(", ",", ")")
    case p: Product =>
      p.productIterator.map(canon).mkString(p.productPrefix + "(", ",", ")")
    case other => s"${other.getClass.getName}:$other"
  }
}
