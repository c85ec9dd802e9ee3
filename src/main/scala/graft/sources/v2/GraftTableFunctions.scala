package graft.sources.v2

import graft.model.CubeQueryException
import graft.sources.Manifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** SQL TABLE-VALUED faces for the manifest's metadata/CDC reads — the
  * verbs a DOWNSTREAM consumer types when a takedown delta or an audit
  * question arrives, without touching the Scala API:
  *
  * {{{
  *   SELECT * FROM table_changes('graft.db.docs', 1, 4)
  *   SELECT * FROM table_history('graft.db.docs')
  * }}}
  *
  * `table_changes` returns [[Manifest.readChanges]]'s row-level feed
  * (the table's columns plus `_change_type` ∈ insert|delete) between
  * two retained versions; `table_history` returns the
  * [[Manifest.history]] ledger (one row per retained version). Both
  * are registered as Catalyst TABLE FUNCTIONS by
  * [[graft.functions.GraftFunctions.register]], so the returned plan is
  * the manifest read's own DISTRIBUTED plan — the feed's cost stays
  * ∝ the commits being explained (the readChanges contract), never a
  * driver collect.
  *
  * The first argument resolves like a user would expect: a
  * `catalog.ns.table` reference is mapped through that catalog's
  * configured warehouse root (`spark.sql.catalog.<name>.root`), and
  * anything else is taken as a direct table path — the same dual
  * addressing the maintenance procedures use. Arguments must be
  * literals: the table and version pin WHICH snapshot diff is read at
  * analysis time, exactly like `VERSION AS OF`.
  */
object GraftTableFunctions {

  /** `catalog.ns.t` → `<root>/ns/t` when `catalog` has a configured
    * root; otherwise `ref` is already a filesystem path. */
  private[v2] def resolveTableRef(spark: SparkSession, ref: String): String = {
    val parts = ref.split('.')
    if (parts.length >= 2) {
      spark.conf.getOption(s"spark.sql.catalog.${parts.head}.root")
        .foreach(root => return (root +: parts.tail.toSeq).mkString("/"))
    }
    ref
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, _) if v != null => v.toString
    case other => throw new CubeQueryException(
      s"$what must be a string literal, got $other")
  }

  private def tableArg(exprs: Seq[Expression]): String = {
    val spark = SparkSession.active
    val path = resolveTableRef(spark, strLit(exprs.head, "table"))
    if (!Manifest.isManifested(spark, path))
      throw new CubeQueryException(
        s"table_changes/table_history: $path is not a manifested table")
    path
  }

  /** A version argument: an integer literal IS the version; a string
    * literal resolves as a TAG name — the same dual addressing as
    * `VERSION AS OF`, so `table_changes(t, 'corpus-v1', 'corpus-v2')`
    * explains what changed between two releases — and, when no tag
    * matches and the string parses as a TIMESTAMP, as the newest
    * version committed at or before that instant (the readAsOf rule),
    * so `table_changes(t, '2024-01-01', '2024-02-01')` explains a
    * wall-clock window without the consumer mapping instants to
    * versions by hand. */
  private def versionArg(spark: SparkSession, path: String,
      e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case Literal(v: UTF8String, _) if v != null =>
      val s0 = v.toString
      // only a genuinely MISSING tag falls through to the timestamp
      // interpretation — branch on tagVersionOpt's None rather than
      // sniffing an error message, so an unrelated I/O failure reading
      // the tag file still propagates instead of silently rerouting
      // the query to a different version. (Bare-integer strings stay
      // timestamp-eligible: the epoch-millis string form is part of
      // the table_changes contract.)
      Manifest.tagVersionOpt(spark, path, s0).getOrElse {
        scala.util.Try(graft.sources.ManifestStream.parseTs(s0)).toOption match {
          case Some(ts) => Manifest.versionAt(spark, path, ts)
          case None => sys.error(
            s"Manifest.tagVersion: no tag '$s0' on $path")
        }
      }
    case other => throw new CubeQueryException(
      s"$what must be an integer literal, a tag-name string literal, " +
        s"or a timestamp string literal, got $other")
  }

  private def tableChanges(exprs: Seq[Expression]): LogicalPlan = {
    if (exprs.size != 3)
      throw new CubeQueryException(
        "table_changes takes (table, from_version, to_version), got " +
          s"${exprs.size} argument(s)")
    val spark = SparkSession.active
    val path = tableArg(exprs)
    val v1 = versionArg(spark, path, exprs(1), "from_version")
    val v2 = versionArg(spark, path, exprs(2), "to_version")
    val retained = Manifest.versions(spark, path)
    Seq(v1, v2).foreach(v => if (!retained.contains(v))
      throw new CubeQueryException(
        s"table_changes: $path has no retained version $v (vacuumed?) — " +
          s"retained: ${retained.mkString(",")}"))
    Manifest.readChanges(spark, path, v1, v2).queryExecution.analyzed
  }

  private def tableHistory(exprs: Seq[Expression]): LogicalPlan = {
    if (exprs.size != 1)
      throw new CubeQueryException(
        s"table_history takes (table), got ${exprs.size} argument(s)")
    val spark = SparkSession.active
    Manifest.history(spark, tableArg(exprs)).queryExecution.analyzed
  }

  /** `SELECT * FROM table_branch('cat.db.t', 'audit')` — read a
    * writable branch's HEAD from SQL: the same DV-masked,
    * committed-schema distributed read as the main table's, pinned to
    * the branch chain ([[Manifest.readBranch]]). */
  private def tableBranch(exprs: Seq[Expression]): LogicalPlan = {
    if (exprs.size != 2)
      throw new CubeQueryException(
        s"table_branch takes (table, branch_name), got " +
          s"${exprs.size} argument(s)")
    val spark = SparkSession.active
    val path = tableArg(exprs)
    Manifest.readBranch(spark, path, strLit(exprs(1), "branch_name"))
      .queryExecution.analyzed
  }

  /** `SELECT * FROM table_branches('cat.db.t')` — the branch ledger:
    * one row per branch (name, head version on the branch's own
    * chain, fork version on main, entry count). Driver metadata
    * only. */
  private def tableBranches(exprs: Seq[Expression]): LogicalPlan = {
    if (exprs.size != 1)
      throw new CubeQueryException(
        s"table_branches takes (table), got ${exprs.size} argument(s)")
    val spark = SparkSession.active
    val path = tableArg(exprs)
    import org.apache.spark.sql.{types => T}
    val schema = T.StructType(Seq(
      T.StructField("branch", T.StringType, nullable = false),
      T.StructField("head_version", T.LongType, nullable = false),
      T.StructField("forked_from", T.LongType),
      T.StructField("n_entries", T.IntegerType, nullable = false)))
    val rows = Manifest.branches(spark, path).map { n =>
      val h = Manifest.branchHead(spark, path, n)
      org.apache.spark.sql.Row(n, h.version,
        h.meta.get("forked_from").map(_.toLong).orNull, h.paths.size)
    }
    spark.createDataFrame(scala.jdk.CollectionConverters
      .SeqHasAsJava(rows).asJava, schema).queryExecution.analyzed
  }

  /** Registration table shared by the extension and live-session
    * paths. */
  val all: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "table_changes" -> tableChanges,
    "table_history" -> tableHistory,
    "table_branch" -> tableBranch,
    "table_branches" -> tableBranches)
}
