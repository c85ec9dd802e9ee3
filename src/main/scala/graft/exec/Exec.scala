package graft.exec

import graft.model.{Cube, CubeQueryException}
import graft.parse.QueryParser
import graft.query.CubeQuery
import graft.respond.Renest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Execution layer — the cube_field.rb analogue (reference
  * lib/activecube/graphql/cube_field.rb:25-54): database routing (O17),
  * the pre-execution query-extension hook (O18), stats collection (O19),
  * and the execute/tabular contract (O20).
  */

/** O17 — `cube.connected_to(database:)` (cube_field.rb:33-38): a named
  * registry of catalogs; the whole query runs against the chosen one.
  * Entries are TYPED ([[graft.sources.Catalog]]): a lakehouse path for
  * the fixtures, a JDBC url for a warehouse — heterogeneous kinds behind
  * one name space, like the reference's named connections.
  */
final case class DatabaseRegistry(
    databases: Map[String, graft.sources.Catalog], default: String) {
  def catalog(db: Option[String]): graft.sources.Catalog = {
    val name = db.getOrElse(default)
    databases.getOrElse(name,
      throw new CubeQueryException(s"unknown database '$name' (have: ${databases.keys.mkString(",")})"))
  }
  /** Legacy accessor for path-backed entries. */
  def dir(db: Option[String]): String = catalog(db) match {
    case graft.sources.PathCatalog(root) => root
    case c => throw new CubeQueryException(s"database '${c.id}' is not path-backed")
  }
}

object DatabaseRegistry {
  /** All-parquet registry (the fixture shape). */
  def paths(m: Map[String, String], default: String): DatabaseRegistry =
    DatabaseRegistry(
      m.map { case (k, v) => k -> (graft.sources.PathCatalog(v): graft.sources.Catalog) },
      default)
}

/** O19 — execution telemetry (cube_field.rb:51-52 `stats`/`headers`
  * passthrough): wall time, output rows, and the physical plan of the
  * run, filled on the calling thread once the rows are in hand.
  * `durationNs` is the wall time of the collect that produced the rows.
  * A hit served from a settled [[PlanCache]] entry runs no Spark
  * execution: its `durationNs` is the cache lookup that served the rows
  * (on the hit that settles the entry, that lookup holds its one
  * collect), and its `physicalPlan` is the entry's local relation
  * (`LocalTableScan`). */
final class ExecStats {
  var durationNs: Long = -1
  var rowCount: Long = -1
  var physicalPlan: String = ""
  override def toString: String =
    f"ExecStats(duration=${durationNs / 1e6}%.1f ms, rows=$rowCount)"
}

/** End-to-end runner: parse → hook → compile → renest → collect. */
object CubeRunner {

  /** O18 — `object.append_cube_query` (cube_field.rb:50): callers (auth,
    * tenant scoping) may transform the built query before compilation. */
  type QueryHook = CubeQuery => CubeQuery

  final case class Result(columns: Seq[String], rows: Seq[Row], stats: ExecStats)

  def execute(
      spark: SparkSession,
      registry: DatabaseRegistry,
      cubeFor: (SparkSession, graft.sources.Catalog) => Cube,
      queryJson: String,
      database: Option[String] = None,
      hook: QueryHook = identity,
      nested: Boolean = true,
      cache: Option[PlanCache] = None): Result = {

    val cat = registry.catalog(database) // O17
    val cube = cubeFor(spark, cat)
    val parsed = QueryParser.parse(cube, queryJson)
    val q = hook(parsed.query) // O18
    def build: DataFrame = {
      val flat = q.toDF
      if (nested) Renest.nest(flat, parsed.root, cube.name) else flat
    }
    // memoized per canonical (post-hook) query — response_builder.rb:27-38.
    // A cached entry serves its first run's data: a repeat replays the
    // plan's materialized shuffle output, and once it can read nothing
    // else the cache settles the entry into its rows (PlanCache), which
    // later hits return with no Spark execution.
    // EXCEPT metrics that materialize data into the plan (snapshotsData,
    // e.g. semanticSurvivors' centroids trained at compile): caching one
    // would replay a frozen index after the table changed, so those
    // compile fresh every time.
    // checked against EVERY registry that could resolve the name — the
    // Compiler binds metrics through optimal-source selection, so an
    // alt-source metricOverride that snapshots must also bypass.
    // statsOnly plans are the same hazard in option form: the served
    // LocalRelation freezes the sidecar fold at compile time, so a
    // cached one would replay stale stats after the table moved.
    // Manifest-backed cubes are the hazard in SOURCE form: compiling
    // resolves the snapshot (and any driver file pruning) to a frozen
    // file list, so a cached plan would keep serving the old version
    // after a commit — every manifested fact compiles fresh. The base
    // cube a path-catalog `cubeFor` returns is memoized (Cubes), but a
    // manifested caller re-reads its fact per request
    // (`copy(fact = Manifest.read(..))`), so only the cache could
    // replay a stale snapshot.
    val cacheable = q.measures.forall { case (_, m) =>
      !cube.metrics.get(m.metric).exists(_.snapshotsData) &&
        !cube.altSources.exists(_.metricOverrides.get(m.metric).exists(_.snapshotsData)) } &&
      !q.options.contains(graft.query.QueryOpt.StatsOnly) &&
      cube.manifestTable.isEmpty
    val stats = new ExecStats // O19
    val t0 = System.nanoTime()
    val served = cache match {
      case Some(c) if cacheable =>
        c.lookup(PlanCache.key(spark, cat.id, cube.name, nested, q, parsed.root))(build)
      case _ => PlanCache.Frame(build)
    }
    val (cols, rows) = served match {
      case st: PlanCache.Settled =>
        stats.durationNs = System.nanoTime() - t0
        stats.physicalPlan = st.plan
        (st.columns, st.rows)
      case PlanCache.Frame(df) =>
        val t1 = System.nanoTime()
        val out = Renest.tabular(df) // O20
        stats.durationNs = System.nanoTime() - t1
        stats.physicalPlan = df.queryExecution.executedPlan.toString
        out
    }
    stats.rowCount = rows.size.toLong
    Result(cols, rows, stats)
  }
}
