package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed database-registry entries (O17 — the reference's
  * cube_field.rb:33-38 `connected_to(database:)` routes a query to a
  * named *connection*, not a directory; registry entries are therefore
  * heterogeneous catalogs: a lakehouse path, a JDBC warehouse, ...).
  */
sealed trait Catalog {
  /** Stable identity, used in plan-cache keys and error messages. */
  def id: String
  def load(spark: SparkSession, table: String): DataFrame
}

/** Per-session memo of values built from immutable paths. Its two
  * callers are parquet reads — `spark.read.parquet` pays a file listing
  * + footer/schema read EVERY call, and cube construction eagerly
  * builds every join-spec table, so across a large query registry that
  * is hundreds of redundant footer reads — and the path-catalog cube
  * declarations in [[graft.cubes.Cubes]]. DataFrames (and cubes over
  * them) are immutable plans, so sharing one per (session, key) is safe
  * for immutable datasets (the engine's source contract; a mutated
  * path would need `REFRESH`-style invalidation, like Spark's own table
  * cache). Entries are never evicted. */
object ReadCache {
  /** One key's value, built by the first caller to force it; concurrent
    * callers wait for that build. A build that throws leaves it unset. */
  private final class Cell(build: => AnyRef) { lazy val value: AnyRef = build }
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Cell]()

  /** The value memoized under (`spark`, `key`), built once on first use.
    * The key must determine the value's type and everything the build
    * reads. A build may itself call [[memo]] (a cube build reads
    * parquet), which a nested `computeIfAbsent` on one map forbids; so
    * the map only stores the key's [[Cell]], and the build runs outside
    * it when the cell is forced. Concurrent first calls for one key
    * build once: a cold parquet read launches a schema job, and a
    * duplicate per racing thread showed as slower warm-up. */
  def memo[A <: AnyRef](spark: SparkSession, key: Any)(build: => A): A =
    cache.computeIfAbsent((spark, key), _ => new Cell(build)).value.asInstanceOf[A]

  def parquet(spark: SparkSession, path: String): DataFrame =
    memo(spark, ("parquet", path))(spark.read.parquet(path))
}

/** A lakehouse root: one parquet dataset per table name. */
final case class PathCatalog(root: String) extends Catalog {
  def id: String = root
  def load(spark: SparkSession, table: String): DataFrame =
    ReadCache.parquet(spark, s"$root/$table.parquet")
}

/** A JDBC database (parity-in-kind with the reference's named ClickHouse
  * connections). Extra options (partitionColumn / lowerBound /
  * upperBound / numPartitions, fetchsize, ...) pass straight through to
  * the Spark JDBC source — at scale a JDBC read WITHOUT a partition
  * column is a single-task scan, so production entries should carry one.
  */
final case class JdbcCatalog(
    url: String,
    options: Map[String, String] = Map.empty) extends Catalog {
  def id: String = url
  def load(spark: SparkSession, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .load()
}
