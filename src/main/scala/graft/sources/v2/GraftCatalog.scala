package graft.sources.v2

import java.util

import graft.sources.Manifest
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{functions => F}

/** The SQL front door for manifested tables — engine-side completion
  * of O17 (the reference's `cube_field.rb:33-38` routes every query to
  * a NAMED CONNECTION; the Spark analogue of "a named connection any
  * external tool can speak" is a registered `TableCatalog`):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.v2.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/lake")
  *   spark.sql("SELECT day, count(*) FROM graft.db.events " +
  *     "WHERE day BETWEEN '2024-01-01' AND '2024-01-07' GROUP BY 1")
  *   spark.sql("SELECT * FROM graft.db.events VERSION AS OF 3")
  *   spark.sql("SELECT * FROM graft.db.events VERSION AS OF 'corpus-v1'")
  *   spark.sql("SELECT * FROM graft.db.events TIMESTAMP AS OF '2024-02-01'")
  *   spark.readStream.table("graft.db.events")   // live tail, exactly-once
  * }}}
  *
  * Every manifest capability rides along without the CubeQuery front
  * door: reads pin a SNAPSHOT at scan-build time (immune to concurrent
  * commits and, inside the retention window, to vacuum), `VERSION AS
  * OF` resolves integers to versions and anything else to a TAG,
  * `TIMESTAMP AS OF` resolves through the commit wall clock, WHERE
  * filters prune FILES at the driver through both envelope-sidecar
  * families with full OR/IN tree admission ([[Manifest.admittedFilesFor]]),
  * MoR delete vectors mask deleted rows, and an evolved snapshot
  * serves pre-evolution files with NULL new columns.
  *
  * Read path: snapshots plan through the NATIVE batch scan
  * ([[GraftNativeScan]] — admitted files as input partitions over
  * Spark's vectorized parquet reader, runtime DPP-style file skipping,
  * manifest-served CBO statistics, per-file DV masking, a
  * `_graft_file` provenance metadata column). Hive-partitioned
  * snapshots ride the same scan: directory-encoded partition values
  * are parsed at the driver, pruned against partition-column
  * predicates (static AND runtime), and supplied per file as
  * `PartitionedFile.partitionValues`. Only a claim the native
  * re-checker cannot bind falls back to the [[V1Scan]] bridge
  * ([[GraftScan]] — the JDBC source's zero-conversion pattern).
  *
  * Aggregate pushdown ([[org.apache.spark.sql.connector.read
  * .SupportsPushDownAggregates]], complete-only): `count(*)`/`count`/
  * `min`/`max`/`sum` — flat, under exact inclusive ranges, or GROUP BY
  * file-constant keys — serve from the envelope sidecars with ZERO
  * data files in the plan (one [[Manifest.statsAggregateGrouped]]
  * call, version-pinned at push time); `avg` rides Spark's own
  * sum/count rewrite; a bare `count(*)` serves even on DV-carrying
  * snapshots (sidecar rows minus masked positions). Anything
  * unservable — boundary files, 2⁵³-risky integral sums/extrema,
  * strict bounds — DECLINES pushdown and Spark aggregates the
  * ordinary scan: slower, never wrong.
  *
  * Mutations — the full SQL lifecycle, each verb an optimistic-
  * concurrency manifest commit:
  *  - `CREATE TABLE` = an empty schema-carrying v1; `CREATE TABLE …
  *    AS SELECT` = ONE atomic v1 ([[GraftStagedTable]]);
  *  - `INSERT INTO` / `writeTo(…).append()` = [[Manifest.commitAppend]];
  *  - `DELETE FROM` = the MoR delete-vector commit for translatable
  *    predicates ([[Manifest.deleteWhereMoR]]), the copy-on-write
  *    rewrite for the rest;
  *  - `UPDATE` / `MERGE INTO` = group-based CoW rewrites pruned to
  *    the predicate- and runtime-key-admitted files
  *    ([[GraftRowLevelOperation]]);
  *  - `ALTER TABLE … ADD COLUMN` = a metadata-only additive schema
  *    evolution ([[Manifest.evolveSchema]]);
  *  - `DROP TABLE` = ONE tombstone commit ([[Manifest.dropTable]]):
  *    the identifier vanishes from every read face, the bytes wait
  *    for `CALL graft.system.vacuum`'s lease-disciplined reclaim, and
  *    `Manifest.restore` undoes a mistake;
  *  - `ALTER TABLE … RENAME TO` = one atomic directory move
  *    ([[Manifest.renameTable]]) — history, tags, and sidecars
  *    transfer verbatim (entries are root-relative).
  *  INSERT OVERWRITE, non-additive ALTERs, and writes to pinned
  *  snapshots refuse loudly.
  *
  * At 100 TB: table resolution and file skipping are driver metadata
  * (one manifest read + sidecar parquet reads); the data plan is the
  * same pruned, DV-masked parquet scan the native API serves — the
  * catalog adds interoperability, not a second execution path.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  /** `CALL graft.system.advise/compact/fold_deletes/analyze/vacuum` —
    * the maintenance loop from plain SQL ([[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)
  private var catName: String = _
  private var initRoot: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initRoot = Option(options.get("root"))
  }

  override def name(): String = catName

  /** Root is re-read from the ACTIVE session conf on every resolution,
    * falling back to the initialize-time option — catalog instances
    * are cached per name by Spark's CatalogManager, and a stale root
    * captured at first load would silently serve the wrong warehouse
    * after a conf change (tests and multi-warehouse sessions both
    * re-point roots). */
  private def root: String =
    SparkSession.active.conf
      .getOption(s"spark.sql.catalog.$catName.root")
      .orElse(initRoot)
      .getOrElse(sys.error(
        s"GraftCatalog '$catName': set spark.sql.catalog.$catName.root"))

  private def pathOf(ident: Identifier): String =
    (root +: ident.namespace() :+ ident.name()).mkString("/")

  private def spark: SparkSession = SparkSession.active

  /** Listed through the root's Hadoop FileSystem — every other catalog
    * path (read/write/stream) resolves Hadoop-style, and a
    * java.io.File walk would make SHOW TABLES the one verb that only
    * works on the local filesystem. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new org.apache.hadoop.fs.Path((root +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory)
      throw new NoSuchNamespaceException(catName +: namespace)
    fs.listStatus(dir).filter { st =>
      st.isDirectory && {
        val m = new org.apache.hadoop.fs.Path(st.getPath, "_manifest")
        fs.exists(m) && fs.getFileStatus(m).isDirectory &&
          // at least one COMMITTED version required — an empty
          // `_manifest` left by a guard-failing committer or a crashed
          // first write is a phantom, not a table (directory existence
          // alone would list it)
          Manifest.versions(spark, st.getPath.toString).nonEmpty &&
          // a drop tombstone hides the table (one small manifest read
          // per candidate — SHOW TABLES stays a driver metadata walk)
          !Manifest.isDropped(spark, st.getPath.toString)
      }
    }.map(st => Identifier.of(namespace, st.getPath.getName))
  }

  // ---- SupportsNamespaces: a namespace IS a warehouse directory ----

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def isTableDir(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val m = new org.apache.hadoop.fs.Path(p, "_manifest")
    fs.exists(m) && fs.getFileStatus(m).isDirectory
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  /** Child directories that are not manifested tables themselves. */
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val dir = new org.apache.hadoop.fs.Path(
      (root +: namespace).mkString("/"))
    val fs = fsOf(dir)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory)
      throw new NoSuchNamespaceException(catName +: namespace)
    fs.listStatus(dir)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !isTableDir(fs, st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    val dir = new org.apache.hadoop.fs.Path(
      (root +: namespace).mkString("/"))
    val fs = fsOf(dir)
    if (namespace.isEmpty || !fs.exists(dir) ||
        !fs.getFileStatus(dir).isDirectory || isTableDir(fs, dir))
      throw new NoSuchNamespaceException(catName +: namespace)
    java.util.Collections.emptyMap()
  }

  /** `CREATE NAMESPACE graft.db2`: one mkdirs — a namespace carries no
    * metadata of its own (properties refuse rather than silently
    * dropping). */
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(metadata.isEmpty || {
      // Spark always stamps its own 'owner' property; anything else
      // the directory cannot persist refuses loudly
      val ks = metadata.keySet()
      ks.size() == 1 && ks.contains("owner")
    }, s"graft catalog: namespace properties are not supported " +
      s"(a namespace is a directory): ${metadata.keySet()}")
    val dir = new org.apache.hadoop.fs.Path(
      (root +: namespace).mkString("/"))
    fsOf(dir).mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*)
      : Unit = readOnly

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = readOnly

  /** Invisibility test shared by every load face: missing manifest OR
    * a drop tombstone as the current snapshot. A dropped table's
    * retained versions refuse too — the SQL identifier is GONE; an
    * already-planned DataFrame (pinned at scan build) keeps serving. */
  private def requireLive(ident: Identifier, path: String): Unit = {
    if (!Manifest.isManifested(spark, path) ||
        Manifest.isDropped(spark, path))
      throw new NoSuchTableException(ident)
  }

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    requireLive(ident, path)
    new GraftTable(path, None)
  }

  /** `VERSION AS OF x`: an integer pins that snapshot version; any
    * other string resolves as a TAG name — `VERSION AS OF 'corpus-v1'`
    * is the release-pinning read. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    requireLive(ident, path)
    val v = version.toLongOption
      .getOrElse(Manifest.tagVersion(spark, path, version))
    require(Manifest.versions(spark, path).contains(v),
      s"GraftCatalog: $path has no retained version $v (vacuumed?)")
    new GraftTable(path, Some(v))
  }

  /** `TIMESTAMP AS OF t`: Spark hands MICROseconds since epoch; the
    * manifest's commit stamps are millis. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = pathOf(ident)
    requireLive(ident, path)
    new GraftTable(path,
      Some(Manifest.versionAt(spark, path, timestampMicros / 1000L)))
  }

  private def readOnly: Nothing = throw new UnsupportedOperationException(
    s"GraftCatalog '$catName' is read-only for this DDL — namespaces " +
      "are plain warehouse directories (no properties to alter; drop " +
      "the tables, then remove the directory out-of-band)")

  /** Only hive (identity) partitioning has a manifest meaning; any
    * bucketing/temporal transform refuses loudly. */
  private def identityParts(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      if (t.name == "identity" && t.references().length == 1)
        t.references()(0).fieldNames().mkString(".")
      else throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform '$t' — only " +
          "identity (hive-style) partitioning maps to the manifest layout")
    }

  /** `CREATE TABLE graft.db.t (…)`: one v1 commit of an empty,
    * schema-carrying snapshot ([[Manifest.createEmpty]]) — the table
    * is immediately readable (zero rows) and appendable through both
    * faces. Partitioned empty tables refuse (an empty hive layout has
    * no directories to commit); declare partitioning via CTAS. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    if (Manifest.isManifested(spark, p)) {
      if (Manifest.isDropped(spark, p))
        throw new UnsupportedOperationException(
          s"graft catalog: $p is a DROPPED table awaiting reclamation — " +
            "CALL graft.system.vacuum to free the identifier, or " +
            "Manifest.restore to undrop")
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    }
    require(identityParts(partitions).isEmpty,
      "graft catalog: CREATE TABLE with PARTITIONED BY needs data to lay " +
        "out the hive directories — use CREATE TABLE … AS SELECT (or " +
        "Manifest.create with partitionBy)")
    Manifest.createEmpty(spark, p, schema)
    new GraftTable(p, None)
  }

  /** Atomic CTAS: the staged table's write IS [[Manifest.create]] —
    * the whole `CREATE TABLE … AS SELECT` lands as ONE v1 snapshot
    * commit (data invisible until the manifest rename), so a crashed
    * CTAS leaves nothing visible and a successful one is immediately
    * readable through both faces. */
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val p = pathOf(ident)
    if (Manifest.isManifested(spark, p)) {
      if (Manifest.isDropped(spark, p))
        throw new UnsupportedOperationException(
          s"graft catalog: $p is a DROPPED table awaiting reclamation — " +
            "CALL graft.system.vacuum to free the identifier, or " +
            "Manifest.restore to undrop")
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    }
    require(info.constraints().isEmpty,
      "graft catalog: table constraints are not supported — enforce " +
        "CHECKs through the Manifest commit hooks")
    // record what the target path holds BEFORE the write: an aborted
    // CTAS may only reclaim what IT created — the identifier's
    // directory can legitimately pre-exist with unrelated content (a
    // plain parquet dir awaiting adopt, a namespace dir holding other
    // tables), which a blanket recursive delete would destroy
    val hp = new org.apache.hadoop.fs.Path(p)
    val hfs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val preExisting: Option[Set[String]] =
      if (!hfs.exists(hp)) None
      else Some(hfs.listStatus(hp).map(_.getPath.getName).toSet)
    new GraftStagedTable(p, info.schema(), identityParts(info.partitions()),
      preExisting)
  }

  /** `ALTER TABLE graft.db.t ADD COLUMN c TYPE` — additive schema
    * evolution as ONE metadata-only commit ([[Manifest.evolveSchema]]):
    * no file rewritten, existing rows serve NULL. Only top-level
    * nullable ADD COLUMN (appended at the end) maps to the manifest's
    * evolution semantics; drops, renames, type changes, positioned or
    * nested adds refuse loudly — they would corrupt reads of
    * immutable files or have no manifest meaning. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = pathOf(ident)
    requireLive(ident, p)
    // RENAME/DROP COLUMN: metadata-only column-mapping commits
    // ([[Manifest.renameColumn]]/[[Manifest.dropColumn]]) — handled
    // one change at a time (each is its own commit, like Delta)
    val (mapChanges, rest) = changes.partition {
      case r: TableChange.RenameColumn => r.fieldNames.length == 1
      case d: TableChange.DeleteColumn => d.fieldNames.length == 1
      case _ => false
    }
    // validate the FULL change list up front: an unsupported change in
    // the same ALTER must reject BEFORE any mapping commit lands, or
    // the statement applies partially (non-atomic ALTER). Commits still
    // land one at a time below — mapping changes and the evolution are
    // separate manifest commits by design (like Delta) — but a rejected
    // statement now leaves the table untouched.
    val adds = rest.map {
      case a: TableChange.AddColumn
          if a.fieldNames.length == 1 && a.isNullable &&
            a.position() == null =>
        StructField(a.fieldNames()(0), a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER '$other' — only plain " +
          "nullable top-level ADD COLUMN, RENAME COLUMN, and DROP " +
          "COLUMN map to manifest commits; everything else would " +
          "rewrite immutable files")
    }
    mapChanges.foreach {
      case r: TableChange.RenameColumn =>
        Manifest.renameColumn(spark, p, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        Manifest.dropColumn(spark, p, d.fieldNames()(0))
      case _ => ()
    }
    if (adds.nonEmpty) {
      val cur = Manifest.read(spark, p).schema
      Manifest.evolveSchema(spark, p,
        StructType(cur.fields ++ adds))
    }
    new GraftTable(p, None)
  }

  /** `DROP TABLE graft.db.t`: ONE tombstone commit
    * ([[Manifest.dropTable]]) — the table vanishes from every read
    * face immediately, the bytes stay for pinned pre-drop readers
    * until `CALL graft.system.vacuum`'s lease discipline reclaims the
    * directory, and `Manifest.restore` undoes a mistaken drop. Returns
    * false (Spark's IF EXISTS contract) when there is nothing to
    * drop. */
  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!Manifest.isManifested(spark, p) || Manifest.isDropped(spark, p))
      false
    else { Manifest.dropTable(spark, p); true }
  }

  /** `ALTER TABLE graft.db.t RENAME TO graft.db2.t2`: one atomic
    * directory move ([[Manifest.renameTable]]) — history, time
    * travel, tags, and sidecars all transfer (manifest entries are
    * root-relative). Cross-namespace moves are just path moves; the
    * destination namespace directory is created on the way. */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val src = pathOf(oldIdent)
    requireLive(oldIdent, src)
    // Spark hands the RENAME TO target verbatim — a catalog-qualified
    // `graft.db2.t2` arrives with 'graft' still leading the namespace;
    // strip our own name so the path resolves inside the warehouse.
    // But ONLY when the verbatim namespace does not name a REAL
    // warehouse directory: a namespace legitimately named like the
    // catalog makes the unstripped identifier the right one, and
    // stripping would silently move the table to the wrong path
    val ident =
      if (newIdent.namespace().nonEmpty && newIdent.namespace()(0) == catName) {
        val verbatimNs = new org.apache.hadoop.fs.Path(
          (root +: newIdent.namespace()).mkString("/"))
        val fs = verbatimNs.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(verbatimNs) && fs.getFileStatus(verbatimNs).isDirectory)
          newIdent
        else Identifier.of(newIdent.namespace().drop(1), newIdent.name())
      } else newIdent
    val dst = pathOf(ident)
    if (Manifest.isManifested(spark, dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    Manifest.renameTable(spark, src, dst)
  }
}

/** The CTAS staging vehicle: holds the declared shape; the V1 write
  * executes [[Manifest.create]] (one v1 commit — data stays invisible
  * until the manifest rename lands). commit is therefore a no-op and
  * abort before any commit reclaims the orphan artifacts — but ONLY
  * what this write created: `preExisting` (the target directory's
  * child names at stage time, None when it did not exist) bounds the
  * abort so a CTAS onto a path with unrelated pre-existing content
  * can never destroy it. */
private[v2] class GraftStagedTable(path: String, tableSchema: StructType,
    partitionBy: Seq[String], preExisting: Option[Set[String]])
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  @volatile private var created = false

  override def name(): String = path
  override lazy val schema: StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.Dataset[Row],
                  overwrite: Boolean): Unit = {
                Manifest.create(SparkSession.active, path, data.toDF(),
                  partitionBy)
                created = true
              }
            }
        }
    }

  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit =
    if (!created) {
      // nothing committed — reclaim what the failed write left
      // (invisible garbage), but never a byte that pre-existed it
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(
        SparkSession.active.sessionState.newHadoopConf())
      if (fs.exists(p)) preExisting match {
        case None => fs.delete(p, true) // this write made the dir
        case Some(before) =>
          fs.listStatus(p).foreach { st =>
            if (!before.contains(st.getPath.getName))
              fs.delete(st.getPath, true)
          }
      }
    }
}

/** Observability hook: the most recent scan's admitted file list per
  * table path — what a spec (or an operator watching skip rates) pins
  * the driver-side pruning decision against, since `Dataset.inputFiles`
  * cannot see through a non-FileTable DSv2 relation.
  *
  * DIAGNOSTIC-ONLY, single-reader: two concurrent scans of the SAME
  * table race on the slot (last planner wins), so a pin is only
  * meaningful when the pinning thread just ran the query itself —
  * exactly how every spec and registry query uses it. Execution
  * correctness never depends on this registry. */
object GraftScanInfo {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private[v2] def record(table: String, files: Seq[String]): Unit =
    last.put(table, files)
  def lastFiles(table: String): Option[Seq[String]] = Option(last.get(table))
}

/** The one metadata column catalog tables expose: the row's
  * manifest-relative data-file key (the same key DV masks use) —
  * provenance for users (`SELECT _graft_file, * FROM t`), and the
  * projection anchor Spark's row-level rewrites require. */
private[v2] object GraftFileMetaColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_graft_file"
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "manifest-relative data file key of the row"
}

private[v2] class GraftTable(path: String, pinned: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = path + pinned.fold("")(v => s"@v$v")

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileMetaColumn)

  /** `UPDATE` / `MERGE INTO` / CoW-shaped `DELETE`: group-based
    * copy-on-write rewrites ([[GraftRowLevelOperation]]). Translatable
    * DELETEs never get here — Spark's metadata-only optimization
    * routes them to [[deleteWhere]]'s MoR vector commit first. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"graft catalog: $path is pinned (VERSION/TIMESTAMP AS OF) — a " +
        "historical snapshot cannot be mutated; run the command on the " +
        "bare table")
    () => new GraftRowLevelOperation(path, info.command())
  }

  /** `DELETE FROM graft.db.t WHERE …` — the SQL takedown verb, bridged
    * to [[Manifest.deleteWhereMoR]]: ONE merge-on-read commit that
    * masks the doomed positions behind a delete vector, rewrites no
    * data file, and preserves time travel (the pre-delete snapshot
    * stays readable until vacuum). The condition must translate
    * EXACTLY to the engine's predicate vocabulary ([[GraftScan
    * .toColumn]]) — anything else (expressions over columns,
    * subqueries) refuses at analysis rather than risking a partial
    * takedown; rewrite the predicate or use the Manifest verb. A bare
    * `DELETE FROM t` (and SQL TRUNCATE, which Spark routes through
    * the same face) masks every row — the table stays, emptied, with
    * full history. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && filters.forall(f => GraftScan.toColumn(f).nonEmpty)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty,
      s"graft catalog: $path is pinned (VERSION/TIMESTAMP AS OF) — a " +
        "historical snapshot cannot be deleted from; delete on the bare table")
    Manifest.deleteWhereMoR(SparkSession.active, path,
      GraftScan.toPredicate(filters).getOrElse(F.lit(true)))
  }

  override lazy val schema: StructType = pinned match {
    case Some(v) => Manifest.readVersion(SparkSession.active, path, v).schema
    case None => Manifest.read(SparkSession.active, path).schema
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.V1_BATCH_WRITE)

  /** `INSERT INTO graft.db.t …` / `df.writeTo("graft.db.t").append()`:
    * the APPEND verb through the standard write API, delegating to
    * [[Manifest.commitAppend]] — which IS the optimistic-concurrency
    * commit (tmp + create-exclusive rename; a racing committer fails
    * loudly and retries), revalidates the schema against the current
    * snapshot, and stamps the history ledger. Everything else stays
    * with the Manifest verbs: INSERT OVERWRITE / TRUNCATE are not
    * capabilities of this table (Spark refuses at analysis), DELETE /
    * UPDATE / MERGE route to deleteWhere / merge whose CoW/MoR
    * semantics a generic rewrite could not preserve, and a pinned
    * (VERSION AS OF) table refuses writes outright. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinned.isEmpty,
      s"graft catalog: $path is pinned (VERSION/TIMESTAMP AS OF) — a " +
        "historical snapshot cannot be appended to; write to the bare table")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.Dataset[Row],
                  overwrite: Boolean): Unit = {
                require(!overwrite, s"graft catalog: INSERT OVERWRITE on " +
                  s"$path is not supported — overwrite explicitly through " +
                  "the Manifest verbs (deleteWhere + append, or a rewrite " +
                  "commit), which preserve snapshot semantics")
                Manifest.commitAppend(SparkSession.active, path, data.toDF())
              }
            }
        }
    }
  }

  /** `spark.readStream.table("graft.db.t")` tails the table through
    * the same [[graft.sources.ManifestMicroBatchStream]] as
    * `format("graft-table")` — append mode by default,
    * `option("ignoreDeletes", true)` and
    * `option("startingVersion", "latest")` pass through. The
    * changeFeed face stays with `format("graft-table")`: its CDC
    * columns widen the schema, and a catalog table's schema is fixed
    * at resolution (options cannot grow it). A VERSION/TIMESTAMP AS
    * OF table refuses to stream — a pinned snapshot has no tail. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, pinned, schema, options)
}

private[v2] class GraftScanBuilder(path: String, pinned: Option[Long],
    tableSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.types._

  private var required: StructType = tableSchema
  private var handled: Array[Filter] = Array.empty
  private var allFilters: Array[Filter] = Array.empty
  private var agg: Option[(StructType, Seq[Row])] = None

  /** A filter with an EXACT Column translation is accepted as handled
    * (the inner frame applies it, reaching the parquet footers; Spark
    * does not re-evaluate); anything untranslatable stays a Spark-side
    * residual. ALL filters — handled or not — still feed the driver
    * file-skipping decision, where partial translation is sound
    * (admission only ever drops files that cannot match). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allFilters = filters
    val (h, residual) = filters.partition(f => GraftScan.toColumn(f).nonEmpty)
    handled = h
    residual
  }
  override def pushedFilters(): Array[Filter] = handled

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COMPLETE aggregate pushdown — `SELECT count(*)/min/max/sum …
    * [WHERE exact ranges] [GROUP BY file-constant keys]` over the
    * catalog serves from the envelope sidecars, zero data files
    * opened (one Manifest.statsAggregateGrouped call for every shape,
    * version-pinned at push time). The serve
    * runs EAGERLY here: it is driver metadata by the acceptance
    * conditions (refuse unless `served_from == "stats"`, i.e. the
    * sidecar covers every file and no boundary scans), and eager
    * evaluation is also where the 2⁵³ honesty guard
    * (Manifest.statsInexact) runs — a sum or
    * min/max whose double scalar could round refuses PUSHDOWN (Spark
    * then aggregates the ordinary scan; slower, never wrong).
    * Partial pushdown is never offered (the serve is global, not
    * per-partition), so supportCompletePushDown and pushAggregation
    * answer from the same memoized attempt. */
  override def supportCompletePushDown(a: Aggregation): Boolean =
    tryServe(a).nonEmpty
  override def pushAggregation(a: Aggregation): Boolean =
    tryServe(a) match {
      case Some(s) => agg = Some(s); true
      case None => false
    }

  private var memo: Option[(String, Option[(StructType, Seq[Row])])] = None
  private def tryServe(a: Aggregation)
      : Option[(StructType, Seq[Row])] = {
    val key = a.toString
    memo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = try serveOnce(a) catch { case scala.util.control.NonFatal(_) =>
          None // any resolution surprise: decline, Spark aggregates
        }
        memo = Some((key, r))
        r
    }
  }

  private def name(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames.head)
    case _ => None
  }

  private def serveOnce(a: Aggregation): Option[(StructType, Seq[Row])] = {
    val spark = SparkSession.active
    // group keys: bare columns of numeric-or-string non-decimal type
    val groupKeys: Seq[String] = a.groupByExpressions.toSeq.map { e =>
      name(e).getOrElse(return None) }
    if (groupKeys.exists(k => !tableSchema.fieldNames.contains(k))) return None
    if (groupKeys.exists(k => tableSchema(k).dataType match {
      case _: DecimalType => true
      case _: NumericType | StringType => false
      case _ => true })) return None
    // aggregates: the forms the stats serve folds, no DISTINCT
    sealed trait Form
    case object Cnt extends Form
    case class Col(form: String, c: String) extends Form
    val forms: Seq[Form] = a.aggregateExpressions.toSeq.map {
      case _: CountStar => Cnt
      case c: Count if !c.isDistinct =>
        Col("nn", name(c.column).getOrElse(return None))
      case m: Min => Col("min", name(m.column).getOrElse(return None))
      case m: Max => Col("max", name(m.column).getOrElse(return None))
      case s: Sum if !s.isDistinct =>
        Col("sum", name(s.column).getOrElse(return None))
      case _ => return None
    }
    val cols = forms.collect { case Col(_, c) => c }.distinct
    if (cols.exists(c => !tableSchema.fieldNames.contains(c))) return None
    // DV-carrying snapshots: a bare, unfiltered, ungrouped count(*)
    // is STILL exactly servable — raw sidecar rows minus the masked
    // positions (both driver metadata; masks are deduplicated by the
    // deleteWhereMoR write discipline). Every other form declines:
    // min/max/sum cannot be positionally corrected without reading.
    // The takedown-heavy table keeps its zero-file dashboard count.
    locally {
      val snap = Manifest.resolveSnapshot(spark, path, pinned, "scan")
      if (snap.meta.contains(Manifest.DvKey)) {
        if (groupKeys.nonEmpty || handled.nonEmpty ||
            forms.exists(_ != Cnt)) return None
        val files = Manifest.listSnapshotFilesWithLen(spark, path, snap)
          .map(_._1)
        val raw = Manifest.sidecarRawRowCount(spark, path, snap, files)
          .getOrElse(return None)
        val masked = Manifest.dvPositionsFor(spark, path, snap, files)
          .valuesIterator.map(_.length.toLong).sum
        val schema = StructType(forms.indices.map(i =>
          StructField(s"agg_$i", LongType, nullable = false)))
        return Some((schema,
          Seq(Row.fromSeq(forms.map(_ => raw - masked)))))
      }
    }
    if (cols.exists(c => tableSchema(c).dataType match {
      case _: DecimalType => true // double scalars cannot serve decimals
      case _: NumericType => false
      case _ => true })) return None
    // filters: Spark only offers aggregates when no residuals remain;
    // the handled set must ALSO be exactly a conjunction of inclusive
    // ranges the sidecar can serve (boundsFromPredComplete's proof).
    // Spark plants an implied IsNotNull beside every range conjunct —
    // redundant under range semantics (a comparison never matches
    // NULL), so it strips IFF a bound on the same column survives.
    val (notNulls, rangeFilters) = handled.partition {
      case sources.IsNotNull(_) => true
      case _ => false
    }
    val whereBounds: Seq[(String, Double, Double)] =
      if (rangeFilters.isEmpty) Nil
      else {
        val pred = GraftScan.toPredicate(rangeFilters).getOrElse(return None)
        Manifest.boundsFromPredComplete(pred).getOrElse(return None)
      }
    val nnCols = notNulls.map { case sources.IsNotNull(c) => c; case _ => "" }
    if (!nnCols.forall(c => whereBounds.exists(_._1 == c))) return None
    if (whereBounds.exists { case (c, _, _) =>
      !tableSchema.fieldNames.contains(c) ||
        (tableSchema(c).dataType match {
          case _: DecimalType => true
          case _: NumericType => false
          case _ => true }) }) return None
    // pin the snapshot NOW: the served values and any later replay of
    // this scan must agree whatever commits land in between
    val version = pinned.orElse(
      Manifest.currentSnapshot(spark, path).map(_.version))
    val rows = Manifest.statsAggregateGrouped(spark, path, groupKeys, cols,
      whereBounds, version).collect().toIndexedSeq
    // pure metadata only: a serve that had to open data files is not
    // worth claiming (Spark's own aggregate over the scan is the
    // honest plan there)
    if (!rows.forall(_.getAs[String]("served_from") == "stats")) return None
    // the 2^53 honesty guard, per row (per group when grouped)
    if (Manifest.statsInexact(rows,
        forms.collect { case Col(f, c) => (f, c) }, tableSchema).nonEmpty)
      return None
    // output: group keys under their table types, then one field per
    // aggregate with the type Spark's own aggregate would produce
    def sumType(c: String): DataType = tableSchema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => LongType
      case _ => DoubleType
    }
    val outSchema = StructType(
      groupKeys.map(k => StructField(k, tableSchema(k).dataType)) ++
        forms.zipWithIndex.map {
          case (Cnt, i) => StructField(s"agg_$i", LongType, nullable = false)
          case (Col("nn", _), i) =>
            StructField(s"agg_$i", LongType, nullable = false)
          case (Col("min" | "max", c), i) =>
            StructField(s"agg_$i", tableSchema(c).dataType)
          case (Col(_, c), i) => StructField(s"agg_$i", sumType(c))
        })
    // map[Any]: without the explicit type the numeric match arms
    // weak-LUB back to Double and the Long cast silently un-casts
    def castNum(v: Option[Double], dt: DataType): Any = v.map[Any](x => dt match {
      case LongType => x.toLong
      case IntegerType => x.toInt
      case ShortType => x.toShort
      case ByteType => x.toByte
      case FloatType => x.toFloat
      case _ => x
    }).orNull
    val outRows = rows.map { row =>
      def dbl(n: String): Option[Double] = {
        val i = row.fieldIndex(n)
        if (row.isNullAt(i)) None else Some(row.getDouble(i))
      }
      Row.fromSeq(
        groupKeys.map(k => row.get(row.fieldIndex(k))) ++
          forms.map {
            case Cnt => row.getAs[Long]("cnt")
            case Col("nn", c) => row.getAs[Long](s"${c}_nn")
            case Col(f @ ("min" | "max"), c) =>
              castNum(dbl(s"${c}_$f"), tableSchema(c).dataType)
            case Col(_, c) => castNum(dbl(s"${c}_sum"), sumType(c))
          })
    }
    Some((outSchema, outRows))
  }

  /** Routing: a metadata-served aggregate is its own local scan; a
    * claim the native re-checker cannot bind keeps the V1 bridge;
    * everything else — hive layouts included — gets the NATIVE batch
    * scan: runtime file skipping, CBO statistics, per-file DV masking,
    * and (hive) driver-side partition-value pruning with the
    * directory values supplied as `PartitionedFile.partitionValues`
    * ([[GraftNativeScan]]). */
  override def build(): Scan = agg match {
    case Some((schema, rows)) =>
      new GraftLocalScan(path, pinned, schema, rows)
    case None =>
      val spark = SparkSession.active
      val snap = Manifest.resolveSnapshot(spark, path, pinned, "scan")
      // a COLUMN-MAPPED snapshot rides the native scan too — with
      // every internal name translated to PHYSICAL (what the files
      // carry) and the LOGICAL schema reported back to Spark: rows
      // are positional and the translation preserves order and types.
      // Untranslatable shapes fall to the V1 bridge, whose inner frame
      // serves the logical projection (readAdmitted) — correct, just
      // without runtime file skipping until the next compact folds
      // the mapping.
      Manifest.mappingOf(snap) match {
        case None if GraftNativeScan.bindable(handled, tableSchema) =>
          val partSchema =
            if (!Manifest.hiveLayout(spark, path, snap)) new StructType()
            else StructType(Manifest.partitionColumnsOf(spark, path, snap)
              .filter(tableSchema.fieldNames.contains)
              .map(tableSchema(_)))
          new GraftNativeScan(path, pinned, snap, required, handled,
            allFilters, tableSchema, options, partSchema)
        case Some(pairs) =>
          val m = pairs.toMap
          def mp(n: String) = m.getOrElse(n, n)
          val handledP = handled.map(
            GraftNativeScan.renameFilterRefs(_, mp))
          val allP = allFilters.map(
            GraftNativeScan.renameFilterRefs(_, mp))
          val physTable = Manifest.committedSchemaOf(snap)
            .getOrElse(tableSchema) // mapping ⇒ SchemaKey, by invariant
          val requiredP = StructType(required.fields.map(f =>
            if (m.contains(f.name)) f.copy(name = m(f.name)) else f))
          if (GraftNativeScan.bindable(handledP, physTable))
            new GraftNativeScan(path, pinned, snap, requiredP, handledP,
              allP, physTable, options, new StructType(),
              reportSchema = Some(required))
          else
            new GraftScan(path, pinned, required, handled, allFilters,
              tableSchema, options)
        case None =>
          new GraftScan(path, pinned, required, handled, allFilters,
            tableSchema, options)
      }
  }
}

/** A metadata-served (already aggregated) result: the scan IS the
  * rows — a one-partition local relation, no data file in the plan. */
private[v2] class GraftLocalScan(path: String, pinned: Option[Long],
    outSchema: StructType, rows: Seq[Row]) extends V1Scan {
  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"graft-table $path @${pinned.fold("current")(v => s"v$v")} " +
      s"metadata-served aggregate (${rows.size} rows, zero data files)"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = outSchema
      override def needConversion: Boolean = false
      override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
        val spark = context.sparkSession
        GraftScanInfo.record(path, Nil) // zero files opened
        spark.createDataFrame(
          new java.util.ArrayList(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          outSchema).queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[Row]]
      }
    }.asInstanceOf[T]
  }
}

private[v2] class GraftScan(path: String, pinned: Option[Long],
    required: StructType, handled: Array[Filter],
    allFilters: Array[Filter],
    tableSchema: StructType = new StructType(),
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends V1Scan {

  override def readSchema(): StructType = required

  /** The streaming face of the catalog table — the batch scan's
    * snapshot pinning obviously cannot apply; the stream tails the
    * LIVE table via the same MicroBatchStream the `graft-table`
    * format uses. The stream serves exactly the PRUNED schema —
    * batchFrame aligns by name, so a projected readStream stages only
    * the columns it asked for. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftStreamFace.toMicroBatchStream(path, pinned, required, options,
      checkpointLocation)

  override def description(): String = {
    val v = pinned.fold("current")(v => s"v$v")
    s"graft-table $path @$v cols=[${required.fieldNames.mkString(",")}] " +
      s"filters=[${handled.mkString(", ")}]"
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val scan = this
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      // the inner frame's toRdd already carries InternalRows — the
      // JDBC source's zero-conversion bridge contract
      override def needConversion: Boolean = false
      override def buildScan(): org.apache.spark.rdd.RDD[Row] =
        scan.innerFrame(context.sparkSession).queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[Row]]
    }.asInstanceOf[T]
  }

  /** The Manifest-served frame this scan wraps: snapshot-pinned,
    * file-skipped from ALL pushed filters' tree (partial translation
    * is sound for admission), DV-masked, with the HANDLED filters
    * applied exactly (they were claimed as pushed, so Spark does not
    * re-evaluate them; the translation is the same SQL semantics the
    * v1 Filter contract defines), projected to the pruned schema. */
  private[v2] def innerFrame(spark: SparkSession): DataFrame = {
    val prunePred = allFilters.flatMap(GraftScan.toColumnLoose)
      .reduceOption(_ && _)
    val (df, admitted) = Manifest.readAdmitted(spark, path, pinned, prunePred)
    GraftScanInfo.record(path, admitted)
    val filtered = GraftScan.toPredicate(handled).fold(df)(df.filter)
    if (required.fieldNames.sameElements(filtered.columns)) filtered
    else filtered.select(required.fieldNames.toIndexedSeq.map {
      // the _graft_file metadata column: manifest-relative file key,
      // computed the same way the DV writer keys files
      case n if n == GraftFileMetaColumn.name() =>
        val fp = F.input_file_name()
        F.coalesce(
          F.nullif(F.regexp_extract(fp,
            "(_v[0-9]{8}-[0-9a-f]{8}/.+)$", 1), F.lit("")),
          F.element_at(F.split(fp, "/"), -1)).as(n)
      case n => F.col(n)
    }: _*)
  }
}

private[v2] object GraftScan {
  /** v1 Filter → Column, EXACT translations only — the basis for
    * claiming a filter handled. Conjunctions translate only when BOTH
    * sides do (a partially-translated And applied as the whole filter
    * would be a wrong claim). */
  def toColumn(f: Filter): Option[Column] = f match {
    // TRUNCATE TABLE arrives as the AlwaysTrue predicate
    case sources.AlwaysTrue() => Some(F.lit(true))
    case sources.AlwaysFalse() => Some(F.lit(false))
    case sources.EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case sources.EqualNullSafe(a, v) => Some(F.col(a) <=> F.lit(v))
    case sources.GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case sources.LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case sources.LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case sources.In(a, vs) => Some(F.col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(F.col(a).isNull)
    case sources.IsNotNull(a) => Some(F.col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(F.col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(F.col(a).contains(v))
    case sources.And(l, r) => for {
      a <- toColumn(l); b <- toColumn(r)
    } yield a && b
    case sources.Or(l, r) => for {
      a <- toColumn(l); b <- toColumn(r)
    } yield a || b
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** Best-effort translation for the FILE-ADMISSION decision only: a
    * partially-translated And keeps its translatable side (sound — the
    * admitted set only widens), an Or still needs both. Never applied
    * to rows. */
  def toColumnLoose(f: Filter): Option[Column] = f match {
    case sources.And(l, r) => (toColumnLoose(l), toColumnLoose(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (Some(a), None) => Some(a)
      case (None, Some(b)) => Some(b)
      case _ => None
    }
    case other => toColumn(other)
  }

  def toPredicate(filters: Array[Filter]): Option[Column] =
    filters.flatMap(toColumn).reduceOption(_ && _)
}
