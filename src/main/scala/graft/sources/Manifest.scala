package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Versioned-manifest table commits — the object-store-safe protocol
  * the directory-rename swap cannot be: directory rename is atomic on
  * HDFS/posix but COPY+DELETE on S3-class stores, where a concurrent
  * reader can see a half-moved table or a missing path. Here nothing
  * visible is ever renamed or mutated; a commit is the appearance of
  * ONE new manifest file, and data files are immutable once written
  * (the Delta/Iceberg snapshot discipline, reduced to its core).
  *
  * On-disk layout of a manifested table:
  * {{{
  *   <table>/_manifest/v00000001.list   one committed snapshot per file
  *   <table>/_v00000001/...             data of snapshot 1 (files, or
  *                                      hive-partitioned directories)
  * }}}
  * Underscore prefixes keep both invisible to Spark's file index, so a
  * stray plain `read.parquet(table)` of an adopted table cannot
  * double-count old and new data.
  *
  * A manifest is a newline-separated list of paths relative to the
  * table root — plain files, or whole directories for partitioned
  * snapshots (readers hand directories to the parquet source, so
  * hive-style partition columns keep working). COMMIT protocol: write
  * the list to `_manifest/.tmp-<uuid>`, then rename onto
  * `v<N+1>.list`. A file rename is atomic on posix/HDFS; on an
  * S3-class store the destination appears as one atomic PUT and the
  * dot-prefixed tmp name is never considered by readers. A rename that
  * finds the destination occupied FAILS — two racing committers
  * serialize on the version number, and the loser must re-resolve and
  * retry (optimistic concurrency).
  *
  * READERS PIN a snapshot: [[read]] resolves the current manifest once
  * (driver-side metadata), then scans exactly its files. A commit that
  * lands mid-query changes the current version, never the pinned list;
  * old snapshots remain on disk until [[vacuum]], which keeps the
  * newest `keep` versions — retention is the reader lease, exactly as
  * in production table formats.
  *
  * CRASH SAFETY between steps: data written but no manifest =
  * invisible (every writer lands in its own uniquely-suffixed version
  * directory, so nothing ever overwrites or deletes another writer's
  * data), and [[vacuum]] reclaims orphaned directories once the
  * version number has passed them; manifest present = committed,
  * regardless of when the writer died; [[vacuum]] is idempotent.
  */
/** A commit lost the optimistic version-slot race — the ONE failure a
  * writer may safely retry against a fresh snapshot (every other
  * commit error is a semantic refusal: dropped tombstone, renamed-away
  * chain, schema drift). [[Manifest.commitAppend]]'s auto-rebase loop
  * catches exactly this type; callers of the raw [[Manifest.commit]]
  * own their own retry. */
final class CommitRaceLost(msg: String) extends RuntimeException(msg)

object Manifest {

  /** `meta` carries commit annotations as `#key=value` comment lines
    * in the manifest file (readers of any vintage skip them — a path
    * never starts with '#'): the streaming sink records its micro-batch
    * id here, which is what makes replay-after-crash exactly-once. */
  final case class Snapshot(version: Long, paths: Seq[String],
      meta: Map[String, String] = Map.empty)

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a snapshot's entries as one frame, WITHOUT applying delete
    * vectors — the internal form whose `.inputFiles` is exactly the
    * snapshot's file list (the DV anti-join of [[readSnapshotData]]
    * would pollute it with the DV parquet). A hive-partitioned
    * snapshot with MULTIPLE entries (appends, CoW deletes) reads per
    * entry and unions by name: a single multi-root relation would make
    * partition inference see the non-partition `_v*` level between the
    * common base and the `col=` dirs and refuse
    * (CONFLICTING_DIRECTORY_STRUCTURES). Filters still push into every
    * union branch, so partition pruning survives. Every other snapshot
    * is ONE relation over its entries ([[readPaths]]). */
  private def readSnapshotRaw(spark: SparkSession, table: String,
      snap: Snapshot): DataFrame = {
    val paths = snap.paths.map(p => s"$table/$p")
    if (!snap.meta.contains(PartitionKey)) readPaths(spark, snap, paths)
    else if (snap.paths.size <= 1) spark.read.parquet(paths: _*)
    else paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** [[readSnapshotRaw]] with the snapshot's delete vectors applied —
    * what every row-serving path returns, under the snapshot's
    * LOGICAL column names (the mapping projection is the last step;
    * unmapped snapshots pass through untouched). */
  private[sources] def readSnapshotData(spark: SparkSession, table: String,
      snap: Snapshot): DataFrame =
    toLogicalProj(snap, readSnapshotDataPhysical(spark, table, snap))

  /** [[readSnapshotData]] WITHOUT the logical projection — the frame
    * keeps the files' physical column names. Internal rewrite paths
    * and [[readChanges]] (which applies the feed-end version's own
    * mapping to BOTH sides) consume this. */
  private def readSnapshotDataPhysical(spark: SparkSession, table: String,
      snap: Snapshot): DataFrame =
    if (!snap.meta.contains(DvKey))
      readSnapshotRaw(spark, table, snap)
    else if (snap.paths.size <= 1 || !snap.meta.contains(PartitionKey))
      applyDv(spark, table, snap, readSnapshotRaw(spark, table, snap))
    else snap.paths.map(p => applyDv(spark, table, snap,
      spark.read.parquet(s"$table/$p"))).reduce(_ unionByName _)

  /** The snapshot's delete-vector frame — `(file, pos)` rows naming
    * MoR-deleted positions by the data file's MANIFEST-RELATIVE path
    * (unique within a snapshot by construction; basenames are NOT —
    * one hive write task reuses its part name in every partition dir)
    * and parquet row index — or None when the snapshot carries none. */
  private def dvFrame(spark: SparkSession, table: String,
      snap: Snapshot): Option[DataFrame] =
    snap.meta.get(DvKey).map(_.split(',').toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .map(dirs => openListed(spark, dirs.map(d => s"$table/$d"),
        footerRule(spark)))

  /** Distinct `file` keys of the given DV directories — read AT THE
    * DRIVER when the vectors are small (they are takedown-sized by the
    * DV discipline; the previous distinct-collect launched a Spark
    * job per consult), falling back to the distributed distinct above
    * a 64 MB cap so a pathological vector never floods the driver. */
  private def dvDistinctFiles(spark: SparkSession, table: String,
      rels: Seq[String]): Set[String] = {
    val dirs = rels.map(d => s"$table/$d")
    val conf = spark.sessionState.newHadoopConf()
    val statuses = dirs.flatMap { d =>
      val p = new Path(d)
      walkParquetStatus(p.getFileSystem(conf), p)
    }
    (try {
      if (statuses.nonEmpty && statuses.map(_._2).sum <= (64L << 20)) {
        val schema = footerSchema(spark, statuses.head._1)
        val fi = schema.fieldIndex("file")
        Some(driverReadParquetRows(spark, statuses, schema, conf)
          .map(_.getString(fi)).toSet)
      } else None
    } catch { case scala.util.control.NonFatal(_) => None })
      .getOrElse(openListed(spark, dirs, footerRule(spark))
        .select("file").distinct().collect().map(_.getString(0)).toSet)
  }

  /** Manifest-relative file path + row index of every row, from the
    * parquet `_metadata` hidden column — resolvable only directly
    * over a file relation, which is why DV application happens per
    * relation. The relative path is anchored at the VERSION-DIR name
    * ([[DataDirName]] is self-delimiting), so writer and readers
    * compute the identical key whatever the FS renders before it;
    * [[adopt]]-ed root files (no version dir) key by basename, which
    * is unique among a directory's own files. */
  private def selectWithPos(df: DataFrame): DataFrame = {
    val fp = F.col("_metadata.file_path")
    val rel = F.regexp_extract(fp,
      "(_v[0-9]{8}-[0-9a-f]{8}/.+)$", 1)
    df.select(F.col("*"),
      F.coalesce(F.nullif(rel, F.lit("")),
        F.element_at(F.split(fp, "/"), -1)).as("__file"),
      F.col("_metadata.row_index").as("__pos"))
  }

  /** Anti-join `raw` (a single parquet relation of `snap`'s files)
    * against the snapshot's delete vectors. No DVs ⇒ `raw` unchanged —
    * DV-less tables pay nothing. The DV side is takedown-sized;
    * AQE broadcasts it from its parquet size statistics. */
  private def applyDv(spark: SparkSession, table: String,
      snap: Snapshot, raw: DataFrame): DataFrame =
    dvFrame(spark, table, snap) match {
      case None => raw
      case Some(dv) =>
        selectWithPos(raw)
          .join(dv.select(F.col("file").as("__file"),
            F.col("pos").as("__pos")), Seq("__file", "__pos"), "left_anti")
          .drop("__file", "__pos")
    }

  /** Live rows of a SUBSET of the snapshot's files — the partial-read
    * shape every CoW rewrite and pruned read must use on a DV-carrying
    * snapshot (a raw subset read would resurrect MoR-deleted rows).
    * Reads under the snapshot's schema like every partial read. */
  private def readFilesLive(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[String]): DataFrame =
    applyDv(spark, table, snap, readPaths(spark, snap, files))

  /** The read EVERY path that opens a snapshot's entries — or any
    * SUBSET of its files — must use: one relation under
    * [[readSchemaAt]]'s schema for what it lists ([[openListed]]), so
    * an evolved snapshot reads under its COMMITTED schema
    * ([[SchemaKey]]) and parquet serves the columns a pre-evolution
    * file lacks as NULL (a raw spark.read.parquet over a mixed
    * pre-/post-evolution file set would infer from ONE footer and
    * nondeterministically drop the evolved columns — in the CoW
    * rewrite that is silent data loss, in a pruned read a resolution
    * error), and an unstamped one reads under its first file's footer,
    * resolved at the driver instead of by Spark's one-job inference.
    * Hive layouts keep Spark's own relation: their partition columns
    * come from directory inference. */
  private def readPaths(spark: SparkSession, snap: Snapshot,
      paths: Seq[String]): DataFrame =
    openListed(spark, paths, readSchemaAt(spark, snap, _))

  /** THE read schema of a snapshot's own files, resolved AT THE DRIVER
    * with no Spark job: the committed stamp ([[SchemaKey]]) when the
    * snapshot carries one; else the footer of the first of `files` (the
    * caller's listing of what it reads), converted as Spark's schema
    * inference converts it ([[footerRule]]). Unstamped entries share
    * one read schema (the [[commitAppend]] contract), so one footer
    * speaks for all of them — the file Spark's own inference would
    * have opened. None for a hive layout (recorded partitioning, or
    * `k=v` directories under an unstamped snapshot): its partition
    * columns come from directory inference, which only the relation
    * path does. Nullable throughout, as every parquet relation is. */
  private[graft] def readSchemaAt(spark: SparkSession, snap: Snapshot,
      files: Seq[String]): Option[org.apache.spark.sql.types.StructType] =
    if (snap.meta.contains(PartitionKey)) None
    else committedSchemaOf(snap).map(nullableAll).orElse(footerRule(spark)(files))

  /** [[readSchemaAt]] for callers that need a schema for every layout:
    * a hive layout's comes from its relation (directory inference,
    * today's one-job path), everything else from the driver. */
  private[graft] def readSchema(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[String]): org.apache.spark.sql.types.StructType =
    readSchemaAt(spark, snap, files)
      .getOrElse(readSnapshotRaw(spark, table, snap).schema)

  /** The footer half of the schema rule, for parquet files with no
    * committed stamp (unstamped entries, delete vectors, sidecars,
    * freshly written data): the first file's footer, or None when
    * there is no file or a `k=v` directory asks for partition
    * inference. */
  private def footerRule(spark: SparkSession)(files: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    if (files.exists(f => f.split('/').exists(_.contains("=")))) None
    else files.headOption.map(footerSchema(spark, _))

  /** One parquet footer's schema, read at the driver and converted the
    * way Spark's inference converts the footer it picks: Spark's
    * row-metadata schema when the writer stored one, else the parquet
    * types under the session's binaryAsString / INT96 / NTZ settings. */
  private def footerSchema(spark: SparkSession, file: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val p = new Path(file)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
        spark.sessionState.newHadoopConf()))
    val footer = try r.getFooter finally r.close()
    nullableAll(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** Every field, element and value nullable — the form a parquet
    * relation reports its data schema in, whatever the files say. */
  private def nullableAll(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def go(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = go(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(go(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(go(m.keyType), go(m.valueType), valueContainsNull = true)
      case o => o
    }
    go(s).asInstanceOf[StructType]
  }

  /** ONE parquet frame over `roots` (absolute files or directories):
    * the roots are listed once at the driver and `schemaOf` resolves
    * the schema from that listing. With a schema, the relation's file
    * index is SEEDED with the same listing, so Spark neither lists the
    * roots again (no listing job past its 32-root parallel threshold)
    * nor warns that every root is an underscore `_v…` directory; the
    * partition and data schemas split as Spark's own relation splits
    * them. No schema (hive), or a root missing on disk, keeps Spark's
    * own relation path and its errors. */
  private def openListed(spark: SparkSession, roots: Seq[String],
      schemaOf: Seq[String] => Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    val entries = listRoots(spark, roots)
    schemaOf(entries.flatMap(_.files)) match {
      case Some(schema) if roots.nonEmpty && entries.size == roots.size =>
        import org.apache.hadoop.fs.FileStatus
        import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
        import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        // the index asks for each root's leaves; it gets the listing
        // above and lists nothing itself (no state outlives this read)
        val leaves = entries.map(e =>
          normPath(e.root.toString) -> e.leaves.toArray).toMap
        val listing = new FileStatusCache {
          override def getLeafFiles(p: Path) = leaves.get(normPath(p.toString))
          def putLeafFiles(p: Path, l: Array[FileStatus]): Unit = ()
          def invalidateAll(): Unit = ()
        }
        val index = new InMemoryFileIndex(spark, entries.map(_.root),
          Map.empty, Some(schema), listing)
        val parts = index.partitionSchema
        val resolver = spark.sessionState.conf.resolver
        val data = schema.filterNot(f => parts.exists(p => resolver(p.name, f.name)))
        spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
          org.apache.spark.sql.types.StructType(data), None,
          new ParquetFileFormat(), Map.empty)(spark))
      case Some(schema) => spark.read.schema(schema).parquet(roots: _*)
      case None => spark.read.parquet(roots: _*)
    }
  }

  /** rel-path → owning manifest entry. Entries within one snapshot are
    * disjoint (none nests inside another), so the owner is either the
    * path itself or its truncation at some '/' boundary — O(path
    * depth) hash lookups per file, independent of the entry count. */
  private def prefixResolver(entries: Seq[String]): String => Option[String] = {
    val set = entries.toSet
    (rel: String) =>
      if (set.contains(rel)) Some(rel)
      else {
        var i = rel.length
        var found: Option[String] = None
        while (found.isEmpty && { i = rel.lastIndexOf('/', i - 1); i > 0 }) {
          val p = rel.substring(0, i)
          if (set.contains(p)) found = Some(p)
        }
        found
      }
  }

  private def manifestDir(table: String) = new Path(s"$table/_manifest")
  private def manifestFile(table: String, v: Long) =
    new Path(s"$table/_manifest/v${"%08d".format(v)}.list")
  private[graft] def dataDirName(v: Long): String = s"_v${"%08d".format(v)}"

  private val ManifestName = """^v(\d{8})\.list$""".r
  /** Commit-metadata key recording a table's hive partitioning so
    * compaction can preserve it. */
  private val PartitionKey = "partition_by"
  /** Commit-metadata key recording the snapshot's EVOLVED schema (as
    * StructType json) after an additive-evolution append — what lets
    * readers serve pre-evolution files with NULL new columns, without
    * a per-footer merge pass. Inherits until the next evolution. */
  private[graft] val SchemaKey = "table_schema"
  /** Commit-metadata key carrying COLUMN MAPPING — the field-ID
    * indirection that makes RENAME/DROP COLUMN metadata-only commits
    * (the Delta column-mapping / Iceberg field-ID story, reduced to
    * what immutable parquet actually needs): an ordered list of
    * `logical:physical` pairs (names URL-encoded, ',' between pairs).
    * Files ALWAYS carry physical names; [[SchemaKey]] stays the
    * PHYSICAL read schema; every public read face projects
    * physical→logical at the end ([[toLogicalProj]]), and every verb
    * taking user predicates/column names translates logical→physical
    * at entry ([[predToPhysical]]/[[physOf]]). A physical column
    * absent from the mapping is DROPPED — readers never materialize
    * it (Catalyst prunes it out of the scan). Any full rewrite
    * ([[compact]], [[commitRewrite]]) writes logical-named files and
    * clears the mapping — compaction folds renames exactly like it
    * folds delete vectors. */
  private[sources] val ColumnMapKey = "column_mapping"

  private def encName(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def decName(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** The snapshot's ordered logical→physical pairs, None when the
    * snapshot carries no mapping (logical == physical everywhere). */
  private[sources] def mappingOf(snap: Snapshot): Option[Seq[(String, String)]] =
    snap.meta.get(ColumnMapKey).map(_.split(',').toSeq.filter(_.nonEmpty)
      .map { p =>
        val a = p.split(":", 2)
        (decName(a(0)), decName(a(1)))
      })

  private def mappingMeta(pairs: Seq[(String, String)]): String =
    pairs.map { case (l, p) => s"${encName(l)}:${encName(p)}" }.mkString(",")

  /** logical → physical name resolution (identity when unmapped). */
  private[sources] def physOf(snap: Snapshot): String => String = {
    val m = mappingOf(snap).map(_.toMap).getOrElse(Map.empty)
    (n: String) => m.getOrElse(n, n)
  }

  /** Serve a PHYSICAL frame under the snapshot's LOGICAL names: one
    * projection — Catalyst collapses it into the scan, so dropped
    * columns are never read and renames cost nothing. */
  private def toLogicalProj(snap: Snapshot, df: DataFrame): DataFrame =
    mappingOf(snap) match {
      case None => df
      case Some(pairs) =>
        df.select(pairs.map { case (l, p) => F.col(p).as(l) }: _*)
    }

  /** Rewrite a user predicate's single-part column references from
    * logical to physical names — what lets the CoW/MoR verbs and the
    * sidecar file-skipping decision run unchanged (sidecars are built
    * over physical file columns) on a mapped snapshot. */
  private[sources] def predToPhysical(snap: Snapshot, pred: Column): Column =
    mappingOf(snap) match {
      case None => pred
      case Some(pairs) =>
        val m = pairs.toMap
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        val e = GraftBridge.convertedExpression(pred).transform {
          case a: UnresolvedAttribute if a.nameParts.size == 1 &&
              m.get(a.nameParts.head).exists(_ != a.nameParts.head) =>
            UnresolvedAttribute(Seq(m(a.nameParts.head)))
        }
        GraftBridge.column(e)
    }

  /** True when the snapshot carries a non-identity column mapping. */
  private[sources] def isMapped(snap: Snapshot): Boolean =
    snap.meta.contains(ColumnMapKey)

  /** Commit-metadata key listing the snapshot's delete-vector dirs
    * (comma-separated, relative, under `_dv/`) — merge-on-read row
    * deletes ([[deleteWhereMoR]]): positions masked at read time, no
    * data file rewritten. Inherits across appends and CoW commits;
    * dropped by any full rewrite (compaction folds the DVs in). */
  private[sources] val DvKey = "delete_vectors"

  /** Commit-metadata key marking a DROP-TABLE tombstone: the current
    * snapshot carries it, the read faces treat the table as gone, and
    * [[vacuum]] reclaims everything once the retention window closes.
    * [[restore]] to a pre-drop version is the undrop. */
  private[sources] val DroppedKey = "dropped"

  /** Commit-metadata key naming the verb that produced each version —
    * what makes [[history]] a DESCRIBE-HISTORY. Every public write
    * path stamps its own verb, so an inherited label can never
    * describe the wrong commit; absent on pre-stamp history. */
  private[sources] val OpKey = "operation"
  private def withOp(meta: Map[String, String], op: String) =
    meta + (OpKey -> op)
  /** A delete-vector dir name: version prefix + writer suffix, under
    * `_dv/` — same orphan-reclaim story as [[DataDirName]]. */
  private val DvDirName = """^v(\d{8})-[0-9a-f]{8}$""".r
  /** A version data dir: the version prefix plus the writer's unique
    * suffix ([[writeData]]). */
  private val DataDirName = """^_v(\d{8})(-[0-9a-f]{8})?$""".r

  /** The WRITER LEASE for orphan reclamation: [[vacuum]] only deletes
    * an uncommitted (never-referenced) data or DV directory whose
    * recursive max mtime is older than this — a race-losing writer of
    * version v is still alive and writing when the winner's commit
    * makes `current == v`, and the bare version predicate would
    * reclaim the loser's directory out from under its write job. An
    * active job keeps renewing its lease with every task file it
    * lands; one hour of total write silence marks a genuine crash. */
  val DefaultOrphanGraceMs: Long = 60L * 60 * 1000

  /** Recursive max modification time under `root` (the root itself
    * when empty) — the orphan-staleness clock. Orphan candidates are
    * few by construction, so the walk is small. */
  private def maxMtimeUnder(fs: FileSystem, root: Path): Long = {
    var mx = fs.getFileStatus(root).getModificationTime
    var stack = List(root)
    while (stack.nonEmpty) {
      val dir = stack.head
      stack = stack.tail
      fs.listStatus(dir).foreach { st =>
        mx = math.max(mx, st.getModificationTime)
        if (st.isDirectory) stack ::= st.getPath
      }
    }
    mx
  }

  /** All committed versions, ascending (empty for a plain table). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val fs = fsFor(spark, table)
    val dir = manifestDir(table)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case ManifestName(v) => v.toLong
    }.sorted
  }

  def isManifested(spark: SparkSession, table: String): Boolean =
    versions(spark, table).nonEmpty

  /** The current snapshot: the HIGHEST committed manifest, parsed. */
  def currentSnapshot(spark: SparkSession, table: String): Option[Snapshot] =
    versions(spark, table).lastOption.map(v => readSnapshot(spark, table, v))

  def readSnapshot(spark: SparkSession, table: String, v: Long): Snapshot = {
    val fs = fsFor(spark, table)
    val in = fs.open(manifestFile(table, v))
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      out.toString("UTF-8")
    } finally in.close()
    val lines = text.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    val meta = lines.filter(_.startsWith("#")).flatMap { l =>
      l.drop(1).split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
    Snapshot(v, lines.filterNot(_.startsWith("#")), meta)
  }

  /** HEADER-ONLY manifest read: the commit writer puts every `#k=v`
    * meta line BEFORE the entry list, so a consumer that only needs
    * the metadata (the commit guard's tombstone check, most
    * prominently) streams lines until the first non-'#' and stops —
    * O(header), never O(entries), which matters on every commit
    * against a 10⁵–10⁶-entry manifest. */
  private[graft] def readSnapshotMeta(spark: SparkSession, table: String,
      v: Long): Map[String, String] = {
    val fs = fsFor(spark, table)
    val in = fs.open(manifestFile(table, v))
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8"))
    try {
      val meta = Map.newBuilder[String, String]
      var line = reader.readLine()
      while (line != null && line.trim.startsWith("#")) {
        line.trim.drop(1).split("=", 2) match {
          case Array(k, vv) => meta += (k -> vv)
          case _ => ()
        }
        line = reader.readLine()
      }
      meta.result()
    } finally reader.close()
  }

  /** Pinned read of the current snapshot: the file list is resolved
    * HERE, once, so the returned frame is immune to later commits and
    * (within the retention window) to vacuum. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.read: $table has no committed snapshot"))
    readSnapshotData(spark, table, snap)
  }

  /** Commit `paths` (relative to the table root) as version
    * `expected + 1`. Fails loudly if that version already exists — the
    * optimistic-concurrency loser must re-resolve and retry.
    *
    * The version slot is decided by a scheme-appropriate ATOMIC
    * primitive. On HDFS the manifest rename itself refuses an
    * occupied destination atomically. On the LOCAL filesystem rename
    * is POSIX rename(2) — it silently REPLACES an existing
    * destination, so two same-version committers could both "win",
    * the second overwriting the first's committed manifest (a lost
    * update the concurrency stress spec actually caught). There the
    * slot is claimed first with `File.createNewFile` (O_EXCL-atomic
    * per its contract): exactly one claimer proceeds to rename, the
    * loser errors and retries with a fresh snapshot. A claim from a
    * crashed local writer is broken after [[ClaimLeaseMs]] of no
    * manifest appearing. Object stores bring their own primitive
    * (conditional PUT) per the protocol note at the top of this file. */
  def commit(spark: SparkSession, table: String,
      expected: Long, paths: Seq[String],
      meta: Map[String, String] = Map.empty): Snapshot = {
    require(paths.nonEmpty, "refusing to commit an empty snapshot")
    require(paths.forall(!_.startsWith("#")), "paths cannot start with '#'")
    require(meta.forall { case (k, v) =>
      !k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r') },
      "meta keys cannot contain '='; keys and values cannot contain newlines")
    val fs = fsFor(spark, table)
    val target = manifestFile(table, expected + 1)
    def lost(): Nothing = throw new CommitRaceLost(
      s"Manifest.commit: $target already exists — a concurrent commit won; " +
        "re-resolve the current snapshot and retry")
    if (fs.exists(target)) lost()
    if (expected > 0) {
      // the expected version's manifest must EXIST: a legit committer
      // derived `expected` from a snapshot it read, and the current
      // manifest is always retained — a missing chain means the table
      // was RENAMED or reclaimed underneath (committing would
      // resurrect a ghost at the old path)
      if (!fs.exists(manifestFile(table, expected)))
        sys.error(s"Manifest.commit: $table has no manifest v$expected — " +
          "the table was renamed or reclaimed underneath; re-resolve " +
          "the table location and retry")
      // a DROPPED table accepts no further commits except the undrop
      // ([[restore]]) — without this, a retrying appender racing the
      // drop would quietly resurrect the table one version later.
      // HEADER-ONLY read: at a 10⁵⁺-entry manifest the guard must not
      // re-parse the entry list on every commit
      if (!meta.get(OpKey).contains("restore") &&
          readSnapshotMeta(spark, table, expected).contains(DroppedKey))
        sys.error(s"Manifest.commit: $table is DROPPED (tombstone at " +
          s"v$expected) — only Manifest.restore may commit on it; vacuum " +
          "reclaims it")
    }
    // mkdirs only AFTER the chain guard passed: fs.create below makes
    // parents, so an early mkdirs (or the tmp write itself) on a
    // guard-FAILING commit would resurrect an empty `_manifest` dir at
    // a renamed-away path — which the catalog's directory-existence
    // listTables then shows as a phantom table
    fs.mkdirs(manifestDir(table))
    val tmp = new Path(s"$table/_manifest/.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    // every commit stamps its wall time (ms) — the AS OF timestamp
    // resolution key for [[readAsOf]]; an inherited stamp is replaced
    val stamped = meta + ("committed_at" -> System.currentTimeMillis().toString)
    val metaLines = stamped.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
    try out.write(((metaLines ++ paths).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val claimOwner = java.util.UUID.randomUUID().toString
    val localClaim: Option[java.io.File] =
      if (fs.getUri.getScheme != "file") None
      else {
        val mdir = new java.io.File(
          new Path(s"$table/_manifest").toUri.getPath)
        val claim = new java.io.File(mdir,
          s".claim-v${"%08d".format(expected + 1)}")
        // reap crash leftovers of the claim protocol itself (an owner
        // source whose writer died before linking, an unreaped break
        // tombstone) — benign for LIVE writers: a linked claim shares
        // the source's inode, so deleting the source name changes
        // nothing a verifier reads
        Option(mdir.listFiles()).getOrElse(Array.empty).foreach { f =>
          if ((f.getName.startsWith(".claimsrc-") ||
              f.getName.startsWith(".claimtomb-")) &&
              System.currentTimeMillis() - f.lastModified() > ClaimLeaseMs)
            f.delete()
        }
        // break a stale claim (claimed long ago, yet no manifest — the
        // claimer died between claim and rename) ATOMICALLY: rename(2)
        // to a unique tombstone. Of N committers observing the same
        // stale claim, exactly ONE renameTo succeeds (the source path
        // vanishes for the rest), so a double-break can never let two
        // same-version writers both hold fresh claims — the delete-
        // then-create break had exactly that lost-update window.
        if (claim.exists() && !fs.exists(target) &&
            System.currentTimeMillis() - claim.lastModified() > ClaimLeaseMs) {
          val tomb = new java.io.File(mdir, s".claimtomb-$claimOwner")
          if (claim.renameTo(tomb)) tomb.delete()
        }
        // the claim is a HARD LINK to a unique owner-stamped source:
        // createLink is O_EXCL-atomic like createNewFile, and because
        // no committer ever writes THROUGH the claim path, reading the
        // claim back says exactly whose it is (a write-then-read-back
        // ownership scheme races on the write — two writers can
        // interleave write/verify and both "pass"; a link shares an
        // inode that was fully written BEFORE the claim existed)
        val src = new java.io.File(mdir, s".claimsrc-$claimOwner")
        java.nio.file.Files.write(src.toPath,
          claimOwner.getBytes("UTF-8"))
        try java.nio.file.Files.createLink(claim.toPath, src.toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            src.delete(); fs.delete(tmp, false); lost()
        }
        src.delete() // the claim keeps the inode alive
        Some(claim)
      }
    def ownsClaim(claim: java.io.File): Boolean =
      try new String(java.nio.file.Files.readAllBytes(claim.toPath),
        "UTF-8") == claimOwner
      catch { case _: java.io.IOException => false }
    try {
      // re-check under the claim: a racer may have renamed between
      // the first check and our claim
      if (fs.exists(target)) { fs.delete(tmp, false); lost() }
      // re-check the CHAIN under the claim too: the ghost-resurrection
      // guard above ran before the tmp write — a renameTable landing
      // in between would let this rename recreate `_manifest` at the
      // renamed-away path with entries pointing at moved data
      if (expected > 0 && !fs.exists(manifestFile(table, expected))) {
        fs.delete(tmp, false)
        sys.error(s"Manifest.commit: $table lost its manifest v$expected " +
          "under the claim — the table was renamed or reclaimed; " +
          "re-resolve the table location and retry")
      }
      // verify the claim is still OURS before the replace-semantics
      // rename: if a breaker (wrongly, or after we sat past the
      // lease) tombstoned our claim and re-claimed, the slot belongs
      // to them now — renaming anyway would overwrite their manifest
      localClaim.foreach { c =>
        if (!ownsClaim(c)) { fs.delete(tmp, false); lost() }
      }
      if (!fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        throw new CommitRaceLost(s"Manifest.commit: rename to $target " +
          "failed (lost the race?); nothing committed")
      }
    } finally localClaim.foreach { c =>
      // delete the claim only while it is still ours — on the
      // ownership-lost path the claim is the new owner's to manage
      if (ownsClaim(c)) c.delete()
    }
    Snapshot(expected + 1, paths, stamped)
  }

  /** How long a local commit claim may sit without its manifest
    * before another committer may break it (the claimer crashed
    * between claim and rename — a microsecond window in practice). */
  private val ClaimLeaseMs: Long = 60L * 1000

  /** DESCRIBE HISTORY: one row per RETAINED version — version number,
    * commit wall time, the write verb that produced it ([[OpKey]];
    * NULL on history committed before verbs were stamped), and the
    * manifest's entry count. Driver metadata only — no data-file IO —
    * and the rows are exactly what a reader can still pin with
    * `asOf`. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.{types => T}
    val schema = T.StructType(Seq(
      T.StructField("version", T.LongType, nullable = false),
      T.StructField("committed_at", T.LongType),
      T.StructField("operation", T.StringType),
      T.StructField("n_entries", T.IntegerType, nullable = false)))
    val rows = versions(spark, table).map { v =>
      val s = readSnapshot(spark, table, v)
      org.apache.spark.sql.Row(v,
        s.meta.get("committed_at").map(_.toLong).orNull,
        s.meta.get(OpKey).orNull, s.paths.size)
    }
    spark.createDataFrame(scala.jdk.CollectionConverters
      .SeqHasAsJava(rows).asJava, schema)
  }

  /** Create a manifested table from a frame: write snapshot 1's data
    * under its version directory, then commit. */
  def create(spark: SparkSession, table: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty): Snapshot = {
    require(versions(spark, table).isEmpty,
      s"Manifest.create: $table already has committed snapshots")
    commit(spark, table, 0L,
      Seq(writeData(spark, table, 1L, df, partitionBy)),
      withOp(withPartitionMeta(meta, partitionBy), "create"))
  }

  /** Create a manifested table with ZERO rows — the SQL
    * `CREATE TABLE` shape: one v1 commit whose single data file is an
    * empty parquet carrying the schema in its footer, so every reader
    * (and the first `INSERT INTO`'s schema revalidation) sees the
    * declared columns before any data lands. Partitioned empty tables
    * refuse: a hive layout encodes partition columns in directories,
    * and zero rows means zero directories to commit — declare
    * partitioning on the first data write (CTAS / [[create]]). */
  def createEmpty(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Snapshot = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1)
    create(spark, table, empty)
  }

  /** ADDITIVE schema evolution as a METADATA-ONLY commit — the SQL
    * `ALTER TABLE … ADD COLUMN` shape: no data file is touched; the
    * widened schema lands as the snapshot's committed read schema
    * ([[SchemaKey]]) and every existing row serves NULL for the new
    * columns, exactly like an evolution that rode an append. Strictly
    * additive: every existing field must survive with its name and
    * type (drops, renames, and type changes would silently corrupt
    * reads of immutable files — refused loudly); new fields must be
    * nullable (there is no data to backfill). Hive-partitioned
    * tables refuse — explicit-schema reads fight partition inference
    * (the commitAppend evolution rule). */
  def evolveSchema(spark: SparkSession, table: String,
      widened: org.apache.spark.sql.types.StructType): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.evolveSchema: $table has no committed snapshot"))
    val hive = snap.meta.contains(PartitionKey) ||
      listSnapshotFiles(spark, table, snap)
        .exists(f => f.split('/').exists(_.contains("=")))
    require(!hive,
      "Manifest.evolveSchema: additive schema evolution is not supported " +
        "on hive-partitioned tables (explicit-schema reads would fight " +
        "partition inference)")
    val phys = committedSchemaOf(snap)
      .getOrElse(readSnapshotRaw(spark, table, snap).schema)
    // a mapped snapshot's user-facing schema is the LOGICAL one; the
    // caller's `widened` speaks logical names
    val pairsOpt = mappingOf(snap)
    val cur = pairsOpt match {
      case None => phys
      case Some(pairs) => org.apache.spark.sql.types.StructType(
        pairs.map { case (l, p) =>
          val f = phys(p)
          org.apache.spark.sql.types.StructField(l, f.dataType, f.nullable)
        })
    }
    def key(s: org.apache.spark.sql.types.StructType) =
      s.map(f => (f.name, f.dataType.sql)).toSet
    require(key(cur).subsetOf(key(widened)),
      s"Manifest.evolveSchema: evolution must be ADDITIVE — missing or " +
        s"retyped: ${(key(cur) -- key(widened)).map(_._1).toSeq.sorted
          .mkString(",")}")
    // nullability may only widen: flipping an existing nullable column
    // to non-nullable would commit a read schema claiming NOT NULL over
    // immutable files that may hold nulls — wrong null-handling (or
    // reader errors) downstream
    val narrowed = cur.filter(c => c.nullable &&
      widened.find(_.name == c.name).exists(!_.nullable))
    require(narrowed.isEmpty,
      s"Manifest.evolveSchema: cannot narrow nullability of existing " +
        s"column(s) ${narrowed.map(_.name).mkString(",")} — committed " +
        "files may already hold nulls")
    val added = widened.filterNot(f => cur.fieldNames.contains(f.name))
    require(added.nonEmpty,
      "Manifest.evolveSchema: nothing to add")
    require(added.forall(_.nullable),
      s"Manifest.evolveSchema: new columns must be NULLABLE (no data to " +
        s"backfill): ${added.filterNot(_.nullable).map(_.name).mkString(",")}")
    pairsOpt match {
      case None =>
        commit(spark, table, snap.version, snap.paths,
          withOp(snap.meta, "evolve") + (SchemaKey -> widened.json))
      case Some(pairs) =>
        // a mapped add must dodge RETIRED physical names: a column
        // dropped earlier still exists physically in old files (and in
        // [[SchemaKey]]) — re-adding its logical name with the same
        // physical name would serve the OLD bytes where NULL is owed.
        // Fresh collisions get a version-suffixed physical name.
        val taken = scala.collection.mutable.Set(phys.fieldNames.toSeq: _*)
        val withPhys = added.map { f =>
          // the dodged candidate itself must clear the taken set (a
          // pre-existing physical column could be named exactly
          // name__fN) — loop the suffix until free, and reserve each
          // assignment so two adds in one call cannot collide either
          val p = if (!taken.contains(f.name)) f.name
          else {
            var cand = s"${f.name}__f${snap.version + 1}"
            var k = 1
            while (taken.contains(cand)) {
              cand = s"${f.name}__f${snap.version + 1}_$k"; k += 1
            }
            cand
          }
          taken += p
          (f, p)
        }
        val newPhys = org.apache.spark.sql.types.StructType(
          phys.fields ++ withPhys.map { case (f, p) =>
            org.apache.spark.sql.types.StructField(p, f.dataType, f.nullable)
          })
        val physFor = (pairs ++ withPhys.map { case (f, p) => f.name -> p }).toMap
        val newPairs = widened.map(f => f.name -> physFor(f.name))
        commit(spark, table, snap.version, snap.paths,
          withOp(snap.meta, "evolve") + (SchemaKey -> newPhys.json) +
            (ColumnMapKey -> mappingMeta(newPairs.toSeq)))
    }
  }

  /** RENAME COLUMN as a METADATA-ONLY commit — no data file is
    * touched: the committed physical read schema ([[SchemaKey]]) is
    * pinned and the logical→physical mapping ([[ColumnMapKey]])
    * re-points the logical name at the same physical column. Time
    * travel reads each version under its OWN names (the mapping rides
    * the snapshot), CoW/MoR/CDC keep working (verbs translate
    * predicates at entry), and the next full rewrite folds the
    * mapping away (files regain logical names; the native SQL scan
    * path resumes). Hive-partitioned tables refuse (the SchemaKey /
    * PartitionKey exclusion); a column referenced by a CHECK
    * constraint refuses — drop the constraint first (its SQL text
    * would silently go stale). */
  def renameColumn(spark: SparkSession, table: String,
      from: String, to: String): Snapshot = {
    val (snap, phys, pairs) = mappingBase(spark, table, "renameColumn")
    require(pairs.exists(_._1 == from),
      s"Manifest.renameColumn: $table has no column '$from'")
    require(!pairs.exists(_._1 == to),
      s"Manifest.renameColumn: $table already has a column '$to'")
    val stale = checkRefs(spark, snap).filter(_._2.contains(from)).keys
    require(stale.isEmpty,
      s"Manifest.renameColumn: CHECK constraint(s) ${stale.mkString(",")} " +
        s"reference '$from' — drop them first (their SQL would go stale)")
    val newPairs = pairs.map { case (l, p) =>
      if (l == from) (to, p) else (l, p) }
    commit(spark, table, snap.version, snap.paths,
      withOp(snap.meta, "rename_column") + (SchemaKey -> phys.json) +
        (ColumnMapKey -> mappingMeta(newPairs)))
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the logical name leaves
    * the mapping; the physical column stays in the immutable files
    * (and in [[SchemaKey]], which is what lets a later re-add of the
    * same name get a FRESH physical column instead of the old bytes)
    * but no reader ever materializes it — Catalyst prunes it out of
    * every scan. Same refusals as [[renameColumn]]. */
  def dropColumn(spark: SparkSession, table: String,
      name: String): Snapshot = {
    val (snap, phys, pairs) = mappingBase(spark, table, "dropColumn")
    require(pairs.exists(_._1 == name),
      s"Manifest.dropColumn: $table has no column '$name'")
    require(pairs.size > 1,
      s"Manifest.dropColumn: cannot drop $table's last column")
    val stale = checkRefs(spark, snap).filter(_._2.contains(name)).keys
    require(stale.isEmpty,
      s"Manifest.dropColumn: CHECK constraint(s) ${stale.mkString(",")} " +
        s"reference '$name' — drop them first")
    commit(spark, table, snap.version, snap.paths,
      withOp(snap.meta, "drop_column") + (SchemaKey -> phys.json) +
        (ColumnMapKey -> mappingMeta(pairs.filterNot(_._1 == name))))
  }

  /** Shared entry for the mapping verbs: resolve the snapshot, refuse
    * hive layouts, and return (snapshot, physical schema, current
    * logical→physical pairs — identity when unmapped). */
  private def mappingBase(spark: SparkSession, table: String, what: String)
      : (Snapshot, org.apache.spark.sql.types.StructType,
        Seq[(String, String)]) = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.$what: $table has no committed snapshot"))
    val hive = snap.meta.contains(PartitionKey) ||
      listSnapshotFiles(spark, table, snap)
        .exists(f => f.split('/').exists(_.contains("=")))
    require(!hive,
      s"Manifest.$what: column mapping is not supported on " +
        "hive-partitioned tables (explicit-schema reads would fight " +
        "partition inference)")
    val phys = committedSchemaOf(snap)
      .getOrElse(readSnapshotRaw(spark, table, snap).schema)
    val pairs = mappingOf(snap)
      .getOrElse(phys.fields.toSeq.map(f => f.name -> f.name))
    (snap, phys, pairs)
  }

  /** Each CHECK constraint's referenced column names (parsed from its
    * SQL text) — what the mapping verbs consult before letting a name
    * go away underneath a constraint. */
  private def checkRefs(spark: SparkSession, snap: Snapshot)
      : Map[String, Set[String]] =
    checks(snap).map { case (n, sql) =>
      val e = spark.sessionState.sqlParser.parseExpression(sql)
      n -> e.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }.toSet
    }

  /** Adopt an existing PLAIN parquet directory: commit a v1 manifest
    * listing its current root files in place (no data movement). From
    * then on the table must be read through the manifest — the next
    * rewrite lands in a version directory invisible to plain reads. */
  def adopt(spark: SparkSession, table: String): Snapshot = {
    require(versions(spark, table).isEmpty,
      s"Manifest.adopt: $table already has committed snapshots")
    val fs = fsFor(spark, table)
    val files = fs.listStatus(new Path(table)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
    require(files.nonEmpty, s"Manifest.adopt: no parquet files at $table")
    commit(spark, table, 0L, files, withOp(Map.empty, "adopt"))
  }

  /** Write `df` as version `v`'s data directory, reclaiming any
    * uncommitted leftover from a crashed writer of the same version
    * (safe: no manifest references it). Returns the relative name. */
  /** Write `df` as a version-prefixed data directory with a UNIQUE
    * writer suffix, so two racing committers of the same version can
    * NEVER touch each other's data — the loser's commit fails on the
    * manifest rename and its orphaned directory (like any crashed
    * writer's) is reclaimed by [[vacuum]] once the version number has
    * passed it. (An earlier design reused the bare version name and
    * deleted leftovers before writing, which let a losing racer delete
    * data the winner had already COMMITTED.) Returns the relative
    * name. */
  private def writeData(spark: SparkSession, table: String, v: Long,
      df: DataFrame, partitionBy: Seq[String]): String = {
    val rel = dataDirName(v) + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    val dir = new Path(s"$table/$rel")
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
    rel
  }

  /** [[writeData]] plus the exact written-row count, in ONE pass over
    * the input: the count comes from the WRITTEN files afterwards (a
    * column-less parquet count() is footer metadata, not a data scan),
    * instead of probing the input with isEmpty first — which re-reads
    * the touched inputs precisely when a takedown deleted everything.
    * An empty write's directory is deleted immediately (it was never
    * visible — no manifest references it). */
  private def writeDataCounted(spark: SparkSession, table: String, v: Long,
      df: DataFrame, partitionBy: Seq[String]): (String, Long) = {
    val rel = writeData(spark, table, v, df, partitionBy)
    val fs = fsFor(spark, table)
    val dir = new Path(s"$table/$rel")
    val n = writtenRowCount(spark, fs, dir)
    if (n == 0) { fs.delete(dir, true); () }
    (rel, n)
  }

  /** Row count of a JUST-WRITTEN directory: from the parquet footers
    * at the driver when the landed file set is small (the common verb
    * shape — no Spark job at all); a distributed footer-only count
    * when a rewrite landed many files, so the driver never serially
    * opens thousands of footers. Both read identical record counts. */
  private def writtenRowCount(spark: SparkSession,
      fs: FileSystem, dir: Path): Long = {
    val files = walkParquet(fs, dir)
    if (files.isEmpty) 0L
    else if (files.size <= 64) footerRowCount(spark, dir)
    else spark.read.parquet(dir.toString).count()
  }

  /** Full-rewrite commit: materialize `df` as the next version's data
    * and commit it as the complete new snapshot (the shape compaction
    * and index-folding use). */
  def commitRewrite(spark: SparkSession, table: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      expected: Option[Long] = None): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.commitRewrite: $table has no committed snapshot"))
    // callers whose REWRITE content derives from an earlier resolve
    // (the MV refresh) pass that version: a concurrent rewrite then
    // fails loudly here or on the commit rename, never lands stale
    // content over the winner's
    expected.foreach(e => require(snap.version == e,
      s"Manifest.commitRewrite: $table moved to v${snap.version} " +
        s"(expected v$e) — re-resolve and retry"))
    enforceChecks(spark, snap, df, "commitRewrite")
    val rel = writeData(spark, table, snap.version + 1, df, partitionBy)
    // carry the metadata forward (new keys win) — but a REWRITE defines
    // the new layout, so a stale partition_by from the old layout is
    // dropped rather than resurrected by a later compact(), and an
    // inherited evolved-schema stamp is RE-STAMPED to the rewritten
    // frame's own schema (the rewrite may reshape columns entirely —
    // an index fold — and a stale stamp would force the old shape
    // onto the new files)
    val restamped =
      if (snap.meta.contains(SchemaKey))
        Map(SchemaKey -> df.schema.json)
      else Map.empty[String, String]
    commit(spark, table, snap.version, Seq(rel),
      withPartitionMeta(
        withOp(snap.meta - PartitionKey - DvKey - ColumnMapKey,
          "rewrite") ++ restamped ++ meta,
        partitionBy))
  }

  /** APPEND commit: write `df` as version N+1's data directory and
    * commit the old snapshot's paths PLUS the new one — the
    * incremental-ingest path (landed micro-batches, daily loads)
    * without rewriting history. Every data dir stays immutable and
    * uniquely named, so a crashed appender's uncommitted leftover is
    * invisible until [[vacuum]] reclaims it. Appended snapshots SHARE
    * their predecessors' data dirs, which [[vacuum]]'s referenced-set
    * check already honors: dropping old versions never deletes a dir
    * a surviving snapshot still lists.
    *
    * With `mergeSchema = true` this is ADDITIVE SCHEMA EVOLUTION (the
    * Delta `mergeSchema` story): the batch may carry NEW columns —
    * overlapping columns must still type-match, and every current
    * column must be present (dropping or retyping is never silent).
    * The widened schema rides the commit as metadata ([[SchemaKey]]),
    * and [[readSnapshotData]] reads the snapshot under that EXPLICIT
    * schema, so pre-evolution files serve the new columns as NULL —
    * consistent reads with no per-footer schema-merge pass over the
    * table. Evolution and hive partitioning are mutually exclusive in
    * BOTH directions: a partitioned table refuses evolution, and an
    * evolved table refuses partitioned appends — either combination
    * would put SchemaKey beside PartitionKey and break the
    * multi-entry union read.
    *
    * AUTO-REBASE (the multi-writer story): an append's content does
    * not derive from the table state — its rows are new whatever
    * landed in between — so losing the version-slot race is not a
    * conflict, just a stale base. On a [[CommitRaceLost]] this method
    * re-resolves the new current snapshot, RE-VALIDATES everything
    * that could have moved (schema drift, layout/evolution exclusions,
    * row checks added since, the dropped tombstone via the commit
    * guard) against that snapshot, re-inherits ITS metadata (a
    * concurrent MoR delete's DvKey must ride along — dropping it would
    * resurrect masked rows), and re-commits the SAME already-written
    * data directory one slot later — the bytes are immutable and
    * never rewritten, so N concurrent appenders all land in wall-clock
    * order without caller retry loops. Rebases are bounded by
    * `maxRebase` (then the race error propagates) — the default is
    * deliberately generous: under heavy contention on a starved
    * machine a writer can lose dozens of slots, and "all appenders
    * land" is the liveness contract; a semantic refusal never
    * retries. Writers whose idempotence rides commit metadata
    * they checked BEFORE calling (the streaming sink's batch
    * high-water) must pass `maxRebase = 0`: a silent rebase would skip
    * their re-check and double-land a replayed batch. */
  def commitAppend(spark: SparkSession, table: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false,
      maxRebase: Int = 100): Snapshot = {
    // the data directory is written ONCE (first attempt) and reused
    // verbatim on every rebase — its version-number prefix may end up
    // below the version finally committed, which only orphan-reclaim
    // ORDERING reads (a committed dir is referenced, never an orphan).
    // The COLUMN MAPPING in force at write time rides along: the dir's
    // physical column names were fixed under it, so a rebase against a
    // snapshot whose mapping moved (a racing compact/convert folded it,
    // or a drop+re-add re-pointed a name) must NOT reuse the dir —
    // commitAppendOnce deletes it and rewrites under the new mapping.
    var written: Option[(String, Option[String])] = None
    var rebases = 0
    while (true) {
      try return commitAppendOnce(spark, table, df, partitionBy, meta,
        mergeSchema, written, r => written = Some(r))
      catch {
        case e: CommitRaceLost =>
          if (rebases >= maxRebase) throw e
          rebases += 1
          // jittered backoff: N losers re-resolving in lockstep would
          // re-collide on the next slot for O(N) rounds
          Thread.sleep(2L + scala.util.Random.nextInt(1 << math.min(rebases, 6)))
      }
    }
    sys.error("unreachable")
  }

  private def commitAppendOnce(spark: SparkSession, table: String,
      df: DataFrame, partitionBy: Seq[String], meta: Map[String, String],
      mergeSchema: Boolean, preWritten: Option[(String, Option[String])],
      recordWritten: ((String, Option[String])) => Unit): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.commitAppend: $table has no committed snapshot"))
    // fail loudly on drift: parquet's per-file schemas would otherwise
    // surface as missing-column reads long after the bad commit landed.
    // Types compare only outside partitionBy columns (hive partition
    // inference narrows their types on read).
    //
    // ONE-entry probe, not a full-snapshot listing: the schema/layout
    // check must stay O(entry) — a 10⁶-entry table's append (and every
    // auto-rebase attempt under contention) would otherwise pay a full
    // file listing just to compare schemas. Entries share one read
    // schema by this very contract, so [[readSchema]] over the first
    // entry speaks for the table: the committed stamp when present
    // (evolved tables), else its first footer; hive entries are whole
    // version DIRECTORIES (the deleteWhere carry rule), so partition
    // inference still sees the `col=` level under the probe.
    lazy val probeSnap = snap.copy(paths = snap.paths.take(1))
    lazy val probeFiles = listSnapshotFiles(spark, table, probeSnap)
    lazy val probeSchema = readSchema(spark, table, probeSnap, probeFiles)
    // a MAPPED snapshot's batch contract is the LOGICAL schema (the
    // caller speaks logical names); the batch is renamed to physical
    // just before the write, so files stay physically uniform
    val pairsOpt = mappingOf(snap)
    val curS = pairsOpt match {
      case None => probeSchema
      case Some(pairs) =>
        org.apache.spark.sql.types.StructType(pairs.map { case (l, p) =>
          val f = probeSchema(p)
          org.apache.spark.sql.types.StructField(l, f.dataType, f.nullable)
        })
    }
    def key(s: org.apache.spark.sql.types.StructType) = s.map(f =>
      if (partitionBy.contains(f.name)) (f.name, "partition")
      else (f.name, f.dataType.sql)).toSet
    val (cur, nxt) = (key(curS), key(df.schema))
    val ok = if (mergeSchema) cur.subsetOf(nxt) else cur == nxt
    require(ok,
      s"Manifest.commitAppend: schema mismatch vs current snapshot — " +
        s"only in table: ${(cur -- nxt).map(_._1).toSeq.sorted.mkString(",")}; " +
        s"only in batch: ${(nxt -- cur).map(_._1).toSeq.sorted.mkString(",")}" +
        (if (mergeSchema) "" else " (additive evolution needs mergeSchema=true)"))
    if (mergeSchema && cur != nxt) {
      // the TABLE's persisted layout decides, not this call's
      // partitionBy argument — a partitioned table evolved through a
      // partitionBy=Nil call would land SchemaKey beside PartitionKey
      // and brick every later read on the strict unionByName
      val hiveLayout = snap.meta.contains(PartitionKey) ||
        snap.paths.exists(p => p.split('/').exists(_.contains("="))) ||
        probeFiles.exists(f => f.split('/').exists(_.contains("=")))
      require(partitionBy.isEmpty && !hiveLayout,
        "Manifest.commitAppend: additive schema evolution is not " +
          "supported on hive-partitioned tables (explicit-schema reads " +
          "would fight partition inference)")
      // a MAPPED table's adds need physical-name assignment against
      // the retired set — that lives in [[evolveSchema]]; a silent
      // pass here could re-point a dropped column's old bytes
      require(pairsOpt.isEmpty,
        "Manifest.commitAppend: mergeSchema evolution on a column-mapped " +
          "table — use Manifest.evolveSchema (metadata-only add) first, " +
          "then append the widened batch")
    }
    // ...and the converse: once evolved, a partitioned APPEND would
    // land PartitionKey beside the inherited SchemaKey — the union
    // read would then drop the explicit schema and fail on the
    // pre-evolution entries
    require(!(snap.meta.contains(SchemaKey) && partitionBy.nonEmpty),
      "Manifest.commitAppend: cannot add hive-partitioned entries to " +
        "a schema-evolved table")
    enforceChecks(spark, snap, df, "commitAppend")
    // rename the batch to PHYSICAL names just before the write (mapped
    // snapshots only): every file of the table stays physically
    // uniform, whatever renames happened in between
    val dfP = pairsOpt match {
      case None => df
      case Some(pairs) =>
        val m = pairs.toMap
        df.select(df.columns.map(c =>
          F.col(c).as(m.getOrElse(c, c))).toIndexedSeq: _*)
    }
    val curMapping = snap.meta.get(ColumnMapKey)
    val rel = preWritten match {
      case Some((r, m)) if m == curMapping => r
      case other =>
        // stale-mapping rebase: the pre-written dir's physical names
        // were fixed under a mapping the race winner has since moved
        // (folded by compact/convert, or re-pointed by drop+re-add).
        // Reusing it would commit physically-incompatible files into
        // one snapshot — delete and rewrite under the NEW mapping,
        // which dfP above already reflects (it derives from `snap`).
        other.foreach { case (r, _) =>
          fsFor(spark, table).delete(new Path(s"$table/$r"), true) }
        val r = writeData(spark, table, snap.version + 1, dfP, partitionBy)
        recordWritten((r, curMapping))
        r
    }
    val evolved =
      if (mergeSchema && cur != nxt) Map(SchemaKey -> df.schema.json)
      else Map.empty[String, String]
    // metadata INHERITS across commits (new keys win): table-state
    // annotations like the streaming sink's batch high-water mark must
    // survive interleaved compactions + vacuum, or a crash replay after
    // retention could double-append
    commit(spark, table, snap.version, snap.paths :+ rel,
      withPartitionMeta(
        withOp(snap.meta, "append") ++ meta ++ evolved, partitionBy))
  }

  private def withPartitionMeta(meta: Map[String, String],
      partitionBy: Seq[String]): Map[String, String] =
    if (partitionBy.isEmpty) meta
    else meta + (PartitionKey -> partitionBy.mkString(","))

  /** TIME TRAVEL: pinned read of any still-retained version — the
    * manifest list IS the version history, so reading `AS OF v` is
    * just resolving that manifest instead of the newest. Fails loudly
    * on a vacuumed (or never-committed) version. */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame = {
    require(versions(spark, table).contains(v),
      s"Manifest.readVersion: $table has no retained version $v")
    val snap = readSnapshot(spark, table, v)
    readSnapshotData(spark, table, snap)
  }

  /** TIME TRAVEL by wall clock: the newest retained version whose
    * commit stamp is at or before `tsMillis` (commits made before the
    * stamp existed count as time 0). The stamp is commit METADATA, so
    * it rides the same atomic manifest appearance as everything else —
    * no file-mtime archaeology. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readSnapshotData(spark, table,
      readSnapshot(spark, table, versionAt(spark, table, tsMillis)))

  /** The wall-clock → version resolution [[readAsOf]] serves: newest
    * retained version committed at or before `tsMillis`. */
  def versionAt(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val vs = versions(spark, table).map(v => readSnapshot(spark, table, v))
      .filter(_.meta.get("committed_at").map(_.toLong).getOrElse(0L) <= tsMillis)
    require(vs.nonEmpty,
      s"Manifest.versionAt: no retained version of $table at or before $tsMillis")
    vs.last.version
  }

  /** ROLLBACK as a FORWARD commit (the Delta RESTORE shape): re-commit
    * a retained version's file list and metadata as version N+1.
    * History stays immutable and append-only — nothing is deleted,
    * pinned readers are unaffected, the bad versions remain
    * inspectable, and the restore itself shows in the change feed as
    * exactly the rows it brings back / removes. The restored state is
    * the WHOLE of version `v`'s state: data entries, layout, evolved
    * schema, delete vectors, and every metadata annotation (a
    * streaming sink's high-water mark included — a replayed batch
    * after a restore behaves as it did at `v`). All of `v`'s
    * directories are still referenced by its retained manifest, so
    * nothing has been vacuumed from under it. Restoring the current
    * version is a no-op. */
  def restore(spark: SparkSession, table: String, v: Long): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.restore: $table has no committed snapshot"))
    if (v == snap.version) return snap
    require(versions(spark, table).contains(v),
      s"Manifest.restore: $table has no retained version $v " +
        "(vacuumed?) — a restore needs the target's manifest")
    val old = readSnapshot(spark, table, v)
    commit(spark, table, snap.version, old.paths,
      withOp(old.meta, "restore"))
  }

  /** DROP TABLE as a TOMBSTONE commit — the removal story a real
    * warehouse needs without an immediate `rm`: one optimistic commit
    * stamps the drop (same claim/rename discipline as every verb, so
    * a racing writer loses loudly, never half-drops), the table
    * becomes invisible to the read faces (catalog loads, SHOW
    * TABLES), and the BYTES stay until [[vacuum]]'s lease discipline
    * reclaims them — a reader pinned on a pre-drop snapshot inside
    * the retention window keeps serving, and a mistaken drop undoes
    * with [[restore]] (the only verb a dropped table's commit guard
    * admits). */
  def dropTable(spark: SparkSession, table: String): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.dropTable: $table has no committed snapshot"))
    require(!snap.meta.contains(DroppedKey),
      s"Manifest.dropTable: $table is already dropped (awaiting vacuum)")
    commit(spark, table, snap.version, snap.paths,
      withOp(snap.meta, "drop") + (DroppedKey -> "true"))
  }

  /** True when the CURRENT snapshot is a drop tombstone — the read
    * faces' invisibility test. Retained pre-drop versions still exist
    * underneath until vacuum. Header-only read: SHOW TABLES calls
    * this once per candidate and must not parse entry lists. */
  def isDropped(spark: SparkSession, table: String): Boolean =
    versions(spark, table).lastOption.exists(v =>
      readSnapshotMeta(spark, table, v).contains(DroppedKey))

  /** RENAME TABLE as ONE atomic directory move — everything a table
    * is (manifests, data dirs, delete vectors, sidecars, tags) lives
    * UNDER its root and every manifest entry is root-RELATIVE, so the
    * whole identity transfers in a single `FileSystem.rename`:
    * history, time travel, tags, and skipping sidecars all survive
    * verbatim at the new path. Atomic on HDFS/POSIX directory rename
    * (the same primitive the commit protocol already leans on);
    * object stores without atomic dir rename should move the path
    * out-of-band and adopt.
    *
    * Concurrency: a writer racing the rename fails LOUDLY, never
    * half-writes — its commit re-checks that the expected version's
    * manifest still exists at the path it resolved, and a renamed-away
    * table has no chain there ([[commit]]'s ghost-resurrection
    * guard). A race-loser's claim file or tmp manifest can ride the
    * rename to the new path as inert leftovers; the standard
    * stale-claim break (ClaimLeaseMs) and tmp reclamation age them
    * out. */
  def renameTable(spark: SparkSession, src: String, dst: String): Unit = {
    require(currentSnapshot(spark, src).nonEmpty,
      s"Manifest.renameTable: $src has no committed snapshot")
    require(!isDropped(spark, src),
      s"Manifest.renameTable: $src is DROPPED (awaiting vacuum) — " +
        "restore it first or let vacuum reclaim it")
    val fs = fsFor(spark, src)
    val to = new Path(dst)
    require(!fs.exists(to),
      s"Manifest.renameTable: destination $dst already exists")
    val parent = to.getParent
    if (parent != null) fs.mkdirs(parent)
    require(fs.rename(new Path(src), to),
      s"Manifest.renameTable: rename $src -> $dst failed (concurrent " +
        "rename, or a filesystem without atomic directory rename?)")
  }

  /** File-level diff between two retained versions: (added, removed)
    * relative paths, v1 → v2. Driver-side manifest metadata only —
    * nothing scans data. The row-level diff is [[readChanges]]. */
  def diffSnapshots(spark: SparkSession, table: String,
      v1: Long, v2: Long): (Seq[String], Seq[String]) = {
    val a = readSnapshot(spark, table, v1).paths.toSet
    val b = readSnapshot(spark, table, v2).paths.toSet
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** Row-level change feed between two retained versions — the CDC
    * complement of [[diffSnapshots]], costed by what CHANGED, never by
    * the table: only the added/removed manifest entries are read
    * (carried-forward entries appear in both snapshots and drop out of
    * the diff), and the multiset difference each way cancels the
    * rewrite churn a compaction or a [[deleteWhere]] copy-on-write
    * introduces — a compacted-but-identical row set yields ZERO
    * changes, a delete yields exactly the deleted rows. Output: the
    * table's columns plus `_change_type` ('insert' | 'delete').
    * The exceptAll shuffles hash by full row across the changed
    * entries only — at 100 TB the feed costs ∝ the commit being
    * explained, which is what lets the incremental sidecar/stats path
    * and downstream consumers avoid full-snapshot anti-joins. */
  def readChanges(spark: SparkSession, table: String,
      v1: Long, v2: Long): DataFrame = {
    val (added, removed) = diffSnapshots(spark, table, v1, v2)
    val s1 = readSnapshot(spark, table, v1)
    val s2 = readSnapshot(spark, table, v2)
    val template = readVersion(spark, table, v2).limit(0)
    def readSide(rels: Seq[String], v: Long): DataFrame =
      if (rels.isEmpty) template
      // ride the snapshot reader so multi-entry hive sides union
      // per entry instead of tripping partition inference — each
      // side's OWN delete vectors mask its rows (the copied snapshot
      // keeps its meta), so a CoW rewrite of already-MoR-deleted rows
      // still cancels. PHYSICAL names on purpose: physical names never
      // change across renames, so both sides diff under one naming and
      // align() serves the feed under v2's LOGICAL schema — the Delta
      // column-mapping CDC rule (the feed speaks the query-end names)
      else readSnapshotDataPhysical(spark, table,
        readSnapshot(spark, table, v).copy(paths = rels))
    // a MoR delete changes NO entry — the mask grew while the file
    // list stood still, so the entry diff alone would miss it. Pull
    // the entries whose files a CHANGED vector names (restricted to
    // entries carried in BOTH snapshots; changed entries' rows ride
    // the entry diff) into both sides: each side masks with its own
    // vectors, the multiset diff yields exactly the newly-masked rows.
    def dvDirs(s: Snapshot) = s.meta.get(DvKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil).toSet
    val delta = (dvDirs(s1) | dvDirs(s2)) -- (dvDirs(s1) & dvDirs(s2))
    val dvTouched: Seq[String] =
      if (delta.isEmpty) Nil
      else {
        val names = dvDistinctFiles(spark, table, delta.toSeq.sorted)
        val common = (s1.paths.toSet & s2.paths.toSet).toSeq
        if (common.isEmpty) Nil
        else {
          val fs = fsFor(spark, table)
          def norm(f: String) = new Path(f).toUri.getPath
          val tableAbs = norm(fs.makeQualified(new Path(table)).toString)
          val entryFor = prefixResolver(common)
          readSnapshotRaw(spark, table, s2.copy(paths = common)).inputFiles
            .map(f => norm(f).stripPrefix(tableAbs).stripPrefix("/"))
            .filter(names.contains)
            .flatMap(entryFor(_))
            .distinct.toSeq.sorted
        }
      }
    // column order can differ across layouts (hive partition columns
    // trail) and column SETS across an additive schema evolution (a
    // pre-evolution side lacks the new columns — fill NULL, exactly
    // how v2 itself reads those files, so rewrite churn still cancels)
    val cols = template.columns.toSeq
    // each logical output column's PHYSICAL source under v2's naming
    // (identity when v2 is unmapped)
    val physFor = physOf(s2)
    // NULL-filling is legitimate ONLY for additive evolution (the
    // column did not exist on that side). If the COLUMN MAPPING moved
    // anywhere inside the window (rename/drop/re-add, or a rewrite
    // folding the mapping restamped files to new physical names), a
    // missing physical source means the side's files hold the column
    // under a name this alignment cannot see — NULL-filling would emit
    // spurious delete/insert pairs with NULLs. Refuse loudly instead
    // (the Delta column-mapping CDC rule); per-commit windows that do
    // not cross the mapping change still serve. Header-only manifest
    // reads, O(window).
    lazy val mappingMovedInWindow: Boolean = {
      val states = s1.meta.get(ColumnMapKey) +:
        versions(spark, table).filter(v => v > v1 && v <= v2)
          .map(v =>
            if (v == v2) s2.meta.get(ColumnMapKey)
            else readSnapshotMeta(spark, table, v).get(ColumnMapKey))
      states.distinct.size > 1
    }
    def align(df: DataFrame, sideHasEntries: Boolean): DataFrame = {
      val have = df.columns.toSet
      df.select(cols.map { c =>
        val p = physFor(c)
        if (have(p)) F.col(p).as(c)
        else if (sideHasEntries && mappingMovedInWindow)
          throw new IllegalArgumentException(
            s"Manifest.readChanges: column '$c' has no physical source " +
              s"on one side of ($v1, $v2] and the column mapping changed " +
              "inside the window — the feed cannot align renamed/folded " +
              "columns across the change. Read per-commit windows that " +
              "do not cross the mapping commit instead")
        else F.lit(null).cast(template.schema(c).dataType).as(c)
      }: _*)
    }
    val addRels = (added ++ dvTouched).distinct
    val remRels = (removed ++ dvTouched).distinct
    val a = align(readSide(addRels, v2), addRels.nonEmpty)
    val r = align(readSide(remRels, v1), remRels.nonEmpty)
    // ONE-PASS multiset diff: tag each side ±1, sum per whole row, emit
    // |net| copies ('insert' when the v2 side has more, 'delete' when
    // the v1 side does). Identical multiset semantics to the previous
    // a.exceptAll(r) ∪ r.exceptAll(a), but each side is scanned ONCE
    // and the diff is ONE hash aggregation (one exchange) instead of
    // two exceptAll joins that shuffled both sides twice — at 100 TB
    // the feed still costs ∝ the commit being explained, with a 4×
    // smaller constant.
    val sgn = "__graft_cdc_sgn"
    val netc = "__graft_cdc_net"
    val net = a.withColumn(sgn, F.lit(1L))
      .unionByName(r.withColumn(sgn, F.lit(-1L)))
      .groupBy(cols.map(F.col): _*)
      .agg(F.sum(F.col(sgn)).as(netc))
      .filter(F.col(netc) =!= 0L)
    // |net| copies via TWO nested bounded generators (chunks of 2¹⁶ ×
    // remainder) instead of one sequence(1, |net|): a single sequence
    // materializes an O(|net|) array per row in one task and hard-fails
    // past 2³¹ elements, where the nested form never holds more than
    // 65536 elements per array and streams nets up to 2⁴⁷ — the same
    // multiplicity, shaped for the pathological ultra-duplicated-row
    // commit instead of failing on it.
    val rep = "__graft_cdc_rep"
    val chunk = 65536L
    val n = F.abs(F.col(netc))
    net.select((cols.map(F.col) :+ n.as("__graft_cdc_n") :+
        F.when(F.col(netc) > 0, F.lit("insert")).otherwise(F.lit("delete"))
          .as("_change_type")): _*)
      .select((cols.map(F.col) :+ F.col("__graft_cdc_n") :+
        F.col("_change_type") :+
        F.explode(F.sequence(F.lit(0L),
          F.floor((F.col("__graft_cdc_n") - 1L) / chunk).cast("long")))
          .as(s"${rep}_c")): _*)
      .select((cols.map(F.col) :+ F.col("_change_type") :+
        F.explode(F.sequence(F.lit(1L),
          F.least(F.lit(chunk),
            F.col("__graft_cdc_n") - F.col(s"${rep}_c") * chunk)))
          .as(rep)): _*)
      .drop(rep)
  }

  /** COPY-ON-WRITE row delete — the takedown / right-to-be-forgotten
    * path every training corpus needs: rewrite ONLY the files that
    * actually contain matching rows, carry everything else forward
    * verbatim into one atomic snapshot commit.
    *
    * Phase 1 finds the touched files EXACTLY — a scan of the predicate
    * columns only (columnar projection + parquet row-group pushdown)
    * grouped by `input_file_name()`; the predicate's own per-file
    * envelope admission ([[admittedFilesFor]] — sound by construction)
    * first prunes the scan to the files that may hold a match when an
    * envelope sidecar exists, so at 100 TB a clustered
    * takedown touches a handful of files and phase 1 reads little
    * more. Phase 2 rewrites the touched files' survivors into the new
    * version directory; untouched entries are CARRIED: whole
    * directories when clean, per-file entries when a directory is
    * partially touched (file-grain CoW). Hive-partitioned snapshots
    * rewrite at version-DIRECTORY grain instead (a carried entry must
    * stay a whole hive directory or the partition columns would drop
    * on read), preserving the partitioned layout.
    *
    * Sidecar upkeep stays incremental: data files are immutable, so
    * the next [[analyzeFiles]]/[[analyzeFilesBloom]] reuses every
    * carried file's rows and scans only the rewritten files
    * (LakehouseSpec pins the count). Returns the new snapshot, or the
    * CURRENT one untouched when nothing matches (no empty commit).
    * Deleting every row of an unpartitioned single-entry table is
    * refused (a snapshot cannot be empty) — takedowns are selective
    * by nature; drop the table instead. */
  def deleteWhere(spark: SparkSession, table: String, pred: Column): Snapshot =
    // envelope pruning is derived from the PREDICATE ITSELF, so it
    // cannot be unsound ([[admittedFilesFor]] — per-leaf envelope
    // tests, OR/IN prune to per-disjunct unions, anything
    // unrecognized scans fully). (An earlier design took
    // caller-supplied ranges on trust — a hint narrower than the
    // predicate would have silently left matching rows alive in
    // pruned files, in the takedown path of all places.)
    deleteCore(spark, table, pred, candidates = snap =>
      admittedFilesFor(spark, table, snap, predToPhysical(snap, pred)))

  /** The bare column name an envelope test may bound — deliberately
    * NO Cast unwrapping: a narrowing cast can wrap values, so a bound
    * on cast(col) does not bound col. Shared by every predicate walker
    * that decides from sidecar envelopes. */
  private def attrName(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(a.name)
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      Some(a.name)
    case _ => None
  }

  /** A numeric literal's value as a double — the envelopes' type
    * (`java.math.BigDecimal` and `scala.math.BigDecimal` are both
    * `Number`s). */
  private def numLit(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }

  /** Per-column inclusive [lo, hi] ranges with a COMPLETENESS proof:
    * Some(bounds) only when the predicate is EXACTLY the conjunction of
    * the returned inclusive ranges — every leaf is a recognized non-strict
    * comparison (>=, <=, =, BETWEEN) of a bare attribute against a
    * numeric literal, and nothing else appears in the tree. Strict
    * comparisons are rejected on purpose: pruning may relax `>` to
    * `>=` (supersets are sound), an EXACT serve may not. What
    * completeness buys: a filtered aggregate can be answered from
    * per-file stats alone for files fully inside every range (and
    * with no NULLs in the predicate columns), scanning only the
    * boundary — [[statsAggregateGrouped]]. Contradictory bounds are
    * KEPT (lo > hi ⇒ the predicate is unsatisfiable ⇒ zero rows). */
  private[graft] def boundsFromPredComplete(pred: Column)
      : Option[Seq[(String, Double, Double)]] = {
    import org.apache.spark.sql.catalyst.expressions._
    type B = (String, Double, Double)
    def mk(a: Expression, v: Any, lo: Boolean): Option[Seq[B]] =
      (attrName(a), numLit(v)) match {
        case (Some(c), Some(x)) => Some(Seq(
          if (lo) (c, x, Double.PositiveInfinity)
          else (c, Double.NegativeInfinity, x)))
        case _ => None
      }
    def pt(a: Expression, v: Any): Option[Seq[B]] =
      (attrName(a), numLit(v)) match {
        case (Some(c), Some(x)) => Some(Seq((c, x, x)))
        case _ => None
      }
    def walk(e: Expression): Option[Seq[B]] = e match {
      case And(l, r) => for { a <- walk(l); b <- walk(r) } yield a ++ b
      case GreaterThanOrEqual(a, Literal(v, _)) => mk(a, v, lo = true)
      case GreaterThanOrEqual(Literal(v, _), a) => mk(a, v, lo = false)
      case LessThanOrEqual(a, Literal(v, _)) => mk(a, v, lo = false)
      case LessThanOrEqual(Literal(v, _), a) => mk(a, v, lo = true)
      case EqualTo(a, Literal(v, _)) => pt(a, v)
      case EqualTo(Literal(v, _), a) => pt(a, v)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.lengthCompare(1) == 0 =>
        (u.nameParts.head.toLowerCase, u.arguments) match {
          case ("and", Seq(l, r)) =>
            for { a <- walk(l); b <- walk(r) } yield a ++ b
          case (">=", Seq(a, Literal(v, _))) => mk(a, v, lo = true)
          case (">=", Seq(Literal(v, _), a)) => mk(a, v, lo = false)
          case ("<=", Seq(a, Literal(v, _))) => mk(a, v, lo = false)
          case ("<=", Seq(Literal(v, _), a)) => mk(a, v, lo = true)
          case ("=" | "==", Seq(a, Literal(v, _))) => pt(a, v)
          case ("=" | "==", Seq(Literal(v, _), a)) => pt(a, v)
          case _ => None
        }
      case _ => None
    }
    walk(GraftBridge.convertedExpression(pred)).map(
      _.groupBy(_._1).toSeq.map { case (c, bs) =>
        (c, bs.map(_._2).max, bs.map(_._3).min)
      }.sortBy(_._1))
  }

  /** [[statsAggregateGrouped]] with no group keys and no ranges: one
    * whole-table row. */
  def statsAggregate(spark: SparkSession, table: String,
      cols: Seq[String], version: Option[Long] = None): DataFrame =
    statsAggregateGrouped(spark, table, Nil, cols, Nil, version)

  /** [[statsAggregateGrouped]] with no group keys: one row under a
    * conjunction of inclusive numeric ranges. */
  def statsAggregateWhere(spark: SparkSession, table: String,
      cols: Seq[String], where: Seq[(String, Double, Double)],
      version: Option[Long] = None): DataFrame =
    statsAggregateGrouped(spark, table, Nil, cols, where, version)

  /** METADATA-SERVED aggregates — `count(*)` / `count(c)` / `min` /
    * `max` / `sum`, optionally under `where` ranges and optionally
    * `GROUP BY` file-constant keys, answered from DRIVER METADATA: the
    * [[analyzeFiles]] sidecar's per-file scalars folded at the driver
    * instead of a table scan. At 100 TB a `count(*)` becomes one
    * sidecar parquet read (#files rows) and zero data-file opens — the
    * Iceberg/Delta scan-planning-answers-aggregates trade.
    *
    * `where` is a conjunction of inclusive numeric ranges (a COMPLETE
    * predicate — [[boundsFromPredComplete]]'s contract). Per covered
    * file, the envelope decides three ways:
    *  - DISJOINT from any range (or the range column all-NULL in the
    *    file): contributes nothing;
    *  - FULLY INSIDE every range AND no NULLs in any range column
    *    (`nn == cnt` — a NULL row never satisfies a range): every row
    *    matches, so the file's stored scalars serve as-is;
    *  - otherwise (boundary / NULL-bearing): the file scans WITH the
    *    predicate.
    * Cost is ∝ boundary + unanalyzed files — on a range-clustered
    * table a `day BETWEEN` count touches the two edge files.
    *
    * A group key serves when it is FILE-CONSTANT: on a partitioned or
    * clustered layout each file's key envelope collapses to a point
    * (`min == max`) with no NULL keys (`nn == cnt` — a NULL key is its
    * own SQL group the envelope cannot see), so the file's scalars
    * belong wholly to that group — "rows per day this quarter" on a
    * day-laid-out table is one sidecar read. Numeric keys serve from
    * the `stats_v` sidecar; string keys (day strings!) from
    * `strstats_v`, whose per-file counts exist for exactly this proof;
    * hive partition columns serve from the file PATHS. The key is a
    * partition/cluster grain by construction (day, source, shard); a
    * group-by-user_id does not belong here and simply scans.
    *
    * Soundness ladder, per FILE (never per query, except where noted):
    *  - files the sidecar does not cover (appended since the last
    *    ANALYZE), boundary files, and files whose key is not a point,
    *    has NULLs, or is an integral value past 2⁵³ (double identity
    *    would silently merge groups) are scanned — ALONE — and merged
    *    (`served_from = "stats_delta"`, `files_scanned` = that count);
    *  - a snapshot carrying MoR delete vectors falls back to the live
    *    scan (raw-file stats count masked rows; correcting min/max
    *    from a positional mask is impossible without reading) — fold
    *    the vectors and re-analyze to restore metadata serving;
    *  - no sidecar / a sidecar predating a requested column or this
    *    stat vintage ⇒ full scan (`served_from = "scan"`), never a
    *    wrong answer;
    *  - a HIVE layout with any file to scan falls back to the full
    *    directory-read scan — leaf-file reads would drop the
    *    partition columns.
    *
    * Output: one row per group — the key columns under their fact
    * types, then `cnt` and per requested column `<c>_nn/_min/_max/
    * _sum` (SQL semantics — all-NULL ⇒ NULL min/max/sum), then the
    * `served_from` ∈ {stats, stats_delta, scan} and `files_scanned`
    * pins that make the serving mode itself verifiable. Sorted by key
    * for determinism. With no keys it is exactly ONE row (`cnt` 0 when
    * nothing matches). A LocalRelation — no data-file IO in the plan.
    * Doubles are exact below 2⁵³ (counts, integral-valued sums); an
    * integral result that could round is [[statsInexact]]'s to refuse.
    *
    * `version` pins the serve to a RETAINED snapshot: data files are
    * immutable, so ANY retained sidecar's rows, filtered to the files
    * that snapshot actually lists, describe it exactly — "how big was
    * release v3" is a metadata read years later. */
  def statsAggregateGrouped(spark: SparkSession, table: String,
      groupBy: Seq[String], cols: Seq[String],
      where: Seq[(String, Double, Double)] = Nil,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StringType}
    val snap = resolveSnapshot(spark, table, version, "statsAggregateGrouped")
    val allFiles = listSnapshotFiles(spark, table, snap)
    // key types WITHOUT a full relation init (at 5k files its footer
    // pass costs seconds): [[readSchema]] — the committed stamp or one
    // footer, at the driver; hive layouts keep the relation read (a
    // leaf footer lacks the partition columns, whose types come from
    // directory inference). An ungrouped serve needs no schema.
    val keyTypes: Seq[DataType] = if (groupBy.isEmpty) Nil else {
      val phys = readSchema(spark, table, snap, allFiles)
      // the caller speaks LOGICAL names on a mapped snapshot
      val factSchema = mappingOf(snap) match {
        case None => phys
        case Some(pairs) => org.apache.spark.sql.types.StructType(
          pairs.map { case (l, ph) =>
            org.apache.spark.sql.types.StructField(l, phys(ph).dataType)
          })
      }
      groupBy.map { k =>
        require(factSchema.fieldNames.contains(k),
          s"Manifest.statsAggregateGrouped: '$k' is not a column of $table")
        factSchema(k).dataType
      }
    }
    val strKey = keyTypes.map(_ == StringType)
    val predCol = where.map { case (c, lo, hi) =>
      F.col(c) >= lo && F.col(c) <= hi }.reduceOption(_ && _)
    val partitioned = snap.meta.contains(PartitionKey)
    // hive PARTITION group keys serve from the file PATHS: each file's
    // directory value is constant by construction, so the key needs no
    // sidecar coverage — `GROUP BY day` over a day-partitioned 100 TB
    // table is a pure metadata read (the path is the statistic)
    val partCols: Set[String] =
      if (groupBy.nonEmpty && hiveLayout(spark, table, snap))
        partitionColumnsOf(spark, table, snap).toSet
      else Set.empty
    def pathVal(nf: String, k: String): Option[String] =
      nf.split('/').find(_.startsWith(k + "="))
        .map(s => org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(s.substring(k.length + 1)))
        .filter(_ != "__HIVE_DEFAULT_PARTITION__")

    // the scan shape of every fallback and delta: per group key tuple
    // (numeric keys carried as Double — the sidecar's identity), the
    // same cnt/nn/min/max/sum scalars the sidecar serves
    def scanAgg(df: DataFrame): Seq[(Seq[Any], Long, StatsPer)] = {
      val keyCols = groupBy.zip(strKey).map { case (k, s) =>
        (if (s) F.col(k) else F.col(k).cast("double")).as(s"__k_$k") }
      val aggs = F.count(F.lit(1)).cast("long").as("cnt") +:
        cols.flatMap(c => Seq(
          F.count(F.col(c)).cast("long").as(s"${c}_nn"),
          F.min(F.col(c)).cast("double").as(s"${c}_min"),
          F.max(F.col(c)).cast("double").as(s"${c}_max"),
          F.sum(F.col(c).cast("double")).as(s"${c}_sum")))
      val src = predCol.map(df.filter).getOrElse(df)
      src.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
        .collect().toIndexedSeq.map { r =>
          val key = groupBy.indices.map(i =>
            if (r.isNullAt(i)) null else r.get(i))
          val base = groupBy.length
          def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          (key, r.getLong(base), cols.indices.map { j =>
            val b = base + 1 + 4 * j
            (r.getLong(b), d(b + 1), d(b + 2), d(b + 3))
          }: StatsPer)
        }
    }
    def emit(groups: Seq[(Seq[Any], Long, StatsPer)], from: String,
        scanned: Long): DataFrame =
      statsEmitGrouped(spark, groupBy, keyTypes, cols,
        // no keys: always one row — the empty fold is cnt 0, NULL scalars
        if (groups.isEmpty && groupBy.isEmpty)
          Seq((Nil, 0L, cols.map(_ => (0L, None, None, None))))
        else groups, from, scanned)
    def fallback(): DataFrame =
      emit(scanAgg(readSnapshotData(spark, table, snap)), "scan",
        allFiles.size.toLong)
    if (snap.meta.contains(DvKey)) return fallback()

    // mapped snapshots: every SIDECAR lookup below runs under the
    // PHYSICAL names (the sidecars were built over the files), while
    // group keys, measures, and the emitted frame keep the caller's
    // logical names — a sidecar built before a rename keeps serving
    val pm = physOf(snap)
    val colsP = cols.map(pm)
    val whereP = where.map(r => (pm(r._1), r._2, r._3))
    val numKeys = groupBy.zip(strKey).collect {
      case (k, false) if !partCols.contains(k) => k }
    val strKeys = groupBy.zip(strKey).collect {
      case (k, true) if !partCols.contains(k) => k }
    val neededNum = (colsP ++ whereP.map(_._1) ++ numKeys.map(pm)).distinct
    // numeric sidecar: required whenever any measure / range / numeric
    // key needs it, and for an ungrouped count(*) — its per-file cnt
    // is the row count, so no footer opens
    val numSide =
      if (neededNum.isEmpty && groupBy.nonEmpty) None
      else newestSidecar(spark, table, snap, statsDir) match {
        case Some((sch, rows)) if statsCovers(sch, neededNum) =>
          Some((sch, rows))
        case _ => return fallback()
      }
    // the per-file row count: the first needed column's `cnt`, else
    // (a count(*)-only serve) any analyzed column's — all equal
    val cntField: Option[String] = numSide match {
      case None => None
      case Some((sch, _)) => Some(neededNum.headOption.map(c => s"${c}__cnt")
        .orElse(sch.fieldNames.find(_.endsWith("__cnt")))
        .getOrElse(return fallback()))
    }
    val strSide =
      if (strKeys.isEmpty) None
      else newestSidecar(spark, table, snap, strStatsDir) match {
        case Some((sch, rows)) if strKeys.map(pm).forall(k =>
            Seq(s"${k}__smin", s"${k}__smax", s"${k}__scnt",
              s"${k}__snn").forall(sch.fieldNames.contains)) =>
          Some((sch, rows))
        case _ => return fallback()
      }
    val numMap = numSide.map { case (sch, rows) =>
      (sch, rows.map(r => normPath(
        r.getString(sch.fieldIndex("file"))) -> r).toMap) }
    val strMap = strSide.map { case (sch, rows) =>
      (sch, rows.map(r => normPath(
        r.getString(sch.fieldIndex("file"))) -> r).toMap) }
    sealed trait Cls; object Disjoint extends Cls
    object Full extends Cls; object Boundary extends Cls
    // a numeric key value is a group identity only while the double
    // holds it exactly
    def exactKey(d: Double, dt: DataType): Boolean =
      !integralType(dt) || math.abs(d) < ExactDoubleCap
    val served = Seq.newBuilder[(Seq[Any], Long, StatsPer)]
    val toScan = Seq.newBuilder[String]
    var scanCount = 0
    allFiles.foreach { f =>
      val nf = normPath(f)
      def dbl(sr: (org.apache.spark.sql.types.StructType,
          org.apache.spark.sql.Row), n: String): Option[Double] = {
        val i = sr._1.fieldIndex(n)
        if (sr._2.isNullAt(i)) None else Some(sr._2.getDouble(i))
      }
      val nr = numMap.flatMap { case (sch, m) => m.get(nf).map((sch, _)) }
      val sr = strMap.flatMap { case (sch, m) => m.get(nf).map((sch, _)) }
      // any needed side missing this file ⇒ scan it
      if (numMap.nonEmpty && nr.isEmpty || strMap.nonEmpty && sr.isEmpty) {
        toScan += f; scanCount += 1
      } else {
        // where classification against every range
        val wcls: Cls = {
          val states = whereP.map { case (c, lo, hi) =>
            (dbl(nr.get, s"${c}__min"), dbl(nr.get, s"${c}__max")) match {
              case (Some(mi), Some(ma)) =>
                if (ma < lo || mi > hi) Disjoint
                else if (mi >= lo && ma <= hi && dbl(nr.get, s"${c}__nn") ==
                  dbl(nr.get, s"${c}__cnt")) Full
                else Boundary
              case _ => Disjoint // all-NULL range column: no row matches
            }
          }
          if (states.contains(Disjoint)) Disjoint
          else if (states.forall(_ == Full)) Full else Boundary
        }
        if (wcls != Disjoint) {
          // key extraction: every key must be file-constant & NULL-free
          val key: Option[Seq[Any]] =
            groupBy.zip(keyTypes).foldLeft(Option(Seq.empty[Any])) {
              case (None, _) => None
              // hive partition key: the directory value IS the
              // file-constant (a default/NULL partition scans)
              case (Some(acc), (k, dt)) if partCols.contains(k) =>
                pathVal(nf, k) match {
                  case Some(raw) if dt == StringType => Some(acc :+ (raw: Any))
                  case Some(raw) =>
                    val d = try raw.toDouble
                      catch { case _: NumberFormatException => Double.NaN }
                    if (!d.isNaN && exactKey(d, dt)) Some(acc :+ (d: Any))
                    else None
                  case None => None
                }
              case (Some(acc), (k0, dt)) if dt != StringType =>
                val k = pm(k0)
                val (mi, ma) = (dbl(nr.get, s"${k}__min"),
                  dbl(nr.get, s"${k}__max"))
                val pure = dbl(nr.get, s"${k}__nn") == dbl(nr.get, s"${k}__cnt")
                (mi, ma) match {
                  case (Some(a), Some(b)) if a == b && pure &&
                      exactKey(a, dt) =>
                    Some(acc :+ (a: Any))
                  case _ => None
                }
              case (Some(acc), (k0, _)) =>
                val k = pm(k0)
                val (sch, row) = sr.get
                def s(n: String): Option[String] = {
                  val i = sch.fieldIndex(n)
                  if (row.isNullAt(i)) None else Some(row.getString(i))
                }
                (s(s"${k}__smin"), s(s"${k}__smax")) match {
                  case (Some(a), Some(b)) if a == b &&
                      s(s"${k}__scnt") == s(s"${k}__snn") =>
                    Some(acc :+ (a: Any))
                  case _ => None
                }
            }
          (key, wcls) match {
            case (Some(kv), Full) =>
              val cnt: Long = cntField match {
                case Some(cf) =>
                  val (sch, row) = nr.get
                  row.getDouble(sch.fieldIndex(cf)).toLong
                case None if strKeys.nonEmpty =>
                  val (ssch, srow) = sr.get
                  srow.getString(ssch.fieldIndex(
                    s"${pm(strKeys.head)}__scnt")).toLong
                case None =>
                  // every key is a hive partition column and no
                  // measure needs a sidecar: the per-file count comes
                  // from the parquet FOOTER — still driver metadata,
                  // no row deserialized
                  footerRowCount(spark, new Path(f))
              }
              val per: StatsPer = colsP.map { c =>
                def d(n: String) = dbl(nr.get, n)
                (d(s"${c}__nn").fold(0L)(_.toLong), d(s"${c}__min"),
                  d(s"${c}__max"), d(s"${c}__sum"))
              }
              served += ((kv, cnt, per))
            case _ => toScan += f; scanCount += 1
          }
        }
      }
    }
    val scanFiles = toScan.result()
    // hive layout: a leaf-file delta scan would drop the partition
    // columns — any residue falls back to the full scan
    if (partitioned && scanFiles.nonEmpty) return fallback()
    val delta =
      if (scanFiles.isEmpty) Nil
      else scanAgg(toLogicalProj(snap,
        readFilesLive(spark, table, snap, scanFiles)))
    // fold served + delta by key tuple
    val groups = (served.result() ++ delta)
      .groupBy(_._1).toSeq.map { case (k, parts) =>
        val cnt = parts.map(_._2).sum
        val per: StatsPer = cols.indices.map { j =>
          val ps = parts.map(_._3(j))
          (ps.map(_._1).sum,
            ps.flatMap(_._2).reduceOption((a, b) => math.min(a, b)),
            ps.flatMap(_._3).reduceOption((a, b) => math.max(a, b)),
            ps.flatMap(_._4).reduceOption(_ + _))
        }
        (k, cnt, per)
      }
    emit(groups, if (scanFiles.isEmpty) "stats" else "stats_delta",
      scanCount.toLong)
  }

  /** The LocalRelation every stats serve returns: key columns restored
    * to their FACT types (the sidecar's doubles are identity below
    * 2⁵³ — the serve already refused past it), then `cnt`, the
    * per-column scalars, and the serving pins. */
  private def statsEmitGrouped(spark: SparkSession, groupBy: Seq[String],
      keyTypes: Seq[org.apache.spark.sql.types.DataType], cols: Seq[String],
      groups: Seq[(Seq[Any], Long, StatsPer)], from: String,
      scanned: Long): DataFrame = {
    import org.apache.spark.sql.{types => T}
    val rawSchema = T.StructType(
      groupBy.zip(keyTypes).map { case (k, dt) =>
        T.StructField(s"__k_$k",
          if (dt == T.StringType) T.StringType else T.DoubleType) } ++
        (T.StructField("cnt", T.LongType, nullable = false) +:
          cols.flatMap(c => Seq(
            T.StructField(s"${c}_nn", T.LongType, nullable = false),
            T.StructField(s"${c}_min", T.DoubleType),
            T.StructField(s"${c}_max", T.DoubleType),
            T.StructField(s"${c}_sum", T.DoubleType)))) :+
        T.StructField("served_from", T.StringType, nullable = false) :+
        T.StructField("files_scanned", T.LongType, nullable = false))
    val sorted = groups.sortBy(_._1.map(v =>
      if (v == null) "" else v.toString).mkString("|"))
    val rows = sorted.map { case (k, cnt, per) =>
      org.apache.spark.sql.Row.fromSeq(
        k ++ (cnt +: per.flatMap { case (nn, mi, ma, su) =>
          Seq[Any](nn, mi.orNull, ma.orNull, su.orNull) }) ++
          Seq(from, scanned))
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), rawSchema)
    val outCols = groupBy.zip(keyTypes).map { case (k, dt) =>
      F.col(s"__k_$k").cast(dt).as(k) } ++
      rawSchema.fieldNames.filterNot(_.startsWith("__k_")).map(F.col)
    df.select(outCols: _*)
  }

  /** 2⁵³: every integer below it is exactly a double. */
  private val ExactDoubleCap = 9007199254740992d

  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** The 2⁵³ honesty guard of a metadata serve: integral sums and
    * min/max fold through the sidecar's per-file DOUBLE scalars and
    * cast back to integers, exact only while every partial stays below
    * 2⁵³. Checked per served row (one per group) from the row's own
    * scalars: a single-signed sum is exact iff |total| < 2⁵³ (every
    * per-file sum and fold prefix is bounded by the total); mixed signs
    * need the conservative nn·max(|min|,|max|) < 2⁵³ bound, since
    * cancellation can hide an imprecise partial behind a small total;
    * a min/max is exact iff |value| < 2⁵³ (snowflake ids are not).
    * `measures` are (form, column) pairs over `schema`; only integral
    * sum/min/max are guarded, and `rows` is evaluated only when one is
    * present. Returns the first measure that could round, with the
    * reason; None when the serve is exact. */
  private[graft] def statsInexact(rows: => Seq[org.apache.spark.sql.Row],
      measures: Seq[(String, String)],
      schema: org.apache.spark.sql.types.StructType)
      : Option[((String, String), String)] = {
    val guarded = measures.filter { case (f, c) =>
      Set("sum", "min", "max").contains(f) &&
        integralType(schema(c).dataType) }
    // per row, sums first, then the extrema (the refusal order)
    val (sums, extrema) = guarded.partition(_._1 == "sum")
    if (guarded.isEmpty) None
    else rows.iterator.flatMap { row =>
      def dbl(n: String): Option[Double] = {
        val i = row.fieldIndex(n)
        if (row.isNullAt(i)) None else Some(row.getDouble(i))
      }
      sums.iterator.filter { case (_, c) =>
        (dbl(s"${c}_min"), dbl(s"${c}_max"), dbl(s"${c}_sum")) match {
          case (Some(mi), Some(ma), Some(su)) =>
            val nn = row.getAs[Long](s"${c}_nn")
            if (mi >= 0 || ma <= 0) math.abs(su) >= ExactDoubleCap
            else nn.toDouble * math.max(math.abs(mi), math.abs(ma)) >=
              ExactDoubleCap
          case _ => false // no non-null rows: sum is NULL, nothing to guard
        }
      }.map(_ -> ("exceeds 2^53 — the exact-looking integer would be " +
        "silently wrong")) ++
        extrema.iterator.filter { case (f, c) =>
          dbl(s"${c}_$f").exists(v => math.abs(v) >= ExactDoubleCap)
        }.map(_ -> ("|value| >= 2^53 — the exact-looking integer would " +
          "be silently rounded"))
    }.nextOption()
  }

  /** POINT takedown: delete the rows whose `column` is one of
    * `values` — the literal right-to-be-forgotten shape ("remove
    * these 37 opted-out ids"). Phase 1's candidate files come from
    * the BLOOM sidecar when one covers the column ([[readPoint]]'s
    * per-value decision, OR'd across the values; Bloom false
    * negatives are impossible, so the restriction is sound and false
    * positives only cost scanning an extra candidate) — at 100 TB a
    * handful-of-ids takedown opens a handful of files, decided at
    * the driver before any footer. No sidecar / partitioned layout /
    * uncovered files degrade to the exact full phase-1 scan. */
  def deleteKeys(spark: SparkSession, table: String, column: String,
      values: Seq[Any]): Snapshot = {
    require(values.nonEmpty, "Manifest.deleteKeys: no values to delete")
    deleteCore(spark, table, F.col(column).isin(values: _*),
      candidates = snap => pointCandidateFiles(spark, table, snap,
        physOf(snap)(column), values))
  }

  /** [[deleteKeys]] for COMPOSITE keys: delete the rows whose key
    * TUPLE (in `columns` order) is one of `rows` — the multi-column
    * right-to-be-forgotten shape ("remove these (user, day) pairs").
    * Phase 1's candidate files come from the COMPOSITE bloom sidecar
    * when one covers the spec (`analyzeFilesBloom(Seq("a+b"))`), so a
    * handful-of-tuples takedown opens a handful of files, decided at
    * the driver — same soundness as [[deleteKeys]] (bloom false
    * negatives are impossible; false positives cost a candidate
    * scan). No sidecar / partitioned layout degrade to the exact full
    * phase-1 scan. Tuple count is bounded (the predicate is an OR of
    * per-tuple conjunctions): batch a larger takedown. */
  def deleteKeysTuples(spark: SparkSession, table: String,
      columns: Seq[String], rows: Seq[Seq[Any]]): Snapshot = {
    require(columns.size >= 2,
      "Manifest.deleteKeysTuples: use deleteKeys for a single column")
    require(rows.nonEmpty, "Manifest.deleteKeysTuples: no key tuples")
    require(rows.forall(_.size == columns.size),
      "Manifest.deleteKeysTuples: every tuple must match the columns")
    require(rows.size <= 10000,
      s"Manifest.deleteKeysTuples: ${rows.size} tuples — batch takedowns " +
        "above 10k tuples (the predicate is an OR of per-tuple ANDs)")
    val pred = rows.map(r => columns.zip(r)
        .map { case (c, v) => F.col(c) === F.lit(v) }.reduce(_ && _))
      .reduce(_ || _)
    deleteCore(spark, table, pred,
      candidates = snap => pointCandidateFilesTuples(spark, table, snap,
        columns.map(physOf(snap)), rows))
  }

  /** A phase-1 scan of the RAW snapshot `raw` restricted to a skipping
    * decision's candidate files (None ⇒ every file) — raw, because
    * `input_file_name()` cannot ride the DV anti-join's plan. */
  private def scanCandidates(spark: SparkSession, snap: Snapshot,
      raw: DataFrame, files: Option[Seq[String]]): DataFrame = files match {
    case None => raw
    case Some(fl) if fl.isEmpty => raw.limit(0)
    case Some(fl) => readPaths(spark, snap, fl)
  }

  /** The shared CoW takedown. `candidates` is the caller's file-skipping
    * decision for the pinned snapshot — Some(files that may hold a
    * match) or None ⇒ phase 1 scans every file. */
  private def deleteCore(spark: SparkSession, table: String, pred0: Column,
      candidates: Snapshot => Option[Seq[String]]): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.deleteWhere: $table has no committed snapshot"))
    // the caller's predicate speaks LOGICAL names; everything below
    // (scans, rewrites) runs on the files' physical columns
    val pred = predToPhysical(snap, pred0)
    val fs = fsFor(spark, table)
    val raw = readSnapshotRaw(spark, table, snap)
    val partitioned =
      raw.inputFiles.exists(f => f.split('/').exists(_.contains("=")))
    // phase 1 scans RAW (input_file_name() cannot ride the DV
    // anti-join's multi-source plan): an already-MoR-masked row
    // matching the predicate marks its file touched — a harmless
    // over-approximation; the rewrite reads the file LIVE, so the
    // mask still holds and the vector folds for free
    val scanned = scanCandidates(spark, snap, raw, candidates(snap))
    def norm(f: String) = new Path(f).toUri.getPath
    val touched = scanned.filter(pred)
      .select(F.input_file_name().as("f")).distinct()
      .collect().map(r => norm(r.getString(0))).toSet
    if (touched.isEmpty) return snap
    val tableAbs = norm(fs.makeQualified(new Path(table)).toString)
    val allFiles = raw.inputFiles.map(norm)
    // file → owning manifest entry via prefixResolver's '/'-boundary
    // hash lookups (O(F·depth)); a per-file linear scan of the entry
    // list is O(F·E) — quadratic at the 100k-file manifests
    // ManifestScale measures
    val entryFor = prefixResolver(snap.paths)
    val filesUnder = allFiles.groupBy { f =>
      val rel = f.stripPrefix(tableAbs).stripPrefix("/")
      entryFor(rel).getOrElse(
        sys.error(s"Manifest.deleteWhere: $f outside the pinned snapshot"))
    }
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    if (!partitioned) {
      val (dirty, clean) = snap.paths.partition(p =>
        filesUnder.getOrElse(p, Array.empty[String]).exists(touched))
      // file-grain carry inside partially-touched entries: every
      // untouched file survives as its own manifest entry (readers
      // accept file entries on unpartitioned layouts)
      val carriedFiles = dirty.flatMap(p =>
        filesUnder(p).filterNot(touched)
          .map(_.stripPrefix(tableAbs).stripPrefix("/")))
      // survivors = rows where pred is NOT TRUE — `!pred` alone would
      // silently drop NULL-evaluating rows from rewritten files (they
      // don't match the delete, but three-valued NOT(NULL) is NULL).
      // Read under the COMMITTED schema: a mixed pre-/post-evolution
      // touched set read raw would drop evolved columns from the
      // rewrite (silent data loss)
      val survivors = readFilesLive(spark, table, snap,
          touched.toSeq.sorted)
        .filter(!F.coalesce(pred, F.lit(false)))
      val keepPaths = clean ++ carriedFiles
      val (rel, written) =
        writeDataCounted(spark, table, snap.version + 1, survivors, Nil)
      if (written == 0 && keepPaths.isEmpty) sys.error(
        s"Manifest.deleteWhere: predicate deletes every row of $table — " +
          "a snapshot cannot be empty; drop the table instead")
      val rels = if (written == 0) Nil else Seq(rel)
      commit(spark, table, snap.version, keepPaths ++ rels,
        withOp(snap.meta, "delete"))
    } else {
      // hive layout: version-DIRECTORY-grain CoW — a carried entry
      // must remain a whole hive directory (a leaf-file or
      // partition-subdir entry would drop the partition columns on
      // read), so the rewrite unit is the version directory: dirty
      // ones re-read whole (partition columns intact), their
      // survivors land partitioned in the new version, clean ones
      // carry verbatim. Partition-predicate deletes still prune
      // phase 1 via partition pruning.
      val (dirtyEntries, cleanEntries) = snap.paths.partition(p =>
        filesUnder.getOrElse(p, Array.empty[String]).exists(touched))
      val survivors = dirtyEntries
        .map(p => applyDv(spark, table, snap,
          spark.read.parquet(s"$table/$p")))
        .reduce(_ unionByName _)
        .filter(!F.coalesce(pred, F.lit(false))) // keep NULL-evaluating rows
      val (rel, written) =
        writeDataCounted(spark, table, snap.version + 1, survivors, parts)
      if (written == 0 && cleanEntries.isEmpty) sys.error(
        s"Manifest.deleteWhere: predicate deletes every row of $table — " +
          "a snapshot cannot be empty; drop the table instead")
      val rels = if (written == 0) Nil else Seq(rel)
      commit(spark, table, snap.version, cleanEntries ++ rels,
        withOp(snap.meta, "delete"))
    }
  }

  /** COPY-ON-WRITE MERGE — the whole-row upsert every ingest pipeline
    * needs (Delta's `WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED
    * THEN INSERT *`): source rows REPLACE target rows sharing their
    * `keys`, unmatched source rows insert, and only the target files
    * that actually hold a matched key are rewritten — everything else
    * carries forward verbatim into one atomic snapshot commit.
    *
    * The source is MATERIALIZED FIRST into the next version's data
    * directory and every later pass (key hygiene, phase-1 probe, the
    * final union) reads that frozen copy — so a nondeterministic or
    * expensive source is evaluated exactly once, and the written
    * bytes are the bytes that were probed (no recompute skew between
    * the matched set and the committed rows). A source with NULL or
    * duplicate keys is refused (ambiguous upsert — which of two source
    * rows wins is undefined in every engine; Delta throws the same
    * way) and the orphaned directory is reclaimed immediately.
    *
    * Phase 1 finds the touched files EXACTLY: a key-columns-only scan
    * of the pinned snapshot, semi-joined against the source key set,
    * grouped by `input_file_name()`. On a single-column key with a
    * Bloom sidecar ([[analyzeFilesBloom]]) and a driver-feasible key
    * set, the scan is first restricted to the sidecar's candidate
    * files ([[pointCandidateFilesHashed]] — false negatives
    * impossible, so the restriction is sound); at 100 TB a
    * thousand-row upsert opens a handful of files, decided at the
    * driver. Phase 2 rewrites the
    * touched files' unmatched survivors; untouched entries carry
    * whole when clean, per-file when their directory is partially
    * touched (the [[deleteWhere]] file-grain CoW). Hive-partitioned
    * snapshots rewrite at version-directory grain and the source
    * lands hive-partitioned, preserving the layout. A merge that
    * matches nothing degrades to a pure append of the materialized
    * source — same commit shape as [[commitAppend]].
    *
    * Data files stay immutable, so the next [[analyzeFiles]] /
    * [[analyzeFilesBloom]] scans only the new directories; pinned
    * readers keep serving the pre-merge snapshot; a racing committer
    * loses loudly on the manifest rename ([[commit]]'s optimistic
    * concurrency). */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Snapshot = {
    require(keys.nonEmpty, "Manifest.merge: needs at least one key column")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.merge: $table has no committed snapshot"))
    val fs = fsFor(spark, table)
    val raw = readSnapshotRaw(spark, table, snap)
    // full = the LIVE rows — the schema/type contract source; the
    // phase-1 scan below reads RAW (input_file_name() cannot ride the
    // DV anti-join), which can only over-approximate the touched set
    val full = readSnapshotData(spark, table, snap)
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    require(keys.forall(full.columns.contains),
      s"Manifest.merge: key columns ${keys.filterNot(full.columns.contains)
        .mkString(",")} not in $table")
    // the commitAppend schema contract: same columns, same types —
    // partition columns compare by name only (hive inference narrows
    // their read types)
    def skey(s: org.apache.spark.sql.types.StructType) = s.map(f =>
      if (parts.contains(f.name)) (f.name, "partition")
      else (f.name, f.dataType.sql)).toSet
    val (cur, nxt) = (skey(full.schema), skey(source.schema))
    require(cur == nxt,
      s"Manifest.merge: source schema mismatch vs current snapshot — " +
        s"only in table: ${(cur -- nxt).map(_._1).toSeq.sorted.mkString(",")}; " +
        s"only in source: ${(nxt -- cur).map(_._1).toSeq.sorted.mkString(",")}")
    // mapped snapshots: the source and keys speak LOGICAL names; the
    // materialized copy and every internal scan below run physical
    val physMap = physOf(snap)
    val keysP = keys.map(physMap)
    // 1. materialize the source ONCE as (part of) version N+1's data
    val (srcRel, nSrc) = writeDataCounted(spark, table, snap.version + 1,
      source.select(full.columns.map(c =>
        F.col(c).as(physMap(c))).toIndexedSeq: _*), parts)
    if (nSrc == 0) return snap // empty source: no-op, nothing committed
    val src = openListed(spark, Seq(s"$table/$srcRel"), footerRule(spark))
    // key hygiene + bloom probes in ONE pass over the frozen copy
    // (was two: a duplicate/NULL-key probe job, then a distinct-key
    // xxhash64 collect). One aggregation by key, bad-keys-first
    // TakeOrdered of cap+1 rows: any bad key sorts into the collected
    // prefix (so the hygiene check stays exact however many keys there
    // are), and when the source has ≤ cap distinct keys the same rows
    // carry ALL the bloom probe hashes — hashed through Spark itself
    // (xxhash64 over the frozen copy's own columns), so probe bits
    // agree with the sidecar aggregate's bit-for-bit.
    val probeCap = 10000
    val keyProbe = src.groupBy(keysP.map(F.col).toIndexedSeq: _*)
      .agg(F.count(F.lit(1)).as("__n"))
      .select(
        F.xxhash64(keysP.map(F.col).toIndexedSeq: _*).as("__h"),
        (F.col("__n") > 1 ||
          keysP.map(k => F.col(k).isNull).reduce(_ || _)).as("__bad"))
      .orderBy(F.col("__bad").desc)
      .limit(probeCap + 1).collect()
    if (keyProbe.exists(_.getBoolean(1))) {
      fs.delete(new Path(s"$table/$srcRel"), true)
      sys.error("Manifest.merge: source carries NULL or duplicate key " +
        "rows — an upsert with two writers of one key is ambiguous; " +
        "dedupe the source first")
    }
    try enforceChecks(spark, snap, toLogicalProj(snap, src), "merge")
    catch { case e: Throwable =>
      fs.delete(new Path(s"$table/$srcRel"), true); throw e
    }
    val srcKeys = src.select(keysP.map(F.col).toIndexedSeq: _*).distinct()
    // 2. phase 1 — EXACT touched-file set, bloom-restricted when
    // possible: single keys probe their own bloom, multi-column keys
    // probe the COMPOSITE bloom (analyzeFilesBloom("a+b")) — probe
    // hashes ride the hygiene pass above, no extra job
    val scanned =
      if (parts.isEmpty) {
        val bloomName = compositeName(keysP)
        val hs = keyProbe.map(_.getLong(0)).toIndexedSeq
        if (hs.size <= probeCap) scanCandidates(spark, snap, raw,
          pointCandidateFilesHashed(spark, table, snap,
            listSnapshotFiles(spark, table, snap), bloomName, hs))
        else raw
      } else raw
    def norm(f: String) = new Path(f).toUri.getPath
    val touched = scanned
      .select((keysP.map(F.col) :+ F.input_file_name().as("__f")).toIndexedSeq: _*)
      .join(srcKeys, keysP, "left_semi")
      .select("__f").distinct()
      .collect().map(r => norm(r.getString(0))).toSet
    if (touched.isEmpty) // nothing matched: the upsert is a pure append
      return commit(spark, table, snap.version, snap.paths :+ srcRel,
        withOp(snap.meta, "merge"))
    val tableAbs = norm(fs.makeQualified(new Path(table)).toString)
    val allFiles = raw.inputFiles.map(norm)
    val entryFor = prefixResolver(snap.paths)
    val filesUnder = allFiles.groupBy { f =>
      val rel = f.stripPrefix(tableAbs).stripPrefix("/")
      entryFor(rel).getOrElse(
        sys.error(s"Manifest.merge: $f outside the pinned snapshot"))
    }
    val (dirty, clean) = snap.paths.partition(p =>
      filesUnder.getOrElse(p, Array.empty[String]).exists(touched))
    if (parts.isEmpty) {
      // file-grain CoW: untouched files of dirty entries carry as
      // their own entries; touched files' UNMATCHED rows rewrite
      val carriedFiles = dirty.flatMap(p =>
        filesUnder(p).filterNot(touched)
          .map(_.stripPrefix(tableAbs).stripPrefix("/")))
      // read under the COMMITTED schema (evolved tables serve NULL
      // for pre-evolution files — same rule as deleteWhere's rewrite)
      val survivors = readFilesLive(spark, table, snap,
          touched.toSeq.sorted)
        .join(srcKeys, keysP, "left_anti")
      val (survRel, nSurv) =
        writeDataCounted(spark, table, snap.version + 1, survivors, Nil)
      val rels = (if (nSurv == 0) Nil else Seq(survRel)) :+ srcRel
      commit(spark, table, snap.version,
        clean ++ carriedFiles ++ rels, withOp(snap.meta, "merge"))
    } else {
      // hive layout: version-directory-grain CoW (a carried entry must
      // stay a whole hive directory or partition columns drop on read)
      val survivors = dirty
        .map(p => applyDv(spark, table, snap,
          spark.read.parquet(s"$table/$p")))
        .reduce(_ unionByName _)
        .join(srcKeys, keysP, "left_anti")
      val (survRel, nSurv) =
        writeDataCounted(spark, table, snap.version + 1, survivors, parts)
      val rels = (if (nSurv == 0) Nil else Seq(survRel)) :+ srcRel
      commit(spark, table, snap.version, clean ++ rels,
        withOp(snap.meta, "merge"))
    }
  }

  // ---- merge-on-read delete vectors ----

  /** MERGE-ON-READ row delete — the takedown WITHOUT rewrite
    * amplification. [[deleteWhere]] rewrites every touched file; at
    * 100 TB with 1 GB files, deleting one row from each of 10k files
    * rewrites 10 TB. This instead records the doomed positions —
    * `(data-file basename, parquet row index)` — in a DELETE VECTOR
    * sidecar under `_dv/` and commits the SAME file list with the DV
    * riding the commit metadata ([[DvKey]]): the write cost is the
    * positions themselves (the Delta deletion-vector / Iceberg
    * positional-delete trade). Every read path masks the positions
    * with one takedown-sized anti-join (AQE broadcasts it); DV-less
    * tables pay nothing.
    *
    * Phase 1 prunes the positional scan with the same
    * predicate-derived envelope admission as [[deleteWhere]]
    * ([[admittedFilesFor]] — sound by construction). Positions
    * already masked by earlier DVs are excluded, so repeated MoR
    * deletes never grow the vector with duplicates. A no-match delete
    * commits nothing.
    *
    * The debt is repaid by [[foldDeletes]] (rewrite ONLY the masked
    * files, clear the vectors) or any full rewrite ([[compact]]).
    * Positions name bytes, not values; files are keyed by their
    * manifest-relative path, unique within a snapshot. */
  def deleteWhereMoR(spark: SparkSession, table: String,
      pred0: Column): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.deleteWhereMoR: $table has no committed snapshot"))
    // logical→physical at entry, like every verb taking a predicate
    val pred = predToPhysical(snap, pred0)
    val fs = fsFor(spark, table)
    val raw = readSnapshotRaw(spark, table, snap)
    val partitioned =
      raw.inputFiles.exists(f => f.split('/').exists(_.contains("=")))
    val posed: DataFrame =
      if (partitioned)
        // per entry: the _metadata column resolves per file relation
        snap.paths.map(p => selectWithPos(
          spark.read.parquet(s"$table/$p"))).reduce(_ unionByName _)
      else {
        val files = admittedFilesFor(spark, table, snap, pred)
          .getOrElse(raw.inputFiles.toIndexedSeq)
        if (files.isEmpty) return snap
        selectWithPos(readPaths(spark, snap, files))
      }
    // exclude positions earlier DVs already mask
    val live = dvFrame(spark, table, snap) match {
      case None => posed
      case Some(dv) => posed.join(
        dv.select(F.col("file").as("__file"), F.col("pos").as("__pos")),
        Seq("__file", "__pos"), "left_anti")
    }
    val doomed = live.filter(F.coalesce(pred, F.lit(false)))
      .select(F.col("__file").as("file"), F.col("__pos").as("pos"))
    val rel = s"_dv/v${"%08d".format(snap.version + 1)}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val dir = new Path(s"$table/$rel")
    // a takedown's vector is small by nature: one file. (A mask past
    // ~10^8 positions would make this single writer the bottleneck —
    // but at that selectivity the right tool is the CoW delete or a
    // compaction, not a vector.) repartition(1), NOT coalesce(1): a
    // coalesce would collapse the upstream positional SCAN into one
    // task; the shuffle boundary keeps the scan parallel and moves
    // only the takedown-sized positions to the single writer.
    doomed.repartition(1).write.parquet(dir.toString)
    // one coalesced file: its footer record count IS the mask size —
    // a driver metadata read, not a Spark job
    val n = footerRowCount(spark, dir)
    if (n == 0) { fs.delete(dir, true); return snap }
    val dvs = snap.meta.get(DvKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    commit(spark, table, snap.version, snap.paths,
      withOp(snap.meta, "delete") + (DvKey -> (dvs :+ rel).mkString(",")))
  }

  /** [[deleteWhereMoR]] for a key set — the multi-id takedown. The
    * positional scan restricts to the Bloom sidecar's candidate files
    * when one covers the column (decided at the driver, sound —
    * Bloom false negatives are impossible). */
  def deleteKeysMoR(spark: SparkSession, table: String, column: String,
      values: Seq[Any]): Snapshot = {
    require(values.nonEmpty, "Manifest.deleteKeysMoR: no values to delete")
    deleteWhereMoR(spark, table, F.col(column).isin(values: _*))
  }

  /** Fold the delete vectors into the data: rewrite ONLY the files
    * with masked positions (file-grain copy-on-write, like
    * [[deleteWhere]]), carry everything else verbatim, and clear the
    * vectors — the scheduled-maintenance counterpart of the read-time
    * mask. Hive-partitioned snapshots fold at version-directory grain.
    * A DV-less table is a no-op. */
  def foldDeletes(spark: SparkSession, table: String): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.foldDeletes: $table has no committed snapshot"))
    val dvDirRels = snap.meta.get(DvKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
      .getOrElse(return snap)
    val fs = fsFor(spark, table)
    val raw = readSnapshotRaw(spark, table, snap)
    val dvRels = dvDistinctFiles(spark, table, dvDirRels)
    def norm(f: String) = new Path(f).toUri.getPath
    val tableAbs = norm(fs.makeQualified(new Path(table)).toString)
    val allFiles = raw.inputFiles.map(norm)
    val touched = allFiles.filter(f =>
      dvRels.contains(f.stripPrefix(tableAbs).stripPrefix("/")))
    if (touched.isEmpty)
      // stale vectors only (their files already rewritten away):
      // drop the key with a metadata-only commit
      return commit(spark, table, snap.version, snap.paths,
        withOp(snap.meta, "fold") - DvKey)
    val entryFor = prefixResolver(snap.paths)
    val filesUnder = allFiles.groupBy { f =>
      val rel = f.stripPrefix(tableAbs).stripPrefix("/")
      entryFor(rel).getOrElse(
        sys.error(s"Manifest.foldDeletes: $f outside the pinned snapshot"))
    }
    val touchedSet = touched.toSet
    val (dirty, clean) = snap.paths.partition(p =>
      filesUnder.getOrElse(p, Array.empty[String]).exists(touchedSet))
    val partitioned =
      raw.inputFiles.exists(f => f.split('/').exists(_.contains("=")))
    if (!partitioned) {
      val carriedFiles = dirty.flatMap(p =>
        filesUnder(p).filterNot(touchedSet)
          .map(_.stripPrefix(tableAbs).stripPrefix("/")))
      val survivors = readFilesLive(spark, table, snap, touched.toIndexedSeq)
      val (rel, written) =
        writeDataCounted(spark, table, snap.version + 1, survivors, Nil)
      val keepPaths = clean ++ carriedFiles
      if (written == 0 && keepPaths.isEmpty) sys.error(
        s"Manifest.foldDeletes: the vectors mask every row of $table — " +
          "a snapshot cannot be empty; drop the table instead")
      val rels = if (written == 0) Nil else Seq(rel)
      commit(spark, table, snap.version, keepPaths ++ rels,
        withOp(snap.meta, "fold") - DvKey)
    } else {
      val parts = snap.meta.get(PartitionKey)
        .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val survivors = dirty
        .map(p => applyDv(spark, table, snap,
          spark.read.parquet(s"$table/$p")))
        .reduce(_ unionByName _)
      val (rel, written) =
        writeDataCounted(spark, table, snap.version + 1, survivors, parts)
      if (written == 0 && clean.isEmpty) sys.error(
        s"Manifest.foldDeletes: the vectors mask every row of $table — " +
          "a snapshot cannot be empty; drop the table instead")
      val rels = if (written == 0) Nil else Seq(rel)
      commit(spark, table, snap.version, clean ++ rels,
        withOp(snap.meta, "fold") - DvKey)
    }
  }

  /** MERGE-ON-READ delta application — mask + append in ONE atomic
    * commit, each side sized by the delta: rows whose `keys` appear in
    * `deletes` are masked with a delete vector (no file rewritten),
    * `inserts` lands as an appended directory, and both ride a single
    * manifest commit — a reader sees the old snapshot or the fully
    * applied one, never the masked-but-not-inserted middle. This is
    * the write shape of incremental view maintenance
    * ([[Incremental.refreshMaterializedJoin]]) and the MoR
    * counterpart of [[merge]]'s copy-on-write.
    *
    * `deletes` carries exactly the key columns (NULL keys match
    * nothing, duplicates are collapsed); `inserts` must match the
    * table's schema. The caller asserts `keys` identify rows uniquely
    * where that matters — masking a key masks EVERY row carrying it.
    * The positional scan restricts to the Bloom sidecar's candidate
    * files when one covers a single-column key with a driver-feasible
    * key set. An all-empty delta is a no-op. The mask debt is repaid
    * by [[foldDeletes]] / [[compact]] like any vector. */
  def applyDeltaMoR(spark: SparkSession, table: String,
      deletes: DataFrame, inserts: DataFrame, keys: Seq[String],
      meta: Map[String, String] = Map.empty): Snapshot = {
    require(keys.nonEmpty, "Manifest.applyDeltaMoR: needs key columns")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.applyDeltaMoR: $table has no committed snapshot"))
    val fs = fsFor(spark, table)
    val raw = readSnapshotRaw(spark, table, snap)
    require(deletes.columns.toSeq.sorted == keys.sorted,
      s"Manifest.applyDeltaMoR: deletes must carry exactly the key " +
        s"columns ${keys.sorted.mkString(",")}, got " +
        deletes.columns.sorted.mkString(","))
    // mapped snapshots: the delta speaks LOGICAL names; every scan and
    // write below runs on the files' physical columns
    val physMap = physOf(snap)
    val keysP = keys.map(physMap)
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    checkStageSchema(spark, table, snap, inserts, "applyDeltaMoR")
    // materialize BOTH legs before deciding anything (the delta may be
    // derived from this very table — freeze it first)
    val logicalCols = mappingOf(snap).map(_.map(_._1))
      .getOrElse(raw.columns.toSeq)
    val (insRel, nIns) = writeDataCounted(spark, table, snap.version + 1,
      inserts.select(logicalCols.map(c =>
        F.col(c).as(physMap(c))).toIndexedSeq: _*), parts)
    if (nIns > 0 && checks(snap).nonEmpty)
      // gate the re-open on checks actually existing: building the
      // frame costs a footer/listing pass even when there is nothing
      // to enforce
      try enforceChecks(spark, snap,
        toLogicalProj(snap,
          openListed(spark, Seq(s"$table/$insRel"), footerRule(spark))),
        "applyDeltaMoR")
      catch { case e: Throwable =>
        fs.delete(new Path(s"$table/$insRel"), true); throw e
      }
    val delKeys = deletes.select(keys.map(k =>
        F.col(k).as(physMap(k))).toIndexedSeq: _*)
      .na.drop("any").distinct().cache()
    // ONE bounded collect doubles as the empty check (was a separate
    // count() job — nDel was only ever compared to 0) and, for single
    // keys, as the bloom probe value sample (was a second limit+collect
    // job): cap+1 rows tell both "is it empty" and "are there ≤ cap
    // values to probe with" without ever pulling an unbounded key set
    // to the driver.
    val delCap = 10000
    val delSample = delKeys.limit(delCap + 1).collect()
    if (nIns == 0 && delSample.isEmpty) { delKeys.unpersist(); return snap }
    // positions to mask: LIVE rows whose keys match — bloom-restricted
    // when possible, prior masks excluded (no duplicate positions)
    val dvRelOpt: Option[String] =
      if (delSample.isEmpty) None
      else {
        val partitioned =
          raw.inputFiles.exists(f => f.split('/').exists(_.contains("=")))
        val posed: DataFrame =
          if (partitioned)
            snap.paths.map(p => selectWithPos(
              spark.read.parquet(s"$table/$p"))).reduce(_ unionByName _)
          else {
            val files =
              if (keys.size == 1 && delSample.length <= delCap)
                pointCandidateFiles(spark, table, snap, keysP.head,
                    delSample.map(_.get(0)).toSeq)
                  .getOrElse(raw.inputFiles.toIndexedSeq)
              else raw.inputFiles.toIndexedSeq
            if (files.isEmpty)
              // bloom excluded every file: nothing can match
              selectWithPos(readPaths(spark, snap, raw.inputFiles.take(1)))
                .limit(0)
            else selectWithPos(readPaths(spark, snap, files))
          }
        val live = dvFrame(spark, table, snap) match {
          case None => posed
          case Some(dv) => posed.join(
            dv.select(F.col("file").as("__file"), F.col("pos").as("__pos")),
            Seq("__file", "__pos"), "left_anti")
        }
        val doomed = live.join(delKeys, keysP, "left_semi")
          .select(F.col("__file").as("file"), F.col("__pos").as("pos"))
        val rel = s"_dv/v${"%08d".format(snap.version + 1)}-" +
          java.util.UUID.randomUUID().toString.take(8)
        val dir = new Path(s"$table/$rel")
        // repartition(1), not coalesce(1) — keep the positional scan
        // parallel (the deleteWhereMoR rule)
        doomed.repartition(1).write.parquet(dir.toString)
        // one written file: footer record count, no Spark job
        if (footerRowCount(spark, dir) == 0) {
          fs.delete(dir, true); None
        } else Some(rel)
      }
    delKeys.unpersist()
    if (nIns == 0 && dvRelOpt.isEmpty) return snap
    val dvs = snap.meta.get(DvKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val newMeta = dvRelOpt match {
      case Some(r) => snap.meta ++ meta + (DvKey -> (dvs :+ r).mkString(","))
      case None => snap.meta ++ meta
    }
    val newPaths = if (nIns == 0) snap.paths else snap.paths :+ insRel
    commit(spark, table, snap.version, newPaths,
      withOp(newMeta, "upsert"))
  }

  /** [[merge]]'s MERGE-ON-READ sibling: matched rows are MASKED (one
    * delta-sized vector, no file rewritten), the whole source appends,
    * one atomic commit — the upsert shape for hot tables where CoW
    * write amplification hurts. Same source contract as [[merge]]
    * (NULL/duplicate keys refused — the frozen copy is checked). */
  def mergeMoR(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Snapshot = {
    require(keys.nonEmpty, "Manifest.mergeMoR: needs at least one key column")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.mergeMoR: $table has no committed snapshot"))
    checkStageSchema(spark, table, snap, source, "mergeMoR")
    val src = source.cache()
    try {
      val bad = src.groupBy(keys.map(F.col).toIndexedSeq: _*)
        .agg(F.count(F.lit(1)).as("__n"))
        .filter(F.col("__n") > 1 ||
          keys.map(k => F.col(k).isNull).reduce(_ || _))
        .limit(1).collect()
      require(bad.isEmpty,
        "Manifest.mergeMoR: source carries NULL or duplicate key rows " +
          "— an upsert with two writers of one key is ambiguous; " +
          "dedupe the source first")
      applyDeltaMoR(spark, table,
        src.select(keys.map(F.col).toIndexedSeq: _*), src, keys)
    } finally { src.unpersist(); () }
  }

  // ---- CHECK constraints (data-quality contracts on the table) ----

  private val CheckPrefix = "check_"

  /** The table's CHECK constraints: name → boolean SQL expression over
    * a row, from the snapshot's commit metadata. */
  def checks(snap: Snapshot): Map[String, String] =
    snap.meta.collect { case (k, v) if k.startsWith(CheckPrefix) =>
      k.stripPrefix(CheckPrefix) -> v }

  /** ADD a CHECK constraint (the Delta `ADD CONSTRAINT` shape): a
    * boolean SQL expression every row must not falsify — SQL
    * three-valued semantics, so NULL passes and only FALSE violates.
    * The EXISTING data is validated first (one full scan — adding a
    * contract to 100 TB costs one read, exactly as in Delta)
    * and the constraint lands as a metadata-only commit. From then on
    * every write path that introduces NEW rows — appends, merges (CoW
    * and MoR), staged publishes, streaming batches — enforces it
    * batch-sized before anything commits; rewrites of existing rows
    * (compaction, CoW deletes, folds) conform by induction and pay
    * nothing. Constraints inherit across commits and ride [[restore]]
    * like all table state. */
  def addCheck(spark: SparkSession, table: String, name: String,
      expr: String): Snapshot = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"Manifest.addCheck: constraint names are [A-Za-z0-9_]+, got '$name'")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.addCheck: $table has no committed snapshot"))
    violations(readSnapshotData(spark, table, snap),
      Map(name -> expr)) match {
      case Some((n, cnt)) => sys.error(
        s"Manifest.addCheck: existing rows of $table violate CHECK " +
          s"$n ($expr) — $cnt row(s); a contract cannot be added " +
          "over data that breaks it")
      case None =>
        commit(spark, table, snap.version, snap.paths,
          withOp(snap.meta, "add_check") + (CheckPrefix + name -> expr))
    }
  }

  /** DROP a CHECK constraint — metadata-only commit; unknown names
    * refuse (a silently-missing contract is the quiet failure). */
  def dropCheck(spark: SparkSession, table: String,
      name: String): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.dropCheck: $table has no committed snapshot"))
    require(snap.meta.contains(CheckPrefix + name),
      s"Manifest.dropCheck: $table has no CHECK named '$name'")
    commit(spark, table, snap.version, snap.paths,
      withOp(snap.meta, "drop_check") - (CheckPrefix + name))
  }

  /** First violated (name, count) across all `cs`, in ONE pass over
    * `df` — or None. Violation = the expression evaluates FALSE (SQL
    * CHECK semantics: NULL is unknown, unknown passes). */
  private def violations(df: DataFrame,
      cs: Map[String, String]): Option[(String, Long)] = {
    if (cs.isEmpty) return None
    val names = cs.keys.toSeq.sorted
    val aggs = names.map(n => F.count(F.when(
      !F.coalesce(F.expr(cs(n)), F.lit(true)), 1)).as(n))
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    names.zipWithIndex.collectFirst {
      case (n, i) if row.getLong(i) > 0 => (n, row.getLong(i))
    }
  }

  /** The write-path gate: refuse `df` if it falsifies any of the
    * snapshot's CHECK constraints. One batch-sized aggregation. */
  private def enforceChecks(spark: SparkSession, snap: Snapshot,
      df: DataFrame, what: String): Unit =
    violations(df, checks(snap)).foreach { case (n, cnt) =>
      sys.error(s"Manifest.$what: batch violates CHECK $n " +
        s"(${snap.meta(CheckPrefix + n)}) — $cnt row(s); nothing " +
        "committed")
    }

  /** Export the CURRENT snapshot as a symlink-format manifest — one
    * text file of absolute file URIs under
    * `_symlink_format_manifest/manifest.txt` (the Delta/Athena
    * interchange shape): an external engine that can read a file list
    * gets a CONSISTENT snapshot without speaking this table's
    * protocol. Written tmp-then-rename so a concurrent external
    * reader never sees a half list. REFUSED while delete vectors are
    * live — an external reader cannot apply the mask, so exporting
    * would resurrect deleted rows; [[foldDeletes]] first. The export
    * names the snapshot version in a trailing comment line readers
    * skip. Returns the file list it wrote. */
  def writeSymlinkManifest(spark: SparkSession, table: String): Seq[String] = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.writeSymlinkManifest: $table has no " +
        "committed snapshot"))
    require(!snap.meta.contains(DvKey),
      s"Manifest.writeSymlinkManifest: $table carries live delete " +
        "vectors an external reader cannot apply — foldDeletes first")
    val fs = fsFor(spark, table)
    val files = readSnapshotRaw(spark, table, snap).inputFiles.toSeq.sorted
    val dir = new Path(s"$table/_symlink_format_manifest")
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write((files.mkString("\n") +
      s"\n# snapshot_version=${snap.version}\n").getBytes("UTF-8"))
    finally out.close()
    val target = new Path(dir, "manifest.txt")
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      sys.error("Manifest.writeSymlinkManifest: rename failed")
    }
    files
  }

  // ---- write-audit-publish staging ----

  private def stageDir(table: String, id: String) = s"_staged/$id"
  private def stageMarker(table: String, id: String) =
    new Path(s"$table/_manifest/staged-$id.marker")
  private val StageMarkerName = """^staged-([0-9a-f]{8})\.marker$""".r

  /** WRITE-AUDIT-PUBLISH, step 1: write `df` as an UNCOMMITTED staged
    * batch — a data directory under `_staged/` plus a marker under
    * `_manifest/` — invisible to every reader and every snapshot.
    * Audit the exact bytes with [[readStage]] (quality gates, PII
    * verdicts, contamination screens), then [[publishStage]] — one
    * atomic commit, no second write: the bytes audited ARE the bytes
    * published — or [[dropStage]]. The Iceberg WAP pattern: bad data
    * never becomes part of any snapshot, and at 100 TB the audit
    * costs one read of the batch, never a table scan or a rewrite.
    *
    * The batch is written under the TABLE'S OWN layout (hive
    * partitioning from the commit metadata), and the table's schema
    * contract is checked at stage time — fail before the write, not
    * at publish — and AGAIN at publish (the table may have evolved in
    * between). An empty batch refuses to stage. Returns the stage id. */
  def stageAppend(spark: SparkSession, table: String,
      df: DataFrame): String = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.stageAppend: $table has no committed snapshot"))
    checkStageSchema(spark, table, snap, df, "stageAppend")
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val fs = fsFor(spark, table)
    val id = java.util.UUID.randomUUID().toString.take(8)
    val rel = stageDir(table, id)
    val dir = new Path(s"$table/$rel")
    // mapped snapshots: the staged batch speaks LOGICAL names; the
    // staged FILES carry physical ones like every committed file
    // (physical names never change across later renames, so the batch
    // stays publishable whatever mapping churn lands in between)
    val dfP = mappingOf(snap) match {
      case None => df
      case Some(pairs) =>
        val m = pairs.toMap
        df.select(df.columns.map(c =>
          F.col(c).as(m.getOrElse(c, c))).toIndexedSeq: _*)
    }
    val w = dfP.write.mode("overwrite")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .parquet(dir.toString)
    // footer-based count, no Spark job on small landings (the
    // writeDataCounted rule)
    val n = writtenRowCount(spark, fs, dir)
    if (n == 0) {
      fs.delete(dir, true)
      sys.error(s"Manifest.stageAppend: refusing to stage an empty batch")
    }
    if (checks(snap).nonEmpty)
      try enforceChecks(spark,
        snap, toLogicalProj(snap, spark.read.parquet(dir.toString)),
        "stageAppend")
      catch { case e: Throwable => fs.delete(dir, true); throw e }
    val out = fs.create(stageMarker(table, id), false)
    try out.write(s"$rel\n".getBytes("UTF-8")) finally out.close()
    id
  }

  /** The schema contract shared by stage and publish: the batch must
    * carry exactly the table's columns (types compared outside the
    * hive partition columns, which inference narrows on read). */
  private def checkStageSchema(spark: SparkSession, table: String,
      snap: Snapshot, df: DataFrame, what: String): Unit = {
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    // the caller's batch speaks LOGICAL names on a mapped snapshot
    val cur = mappingOf(snap) match {
      case None => readSnapshotRaw(spark, table, snap).schema
      case Some(pairs) =>
        val phys = committedSchemaOf(snap)
          .getOrElse(readSnapshotRaw(spark, table, snap).schema)
        org.apache.spark.sql.types.StructType(pairs.map { case (l, ph) =>
          val f = phys(ph)
          org.apache.spark.sql.types.StructField(l, f.dataType, f.nullable)
        })
    }
    def key(s: org.apache.spark.sql.types.StructType) = s.map(f =>
      if (parts.contains(f.name)) (f.name, "partition")
      else (f.name, f.dataType.sql)).toSet
    require(key(cur) == key(df.schema),
      s"Manifest.$what: batch schema mismatch vs current snapshot — " +
        s"only in table: ${(key(cur) -- key(df.schema)).map(_._1).toSeq
          .sorted.mkString(",")}; " +
        s"only in batch: ${(key(df.schema) -- key(cur)).map(_._1).toSeq
          .sorted.mkString(",")}")
  }

  /** Staged-but-unpublished batch ids, oldest marker first. */
  def listStages(spark: SparkSession, table: String): Seq[String] = {
    val fs = fsFor(spark, table)
    val dir = manifestDir(table)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.sortBy(_.getModificationTime)
      .map(_.getPath.getName).collect { case StageMarkerName(id) => id }
  }

  /** The staged batch, exactly as a reader will see it post-publish
    * (hive partition columns included) — the audit surface. */
  def readStage(spark: SparkSession, table: String, id: String): DataFrame = {
    val fs = fsFor(spark, table)
    require(fs.exists(stageMarker(table, id)),
      s"Manifest.readStage: no staged batch $id on $table")
    val raw = openListed(spark, Seq(s"$table/${stageDir(table, id)}"),
      footerRule(spark))
    // staged files are physical; the auditor reads under the CURRENT
    // snapshot's logical names (renames between stage and audit show
    // the new names — physical names are the stable identity; a
    // column added since staging is simply absent from the audit)
    currentSnapshot(spark, table).flatMap(mappingOf) match {
      case None => raw
      case Some(pairs) =>
        val have = raw.columns.toSet
        raw.select(pairs.collect {
          case (l, p) if have(p) => F.col(p).as(l) }: _*)
    }
  }

  /** WRITE-AUDIT-PUBLISH, step 3: one atomic commit of the staged
    * directory as an append to the CURRENT snapshot (whatever has
    * landed since staging — appends compose; the schema contract is
    * re-checked against it). The staged data is adopted in place:
    * no copy, no second write. The marker is consumed, so a publish
    * is exactly-once — a re-publish of the same id fails loudly. */
  def publishStage(spark: SparkSession, table: String, id: String,
      meta: Map[String, String] = Map.empty): Snapshot = {
    val fs = fsFor(spark, table)
    val marker = stageMarker(table, id)
    require(fs.exists(marker),
      s"Manifest.publishStage: no staged batch $id on $table " +
        "(already published or dropped?)")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.publishStage: $table has no committed snapshot"))
    val rel = stageDir(table, id)
    // staged files are PHYSICAL; both re-validations run on the
    // logical view under the PUBLISH-time snapshot (a rename between
    // stage and publish is absorbed — physical names are stable; an
    // evolution in between refuses on the schema re-check, as before).
    // Pairs whose physical column the staged batch lacks (a column
    // ADDED since staging) are left out of the projection so the
    // schema re-check reports the drift instead of a resolution error
    val rawStaged = openListed(spark, Seq(s"$table/$rel"), footerRule(spark))
    val staged = mappingOf(snap) match {
      case None => rawStaged
      case Some(pairs) =>
        val have = rawStaged.columns.toSet
        rawStaged.select(pairs.collect {
          case (l, p) if have(p) => F.col(p).as(l) }: _*)
    }
    checkStageSchema(spark, table, snap, staged, "publishStage")
    // constraints may have been added since staging: re-check, so a
    // publish can never smuggle rows past a newer contract
    enforceChecks(spark, snap, staged, "publishStage")
    val out = commit(spark, table, snap.version, snap.paths :+ rel,
      withOp(snap.meta, "publish") ++ meta)
    fs.delete(marker, false)
    out
  }

  /** WRITE-AUDIT-PUBLISH, the reject path: remove the staged batch
    * and its marker. Nothing was ever visible. */
  def dropStage(spark: SparkSession, table: String, id: String): Unit = {
    val fs = fsFor(spark, table)
    fs.delete(new Path(s"$table/${stageDir(table, id)}"), true)
    fs.delete(stageMarker(table, id), false)
  }

  // ---- writable branches (the WAP generalization) -------------------
  //
  // A BRANCH is a named ref with its OWN version chain, forked from a
  // main snapshot — the Iceberg branch shape, and the generalization
  // of the one-batch stage above: an audit flow lands N commits on the
  // branch, invisible to main, then PUBLISHES them as ONE atomic main
  // commit (fast-forward), refusing loudly if main moved since the
  // fork. Storage reuses the whole manifest protocol verbatim: the
  // branch is a pseudo-root `<table>/_branches/<name>` whose
  // `_manifest` holds its chain — [[commit]]'s claim/rename discipline,
  // chain guard, and history all apply unchanged — while every entry
  // stays TABLE-root-relative, so branch data dirs live beside main's
  // (written with the FORK version's prefix, ≤ main's current, which
  // keeps the orphan-reclaim ordering sound) and [[vacuum]] treats
  // branch-referenced entries as live. The underscore prefix keeps
  // `_branches` invisible to plain reads and SHOW TABLES.

  private def branchRoot(table: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch name '$name' — use letters, digits, dot, underscore, dash")
    s"$table/_branches/$name"
  }

  /** Commit-metadata key recording the MAIN version a branch forked
    * from — what publish's fast-forward check compares against. */
  private[sources] val ForkKey = "forked_from"

  /** Fork a branch from the CURRENT main snapshot: branch v1 is a
    * copy of main's paths + metadata, stamped with the fork version.
    * Hive layouts and column-mapped snapshots refuse (branch appends
    * are flat; fold/convert first). */
  def branchCreate(spark: SparkSession, table: String,
      name: String): Snapshot = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.branchCreate: $table has no committed snapshot"))
    require(!hiveLayout(spark, table, snap),
      s"Manifest.branchCreate: $table is hive-partitioned — convert() " +
        "to the flat layout first")
    require(!isMapped(snap),
      s"Manifest.branchCreate: $table carries a column mapping — " +
        "compact() folds it first")
    val root = branchRoot(table, name)
    require(versions(spark, root).isEmpty,
      s"Manifest.branchCreate: branch '$name' already exists on $table")
    commit(spark, root, 0L, snap.paths,
      withOp(snap.meta, "branch") + (ForkKey -> snap.version.toString))
  }

  /** Branch names with a committed chain. */
  def branches(spark: SparkSession, table: String): Seq[String] = {
    val fs = fsFor(spark, table)
    val base = new Path(s"$table/_branches")
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => versions(spark, s"$table/_branches/$n").nonEmpty)
      .sorted
  }

  /** The branch's HEAD snapshot (its own chain's newest version);
    * paths are table-root-relative like every snapshot's. */
  def branchHead(spark: SparkSession, table: String,
      name: String): Snapshot = {
    val root = branchRoot(table, name)
    val vs = versions(spark, root)
    require(vs.nonEmpty,
      s"Manifest.branchHead: $table has no branch '$name'")
    readSnapshot(spark, root, vs.last)
  }

  /** Read the branch head — the same DV-masked, committed-schema read
    * as main's, just pinned to the branch chain. */
  def readBranch(spark: SparkSession, table: String,
      name: String): DataFrame =
    readSnapshotData(spark, table, branchHead(spark, table, name))

  /** APPEND to a branch: writes the batch under the MAIN table root
    * (fork-version prefix — invisible to main, lease-protected and
    * branch-referenced against vacuum) and commits it on the branch's
    * own chain. Same strict schema contract as [[commitAppend]],
    * against the BRANCH head. */
  def branchAppend(spark: SparkSession, table: String, name: String,
      df: DataFrame): Snapshot = {
    val root = branchRoot(table, name)
    val head = branchHead(spark, table, name)
    val fork = head.meta.get(ForkKey).map(_.toLong).getOrElse(
      sys.error(s"Manifest.branchAppend: branch '$name' has no fork stamp"))
    val curS = readSnapshotRaw(spark, table, head).schema
    def key(s: org.apache.spark.sql.types.StructType) =
      s.map(f => (f.name, f.dataType.sql)).toSet
    require(key(curS) == key(df.schema),
      s"Manifest.branchAppend: schema mismatch vs branch head — only in " +
        s"branch: ${(key(curS) -- key(df.schema)).map(_._1).toSeq.sorted
          .mkString(",")}; only in batch: ${(key(df.schema) -- key(curS))
          .map(_._1).toSeq.sorted.mkString(",")}")
    enforceChecks(spark, head, df, "branchAppend")
    val rel = writeData(spark, table, fork, df, Nil)
    commit(spark, root, head.version, head.paths :+ rel,
      withOp(head.meta, "append"))
  }

  /** PUBLISH: land the branch head's whole state on main as ONE
    * atomic commit — the fast-forward. Refuses loudly when main moved
    * past the fork point (publishing would silently drop the
    * interleaved commits — rebase by hand: fork a fresh branch, replay
    * what matters). The branch chain is deleted after the publish;
    * its data dirs are now main-referenced. */
  def publishBranch(spark: SparkSession, table: String,
      name: String): Snapshot = {
    val head = branchHead(spark, table, name)
    val fork = head.meta.get(ForkKey).map(_.toLong).getOrElse(
      sys.error(s"Manifest.publishBranch: branch '$name' has no fork stamp"))
    val cur = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.publishBranch: $table has no committed snapshot"))
    def diverged(at: Long): Nothing = sys.error(
      s"Manifest.publishBranch: $table moved to v$at since " +
        s"branch '$name' forked at v$fork — the fast-forward would drop " +
        "the interleaved commits; fork a fresh branch and replay")
    if (cur.version != fork) diverged(cur.version)
    val out =
      try commit(spark, table, cur.version, head.paths,
        withOp(head.meta - ForkKey, "publish_branch"))
      catch {
        // losing the slot IS divergence: a commit (e.g. an auto-
        // rebasing appender) landed between the fork check and ours —
        // surface the branch-shaped refusal, not the raw race
        case _: CommitRaceLost =>
          diverged(currentSnapshot(spark, table).fold(fork)(_.version))
      }
    dropBranch(spark, table, name)
    out
  }

  /** Delete a branch: its chain goes now; its branch-only data dirs
    * become ordinary orphans (fork-version prefix ≤ current) that
    * [[vacuum]] reclaims once the writer lease passes. */
  def dropBranch(spark: SparkSession, table: String, name: String): Unit = {
    val fs = fsFor(spark, table)
    fs.delete(new Path(branchRoot(table, name)), true)
    // reap the _branches dir itself when the last branch goes (non-
    // recursive: a concurrent branchCreate's content survives)
    val base = new Path(s"$table/_branches")
    try if (fs.exists(base) && fs.listStatus(base).isEmpty)
      fs.delete(base, false)
    catch { case _: java.io.IOException => () } // raced a create: keep
  }

  /** Every branch's every retained snapshot — what [[vacuum]] folds
    * into its referenced set so branch work is never reclaimed. A
    * manifest vanishing mid-walk (a concurrent [[dropBranch]]) is
    * skipped, not thrown: fewer referenced paths only ever means MORE
    * reclaimed, and a dropped branch's dirs are exactly the orphans
    * vacuum is entitled to take (lease-gated like any other). */
  private def branchSnapshots(spark: SparkSession,
      table: String): Seq[Snapshot] =
    branches(spark, table).flatMap { n =>
      val root = s"$table/_branches/$n"
      versions(spark, root).flatMap(v =>
        try Some(readSnapshot(spark, root, v))
        catch { case _: java.io.FileNotFoundException => None })
    }

  // ---- file skipping (per-file envelopes as a snapshot sidecar) ----

  private def statsDir(table: String, v: Long) =
    new Path(s"$table/_manifest/stats_v${"%08d".format(v)}")

  /** Total row count of the parquet files under `dir`, from FOOTERS
    * only — no row is deserialized, so counting even a large delete
    * vector stays a driver metadata read (the mask-heavy advisor's
    * numerator). */
  private def footerRowCount(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return 0L
    walkParquet(fs, dir).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Sidecar read, degraded-not-failed: sidecars are an OPTIONAL
    * accelerator, so any read race — a concurrent [[buildSidecar]]
    * swap, a [[vacuum]] reclaiming the version — must collapse to
    * "no sidecar" (conservative full read), never a reader error.
    * The rows are pulled to the driver ONCE and handed to the pruning
    * decision as raw rows (#files grain — the size every decision
    * already collects); no re-wrapped relation, so a snapshot with
    * large per-file Bloom sidecars holds ONE driver copy, not two.
    * The schema is resolved at the driver too, from the first
    * sidecar file's footer ([[footerSchema]]): a consult runs no
    * Spark job at all. */
  private def sidecarRows(spark: SparkSession, dir: Path)
      : Option[(org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row])] =
    try {
      // sidecars are written coalesce(1) and are per-FILE metadata —
      // read them AT THE DRIVER (guide §5: metadata at the driver,
      // jobs for data), schema from the footer and rows through the
      // file format's own reader (the previous df.collect() launched
      // a Spark job per consult, and the schema inference another). A
      // sidecar that somehow grew past the cap, or any reader
      // surprise, falls back to the distributed collect.
      val conf = spark.sessionState.newHadoopConf()
      val fs = dir.getFileSystem(conf)
      val files = walkParquetStatus(fs, dir)
      if (files.isEmpty) None
      else {
        val schema = footerSchema(spark, files.head._1)
        def collected = spark.read.schema(schema).parquet(dir.toString).collect()
        val rows =
          try {
            if (files.map(_._2).sum > (64L << 20)) collected
            else driverReadParquetRows(spark, files, schema, conf)
          } catch { case scala.util.control.NonFatal(_) => collected }
        Some((schema, rows))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Rows of small parquet files read ON THE DRIVER through Spark's
    * own file-format reader (the [[graft.sources.ManifestStream]] /
    * native-scan reader function, invoked here instead of inside a
    * task) — no job, no scheduling round trip. Callers bound the
    * total bytes; this is for sidecar-sized metadata only. Each file's
    * reader is closed before the next opens, also when the read fails,
    * so a caller's fallback never runs beside open readers (with no
    * task to close them, nothing else would). The vectorized reader,
    * Spark's default for these schemas, hands back its closeable
    * iterator; the row reader closes itself at end of input. */
  private def driverReadParquetRows(spark: SparkSession,
      files: Seq[(String, Long)],
      schema: org.apache.spark.sql.types.StructType,
      conf: org.apache.hadoop.conf.Configuration)
      : Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val fmt = new org.apache.spark.sql.execution.datasources
      .parquet.ParquetFileFormat()
    val readFn = fmt.buildReaderWithPartitionValues(spark, schema,
      new org.apache.spark.sql.types.StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    files.toArray.flatMap { case (f, len) =>
      val it = readFn(PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(f), 0L, len,
        Array.empty[String]))
      try it.map(r => conv(r.copy()).asInstanceOf[org.apache.spark.sql.Row]).toArray
      finally it match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
  }

  /** Record per-FILE min/max envelopes of `cols` for the current
    * snapshot, as a sidecar parquet under `_manifest/` (invisible to
    * data readers; version-scoped, so immutable-file semantics carry
    * over). Numeric columns record a double envelope (exact below
    * 2⁵³); others are skipped ([[analyzeFilesString]] is the string
    * type-split). The sidecar is an OPTIONAL accelerator: the
    * file-skipping decision ([[admittedFilesFor]]) reads every file
    * when no retained sidecar exists, and files the stats frame does
    * not mention are always read.
    *
    * INCREMENTAL: data files are immutable, so any retained prior
    * sidecar's rows (same column set) are reused for the files still
    * in the snapshot, and only uncovered files — the appended ones —
    * are scanned. Per-append maintenance cost is therefore ∝ new
    * data, never the table (the [[Stats.mergeSketchStats]] argument
    * at file grain); a fully-covered snapshot is a no-op. Returns the
    * number of files actually scanned.
    *
    * Besides the envelope, the same single pass records per-file
    * `cnt` (rows), `nn` (non-null) and `sum` per column — the
    * mergeable scalars [[statsAggregateGrouped]] needs to answer
    * count/min/max/sum from driver metadata. All doubles: counts and
    * integral-valued sums are exact below 2⁵³, the envelope
    * discipline already in force. A pre-widening sidecar (min/max
    * only) simply fails the full-coverage reuse test and rebuilds —
    * one rescan, never a wrong answer. */
  def analyzeFiles(spark: SparkSession, table: String,
      cols: Seq[String]): Int = {
    require(cols.nonEmpty, "analyzeFiles needs at least one column")
    buildSidecar(spark, table, statsDir,
      keepCol = (df, c) => df.columns.contains(c) && df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      statNames = c => Seq(s"${c}__min", s"${c}__max", s"${c}__cnt",
        s"${c}__nn", s"${c}__sum"),
      fieldType = org.apache.spark.sql.types.DoubleType,
      aggsFor = cs => cs.flatMap(c =>
        Seq(F.min(F.col(c)).cast("double").as(s"${c}__min"),
          F.max(F.col(c)).cast("double").as(s"${c}__max"),
          F.count(F.lit(1)).cast("double").as(s"${c}__cnt"),
          F.count(F.col(c)).cast("double").as(s"${c}__nn"),
          F.sum(F.col(c).cast("double")).as(s"${c}__sum"))),
      cols, "analyzeFiles")
  }

  /** The incremental-sidecar engine shared by [[analyzeFiles]] and
    * [[analyzeFilesBloom]]. Column evolution is NON-DESTRUCTIVE: the
    * effective column set is the UNION of the request and whatever the
    * newest retained sidecar already covers (recovered from its stat
    * column names), so a narrower re-run never drops a column a reader
    * may still be pruning on; rows carry over verbatim only when the
    * prior sidecar covers the full effective set, otherwise every file
    * rescans for the union. Returns the number of files scanned. */
  private def buildSidecar(spark: SparkSession, table: String,
      dirFor: (String, Long) => Path,
      keepCol: (DataFrame, String) => Boolean,
      statNames: String => Seq[String],
      fieldType: org.apache.spark.sql.types.DataType,
      aggsFor: Seq[String] => Seq[Column],
      cols: Seq[String], what: String): Int = {
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.$what: $table has no committed snapshot"))
    val fs = fsFor(spark, table)
    // RAW read: per-file stats cover every stored row, including
    // MoR-deleted positions — envelopes/blooms stay SUPERSETS of the
    // live content, which is the sound direction for pruning, and the
    // incremental file-list bookkeeping stays exact
    val df = readSnapshotRaw(spark, table, snap)
    val prior = versions(spark, table)
      .filter(v => fs.exists(dirFor(table, v))).lastOption
      .flatMap(v => sidecarRows(spark, dirFor(table, v)))
    // data columns the prior sidecar covers, recovered from its stat
    // names (everything before the last "__" marker)
    val priorCols = prior.toSeq.flatMap(_._1.fieldNames.toSeq)
      .filter(_ != "file").map(n => n.substring(0, n.lastIndexOf("__")))
      .distinct
    // existence lives inside keepCol: a bloom "column" may be a
    // COMPOSITE key spec ("a+b") that is not itself a df column
    val effCols = (cols ++ priorCols).distinct.filter(c => keepCol(df, c))
    require(effCols.nonEmpty,
      s"$what: no eligible columns among ${cols.mkString(",")}")
    val statCols = "file" +: effCols.flatMap(statNames)
    val allFiles = df.inputFiles.toSet
    // rows carry over verbatim (files are immutable) when the prior
    // sidecar covers the FULL effective column set
    val reuse: Seq[org.apache.spark.sql.Row] = prior.toSeq.flatMap {
      case (sch, rows) =>
        if (statCols.forall(sch.fieldNames.contains)) {
          // rows are already driver metadata at #files grain, detached
          // from the old sidecar files before the swap
          val idx = statCols.map(sch.fieldIndex)
          rows.toSeq.map(r =>
              org.apache.spark.sql.Row.fromSeq(idx.map(r.get)))
            .filter(r => allFiles.contains(r.getString(0)))
        } else Nil
    }
    val covered = reuse.map(_.getString(0)).toSet
    val newFiles = (allFiles -- covered).toSeq.sorted
    val target = dirFor(table, snap.version)
    if (newFiles.isEmpty && fs.exists(target) && reuse.size == allFiles.size)
      return 0 // fully covered at this version already
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType) +:
        effCols.flatMap(statNames).map(n =>
          org.apache.spark.sql.types.StructField(n, fieldType)))
    val reused = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(reuse).asJava), schema)
    val aggs = aggsFor(effCols)
    val fresh =
      if (newFiles.isEmpty) reused.limit(0)
      else {
        val nf = readPaths(spark, snap, newFiles)
        // hive-partitioned snapshots carry partition columns only when
        // read through their directories — a leaf-file read loses
        // them, so analyze such a column from the full snapshot scan
        val src = if (effCols.forall(c => nf.columns.contains(c))) nf
          else df.filter(F.input_file_name().isInCollection(newFiles))
        src.groupBy(F.input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*)
      }
    // tmp-write + rename-in: the visible swap is two metadata ops
    // (delete + atomic rename) instead of a whole overwrite job, so a
    // racing reader resolves either the complete old sidecar or —
    // inside the tiny delete→rename window — nothing, and
    // [[sidecarLocal]] degrades that (and any other race) to the
    // conservative full read. Dot-prefixed tmp dirs are invisible to
    // every listing; leftovers from a crashed build are reclaimed on
    // the next run.
    val parent = target.getParent
    if (fs.exists(parent)) fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(s".${target.getName}.tmp-"))
      .foreach(fs.delete(_, true))
    val tmp = new Path(parent,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID}")
    reused.unionByName(fresh).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      sys.error(s"Manifest.$what: failed to swap sidecar into $target")
    newFiles.size
  }

  private def bloomDir(table: String, v: Long) =
    new Path(s"$table/_manifest/bloom_v${"%08d".format(v)}")

  /** A bloom column spec: a bare column name, or a composite key as
    * "a+b" — hashed as xxhash64(a, b). [[compositeName]] canonicalizes
    * a key list into the spec; order is semantic (xxhash64 is
    * order-sensitive), so build and probe must use the same order —
    * both derive it from the caller's key sequence. */
  private[sources] def compositeParts(spec: String): Seq[String] =
    spec.split('+').toIndexedSeq
  def compositeName(keys: Seq[String]): String = keys.mkString("+")

  /** Per-file BLOOM sidecar — the point-lookup complement of
    * [[analyzeFiles]]: min/max envelopes prune RANGE predicates on
    * clustered columns, but an equality probe on an unclustered
    * high-cardinality column (a doc id, a user id) intersects every
    * envelope; a per-file Bloom filter of the column's xxhash64 values
    * answers "might this file contain v?" instead. Built with the same
    * internal `BloomFilterAggregate` the runtime bloom-join uses, one
    * grouped pass, INCREMENTAL exactly like [[analyzeFiles]] (prior
    * sidecar rows reused for still-present files; returns the number
    * of files scanned). False positives only cost an extra file read;
    * false negatives cannot happen, so pruning is always sound. */
  def analyzeFilesBloom(spark: SparkSession, table: String,
      cols: Seq[String], expectedItemsPerFile: Long = 1000000L,
      fpp: Double = 0.01): Int = {
    require(cols.nonEmpty, "analyzeFilesBloom needs at least one column")
    require(expectedItemsPerFile > 0 && fpp > 0 && fpp < 1,
      s"bad sizing: $expectedItemsPerFile items, fpp $fpp")
    val ln2 = math.log(2)
    val numBits = math.ceil(
      -expectedItemsPerFile * math.log(fpp) / (ln2 * ln2)).toLong
    // BloomFilterAggregate silently Math.min-clamps against the
    // runtime bloom-join caps (the historyBloom lesson — a clamped
    // filter saturates and the skip rate silently collapses): raise
    // them to what this sizing asks for. The build below executes
    // EAGERLY (the sidecar write), so the caps are saved first and
    // restored before returning — the raise never leaks into
    // Catalyst's own runtime bloom-join decisions.
    val conf = spark.conf
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val saved = Seq(bitsKey, itemsKey).map(k => k -> conf.getOption(k))
    if (conf.get(bitsKey, "67108864").toLong < numBits)
      conf.set(bitsKey, numBits.toString)
    if (conf.get(itemsKey, "4000000").toLong < expectedItemsPerFile)
      conf.set(itemsKey, expectedItemsPerFile.toString)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // a col spec may be COMPOSITE — "a+b" blooms xxhash64(a, b), the
    // canonical multi-column key encoding (xxhash64 is order-sensitive
    // and type-tagged, so tuple identity is exact up to hash
    // collision, which only ever costs an extra candidate file) —
    // what lets multi-column upserts and takedowns prune files too
    try buildSidecar(spark, table, bloomDir,
      keepCol = (df, c) => compositeParts(c)
        .forall(df.columns.contains),
      statNames = c => Seq(s"${c}__bloom"),
      fieldType = org.apache.spark.sql.types.BinaryType,
      aggsFor = cs => cs.map { c =>
        GraftBridge.column(new BloomFilterAggregate(
          GraftBridge.expression(
            F.xxhash64(compositeParts(c).map(F.col): _*)),
          Literal(expectedItemsPerFile), Literal(numBits))
          .toAggregateExpression()).as(s"${c}__bloom")
      },
      cols, "analyzeFilesBloom")
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Point-lookup read: the current snapshot restricted to the files
    * whose Bloom sidecar says MIGHT contain `value` in `column` — the
    * envelope decision's shape (driver-side, sidecar only, uncovered
    * files conservatively read, no sidecar or a partitioned snapshot =
    * plain read). The probe value is cast to the column's own type —
    * under the session time zone, as the row filter casts it — and
    * hashed at the driver, so the bits agree with the aggregate's
    * xxhash64 exactly. */
  def readPoint(spark: SparkSession, table: String,
      column: String, value: Any): DataFrame =
    readPointAny(spark, table, column, Seq(value))

  /** [[readPoint]] for a SET of probe values (OR semantics): the
    * current snapshot restricted to the files whose Bloom sidecar says
    * MIGHT contain ANY of them — one sidecar pass however many values
    * (the multi-id takedown's phase-1 restriction, and a point-read in
    * its own right). Same conservatism: no sidecar / hive layout /
    * uncovered column ⇒ the plain pinned read. */
  def readPointAny(spark: SparkSession, table: String, column: String,
      values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "Manifest.readPointAny: no probe values")
    val snap = resolveSnapshot(spark, table, None, "readPointAny")
    serveFiles(spark, table, snap,
      pointCandidateFiles(spark, table, snap, physOf(snap)(column), values))
  }

  /** [[readPointAny]] for COMPOSITE keys: the current snapshot
    * restricted to the files whose composite bloom
    * (`analyzeFilesBloom(Seq(compositeName(columns)))`) says MIGHT
    * contain any of the key TUPLES — the multi-column point lookup
    * ("these (user, day) pairs"). Same conservatism: no sidecar for
    * the spec / hive layout ⇒ the plain pinned read. */
  def readPointTuples(spark: SparkSession, table: String,
      columns: Seq[String], rows: Seq[Seq[Any]]): DataFrame = {
    require(columns.size >= 2,
      "Manifest.readPointTuples: use readPointAny for a single column")
    require(rows.nonEmpty && rows.forall(_.size == columns.size),
      "Manifest.readPointTuples: every tuple must match the columns")
    val snap = resolveSnapshot(spark, table, None, "readPointTuples")
    serveFiles(spark, table, snap, pointCandidateFilesTuples(spark, table,
      snap, columns.map(physOf(snap)), rows))
  }

  /** The bloom-sidecar DECISION alone — Some(candidate absolute file
    * paths, sidecar-unknown files conservatively included) or None ⇒
    * no pruning applies. Shared by [[readPointAny]] (served live) and
    * [[deleteKeys]], whose phase-1 scan needs `input_file_name()`
    * (unsupported over the DV anti-join's multi-source plan) and so
    * reads the candidates RAW. */
  private def pointCandidateFiles(spark: SparkSession, table: String,
      snap: Snapshot, column: String,
      values: Seq[Any]): Option[Seq[String]] = {
    val all = listSnapshotFiles(spark, table, snap)
    val dt = readSchema(spark, table, snap, all)(column).dataType
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val probes = values.map(v => driverHash(Seq(v -> dt), tz))
    pointCandidateFilesHashed(spark, table, snap, all, column, probes)
  }

  /** [[pointCandidateFiles]] for composite keys: each probe row is one
    * key TUPLE in `keys` order, hashed exactly as the composite bloom
    * ([[compositeName]]) was built. */
  private def pointCandidateFilesTuples(spark: SparkSession, table: String,
      snap: Snapshot, keys: Seq[String],
      rows: Seq[Seq[Any]]): Option[Seq[String]] = {
    val all = listSnapshotFiles(spark, table, snap)
    val sch = readSchema(spark, table, snap, all)
    val dts = keys.map(k => sch(k).dataType)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val probes = rows.map(r => driverHash(r.zip(dts), tz))
    pointCandidateFilesHashed(spark, table, snap, all,
      compositeName(keys), probes)
  }

  /** xxhash64 of literal probe values, evaluated AT THE DRIVER — the
    * exact expression `F.xxhash64(F.lit(v).cast(dt))` the sidecar
    * build hashes with, but eval'd directly instead of launching a
    * 1-row Spark job per probe batch (the job was pure scheduling
    * latency: constant inputs, constant output). `tz` is the session
    * time zone: a string probe on a timestamp column must name the
    * same instant the takedown's row filter casts it to, or the file
    * holding the row is excluded. */
  private def driverHash(vals: Seq[(Any, org.apache.spark.sql.types.DataType)],
      tz: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val children = vals.map { case (v, dt) =>
      Cast(Literal.create(v), dt, Some(tz)) }
    XxHash64(children, 42L).eval(null).asInstanceOf[Long]
  }

  /** The bloom decision core: candidate files among `all` (the
    * snapshot's OWN file list — from the filesystem, never a relation
    * init at decision time) whose `<bloomName>` filter might contain
    * ANY of the pre-hashed probes. None ⇒ no sidecar / hive layout /
    * the sidecar predates this (possibly composite) spec — the caller
    * serves the full read. */
  private def pointCandidateFilesHashed(spark: SparkSession, table: String,
      snap: Snapshot, all: Seq[String], bloomName: String,
      probes: Seq[Long]): Option[Seq[String]] = {
    if (all.exists(f => f.split('/').exists(_.contains("="))))
      return None
    // newest retained sidecar (files are immutable; unknown files
    // stay candidates below), so interleaved commits never turn the
    // bloom decision off table-wide
    val (sch, rows) = newestSidecar(spark, table, snap, bloomDir)
      .getOrElse(return None)
    // sidecar predates this spec: conservative full read, never a
    // resolution error
    if (!sch.fieldNames.contains(s"${bloomName}__bloom")) return None
    val fi = sch.fieldIndex("file")
    val bi = sch.fieldIndex(s"${bloomName}__bloom")
    val known = rows.map(r => normPath(r.getString(fi))).toSet
    val keep = rows.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](bi)))
      probes.exists(bf.mightContainLong)
    }.map(r => normPath(r.getString(fi))).toSet
    Some(all.filter { f =>
      val n = normPath(f)
      keep.contains(n) || !known.contains(n)
    }.toIndexedSeq)
  }

  /** Pinned read of the current snapshot restricted — at the DRIVER,
    * from sidecar metadata alone, before any footer is opened — to the
    * files whose recorded `[min, max]` envelope of `column` intersects
    * `[lo, hi]`. The 100 TB point: after a range-clustering compaction
    * ([[compact]] with `sortBy`, or a Z-order layout), a narrow
    * predicate reads a handful of files out of thousands, and the
    * skipping decision costs one tiny sidecar scan instead of a
    * listing + footer pass over the data. Files without stats rows are
    * conservatively read; no sidecar at all = plain [[read]]. The
    * caller still applies its own row-level filter — envelopes prune
    * files, not rows. */
  def readPruned(spark: SparkSession, table: String,
      column: String, lo: Double, hi: Double): DataFrame =
    readPrunedAll(spark, table, Seq((column, lo, hi)))

  /** [[readPruned]] for a CONJUNCTION of ranges — a file survives only
    * if EVERY predicate's envelope intersects, which is where a
    * z-clustered layout pays twice (LakehouseSpec's grid test). */
  def readPrunedAll(spark: SparkSession, table: String,
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    require(ranges.nonEmpty, "readPrunedAll needs at least one range")
    readWhere(spark, table, resolveSnapshot(spark, table, None, "readPruned"),
      ranges.map(numRange).reduce(_ && _))
  }

  /** `col ∈ [lo, hi]` as the predicate the range faces hand to
    * [[admittedFilesFor]]. */
  private def numRange(r: (String, Double, Double)): Column =
    F.col(r._1) >= r._2 && F.col(r._1) <= r._3

  /** A string range with only its `Some` sides, inclusive. */
  private def strRange(r: (String, Option[String], Option[String])): Column =
    (r._2.map(F.col(r._1) >= _) ++ r._3.map(F.col(r._1) <= _)).reduce(_ && _)

  /** The range faces' serve: the pinned snapshot restricted to the
    * files [[admittedFilesFor]] admits for a LOGICAL-named predicate —
    * the one file-skipping decision behind every face. */
  private def readWhere(spark: SparkSession, table: String, snap: Snapshot,
      pred: Column): DataFrame =
    serveFiles(spark, table, snap,
      admittedFilesFor(spark, table, snap, predToPhysical(snap, pred)))

  /** The one serve of a file-skipping decision, under logical names:
    * None ⇒ the plain snapshot read; no file ⇒ a well-formed empty
    * frame; otherwise the LIVE (DV-masked) read of just those files
    * under the snapshot's committed schema. */
  private def serveFiles(spark: SparkSession, table: String, snap: Snapshot,
      files: Option[Seq[String]]): DataFrame = files match {
    case None => readSnapshotData(spark, table, snap)
    case Some(fl) if fl.isEmpty =>
      toLogicalProj(snap, readSnapshotRaw(spark, table, snap).limit(0))
    case Some(fl) => toLogicalProj(snap, readFilesLive(spark, table, snap, fl))
  }

  // ---- string envelopes: lexicographic file skipping ----------------

  private def strStatsDir(table: String, v: Long) =
    new Path(s"$table/_manifest/strstats_v${"%08d".format(v)}")

  /** The [[analyzeFiles]] type-split for STRING columns: per-file
    * lexicographic min/max envelopes as their own sidecar family
    * (`strstats_v<N>` — string-typed stat columns can't share the
    * numeric sidecar's double schema). Same incremental engine, same
    * optional-accelerator contract. What this buys at 100 TB: URL /
    * path / date-string predicates — `url LIKE 'https://host/%'`,
    * `day BETWEEN '2024-01-01' AND '2024-01-07'` — prune at the
    * driver on a string-clustered layout, the other big column class
    * numeric envelopes can't touch. Returns files scanned. */
  def analyzeFilesString(spark: SparkSession, table: String,
      cols: Seq[String]): Int = {
    require(cols.nonEmpty, "analyzeFilesString needs at least one column")
    buildSidecar(spark, table, strStatsDir,
      keepCol = (df, c) => df.columns.contains(c) && df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType,
      statNames = c => Seq(s"${c}__smin", s"${c}__smax",
        s"${c}__scnt", s"${c}__snn"),
      fieldType = org.apache.spark.sql.types.StringType,
      // per-file row/non-null counts ride as string-encoded longs (the
      // family's single stat type) — what lets a GROUPED metadata
      // serve prove a string key file-constant AND NULL-free
      // ([[statsAggregateGrouped]]). Pre-widening sidecars simply fail
      // the full-coverage reuse test and rebuild — one rescan, never a
      // wrong answer (the buildSidecar evolution contract).
      aggsFor = cs => cs.flatMap(c =>
        Seq(F.min(F.col(c)).as(s"${c}__smin"),
          F.max(F.col(c)).as(s"${c}__smax"),
          F.count(F.lit(1)).cast("string").as(s"${c}__scnt"),
          F.count(F.col(c)).cast("string").as(s"${c}__snn"))),
      cols, "analyzeFilesString")
  }

  /** UTF-8 BYTE comparison — the order Spark's string min/max actually
    * uses (UTF8String is byte-wise): driver decisions must compare in
    * the same order or a supplementary-plane code point could prune a
    * file unsoundly (Java String.compareTo orders by UTF-16 units,
    * which disagrees above U+FFFF). */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Smallest string strictly greater than every string with this
    * prefix, under UTF-8 byte order: rightmost non-0xFF-leading char
    * incremented (code-point-wise), suffix dropped. None when no such
    * bound exists (prefix is all U+10FFFF-class maxima — unbounded
    * above). */
  private def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      var next = cps(i) + 1
      // skip the surrogate block — not valid standalone code points
      if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
      Some(new String(cps, 0, i) + new String(Character.toChars(next)))
    }
  }

  /** Live rows whose string-envelope sidecar admits `column` ∈
    * [lo, hi] (inclusive; None = unbounded on that side) — the
    * lexicographic counterpart of [[readPruned]], same soundness
    * ladder: uncovered files always read, no sidecar ⇒ full read,
    * NULL envelopes (all-NULL column in a file) never match a range,
    * and the served frame is always LIVE (delete vectors applied). */
  def readPrunedString(spark: SparkSession, table: String,
      column: String, lo: Option[String], hi: Option[String]): DataFrame = {
    require(lo.nonEmpty || hi.nonEmpty,
      "readPrunedString needs at least one bound")
    readWhere(spark, table,
      resolveSnapshot(spark, table, None, "readPrunedString"),
      strRange((column, lo, hi)))
  }

  /** Prefix file skipping: live rows whose files may contain a value
    * starting with `prefix` — the `LIKE 'prefix%'` accelerator. The
    * admission range is [prefix, successor(prefix)) in UTF-8 byte
    * order, so it is SOUND for every string with that prefix (all of
    * them are ≥ the prefix and < its successor); with no successor
    * the range is unbounded above. */
  def readPrefix(spark: SparkSession, table: String,
      column: String, prefix: String): DataFrame = {
    val c = F.col(column)
    readWhere(spark, table, resolveSnapshot(spark, table, None, "readPrefix"),
      prefixSuccessor(prefix).foldLeft(c >= prefix)((p, succ) => p && c < succ))
  }

  /** The snapshot's data files straight from the FILESYSTEM — the
    * same set a raw-relation init would list, without paying relation
    * construction (schema resolution, footer reads) when the caller
    * only needs NAMES. Matching against sidecar rows (written from
    * `input_file_name()`) must key by [[normPath]] — the two sources
    * render the scheme differently (`file:///x` vs `file:/x`). */
  private[graft] def listSnapshotFiles(spark: SparkSession, table: String,
      snap: Snapshot): Seq[String] =
    listRoots(spark, snap.paths.map(p => s"$table/$p")).flatMap(_.files)

  /** One listed read root: a plain file (its own single leaf) or a
    * directory and the parquet files under it. `files` renders a file
    * root as given and walked files as the filesystem names them. */
  private final case class Listed(root: Path, isFile: Boolean,
      leaves: Seq[org.apache.hadoop.fs.FileStatus]) {
    def files: Seq[String] =
      if (isFile) Seq(root.toString) else leaves.map(_.getPath.toString)
  }

  /** The roots that exist, listed in order with one listStatus walk
    * each — the one driver listing behind [[listSnapshotFiles]],
    * [[listSnapshotFilesWithLen]] and [[openListed]]. */
  private def listRoots(spark: SparkSession,
      roots: Seq[String]): Seq[Listed] = {
    lazy val fs = fsFor(spark, roots.head)
    roots.flatMap { r =>
      val root = new Path(r)
      if (!fs.exists(root)) None
      else {
        val st = fs.getFileStatus(root)
        Some(if (st.isFile) Listed(root, isFile = true, Seq(st))
          else Listed(root, isFile = false, walkParquetLeaves(fs, root)))
      }
    }
  }

  /** Recursive parquet listing via plain listStatus — NOT
    * `fs.listFiles(root, recursive=true)`, whose LocatedFileStatus
    * iterator computes block locations per file and costs ~3.5 ms/file
    * on the local filesystem (measured: 17 s for a 5k-file dir vs
    * 0.05 s of raw stats) — a metadata decision must never pay that. */
  private def walkParquet(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] =
    walkParquetLeaves(fs, root).map(_.getPath.toString)

  private def walkParquetStatus(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(String, Long)] =
    walkParquetLeaves(fs, root).map(st => (st.getPath.toString, st.getLen))

  private def walkParquetLeaves(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    var stack = List(root)
    while (stack.nonEmpty) {
      val dir = stack.head
      stack = stack.tail
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) stack ::= st.getPath
        else if (st.getPath.getName.endsWith(".parquet")) out += st
      }
    }
    out.result()
  }

  /** [[listSnapshotFiles]] keeping each file's LENGTH from the same
    * listStatus pass — what the native V2 batch scan sizes its input
    * partitions (and its reported statistics) from without a second
    * round of per-file RPCs. */
  private[graft] def listSnapshotFilesWithLen(spark: SparkSession,
      table: String, snap: Snapshot): Seq[(String, Long)] =
    listRoots(spark, snap.paths.map(p => s"$table/$p"))
      .flatMap(l => l.files.zip(l.leaves.map(_.getLen)))

  private def normPath(f: String): String = new Path(f).toUri.getPath

  /** Conjunctive file skipping across BOTH envelope families in ONE
    * decision: numeric ranges against the `stats_v` sidecar, string
    * ranges (inclusive) against `strstats_v` — a file survives only
    * if EVERY predicate's envelope admits it. Each range degrades on
    * its own (missing sidecar / predated column ⇒ that range admits
    * everything), so the combined read is always sound and at least
    * as tight as any range alone — the
    * `day BETWEEN '2024-01-01' AND '2024-01-07' AND value > x` shape
    * a time-series lakehouse probes constantly. */
  def readPrunedMixed(spark: SparkSession, table: String,
      numRanges: Seq[(String, Double, Double)],
      strRanges: Seq[(String, Option[String], Option[String])],
      version: Option[Long] = None): DataFrame = {
    require(numRanges.nonEmpty || strRanges.nonEmpty,
      "readPrunedMixed needs at least one range")
    require(strRanges.forall(r => r._2.nonEmpty || r._3.nonEmpty),
      "readPrunedMixed: a string range needs at least one bound")
    readWhere(spark, table,
      resolveSnapshot(spark, table, version, "readPrunedMixed"),
      (numRanges.map(numRange) ++ strRanges.map(strRange)).reduce(_ && _))
  }

  /** Predicate-TREE file skipping — the ONE min/max envelope decision:
    * SQL scans, the cube compiler, CoW/MoR deletes, the DSv2 scan and
    * the range faces ([[readPrunedAll]], [[readPrunedString]],
    * [[readPrefix]], [[readPrunedMixed]], which build the equivalent
    * conjunction) all decide here. The predicate is evaluated
    * ABSTRACTLY per file against both sidecar envelope families
    * (numeric `stats_v`, string `strstats_v`): each
    * recognized comparison/equality/IN leaf answers "may this file
    * hold a matching row?" from the file's [min, max] envelope, And/Or
    * compose monotonically (an over-approximation of "∃ matching row"
    * stays one through both connectives), and everything unrecognized
    * — NOT subtrees, UDFs, non-`prunable` columns (the provenance
    * gate, applied per LEAF so it holds inside every disjunct),
    * columns a sidecar predates, files a sidecar misses — admits,
    * conservatively. An OR therefore prunes to the UNION of its
    * disjuncts' file sets: sound because a file survives when ANY
    * disjunct's envelope test admits it. For pure conjunctions the
    * per-leaf evaluation is EQUAL to intersecting bounds first
    * (interval intersection distributes over the leaf tests), and an
    * uncovered column only makes ITS leaf admit — the other
    * conjuncts still prune.
    *
    * Returns Some(admitted files) — the caller still applies the
    * predicate in full, envelopes prune files, never rows — or None
    * when skipping cannot apply at all (no sidecar of either family,
    * or a hive layout, whose leaf-file reads would drop partition
    * columns and whose pruning is partition pruning's job). `listed`
    * is the caller's own [[listSnapshotFiles]] when it has one, so a
    * read lists its snapshot once. */
  private[graft] def admittedFilesFor(spark: SparkSession, table: String,
      snap: Snapshot, pred: Column,
      prunable: String => Boolean = _ => true,
      listed: Option[Seq[String]] = None): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.types.{DataType, StringType, StructType}
    // the NEWEST retained sidecar of each family, not just the
    // snapshot's own version: data files are immutable, so any
    // retained sidecar's rows describe the files it covers exactly,
    // and files it misses simply admit. Without the fallback, ANY
    // commit after the last ANALYZE (a MoR takedown, a tag-less
    // append) silently turned admission off table-wide — measured as
    // a 2-file UPDATE rewriting all 5,000 files because a DELETE had
    // bumped the version past the sidecar.
    val numSide = newestSidecar(spark, table, snap, statsDir)
    val strSide = newestSidecar(spark, table, snap, strStatsDir)
    if (numSide.isEmpty && strSide.isEmpty) return None
    // the file universe comes from the FILESYSTEM, not a relation init
    // (as in [[statsAggregateGrouped]]: at 5k files the relation's footer
    // pass costs seconds; the decision must stay a metadata read)
    val allFiles = listed.getOrElse(listSnapshotFiles(spark, table, snap))
    if (allFiles.exists(f => f.split('/').exists(_.contains("="))))
      return None
    // per-file per-column envelopes keyed by NORMALIZED path (sidecar
    // rows carry input_file_name() renderings, the listing carries
    // URIs). A present entry of None = the file's stats row is NULL
    // (all-NULL column): a comparison/IN leaf can never match there.
    // An absent column or file = not covered: the leaf admits.
    def envOf[T](side: Option[(StructType, Array[org.apache.spark.sql.Row])],
        minSuf: String, maxSuf: String, get: (org.apache.spark.sql.Row, Int) => T)
        : (Set[String], Map[String, Map[String, Option[(T, T)]]]) =
      side match {
        case None => (Set.empty, Map.empty)
        case Some((sch, rows)) =>
          val cols = sch.fieldNames.toSeq.collect {
            case n if n.endsWith(minSuf) => n.dropRight(minSuf.length) }
          val fi = sch.fieldIndex("file")
          val m = rows.map { r =>
            normPath(r.getString(fi)) -> cols.map { c =>
              val mi = sch.fieldIndex(s"$c$minSuf")
              val ma = sch.fieldIndex(s"$c$maxSuf")
              c -> (if (r.isNullAt(mi) || r.isNullAt(ma)) None
                else Some((get(r, mi), get(r, ma))))
            }.toMap
          }.toMap
          (cols.toSet, m)
      }
    val (numCols, numEnv) =
      envOf[Double](numSide, "__min", "__max", (r, i) => r.getDouble(i))
    val (strCols, strEnv) =
      envOf[String](strSide, "__smin", "__smax", (r, i) => r.getString(i))
    // ops: gt/ge/lt/le/eq, attribute on the LEFT (callers flip)
    def leaf(f: String, a: Expression, v: Any, t: DataType,
        op: String): Boolean = attrName(a) match {
      case Some(c) if prunable(c) && numCols.contains(c) &&
          numLit(v).nonEmpty =>
        numEnv.get(f).map(_(c)) match {
          case Some(None) => false // all-NULL column: no row can match
          case Some(Some((mi, ma))) =>
            val x = numLit(v).get
            // strict ops test NON-strictly: envelopes (and the literal)
            // are double-ROUNDED, and rounding is only monotone — for
            // an integral column at ≥2⁵³ a row with col > x can round
            // to ma == x, which a strict `ma > x` would falsely prune
            // (deleteWhere would then silently skip matching rows).
            // `max >= v > x ⇒ round(max) >= round(x)` IS sound; the
            // superset only re-admits boundary files.
            // NaN sorts above every number in Spark (`NaN >= 5` holds),
            // while every Scala comparison with NaN is false: a NaN max
            // (any NaN row in the file) or a NaN literal admits.
            if (ma.isNaN || x.isNaN) true
            else op match {
              case "gt" | "ge" => ma >= x
              case "lt" | "le" => mi <= x
              case _ => mi <= x && x <= ma
            }
          case None => true // file the sidecar misses
        }
      case Some(c) if prunable(c) && strCols.contains(c) &&
          t == StringType && v != null =>
        strEnv.get(f).map(_(c)) match {
          case Some(None) => false
          case Some(Some((mi, ma))) =>
            val x = v.toString
            op match {
              case "gt" => utf8Cmp(ma, x) > 0
              case "ge" => utf8Cmp(ma, x) >= 0
              case "lt" => utf8Cmp(mi, x) < 0
              case "le" => utf8Cmp(mi, x) <= 0
              case _ => utf8Cmp(mi, x) <= 0 && utf8Cmp(ma, x) >= 0
            }
          case None => true
        }
      case _ => true // foreign / uncovered / non-literal: admit
    }
    def inLeaf(f: String, a: Expression, list: Seq[Expression]): Boolean = {
      val lits = list.collect { case Literal(v, t) => (v, t) }
      // any non-literal element ⇒ the leaf is unrecognizable: admit.
      // NULL elements never match a row (three-valued IN), so only
      // the non-null literals decide; an all-NULL list admits nothing.
      if (lits.length != list.length) true
      else lits.filter(_._1 != null)
        .exists { case (v, t) => leaf(f, a, v, t, "eq") }
    }
    def flip(op: String): String = op match {
      case "gt" => "lt"; case "ge" => "le"
      case "lt" => "gt"; case "le" => "ge"; case o => o
    }
    def cmp(f: String, l: Expression, r: Expression, op: String): Boolean =
      (l, r) match {
        case (a, Literal(v, t)) => leaf(f, a, v, t, op)
        case (Literal(v, t), a) => leaf(f, a, v, t, flip(op))
        case _ => true
      }
    def admit(e: Expression, f: String): Boolean = e match {
      case And(l, r) => admit(l, f) && admit(r, f)
      case Or(l, r) => admit(l, f) || admit(r, f)
      case GreaterThan(l, r) => cmp(f, l, r, "gt")
      case GreaterThanOrEqual(l, r) => cmp(f, l, r, "ge")
      case LessThan(l, r) => cmp(f, l, r, "lt")
      case LessThanOrEqual(l, r) => cmp(f, l, r, "le")
      case EqualTo(l, r) => cmp(f, l, r, "eq")
      case In(a, list) => inLeaf(f, a, list)
      // Column-built predicates convert to unresolved calls by name
      case u: UnresolvedFunction if u.nameParts.lengthCompare(1) == 0 =>
        (u.nameParts.head.toLowerCase, u.arguments) match {
          case ("and", Seq(l, r)) => admit(l, f) && admit(r, f)
          case ("or", Seq(l, r)) => admit(l, f) || admit(r, f)
          case (">", Seq(l, r)) => cmp(f, l, r, "gt")
          case (">=", Seq(l, r)) => cmp(f, l, r, "ge")
          case ("<", Seq(l, r)) => cmp(f, l, r, "lt")
          case ("<=", Seq(l, r)) => cmp(f, l, r, "le")
          case ("=" | "==", Seq(l, r)) => cmp(f, l, r, "eq")
          case ("in", a +: rest) if rest.nonEmpty => inLeaf(f, a, rest)
          case _ => true
        }
      case _ => true // NOT, UDFs, LIKE, IS NULL, ...: admit
    }
    val expr = GraftBridge.convertedExpression(pred)
    Some(allFiles.toIndexedSeq.filter(f => admit(expr, normPath(f))))
  }

  /** The pinned snapshot restricted to the files a full predicate
    * TREE admits ([[admittedFilesFor]] — OR and IN prune to unions of
    * per-disjunct file sets); the caller still applies `pred` in
    * full. Returns None when the decision admits EVERY file or cannot
    * apply — the caller keeps its plain read (and whatever routing,
    * e.g. rollup alt-sources, that path enables) rather than paying a
    * rebind that prunes nothing. */
  def readPrunedWhereOpt(spark: SparkSession, table: String, pred: Column,
      version: Option[Long] = None,
      prunable: String => Boolean = _ => true): Option[DataFrame] = {
    val snap = resolveSnapshot(spark, table, version, "readPrunedWhere")
    val all = listSnapshotFiles(spark, table, snap)
    admittedFilesFor(spark, table, snap, predToPhysical(snap, pred), prunable,
        Some(all))
      .filter(keep => keep.isEmpty || keep.size < all.size)
      .map(keep => serveFiles(spark, table, snap, Some(keep)))
  }

  /** The V2-catalog serving core ([[graft.sources.v2.GraftCatalog]]):
    * the pinned snapshot restricted to the predicate-admitted files
    * ([[admittedFilesFor]] tree semantics), DV-masked, under the
    * evolved schema — plus the admitted file list itself, so the
    * caller can report/pin the skipping decision. `pred` of None (or
    * a predicate nothing recognizes) serves the full snapshot. */
  private[graft] def readAdmitted(spark: SparkSession, table: String,
      version: Option[Long], pred: Option[Column])
      : (DataFrame, Seq[String]) = {
    val snap = resolveSnapshot(spark, table, version, "readAdmitted")
    val all = listSnapshotFiles(spark, table, snap)
    val admitted = pred
      .flatMap(p => admittedFilesFor(spark, table, snap,
        predToPhysical(snap, p), listed = Some(all)))
      .getOrElse(all)
    (serveFiles(spark, table, snap,
      Some(admitted).filter(a => a.isEmpty || a.size < all.size)), admitted)
  }

  // ---- native-V2-scan planning surface (graft.sources.v2) -----------
  //
  // The catalog's native Batch scan re-expresses readAdmitted's
  // semantics at FILE grain: admitted parquet files become input
  // partitions, the DV mask becomes per-file position lists applied in
  // the partition reader, and the evolved schema rides as the reader's
  // dataSchema. Everything here is driver metadata — one listing, one
  // sidecar read, one (takedown-sized) DV collect.

  /** Resolve the snapshot a read pins: an explicit retained version,
    * else current. `what` names the calling verb in the errors. */
  private[graft] def resolveSnapshot(spark: SparkSession, table: String,
      version: Option[Long], what: String): Snapshot = version match {
    case Some(v) =>
      require(versions(spark, table).contains(v),
        s"Manifest.$what: $table has no retained version $v (vacuumed?)")
      readSnapshot(spark, table, v)
    case None => currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.$what: $table has no committed snapshot"))
  }

  /** True when the snapshot reads as a hive layout — directory-encoded
    * partition columns that a per-FILE reader would silently drop, so
    * the native scan must fall back to the relation-based path. */
  private[graft] def hiveLayout(spark: SparkSession, table: String,
      snap: Snapshot): Boolean =
    snap.meta.contains(PartitionKey) ||
      listSnapshotFiles(spark, table, snap)
        .exists(f => f.split('/').exists(_.contains("=")))

  /** The snapshot's hive partition COLUMN NAMES, in layout order —
    * the commit metadata when recorded (create/append stamp it), else
    * inferred from one listed file's `k=v` directory segments (every
    * file of a hive snapshot shares the layout). Empty for
    * unpartitioned snapshots. */
  private[graft] def partitionColumnsOf(spark: SparkSession, table: String,
      snap: Snapshot): Seq[String] =
    snap.meta.get(PartitionKey).map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse {
        listSnapshotFiles(spark, table, snap).headOption.map { f =>
          new Path(f).toUri.getPath.split('/').toSeq
            .filter(_.contains("=")).map(_.split("=", 2)(0))
        }.getOrElse(Nil)
      }

  /** The snapshot's COMMITTED (evolved) schema, when one was stamped. */
  private[graft] def committedSchemaOf(snap: Snapshot)
      : Option[org.apache.spark.sql.types.StructType] =
    snap.meta.get(SchemaKey).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The DV `file` key of an absolute path — the same anchoring rule
    * as [[selectWithPos]], so writer and native reader agree on the
    * key whatever the FS renders before the version dir. */
  private[graft] def relFileKey(abs: String): String =
    """(_v\d{8}-[0-9a-f]{8}/.+)$""".r.findFirstIn(abs)
      .getOrElse(abs.substring(abs.lastIndexOf('/') + 1))

  /** MoR delete-vector positions restricted to `files`, keyed by the
    * manifest-relative file key, each list SORTED — the shape a
    * positional partition reader consumes. Empty for DV-less
    * snapshots; the collect is takedown-sized by the DV discipline. */
  private[graft] def dvPositionsFor(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[String]): Map[String, Array[Long]] =
    dvFrame(spark, table, snap) match {
      case None => Map.empty
      case Some(dv) =>
        // push the probed-file restriction INTO the DV parquet read
        // (isInCollection → an In/InSet the scan evaluates, and — for
        // small key sets — a pushed parquet filter), so only the
        // probed files' positions ever reach the driver instead of
        // the whole vector being collected and filtered here.
        val keys = files.map(f => relFileKey(normPath(f))).toSet
        dv.select("file", "pos")
          .where(F.col("file").isInCollection(keys))
          .collect().toSeq
          .groupBy(_.getString(0))
          .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted.toArray }
    }

  /** Columns with an envelope sidecar of either family for this
    * snapshot — the attributes on which runtime (DPP-style) filters
    * can actually narrow the admitted file set. */
  private[graft] def envelopeColumns(spark: SparkSession, table: String,
      snap: Snapshot): Set[String] = {
    def cols(dirFor: (String, Long) => Path, suf: String): Seq[String] =
      newestSidecar(spark, table, snap, dirFor)
        .map(_._1.fieldNames.toSeq.collect {
          case f if f.endsWith(suf) => f.dropRight(suf.length)
        }).getOrElse(Nil)
    (cols(statsDir, "__min") ++ cols(strStatsDir, "__smin")).toSet
  }

  /** Exact RAW row count (pre-DV) of `files` from the numeric
    * sidecar's per-file `cnt`, when every file is covered — the
    * statistics a scan reports to Spark's CBO without opening a
    * footer. None when any file is uncovered. */
  private[graft] def sidecarRawRowCount(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[String]): Option[Long] =
    newestSidecar(spark, table, snap, statsDir).flatMap {
      case (sch, rows) =>
        sch.fieldNames.find(_.endsWith("__cnt")).flatMap { cf =>
          val fi = sch.fieldIndex("file")
          val ci = sch.fieldIndex(cf)
          val m = rows.iterator.filterNot(_.isNullAt(ci))
            .map(r => normPath(r.getString(fi)) -> r.getDouble(ci)).toMap
          val want = files.map(normPath)
          if (want.forall(m.contains)) Some(want.map(m).sum.toLong)
          else None
        }
    }

  /** COPY-ON-WRITE group replacement for the SQL row-level operations
    * ([[graft.sources.v2.GraftRowLevelOperation]]): drop `replaced`
    * (absolute file paths of the PINNED snapshot `snap`), carry every
    * other file of the dirtied entries as per-file entries (the
    * [[deleteWhere]] discipline), keep clean entries verbatim, append
    * `newRels`, and commit ONE version at `expected = snap.version` —
    * a snapshot that moved underneath fails the rename loudly.
    * Metadata (DV dirs, schema, partitioning) inherits: untouched
    * files keep their masks; a replaced file's now-dangling vector
    * entries match nothing (and fold away at the next maintenance). */
  private[graft] def commitReplaceFiles(spark: SparkSession, table: String,
      snap: Snapshot, replaced: Seq[String], newRels: Seq[String],
      op: String): Snapshot = {
    val fs = fsFor(spark, table)
    def norm(f: String) = new Path(f).toUri.getPath
    val tableAbs = norm(fs.makeQualified(new Path(table)).toString)
    def relOf(f: String) = norm(f).stripPrefix(tableAbs).stripPrefix("/")
    val allFiles = listSnapshotFiles(spark, table, snap).map(norm)
    val replacedSet = replaced.map(norm).toSet
    val unknown = replacedSet -- allFiles.toSet
    require(unknown.isEmpty,
      s"Manifest.commitReplaceFiles: ${unknown.size} replaced files are " +
        s"not in $table@v${snap.version} — the scan and commit disagree " +
        s"on the snapshot (first: ${unknown.headOption.getOrElse("")})")
    val entryFor = prefixResolver(snap.paths)
    val filesUnder = allFiles.groupBy(f => entryFor(relOf(f)).getOrElse(
      sys.error(s"Manifest.commitReplaceFiles: $f outside the snapshot")))
    val (dirty, clean) = snap.paths.partition(p =>
      filesUnder.getOrElse(p, Seq.empty).exists(replacedSet))
    val carried = dirty.flatMap(p =>
      filesUnder(p).filterNot(replacedSet).map(relOf))
    val keep = clean ++ carried ++ newRels
    require(keep.nonEmpty,
      s"Manifest.commitReplaceFiles: the rewrite removed every row of " +
        s"$table — a snapshot cannot be empty; drop the table instead")
    commit(spark, table, snap.version, keep, withOp(snap.meta, op))
  }

  // ---- sidecar lookups of the stats serve ---------------------------

  private type StatsPer =
    Seq[(Long, Option[Double], Option[Double], Option[Double])]

  /** The given FAMILY's sidecar at the snapshot's own version, else
    * the newest retained one (the buildSidecar reuse rule) — sound for
    * any per-file consumer because data files are immutable: rows,
    * filtered by the caller to the files the snapshot lists, describe
    * covered files exactly, so a pre-append sidecar serves its covered
    * files and the append degrades conservatively (the stats serve
    * scans it as the delta). */
  private def newestSidecar(spark: SparkSession, table: String,
      snap: Snapshot, dirFor: (String, Long) => Path)
      : Option[(org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row])] = {
    val fs = fsFor(spark, table)
    Some(snap.version)
      .filter(v => fs.exists(dirFor(table, v)))
      .orElse(versions(spark, table)
        .filter(v => fs.exists(dirFor(table, v))).lastOption)
      .flatMap(v => sidecarRows(spark, dirFor(table, v)))
  }

  private def statsCovers(sch: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): Boolean =
    cols.flatMap(c => Seq(s"${c}__min", s"${c}__max", s"${c}__cnt",
      s"${c}__nn", s"${c}__sum")).forall(sch.fieldNames.contains)

  /** Total bytes of a snapshot's data (driver-side metadata listing). */
  // ---- tags: named immutable snapshot refs --------------------------

  private def tagsDir(table: String) = new Path(s"$table/_manifest/tags")
  private def tagFile(table: String, name: String) =
    new Path(s"$table/_manifest/tags/$name.tag")
  private val TagFileName = """^(.+)\.tag$""".r
  private val TagNamePattern = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}"

  /** Pin a retained snapshot under an immutable NAME — the release
    * face every training corpus needs ("corpus-v1.0" is a tag, not a
    * version number someone wrote on a wiki). A tag is one
    * create-exclusive file under `_manifest/tags/` (tmp + rename, so
    * racing taggers serialize and the loser fails loudly); it never
    * moves — re-pointing a release is a [[deleteTag]] + retag, visible
    * in the filesystem's mtimes rather than silent. [[vacuum]] RETAINS
    * tagged versions — manifest, data, sidecars and delete vectors —
    * however far past the keep-N window they fall, so a pinned
    * training run can always re-read its exact corpus. Returns the
    * pinned version. */
  def tag(spark: SparkSession, table: String, name: String,
      version: Long = -1L, note: Option[String] = None): Long = {
    require(name.matches(TagNamePattern),
      s"Manifest.tag: '$name' — tag names are [A-Za-z0-9][A-Za-z0-9._-]*, " +
        "max 128 chars")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"Manifest.tag: $table has no committed snapshot")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v),
      s"Manifest.tag: $table has no retained version $v (vacuumed?)")
    val fs = fsFor(spark, table)
    fs.mkdirs(tagsDir(table))
    val target = tagFile(table, name)
    if (fs.exists(target)) sys.error(
      s"Manifest.tag: tag '$name' already exists on $table — tags are " +
        "immutable; deleteTag first to re-point a release")
    val tmp = new Path(s"$table/_manifest/tags/.tmp-${java.util.UUID.randomUUID()}")
    val lines = Seq(s"#created_at=${System.currentTimeMillis()}") ++
      note.map(n => s"#note=${n.replaceAll("[\\n\\r]", " ")}") ++ Seq(v.toString)
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      sys.error(s"Manifest.tag: rename to $target failed — a concurrent " +
        s"tag '$name' won; nothing written")
    }
    // validate AFTER the rename: a concurrent vacuum that snapshotted
    // the tag set before this tag landed may have reclaimed v's
    // manifest anyway — without this check the tag would dangle
    // silently (tagVersion succeeds, readTag fails). Vacuum re-reads
    // tags AFTER deleting manifests (restoring any newly-pinned one
    // from held bytes), so the two sides interlock: rename-then-check
    // here, delete-then-recheck there — whichever ran second sees the
    // other's write, and every interleaving either retains the
    // version or fails this tagger loudly.
    if (!fs.exists(manifestFile(table, v))) {
      fs.delete(target, false)
      sys.error(s"Manifest.tag: version $v of $table was vacuumed " +
        "concurrently — the tag would dangle; nothing pinned")
    }
    v
  }

  /** All tags: name → pinned version. */
  def tags(spark: SparkSession, table: String): Map[String, Long] = {
    val fs = fsFor(spark, table)
    val dir = tagsDir(table)
    if (!fs.exists(dir)) return Map.empty
    // tolerant of a tag file vanishing between listStatus and open —
    // a concurrent deleteTag (or tag()'s own dangling-rollback delete)
    // is legitimate churn, not a reason for the lister (vacuum, most
    // critically) to abort: a vanished tag simply isn't a tag.
    fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case TagFileName(name) if !name.startsWith(".") =>
        tagVersionOpt(spark, table, name).map(name -> _)
    }.flatten.toMap
  }

  private[graft] def tagVersionOpt(spark: SparkSession, table: String,
      name: String): Option[Long] = {
    val fs = fsFor(spark, table)
    val f = tagFile(table, name)
    val in = try fs.open(f) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toString("UTF-8")
    } finally in.close()
    Some(text.split('\n').map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .headOption.map(_.toLong).getOrElse(
        sys.error(s"Manifest.tagVersion: tag file $f carries no version")))
  }

  def tagVersion(spark: SparkSession, table: String, name: String): Long =
    tagVersionOpt(spark, table, name).getOrElse(
      sys.error(s"Manifest.tagVersion: no tag '$name' on $table"))

  /** Read the snapshot a tag pins — [[readVersion]] by name. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    readVersion(spark, table, tagVersion(spark, table, name))

  /** Drop a tag — the pinned version becomes vacuum-eligible again
    * (it is NOT reclaimed here; the next [[vacuum]] decides). */
  def deleteTag(spark: SparkSession, table: String, name: String): Unit = {
    val fs = fsFor(spark, table)
    require(fs.delete(tagFile(table, name), false),
      s"Manifest.deleteTag: no tag '$name' on $table")
  }

  def snapshotBytes(spark: SparkSession, table: String, snap: Snapshot): Long = {
    val fs = fsFor(spark, table)
    snap.paths.map(p => fs.getContentSummary(new Path(s"$table/$p")).getLength).sum
  }

  /** Compact the current snapshot into ⌈bytes / targetBytes⌉ files —
    * the manifest-protocol replacement for the rename-swap compaction:
    * write the folded data as the NEXT version, then one atomic
    * manifest commit. Readers mid-flight keep their pinned snapshot;
    * new readers see the compacted one; a crash at any point leaves
    * either the old current (data written, commit missing — reclaimed
    * next run) or the new one (committed). Old versions stay for
    * pinned readers until [[vacuum]]. */
  def compact(spark: SparkSession, table: String, targetBytes: Long,
      sortBy: Option[Column] = None): Snapshot = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.compact: $table has no committed snapshot"))
    val totalBytes = snapshotBytes(spark, table, snap)
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = readSnapshotData(spark, table, snap)
    val laid = sortBy match {
      case Some(c) => df.repartitionByRange(nFiles, c).sortWithinPartitions(c)
      case None => df.coalesce(nFiles)
    }
    // a hive-partitioned table stays partitioned through compaction —
    // the layout is recorded as commit metadata at create/append time,
    // since nothing else remembers it and silently flattening would
    // destroy partition pruning for every later reader
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val rel = writeData(spark, table, snap.version + 1, laid, parts)
    // carry the metadata forward (see commitAppend) — minus the delete
    // vectors AND the column mapping, which this rewrite just folded
    // into the data (the compacted files carry LOGICAL names; the
    // committed read schema restamps to match them)
    val restamped =
      if (snap.meta.contains(SchemaKey)) Map(SchemaKey -> df.schema.json)
      else Map.empty[String, String]
    commit(spark, table, snap.version, Seq(rel),
      withOp(snap.meta, "compact") - DvKey - ColumnMapKey ++ restamped)
  }

  /** HIVE→MANIFEST conversion: rewrite a hive-partitioned manifested
    * table into the FLAT manifested layout — the directory-encoded
    * partition columns become ordinary DATA columns in the rewritten
    * files (they were already columns of every read; conversion just
    * stores them) — unlocking everything the hive layout refuses:
    * additive schema evolution, column mapping (RENAME/DROP COLUMN),
    * MoR delete-vector masking on the native scan path, and
    * envelope/Bloom sidecar serving over ALL columns (the old
    * partition key's values are now real per-file stats, so `GROUP BY
    * key` keeps its zero-data-file serve through the file-constant
    * rule once analyzed). ONE atomic rewrite commit (op `convert`);
    * the original hive directories stay UNTOUCHED on disk, referenced
    * by the retained pre-conversion snapshots — pinned readers and
    * time travel serve through them until [[vacuum]]'s retention
    * reclaims the old versions. `sortBy` re-clusters the flat layout
    * (default: the old partition columns, so pruning power carries
    * over); sizing follows [[compact]]'s targetBytes rule. */
  def convert(spark: SparkSession, table: String,
      sortBy: Option[Column] = None,
      targetBytes: Long = 1L << 30): Snapshot = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.convert: $table has no committed snapshot"))
    require(hiveLayout(spark, table, snap),
      s"Manifest.convert: $table is not hive-partitioned — flat " +
        "manifested tables already have evolution/mapping/DV/sidecar " +
        "support; nothing to convert")
    val df = readSnapshotData(spark, table, snap)
    val parts = snap.meta.get(PartitionKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val totalBytes = snapshotBytes(spark, table, snap)
    val nFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    val cluster: Option[Column] = sortBy.orElse(
      parts.headOption.map(_ => F.struct(parts.map(F.col): _*)))
    val laid = cluster match {
      case Some(c) => df.repartitionByRange(nFiles, c).sortWithinPartitions(c)
      case None => df.coalesce(nFiles)
    }
    val rel = writeData(spark, table, snap.version + 1, laid, Nil)
    // PartitionKey dies with the layout; DVs fold into the rewrite
    // (readSnapshotData already masked them)
    commit(spark, table, snap.version, Seq(rel),
      withOp(snap.meta - PartitionKey - DvKey, "convert"))
  }

  /** Retention: drop every snapshot except the newest `keep`, any
    * version [[tag]]ged by name, and (when `retainMs > 0`) any version
    * committed within the last `retainMs` — delete their manifests
    * first (so no reader can newly pin them), then any version data
    * directory no surviving manifest references. Root files from an
    * [[adopt]]-ed v1 are removed once v1 is dropped. Never touches the
    * current version; idempotent. The age window is the
    * expire-snapshots discipline: a reader lease of `retainMs` means
    * no pinned read outlives its snapshot whatever the commit rate,
    * where a bare keep-N is only safe if commits are slower than
    * reads. */
  def vacuum(spark: SparkSession, table: String, keep: Int = 2,
      retainMs: Long = 0L,
      orphanGraceMs: Long = DefaultOrphanGraceMs): Unit = {
    require(keep >= 1, s"must keep at least the current snapshot, got $keep")
    val fs = fsFor(spark, table)
    val vs = versions(spark, table)
    if (vs.isEmpty) return // plain / never-committed table: documented no-op
    val current = vs.last
    val cutoff = System.currentTimeMillis() - retainMs
    val tagged = tags(spark, table).values.toSet
    def fresh(v: Long): Boolean = retainMs > 0 &&
      readSnapshotMeta(spark, table, v).get("committed_at")
        .exists(_.toLong >= cutoff)
    val keepSet = vs.takeRight(keep).toSet ++ tagged
    val (live0, dead0) = vs.partition(v => keepSet.contains(v) || fresh(v))
    // re-check tags against the computed dead set: a tag() committed
    // after the first tags() read would otherwise have its pinned
    // version reclaimed (the tag dangles). This pre-delete re-read is
    // an optimization (rescue before touching anything); the
    // interlock that actually closes every interleaving is the
    // POST-delete re-read below.
    val lateTags = if (dead0.isEmpty) Set.empty[Long]
      else tags(spark, table).values.toSet -- tagged
    val (rescued, dead1) = dead0.partition(lateTags.contains)
    // hold each dead manifest's raw bytes so a tag that lands between
    // this read and the delete can be honored by RESTORING the
    // manifest verbatim, then delete the manifests ONLY (sidecars and
    // data wait until the rescue decision is final)
    def rawBytes(p: Path): Array[Byte] = {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        out.toByteArray
      } finally in.close()
    }
    val deadBytes = dead1.map(v => v -> rawBytes(manifestFile(table, v))).toMap
    dead1.foreach(v => fs.delete(manifestFile(table, v), false))
    // THIRD tags read, AFTER the manifest deletes — the half of the
    // interlock that makes the pair airtight. tag() renames its tag
    // file BEFORE checking the manifest exists; this read happens
    // AFTER the manifest delete. So for any tagger: if its
    // manifest-exists check preceded our delete (tag succeeded), its
    // rename preceded that check, hence preceded this read — we see
    // the tag and restore the manifest from the held bytes. If its
    // check followed our delete and we hadn't restored yet, it sees
    // the manifest missing, fails loudly, and rolls its tag file
    // back. Either the version is retained or the tagger errors —
    // never a success on both sides with a dangling tag. (A tagger
    // checking inside the delete→restore window fails loudly even
    // though the version ends up retained — conservative, not wrong.)
    val postTags = if (dead1.isEmpty) Set.empty[Long]
      else tags(spark, table).values.toSet
    val (rescued2, dead) = dead1.partition(postTags.contains)
    rescued2.foreach { v =>
      val tmp = new Path(s"$table/_manifest/.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(deadBytes(v)) finally out.close()
      if (!fs.rename(tmp, manifestFile(table, v))) fs.delete(tmp, false)
    }
    val live = (live0 ++ rescued ++ rescued2).sorted
    val deadSnaps = dead.map { v =>
      fs.delete(statsDir(table, v), true) // file-skipping sidecars, if any
      fs.delete(bloomDir(table, v), true)
      fs.delete(strStatsDir(table, v), true)
      val text = new String(deadBytes(v), "UTF-8")
      val lines = text.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      Snapshot(v, lines.filterNot(_.startsWith("#")),
        lines.filter(_.startsWith("#")).flatMap(_.drop(1).split("=", 2) match {
          case Array(k, vv) => Some(k -> vv); case _ => None
        }).toMap)
    }
    val liveSnaps = live.map(readSnapshot(spark, table, _))
    // branch chains keep their entries (and inherited DV dirs) LIVE:
    // a branch references main data dirs it forked over plus its own
    // appended dirs, none of which main's chain may still list
    val branchSnaps = branchSnapshots(spark, table)
    val referenced = (liveSnaps ++ branchSnaps).flatMap(_.paths).toSet
    // delete-vector dirs: live-referenced vectors must survive (their
    // masks are load-bearing for every retained snapshot); everything
    // else under _dv — dead snapshots' vectors, crashed writers'
    // orphans at or below the current version — is reclaimed
    def dvRefs(ss: Seq[Snapshot]) = ss.flatMap(_.meta.get(DvKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)).toSet
    val liveDv = dvRefs(liveSnaps ++ branchSnaps)
    val deadDv = dvRefs(deadSnaps) -- liveDv
    val dvCutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    val dvBase = new Path(s"$table/_dv")
    if (fs.exists(dvBase))
      fs.listStatus(dvBase).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).foreach {
          case n @ DvDirName(v) if v.toLong <= current &&
              !liveDv.contains(s"_dv/$n") &&
              // a dead snapshot's vector is provably unreferenced; a
              // NEVER-referenced dir may be a live deleter mid-write —
              // the writer lease decides (same race as data-dir orphans)
              (deadDv.contains(s"_dv/$n") ||
                maxMtimeUnder(fs, new Path(s"$table/_dv/$n")) < dvCutoff) =>
            fs.delete(new Path(s"$table/_dv/$n"), true)
          case _ => ()
        }
    // an entry is live if a surviving snapshot lists it — or, since
    // [[deleteWhere]] carries per-FILE entries out of older dirs,
    // lists a file INSIDE it: deleting the whole dir would take the
    // CURRENT snapshot's carried files with it. Partially-referenced
    // dirs reclaim only their unreferenced parquet files. Lookup is a
    // sorted-range scan (O(log R) to locate, output-sized to read) —
    // a filter over the referenced set per dead entry is O(D·R),
    // quadratic at the 100k-file manifests ManifestScale measures.
    val refSorted = referenced.toArray.sorted
    def liveUnder(p: String): Set[String] = {
      val pref = p + "/"
      var lo = java.util.Arrays.binarySearch(
        refSorted.asInstanceOf[Array[AnyRef]], pref)
      if (lo < 0) lo = -lo - 1
      val out = Set.newBuilder[String]
      if (referenced.contains(p)) out += p
      var i = lo
      while (i < refSorted.length && refSorted(i).startsWith(pref)) {
        out += refSorted(i); i += 1
      }
      out.result()
    }
    deadSnaps.flatMap(_.paths).distinct.foreach { p =>
      val keep = liveUnder(p)
      if (keep.isEmpty) fs.delete(new Path(s"$table/$p"), true)
      else if (!keep.contains(p)) {
        val root = new Path(s"$table/$p")
        if (fs.exists(root)) {
          val keepAbs = keep.map(k =>
            fs.makeQualified(new Path(s"$table/$k")).toString)
          walkParquet(fs, root).foreach { f =>
            val fp = new Path(f)
            if (!keepAbs.contains(fs.makeQualified(fp).toString))
              fs.delete(fp, false)
          }
        }
      }
    }
    // reclaim ORPHANED data dirs — crashed or race-losing writers'
    // uncommitted uniquely-suffixed directories — but ONLY past the
    // WRITER LEASE ([[DefaultOrphanGraceMs]]): "version at or below
    // current" alone cannot distinguish a crashed writer from a LIVE
    // loser still writing version v while the winner's commit made
    // current == v (deleting under it fails the loser's write job
    // mid-flight — seen under real contention, not hypothetically).
    // Staleness is the dir's RECURSIVE max mtime, so an active job
    // landing task files keeps renewing its own lease.
    val orphanCutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    fs.listStatus(new Path(table)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .foreach {
        case n @ DataDirName(v, _) if v.toLong <= current &&
            liveUnder(n).isEmpty &&
            maxMtimeUnder(fs, new Path(s"$table/$n")) < orphanCutoff =>
          fs.delete(new Path(s"$table/$n"), true)
        case _ => ()
      }
    // ---- dropped-table reclamation: the back half of DROP TABLE ----
    // The tombstone made the table invisible; once it has sat past
    // the retention window (`retainMs` — the same clock that protects
    // pinned pre-drop readers), and no tag still names a release, and
    // no writer lease is live (a race-losing job could still be
    // flushing under an orphan dir), the WHOLE table directory goes.
    // Tags refuse the reclaim rather than silently unpinning a
    // release — delete the tag first if the drop is really meant.
    val curMeta = readSnapshotMeta(spark, table, current)
    if (curMeta.contains(DroppedKey) &&
        curMeta.get("committed_at").exists(_.toLong < cutoff) &&
        tags(spark, table).isEmpty) {
      val busy = fs.listStatus(new Path(table)).exists { st =>
        st.isDirectory && st.getPath.getName != "_manifest" &&
          maxMtimeUnder(fs, st.getPath) > orphanCutoff
      }
      // re-read the chain IMMEDIATELY before the recursive delete:
      // restore is the one verb the commit guard admits on a dropped
      // table, it writes no data files (nothing renews a writer
      // lease), and `current` was resolved at vacuum ENTRY — a restore
      // landing mid-vacuum would otherwise be silently erased
      // (unrecoverable, unlike the tag case which gets a post-delete
      // re-read). A restore advances the chain past `current`; abort
      // the reclaim and leave the table to the restorer.
      if (!busy && versions(spark, table).lastOption.contains(current))
        fs.delete(new Path(table), true)
    }
  }

  // ---- maintenance advisor -------------------------------------------

  /** The DESCRIBE-HEALTH face: a driver-side report of which
    * maintenance verb the table needs NOW, from the same metadata the
    * verbs themselves read — file listing + sizes, delete-vector
    * dirs, sidecar coverage, retained-version count. No data file
    * opens; at 100 TB this is the cron job's first call, so the
    * expensive verbs run only when their trigger actually holds.
    *
    * One row per firing trigger — `(action, reason, metric,
    * threshold)`, empty when the table is healthy:
    *
    *  - `compact` — the current snapshot is fragmented: more than
    *    `maxFiles` data files AND at least half are under
    *    `smallFileBytes` (many healthy-sized files is a big table,
    *    not fragmentation).
    *  - `foldDeletes` — `dvDirThreshold`+ delete-vector dirs ride the
    *    snapshot: every read pays the anti-join against each, and the
    *    statsOnly/changeFeed serve modes stay degraded until folded.
    *  - `analyze` / `analyzeString` / `analyzeBloom` — the family's
    *    sidecar EXISTS (the table opted into that accelerator) but
    *    appends since the last run left more than `staleFraction` of
    *    the current files uncovered, so skips degrade toward full
    *    scans. A table that never analyzed is NOT nagged.
    *  - `vacuum` — more than `keepVersions` retained snapshots:
    *    manifest listing and dead-data reclamation are overdue.
    */
  def adviseMaintenance(spark: SparkSession, table: String,
      smallFileBytes: Long = 32L << 20, maxFiles: Int = 16,
      dvDirThreshold: Int = 2, staleFraction: Double = 0.25,
      keepVersions: Int = 10, maskedFraction: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.{types => T}
    val snap = currentSnapshot(spark, table).getOrElse(
      sys.error(s"Manifest.adviseMaintenance: $table has no committed snapshot"))
    val fs = fsFor(spark, table)
    val advice = Seq.newBuilder[(String, String, Double, Double)]

    // a COLUMN MAPPING (rename/drop) degrades serving until folded:
    // the native SQL scan declines, sidecar stats serving declines,
    // MoR upserts / staging / streams refuse — one compact repays all
    // of it. Metadata-only trigger, fires regardless of file counts.
    if (isMapped(snap))
      advice += (("compact",
        "a column mapping (RENAME/DROP COLUMN) rides the snapshot — " +
          "streams and SQL row-level rewrites refuse until a full " +
          "rewrite folds the mapping into the files (reads, writes, " +
          "skipping, staging, and stats serving all translate)",
        1.0, 0.0))

    val files = listSnapshotFiles(spark, table, snap)
    val fileSet = files.map(normPath).toSet
    val sizes = files.map(f => fs.getFileStatus(new Path(f)).getLen)
    val small = sizes.count(_ < smallFileBytes)
    if (files.size > maxFiles && small * 2 >= files.size)
      advice += (("compact",
        s"$small of ${files.size} data files are under " +
          s"${smallFileBytes >> 20} MiB — reads pay per-file overhead; " +
          "compact (optionally with sortBy to restore clustering)",
        files.size.toDouble, maxFiles.toDouble))

    val dvRels = snap.meta.get(DvKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val dvDirs = dvRels.size
    if (dvDirs >= dvDirThreshold)
      advice += (("foldDeletes",
        s"$dvDirs delete-vector dirs ride the snapshot — every read " +
          "anti-joins each, and metadata serving is degraded until folded",
        dvDirs.toDouble, dvDirThreshold.toDouble))
    else if (dvDirs > 0) {
      // MASK-HEAVY trigger: even ONE vector can hide a large fraction
      // of the table, and a DV-carrying file is read with NO parquet
      // footer pushdown (row-group skipping would break positional
      // masking — the GraftNativeScan rule), so every read pays
      // full-file IO on the masked files until folded. Both sides of
      // the ratio are driver metadata: DV parquet FOOTERS for masked
      // positions, the stats sidecar's per-file `cnt` for the
      // denominator (tables without a sidecar aren't nagged — the
      // fraction can't be measured without opening data files).
      val masked = dvRels.map(d =>
        footerRowCount(spark, new Path(s"$table/$d"))).sum
      newestSidecar(spark, table, snap, statsDir).foreach { case (sch, rows) =>
        // any analyzed column's per-file `<c>__cnt` is the row count
        // (doubles, exact below 2⁵³ — the envelope discipline)
        val cntField = sch.fieldNames.find(_.endsWith("__cnt"))
        if (cntField.nonEmpty && sch.fieldNames.contains("file")) {
          val fi = sch.fieldIndex("file")
          val ci = sch.fieldIndex(cntField.get)
          val covered = rows.filter(r =>
            fileSet.contains(normPath(r.getString(fi))))
          // full coverage required: a stale sidecar undercounts the
          // denominator and would over-fire the advice
          if (covered.map(r => normPath(r.getString(fi))).toSet == fileSet) {
            val total = covered.map(_.getDouble(ci)).sum
            if (total > 0 && masked.toDouble / total > maskedFraction)
              advice += (("foldDeletes",
                f"$masked of ${total.toLong} rows " +
                  f"(${100.0 * masked / total}%.1f%%) are masked behind " +
                  "delete vectors — DV-carrying files lose parquet footer " +
                  "pushdown on every read; folding repays that " +
                  "full-file IO",
                masked.toDouble / total, maskedFraction))
          }
        }
      }
    }

    // sidecar staleness per family: only families the table opted into
    def staleness(dirFor: (String, Long) => Path, what: String): Unit = {
      val newest = versions(spark, table)
        .filter(v => fs.exists(dirFor(table, v))).lastOption
      newest.flatMap(v => sidecarRows(spark, dirFor(table, v))).foreach {
        case (sch, rows) =>
          val fi = sch.fieldIndex("file")
          val covered = rows.map(r => normPath(r.getString(fi))).toSet
          val uncovered = fileSet.count(f => !covered.contains(f))
          if (files.nonEmpty && uncovered.toDouble / files.size > staleFraction)
            advice += ((what,
              s"$uncovered of ${files.size} current files predate the " +
                s"newest sidecar — file skipping degrades toward full " +
                "scans; re-run (incremental: only the new files scan)",
              uncovered.toDouble / files.size, staleFraction))
      }
    }
    staleness(statsDir, "analyze")
    staleness(strStatsDir, "analyzeString")
    staleness(bloomDir, "analyzeBloom")

    val retained = versions(spark, table).size
    if (retained > keepVersions)
      advice += (("vacuum",
        s"$retained retained snapshots — manifest listings and dead " +
          "data-dir reclamation are overdue (tags are always retained)",
        retained.toDouble, keepVersions.toDouble))

    val schema = T.StructType(Seq(
      T.StructField("action", T.StringType, nullable = false),
      T.StructField("reason", T.StringType, nullable = false),
      T.StructField("metric", T.DoubleType, nullable = false),
      T.StructField("threshold", T.DoubleType, nullable = false)))
    val rows = advice.result().map(org.apache.spark.sql.Row.fromTuple)
    spark.createDataFrame(new java.util.ArrayList(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }
}
