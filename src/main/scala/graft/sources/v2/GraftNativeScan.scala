package graft.sources.v2

import java.util.OptionalLong

import graft.sources.Manifest
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The NATIVE DataSourceV2 batch scan for catalog tables — admitted
  * parquet files become [[InputPartition]]s read through Spark's own
  * parquet reader ([[ParquetFileFormat.buildReaderWithPartitionValues]],
  * vectorized, footer-pushdown, the machinery FileSourceScanExec
  * ships), which buys the three capabilities the one-shot
  * [[org.apache.spark.sql.connector.read.V1Scan]] bridge structurally
  * could not offer:
  *
  *  - '''runtime (DPP-style) filtering''' ([[SupportsRuntimeFiltering]]):
  *    a selective dimension filter in a SQL star join arrives as an IN
  *    set on the join key AFTER physical planning; the scan re-admits
  *    its file list through the same envelope-sidecar tree decision
  *    ([[Manifest.admittedFilesFor]]) and re-plans partitions — at
  *    100 TB, the difference between scanning a day and scanning the
  *    table when the dimension side names that day;
  *  - '''statistics reporting''' ([[SupportsReportStatistics]]): exact
  *    byte size from the snapshot listing and exact row counts from
  *    the envelope sidecar (net of DV masks), so Spark's CBO
  *    broadcasts a small graft table instead of sort-merging it;
  *  - '''per-file DV masking''' without a join: the takedown-sized
  *    delete vectors ship as per-partition sorted position lists and
  *    the reader drops masked row indexes in a single merge pass.
  *
  * Claimed-filter honesty: filters the builder claimed as handled are
  * re-evaluated ROW-LEVEL here by a bound Catalyst predicate
  * ([[GraftNativeScan.boundFilterExpr]]) — parquet footer pushdown
  * alone only skips row groups, and a claimed filter Spark never
  * re-applies must hold exactly. DV-carrying files read with NO
  * parquet filters (row-group skipping would break positional
  * masking) and clean files read with the claimed filters pushed to
  * the footers; both paths then apply the bound predicate and project
  * to the pruned schema.
  *
  * Hive-partitioned snapshots ride the SAME native scan: their
  * directory-encoded partition values are parsed at the driver
  * (`partSchema` names the columns, the table schema types them),
  * shipped per file as [[PartitionedFile.partitionValues]] to Spark's
  * own partition-appending parquet reader, and — the real win — used
  * for DRIVER-SIDE partition-value pruning: any static or RUNTIME
  * filter over partition columns admits files by evaluating the
  * predicate against each file's parsed values, no sidecar needed
  * (the path IS the statistic). Partition columns therefore get
  * runtime (DPP-style) filtering, CBO statistics, and `_graft_file`
  * exactly like data columns.
  */
private[v2] class GraftNativeScan(path: String, pinned: Option[Long],
    snap: Manifest.Snapshot, required: StructType,
    claimed: Array[Filter], allFilters: Array[Filter],
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    partSchema: StructType = new StructType(),
    reportSchema: Option[StructType] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  // COLUMN-MAPPED snapshots ride this scan with every internal name
  // PHYSICAL (required/claimed/allFilters arrive pre-translated by the
  // builder) while `reportSchema` carries the LOGICAL names Spark
  // resolves against — rows are positional, and the translation
  // preserves order and types, so the reader's output IS the reported
  // schema's. Runtime filters arrive under logical names (they resolve
  // against the output) and translate through `toPhysName`.
  private val toPhysName: Map[String, String] = reportSchema
    .map(rs => rs.fieldNames.zip(required.fieldNames).toMap)
    .getOrElse(Map.empty)

  private def spark: SparkSession = SparkSession.active

  private val partNames = partSchema.fieldNames.toSet

  /** Directory-encoded partition values of `file`, parsed into one
    * InternalRow over `schema`'s columns (internal representations via
    * Catalyst Cast from the unescaped path string — the same
    * string→type rule Spark's own partition inference applies).
    * Missing keys and `__HIVE_DEFAULT_PARTITION__` read NULL. */
  private def partValuesFor(file: String,
      schema: StructType): InternalRow = {
    if (schema.isEmpty) return InternalRow.empty
    import org.apache.spark.sql.catalyst.{expressions => CE}
    val kv = new org.apache.hadoop.fs.Path(file).toUri.getPath
      .split('/').filter(_.contains("="))
      .map { s => val a = s.split("=", 2); a(0) -> a(1) }.toMap
    val tz = Some(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    InternalRow.fromSeq(schema.fields.toSeq.map { f =>
      kv.get(f.name).map(org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName) match {
        case None | Some("__HIVE_DEFAULT_PARTITION__") => null
        // TRY eval mode, explicitly: under the session default (ANSI
        // in Spark 4) a malformed directory value — day=notanint for
        // an int partition column — would THROW at planning and fail
        // the whole scan; Spark's own partition inference safe-casts
        // such values to NULL, and this scan must match it
        case Some(raw) => CE.Cast(
          CE.Literal(org.apache.spark.unsafe.types.UTF8String
            .fromString(raw), org.apache.spark.sql.types.StringType),
          f.dataType, tz, CE.EvalMode.TRY).eval(null)
      }
    })
  }

  /** Keep only the files whose parsed partition values satisfy every
    * partition-column-only conjunct of `filters` — driver-side hive
    * pruning from the paths alone. Conjunction-monotone like the
    * envelope decision, so it composes with (and after) it. */
  private def prunePartition(files: Seq[String],
      filters: Seq[Filter]): Seq[String] = {
    if (partSchema.isEmpty) return files
    val partOnly = filters.filter(f =>
      f.references.nonEmpty && f.references.forall(partNames.contains))
    GraftNativeScan.boundFilterExpr(partOnly.toArray, partSchema) match {
      case None => files
      case Some(expr) =>
        val pred = org.apache.spark.sql.catalyst.expressions
          .Predicate.create(expr)
        pred.initialize(0)
        files.filter(f => pred.eval(partValuesFor(f, partSchema)))
    }
  }

  private val filesWithLen: Seq[(String, Long)] =
    Manifest.listSnapshotFilesWithLen(spark, path, snap)
  private val sizeOf: Map[String, Long] = filesWithLen.toMap

  private val staticPred =
    allFilters.flatMap(GraftScan.toColumnLoose).reduceOption(_ && _)

  /** Files admitted by the STATIC predicate tree; narrowed in place by
    * [[filter]] when a runtime filter lands (And only ever shrinks the
    * admitted set — tree admission is conjunction-monotone). */
  @volatile private var admitted: Seq[String] = prunePartition(
    staticPred
      .flatMap(p => Manifest.admittedFilesFor(spark, path, snap, p))
      .getOrElse(filesWithLen.map(_._1)),
    allFilters.toSeq)

  override def readSchema(): StructType = reportSchema.getOrElse(required)

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftStreamFace.toMicroBatchStream(path, pinned, required, options,
      checkpointLocation)

  override def description(): String = {
    val v = pinned.fold("current")(v => s"v$v")
    s"graft-table $path @$v native cols=[${required.fieldNames.mkString(",")}] " +
      s"filters=[${claimed.mkString(", ")}]"
  }

  // ---- SupportsRuntimeFiltering --------------------------------------

  /** Only columns an envelope sidecar covers can narrow the file set —
    * offering anything else would make Spark build and ship a dynamic
    * filter the scan cannot use. Restricted to the scan's OUTPUT
    * columns: Spark resolves these refs against the pruned relation,
    * and a covered-but-unread column would fail that resolution (and
    * a runtime filter can only arrive on a join key, which is always
    * read). */
  override def filterAttributes(): Array[NamedReference] = {
    // envelope-covered columns, plus partition columns — the path is
    // always a complete "statistic" for those. Coverage is checked
    // under PHYSICAL names (sidecars are physical); the offered refs
    // are the OUTPUT (logical) names Spark resolves
    val covered = Manifest.envelopeColumns(spark, path, snap) ++ partNames
    readSchema().fieldNames.zip(required.fieldNames)
      .filter { case (_, p) => covered.contains(p) }
      .map { case (l, _) => Expressions.column(l) }
  }

  override def filter(filters: Array[Filter]): Unit = {
    val filtersP =
      if (toPhysName.isEmpty) filters
      else filters.map(GraftNativeScan.renameFilterRefs(_,
        n => toPhysName.getOrElse(n, n)))
    val runtime = filtersP.flatMap(GraftScan.toColumnLoose).toSeq
    val envelope: Option[Seq[String]] =
      if (runtime.isEmpty) None
      else {
        val pred = (staticPred.toSeq ++ runtime).reduce(_ && _)
        Manifest.admittedFilesFor(spark, path, snap, pred)
      }
    // the envelope decision re-derives from the full list, so re-apply
    // partition pruning over static AND runtime filters on its result
    admitted = prunePartition(envelope.getOrElse(admitted),
      (allFilters ++ filtersP).toSeq)
  }

  // ---- SupportsReportStatistics --------------------------------------

  /** Exact bytes from the pinned listing; exact rows from the sidecar
    * minus the DV mask when the sidecar covers every admitted file.
    * Zero data-file opens either way — at 100 TB this is what lets the
    * CBO see a 2 MB dimension table as broadcastable without a single
    * footer read. */
  override def estimateStatistics(): Statistics = {
    val files = admitted
    val bytes = files.iterator.map(f => sizeOf.getOrElse(f, 0L)).sum
    val rows = Manifest.sidecarRawRowCount(spark, path, snap, files).map {
      raw =>
        val masked = Manifest.dvPositionsFor(spark, path, snap, files)
          .valuesIterator.map(_.length.toLong).sum
        raw - masked
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong =
        rows.fold(OptionalLong.empty())(OptionalLong.of)
    }
  }

  // ---- Batch ----------------------------------------------------------

  /** The partition columns the READER must emit: whatever the output
    * asks for plus whatever the claimed filters re-check. */
  private val partRequired: StructType = StructType(
    partSchema.fields.filter(f =>
      required.fieldNames.contains(f.name) ||
        claimed.exists(_.references.contains(f.name))))

  override def planInputPartitions(): Array[InputPartition] = {
    val files = admitted
    GraftScanInfo.record(path, files)
    val dv = Manifest.dvPositionsFor(spark, path, snap, files)
    val maxBytes =
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    files.iterator.flatMap { f =>
      val len = sizeOf.getOrElse(f, 0L)
      val key = Manifest.relFileKey(
        new org.apache.hadoop.fs.Path(f).toUri.getPath)
      val pv = partValuesFor(f, partRequired)
      dv.get(key) match {
        case Some(positions) =>
          // positional masking needs the WHOLE file in one reader —
          // a split's row index would not start at 0
          Iterator.single(
            GraftFilePartition(f, 0L, len, positions, pv): InputPartition)
        case None =>
          if (len <= maxBytes)
            Iterator.single(
              GraftFilePartition(f, 0L, len, Array.empty, pv)
                : InputPartition)
          else (0L until len by maxBytes).iterator.map(start =>
            GraftFilePartition(f, start, math.min(maxBytes, len - start),
              Array.empty, pv): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftNativeScan.readerFactory(spark, snap, required, claimed,
      Manifest.readSchemaAt(spark, snap, filesWithLen.map(_._1))
        .getOrElse(tableSchema), partRequired)
}

private[v2] object GraftNativeScan {
  import org.apache.spark.sql.catalyst.{expressions => CE}
  import org.apache.spark.sql.{sources => S}

  /** The schema the parquet reader materializes: the pruned output
    * columns PLUS whatever the claimed filters reference — Spark
    * prunes claimed-filter columns out of `required`, but the honest
    * row-level re-check needs them; the reader output is then
    * projected back down to `required` (a prefix, by construction). */
  def readerSchemaFor(required: StructType, claimed: Array[Filter],
      tableSchema: StructType): StructType = {
    val extra = claimed.flatMap(_.references).distinct
      .filterNot(required.fieldNames.contains)
      .filter(tableSchema.fieldNames.contains)
    StructType(required.fields ++ extra.map(tableSchema(_)))
  }

  /** Build the partition-reader factory both catalog scans share:
    * parquet fields come from the file; a requested [[GraftFileMetaColumn]]
    * is synthesized per partition from the file's manifest-relative
    * key; claimed filters are re-checked row-level. `outOrdinals`
    * maps each output position to a parquet ordinal (or -1 for the
    * file-key column). `readSchema` is the snapshot's read schema
    * ([[Manifest.readSchemaAt]]; a hive layout's comes from its
    * relation), partition columns included. */
  def readerFactory(spark: SparkSession, snap: Manifest.Snapshot,
      required: StructType, claimed: Array[Filter],
      readSchema: StructType,
      partRequired: StructType = new StructType())
      : PartitionReaderFactory = {
    val metaName = GraftFileMetaColumn.name()
    val partNames = partRequired.fieldNames.toSet
    val dataRequired = StructType(required.fields.filterNot(f =>
      f.name == metaName || partNames.contains(f.name)))
    // parquet files do NOT hold partition columns — the data schema
    // and the footer-pushed claims must be partition-free; partition
    // refs in a claim are re-checked row-level over the combined row
    val dataSchema = StructType(readSchema.fields
      .filterNot(f => partNames.contains(f.name)))
    val dataClaims = claimed.filter(
      _.references.forall(r => !partNames.contains(r)))
    val readerSchema = readerSchemaFor(dataRequired, claimed, dataSchema)
    // the reader emits data columns first, then the partition columns
    // appended from PartitionedFile.partitionValues
    val combined = StructType(readerSchema.fields ++ partRequired.fields)
    var next = -1
    val outOrdinals: Array[Int] = required.fields.map { f =>
      if (f.name == metaName) -1
      else if (partNames.contains(f.name))
        readerSchema.length + partRequired.fieldNames.indexOf(f.name)
      else { next += 1; next }
    }
    val fmt = new ParquetFileFormat()
    val opts = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val hc = spark.sessionState.newHadoopConf()
    val filtered = fmt.buildReaderWithPartitionValues(spark, dataSchema,
      partRequired, readerSchema, dataClaims.toIndexedSeq, opts, hc)
    val plain =
      if (snap.meta.contains(Manifest.DvKey))
        fmt.buildReaderWithPartitionValues(spark, dataSchema,
          partRequired, readerSchema, Nil, opts, hc)
      else filtered
    GraftNativeReaderFactory(filtered, plain,
      boundFilterExpr(claimed, combined), combined, outOrdinals)
  }

  /** True when every claimed filter can be re-evaluated natively —
    * all referenced columns are top-level table fields and the shape
    * is in [[boundFilterExpr]]'s vocabulary. The builder only routes
    * to the native scan when this holds (else the V1 bridge, which
    * applies claims through the inner frame, keeps the table sound). */
  /** Rewrite a v1 Filter tree's TOP-LEVEL attribute references through
    * `m` — the logical→physical translation the column-mapped native
    * scan runs on. Unknown filter shapes pass through untouched: they
    * are not in [[boundFilterExpr]]'s vocabulary either, so a stale
    * name inside one can only make `bindable` refuse (→ the V1
    * bridge), never corrupt a read. Dotted (nested) references are
    * left alone — the mapping is top-level by construction. */
  def renameFilterRefs(f: Filter, m: String => String): Filter = f match {
    case S.EqualTo(a, v) => S.EqualTo(m(a), v)
    case S.EqualNullSafe(a, v) => S.EqualNullSafe(m(a), v)
    case S.GreaterThan(a, v) => S.GreaterThan(m(a), v)
    case S.GreaterThanOrEqual(a, v) => S.GreaterThanOrEqual(m(a), v)
    case S.LessThan(a, v) => S.LessThan(m(a), v)
    case S.LessThanOrEqual(a, v) => S.LessThanOrEqual(m(a), v)
    case S.In(a, vs) => S.In(m(a), vs)
    case S.IsNull(a) => S.IsNull(m(a))
    case S.IsNotNull(a) => S.IsNotNull(m(a))
    case S.StringStartsWith(a, v) => S.StringStartsWith(m(a), v)
    case S.StringEndsWith(a, v) => S.StringEndsWith(m(a), v)
    case S.StringContains(a, v) => S.StringContains(m(a), v)
    case S.And(l, r) => S.And(renameFilterRefs(l, m), renameFilterRefs(r, m))
    case S.Or(l, r) => S.Or(renameFilterRefs(l, m), renameFilterRefs(r, m))
    case S.Not(c) => S.Not(renameFilterRefs(c, m))
    case other => other
  }

  def bindable(claimed: Array[Filter], tableSchema: StructType): Boolean = {
    val names = tableSchema.fieldNames.toSet
    claimed.forall(f => f.references.forall(names.contains)) && {
      val schema = readerSchemaFor(new StructType(), claimed, tableSchema)
      claimed.forall(f => toCatalyst(f, schema).nonEmpty)
    }
  }

  /** The claimed filters as ONE bound, serializable Catalyst predicate
    * over `readerSchema` ordinals — evaluated per row on executors. */
  def boundFilterExpr(claimed: Array[Filter],
      readerSchema: StructType): Option[CE.Expression] =
    claimed.toSeq.flatMap(f => toCatalyst(f, readerSchema))
      .reduceOption(CE.And)

  /** v1 Filter → bound Catalyst expression; the exact vocabulary
    * [[GraftScan.toColumn]] claims, so a claim is always re-checkable.
    * Values convert through `Literal.create` (external → internal
    * representation, e.g. String → UTF8String, java.sql.Date → days). */
  def toCatalyst(f: Filter, schema: StructType): Option[CE.Expression] = {
    def ref(name: String): Option[CE.BoundReference] = {
      val i = schema.fieldNames.indexOf(name)
      if (i < 0) None
      else Some(CE.BoundReference(i, schema(i).dataType, schema(i).nullable))
    }
    def lit(v: Any, dt: org.apache.spark.sql.types.DataType): CE.Expression =
      CE.Literal.create(v, dt)
    def cmp(a: String, v: Any,
        mk: (CE.Expression, CE.Expression) => CE.Expression)
        : Option[CE.Expression] =
      ref(a).map(b => mk(b, lit(v, b.dataType)))
    f match {
      case S.EqualTo(a, v) => cmp(a, v, CE.EqualTo)
      case S.EqualNullSafe(a, v) => cmp(a, v, CE.EqualNullSafe)
      case S.GreaterThan(a, v) => cmp(a, v, CE.GreaterThan)
      case S.GreaterThanOrEqual(a, v) => cmp(a, v, CE.GreaterThanOrEqual)
      case S.LessThan(a, v) => cmp(a, v, CE.LessThan)
      case S.LessThanOrEqual(a, v) => cmp(a, v, CE.LessThanOrEqual)
      case S.In(a, vs) => ref(a).map(b =>
        CE.In(b, vs.toIndexedSeq.map(v => lit(v, b.dataType))))
      case S.IsNull(a) => ref(a).map(CE.IsNull)
      case S.IsNotNull(a) => ref(a).map(CE.IsNotNull)
      case S.StringStartsWith(a, v) => cmp(a, v, CE.StartsWith)
      case S.StringEndsWith(a, v) => cmp(a, v, CE.EndsWith)
      case S.StringContains(a, v) => cmp(a, v, CE.Contains)
      case S.And(l, r) => for {
        a <- toCatalyst(l, schema); b <- toCatalyst(r, schema)
      } yield CE.And(a, b)
      case S.Or(l, r) => for {
        a <- toCatalyst(l, schema); b <- toCatalyst(r, schema)
      } yield CE.Or(a, b)
      case S.Not(c) => toCatalyst(c, schema).map(CE.Not)
      case _ => None
    }
  }
}

/** One admitted parquet file (or a byte-range split of one), plus its
  * sorted MoR-masked row positions (whole-file partitions only) and
  * its directory-encoded partition values (hive layouts; empty
  * otherwise), already converted to internal representations. */
private[v2] case class GraftFilePartition(file: String, start: Long,
    length: Long, dvPositions: Array[Long],
    partValues: InternalRow = InternalRow.empty) extends InputPartition

/** Wraps the driver-built parquet reader function: per partition,
  * read (footer-filtered for clean files, positional for DV files),
  * drop masked positions, re-check the claimed predicate, assemble
  * the output schema (parquet ordinals, -1 = the partition's
  * manifest-relative file key — the `_graft_file` metadata column). */
private[v2] case class GraftNativeReaderFactory(
    filtered: PartitionedFile => Iterator[InternalRow],
    plain: PartitionedFile => Iterator[InternalRow],
    predicate: Option[org.apache.spark.sql.catalyst.expressions.Expression],
    readerSchema: StructType, outOrdinals: Array[Int])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Predicate => CPred, UnsafeProjection}

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val pf = PartitionedFile(p.partValues,
      SparkPath.fromPathString(p.file), p.start, p.length,
      Array.empty[String])
    val masked = p.dvPositions.nonEmpty
    val base = if (masked) plain(pf) else filtered(pf)
    // NO prefetch: the vectorized reader returns ONE mutable row view
    // advanced in place, so the wrapper must not call base.next()
    // until the consumer is done with the previous row — hasNext
    // finds the next live row, next() hands it over untouched.
    val rowsAfterDv: Iterator[InternalRow] =
      if (!masked) base
      else new Iterator[InternalRow] {
        private var pos = -1L
        private var di = 0
        private val dv = p.dvPositions
        private var pending: InternalRow = _
        override def hasNext: Boolean = {
          while (pending == null && base.hasNext) {
            val r = base.next(); pos += 1
            while (di < dv.length && dv(di) < pos) di += 1
            if (di < dv.length && dv(di) == pos) di += 1
            else pending = r
          }
          pending != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending; pending = null; r
        }
      }
    val checked = predicate match {
      case None => rowsAfterDv
      case Some(expr) =>
        val pr = CPred.create(expr)
        pr.initialize(0)
        rowsAfterDv.filter(pr.eval)
    }
    val identity = outOrdinals.length == readerSchema.length &&
      outOrdinals.zipWithIndex.forall { case (o, i) => o == i }
    val out =
      if (identity) checked
      else {
        // assemble output: parquet ordinals straight through, the
        // file-key metadata column (-1) from a constant side row
        val keyRow = InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            Manifest.relFileKey(
              new org.apache.hadoop.fs.Path(p.file).toUri.getPath)))
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        val width = readerSchema.length
        val proj = UnsafeProjection.create(
          outOrdinals.map { o =>
            if (o >= 0) BoundReference(o, readerSchema(o).dataType,
              readerSchema(o).nullable): Expression
            else BoundReference(width,
              org.apache.spark.sql.types.StringType,
              nullable = false): Expression
          })
        checked.map(r => proj(joined(r, keyRow)))
      }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (out.hasNext) { row = out.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** The one streaming face both batch scans share. */
private[v2] object GraftStreamFace {
  def toMicroBatchStream(path: String, pinned: Option[Long],
      required: StructType, options: CaseInsensitiveStringMap,
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinned.isEmpty,
      "graft catalog: a VERSION/TIMESTAMP AS OF table cannot stream — " +
        "a pinned snapshot has no tail; stream the bare table")
    def bool(k: String) = Option(options.get(k))
      .exists(_.trim.equalsIgnoreCase("true"))
    require(!bool("changefeed"),
      "graft catalog: changeFeed widens the schema with CDC columns, " +
        "which a catalog table's fixed schema cannot carry — use " +
        "spark.readStream.format(\"graft-table\").option(\"changeFeed\", " +
        "\"true\") for the row-level feed")
    val sv = Option(options.get("startingversion"))
      .orElse(Option(options.get("startingVersion"))).map(_.trim)
    val latest = sv.exists(_.equalsIgnoreCase("latest"))
    // a NUMBER resumes from that version's commit (the CDC/incremental
    // consumer shape); 1 ≡ the default full-snapshot start
    val startAt = sv.filterNot(_.equalsIgnoreCase("latest")).map { v =>
      v.toLongOption.filter(_ >= 1).getOrElse(throw new
          IllegalArgumentException(
        s"graft catalog: startingVersion='$v' — 'latest' or a version " +
          "number >= 1"))
    }.filter(_ > 1)
    val o = graft.sources.ManifestStream.Opts(path, changeFeed = false,
      ignoreDeletes = bool("ignoredeletes"), startLatest = latest,
      startAt = startAt)
    new graft.sources.ManifestMicroBatchStream(SparkSession.active, o,
      required, checkpointLocation)
  }
}
