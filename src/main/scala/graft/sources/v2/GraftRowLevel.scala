package graft.sources.v2

import graft.sources.{Manifest, SerializedHadoopConf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / predicate-shaped `DELETE` on catalog
  * tables — group-based COPY-ON-WRITE through Spark's row-level
  * operation framework (`RewriteUpdateTable` / `RewriteMergeIntoTable`
  * / `RewriteDeleteFromTable` build the replacement query; this
  * module supplies the two connector halves):
  *
  *  - '''the scan''' ([[GraftCowScan]]): the pinned snapshot's files,
  *    admitted by the command's pushed predicate tree through the
  *    envelope sidecars — an `UPDATE … WHERE day = X` on a
  *    range-clustered table rewrites the files that MIGHT hold day X,
  *    not the table — DV-masked per file, deterministic (no runtime
  *    narrowing: the write must replace exactly the scanned group
  *    set, so the set is a pure function of snapshot + predicate);
  *  - '''the write''' ([[GraftReplaceBatchWrite]]): executors stream
  *    the replacement rows straight into the next version's data
  *    directory through Spark's own parquet OutputWriter (no staging,
  *    no driver collect), and the driver commit drops the scanned
  *    files, carries every untouched file verbatim (per-file entries,
  *    the deleteWhere discipline), and lands ONE optimistic-
  *    concurrency commit at the pinned version — a snapshot that
  *    moved underneath fails the rename loudly, never clobbers.
  *
  * The cheap path stays cheap: a `DELETE` whose predicate translates
  * exactly is intercepted by Spark's `OptimizeMetadataOnlyDeleteFromTable`
  * and lands as the MoR delete-vector commit ([[GraftTable
  * .deleteWhere]]) — zero files rewritten; only untranslatable
  * predicates (expressions, subqueries) pay this CoW rewrite.
  *
  * Scope: hive-partitioned snapshots refuse (file-grain carry would
  * drop directory-encoded partition columns — their rewrites stay
  * with `Manifest.merge`/`deleteWhere`, which rewrite at directory
  * grain); pinned (AS OF) tables refuse. MoR-masked snapshots are
  * fine: scanned rows arrive masked, so a replaced file's vector
  * folds into the rewrite, and untouched files keep their masks.
  *
  * At 100 TB: admission is the same driver-side sidecar decision as
  * every read; the rewrite's cost is ∝ the admitted group set; the
  * write adds no extra copy of any byte.
  */
private[v2] class GraftRowLevelOperation(val path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  private def spark: SparkSession = SparkSession.active

  /** Pinned ONCE: the scan serves this snapshot and the commit expects
    * exactly this version — the optimistic-concurrency bracket. */
  private[v2] val snap: Manifest.Snapshot =
    Manifest.resolveSnapshot(spark, path, None, "rowLevelOperation")

  /** Checked at EXECUTION, not analysis: Spark builds the row-level
    * plan for every DELETE on such tables and only later swaps
    * translatable ones to the metadata-only (MoR) path — an eager
    * refusal here would take hive tables' working MoR deletes down
    * with the CoW path they never use. */
  private[v2] def refuseHive(): Unit = {
    require(!Manifest.hiveLayout(spark, path, snap),
      s"graft catalog: SQL $cmd rewrite on hive-partitioned table $path " +
        "is not supported — per-file copy-on-write would drop " +
        "directory-encoded partition columns; use Manifest.merge / " +
        "deleteWhere (directory-grain)")
    // a column-mapped snapshot refuses too: this operation rewrites
    // files under the table's LOGICAL schema while the carried files
    // stay physical — the mixed naming would brick the explicit-schema
    // read; fold the mapping first, then the rewrite path works
    require(!Manifest.isMapped(snap),
      s"graft catalog: SQL $cmd rewrite on column-mapped table $path — " +
        "run CALL <catalog>.system.compact(...) to fold the rename/drop " +
        "mapping, then retry (Manifest.deleteWhere/merge also work)")
  }

  private[v2] val tableSchema: StructType = Manifest.readSchema(spark, path,
    snap, Manifest.listSnapshotFiles(spark, path, snap))

  /** The group set the write must replace — recorded by the scan at
    * build time; deterministic given (snapshot, pushed predicates). */
  @volatile private[v2] var scannedFiles: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  /** The `_graft_file` metadata column is REQUIRED for two reasons:
    * provenance (which file a rewritten row came from), and the plan
    * shape — Spark's ReplaceDataExec only projects the rewrite
    * query's wider output (operation int + data + metadata) down to
    * the declared write schema on the metadata-carrying path; the
    * bare path hands the raw row to the writer, which would write
    * the operation int into the first data column. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftFileMetaColumn.name()))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(GraftRowLevelOperation.this,
            info.schema())
      }
    }

  override def description(): String = s"graft-cow-$cmd $path@v${snap.version}"
}

/** Filters are NEVER claimed (the rewrite query re-applies the
  * condition itself); every pushed filter still feeds the driver
  * file-admission decision, where partial translation is sound. */
private[v2] class GraftCowScanBuilder(op: GraftRowLevelOperation)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = op.tableSchema
  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all residual — Spark re-evaluates everything
  }
  override def pushedFilters(): Array[Filter] =
    filters.filter(f => GraftScan.toColumnLoose(f).nonEmpty)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftCowScan(op, required, filters)
}

/** The CoW group scan: envelope admission from the pushed predicate
  * tree, narrowed further by RUNTIME GROUP FILTERING (Spark's
  * RowLevelOperationRuntimeGroupFiltering plants a dynamic IN-filter
  * of the command's MATCHING key values on [[filterAttributes]] —
  * for a MERGE with no pushable target predicate, the difference
  * between rewriting the table and rewriting the matched files). DV
  * positions apply per file; rows are never filtered (the write
  * replaces whole files, so every surviving row of an admitted file
  * must flow through the rewrite).
  *
  * Soundness of the replaced-set handoff: the write replaces
  * [[GraftRowLevelOperation.scannedFiles]], which tracks every
  * narrowing. `filter()` runs when the scan's stage executes, before
  * its partitions plan, so the rows that flowed and the set the
  * commit drops always describe the same files. A stage the engine
  * proves empty WITHOUT running the scan can only arise when no
  * group matches (empty MERGE source, group filter matching
  * nothing) — there the recorded set's rows all re-flow or the set
  * is already narrowed to ∅, never a silent drop. */
private[v2] class GraftCowScan(op: GraftRowLevelOperation,
    required: StructType, allFilters: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private def spark: SparkSession = SparkSession.active
  private val path = op.path

  private val filesWithLen: Seq[(String, Long)] =
    Manifest.listSnapshotFilesWithLen(spark, path, op.snap)
  private val sizeOf: Map[String, Long] = filesWithLen.toMap

  private val staticPred =
    allFilters.flatMap(GraftScan.toColumnLoose).reduceOption(_ && _)

  @volatile private var admitted: Seq[String] = {
    val a = staticPred
      .flatMap(p => Manifest.admittedFilesFor(spark, path, op.snap, p))
      .getOrElse(filesWithLen.map(_._1))
    op.scannedFiles = Some(a)
    a
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val covered = Manifest.envelopeColumns(spark, path, op.snap)
    required.fieldNames.filter(covered.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val runtime = filters.flatMap(GraftScan.toColumnLoose).toSeq
    if (runtime.nonEmpty) {
      val pred = (staticPred.toSeq ++ runtime).reduce(_ && _)
      Manifest.admittedFilesFor(spark, path, op.snap, pred).foreach { rt =>
        admitted = rt
        op.scannedFiles = Some(rt)
      }
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${op.description()} groups=${admitted.size}/${filesWithLen.size}"

  override def estimateStatistics(): Statistics = {
    val bytes = admitted.iterator.map(f => sizeOf.getOrElse(f, 0L)).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    op.refuseHive()
    GraftScanInfo.record(path, admitted)
    val dv = Manifest.dvPositionsFor(spark, path, op.snap, admitted)
    admitted.iterator.map { f =>
      val key = Manifest.relFileKey(
        new org.apache.hadoop.fs.Path(f).toUri.getPath)
      GraftFilePartition(f, 0L, sizeOf.getOrElse(f, 0L),
        dv.getOrElse(key, Array.empty)): InputPartition
    }.toArray
  }

  /** Shares the native factory — parquet fields from the file, the
    * `_graft_file` metadata column (which the rewrite REQUIRES)
    * synthesized per partition — with NO filters of any kind: the
    * write replaces whole files, so every surviving row of an
    * admitted file must flow through the rewrite. A footer filter
    * (row-group skip) or row-level re-check here would silently DROP
    * the admitted files' non-matching rows from the replacement.
    * Pushed predicates prune at exactly one grain: files. */
  override def createReaderFactory(): PartitionReaderFactory = {
    GraftNativeScan.readerFactory(spark, op.snap, required,
      Array.empty, op.tableSchema)
  }
}

private[v2] case class GraftWriteMessage(files: Seq[String], rows: Long)
    extends WriterCommitMessage

/** The replacement write: executors land parquet directly in the next
  * version's (invisible) data directory; the driver commit swaps the
  * scanned group set for the written files in one optimistic commit.
  * The manifest entries are PER-FILE — exactly the task-committed
  * names — never the directory: a zombie or speculative attempt that
  * flushes its part file after the stray sweep (even after the
  * manifest rename) can then never become visible to a reader, the
  * same per-file carry discipline the commit uses for untouched
  * files. The sweep still runs, but only to reclaim garbage bytes. */
private[v2] class GraftReplaceBatchWrite(op: GraftRowLevelOperation,
    writeSchema: StructType) extends BatchWrite {
  private def spark: SparkSession = SparkSession.active
  private val table = op.path
  private val rel = Manifest.dataDirName(op.snap.version + 1) + "-" +
    java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, writeSchema)
    // prepareWrite configured the job conf (write support, schema,
    // compression) — THAT conf must reach the executors
    GraftParquetWriterFactory(s"$table/$rel", owf,
      new SerializedHadoopConf(job.getConfiguration), writeSchema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftWriteMessage => m }
    val keepNames = msgs.flatMap(_.files).toSet
    val rows = msgs.map(_.rows).sum
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(s"$table/$rel")
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        if (!keepNames.contains(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
    val newRels =
      if (rows > 0L && keepNames.nonEmpty)
        keepNames.toSeq.sorted.map(n => s"$rel/$n")
      else { fs.delete(dir, true); Nil }
    val replaced = op.scannedFiles.getOrElse(sys.error(
      "graft catalog: row-level write committed before its scan planned — " +
        "cannot determine the replaced group set"))
    Manifest.commitReplaceFiles(spark, table, op.snap, replaced, newRels,
      op.command().toString.toLowerCase)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$table/$rel"), true)
  }
}

/** Executor-side parquet writing through Spark's own OutputWriter —
  * the FileFormatWriter dance without the committer (the target dir
  * is invisible until the manifest commit, so files write to their
  * final names; stray attempts are reconciled at commit). */
private[v2] case class GraftParquetWriterFactory(dir: String,
    owf: OutputWriterFactory, conf: SerializedHadoopConf,
    schema: StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    new DataWriter[InternalRow] {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
      import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

      private var writer: org.apache.spark.sql.execution.datasources
        .OutputWriter = _
      private var file: String = _
      private var n = 0L

      private def ensure(): Unit = if (writer == null) {
        val ctx = new TaskAttemptContextImpl(conf.value,
          new TaskAttemptID(new TaskID(new JobID("graft", 0),
            TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
        val ext = owf.getFileExtension(ctx)
        file = f"$dir/part-$partitionId%05d-" +
          java.util.UUID.randomUUID().toString.take(8) + ext
        writer = owf.newInstance(file, schema, ctx)
      }

      override def write(row: InternalRow): Unit = {
        ensure(); writer.write(row); n += 1
      }

      /** The metadata-carrying variant ReplaceDataExec drives when
        * the operation requires metadata attributes — the replaced
        * row's provenance is not persisted (the manifest commit
        * carries the file-level story), only the data row lands. */
      override def write(metadata: InternalRow, row: InternalRow): Unit =
        write(row)

      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        // a zero-row task never opened a file: nothing to name
        GraftWriteMessage(
          if (n > 0) Seq(new org.apache.hadoop.fs.Path(file).getName)
          else {
            if (file != null)
              new org.apache.hadoop.fs.Path(file)
                .getFileSystem(conf.value)
                .delete(new org.apache.hadoop.fs.Path(file), false)
            Nil
          }, n)
      }

      override def abort(): Unit = {
        if (writer != null) writer.close()
        if (file != null)
          new org.apache.hadoop.fs.Path(file).getFileSystem(conf.value)
            .delete(new org.apache.hadoop.fs.Path(file), false)
      }

      override def close(): Unit = ()
    }
  }
}
