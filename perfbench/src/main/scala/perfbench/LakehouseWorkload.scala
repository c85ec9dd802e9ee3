package perfbench

import java.util.SplittableRandom

import graft.exec.{DatabaseRegistry, PlanCache}
import graft.sources.Manifest
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col

/** One generated lakehouse operation. `a`/`b` are key-range bounds or
  * merge/delete windows, `n` a batch size, `t` a cube template. */
final case class LakeOp(i: Int, kind: String, a: Long = 0, b: Long = 0, n: Int = 0, t: Int = 0)

/** `lakehouse_rw`: closed loop, 1 client, on a manifested copy of the
  * sf0.1-shaped lineitem table (adopted from the 8 order-key-clustered
  * files run.py writes) with range and bloom sidecars on the order key.
  * The window runs whole cycles of a fixed 25-op schedule: 16 reads and
  * 9 writes, the fold, compact, re-analyze and vacuum maintenance among
  * them. */
object LakehouseWorkload {
  val Table = "lineitem"
  /** `Manifest.merge` probes at most this many distinct keys at the driver. */
  val ProbeCap = 10000
  val MergeSmall = 2000
  val MergeLarge = 12000
  val MergeWindow = 15000
  val DeleteKeys = 50
  val DeleteWindow = 2000
  val AppendOrders = 500
  val Files = 8

  /** The warm-up ops, then the cycle the window repeats. Every run
    * executes the same kinds and sizes in the same order; the seed draws
    * only their keys and rows. Sizes are range widths in order keys or
    * merge key counts. Merge and delete key windows lie inside one of the
    * table's initial files, so each rewrites one file. */
  val Warmup: Seq[(String, Long)] = Seq("point_read" -> 0L, "append" -> 0L,
    "pruned_read" -> 2000L, "cube" -> 10000L)
  val Cycle: Seq[(String, Long)] = Seq("merge" -> MergeLarge.toLong, "point_read" -> 0L,
    "merge" -> MergeSmall.toLong, "pruned_read" -> 10000L, "read_version" -> 0L,
    "delete" -> 0L, "cube" -> 2000L, "point_read" -> 0L, "delete_mor" -> 0L,
    "stats" -> 10000L, "pruned_read" -> 2000L, "append" -> 0L, "read_version" -> 0L,
    "point_read" -> 0L, "fold" -> 0L, "cube" -> 10000L, "pruned_read" -> 500L,
    "compact" -> 0L, "analyze" -> 0L, "stats" -> 5000L, "read_version" -> 0L, "vacuum" -> 0L,
    "point_read" -> 0L, "cube" -> 20000L, "pruned_read" -> 500L)
  val WarmOps: Int = Warmup.size
  private val KeyedReads = Set("point_read", "pruned_read")
  private val ReadFields = Set("i", "a", "b", "rows", "sum_qty")

  /** The seeded op log, `n` ops of the repeating schedule. */
  def opLog(seed: Long, n: Int): Seq[LakeOp] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val mult = Seq(7L, 11L, 13L, 17L, 19L, 23L)
    val fileKeys = Fixtures.Orders / Files
    /** A window of `w` keys inside one initial file. */
    def window(w: Long): Long = r.nextLong(Files) * fileKeys + r.nextLong(fileKeys - w)
    (0 until n).map { i =>
      val (kind, size) = if (i < WarmOps) Warmup(i) else Cycle((i - WarmOps) % Cycle.size)
      kind match {
        case "point_read" => LakeOp(i, kind, a = r.nextLong(Fixtures.Orders))
        case "pruned_read" | "stats" | "cube" =>
          val a = r.nextLong(Fixtures.Orders - size)
          LakeOp(i, kind, a = a, b = a + size, t = r.nextInt(4))
        case "append" => LakeOp(i, kind, a = 10000000L + i * 10000L, n = AppendOrders)
        case "merge" =>
          LakeOp(i, kind, a = window(MergeWindow), n = size.toInt, b = mult(r.nextInt(mult.size)))
        case "delete" | "delete_mor" =>
          LakeOp(i, kind, a = window(DeleteWindow), n = DeleteKeys, b = mult(r.nextInt(mult.size)))
        case _ => LakeOp(i, kind)
      }
    }
  }

  /** Distinct keys `a + (mult * j + i) mod window`, j < n: `mult` is
    * coprime to the window, so the keys never repeat. */
  private def keys(spark: org.apache.spark.sql.SparkSession, op: LakeOp, window: Long) =
    spark.range(op.n).select((F.lit(op.a) + F.pmod(col("id") * op.b + op.i, F.lit(window)))
      .as("ok"))

  private def deleteKeyValues(op: LakeOp): Seq[Long] =
    (0 until op.n).map(j => op.a + Math.floorMod(j * op.b + op.i, DeleteWindow.toLong))

  /** The rows a write op adds, for the DuckDB model and the write-amp base. */
  def batch(spark: org.apache.spark.sql.SparkSession, seed: Long, op: LakeOp) = op.kind match {
    case "append" =>
      Fixtures.lineitem(spark, seed, 0, op.n, keyOffset = op.a, salt = s"a${op.i}")
    case "merge" =>
      Fixtures.lines(keys(spark, op, MergeWindow), seed, 0L, s"m${op.i}", oneLine = true)
    case _ => keys(spark, op, DeleteWindow).select(col("ok").as("l_orderkey"))
  }

  private def cubeJson(op: LakeOp): Request = {
    val by = Seq("returnFlag" -> "flag", "lineStatus" -> "status",
      "returnFlag" -> "flag", "lineStatus" -> "status")(op.t)
    val metric = Seq("amount", "sumQty", "maxPrice", "count")(op.t)
    Request(-op.i, "lineitem",
      s"""{"cube":"lineitem","args":{"orderKey":{"between":[${op.a},${op.b}]}},"fields":[{"name":"${by._1}","alias":"${by._2}"},{"name":"count","alias":"cnt"},{"name":"$metric","alias":"m"}]}""",
      "", "lakehouse")
  }

  def dirBytes(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length())
    if (root.exists()) walk(root).toMap else Map.empty
  }

  def run(ctx: RunContext): Map[String, Any] = {
    import ctx._
    val log = opLog(seed, 5000)
    val dir = fixtures
    val table = s"$dir/lake/$Table"
    val (_, tableS) = clock {
      Manifest.adopt(spark, table)
      Manifest.analyzeFiles(spark, table, Seq("l_orderkey"))
      Manifest.analyzeFilesBloom(spark, table, Seq("l_orderkey"))
    }
    val registry = DatabaseRegistry.paths(Map("bench" -> dir), "bench")
    val cache = new PlanCache(128)

    val isWrite = Set("append", "merge", "delete", "delete_mor", "fold", "compact", "analyze",
      "vacuum")
    // per-op bookkeeping kept out of the timings
    var opVersions = Vector.empty[(Int, Long)] // (op index, current version after it)
    var seen = dirBytes(table)
    var bytesAdded = 0L
    var filesAdded = 0L
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var fullScans = 0

    /** Row count and quantity sum of a read, which the DuckDB model
      * checks against the table as it was at that op. */
    def materialize(df: org.apache.spark.sql.DataFrame): Map[String, Any] = {
      val r = df.agg(F.count(F.lit(1)), F.sum("l_quantity")).head()
      Map("rows" -> r.getLong(0), "sum_qty" -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
    }

    /** Run one op on `t`; `measured` ops also feed the per-layer counters. */
    def exec(t: String, op: LakeOp, measured: Boolean): Map[String, Any] = {
      def verb[T](body: => T): T = trace.span(s"sources.manifest.${op.kind}")(body)
      op.kind match {
        case "point_read" =>
          verb { val rows = Manifest.readPoint(spark, t, "l_orderkey", op.a)
            .filter(col("l_orderkey") === op.a).collect()
            Map("rows" -> rows.length, "sum_qty" -> rows.map(_.getAs[Double]("l_quantity")).sum,
              "a" -> op.a, "b" -> op.a) }
        case "pruned_read" =>
          val pred = col("l_orderkey").between(op.a, op.b)
          verb {
            val pruned = Manifest.readPrunedWhereOpt(spark, t, pred)
            if (measured && trace.enabled) {
              if (pruned.isEmpty) fullScans += 1
              val total = Manifest.read(spark, t).inputFiles.length
              admitted += ((pruned.map(_.inputFiles.length).getOrElse(total), total))
            }
            materialize(pruned.getOrElse(Manifest.read(spark, t)).filter(pred))
          } ++ Map("a" -> op.a, "b" -> op.b)
        case "stats" =>
          verb { val rows = Manifest.statsAggregateWhere(spark, t, Seq("l_quantity"),
            Seq(("l_orderkey", op.a.toDouble, op.b.toDouble))).collect()
            Map("rows" -> rows.length) }
        case "read_version" =>
          val v = Manifest.versions(spark, t).head
          verb(materialize(Manifest.readVersion(spark, t, v)) + ("version" -> v))
        case "cube" =>
          val req = cubeJson(op)
          val ans =
            if (trace.enabled) CubeExec.executeTraced(spark, registry, req, Some(cache), trace,
              Some(t))
            else CubeExec.execute(spark, registry, req, Some(cache), Some(t))
          Map("rows" -> ans.rows.size)
        case "append" =>
          verb(Manifest.commitAppend(spark, t, batch(spark, seed, op))); Map.empty
        case "merge" =>
          verb(Manifest.merge(spark, t, batch(spark, seed, op), Seq("l_orderkey")))
          Map("over_cap" -> (op.n > ProbeCap))
        case "delete" =>
          verb(Manifest.deleteKeys(spark, t, "l_orderkey", deleteKeyValues(op))); Map.empty
        case "delete_mor" =>
          verb(Manifest.deleteKeysMoR(spark, t, "l_orderkey", deleteKeyValues(op)))
          Map.empty
        case "fold" => verb(Manifest.foldDeletes(spark, t)); Map.empty
        case "compact" =>
          verb(Manifest.compact(spark, t, 4L << 20, Some(col("l_orderkey")))); Map.empty
        case "analyze" =>
          // the compacted files carry no sidecar rows until re-analyzed
          verb {
            Manifest.analyzeFiles(spark, t, Seq("l_orderkey"))
            Manifest.analyzeFilesBloom(spark, t, Seq("l_orderkey"))
          }
          Map.empty
        case "vacuum" => verb(Manifest.vacuum(spark, t, keep = 6)); Map.empty
      }
    }

    opVersions :+= (-1 -> Manifest.versions(spark, table).last)
    def step(k: Int, timedOp: Boolean): Op = {
      val op = log(k)
      val traced = timedOp && trace.enabled && (k - WarmOps) / Cycle.size == 1
      val cls = if (isWrite(op.kind)) "write" else "read"
      val rec = timed(op.kind, cls, traced) {
        if (traced) trace.request(spark, "op", Map("kind" -> op.kind))(exec(table, op, true))
        else exec(table, op, measured = timedOp)
      }
      if (isWrite(op.kind)) {
        val now = dirBytes(table)
        val fresh = now.keySet -- seen.keySet
        if (timedOp) {
          bytesAdded += fresh.toSeq.map(now).sum
          filesAdded += fresh.count(_.endsWith(".parquet"))
        }
        seen = now
        opVersions :+= (op.i -> Manifest.versions(spark, table).last)
      }
      rec.copy(extra = rec.extra + ("i" -> op.i))
    }

    // warm-up: the first WarmOps ops of the log, untimed
    val w0 = System.nanoTime()
    val warm = (0 until WarmOps).map(k => step(k, timedOp = false))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val ops = Vector.newBuilder[Op]
    val startNs = System.nanoTime()
    val deadline = startNs + (seconds * 1e9).toLong
    // as many whole cycles as fit in the window (at least one), so every
    // run measures the same mix; a traced run makes three, untraced,
    // traced, untraced, so warm-up drift cancels out of the overhead
    var k = WarmOps
    var cycleStart = startNs
    var lastCycleNs = 0L
    def more: Boolean =
      if (trace.enabled) k < WarmOps + 3 * Cycle.size
      else if ((k - WarmOps) % Cycle.size != 0) true
      else {
        val now = System.nanoTime()
        if (k > WarmOps) { lastCycleNs = now - cycleStart; cycleStart = now }
        k == WarmOps || now + lastCycleNs <= deadline
      }
    while (more) {
      ops += step(k, timedOp = true)
      k += 1
    }
    val windowS = (System.nanoTime() - startNs) / 1e9
    measureLiveHeap()
    val executed = log.take(k)

    // ---- correctness material, after the timed window ----
    val check = s"$work/check"
    val okOps = (warm ++ ops.result()).filter(_.ok).map(_.extra("i")).toSet
    val writesDone = executed.filter(o => Set("append", "merge", "delete", "delete_mor")(o.kind))
    // every write's rows go to the model; the timed ones are the
    // write-amplification base
    val batchBytes = writesDone.map { op =>
      val p = s"$check/op_${op.i}.parquet"
      batch(spark, seed, op).coalesce(1).write.mode("overwrite").parquet(p)
      if (op.i < WarmOps) 0L else dirBytes(p).filter(_._1.endsWith(".parquet")).values.sum
    }.sum
    Manifest.read(spark, table).write.mode("overwrite").parquet(s"$check/final.parquet")
    val liveBytes = dirBytes(s"$check/final.parquet").filter(_._1.endsWith(".parquet")).values.sum
    val tableBytes = dirBytes(table).values.sum
    // two retained versions for the time-travel check
    val retained = Manifest.versions(spark, table).toSet
    val epochs = opVersions.filter { case (_, v) => retained(v) }.groupBy(_._2)
      .map { case (v, xs) => v -> xs.map(_._1).max }.toSeq.sortBy(_._1)
    val sampled = if (epochs.size <= 2) epochs else Seq(epochs.head, epochs(epochs.size / 2))
    sampled.foreach { case (v, _) =>
      Manifest.readVersion(spark, table, v).write.mode("overwrite").parquet(s"$check/v$v.parquet")
    }
    // what every point and pruned read returned, warm-up included, for the
    // model to check at the table state each one saw
    val reads = (warm ++ ops.result()).filter(o => o.ok && KeyedReads(o.kind))
      .map(o => Map("kind" -> o.kind) ++ o.extra.view.filterKeys(ReadFields).toMap)

    Map(
      "table_s" -> tableS, "warmup_s" -> warmupS, "window_s" -> windowS,
      "ops" -> ops.result().map(_.toMap),
      "lake" -> Map(
        "writes" -> writesDone.map(o => Map("i" -> o.i, "kind" -> o.kind, "ok" -> okOps(o.i))),
        "epochs" -> sampled.map { case (v, i) => Map("version" -> v, "after_op" -> i) },
        "reads" -> reads,
        "bytes_added" -> bytesAdded, "files_added" -> filesAdded,
        "batch_bytes" -> batchBytes, "table_bytes" -> tableBytes, "live_bytes" -> liveBytes,
        "admitted" -> admitted.map { case (a, t) => Seq(a, t) },
        "full_scans" -> fullScans, "pruned_reads" -> admitted.size),
      "plan_cache" -> Map("hits" -> cache.hits, "misses" -> cache.misses),
      "sizes" -> Map("merge_small" -> MergeSmall, "merge_large" -> MergeLarge,
        "probe_cap" -> ProbeCap, "delete_keys" -> DeleteKeys, "append_orders" -> AppendOrders,
        "files" -> Files))
  }
}
