package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark JVM. Runs one workload and writes `result.json` (and, when
  * traced, `spans.jsonl`) into the work directory; `run.py` turns those
  * into metrics and runs the DuckDB correctness checks.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <fixtureDir>
  *        Main digest <seed> <workDir>
  *        Main replica <seed> <workDir> <fixtureDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    if (args(0) == "digest") return digest(args(1).toLong, args(2))
    if (args(0) == "replica") return replica(args(1).toLong, args(2), args(3))
    val Array(workload, seedS, secondsS, traceS, work, fixtures) = args
    val seed = seedS.toLong
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = new Trace(traceS == "1")
    val probe = new SparkProbe(trace)
    if (trace.enabled) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    // run.py generates the inputs while this JVM starts
    val ready = Paths.get(s"$work/fixtures.ready")
    val waitUntil = System.currentTimeMillis() + 120000
    while (!Files.exists(ready)) {
      require(System.currentTimeMillis() < waitUntil, "inputs were not generated in time")
      Thread.sleep(20)
    }
    val ctx = new RunContext(spark, seed, secondsS.toDouble, trace, work, fixtures)
    val codegen0 = Trace.codegenNs
    val body: Map[String, Any] = workload match {
      case "cube_api" => CubeApiWorkload.run(ctx)
      case "lakehouse_rw" => LakehouseWorkload.run(ctx)
      case "batch_scaleup" => BatchWorkload.run(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val counters = if (!trace.enabled) Map.empty[String, Any] else Map(
      "spark_exec" -> probe.total.toMap,
      "driver_actions" -> probe.actions.sum,
      "failed_actions" -> probe.failedActions.sum,
      "codegen_ms" -> (Trace.codegenNs - codegen0) / 1e6)
    write(s"$work/result.json", body ++ Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace.enabled,
      "session_s" -> sessionS,
      "jvm" -> Map("gc_ms" -> gcMs, "vm_hwm_kb" -> vmHwmKb,
        "heap_live_bytes" -> ctx.liveHeapBytes, "cores" -> Runtime.getRuntime.availableProcessors),
      "counters" -> counters))
    if (trace.enabled) {
      // spans carry the request whose thread opened them; Spark's own
      // per-request counters ride along on the request roots
      val lines = trace.all.map { s =>
        val extra = if (s.parent == 0) probe.perRequest.get(s.request)
          .map(c => Map("exec" -> c.toMap)).getOrElse(Map.empty) else Map.empty
        json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.request,
          "name" -> s.name, "start" -> s.startNs, "end" -> s.endNs,
          "attrs" -> s.attrs) ++ extra)
      }
      Files.write(Paths.get(s"$work/spans.jsonl"), lines.asJava, StandardCharsets.UTF_8)
    }
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Digests of the generated request stream and op log, for the
    * determinism self-test (fixture digests are taken by run.py). */
  private def digest(seed: Long, work: String): Unit = {
    val stream = Requests.stream(seed, CubeApiWorkload.StreamLength, CubeApiWorkload.Pool,
      CubeApiWorkload.DashShare)
    val ops = LakehouseWorkload.opLog(seed, 400).map(_.toString)
    write(s"$work/digest.json", Map(
      "requests" -> sha(stream.map(r => r.kind + r.json).mkString("\n")),
      "op_log" -> sha(ops.mkString("\n"))))
  }

  /** Replica self-test: every distinct request of the first part of the
    * `cube_api` stream, run through `CubeRunner.execute` and through the
    * traced layer-by-layer path, must give the same columns and rows. */
  private def replica(seed: Long, work: String, fixtures: String): Unit = {
    val spark = session(work)
    val registry = graft.exec.DatabaseRegistry.paths(Map("bench" -> fixtures), "bench")
    val trace = new Trace(true)
    val reqs = Requests.stream(seed, 200, CubeApiWorkload.Pool, CubeApiWorkload.DashShare)
      .distinctBy(_.id)
    val cache = new graft.exec.PlanCache(128)
    val results = reqs.map { r =>
      val plain = CubeExec.execute(spark, registry, r, Some(cache))
      val traced = trace.request(spark, "request") {
        CubeExec.executeTraced(spark, registry, r, Some(cache), trace)
      }
      Map("rid" -> r.id, "same" -> (plain.columns == traced.columns && plain.rows == traced.rows),
        "rows" -> plain.rows.size, "hit" -> traced.hit)
    }
    write(s"$work/replica.json", Map("requests" -> results))
    spark.stop()
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def vmHwmKb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  def toJ(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => toJ(x)
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case bd: java.math.BigDecimal => JDouble(bd.doubleValue)
    case bd: BigDecimal => JDouble(bd.toDouble)
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> toJ(x) })
    case xs: Iterable[_] => JArray(xs.toList.map(toJ))
    case d: java.sql.Date => JString(d.toString)
    case d: java.time.LocalDate => JString(d.toString)
    case t: java.sql.Timestamp => JString(t.toLocalDateTime.toString.replace('T', ' '))
    case t: java.time.LocalDateTime => JString(t.toString.replace('T', ' '))
    case t: java.time.Instant => JString(t.toString)
    case n: Number => JDouble(n.doubleValue)
    case other => JString(other.toString)
  }
  def json(v: Any): String = JsonMethods.compact(JsonMethods.render(toJ(v)))
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json(v).getBytes(StandardCharsets.UTF_8))
}

/** One timed operation. */
final case class Op(kind: String, cls: String, startNs: Long, ms: Double, ok: Boolean,
    traced: Boolean, extra: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "class" -> cls, "ms" -> ms,
    "ok" -> ok, "traced" -> traced, "start_ns" -> startNs) ++ extra
}

/** What every workload gets: the session, its seed and window, and the
  * trace (a pass-through when tracing is off). */
final class RunContext(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Trace, val work: String, val fixtures: String) {
  /** Wall seconds of `body`, with its value. */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after a full collection, once the workload has done a
    * fixed amount of work: the data it keeps live. The heap is
    * pre-touched, so the peak RSS cannot show it. */
  @volatile var liveHeapBytes = 0L

  /** Take `liveHeapBytes` now: outside the timed window, and before any
    * correctness material is built. */
  def measureLiveHeap(): Unit = {
    // Spark's cleaner thread drops broadcast and shuffle blocks only once
    // a collection has found their handles unreachable, so collect, let it
    // run, and collect again; a single collection read 80 or 170 MB
    // after the same batch pass
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    System.gc()
    liveHeapBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Time `body`, counting a throw as a failed operation. */
  def timed(kind: String, cls: String, traced: Boolean)(body: => Map[String, Any]): Op = {
    val t0 = System.nanoTime()
    val (ok, extra) =
      try (true, body)
      catch { case e: Throwable => (false, Map[String, Any]("error" -> e.toString.take(300))) }
    Op(kind, cls, t0, (System.nanoTime() - t0) / 1e6, ok, traced, extra)
  }
}
