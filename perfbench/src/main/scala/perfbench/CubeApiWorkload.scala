package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.exec.{DatabaseRegistry, PlanCache}

/** `cube_api`: closed loop, 2 client threads, each waiting for its reply.
  * Seeded GraphQL-shaped requests go through `CubeRunner.execute` with one
  * shared `PlanCache` (128 entries): a Zipf-popular pool of dashboard
  * requests that fits the cache, plus ad-hoc requests that always miss. */
object CubeApiWorkload {
  val Clients = 2
  val Pool = 12
  val DashShare = 0.85
  val StreamLength = 4000
  /** Requests run in blocks of this size; a traced run alternates traced
    * and untraced blocks so their difference is the tracing overhead. */
  val Block = 4

  def run(ctx: RunContext): Map[String, Any] = {
    import ctx._
    val stream = Requests.stream(seed, StreamLength, Pool, DashShare)
    val dir = fixtures
    val registry = DatabaseRegistry.paths(Map("bench" -> dir), "bench")
    val cache = new PlanCache(128)

    // warm-up: the dashboard pool (one request per template) once on the
    // measured cache, as a long-running server would have it
    val w0 = System.nanoTime()
    val pool = stream.filter(_.kind == "dashboard").distinctBy(_.id)
    val poolQ = new ConcurrentLinkedQueue(pool.asJava)
    parallel(Runtime.getRuntime.availableProcessors) { _ =>
      var r = poolQ.poll()
      while (r != null) { CubeExec.execute(spark, registry, r, Some(cache)); r = poolQ.poll() }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    // the window runs as many requests as its time allows, and every miss
    // adds a cached plan, so the live heap is taken before it
    measureLiveHeap()
    val hits0 = cache.hits
    val misses0 = cache.misses

    val next = new AtomicInteger(0)
    val ops = new ConcurrentLinkedQueue[Op]()
    val answers = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
    val startNs = System.nanoTime()
    val deadline = startNs + (seconds * 1e9).toLong
    parallel(Clients) { _ =>
      while (System.nanoTime() < deadline) {
        val i = next.getAndIncrement()
        val req = stream(i % stream.size)
        val traced = trace.enabled && (i / Block) % 2 == 1
        var ans: CubeExec.Answer = null
        val op = timed("request", "request", traced) {
          ans =
            if (traced) trace.request(spark, "request", Map("kind" -> req.kind,
              "rid" -> req.id.toString)) {
              CubeExec.executeTraced(spark, registry, req, Some(cache), trace)
            }
            else CubeExec.execute(spark, registry, req, Some(cache))
          Map("rows" -> ans.rows.size, "rid" -> req.id, "req_kind" -> req.kind) ++
            ans.hit.map(h => "hit" -> h)
        }
        ops.add(op)
        if (op.ok) {
          val key = req.id * 2 + (if (traced) 1 else 0)
          answers.putIfAbsent(key, Map("rid" -> req.id, "traced" -> traced,
            "columns" -> ans.columns, "rows" -> ans.rows))
        }
      }
    }
    val windowS = (System.nanoTime() - startNs) / 1e9
    // one record per distinct request, for the DuckDB oracle
    val executed = ops.asScala.flatMap(_.extra.get("rid")).toSet
    val requests = stream.filter(r => executed.contains(r.id)).distinctBy(_.id)
      .map(r => Map("rid" -> r.id, "sql" -> r.sql, "kind" -> r.kind, "json" -> r.json))
    Main.write(s"$work/answers.json", Map(
      "requests" -> requests, "answers" -> answers.values.asScala.toSeq))
    Map(
      "table_s" -> 0.0, "warmup_s" -> warmupS, "window_s" -> windowS,
      "ops" -> ops.asScala.toSeq.sortBy(_.startNs).map(_.toMap),
      "plan_cache" -> Map("hits" -> (cache.hits - hits0), "misses" -> (cache.misses - misses0)),
      "sizes" -> Map("pool" -> Pool, "cache_entries" -> 128, "dash_share" -> DashShare,
        "clients" -> Clients))
  }

  /** Run `body` on `n` threads and wait for all of them. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { k =>
      val t = new Thread(() => try body(k) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}
