package perfbench

import org.apache.spark.sql.{functions => F}

/** `batch_scaleup`: 1 client running the data-heavy registry queries one
  * after another over the seeded scale-up of the events and documents
  * tables that run.py generates. Each query's result is written as
  * parquet, which the oracle check then reads. */
object BatchWorkload {
  val Queries = Seq("q41_tumbling_window", "q43_session_window", "q51_minhash_pairs",
    "q55_text_profile", "q190_kneser_ney", "q195_curation_v4")
  /** The input table of each query (all read one table). */
  val Input = Map("q41_tumbling_window" -> "events", "q43_session_window" -> "events")
    .withDefaultValue("documents")

  def run(ctx: RunContext): Map[String, Any] = {
    import ctx._
    val all = graft.SparkEntry.queries
    val dir = fixtures
    val rows = Seq("events", "documents")
      .map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap

    val ops = Vector.newBuilder[Op]
    val passes = Vector.newBuilder[Map[String, Any]]
    val startNs = System.nanoTime()
    val deadline = startNs + (seconds * 1e9).toLong
    // As many whole passes as fit in the window (at least one); the first
    // pass runs in a fresh JVM. Results go to parquet for the oracle
    // check. A traced run makes four passes: cold, then untraced, traced,
    // untraced, so warm-up drift cancels out of the tracing overhead.
    var pass = 0
    var lastPassNs = 0L
    while (if (trace.enabled) pass < 4
           else pass == 0 || System.nanoTime() + lastPassNs <= deadline) {
      val traced = trace.enabled && pass == 2
      val p0 = System.nanoTime()
      Queries.foreach { q =>
        ops += timed(q, "query", traced) {
          def body(): Unit = {
            val df = trace.span(s"queries.$q")(all(q)(spark, dir))
            trace.span("exec.write")(df.write.mode("overwrite").parquet(s"$work/out/$q"))
          }
          if (traced) trace.request(spark, "query", Map("query" -> q))(body()) else body()
          Map("pass" -> pass)
        }
      }
      lastPassNs = System.nanoTime() - p0
      passes += Map("pass" -> pass, "traced" -> traced, "s" -> lastPassNs / 1e9)
      pass += 1
    }
    val windowS = (System.nanoTime() - startNs) / 1e9
    measureLiveHeap()
    val oracle = graft.SparkEntry.oracleSql
    Map(
      "table_s" -> 0.0, "warmup_s" -> 0.0, "window_s" -> windowS,
      "ops" -> ops.result().map(_.toMap), "passes" -> passes.result(),
      "table_rows" -> rows,
      "batch" -> Map("queries" -> Queries.map(q => Map("name" -> q, "input" -> Input(q),
        "oracle" -> oracle.get(q)))),
      "sizes" -> Map("documents" -> rows("documents"), "events" -> rows("events")))
  }
}
