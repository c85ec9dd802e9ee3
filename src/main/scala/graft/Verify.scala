package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only dump queries whose name contains any of the
    // comma-separated filters (local iteration; the driver always runs
    // the full set)
    val nameFilter = args.lift(2).map(_.split(',').toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.session(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD in the artifacts, not just stderr:
    // rounds 9–10 lost 25 queries silently because a missing parquet dir
    // reads as "not declared" downstream. failed.json makes breakage
    // first-class.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        failed(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeJson(path: String, kv: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(path),
        kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    writeJson(s"$outDir/failed.json", failed)
    System.err.println(s"[verify] ${failed.size} failed of " +
      s"${SparkEntry.queries.count { case (n, _) => nameFilter.forall(_.exists(n.contains)) }}")
    spark.stop()
  }
}
