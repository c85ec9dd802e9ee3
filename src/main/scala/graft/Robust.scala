package graft
/** Robustness sweep: run every registry query at the given SF via noop
  * sink, print per-query seconds. `sbt "runMain graft.Robust <dir> [nameFilter]"`
  * — the optional second arg restricts to queries whose name contains it
  * (comma-separate alternatives), for fast iteration on one family. */
object Robust {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val filters = args.drop(1).headOption.map(_.split(",").toSeq).getOrElse(Nil)
    val spark = SparkEntry.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"ROBUST $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        println(s"ROBUST $name FAILED: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }
}
