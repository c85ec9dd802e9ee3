package graft

/** Local replica of the driver's t1 smoke: run SparkEntry.entry, print
  * schema + rows. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(8)
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(25, truncate = false)
    println(s"rows=${df.count()}")

    // full front door: JSON doc -> route -> hook -> compile -> renest -> stats
    val registry = graft.exec.DatabaseRegistry.paths(
      Map("tiny" -> "/root/testdata/sf0.001"), default = "tiny")
    val result = graft.exec.CubeRunner.execute(
      spark, registry, graft.cubes.Cubes.lineitemCube,
      """{ "args": { "options": {"desc": "cnt", "limit": 3} },
           "fields": [
             {"name": "returnFlag", "alias": "flag"},
             {"name": "shipDate", "fields": [{"name": "year"}]},
             {"name": "count", "alias": "cnt"} ] }""",
      hook = q => q.when(graft.query.Pred.notEq("returnFlag", "X")))
    println(s"runner columns=${result.columns.mkString(",")}")
    result.rows.foreach(r => println(s"runner row=$r"))
    println(s"runner stats: rows=${result.stats.rowCount} duration_ms=${result.stats.durationNs / 1e6}")
    spark.stop()
  }
}
