package graft

import org.apache.spark.sql.functions.col

/** Micro-bench for the BPE trainer's batched mode: trains the same
  * merge budget sequentially and batched on the documents fixture and
  * prints rounds + wall-clock for each (the BASELINE.md numbers).
  * Usage: runMain graft.BpeBench [sfDir] [nMerges] [batchK]
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(32)
    val batchK = args.lift(2).map(_.toInt).getOrElse(16)
    val spark = SparkEntry.session(8)
    val docs = graft.cubes.Tables.documents(spark, sfDir).select(col("text"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (seqM, tSeq) = time(
      graft.llm.Bpe.trainMerges(docs, col("text"), nMerges))
    val ((batM, rounds), tBat) = time(
      graft.llm.Bpe.trainMergesBatched(docs, col("text"), nMerges,
        batchK = batchK))
    val agree = batM.take(seqM.size).count(seqM.contains)
    println(f"[bpebench] nMerges=$nMerges sequential: rounds=${seqM.size} " +
      f"t=$tSeq%.1fs | batched(k=$batchK): merges=${batM.size} " +
      f"rounds=$rounds t=$tBat%.1fs speedup=${tSeq / tBat}%.1fx " +
      f"overlap=$agree/${seqM.size}")
    spark.stop()
  }
}
