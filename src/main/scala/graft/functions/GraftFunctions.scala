package graft.functions

import graft.model.CubeQueryException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL-surface registration for the engine's custom expressions, so
  * `spark.sql("SELECT simhash64(...)")` works alongside the Column API.
  *
  * One entry point: [[GraftFunctions.register]] on a running session.
  * The native as-of planner pieces are not registered here:
  * `AsOfJoin.dataframe`, their only producer, installs them itself.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new CubeQueryException(s"$what must be an int literal, got $other")
  }

  /** Arity guard: a wrong-arity SQL call gets a domain error, not an
    * IndexOutOfBoundsException from exprs(i). */
  private def arity(name: String, exprs: Seq[Expression], min: Int,
      max: Int): Seq[Expression] = {
    if (exprs.size < min || exprs.size > max)
      throw new CubeQueryException(
        s"$name takes ${if (min == max) s"$min" else s"$min to $max"} " +
          s"argument(s), got ${exprs.size}")
    exprs
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (exprs => SimHash64(arity("simhash64", exprs, 1, 1).head)),
    "cosine_sim" -> { exprs =>
      val a = arity("cosine_sim", exprs, 2, 2); CosineSim(a(0), a(1)) },
    "polyhash64" -> (exprs => PolyHash64(arity("polyhash64", exprs, 1, 1).head)),
    "word_shingles" -> { exprs =>
      val a = arity("word_shingles", exprs, 1, 2)
      WordShingles(a.head, if (a.size > 1) intLit(a(1), "word_shingles k") else 3) },
    "cms_estimate" -> { exprs =>
      val a = arity("cms_estimate", exprs, 2, 2); CmsEstimate(a(0), a(1)) },
    "funnel_stage" -> { exprs =>
      val a = arity("funnel_stage", exprs, 3, 4)
      FunnelStage(a(0),
        longLit(a(1), "funnel_stage window"), intLit(a(2), "funnel_stage steps"),
        if (a.size > 3) boolLit(a(3), "funnel_stage anyAnchor") else false) },
    "minhash_sig" -> { exprs =>
      val a = arity("minhash_sig", exprs, 3, 3)
      MinHashSig(a(0),
        intLit(a(1), "minhash_sig numHashes"), longLit(a(2), "minhash_sig seed")) },
    "seq_count" -> { exprs =>
      val a = arity("seq_count", exprs, 2, 2)
      SeqCount(a(0), intLit(a(1), "seq_count steps")) },
    "ngram_stats" -> { exprs =>
      val a = arity("ngram_stats", exprs, 2, 2)
      NgramStats(a(0), intLit(a(1), "ngram_stats n")) })

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new CubeQueryException(s"$what must be a long literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new CubeQueryException(s"$what must be a boolean literal, got $other")
  }

  /** Imperative registration on a live session — scalar expressions
    * AND the manifest's table-valued functions (`table_changes`,
    * `table_history`). Only missing names register, so a repeat call
    * leaves the session's entries (and its log) untouched. */
  def register(spark: SparkSession): Unit = {
    val scalars = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!scalars.functionExists(FunctionIdentifier(name)))
        scalars.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val tables = spark.sessionState.tableFunctionRegistry
    graft.sources.v2.GraftTableFunctions.all.foreach {
      case (name, builder) =>
        if (!tables.functionExists(FunctionIdentifier(name)))
          tables.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
