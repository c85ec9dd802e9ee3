package graft

import graft.sources.Manifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Writable branches — the WAP generalization: N commits on a named
  * ref forked from a main snapshot, invisible to main, published as
  * ONE atomic fast-forward commit; divergence refuses loudly. The
  * branch chain reuses the manifest commit protocol verbatim under
  * `<table>/_branches/<name>`. */
class BranchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.session(4)

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_br_$name").toString

  test("N branch commits invisible to main; publish lands them as ONE " +
      "atomic main commit; the branch chain retires") {
    import spark.implicits._
    val table = s"${fresh("pub")}/t"
    Manifest.create(spark, table,
      (1 to 10).map(i => (i.toLong, s"m$i")).toDF("id", "tag"))
    Manifest.branchCreate(spark, table, "audit")
    assert(Manifest.branches(spark, table) == Seq("audit"))
    // three commits on the branch
    (1 to 3).foreach { k =>
      Manifest.branchAppend(spark, table, "audit",
        (1 to 5).map(i => (100L * k + i, s"b$k-$i")).toDF("id", "tag")
          .coalesce(1))
    }
    // branch head serves seed + 15; main still serves ONLY the seed
    assert(Manifest.readBranch(spark, table, "audit").count() == 25)
    assert(Manifest.read(spark, table).count() == 10)
    assert(Manifest.versions(spark, table) == Seq(1L))
    // SQL faces: table_branch reads the head, table_branches ledgers
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM table_branch('$table', 'audit')")
      .head().getLong(0) == 25L)
    val ledger = spark.sql(
      s"SELECT * FROM table_branches('$table')").collect()
    assert(ledger.length == 1 && ledger(0).getString(0) == "audit" &&
      ledger(0).getLong(1) == 4L && ledger(0).getLong(2) == 1L)
    // publish: ONE main commit with the branch head's whole state
    val pub = Manifest.publishBranch(spark, table, "audit")
    assert(pub.version == 2L)
    assert(Manifest.read(spark, table).count() == 25)
    assert(Manifest.currentSnapshot(spark, table).get
      .meta.get("operation").contains("publish_branch"))
    // the branch is gone; its history shows one publish on main
    assert(Manifest.branches(spark, table).isEmpty)
    assert(Manifest.versions(spark, table) == Seq(1L, 2L))
    // the published rows are exactly the branch's
    assert(Manifest.read(spark, table)
      .filter(F.col("tag").startsWith("b")).count() == 15)
  }

  test("concurrent main churn refuses the fast-forward loudly; the " +
      "branch work survives for a fresh fork to replay") {
    import spark.implicits._
    val table = s"${fresh("div")}/t"
    Manifest.create(spark, table,
      (1 to 10).map(i => (i.toLong, s"m$i")).toDF("id", "tag"))
    Manifest.branchCreate(spark, table, "wip")
    Manifest.branchAppend(spark, table, "wip",
      Seq((100L, "branch-row")).toDF("id", "tag"))
    // main moves underneath
    Manifest.commitAppend(spark, table,
      Seq((200L, "main-row")).toDF("id", "tag"))
    val e = intercept[Exception] {
      Manifest.publishBranch(spark, table, "wip") }
    assert(e.getMessage.contains("moved") &&
      e.getMessage.contains("fork"), e.getMessage)
    // nothing landed on main; the branch still reads
    assert(Manifest.read(spark, table).count() == 11)
    assert(Manifest.readBranch(spark, table, "wip").count() == 11)
    assert(Manifest.readBranch(spark, table, "wip")
      .filter(F.col("tag") === "branch-row").count() == 1)
    Manifest.dropBranch(spark, table, "wip")
    assert(Manifest.branches(spark, table).isEmpty)
  }

  test("vacuum never reclaims branch-referenced work; a dropped " +
      "branch's dirs become ordinary lease-gated orphans") {
    import spark.implicits._
    val table = s"${fresh("vac")}/t"
    Manifest.create(spark, table,
      (1 to 10).map(i => (i.toLong, s"m$i")).toDF("id", "tag"))
    Manifest.branchCreate(spark, table, "keep")
    Manifest.branchAppend(spark, table, "keep",
      Seq((100L, "branch-only")).toDF("id", "tag"))
    // churn main so vacuum has dead versions to chew on
    (1 to 3).foreach(k => Manifest.commitAppend(spark, table,
      Seq((200L + k, s"m-extra-$k")).toDF("id", "tag").coalesce(1)))
    Manifest.compact(spark, table, targetBytes = 1L << 30)
    Manifest.vacuum(spark, table, keep = 1, orphanGraceMs = 0L)
    // the branch still serves ALL its rows — fork-time entries
    // included, even though main's chain no longer lists them
    val br = Manifest.readBranch(spark, table, "keep")
    assert(br.count() == 11, "vacuum reclaimed branch-referenced data")
    assert(br.filter(F.col("tag") === "branch-only").count() == 1)
    // drop the branch: its only-branch dir is an orphan now — an
    // aggressive vacuum reclaims it (lease waived for the test)
    Manifest.dropBranch(spark, table, "keep")
    Manifest.vacuum(spark, table, keep = 1, orphanGraceMs = 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName).filter(_.startsWith("_v"))
    val referenced = Manifest.currentSnapshot(spark, table).get.paths
      .map(_.split('/').head).toSet
    assert(left.toSet == referenced,
      s"leftover dirs ${left.mkString(",")} vs referenced $referenced")
  }

  test("publish racing auto-rebasing appenders: every interleaving is " +
      "either a clean fast-forward or the loud divergence refusal — " +
      "never a silent drop of interleaved commits") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    (1 to 4).foreach { iter =>
      val table = s"${fresh(s"race$iter")}/t"
      Manifest.create(spark, table,
        (1 to 5).map(i => (i.toLong, "seed")).toDF("id", "tag"))
      Manifest.branchCreate(spark, table, "r")
      Manifest.branchAppend(spark, table, "r",
        Seq((100L, "branch")).toDF("id", "tag"))
      val pool = Executors.newFixedThreadPool(3)
      val start = new CountDownLatch(1)
      @volatile var published = false
      @volatile var refused = false
      val appendFailures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to 2).foreach { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            org.apache.spark.sql.SparkSession.setActiveSession(spark)
            start.await()
            try Manifest.commitAppend(spark, table,
              Seq((200L + w, s"main$w")).toDF("id", "tag").coalesce(1))
            catch { case e: Throwable => appendFailures.add(e) }
          }
        })
      }
      pool.submit(new Runnable {
        override def run(): Unit = {
          org.apache.spark.sql.SparkSession.setActiveSession(spark)
          start.await()
          try { Manifest.publishBranch(spark, table, "r"); published = true }
          catch {
            case e: Throwable if Option(e.getMessage)
                .exists(_.contains("fork")) => refused = true
          }
        }
      })
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(300, TimeUnit.SECONDS), "pool hung")
      assert(appendFailures.isEmpty,
        s"iter $iter: appenders failed: ${appendFailures.toArray.mkString(";")}")
      assert(published ^ refused,
        s"iter $iter: publish must land or refuse (got p=$published r=$refused)")
      val out = Manifest.read(spark, table)
      // the two appends ALWAYS survive (rebase absorbs the publish);
      // the branch row is present iff the publish won
      assert(out.filter(F.col("tag").startsWith("main")).count() == 2,
        s"iter $iter: a publish dropped interleaved commits")
      assert(out.filter(F.col("tag") === "branch").count() ==
        (if (published) 1L else 0L))
      if (refused)
        assert(Manifest.readBranch(spark, table, "r").count() == 6)
    }
  }

  test("refusals: duplicate branch, hive layout, mapped snapshot, " +
      "schema drift on branchAppend") {
    import spark.implicits._
    val table = s"${fresh("ref")}/t"
    Manifest.create(spark, table,
      (1 to 5).map(i => (i.toLong, s"m$i")).toDF("id", "tag"))
    Manifest.branchCreate(spark, table, "b1")
    intercept[Exception](Manifest.branchCreate(spark, table, "b1"))
    intercept[Exception](Manifest.branchAppend(spark, table, "b1",
      Seq((1L, 2L)).toDF("id", "other")))
    Manifest.dropBranch(spark, table, "b1")

    val hive = s"${fresh("refh")}/t"
    Manifest.create(spark, hive,
      (1 to 6).map(i => (i.toLong, i % 2)).toDF("id", "part"),
      partitionBy = Seq("part"))
    val eh = intercept[Exception](Manifest.branchCreate(spark, hive, "x"))
    assert(eh.getMessage.contains("hive"))

    val mapped = s"${fresh("refm")}/t"
    Manifest.create(spark, mapped,
      (1 to 5).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    Manifest.renameColumn(spark, mapped, "v", "w")
    val em = intercept[Exception](Manifest.branchCreate(spark, mapped, "x"))
    assert(em.getMessage.contains("mapping"))
  }
}
