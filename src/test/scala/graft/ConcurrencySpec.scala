package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import graft.sources.Manifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The optimistic-concurrency claim under REAL concurrency: the
  * manifest protocol serializes racing writers on the version-number
  * rename — a loser fails loudly and retries with a fresh snapshot,
  * never clobbering the winner's commit. The scenario specs exercise
  * each race pairwise; this spec drives a thread pool of appenders, a
  * MoR deleter, a tagger, and a vacuumer against ONE table and then
  * audits the whole history:
  *
  *  - the version chain is GAP-FREE consecutive (every commit landed
  *    as exactly the next version — no lost or double-assigned slot);
  *  - every batch whose commit RETURNED is fully serveable (exactly
  *    its row count, once) and every batch that failed after retries
  *    contributed nothing — orphaned data dirs are invisible;
  *  - concurrent snapshot readers only ever see non-decreasing row
  *    counts (append-mostly table): a reader pinned mid-commit sees
  *    the old snapshot in full, never a half state.
  */
class ConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.session(8)

  test("racing appenders + deleter + tagger + vacuum: gap-free version " +
      "chain, every returned commit serveable exactly once") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_conc").toString
    val table = s"$dir/t"
    val rowsPerBatch = 10
    Manifest.create(spark, table,
      (1 to rowsPerBatch).map(i => (s"seed-0", i.toLong)).toDF("tag", "n"))

    val nAppenders = 4
    val batchesEach = 4
    val pool = Executors.newFixedThreadPool(nAppenders + 3)
    val start = new CountDownLatch(1)
    val committedTags = new ConcurrentLinkedQueue[String]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val observedCounts = new ConcurrentLinkedQueue[Long]()
    @volatile var stopAux = false

    def retrying[A](what: String)(body: => A): Option[A] = {
      var attempts = 0
      while (attempts < 30) {
        try return Some(body)
        catch {
          case e: Throwable
              if Option(e.getMessage).exists(m =>
                m.contains("concurrent commit won") ||
                  m.contains("lost the race") ||
                  m.contains("already exists")) =>
            attempts += 1
            Thread.sleep(5L + scala.util.Random.nextInt(20))
          case e: Throwable =>
            failures.add(new RuntimeException(s"$what: ${e.getMessage}", e))
            return None
        }
      }
      failures.add(new RuntimeException(s"$what: starved after $attempts"))
      None
    }

    // appender threads: each commits `batchesEach` uniquely-tagged
    // batches, retrying lost races with a fresh snapshot
    for (w <- 1 to nAppenders) pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        for (b <- 1 to batchesEach) {
          val tag = s"w$w-b$b"
          val df = (1 to rowsPerBatch).map(i => (tag, i.toLong))
            .toDF("tag", "n").coalesce(1)
          retrying(s"append $tag")(
            Manifest.commitAppend(spark, table, df))
            .foreach(_ => committedTags.add(tag))
        }
      }
    })

    // a MoR deleter: masks rows that never existed (n > rowsPerBatch)
    // — exercises the DV commit path in the race without perturbing
    // the row-count audit
    pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        while (!stopAux) {
          retrying("deleteNoop")(
            Manifest.deleteWhereMoR(spark, table,
              F.col("n") > rowsPerBatch.toLong))
          Thread.sleep(15)
        }
      }
    })

    // a tagger/vacuumer: pins and unpins the current version and runs
    // a retention-respecting vacuum in a loop (the tag/vacuum
    // interlock's live half; keep is high enough that no appender's
    // pinned snapshot is ever reclaimed mid-test)
    pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        var i = 0
        while (!stopAux) {
          try {
            val v = Manifest.versions(spark, table).last
            Manifest.tag(spark, table, s"pin-$i", v)
            Thread.sleep(10)
            Manifest.vacuum(spark, table, keep = 500)
            Manifest.deleteTag(spark, table, s"pin-$i")
            i += 1
          } catch { case _: Throwable => () } // tag races are advisory
          Thread.sleep(5)
        }
      }
    })

    // a reader: pinned snapshots must serve complete states — counts
    // are multiples of the batch size and non-decreasing
    pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        while (!stopAux) {
          try observedCounts.add(Manifest.read(spark, table).count())
          catch { case _: Throwable => () } // a vacuumed-under probe retries
          Thread.sleep(10)
        }
      }
    })

    start.countDown()
    pool.shutdown()
    // appenders finish; then stop the aux loops
    var waited = 0
    while (committedTags.size < nAppenders * batchesEach &&
        failures.isEmpty && waited < 1200) {
      Thread.sleep(100); waited += 1
    }
    stopAux = true
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "pool hung")
    assert(failures.isEmpty,
      s"unexpected failures: ${failures.toArray.mkString("; ")}")

    // every append committed (retries absorbed all races)
    val tags = committedTags.toArray(Array.empty[String]).toSet
    assert(tags.size == nAppenders * batchesEach)

    // the version chain is gap-free consecutive from 1
    val versions = Manifest.versions(spark, table)
    assert(versions == (1L to versions.last),
      s"version chain has gaps: $versions")

    // exactly-once serving: every committed batch contributes exactly
    // rowsPerBatch rows, nothing else (orphans from lost races are
    // invisible)
    val counts = Manifest.read(spark, table)
      .groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == tags + "seed-0")
    assert(counts.values.forall(_ == rowsPerBatch.toLong),
      s"per-batch counts off: $counts")

    // snapshot isolation: observed counts are whole batches and
    // non-decreasing over time
    val seen = observedCounts.toArray(Array.empty[java.lang.Long])
      .map(_.longValue())
    assert(seen.forall(_ % rowsPerBatch == 0),
      s"a reader saw a torn snapshot: ${seen.mkString(",")}")
    assert(seen.zip(seen.drop(1)).forall { case (a, b) => b >= a },
      s"a reader went backwards: ${seen.mkString(",")}")
  }

  test("rename racing appenders: every append lands at the moved table " +
      "or fails loudly — the old path never resurrects as a ghost") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    (1 to 4).foreach { iter =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_renrace_$iter").toString
      val src = s"$dir/t"
      val dst = s"$dir/t2"
      Manifest.create(spark, src,
        Seq(("seed", 1L)).toDF("tag", "n"))
      val n = 6
      val pool = Executors.newFixedThreadPool(n + 1)
      val start = new CountDownLatch(1)
      val landed = new ConcurrentLinkedQueue[String]()
      val refused = new java.util.concurrent.atomic.AtomicInteger(0)
      (1 to n).foreach { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try {
              Manifest.commitAppend(spark, src,
                Seq((s"w$i", 1L)).toDF("tag", "n"))
              landed.add(s"w$i")
            } catch { case _: Throwable => refused.incrementAndGet() }
          }
        })
      }
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          // land mid-burst: half the appenders typically precede it
          Thread.sleep(40L * (iter % 3))
          var done = false
          while (!done) {
            try { Manifest.renameTable(spark, src, dst); done = true }
            catch { case _: Throwable => Thread.sleep(10) }
          }
        }
      })
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS), "pool hung")
      // the moved table serves the seed plus EXACTLY the successful
      // appends — an appender that lost to the rename contributed
      // nothing anywhere
      val tags = Manifest.read(spark, dst)
        .select("tag").collect().map(_.getString(0)).toSet
      val wins = landed.toArray(Array.empty[String]).toSet
      assert(tags == wins + "seed",
        s"iter $iter: served $tags vs committed $wins")
      assert(wins.size + refused.get == n)
      // the old path must NOT have resurrected as a table — a racer's
      // data-dir orphan is acceptable garbage, a manifest is not
      assert(!Manifest.isManifested(spark, src),
        s"iter $iter: ghost manifest at the renamed-away path")
    }
  }

  test("drop racing appenders: appends land before the tombstone or " +
      "refuse — a retrying writer can never resurrect a dropped table") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    (1 to 4).foreach { iter =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_droprace_$iter").toString
      val table = s"$dir/t"
      Manifest.create(spark, table, Seq(("seed", 1L)).toDF("tag", "n"))
      val n = 6
      val pool = Executors.newFixedThreadPool(n + 1)
      val start = new CountDownLatch(1)
      val landed = new ConcurrentLinkedQueue[String]()
      val refused = new java.util.concurrent.atomic.AtomicInteger(0)
      (1 to n).foreach { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            // a RETRYING appender — exactly the client that could
            // resurrect the table if the guard were version-race-only
            var attempts = 0
            var done = false
            while (!done && attempts < 5) {
              attempts += 1
              try {
                Manifest.commitAppend(spark, table,
                  Seq((s"w$i", 1L)).toDF("tag", "n"))
                landed.add(s"w$i"); done = true
              } catch {
                case e: Throwable if e.getMessage != null &&
                    e.getMessage.contains("DROPPED") =>
                  refused.incrementAndGet(); done = true
                case _: Throwable => Thread.sleep(5)
              }
            }
            if (!done) refused.incrementAndGet()
          }
        })
      }
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          Thread.sleep(30L * (iter % 3))
          var done = false
          while (!done) {
            try { Manifest.dropTable(spark, table); done = true }
            catch { case _: Throwable => Thread.sleep(5) }
          }
        }
      })
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS), "pool hung")
      // still dropped — nobody committed past the tombstone
      assert(Manifest.isDropped(spark, table),
        s"iter $iter: an appender resurrected the dropped table")
      val cur = Manifest.currentSnapshot(spark, table).get
      assert(cur.meta.get("operation").contains("drop"))
      // the tombstone's content is the seed plus exactly the appends
      // that landed BEFORE it
      val tags = Manifest.readVersion(spark, table, cur.version - 1)
        .select("tag").collect().map(_.getString(0)).toSet
      val wins = landed.toArray(Array.empty[String]).toSet
      assert(tags == wins + "seed",
        s"iter $iter: pre-drop snapshot $tags vs committed $wins")
    }
  }

  test("stale-claim break is single-winner: N committers racing over a " +
      "dead writer's claim produce exactly ONE v2, never a lost update") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    (1 to 8).foreach { iter =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_claim_$iter").toString
      val table = s"$dir/t"
      Manifest.create(spark, table,
        (1 to 5).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
      val snap = Manifest.currentSnapshot(spark, table).get
      // a dead writer's leftover: a claim on v2 with no manifest,
      // older than the lease — every committer below is a breaker
      val claim = new java.io.File(s"$table/_manifest/.claim-v00000002")
      assert(claim.createNewFile())
      assert(claim.setLastModified(System.currentTimeMillis() - 180000L))

      val n = 6
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val wins = new ConcurrentLinkedQueue[String]()
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      (1 to n).foreach { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try {
              Manifest.commit(spark, table, expected = 1L, snap.paths,
                snap.meta + ("writer" -> s"w$i"))
              wins.add(s"w$i")
            } catch { case _: Throwable => losses.incrementAndGet() }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS), "pool hung")
      // exactly one winner, and v2's content IS that winner's commit —
      // the delete-then-create break let two proceed and the second
      // rename silently replaced the first (the lost update this pins)
      assert(wins.size == 1 && losses.get == n - 1,
        s"iter $iter: ${wins.size} winners / ${losses.get} losers")
      assert(Manifest.versions(spark, table) == Seq(1L, 2L))
      assert(Manifest.readSnapshot(spark, table, 2L).meta.get("writer")
        .contains(wins.peek()), s"iter $iter: v2 is not the winner's")
      // the protocol cleaned up after itself: no claim artifacts left
      val left = new java.io.File(s"$table/_manifest").listFiles()
        .map(_.getName).filter(_.startsWith(".claim"))
      assert(left.isEmpty, s"iter $iter: leftover ${left.mkString(",")}")
    }
  }

  test("auto-rebase: N concurrent appenders ALL land with NO caller " +
      "retry loop; chain gap-free; every batch serves exactly once") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase").toString
    val table = s"$dir/t"
    val rowsPerBatch = 8
    Manifest.create(spark, table,
      (1 to rowsPerBatch).map(i => ("seed", i.toLong)).toDF("tag", "n"))
    val nAppenders = 8
    val batchesEach = 3
    val pool = Executors.newFixedThreadPool(nAppenders)
    val start = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    for (w <- 1 to nAppenders) pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        for (b <- 1 to batchesEach) {
          val df = (1 to rowsPerBatch).map(i => (s"w$w-b$b", i.toLong))
            .toDF("tag", "n").coalesce(1)
          // ONE call, no wrapper — liveness is commitAppend's own
          try Manifest.commitAppend(spark, table, df)
          catch { case e: Throwable => failures.add(e) }
        }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "pool hung")
    assert(failures.isEmpty,
      s"auto-rebase starved: ${failures.toArray.mkString("; ")}")
    val versions = Manifest.versions(spark, table)
    assert(versions == (1L to (1 + nAppenders * batchesEach)),
      s"version chain has gaps: $versions")
    val counts = Manifest.read(spark, table)
      .groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size == 1 + nAppenders * batchesEach)
    assert(counts.values.forall(_ == rowsPerBatch.toLong),
      s"per-batch counts off: $counts")
  }

  test("auto-rebase re-inherits the WINNER's metadata: a MoR delete " +
      "landing mid-race keeps masking after the rebased append") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_rebdv").toString
    val table = s"$dir/t"
    Manifest.create(spark, table,
      (1 to 20).map(i => (i.toLong, if (i <= 10) "del" else "keep"))
        .toDF("id", "cls"))
    // race a MoR delete against appenders; whatever interleaving
    // happens, the DvKey must survive onto the final snapshot
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        var done = false
        while (!done) {
          try { Manifest.deleteWhereMoR(spark, table,
            F.col("cls") === "del"); done = true }
          catch {
            case _: graft.sources.CommitRaceLost => Thread.sleep(5)
            case e: Throwable => failures.add(e); done = true
          }
        }
      }
    })
    for (w <- 1 to 3) pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        val df = (1 to 5).map(i => (100L * w + i, "keep")).toDF("id", "cls")
          .coalesce(1)
        try Manifest.commitAppend(spark, table, df)
        catch { case e: Throwable => failures.add(e) }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "pool hung")
    assert(failures.isEmpty,
      s"unexpected: ${failures.toArray.mkString("; ")}")
    // masked rows stay masked — a rebase that dropped the winner's
    // DvKey would resurrect the 10 deleted rows
    val out = Manifest.read(spark, table)
    assert(out.filter(F.col("cls") === "del").count() == 0L,
      "rebase resurrected MoR-deleted rows")
    assert(out.count() == 10L + 15L)
  }

  test("auto-rebase rewrites its data dir when a racing compact FOLDS " +
      "the column mapping: appended rows serve under the logical name, " +
      "never NULL") {
    import spark.implicits._
    SparkSession.setActiveSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_rebmap").toString
    val table = s"$dir/t"
    Manifest.create(spark, table,
      (1 to 20).map(i => (i.toLong, i * 10L)).toDF("id", "n_chars")
        .coalesce(1))
    Manifest.renameColumn(spark, table, "n_chars", "chars") // mapped
    // race appenders (speaking the LOGICAL name) against a compact
    // that folds the mapping: whichever writer loses its slot to the
    // fold must NOT reuse a dir written under the old physical names —
    // the appended rows would read NULL for 'chars'
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        var done = false
        while (!done) {
          try { Manifest.compact(spark, table, targetBytes = 1L << 30)
            done = true }
          catch {
            case _: graft.sources.CommitRaceLost => Thread.sleep(3)
            case e: Throwable => failures.add(e); done = true
          }
        }
      }
    })
    for (w <- 1 to 3) pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(spark)
        start.await()
        val df = (1 to 5).map(i => (1000L * w + i, 7L)).toDF("id", "chars")
          .coalesce(1)
        try Manifest.commitAppend(spark, table, df)
        catch { case e: Throwable => failures.add(e) }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "pool hung")
    assert(failures.isEmpty,
      s"unexpected: ${failures.toArray.mkString("; ")}")
    val out = Manifest.read(spark, table)
    assert(out.columns.contains("chars"))
    assert(out.count() == 20L + 15L)
    // EVERY appended row must carry its value under the final naming —
    // a stale-mapping dir reused across the fold reads NULL here
    assert(out.filter(F.col("chars").isNull).count() == 0L,
      "an appended dir written under the pre-fold mapping was reused")
    assert(out.filter(F.col("id") >= 1000L).count() == 15L)
  }
}
