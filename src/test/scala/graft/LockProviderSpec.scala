package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core._

/** Pluggable lock providers under an ADVERSARIAL store: the `naf:` scheme
  * simulates an object store without atomic create-exclusive (check-then-
  * create with a widened window; PUT is last-writer-wins). The default
  * provider must REPRODUCE the r12 TOCTOU there — proving the simulation
  * bites — and the fencing-token lease must close it, end-to-end through
  * the Runner's claims and the Ledger's maintenance lock.
  */
class LockProviderSpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def withNaf[A](lease: Boolean)(body: => A): A = {
    hconf.set("fs.naf.impl", classOf[NonAtomicFileSystem].getName)
    // no FS-instance cache between provider configs
    hconf.set("fs.naf.impl.disable.cache", "true")
    if (lease) {
      hconf.set("graft.lock.provider.naf", "lease")
      hconf.set("graft.lock.lease.settle.ms", "60")
    } else hconf.unset("graft.lock.provider.naf")
    try body
    finally {
      hconf.unset("graft.lock.provider.naf")
      hconf.unset("graft.lock.lease.settle.ms")
    }
  }

  private def race(nThreads: Int)(attempt: Int => Boolean): Int = {
    val wins = new AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until nThreads).map { i =>
      new Thread(() => {
        gate.await()
        if (attempt(i)) wins.incrementAndGet()
        ()
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join())
    wins.get()
  }

  test("simulated store reproduces the TOCTOU: create-exclusive over-admits") {
    withNaf(lease = false) {
      val dir = Files.createTempDirectory("graft-naf-toctou").toString
      // the widened window makes the double-win deterministic per round,
      // but keep a retry loop so the pin is about POSSIBILITY, not timing
      var overAdmitted = false
      var round = 0
      while (!overAdmitted && round < 20) {
        val target = new Path(s"naf://$dir/lock_$round")
        val fs = target.getFileSystem(hconf)
        val wins = race(4)(_ =>
          LockProvider.CreateExclusive.tryAcquire(fs, target, Long.MaxValue))
        overAdmitted = wins > 1
        round += 1
      }
      assert(overAdmitted,
        "create-exclusive never over-admitted on the non-atomic store — " +
          "the simulation isn't biting, so the lease tests prove nothing")
    }
  }

  test("lease provider: at most one winner on the same adversarial store") {
    withNaf(lease = true) {
      val dir = Files.createTempDirectory("graft-naf-lease").toString
      (0 until 5).foreach { round =>
        val target = new Path(s"naf://$dir/lock_$round")
        val fs = target.getFileSystem(hconf)
        val providers = Array.fill(4)(new LockProvider.Lease(60))
        val wins = race(4)(i => providers(i).tryAcquire(fs, target, Long.MaxValue))
        assert(wins <= 1, s"round $round: $wins lease winners")
        // SOME contender must win eventually across rounds; this round's
        // winner (if any) holds — a fresh contender is refused without
        // overwriting
        val late = new LockProvider.Lease(60)
        if (wins == 1)
          assert(!late.tryAcquire(fs, target, Long.MaxValue),
            s"round $round: late contender stole a held lease")
      }
    }
  }

  test("lease: guarded release, renewal, TTL stale-break") {
    withNaf(lease = true) {
      val dir = Files.createTempDirectory("graft-naf-sem").toString
      val target = new Path(s"naf://$dir/lock")
      val fs = target.getFileSystem(hconf)
      val holder = new LockProvider.Lease(10)
      val loser = new LockProvider.Lease(10)
      assert(holder.tryAcquire(fs, target, 60000))
      // a loser's release must NOT free the winner's lease
      loser.release(fs, target)
      assert(fs.exists(target), "foreign release deleted a held lease")
      assert(!loser.tryAcquire(fs, target, 60000))
      // renewal: holder extends, loser can't
      assert(holder.renew(fs, target))
      assert(!loser.renew(fs, target))
      // TTL: a crashed holder's stale lease is re-acquirable
      assert(!loser.tryAcquire(fs, target, 60000))
      Thread.sleep(30)
      assert(loser.tryAcquire(fs, target, 20), "stale lease not broken")
      loser.release(fs, target)
      assert(!fs.exists(target))
    }
  }

  test("lease: a torn/in-flight PUT (empty lease file) is refused, stale remnant broken") {
    // On a store whose writes are not atomically visible, an empty or
    // unparsable lease file means a PUT is in flight RIGHT NOW — treating
    // it as absent let a contender steal a just-created claim (the
    // compaction soak on the naf store hit this as a double-committed
    // index). It must refuse — unless the remnant is older than the TTL
    // (writer died mid-PUT), in which case it breaks and contends.
    withNaf(lease = true) {
      val dir = Files.createTempDirectory("graft-naf-torn").toString
      val target = new Path(s"naf://$dir/lock")
      val fs = target.getFileSystem(hconf)
      fs.create(target, true).close() // empty file = torn PUT
      val p = new LockProvider.Lease(10)
      assert(!p.tryAcquire(fs, target, 60000), "stole a mid-PUT lease")
      assert(fs.exists(target), "refusal must not delete the in-flight lease")
      Thread.sleep(30)
      assert(p.tryAcquire(fs, target, 20), "aged torn remnant not broken")
      p.release(fs, target)
      assert(!fs.exists(target))
    }
  }

  test("runPerIndex claims are exactly-once on the adversarial store via lease") {
    withNaf(lease = true) {
      val dir = "naf://" + Files.createTempDirectory("graft-naf-run").toString
      val n = 24
      val pipe = Pipeline(
        PSource("range", Map("n" -> n.toString), s =>
          s.range(n).withColumnRenamed("id", "idx")
            .withColumn("value", col("idx") * 3)),
        Vector(PFilter("keep", Map.empty, identity[org.apache.spark.sql.DataFrame])),
        Some(PSink("noop_count", Map.empty, df => { df.count(); Nil })))
      val results =
        new java.util.concurrent.ConcurrentHashMap[String, RunResult]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 3).map { i =>
        new Thread(() => {
          try results.put(s"w_$i", Runner.runPerIndex(spark, pipe, "idx", dir,
            workerId = s"w_$i", invocationId = Some("naf_inv")))
          catch { case e: Throwable => errs.add(e) }
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"worker failed: ${Option(errs.peek())}")
      val runId = pipe.configHash.take(16)
      val led = new Ledger(dir)
      // exactly-once: N distinct indices, N total commits (no double-run)
      val idx = led.indexDf(spark, runId)
        .filter(col("status") === "completed")
      assert(idx.select("idx").distinct().count() == n)
      assert(idx.count() == n, "an index committed twice — claims leaked")
      import scala.jdk.CollectionConverters._
      assert(results.values().asScala.map(_.nExecuted).sum == n)
    }
  }

  test("fence loss aborts destructive maintenance: forced steal mid-rewrite") {
    // The r14 renewer discarded renew()'s Boolean: a holder whose lease
    // was stolen (GC pause past the TTL, or the lease race's residual
    // window) kept rewriting and deleting without exclusion. Now every
    // destructive phase runs checkFence() — renewer flag + a token
    // re-verify through the provider — and must abort BEFORE damage.
    withNaf(lease = true) {
      val dir = "naf://" + Files.createTempDirectory("graft-naf-steal").toString
      val led = new Ledger(dir)
      (0L until 8L).foreach(i => led.recordCompleted(spark, "r", Seq(i), 1L, 1L))
      val lockPath = new Path(s"$dir/_maintenance/compact.lock")
      val fs = lockPath.getFileSystem(hconf)
      val inBody = new java.util.concurrent.CountDownLatch(1)
      val stolen = new java.util.concurrent.CountDownLatch(1)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val victim = new Thread(() => {
        try {
          led.withMaintenanceLock(spark, "steal-victim", lockTtlMs = 60000L) {
            inBody.countDown()
            stolen.await()
            led.checkFence() // the gate every install/unlink phase runs
            throw new AssertionError("fence did not trip after the steal")
          }
        } catch { case t: Throwable => err.set(t) }
        ()
      })
      victim.start()
      inBody.await()
      // rival force-steals: ttl 0 treats ANY lease as stale and overwrites
      val rival = new LockProvider.Lease(60)
      assert(rival.tryAcquire(fs, lockPath, 0L), "rival failed to steal")
      stolen.countDown()
      victim.join()
      assert(err.get().isInstanceOf[IllegalStateException] &&
        err.get().getMessage.contains("lost mid-"),
        s"expected a fence abort, got ${err.get()}")
      // the victim's token-guarded release must NOT free the rival's lease
      assert(rival.verify(fs, lockPath),
        "victim's release deleted the rival's stolen lease")
      rival.release(fs, lockPath)
      // no destructive phase ran — ledger rows intact
      assert(led.completedIndices(spark, "r").count() == 8)
    }
  }

  test("release joins the renewer: no orphan lease after a renewing hold") {
    withNaf(lease = true) {
      val dir = "naf://" + Files.createTempDirectory("graft-naf-renew").toString
      val led = new Ledger(dir)
      val lockPath = new Path(s"$dir/_maintenance/compact.lock")
      val fs = lockPath.getFileSystem(hconf)
      // TTL small enough that the renewer fires (period = max(ttl/4, 250))
      led.withMaintenanceLock(spark, "renewing-hold", lockTtlMs = 1000L) {
        Thread.sleep(700) // at least one renew lands mid-hold
      }
      // release ran after interrupt+join: a renew past its token check
      // cannot re-PUT the lease after the delete — no orphan refusing
      // all maintenance until the TTL
      assert(!fs.exists(lockPath), "orphan lease left after release")
      // and the lock is immediately re-acquirable
      led.withMaintenanceLock(spark, "reacquire", lockTtlMs = 1000L)(())
      assert(!fs.exists(lockPath))
    }
  }

  test("maintenance lock serializes compactions on the adversarial store") {
    withNaf(lease = true) {
      val dir = "naf://" + Files.createTempDirectory("graft-naf-cmp").toString
      val led = new Ledger(dir)
      (0L until 30L).foreach(i => led.recordCompleted(spark, "r", Seq(i), 1L, 1L))
      val refused = new AtomicInteger(0)
      val failed = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val wins = race(3) { _ =>
        try { led.compact(spark, maxFilesPerTable = 4); true }
        catch {
          case e: IllegalStateException
              if e.getMessage.contains("already in progress") =>
            refused.incrementAndGet(); false
          case e: Throwable => failed.add(e); false
        }
      }
      assert(failed.isEmpty, s"compact crashed: ${Option(failed.peek())}")
      assert(wins <= 1, s"$wins concurrent compactors ran")
      assert(wins + refused.get() == 3)
      // zero loss regardless of who won
      assert(led.completedIndices(spark, "r").count() == 30)
    }
  }
}
