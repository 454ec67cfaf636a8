package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.WelfordState
import graft.streaming.{StreamingJoin, StreamingStats}

/** Streaming semantics: windowed stats with watermark over a MemoryStream,
  * stateful Welford accumulation across triggers, and batch/stream agreement.
  */
class StreamingSpec extends SparkSpec {

  test("windowedGridStats over a MemoryStream matches the batch run") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    val base = 1700000040L  // minute-aligned epoch so the manual golden below holds
    val rows = Seq(
      ("t2m", 1.0, base + 10), ("t2m", 3.0, base + 50),      // window 0
      ("t2m", 5.0, base + 70), ("u10", 2.0, base + 20))       // window 1 / other key
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("variable", "value", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))

    val agg = StreamingStats.windowedGridStats(
      shape(input.toDF()), "ts", Seq("variable"), "value", "1 minute", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("wgs").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = s.table("wgs")
        .select("variable", "n", "mean", "min", "max")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

      val want = StreamingStats.windowedGridStats(
        shape(rows.toDF()), "ts", Seq("variable"), "value", "1 minute", "10 seconds")
        .select("variable", "n", "mean", "min", "max")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
      assert(got.exists { case (v, n, m) => v == "t2m" && n == 2 && m == 2.0 })
    } finally q.stop()
  }

  test("streaming CMS registers equal the batch sketch across triggers") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[String]
    val batch1 = Seq.fill(5)("alpha") ++ Seq("beta", "gamma")
    val batch2 = Seq.fill(3)("alpha") ++ Seq.fill(4)("delta")
    val regs = graft.streaming.StreamingSketch.cmsRegisters(
      input.toDF().toDF("tok"), "tok", d = 2, w = 64L)
    val q = regs.writeStream.format("memory").queryName("cmsregs")
      .outputMode("complete").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*) // registers must ACCUMULATE across triggers
      q.processAllAvailable()
      val got = s.table("cmsregs").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = graft.operators.StatsOps.cmsSketch(
        (batch1 ++ batch2).toDF("tok"), "tok", d = 2, w = 64L)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"stream $got != batch $want")
      assert(got.values.sum == (batch1.size + batch2.size) * 2L) // d copies
    } finally q.stop()
  }

  test("welfordPerKey accumulates state across triggers") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Double)]
    val q = StreamingStats.welfordPerKey(input.toDS())
      .toDF("key", "state")
      .writeStream.format("memory").queryName("wpk").outputMode("update").start()
    try {
      input.addData(("a", 2.0), ("a", 4.0), ("b", 10.0))
      q.processAllAvailable()
      input.addData(("a", 6.0))
      q.processAllAvailable()
      // last update for key 'a' must reflect ALL FOUR... (2,4,6) = 3 samples
      val last = s.table("wpk").select("key", "state.n", "state.mean", "state.m2")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      assert(last("a") == (("a", 3L, 4.0, 8.0)))   // [2,4,6]: mean 4, M2 8
      assert(last("b") == (("b", 1L, 10.0, 0.0)))
    } finally q.stop()
  }

  test("streaming near-dup candidates: cross-batch pairs, batch agreement") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = 1700000000L
    val d1 = (1L, "the quick brown fox jumps over the lazy dog", base + 1)
    val d2 = (2L, "completely different words about spark shuffles here", base + 2)
    val d3 = (3L, "the quick brown fox jumps over the lazy dog", base + 61) // dup of 1, later batch
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("doc_id", "text", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))

    val input = MemoryStream[(Long, String, Long)]
    val cand = StreamingDedup.nearDupCandidates(
      shape(input.toDF()), "doc_id", "text", "ts", k = 3,
      watermarkDelayMs = 600000L)
    val q = cand.writeStream.format("memory").queryName("ndc")
      .outputMode("append").start()
    try {
      input.addData(d1, d2)
      q.processAllAvailable()
      input.addData(d3)
      q.processAllAvailable()
      val got = s.table("ndc").select("ia", "ib")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the identical pair collides (state carried across micro-batches);
      // the unrelated doc never pairs
      assert(got == Set((1L, 3L)))
      // all 4 bands of an identical pair collide
      assert(s.table("ndc").filter(col("ia") === 1 && col("ib") === 3).count() == 4)
      // batch face agrees on the pair set
      val batch = StreamingDedup.nearDupCandidates(
        shape(Seq(d1, d2, d3).toDF()), "doc_id", "text", "ts", k = 3,
        watermarkDelayMs = 600000L)
        .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("incremental candidates vs standing index: tiers, novelty, batch face") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val index = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "spark shuffles partition data across the cluster nodes " +
        "while executors exchange sorted blocks during wide stages"))
      .toDF("doc_id", "text")
    val exactDup = (1L, "the quick brown fox jumps over the lazy dog")
    val nearDup = (3L, "spark shuffles partition data across the cluster racks " +
      "while executors exchange sorted blocks during wide stages")
    val novel = (5L, "an entirely unrelated sentence about volcanic geology")
    val input = MemoryStream[(Long, String)]
    val cand = StreamingDedup.incrementalCandidates(
      input.toDF().toDF("doc_id", "text"), index, "doc_id", "text", k = 3)
    val q = cand.writeStream.format("memory").queryName("sic")
      .outputMode("append").start()
    try {
      input.addData(exactDup, novel)
      q.processAllAvailable()
      input.addData(nearDup)
      q.processAllAvailable()
      val rows = s.table("sic")
        .select("id", "old_id", "tier").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // the exact dup hits BOTH tiers (identical text collides on every
      // band too); the near dup hits only the band tier; novel hits none
      assert(rows.contains((1L, 10L, "exact")))
      assert(rows.contains((1L, 10L, "near")))
      assert(rows.contains((3L, 12L, "near")))
      assert(!rows.exists(_._1 == 5L))
      assert(!rows.exists(r => r._1 == 3L && r._3 == "exact"))
      // batch face: same semantics on a batch incoming frame
      val batch = StreamingDedup.incrementalCandidates(
        Seq(exactDup, nearDup, novel).toDF("doc_id", "text"),
        index, "doc_id", "text", k = 3)
        .select("id", "old_id", "tier").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(batch == rows)
    } finally q.stop()
    // cold-start edge: an EMPTY standing index classifies everything novel
    // (no matches emitted) instead of failing on the empty static side
    val cold = StreamingDedup.incrementalCandidates(
      Seq(exactDup, nearDup, novel).toDF("doc_id", "text"),
      index.limit(0), "doc_id", "text", k = 3)
    assert(cold.count() == 0)
  }

  test("folding incremental dedup: batch N+1 dedups against batch N; resume + replay safe") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fold").toString
    val (inDir, idxDir, outDir, ckDir) =
      (s"$root/in", s"$root/idx", s"$root/out", s"$root/ck")
    val seedDoc = (10L, "the quick brown fox jumps over the lazy dog")
    StreamingDedup.seedIndex(Seq(seedDoc).toDF("doc_id", "text"),
      "doc_id", "text", 3, idxDir)
    // batch 1: a seed dup, a NOVEL doc, and a within-batch copy of it
    val novelText = "an entirely unrelated sentence about volcanic geology"
    Seq((1L, seedDoc._2), (2L, novelText), (3L, novelText))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$inDir/f1")
    def run(): Unit = {
      val stream = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true").parquet(inDir)
      val q = StreamingDedup.foldingIncrementalDedup(stream,
        "doc_id", "text", 3, idxDir, outDir, ckDir)
      q.awaitTermination()
    }
    run() // processes batch 1, then the AvailableNow query terminates
    def matches() = s.read.parquet(outDir)
      .filter(col("tier") === "exact")
      .select("id", "old_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // seed dup matched; within-batch copy matched its min-id winner;
    // the novel winner matched nothing and FOLDED into the index
    assert(matches() == Set((1L, 10L), (3L, 2L)))
    // batch 2 (a later file + a fresh AvailableNow run = the
    // kill-between-batches resume shape): a copy of batch 1's novel doc
    // must now be an EXACT dup of it via the folded index
    Seq((4L, novelText)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$inDir/f2")
    run()
    assert(matches() == Set((1L, 10L), (3L, 2L), (4L, 2L)))
    // crash-replay idempotence: re-applying a batch id wipes and
    // re-installs its own files — no doubled matches, no doubled keys
    val keysBefore = s.read.parquet(idxDir).count()
    val rowsBefore = s.read.parquet(outDir).count()
    StreamingDedup.applyIncrementalBatch(
      Seq((4L, novelText)).toDF("doc_id", "text"), 1L,
      "doc_id", "text", 3, idxDir, outDir)
    assert(s.read.parquet(outDir).count() == rowsBefore)
    assert(s.read.parquet(idxDir).count() == keysBefore)
    assert(matches() == Set((1L, 10L), (3L, 2L), (4L, 2L)))
  }

  test("folding index compaction: file count bounded, classification identical, crash-mid-fold safe") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    def docs(i: Long) = Seq(
      (100 * i + 1, s"novel document number $i about topic ${i % 7} in depth"),
      (100 * i + 2, "the quick brown fox jumps over the lazy dog")) // seed dup
      .toDF("doc_id", "text")
    def runLoop(root: String, maxFiles: Int, n: Int): Unit = {
      StreamingDedup.seedIndex(
        Seq((10L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text"), "doc_id", "text", 3, s"$root/idx")
      (0 until n).foreach(i => StreamingDedup.applyIncrementalBatch(
        docs(i.toLong), i.toLong, "doc_id", "text", 3,
        s"$root/idx", s"$root/out", maxIndexFiles = maxFiles))
    }
    def idxFiles(root: String) = new java.io.File(s"$root/idx").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
    def verdicts(root: String) = s.read.parquet(s"$root/out")
      .select("id", "old_id", "tier").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val n = 24
    val folded = java.nio.file.Files.createTempDirectory("graft-foldc").toString
    val unfolded = java.nio.file.Files.createTempDirectory("graft-foldu").toString
    runLoop(folded, maxFiles = 6, n = n)
    runLoop(unfolded, maxFiles = 0, n = n) // compaction off
    // classification identical with and without folding
    assert(verdicts(folded) == verdicts(unfolded))
    assert(verdicts(folded).contains((2L, 10L, "exact"))) // seed dup in b0
    // file count bounded (≤ threshold + one batch install + fold parts),
    // not O(batches); the unfolded dir shows the wall being killed
    assert(idxFiles(folded).size <= 10,
      s"folded index grew to ${idxFiles(folded).size} files")
    assert(idxFiles(unfolded).size > n, "unfolded baseline did not grow")
    // crash-after-install-before-delete: restore superseded files next to
    // the live fold (the exact mid-fold kill state) — reads must not
    // double-count, and the next maintenance janitors them
    val idxPath = new org.apache.hadoop.fs.Path(s"$folded/idx")
    val fs = idxPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val preCrash = verdicts(folded)
    // fabricate the leftover state: copy a live fold part back under a
    // STALE batch prefix (a source file the fold's delete never reached)
    val aLive = idxFiles(folded).find(_.startsWith("fold")).get
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$folded/idx/$aLive"),
      java.nio.file.Paths.get(s"$folded/idx/b0_leftover.parquet"))
    // the reader's committed set must exclude the superseded leftover
    assert(!StreamingDedup.committedIndexFiles(fs, idxPath)._1
      .map(_.getName).contains("b0_leftover.parquet"))
    // replaying the NEXT batch reads only the committed set: verdicts for
    // a fresh arrival of a known doc are unchanged (no doubled matches)
    StreamingDedup.applyIncrementalBatch(
      Seq((9001L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), n.toLong, "doc_id", "text", 3,
      s"$folded/idx", s"$folded/out", maxIndexFiles = 6)
    val post = s.read.parquet(s"$folded/out")
      .filter(col("id") === 9001L && col("tier") === "exact").count()
    assert(post == 1L, s"mid-fold leftover double-counted: $post exact rows")
    assert(verdicts(folded) -- preCrash ==
      Set((9001L, 10L, "exact"), (9001L, 10L, "near")))
  }

  test("fold fence: a stolen lease aborts before the delete phase; nothing destroyed; retry resolves clean") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    // lease provider on the simulated non-atomic store: the fence's token
    // read-back is what detects a steal (create-exclusive has no token)
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.naf.impl", classOf[NonAtomicFileSystem].getName)
    hc.set("fs.naf.impl.disable.cache", "true")
    hc.set("graft.lock.provider.naf", "lease")
    hc.set("graft.lock.lease.settle.ms", "10")
    val root = java.nio.file.Files.createTempDirectory("graft-foldfence").toString
    val idx = s"naf://$root/idx"
    StreamingDedup.seedIndex(
      Seq((10L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), "doc_id", "text", 3, idx)
    (0 until 6).foreach(i => StreamingDedup.applyIncrementalBatch(
      Seq((100L * i + 1, s"novel doc $i about subject ${i % 3} in detail"))
        .toDF("doc_id", "text"), i.toLong, "doc_id", "text", 3,
      idx, s"$root/out", maxIndexFiles = 0)) // accrete, no fold yet
    val p = new org.apache.hadoop.fs.Path(idx)
    val fs = p.getFileSystem(hc)
    def names() = fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    def committedRows() = {
      val files = StreamingDedup.committedIndexFiles(fs, p)._1
      s.read.option("mergeSchema", "true")
        .parquet(files.map(_.toString): _*)
        .select("old_id", "key", "tier").distinct().collect()
        .map(_.mkString("|")).toSet
    }
    val preNames = names()
    val preRows = committedRows()
    // steal the lease between the fold's install and its delete pass —
    // the delete fence (token read-back) must abort with nothing deleted
    StreamingDedup.postFoldInstallHook = () => {
      val lock = new org.apache.hadoop.fs.Path(s"$idx/_maintenance/fold.lock")
      val rival = new graft.core.LockProvider.Lease(10L)
      assert(rival.tryAcquire(fs, lock, 0L), "steal failed")
      rival.release(fs, lock)
    }
    try {
      val e = intercept[IllegalStateException] {
        StreamingDedup.maintainIndexDir(s, idx, currentBatchId = 6L,
          maxFiles = 4)
      }
      assert(e.getMessage.contains("lost mid-fold delete"), e.getMessage)
    } finally StreamingDedup.postFoldInstallHook = () => ()
    // abort happened AFTER install, BEFORE delete: every pre-fold file
    // survives, the new fold generation is present, and the resolved
    // read set is byte-identical (duplicate FILES tolerated, rows never)
    val postNames = names()
    assert(preNames.subsetOf(postNames),
      s"fence abort lost files: ${preNames.diff(postNames)}")
    assert(postNames.exists(_.startsWith("fold6_")), "fold install missing")
    assert(committedRows() == preRows, "resolved rows drifted across abort")
    // the replayed batch transition skips (generation 6 already folded)
    // and a LATER watermark's fold janitors the leftovers
    assert(!StreamingDedup.maintainIndexDir(s, idx, 6L, maxFiles = 4))
    StreamingDedup.applyIncrementalBatch(
      Seq((9001L, "one more novel row to advance the watermark"))
        .toDF("doc_id", "text"), 6L, "doc_id", "text", 3,
      idx, s"$root/out", maxIndexFiles = 4)
    assert(committedRows().size >= preRows.size)
  }

  test("fold delete is snapshot-scoped: a rival install landing mid-fold survives and stays readable") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-foldsnap").toString
    val idx = s"$root/idx"
    StreamingDedup.seedIndex(
      Seq((10L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), "doc_id", "text", 3, idx)
    (0 until 6).foreach(i => StreamingDedup.applyIncrementalBatch(
      Seq((100L * i + 1, s"novel doc $i about subject ${i % 3} in detail"))
        .toDF("doc_id", "text"), i.toLong, "doc_id", "text", 3,
      idx, s"$root/out", maxIndexFiles = 0))
    val p = new org.apache.hadoop.fs.Path(idx)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a rival backfill installs batch 9's keys between the fold's
    // snapshot and its delete pass (the ADVICE r15 interleave): the
    // old rule deleted everything-not-the-new-fold, losing these rows
    // before they were ever folded
    StreamingDedup.postFoldInstallHook = () =>
      StreamingDedup.applyIncrementalBatch(
        Seq((9901L, "rival backfill doc that must survive the fold"))
          .toDF("doc_id", "text"), 9L, "doc_id", "text", 3,
        idx, s"$root/out", maxIndexFiles = 0)
    try assert(StreamingDedup.maintainIndexDir(s, idx, 6L, maxFiles = 4))
    finally StreamingDedup.postFoldInstallHook = () => ()
    val names = fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    assert(names.exists(_.startsWith("b9_")), "rival install deleted")
    assert(!names.exists(_.startsWith("seed_")), "folded seed not janitored")
    assert(!names.exists(_.startsWith("b0_")), "folded batch not janitored")
    // and the survivor is READABLE: committed set = fold6 + b>=6
    val files = StreamingDedup.committedIndexFiles(fs, p)._1
    val rows = s.read.option("mergeSchema", "true")
      .parquet(files.map(_.toString): _*)
    assert(rows.filter(col("old_id") === 9901L).count() > 0,
      "rival rows not in the committed read set")
    assert(rows.filter(col("old_id") === 10L).count() > 0,
      "seed rows lost by the fold")
  }

  test("verify tier tau=8/16 operating point pinned on the labeled near-dup fixture") {
    // the tau-curve fixture at nBase=400 (BASELINE.md "Verify-tier tau
    // operating curve"):
    // engineered kept-prefix pairs with exact 3-shingle Jaccard
    // (m-2)/(116-(m-2)), label = J >= 0.5. The default tau = 8/16 must
    // keep its measured row: >= 99% of candidate dups verified (exactly
    // one false reject on this fixture) at precision >= 0.75. Guards the
    // threshold semantics AND the signature plumbing end to end.
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    val bigT = 60
    val grid = Seq(10, 16, 22, 28, 34, 38, 40, 42, 44, 48, 52, 55)
    def tokens(doc: Int, tag: String, from: Int, until: Int): Seq[String] =
      (from until until).map(j => s"${tag}${doc}_t$j")
    val rows = (0 until 400).flatMap { i =>
      val m = grid(i % grid.size)
      val base = tokens(i, "d", 0, bigT)
      val variant = tokens(i, "d", 0, m) ++ tokens(i, "v", m, bigT)
      val sShared = (m - 2).toDouble
      val j = sShared / (2.0 * (bigT - 2) - sShared)
      Seq((i.toLong, base.mkString(" "), -1.0),
        (100000L + i, variant.mkString(" "), j))
    }
    val df = rows.toDF("doc_id", "text", "jaccard")
    val labels = df.filter(col("jaccard") >= 0).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2) >= 0.5)).toMap
    def runAt(tau: Double): Map[Long, String] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft-taupin").toString
      StreamingDedup.seedIndex(df.filter(col("jaccard") < 0)
        .select("doc_id", "text"), "doc_id", "text", 3, s"$root/idx")
      StreamingDedup.applyIncrementalBatch(
        df.filter(col("jaccard") >= 0).select("doc_id", "text"), 0L,
        "doc_id", "text", 3, s"$root/idx", s"$root/out",
        maxIndexFiles = 0, verifyTau = tau)
      s.read.parquet(s"$root/out")
        .filter(col("tier").isin("near", "near_verified"))
        .select("id", "tier").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val candidates = runAt(0.0).keySet
    val candDup = candidates.count(labels(_))
    val verified = runAt(0.5).filter(_._2 == "near_verified").keySet
    val tp = verified.count(labels(_))
    val fp = verified.size - tp
    // exact deterministic pins from the measured curve
    assert(candDup == 103, s"candidate dup census drifted: $candDup")
    assert(tp == 102 && fp == 30,
      s"tau=8/16 row drifted: tp=$tp fp=$fp (expected 102/30)")
    assert(candDup - tp == 1, s"false rejects at tau=8: ${candDup - tp}")
  }

  test("folding verify tier: low-estimate band collision rejected, high verified") {
    import graft.streaming.StreamingDedup
    import graft.operators.DedupOps
    val s = spark
    import s.implicits._
    // search a deterministic fixture: an indexed text and an arrival that
    // COLLIDE on at least one full MinHash band yet agree on fewer than
    // half the signature components (est < 0.5) — the pair the band tier
    // admits and the verify tier must reject
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val baseSig = DedupOps.minhashSigRow(base, 3)
    def bandsOf(sig: Array[Long]): Set[Int] =
      (0 until DedupOps.NumPerms / DedupOps.BandRows).filter { b =>
        (0 until DedupOps.BandRows).forall(r =>
          sig(b * DedupOps.BandRows + r) == baseSig(b * DedupOps.BandRows + r))
      }.toSet
    def agree(sig: Array[Long]): Int =
      sig.indices.count(i => sig(i) == baseSig(i))
    // candidates must share ALL base shingles (base + junk suffix): a
    // signature position can only ever agree when the base's own argmin
    // shingle is shared, so a partially-shared prefix deterministically
    // blocks whole bands regardless of the suffix
    val lowCand = (0 until 20000).iterator.map { i =>
      base + (1 to 12).map(j => s" junk${i}x$j").mkString
    }.find { t =>
      val sg = DedupOps.minhashSigRow(t, 3)
      bandsOf(sg).nonEmpty && agree(sg) < DedupOps.NumPerms / 2
    }
    assert(lowCand.isDefined, "no band-collision-low-agreement fixture found")
    val highCand = base + " iota" // near-identical: most components agree
    assert(agree(DedupOps.minhashSigRow(highCand, 3)) >= DedupOps.NumPerms / 2)
    val root = java.nio.file.Files.createTempDirectory("graft-foldv").toString
    StreamingDedup.seedIndex(Seq((10L, base)).toDF("doc_id", "text"),
      "doc_id", "text", 3, s"$root/idx")
    StreamingDedup.applyIncrementalBatch(
      Seq((1L, lowCand.get), (2L, highCand)).toDF("doc_id", "text"),
      0L, "doc_id", "text", 3, s"$root/idx", s"$root/out",
      verifyTau = 0.5)
    val out = s.read.parquet(s"$root/out")
      .select("id", "old_id", "tier").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set((2L, 10L, "near_verified")),
      s"verify tier emitted $out")
    // control: with verify OFF the low-estimate collision passes as a
    // candidate — the tier is exactly what separates them
    val root2 = java.nio.file.Files.createTempDirectory("graft-foldv0").toString
    StreamingDedup.seedIndex(Seq((10L, base)).toDF("doc_id", "text"),
      "doc_id", "text", 3, s"$root2/idx")
    StreamingDedup.applyIncrementalBatch(
      Seq((1L, lowCand.get), (2L, highCand)).toDF("doc_id", "text"),
      0L, "doc_id", "text", 3, s"$root2/idx", s"$root2/out")
    val out2 = s.read.parquet(s"$root2/out")
      .select("id", "tier").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out2 == Set((1L, "near"), (2L, "near")))
  }

  test("streaming state equals the batch Welford aggregator") {
    val s = spark
    import s.implicits._
    val xs = (1 to 100).map(i => ("k", math.cos(i) * 10))
    val batch = StreamingStats.welfordPerKey(xs.toDS()).collect()(0)._2
    val direct = xs.map(_._2).foldLeft(WelfordState.zero)(WelfordState.update)
    assert(batch.n == direct.n && math.abs(batch.mean - direct.mean) < 1e-12 &&
      math.abs(batch.m2 - direct.m2) < 1e-9)
  }

  test("sessionAgg batch face: windows merge on touch, split past the gap") {
    val s = spark
    import s.implicits._
    val gapUs = 3600L * 1000000 // 1 hour
    val rows = Seq(
      (1L, 0L, 1.0),               // session A starts
      (1L, gapUs, 2.0),            // exactly gap after previous -> MERGES (touch)
      (1L, 2 * gapUs + 1, 4.0),    // gap+1us after previous -> new session
      (2L, 0L, 8.0))
      .toDF("user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = graft.streaming.StreamingSessions
      .sessionAgg(rows, "user_id", "ts", "value", "1 hour", "1 hour")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3))
    assert(out.toSeq == Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0))
      .sortBy(x => (x._1, x._3)))
  }

  test("intervalJoin: stream-stream matches the batch face, across triggers") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val li = MemoryStream[(Long, Long)]   // (user, impression epoch sec)
    val rc = MemoryStream[(Long, Long, Double)] // (user, click epoch sec, value)
    val base = 1700000000L
    val imps = Seq((1L, base), (1L, base + 5000), (2L, base))
    val clks = Seq(
      (1L, base + 100, 1.0),   // matches impression 1 only
      (1L, base + 3599, 2.0),  // still inside the 1h window of impression 1
      (1L, base + 3601, 3.0),  // outside impression 1, before impression 2
      (1L, base + 5100, 4.0),  // matches impression 2
      (2L, base - 10, 5.0),    // before the impression: no match
      (3L, base + 10, 6.0))    // keyless
    def shapeI(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "i_epoch")
      .select(col("user_id"), timestamp_seconds(col("i_epoch")).as("i_ts"))
    def shapeC(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "c_epoch", "value")
      .select(col("user_id"), timestamp_seconds(col("c_epoch")).as("c_ts"),
        col("value"))
    val joined = StreamingJoin.intervalJoin(
      shapeI(li.toDF()), shapeC(rc.toDF()), "user_id", "i_ts", "c_ts",
      window = "1 HOUR", watermarkDelay = "2 hours")
    val q = joined.writeStream.format("memory").queryName("sij")
      .outputMode("append").start()
    try {
      // split across triggers: cross-batch matches must still pair up
      li.addData(imps.take(2): _*); rc.addData(clks.take(2): _*)
      q.processAllAvailable()
      li.addData(imps.drop(2): _*); rc.addData(clks.drop(2): _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("i_ts").getTime,
          r.getAs[Double]("value"))
      val got = s.table("sij").collect().map(key(_)).toSet
      val want = StreamingJoin.intervalJoin(
        shapeI(imps.toDF()), shapeC(clks.toDF()), "user_id", "i_ts", "c_ts",
        window = "1 HOUR", watermarkDelay = "2 hours").collect().map(key).toSet
      assert(got === want)
      // golden: clicks 1, 2 pair with impression 1; click 4 with impression 2
      assert(want === Set(
        (1L, base * 1000, 1.0), (1L, base * 1000, 2.0),
        (1L, (base + 5000) * 1000, 4.0)))
    } finally q.stop()
  }

  test("StatePartitions: size-derived, floored at min(4, session), capped at session") {
    import graft.streaming.StatePartitions
    val s = spark
    val old = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "32")
      // tiny input: the min(4, session) floor governs
      assert(StatePartitions.forBytes(s, 1L << 20) === 4)
      // size governs between floor and cap: 640 MB / 64 MB = 10
      assert(StatePartitions.forBytes(s, 640L << 20) === 10)
      // huge input: capped by the session's configured parallelism
      assert(StatePartitions.forBytes(s, 1L << 40) === 32)
      // a smaller session parallelism caps the floor too
      s.conf.set("spark.sql.shuffle.partitions", "2")
      assert(StatePartitions.forBytes(s, 1L << 20) === 2)
      // the bytes-per-partition knob rescales the derivation
      s.conf.set("spark.sql.shuffle.partitions", "32")
      s.conf.set(StatePartitions.BytesPerPartitionKey, (1L << 20).toString)
      assert(StatePartitions.forBytes(s, 8L << 20) === 8)
      // scaled() restores the session value even on failure
      intercept[RuntimeException] {
        StatePartitions.scaled(s, 1L << 20) { throw new RuntimeException("x") }
      }
      assert(s.conf.get("spark.sql.shuffle.partitions") === "32")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", old)
      s.conf.unset(StatePartitions.BytesPerPartitionKey)
    }
  }
}
