package perfbench

import scala.collection.mutable

/** Per-layer metrics of one traced pass, from its spans, the Spark events
  * that happened inside them and the counts read from its outputs.
  */
object Layers {

  /** Every per-layer metric with its unit, in reporting order. A workload
    * that bypasses a layer reports 0 for it.
    */
  val Units: Seq[(String, String)] = Seq(
    "core.runner.self_s" -> "s", "core.ledger.files" -> "count", "core.ledger.mb" -> "MB",
    "sources.vtu_read.self_s" -> "s", "sources.vtu_read.mb_per_s" -> "MB/s",
    "sources.table_read.self_s" -> "s",
    "operators.field.self_s" -> "s",
    "mesh.cell_mean.self_s" -> "s", "mesh.quality.self_s" -> "s", "mesh.cells" -> "count",
    "sinks.vtu_write.self_s" -> "s", "sinks.vtu_write.out_mb" -> "MB", "sinks.files" -> "count",
    "sinks.parquet_write.self_s" -> "s") ++
    Seq("exact", "shingle", "minhash", "bands", "verify", "cc")
      .map(s => s"operators.dedup.$s.self_s" -> "s") ++ Seq(
    "operators.dedup.candidates" -> "count", "operators.dedup.pairs" -> "count",
    "operators.dedup.candidate_yield" -> "frac", "operators.dedup.cc.jobs" -> "count",
    "operators.similarity.train.self_s" -> "s", "operators.similarity.semdedup.self_s" -> "s",
    "operators.similarity.dups" -> "count",
    "streaming.batch.self_s" -> "s", "streaming.query_start_s" -> "s",
    "streaming.plan_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.index.files" -> "count", "streaming.index.mb" -> "MB",
    "streaming.folds" -> "count", "streaming.verify_yield" -> "frac",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.planning_s" -> "s", "spark.codegen_s" -> "s",
    "spark.driver_only_s" -> "s", "spark.core_busy_frac" -> "frac",
    "jvm.live_heap_mb" -> "MB",
    "trace.pass_s" -> "s", "trace.overhead_s" -> "s", "trace.accounted_frac" -> "frac")

  def of(tr: Tracer, pass: Int, ev: Probes.PassEvents, ms0: Long, ms1: Long, wall: Double,
         cpus: Int, w: Workload): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val self = tr.selfSeconds(pass)
    self.foreach { case (s, v) => m(s.name + ".self_s") += v }
    val spans = self.map(_._1)
    def named(n: String) = spans.filter(_.name == n)
    def counted(n: String, k: String) = named(n).map(_.counts.getOrElse(k, 0.0)).sum

    // Spark events go to the innermost span open when they happened
    def innermost(tMs: Double): Option[Span] =
      spans.filter(s => tr.epochMs(s.startNs) <= tMs && tMs <= tr.epochMs(s.endNs))
        .maxByOption(_.startNs)
    val (jobs, tasks, stages) = (ev.jobs, ev.tasks, ev.stages)
    jobs.foreach(j => innermost(j.startMs.toDouble).foreach(s => add(s, "spark.jobs", 1)))
    tasks.foreach(t => innermost(t.endMs.toDouble).foreach { s =>
      add(s, "spark.tasks", 1)
      add(s, "spark.cpu_s", t.cpuNs / 1e9)
      add(s, "spark.shuffle_mb", t.shuffleWrite / 1e6)
    })

    val readS = m("sources.vtu_read.self_s")
    if (readS > 0) m("sources.vtu_read.mb_per_s") = counted("sources.vtu_read", "bytes") / 1e6 / readS
    val cands = counted("operators.dedup.bands", "rows")
    m("operators.dedup.candidates") = cands
    m("operators.dedup.pairs") = counted("operators.dedup.verify", "rows")
    if (cands > 0) m("operators.dedup.candidate_yield") = m("operators.dedup.pairs") / cands
    m("operators.dedup.cc.jobs") = counted("operators.dedup.cc", "spark.jobs")
    if (named("operators.similarity.semdedup").nonEmpty)
      m("operators.similarity.dups") =
        counted("operators.dedup.cc", "rows") - counted("operators.similarity.semdedup", "rows")

    if (w.streamStarts.nonEmpty) {
      val prog = ev.progress
      m("streaming.query_start_s") = w.streamStarts.map { s =>
        prog.find(_.startMs >= s).fold(0.0)(p => (p.startMs - s) / 1e3)
      }.sum
      def phase(keys: String*) = prog.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum).sum / 1e3
      m("streaming.plan_s") = phase("queryPlanning")
      m("streaming.add_batch_s") = phase("addBatch")
      m("streaming.commit_s") = phase("walCommit", "commitOffsets")
    }
    w.outputCounts().foreach { case (k, v) => m(k) = v }

    m("spark.jobs") = jobs.size
    m("spark.tasks") = stages.map(_.nTasks).sum
    m("spark.executor_run_s") = stages.map(_.executorRunNs).sum / 1e9
    m("spark.executor_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    m("spark.shuffle_mb") = tasks.map(_.shuffleWrite).sum / 1e6
    m("spark.spill_mb") = tasks.map(_.spill).sum / 1e6
    m("spark.planning_s") = ev.planMs.sum / 1e3 + m("streaming.plan_s")
    m("spark.codegen_s") = ev.codegenS
    val passIv = Seq((ms0.toDouble, ms1.toDouble))
    val driverIv = minus(passIv, jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    m("spark.driver_only_s") = length(driverIv) / 1e3
    m("spark.core_busy_frac") = m("spark.executor_run_s") / (wall * cpus)
    m("trace.pass_s") = wall
    // The share of the pass that a module's own work or driver-only time
    // explains: the self intervals of every span but the pass-wide Runner
    // wrapper (whose self time is the residual no child covers), united
    // with the intervals in which no Spark job ran. What is left is Spark
    // work outside every module span.
    def iv(s: Span) = (tr.epochMs(s.startNs), tr.epochMs(s.endNs))
    val selfIv = spans.filterNot(s => Wrappers(s.name)).flatMap(s =>
      minus(Seq(iv(s)), spans.filter(_.parent == s.id).map(iv)))
    val inPass = minus(passIv, minus(passIv, selfIv))
    m("trace.accounted_frac") = length(inPass ++ driverIv) / (ms1 - ms0).toDouble
    m.toMap
  }

  /** Spans that wrap a whole pass: their self time is a residual. */
  val Wrappers = Set("core.runner")

  private def add(s: Span, k: String, v: Double): Unit =
    s.counts(k) = s.counts.getOrElse(k, 0.0) + v

  type Iv = (Double, Double)

  /** The union of [start, end] intervals, as sorted disjoint intervals. */
  private def union(iv: Seq[Iv]): List[Iv] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((cs, ce) :: rest, (s, e)) if s <= ce => (cs, math.max(ce, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** The parts of `a` that no interval of `b` covers. */
  private def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cut = union(b)
    union(a).flatMap { case (s, e) =>
      val inside = cut.filter(c => c._2 > s && c._1 < e)
      val bounds = s +: inside.flatMap(c => Seq(c._1, c._2)) :+ e
      bounds.grouped(2).collect { case Seq(x, y) if y > x => (x, y) }.toSeq
    }
  }

  private def length(iv: Seq[Iv]): Double = union(iv).map(x => x._2 - x._1).sum

  def spanRecords(tr: Tracer): Seq[Seq[(String, Any)]] = {
    val passes = tr.all.map(_.pass).distinct
    passes.flatMap(p => tr.selfSeconds(p)).map { case (s, self) =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> tr.epochMs(s.startNs), "end_ms" -> tr.epochMs(s.endNs),
        "self_s" -> self, "counts" -> s.counts.toMap)
    }
  }
}
