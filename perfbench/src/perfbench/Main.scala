package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up (session, inputs generated, one warm-up
  * pass), then timed passes for `--seconds` (at least one). Every
  * pass starts from emptied outputs and is checked afterwards. With
  * `--trace 1` untraced and traced passes alternate: the traced ones give
  * the per-layer metrics, the difference gives the tracing overhead.
  *
  * The last stdout line is the summary; the full record goes to
  * `--artifact`. Exit code 1 when any output check failed.
  */
object Main {

  final case class PassRec(index: Int, traced: Boolean, wallS: Double, attempted: Int,
                           ops: Seq[Double],
                           failed: Int, errors: Seq[String], layers: Map[String, Double],
                           liveHeapBytes: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val tiny = a("size") == "tiny"
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val load0 = loadavg()
    val steal0 = cpuTicks()
    Fs.fresh(work)

    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probes = new Probes(spark)
    val tr = new Tracer
    val w: Workload = name match {
      case "mesh_etl" => new MeshEtl(spark, work.resolve("mesh"), seed, tiny)
      case "dedup" => new Dedup(spark, work, seed, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val prepS = timed(w.prepare())
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def pass(i: Int, traced: Boolean, warm: Boolean = false): PassRec = {
      w.reset()
      probes.beginPass()
      tr.enabled = traced
      tr.pass = i
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = Try(w.run(tr, warm))
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      tr.enabled = false
      val events = probes.endPass()
      // live heap at the end of a traced pass, its frames still cached; the
      // full GC this takes would slow the next pass, so untraced passes skip it
      val liveHeap =
        if (!traced) 0L
        else { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      val (nFailed, errors) = out match {
        case Success(_) =>
          if (a("corrupt") == "1" && i == 0) w.corrupt()
          w.check()
        case Failure(e) => (w.opsPerPass(warm), Seq(s"pass failed: $e"))
      }
      val layers =
        if (!traced || out.isFailure) Map.empty[String, Double]
        else Layers.of(tr, i, events, ms0, ms1, wall, cpus, w)
      tr.release()
      spark.catalog.clearCache()
      PassRec(i, traced, wall, w.opsPerPass(warm), out.getOrElse(Nil), nFailed, errors, layers,
        liveHeap)
    }

    val warm = pass(-1, traced = false, warm = true)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    var i = 0
    def haveBoth = passes.exists(_.traced) && passes.exists(!_.traced)
    // a pass starts only if, at the last pass's pace, it ends less than half
    // a pass after the window
    def fits =
      (System.nanoTime() - t0) / 1e9 + passes.last.wallS / 2 <= seconds
    while (passes.isEmpty || (traceRun && !haveBoth) || fits) {
      passes += pass(i, traced = traceRun && i % 2 == 1)
      i += 1
    }
    val load1 = loadavg()
    val steal1 = cpuTicks()
    val stealFrac = (steal1._1 - steal0._1) / math.max(1.0, steal1._2 - steal0._2)

    val all = warm +: passes.toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val correct = failed == 0
    val untraced = passes.filterNot(_.traced).toSeq
    val ops = untraced.flatMap(_.ops)
    val (tailP, tail) = Stats.tail(ops)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "input_mb_per_s" -> (w.inputBytes / 1e6 / Stats.median(untraced.map(_.wallS)), "MB/s"),
      "op_p50_s" -> (Stats.median(ops), "s"),
      "op_tail_s" -> (tail, "s"))
    val traced = passes.filter(_.traced).toSeq
    val perLayer: Seq[(String, (Double, String))] =
      if (!traceRun) Nil
      else Layers.Units.map { case (k, unit) =>
        val v = k match {
          case "trace.overhead_s" =>
            Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS))
          case "jvm.live_heap_mb" => traced.map(_.liveHeapBytes).max / 1e6
          case "trace.accounted_frac" =>
            if (traced.isEmpty) 0.0 else traced.map(_.layers.getOrElse(k, 0.0)).min
          case _ => Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))
        }
        k -> (v, unit)
      }
    val metrics = if (traceRun) perLayer else e2e

    val artifact = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traceRun,
      "size" -> a("size"), "cpus" -> cpus,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_start" -> load0, "loadavg_end" -> load1, "cpu_steal_frac" -> stealFrac,
      "op_unit" -> w.opUnit, "op_samples" -> ops.size, "op_tail_pct" -> tailP,
      "inputs" -> w.describe,
      "setup" -> Json.obj("setup_s" -> setupS, "prepare_s" -> prepS, "warmup_s" -> warm.wallS),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "errors" -> all.flatMap(_.errors),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "passes" -> all.map(p => Json.obj("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "ops_s" -> p.ops, "failed" -> p.failed,
        "live_heap_mb" -> p.liveHeapBytes / 1e6, "layers" -> p.layers)),
      "spans" -> Layers.spanRecords(tr))
    Files.createDirectories(Paths.get(a("artifact")).toAbsolutePath.getParent)
    Files.write(Paths.get(a("artifact")), Json.render(artifact).getBytes("UTF-8"))

    all.flatMap(_.errors).take(20).foreach(e => System.err.println(s"[perfbench] CHECK FAILED $e"))
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) })))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies of all cpus, from /proc/stat. */
  private def cpuTicks(): (Double, Double) =
    Try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toDouble)
      (f(7), f.take(8).sum)
    }.getOrElse((0.0, 0.0))

  private def loadavg(): Double =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble)
      .getOrElse(-1.0)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest nearest-rank percentile that still has a sample above
    * it, so that one outlier cannot set it: the second-largest of n
    * samples, percentile 100 (n - 1) / n; a single sample is its own
    * tail. Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = xs.size match {
    case 0 => (100.0, 0.0)
    case 1 => (100.0, xs.head)
    case n => (100.0 * (n - 1) / n, xs.sorted.apply(n - 2))
  }
}

/** Minimal JSON rendering for the artifact and the summary line. */
object Json {
  def obj(kv: (String, Any)*): Seq[(String, Any)] = kv

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] if m.isEmpty => "{}"
    case m: Map[_, _] => render(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
          case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => render(k) + ":" + render(x); case _ => "" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
