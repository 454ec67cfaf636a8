package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One span: a call from benchmark code into one of the program's modules. */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
                 val startNs: Long) {
  var endNs: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around module calls, kept in memory and written once at
  * the end of the run. When enabled, `mat` forces a span's output to
  * materialise before the span closes, so each span holds only its own
  * layer's work; when disabled, spans and `mat` cost nothing.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  var enabled = false
  var pass = -1
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Wall-clock ms of a span timestamp, to line spans up with Spark events. */
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, stack.headOption.fold(-1)(_.id), pass,
        System.nanoTime())
      spans += s
      stack = s :: stack
      try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Materialise `df` inside the current span (traced runs only). */
  def mat(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      count("rows", p.count().toDouble)
      p
    }

  /** Persist `df` for the rest of the pass, traced or not: the program's
    * operators expect callers to cache a frame they reference twice.
    */
  def hold(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    p
  }

  /** Add to a count of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  def release(): Unit = { held.foreach(_.unpersist(blocking = false)); held.clear() }

  def of(pass: Int): Seq[Span] = spans.filter(_.pass == pass).toSeq
  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(pass: Int): Seq[(Span, Double)] = {
    val ss = of(pass)
    val childSum = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.map(s => s -> (s.seconds - childSum.getOrElse(s.id, 0.0)))
  }
}

/** Spark-side counts for a pass: the program's `core.StageListener` gives
  * stage and task counts and executor run time; a task/job listener adds
  * what it does not record (job intervals, CPU, GC, shuffle and spill
  * bytes); a query-execution listener gives planning time; a streaming
  * listener gives the micro-batch phases. Job and task events keep their
  * own timestamps so they can be attributed to the span open at the time.
  */
final class Probes(spark: SparkSession) {
  import Probes._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  /** Analysis + optimisation + planning ms of each completed query. */
  private val plans = new ConcurrentLinkedQueue[java.lang.Long]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private var stages: graft.core.StageListener = _

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled))
      }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      plans.add(qe.tracker.phases.values.map(_.durationMs).sum)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  // ------------------------------------------------------------ passes
  private var codegen0 = 0L

  def beginPass(): Unit = {
    drain()
    jobs.clear(); tasks.clear(); plans.clear(); progress.clear()
    stages = graft.core.StageListener.attach(spark)
    codegen0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  }

  /** Drain the listener bus and snapshot what this pass recorded, before
    * the output check runs jobs of its own.
    */
  def endPass(): PassEvents = {
    drain()
    graft.core.StageListener.detach(spark, stages)
    PassEvents(stages.records,
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime -
        codegen0) / 1e9,
      jobs.asScala.toSeq, tasks.asScala.toSeq, plans.asScala.map(_.longValue).toSeq,
      progress.asScala.toSeq.sortBy(_.startMs))
  }

  private def drain(): Unit =
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
}

object Probes {
  final case class Job(startMs: Long, endMs: Long)
  final case class Task(endMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)
  final case class Progress(startMs: Long, durations: Map[String, Long])
  final case class PassEvents(stages: Seq[graft.core.StageListener#StageRec], codegenS: Double,
                              jobs: Seq[Job], tasks: Seq[Task], planMs: Seq[Long],
                              progress: Seq[Progress])
}
