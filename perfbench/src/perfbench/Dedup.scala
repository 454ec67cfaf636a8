package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Curation then ingestion in one pass: the corpus pipeline
  * ([[CorpusDedup]]) followed by the closed ingest loop ([[IngestDedup]]).
  * One workload, not two, so the dedup, similarity and streaming layers
  * share one JVM's set-up and warm-up, which keeps a run inside the run
  * budget. Latencies are per ingest batch; the curation pass shows in
  * `input_mb_per_s` and in its own spans.
  */
final class Dedup(spark: SparkSession, work: Path, seed: Long, tiny: Boolean)
    extends Workload {
  private val corpus = new CorpusDedup(spark, work.resolve("corpus"), seed, tiny)
  private val ingest = new IngestDedup(spark, work.resolve("ingest"), seed, tiny)

  def opUnit = "batch"
  def inputBytes: Long = corpus.inputBytes + ingest.inputBytes
  /** The curation pass counts as one operation, each batch as one. */
  def opsPerPass(warm: Boolean): Int = 1 + ingest.batches(warm)
  def prepare(): Unit = { corpus.prepare(); ingest.prepare() }
  def reset(): Unit = { corpus.reset(); ingest.reset() }
  def run(tr: Tracer, warm: Boolean): Seq[Double] = {
    corpus.run(tr, warm)
    ingest.run(tr, warm)
  }
  def check(): (Int, Seq[String]) = {
    val (cf, ce) = corpus.check()
    val (bf, be) = ingest.check()
    (cf + bf, ce ++ be)
  }
  /** Damages both stages' outputs, so the negative test shows that each
    * stage's check fails on its own.
    */
  def corrupt(): Unit = { corpus.corrupt(); ingest.corrupt() }
  def outputCounts(): Map[String, Double] = corpus.outputCounts() ++ ingest.outputCounts()
  override def streamStarts: Seq[Long] = ingest.streamStarts
  def describe: Map[String, Any] = Map("corpus" -> corpus.describe, "ingest" -> ingest.describe)
}
