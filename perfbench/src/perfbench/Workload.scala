package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark workload. A pass is the timed unit; `reset` runs before
  * it and `check` after it, both outside its wall time. The warm-up pass
  * (`warm` true) is shorter but runs every code path, so that compilation
  * is done before the timed passes.
  */
trait Workload {
  /** Operation latencies are per this unit (index, batch). */
  def opUnit: String
  /** Bytes one timed pass reads as input. */
  def inputBytes: Long
  /** Generate and write the inputs. Repeatable: each call rewrites them. */
  def prepare(): Unit
  /** Empty every output, ledger and checkpoint directory a pass writes. */
  def reset(): Unit
  /** Operations a pass attempts. */
  def opsPerPass(warm: Boolean): Int
  /** Run one pass; returns the latency of each operation in seconds. */
  def run(tr: Tracer, warm: Boolean): Seq[Double]
  /** Check the last pass's outputs: (operations failed, messages). */
  def check(): (Int, Seq[String])
  /** Damage the last pass's output (the benchmark's negative test). */
  def corrupt(): Unit
  /** Counts read from the last pass's outputs, for the traced run. */
  def outputCounts(): Map[String, Double]
  /** Wall-clock ms at each streaming query start of the last pass. */
  def streamStarts: Seq[Long] = Nil
  /** Sizes and planted shares, recorded in the artifact. */
  def describe: Map[String, Any]
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def fresh(p: Path): Path = { delete(p); Files.createDirectories(p) }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sorted finally s.close()
    }

  /** (file count, megabytes) under `p`. */
  def stats(p: Path): (Double, Double) = {
    val fs = files(p)
    (fs.size.toDouble, fs.map(Files.size).sum / 1e6)
  }

  def copyTree(from: Path, to: Path): Unit = files(from).foreach { f =>
    val t = to.resolve(from.relativize(f))
    Files.createDirectories(t.getParent)
    Files.copy(f, t)
  }

  /** Rewrite a parquet output with `edit` applied to its rows. */
  def rewriteParquet(spark: SparkSession, dir: Path)(edit: Seq[Row] => Seq[Row]): Unit = {
    val df = spark.read.parquet(dir.toString)
    val rows = edit(df.collect().toSeq)
    val schema = df.schema
    delete(dir)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir.toString)
  }

  def parquetRows(spark: SparkSession, dir: Path, cols: String*): Seq[Row] =
    if (files(dir).isEmpty) Nil
    else spark.read.parquet(dir.toString).select(cols.head, cols.tail: _*).collect().toSeq
}
