package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.streaming.StreamingDedup

/** Closed-loop ingestion into a standing dedup index: one client lands
  * batch k+1 only after batch k's matches are committed. Each batch is one
  * `foldingIncrementalDedup` query (AvailableNow trigger) with the in-loop
  * verify tier on; the index folds every few batches. The ingestion stage
  * of [[Dedup]].
  */
final class IngestDedup(spark: SparkSession, work: Path, seed: Long, tiny: Boolean) {
  val nIndex = if (tiny) 60 else 1000
  val nBatches = if (tiny) 3 else 6
  /** The warm-up pass lands two batches: the index folds within them. */
  val nWarmBatches = 2
  val batchSize = if (tiny) 20 else 50
  val VerifyTau = 0.5
  val MaxIndexFiles = 3

  private val seedDir = work.resolve("seed_index")
  private val batchDir = work.resolve("batches")
  private val passDir = work.resolve("pass")
  private def idxDir = passDir.resolve("index")
  private def inDir = passDir.resolve("in")
  private def outDir = passDir.resolve("matches")
  private def ckDir = passDir.resolve("checkpoint")
  private var plan: Gen.Ingest = _
  private var batchFiles: IndexedSeq[Path] = IndexedSeq.empty
  private var bytes = 0L
  /** Fold generations seen after each batch of the last pass. */
  private var folds = Set.empty[String]
  private var starts: Seq[Long] = Nil
  /** Batches the last pass landed. */
  private var landed = 0
  def streamStarts: Seq[Long] = starts

  def batches(warm: Boolean): Int = if (warm) nWarmBatches else nBatches
  def inputBytes: Long = bytes

  def prepare(): Unit = {
    plan = Gen.ingest(seed, nIndex, nBatches, batchSize, VerifyTau)
    Fs.delete(seedDir)
    Fs.delete(batchDir)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val index = spark.createDataFrame(spark.sparkContext.parallelize(
      plan.index.map { case (id, t) => Row(id, t) }, 4), schema)
    StreamingDedup.seedIndex(index, "doc_id", "text", Gen.Shingle, seedDir.toString)
    // one file per batch: all of a batch's rows share a partition
    spark.createDataFrame(spark.sparkContext.parallelize(plan.batches.zipWithIndex.flatMap {
      case (b, k) => b.map(a => Row(a.id, a.text, k)) }, 4), schema.add("batch", IntegerType))
      .repartition(col("batch")).write.partitionBy("batch").parquet(batchDir.toString)
    batchFiles = plan.batches.indices.map(k =>
      Fs.files(batchDir.resolve(s"batch=$k")).filter(_.getFileName.toString.endsWith(".parquet")).head)
    bytes = batchFiles.map(Files.size).sum
  }

  def reset(): Unit = {
    Fs.fresh(passDir)
    Fs.copyTree(seedDir, idxDir)
    Files.createDirectories(inDir)
  }

  def run(tr: Tracer, warm: Boolean): Seq[Double] = {
    folds = Set.empty
    landed = batches(warm)
    val starts = Seq.newBuilder[Long]
    val lat = batchFiles.take(landed).zipWithIndex.map { case (f, k) =>
      val staged = inDir.resolve(s".staging_b$k.parquet")
      Files.copy(f, staged)
      Files.move(staged, inDir.resolve(f"b$k%04d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      val t0 = System.nanoTime()
      starts += System.currentTimeMillis()
      tr.span("streaming.batch") {
        val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir.toString)
        StreamingDedup.foldingIncrementalDedup(stream, "doc_id", "text", Gen.Shingle,
          idxDir.toString, outDir.toString, ckDir.toString, maxIndexFiles = MaxIndexFiles,
          verifyTau = VerifyTau).awaitTermination()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      folds ++= Fs.files(idxDir).map(_.getFileName.toString).filter(_.startsWith("fold"))
        .map(_.takeWhile(_ != '_'))
      dt
    }
    this.starts = starts.result()
    lat
  }

  /** Per doc: exact beats near_verified beats novel, with the minimum
    * matching index id (the loop may record several matches per doc).
    */
  private def verdicts(): Map[Long, (String, Long)] =
    Fs.parquetRows(spark, outDir, "id", "old_id", "tier").groupBy(_.getLong(0)).map {
      case (id, rs) =>
        val byTier = rs.groupBy(_.getString(2)).map { case (t, x) => t -> x.map(_.getLong(1)).min }
        id -> Seq("exact", "near_verified", "near").collectFirst {
          case t if byTier.contains(t) => (t, byTier(t))
        }.getOrElse((rs.head.getString(2), rs.map(_.getLong(1)).min))
    }

  /** Verdicts of the last pass against the planted ones: (failed batches,
    * messages).
    */
  def check(): (Int, Seq[String]) = {
    val got = verdicts()
    val bad = plan.batches.take(landed).zipWithIndex.flatMap { case (b, k) =>
      val wrong = b.filter(a => got.getOrElse(a.id, ("novel", -1L)) != ((a.verdict, a.matchId)))
      if (wrong.isEmpty) None
      else Some(s"batch $k: ${wrong.size} wrong verdicts, e.g. " + wrong.take(3).map(a =>
        s"${a.id} want ${a.verdict}/${a.matchId} got ${got.getOrElse(a.id, ("novel", -1L))}").mkString("; "))
    }
    (bad.size, bad)
  }

  /** Re-point one exact match (the tier that decides its doc's verdict). */
  def corrupt(): Unit = Fs.rewriteParquet(spark, outDir) { rows =>
    val i = rows.indexWhere(_.getAs[String]("tier") == "exact")
    val r = rows(i)
    rows.updated(i, Row.fromSeq(r.schema.fieldNames.toSeq.map(f =>
      if (f == "old_id") r.getLong(r.fieldIndex(f)) + 1 else r.getAs[Any](f))))
  }

  def outputCounts(): Map[String, Double] = {
    val (f, mb) = Fs.stats(idxDir)
    val rows = Fs.parquetRows(spark, outDir, "tier").map(_.getString(0))
    val verified = rows.count(_ == "near_verified").toDouble
    val near = verified + rows.count(_ == "near")
    Map("streaming.index.files" -> f, "streaming.index.mb" -> mb,
      "streaming.folds" -> folds.size.toDouble,
      "streaming.verify_yield" -> (if (near > 0) verified / near else 0.0))
  }

  def describe: Map[String, Any] = {
    val all = plan.batches.flatten
    Map("index_docs" -> nIndex, "batches" -> nBatches, "batch_docs" -> batchSize,
      "exact_share" -> all.count(_.verdict == "exact").toDouble / all.size,
      "near_share" -> all.count(_.verdict == "near_verified").toDouble / all.size,
      "max_index_files" -> MaxIndexFiles, "input_mb" -> bytes / 1e6)
  }
}
