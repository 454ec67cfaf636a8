package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{PFilter, PSink, PSource, Pipeline, Runner}
import graft.operators.{DedupOps, SimilarityOps}
import graft.sinks.Sinks
import graft.sources.Tables

/** Text-and-embedding curation through `core.Runner.runPipeline`: exact
  * dedup → shingles → MinHash → LSH bands → Jaccard verify → connected
  * components keeping the longest doc → IVF centroids + semantic dedup →
  * survivors parquet. The curation stage of [[Dedup]].
  */
final class CorpusDedup(spark: SparkSession, work: Path, seed: Long, tiny: Boolean) {
  val nDocs = if (tiny) 120 else 1000
  /** The warm-up pass runs the same pipeline over a smaller corpus. */
  val nWarmDocs = if (tiny) 120 else 150
  val JaccardTau = 0.5
  val CosineTau = 0.9
  val MaxShingleDf = 100

  private def inDir(warm: Boolean) = work.resolve(if (warm) "in_warm" else "in")
  private val outDir = work.resolve("out")
  private val ledgerDir = work.resolve("ledger")
  private var corpora: Map[Boolean, Gen.Corpus] = Map.empty
  /** The corpus of the last pass. */
  private var corpus: Gen.Corpus = _
  private var bytes = 0L

  def inputBytes: Long = bytes

  def prepare(): Unit = {
    corpora = Map(false -> Gen.corpus(seed, nDocs), true -> Gen.corpus(seed + 1, nWarmDocs))
    Seq(true, false).foreach(write)
  }

  private def write(isWarm: Boolean): Unit = {
    val c = corpora(isWarm)
    val dir = inDir(isWarm)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", IntegerType), StructField("shard", IntegerType),
      StructField("emb", ArrayType(FloatType))))
    val rows = c.docs.map(d => Row(d.id, d.text, d.text.length, d.shard, d.emb.toSeq))
    Fs.delete(dir)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(dir.resolve("documents.parquet").toString)
    if (!isWarm) bytes = (Fs.stats(dir)._2 * 1e6).toLong
  }

  def reset(): Unit = Seq(outDir, ledgerDir).foreach(Fs.delete)

  def run(tr: Tracer, warm: Boolean): Unit = {
    corpus = corpora(warm)
    val in = inDir(warm)
    val pipe = Pipeline(
      PSource("documents", Map("dir" -> in.toString), sp =>
        tr.span("sources.table_read") { tr.mat(Tables.documents(sp, in.toString)) }),
      Vector(
        PFilter("exact_dedup", Map.empty, df =>
          tr.span("operators.dedup.exact") { tr.mat(DedupOps.dedupKeepFirst(df, "doc_id", "text")) }),
        PFilter("near_dedup_keep_longest", Map("tau" -> JaccardTau.toString), near(tr)),
        PFilter("semantic_dedup", Map("tau" -> CosineTau.toString), semantic(tr))),
      Some(PSink("survivors", Map("path" -> outDir.toString), df =>
        tr.span("sinks.parquet_write") {
          Sinks.partitionedParquet(df.select("doc_id", "shard"), outDir.toString, Seq("shard"))
        })))
    tr.span("core.runner") { Runner.runPipeline(spark, pipe, "shard", ledgerDir.toString) }
  }

  private def near(tr: Tracer)(docs: DataFrame): DataFrame = {
    val shingles = tr.span("operators.dedup.shingle") {
      tr.mat(tr.hold(DedupOps.shingleSet(docs, "doc_id", "text", Gen.Shingle)))
    }
    val sigs = tr.span("operators.dedup.minhash") {
      tr.mat(DedupOps.minhashSignatures(shingles, "doc_id"))
    }
    val candidates = tr.span("operators.dedup.bands") { tr.mat(DedupOps.bandPairs(sigs, "doc_id")) }
    val pairs = tr.span("operators.dedup.verify") {
      tr.mat(DedupOps.jaccardPairs(shingles, "doc_id", JaccardTau, Some(candidates),
        Some(MaxShingleDf)).select("da", "db"))
    }
    val keep = tr.span("operators.dedup.cc") {
      tr.mat(DedupOps.resolveClustersBest(docs.select("doc_id", "n_chars"), "doc_id", pairs,
        "n_chars").filter(col("is_survivor")).select("doc_id"))
    }
    tr.hold(docs.join(keep, Seq("doc_id"), "left_semi"))
  }

  private def semantic(tr: Tracer)(docs: DataFrame): DataFrame = {
    val centroids = tr.span("operators.similarity.train") {
      SimilarityOps.ivfCentroids(docs, "doc_id", "emb", Gen.Regions, dimHint = Gen.Dim)
    }
    val keep = tr.span("operators.similarity.semdedup") {
      tr.mat(SimilarityOps.semanticDedup(docs, "doc_id", "emb", CosineTau, centroids)
        .filter(col("is_survivor")).select(col("id").as("doc_id")))
    }
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Survivors of the last pass against the planted ones: (failed, messages). */
  def check(): (Int, Seq[String]) = {
    val got = Fs.parquetRows(spark, outDir, "doc_id").map(_.getLong(0))
    val want = corpus.survivors
    val extra = got.toSet -- want
    val missing = want -- got.toSet
    val dupRows = got.size - got.toSet.size
    if (extra.isEmpty && missing.isEmpty && dupRows == 0) (0, Nil)
    else (1, Seq(s"survivors: ${missing.size} missing (e.g. ${missing.take(5).mkString(",")}), " +
      s"${extra.size} extra (e.g. ${extra.take(5).mkString(",")}), $dupRows repeated"))
  }

  def corrupt(): Unit = Fs.rewriteParquet(spark, outDir) { rows =>
    val r = rows.head
    Row.fromSeq(r.schema.fieldNames.toSeq.map(f =>
      if (f == "doc_id") r.getLong(r.fieldIndex(f)) + 1000000000L else r.getAs[Any](f))) +: rows.tail
  }

  def outputCounts(): Map[String, Double] = {
    val (f, _) = Fs.stats(outDir)
    val (lf, lmb) = Fs.stats(ledgerDir)
    Map("sinks.files" -> f, "core.ledger.files" -> lf, "core.ledger.mb" -> lmb)
  }

  def describe: Map[String, Any] = {
    val c = corpora(false)
    Map("docs" -> c.docs.size, "warm_docs" -> nWarmDocs,
      "exact_dups" -> c.nExactDups, "near_dups" -> c.nNearDups,
      "semantic_dups" -> c.nSemanticDups, "survivors" -> c.survivors.size,
      "dup_share" -> (1.0 - c.survivors.size.toDouble / c.docs.size),
      "input_mb" -> bytes / 1e6)
  }
}
