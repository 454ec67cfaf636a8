package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PSink, PSource, Pipeline, Runner}
import graft.mesh.MeshOps
import graft.operators.FieldOps
import graft.sinks.{Sinks, VtuSink}
import graft.sources.VtkXmlSource

/** The reference's flagship mesh pipeline (VTK source → precision →
  * point-to-cell mean + quality report → VTU sink, plus a stats parquet),
  * run through `core.Runner.runPerIndex` with one index per mesh file.
  */
final class MeshEtl(spark: SparkSession, work: Path, seed: Long, tiny: Boolean)
    extends Workload {
  val nMeshes = if (tiny) 2 else 9
  val triGrid = if (tiny) 6 else 100
  val tetGrid = if (tiny) 3 else 9

  private val inDir = work.resolve("in")
  private val outDir = work.resolve("out")
  private val statsDir = work.resolve("stats")
  private val ledgerDir = work.resolve("ledger")
  private var meshes: IndexedSeq[MeshArrays] = IndexedSeq.empty
  private var bytes = 0L

  def opUnit = "index"
  // the warm-up runs one triangle mesh and one tet mesh
  def opsPerPass(warm: Boolean): Int = if (warm) 2 else nMeshes
  /** Meshes of the last pass. */
  private var active: Seq[Int] = Nil
  def inputBytes: Long = bytes
  private def path(i: Int) = inDir.resolve(f"mesh_$i%03d.vtu")

  def prepare(): Unit = {
    Fs.fresh(inDir)
    meshes = (0 until nMeshes).map(i => Gen.mesh(seed, i, triGrid, tetGrid))
    bytes = meshes.indices.map(i => Vtu.write(path(i), meshes(i))).sum
  }

  def reset(): Unit = Seq(outDir, statsDir, ledgerDir).foreach(Fs.fresh)

  def run(tr: Tracer, warm: Boolean): Seq[Double] = {
    active = meshes.indices.take(opsPerPass(warm))
    val marks = Array.newBuilder[Long]
    val index = active.map(i => (i.toLong, path(i).toString))
    val pipe = Pipeline(
      PSource("vtu_files", Map("dir" -> inDir.toString), sp => {
        import sp.implicits._
        index.toDF("idx", "path")
      }),
      Vector.empty,
      Some(PSink("mesh_etl", Map("path" -> outDir.toString), df => {
        val r = df.collect().head
        etl(r.getLong(0), r.getString(1), tr)
      })))
    tr.span("core.runner") {
      Runner.runPerIndex(spark, pipe, "idx", ledgerDir.toString,
        beforeIndex = _ => marks += System.nanoTime())
    }
    // an index ends where the next begins, after the Runner committed it;
    // the last index has no next start (its span would take in the
    // Runner's end-of-run bookkeeping), so it is not sampled
    val m = marks.result()
    m.indices.drop(1).map(i => (m(i) - m(i - 1)) / 1e9)
  }

  private def etl(idx: Long, file: String, tr: Tracer): Seq[String] = {
    val (points, cells, pointData) = tr.span("sources.vtu_read") {
      tr.count("bytes", Files.size(java.nio.file.Paths.get(file)).toDouble)
      val (p, c, pd) = VtkXmlSource.read(spark, file)
      // the source keys meshes by path; the sink names files by key, so key
      // by the file's index (an expression, not a per-index literal that
      // would change the generated code of every index)
      val key = regexp_extract(col("mesh_id"), "mesh_(\\d+)\\.vtu$", 1).cast("long").as("mesh_id")
      (tr.mat(p.select(key, col("point_id"), col("x"), col("y"), col("z"))),
        tr.mat(c.select(key, col("cell_id"), col("vertices"))),
        tr.mat(pd.select(key, col("point_id"), col("field"), col("value"))))
    }
    // float32 storage precision; the sink writes Float64, so widen back
    val (p32, pd32) = tr.span("operators.field") {
      (tr.mat(FieldOps.precisionCast(points).select(col("mesh_id"), col("point_id"),
        col("x").cast("double").as("x"), col("y").cast("double").as("y"),
        col("z").cast("double").as("z"))),
        tr.mat(FieldOps.precisionCast(pointData).withColumn("value",
          col("value").cast("double"))))
    }
    val cellData = tr.span("mesh.cell_mean") {
      tr.mat(MeshOps.pointDataToCellData(cells, pd32))
    }
    val quality = tr.span("mesh.quality") {
      val q = if (idx % 2 == 0) MeshOps.triangleQualityReport(p32, cells)
              else MeshOps.tetQualityReport(p32, cells)
      tr.mat(q.select(col("mesh_id"), col("n_cells"), col("vol_mean"), col("jac_min")))
    }
    val vtu = tr.span("sinks.vtu_write") {
      VtuSink.write(p32, cells, pd32, outDir.toString, format = "appended-zlib",
        cellData = Some(cellData))
    }
    val stats = tr.span("sinks.parquet_write") {
      Sinks.partitionedParquet(quality, statsDir.toString, Seq("mesh_id"))
    }
    vtu ++ stats
  }

  private def f32(a: Array[Double]) = a.map(_.toFloat.toDouble)

  /** Plain-Scala reference of one mesh's output. */
  private def expected(m: MeshArrays): (MeshArrays, Double) = {
    val pts = f32(m.points)
    val k = (m.offsets(0)).toInt
    val pd = m.pointData.map { case (n, v) => n -> f32(v) }
    val cd = pd.map { case (n, v) =>
      n -> Array.tabulate(m.nCells)(c => (0 until k).map(j => v(m.connectivity(c * k + j).toInt)).sum / k)
    }
    def p(i: Long) = { val b = 3 * i.toInt; (pts(b), pts(b + 1), pts(b + 2)) }
    def sub(a: (Double, Double, Double), b: (Double, Double, Double)) = (a._1 - b._1, a._2 - b._2, a._3 - b._3)
    def cross(a: (Double, Double, Double), b: (Double, Double, Double)) =
      (a._2 * b._3 - a._3 * b._2, a._3 * b._1 - a._1 * b._3, a._1 * b._2 - a._2 * b._1)
    def dot(a: (Double, Double, Double), b: (Double, Double, Double)) = a._1 * b._1 + a._2 * b._2 + a._3 * b._3
    val vol = (0 until m.nCells).map { c =>
      val v = (0 until k).map(j => p(m.connectivity(c * k + j)))
      if (k == 3) { val x = cross(sub(v(1), v(0)), sub(v(2), v(0))); math.sqrt(dot(x, x)) / 2 }
      else dot(sub(v(1), v(0)), cross(sub(v(2), v(0)), sub(v(3), v(0)))) / 6
    }.sum
    (m.copy(points = pts, pointData = pd, cellData = cd), vol)
  }

  private def close(a: Double, b: Double, rel: Double) =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) + 1e-12

  def check(): (Int, Seq[String]) = {
    val stats = Fs.parquetRows(spark, statsDir, "mesh_id", "n_cells", "vol_mean")
      .map(r => r.get(0).toString.toLong -> (r.getLong(1), r.getDouble(2))).toMap
    val errs = active.flatMap { i =>
      val (want, vol) = expected(meshes(i))
      val f = outDir.resolve(s"mesh_$i.vtu")
      val problems = Seq.newBuilder[String]
      if (!Files.exists(f)) problems += "no output file"
      else {
        val got = Vtu.read(f)
        // bit-exact: coordinates, connectivity and point fields pass through
        if (!java.util.Arrays.equals(got.points, want.points)) problems += "points differ"
        if (!java.util.Arrays.equals(got.connectivity, want.connectivity)) problems += "connectivity differs"
        if (!java.util.Arrays.equals(got.offsets, want.offsets)) problems += "offsets differ"
        if (!java.util.Arrays.equals(got.types, want.types)) problems += "types differ"
        if (got.pointData.map(_._1).sorted != want.pointData.map(_._1).sorted ||
            want.pointData.exists { case (n, v) => !java.util.Arrays.equals(got.pointData.toMap.apply(n), v) })
          problems += "point data differs"
        // cell means: Spark sums a cell's vertices in an unspecified order
        val gc = got.cellData.toMap
        if (want.cellData.exists { case (n, v) =>
              !gc.get(n).exists(g => g.length == v.length && g.indices.forall(j => close(g(j), v(j), 1e-12)))
            }) problems += "cell data differs"
      }
      stats.get(i.toLong) match {
        case None => problems += "no stats row"
        case Some((n, mean)) =>
          if (n != want.nCells) problems += s"stats n_cells $n != ${want.nCells}"
          else if (!close(mean * n, vol, 1e-9)) problems += s"stats volume ${mean * n} != $vol"
      }
      val ps = problems.result()
      if (ps.isEmpty) None else Some(s"mesh $i: ${ps.mkString(", ")}")
    }
    (errs.size, errs)
  }

  def corrupt(): Unit = Fs.rewriteParquet(spark, statsDir) { rows =>
    val schema = rows.head.schema
    val r = rows.head
    Row.fromSeq(schema.fieldNames.toSeq.map(f =>
      if (f == "n_cells") r.getAs[Long](f) + 1 else r.getAs[Any](f))) +: rows.tail
  }

  def outputCounts(): Map[String, Double] = {
    val (vf, vmb) = Fs.stats(outDir)
    val (sf, _) = Fs.stats(statsDir)
    val (lf, lmb) = Fs.stats(ledgerDir)
    Map("sinks.vtu_write.out_mb" -> vmb, "sinks.files" -> (vf + sf),
      "core.ledger.files" -> lf, "core.ledger.mb" -> lmb,
      "mesh.cells" -> meshes.map(_.nCells.toDouble).sum)
  }

  def describe: Map[String, Any] = Map("meshes" -> nMeshes,
    "tri_grid" -> triGrid, "tet_grid" -> tetGrid,
    "points" -> meshes.map(_.nPoints).sum, "cells" -> meshes.map(_.nCells).sum,
    "input_mb" -> bytes / 1e6)
}
