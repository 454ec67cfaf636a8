package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One unstructured mesh as flat arrays, the layout of a VTU piece. */
final case class MeshArrays(
    points: Array[Double],                 // 3n flat
    connectivity: Array[Long],
    offsets: Array[Long],
    types: Array[Int],
    pointData: Seq[(String, Array[Double])],
    cellData: Seq[(String, Array[Double])] = Nil) {
  def nPoints: Int = points.length / 3
  def nCells: Int = types.length
}

/** Plain-JVM writer and reader for appended-raw, zlib-block-compressed VTU
  * files with UInt64 headers, the layout of production VTU. Independent of
  * the program's own codec: set-up writes inputs with it and the output
  * check re-reads the program's files with it.
  */
object Vtu {
  private val BlockSize = 32768

  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def zlibPayload(data: Array[Byte]): Array[Byte] = {
    val blocks = data.grouped(BlockSize).toArray
    val comp = blocks.map { b =>
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(b); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
    val h = le(8 * (3 + comp.length))
    h.putLong(blocks.length.toLong).putLong(BlockSize.toLong)
    h.putLong(if (blocks.isEmpty) 0L else blocks.last.length.toLong)
    comp.foreach(c => h.putLong(c.length.toLong))
    val out = new java.io.ByteArrayOutputStream()
    out.write(h.array()); comp.foreach(out.write)
    out.toByteArray
  }

  private def doubles(a: Array[Double]) = { val b = le(8 * a.length); a.foreach(b.putDouble); b.array() }
  private def longs(a: Array[Long]) = { val b = le(8 * a.length); a.foreach(b.putLong); b.array() }

  def encode(m: MeshArrays): Array[Byte] = {
    val arrays: Seq[(String, String, String, Array[Byte])] =
      Seq(("Points", "Points", "Float64", doubles(m.points)),
        ("Cells", "connectivity", "Int64", longs(m.connectivity)),
        ("Cells", "offsets", "Int64", longs(m.offsets)),
        ("Cells", "types", "UInt8", m.types.map(_.toByte))) ++
        m.pointData.map { case (n, v) => ("PointData", n, "Float64", doubles(v)) } ++
        m.cellData.map { case (n, v) => ("CellData", n, "Float64", doubles(v)) }
    val payloads = arrays.map(a => zlibPayload(a._4))
    val offs = payloads.scanLeft(0L)(_ + _.length)
    def section(s: String) = arrays.zip(offs).filter(_._1._1 == s).map { case ((_, n, t, _), o) =>
      val comps = if (s == "Points") " NumberOfComponents=\"3\"" else ""
      val name = if (s == "Points") "" else s""" Name="$n""""
      s"""    <DataArray type="$t"$name$comps format="appended" offset="$o"/>"""
    }.mkString("\n")
    val head =
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid" version="1.0" byte_order="LittleEndian" header_type="UInt64" compressor="vtkZLibDataCompressor">
         | <UnstructuredGrid>
         |  <Piece NumberOfPoints="${m.nPoints}" NumberOfCells="${m.nCells}">
         |   <Points>
         |${section("Points")}
         |   </Points>
         |   <Cells>
         |${section("Cells")}
         |   </Cells>
         |   <PointData>
         |${section("PointData")}
         |   </PointData>
         |   <CellData>
         |${section("CellData")}
         |   </CellData>
         |  </Piece>
         | </UnstructuredGrid>
         | <AppendedData encoding="raw">
         |  _""".stripMargin
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.getBytes("UTF-8"))
    payloads.foreach(out.write)
    out.write("\n </AppendedData>\n</VTKFile>\n".getBytes("UTF-8"))
    out.toByteArray
  }

  def write(path: Path, m: MeshArrays): Long = {
    val bytes = encode(m)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  private val TagRe = "<(Points|Cells|PointData|CellData)>|<DataArray([^>]*)/>".r
  private def attr(attrs: String, k: String): Option[String] =
    s"""\\b$k="([^"]*)"""".r.findFirstMatchIn(attrs).map(_.group(1))

  /** Decode a file written in the layout above (by this writer or by the
    * program's sink). Fails loudly on any other layout.
    */
  def read(path: Path): MeshArrays = {
    val bytes = Files.readAllBytes(path)
    val marker = "<AppendedData encoding=\"raw\">".getBytes("UTF-8")
    val mPos = indexOf(bytes, marker, 0)
    require(mPos >= 0, s"$path: no raw AppendedData")
    val start = bytes.indexOf('_'.toByte, mPos + marker.length) + 1
    val head = new String(bytes, 0, mPos, "UTF-8")
    require(head.contains("header_type=\"UInt64\"") &&
      head.contains("compressor=\"vtkZLibDataCompressor\""), s"$path: not UInt64/zlib")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def payload(off: Long): Array[Byte] = {
      val p = start + off.toInt
      val nb = buf.getLong(p).toInt
      val bs = buf.getLong(p + 8).toInt
      val last = buf.getLong(p + 16).toInt
      val sizes = (0 until nb).map(i => buf.getLong(p + 24 + 8 * i).toInt)
      val out = new java.io.ByteArrayOutputStream()
      var c = p + 24 + 8 * nb
      sizes.zipWithIndex.foreach { case (sz, i) =>
        val raw = if (i == nb - 1 && last != 0) last else bs
        val inf = new java.util.zip.Inflater()
        try {
          inf.setInput(bytes, c, sz)
          val o = new Array[Byte](raw)
          var w = 0
          while (w < raw && !inf.finished()) w += inf.inflate(o, w, raw - w)
          require(w == raw, s"$path: short zlib block")
          out.write(o)
        } finally inf.end()
        c += sz
      }
      out.toByteArray
    }
    def asDoubles(b: Array[Byte]) = {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.length / 8)(bb.getDouble)
    }
    def asLongs(b: Array[Byte]) = {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.length / 8)(bb.getLong)
    }
    var section = ""
    val arrays = mutable.LinkedHashMap.empty[(String, String), Array[Byte]]
    TagRe.findAllMatchIn(head).foreach { m =>
      if (m.group(1) != null) section = m.group(1)
      else {
        val a = m.group(2)
        require(attr(a, "format").contains("appended"), s"$path: non-appended array")
        arrays((section, attr(a, "Name").getOrElse("Points"))) =
          payload(attr(a, "offset").get.toLong)
      }
    }
    def get(s: String, n: String) =
      arrays.getOrElse((s, n), throw new IllegalArgumentException(s"$path: missing $s/$n"))
    MeshArrays(asDoubles(get("Points", "Points")),
      asLongs(get("Cells", "connectivity")), asLongs(get("Cells", "offsets")),
      get("Cells", "types").map(_ & 0xff),
      arrays.toSeq.collect { case (("PointData", n), b) => n -> asDoubles(b) },
      arrays.toSeq.collect { case (("CellData", n), b) => n -> asDoubles(b) })
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
