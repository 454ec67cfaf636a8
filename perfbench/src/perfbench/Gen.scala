package perfbench

import java.util.SplittableRandom

import graft.operators.DedupOps

/** Seeded input generators with planted ground truth. Every generator is a
  * pure function of (seed, size): the same seed gives the same inputs.
  */
object Gen {

  // ------------------------------------------------------------- meshes

  /** Triangle mesh for even indices (a jittered height field), tetrahedral
    * mesh for odd ones (a jittered cube grid, six tets per cube), each with
    * two point fields.
    */
  def mesh(seed: Long, idx: Int, triGrid: Int, tetGrid: Int): MeshArrays = {
    val r = new SplittableRandom(seed * 1000003L + idx)
    def jitter() = (r.nextDouble() - 0.5) * 0.3
    if (idx % 2 == 0) {
      val n = triGrid
      val pts = new Array[Double](3 * (n + 1) * (n + 1))
      for (j <- 0 to n; i <- 0 to n) {
        val p = 3 * (j * (n + 1) + i)
        val x = i + jitter(); val y = j + jitter()
        pts(p) = x; pts(p + 1) = y; pts(p + 2) = 0.5 * math.sin(x / 7.0) * math.cos(y / 5.0)
      }
      val conn = Array.newBuilder[Long]
      for (j <- 0 until n; i <- 0 until n) {
        val a = (j * (n + 1) + i).toLong
        val b = a + 1; val c = a + n + 1; val d = c + 1
        conn ++= Seq(a, b, d); conn ++= Seq(a, d, c)
      }
      finish(r, pts, conn.result(), 3, 5)
    } else {
      val n = tetGrid
      def pid(i: Int, j: Int, k: Int) = ((k * (n + 1) + j) * (n + 1) + i).toLong
      val pts = new Array[Double](3 * (n + 1) * (n + 1) * (n + 1))
      for (k <- 0 to n; j <- 0 to n; i <- 0 to n) {
        val p = 3 * pid(i, j, k).toInt
        pts(p) = i + jitter(); pts(p + 1) = j + jitter(); pts(p + 2) = k + jitter()
      }
      // Kuhn subdivision: the six tets share the cube diagonal 0-7
      val paths = Seq((1, 3), (1, 5), (2, 3), (2, 6), (4, 5), (4, 6))
      val conn = Array.newBuilder[Long]
      for (k <- 0 until n; j <- 0 until n; i <- 0 until n) {
        def v(c: Int) = pid(i + (c & 1), j + ((c >> 1) & 1), k + ((c >> 2) & 1))
        paths.foreach { case (a, b) => conn ++= Seq(v(0), v(a), v(b), v(7)) }
      }
      finish(r, pts, conn.result(), 4, 10)
    }
  }

  private def finish(r: SplittableRandom, pts: Array[Double], conn: Array[Long],
                     k: Int, vtkType: Int): MeshArrays = {
    val nPts = pts.length / 3
    val nCells = conn.length / k
    MeshArrays(pts, conn, Array.tabulate(nCells)(c => (c + 1L) * k),
      Array.fill(nCells)(vtkType),
      Seq("p" -> Array.fill(nPts)(r.nextDouble() * 100.0),
        "u" -> Array.fill(nPts)(r.nextGaussian())))
  }

  // ------------------------------------------------------------- text

  private val Vocab = 20000

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)("w" + Integer.toString(r.nextInt(Vocab), 36))

  def randomDoc(r: SplittableRandom): String = words(r, 50 + r.nextInt(40)).mkString(" ")

  private def bands(sig: Array[Long]): Seq[Seq[Long]] =
    sig.toSeq.grouped(DedupOps.BandRows).toSeq

  /** A one-token edit of `text` (Jaccard of 3-shingle sets ≥ 0.88 for the
    * generated lengths), redrawn until its MinHash signature shares a full
    * LSH band with the original's and agrees on at least `minAgree` of the
    * components, so it is a near-duplicate on every tier by construction.
    */
  def nearCopy(r: SplittableRandom, text: String, minAgree: Double): String = {
    val toks = text.split(" ")
    val sig0 = DedupOps.minhashSigRow(text, Shingle)
    var tries = 0
    while (tries < 1000) {
      val t = toks.clone()
      val pos = r.nextInt(t.length)
      val w = words(r, 1)(0)
      if (w != t(pos)) {
        t(pos) = w
        val out = t.mkString(" ")
        val sig = DedupOps.minhashSigRow(out, Shingle)
        val agree = sig.indices.count(i => sig(i) == sig0(i)).toDouble / sig.length
        if (agree >= minAgree && bands(sig).zip(bands(sig0)).exists { case (a, b) => a == b })
          return out
      }
      tries += 1
    }
    throw new IllegalStateException("no near copy found in 1000 draws")
  }

  val Shingle = 3

  // ------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String, shard: Int, emb: Array[Float])

  /** Corpus with planted families. Doc kinds, by share of `n`:
    *  - exact families: a root plus 1-2 identical copies (survivor: min id);
    *  - near families: a root plus 2-3 one-token edits (survivor: longest
    *    text, then min id);
    *  - semantic clusters: 2-3 unrelated texts whose embeddings are nearly
    *    parallel (survivor: min id);
    *  - unrelated docs: the rest, all survive.
    * Embeddings are dim `Dim` with one of `Regions` orthogonal region
    * directions, so the IVF quantizer separates regions with a wide margin;
    * the `Regions` ids that the IVF init draws first (smallest xxhash64)
    * are unrelated docs, one per region.
    */
  final case class Corpus(docs: Seq[Doc], survivors: Set[Long], nExactDups: Int,
                          nNearDups: Int, nSemanticDups: Int)

  val Dim = 64
  val Regions = 8

  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed)
    sealed trait Kind
    case class Exact(fam: Int) extends Kind
    case class Near(fam: Int) extends Kind
    case class Sem(cl: Int) extends Kind
    case object Plain extends Kind
    val slots = Seq.newBuilder[(Kind, String)]
    var total = 0; var fam = 0
    while (total < n * 15 / 100) { // exact families
      val t = randomDoc(r)
      val copies = 1 + r.nextInt(2)
      (0 to copies).foreach(_ => slots += ((Exact(fam), t)))
      total += copies + 1; fam += 1
    }
    var nearTotal = 0
    while (nearTotal < n * 25 / 100) {
      val t = randomDoc(r)
      slots += ((Near(fam), t))
      (0 until 2 + r.nextInt(2)).foreach(_ => { slots += ((Near(fam), nearCopy(r, t, 0.5))); nearTotal += 1 })
      nearTotal += 1; fam += 1
    }
    var semTotal = 0; var cl = 0
    while (semTotal < n * 15 / 100) {
      (0 until 2 + r.nextInt(2)).foreach(_ => { slots += ((Sem(cl), randomDoc(r))); semTotal += 1 })
      cl += 1
    }
    val planted = slots.result()
    val nPlain = math.max(Regions, n - planted.length)
    val all = planted ++ Seq.fill(nPlain)((Plain: Kind, randomDoc(r)))
    // ids: the Regions smallest-xxhash64 ids go to unrelated docs (one per
    // region), the rest are shuffled over the slots
    val ids = (0L until all.length.toLong).sortBy(id =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L))
    val anchors = ids.take(Regions)
    val rest = shuffle(r, ids.drop(Regions).toArray)
    val plainIdx = all.indices.filter(i => all(i)._1 == Plain)
    val idOf = new Array[Long](all.length)
    plainIdx.take(Regions).zip(anchors).foreach { case (i, id) => idOf(i) = id }
    val others = all.indices.filterNot(plainIdx.take(Regions).toSet)
    others.zip(rest).foreach { case (i, id) => idOf(i) = id }

    def unit(): Array[Double] = {
      val g = Array.fill(Dim - Regions)(r.nextGaussian())
      val nrm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / nrm)
    }
    def emb(region: Int, g: Array[Double]): Array[Float] = {
      val v = new Array[Float](Dim)
      v(region) = 0.6f
      g.indices.foreach(i => v(Regions + i) = (0.8 * g(i)).toFloat)
      v
    }
    val semBase = scala.collection.mutable.Map.empty[Int, (Int, Array[Double])]
    var anchorRegion = 0
    val docs = all.indices.map { i =>
      val (kind, text) = all(i)
      val e = kind match {
        case Sem(c) =>
          val (reg, g) = semBase.getOrElseUpdate(c, (r.nextInt(Regions), unit()))
          val noisy = g.map(_ + 0.004 * r.nextGaussian())
          val nrm = math.sqrt(noisy.map(x => x * x).sum)
          emb(reg, noisy.map(_ / nrm))
        case Plain if anchors.contains(idOf(i)) =>
          anchorRegion += 1; emb(anchorRegion - 1, unit())
        case _ => emb(r.nextInt(Regions), unit())
      }
      Doc(idOf(i), text, (idOf(i) % 8).toInt, e)
    }
    val byKind = all.indices.groupBy(i => all(i)._1)
    val survivors = byKind.toSeq.flatMap {
      case (Plain, is) => is.map(idOf)
      case (Exact(_), is) => Seq(is.map(idOf).min)
      case (Near(_), is) => Seq(is.map(i => (-all(i)._2.length, idOf(i))).min._2)
      case (Sem(_), is) => Seq(is.map(idOf).min)
    }.toSet
    val count = (p: Kind => Boolean) => byKind.filter(k => p(k._1)).values.map(_.size - 1).sum
    Corpus(docs.sortBy(_.id), survivors,
      count { case Exact(_) => true; case _ => false },
      count { case Near(_) => true; case _ => false },
      count { case Sem(_) => true; case _ => false })
  }

  private def shuffle[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  // ------------------------------------------------------------- ingest

  final case class Arrival(id: Long, text: String, verdict: String, matchId: Long)

  /** The standing index (ids 0 until nIndex) and a schedule of batches.
    * Each batch holds novel docs, re-keyed copies of index docs (verdict
    * exact) and, from the second batch on, one-token edits of novel docs of
    * earlier batches (verdict near_verified: they can only match through
    * the index entries the loop installed, so they test the fold).
    */
  final case class Ingest(index: Seq[(Long, String)], batches: Seq[Seq[Arrival]])

  def ingest(seed: Long, nIndex: Int, nBatches: Int, batchSize: Int,
             verifyTau: Double): Ingest = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val index = (0 until nIndex).map(i => (i.toLong, randomDoc(r)))
    var nextId = 1000000L
    val novelSoFar = scala.collection.mutable.ArrayBuffer.empty[Arrival]
    val batches = (0 until nBatches).map { b =>
      val nExact = batchSize / 5
      val nNear = if (b == 0) 0 else math.min(batchSize / 5, novelSoFar.size)
      val exact = (0 until nExact).map { _ =>
        val (id, t) = index(r.nextInt(nIndex))
        nextId += 1; Arrival(nextId, t, "exact", id)
      }.groupBy(_.matchId).values.map(_.head).toSeq // one copy per index doc and batch
      val near = (0 until nNear).map { _ =>
        val src = novelSoFar.remove(r.nextInt(novelSoFar.size))
        nextId += 1; Arrival(nextId, nearCopy(r, src.text, verifyTau), "near_verified", src.id)
      }
      val novel = (0 until batchSize - exact.size - near.size).map { _ =>
        nextId += 1; Arrival(nextId, randomDoc(r), "novel", -1L)
      }
      novelSoFar ++= novel
      shuffle(r, (exact ++ near ++ novel).toArray).toSeq
    }
    Ingest(index, batches)
  }
}
