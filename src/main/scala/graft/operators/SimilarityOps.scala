package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * `cosine` is sequential-fold column arithmetic (functions.aggregate over
  * zip_with), so the summation order is deterministic and oracle-matchable.
  * The brute-force pair join is the correctness baseline; at 100 TB the same
  * verification runs behind an LSH/IVF bucket join (`DedupOps.bandPairs` is
  * the textual analogue; a hyperplane-LSH variant follows the same
  * bucket-then-verify shape).
  */
object SimilarityOps {

  /** dot(a,b): sequential double fold via the codegen'd native expression
    * (`graft.functions.FloatVecDot`) — identical summation order to the HOF
    * formulation `aggregate(zip_with(...))` but ~elementwise-primitive speed.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dotF(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** All-pairs cosine ≥ τ (brute-force baseline; restrict with a bucket join
    * at scale). The threshold is applied to the *rounded* score so the
    * kept-pair set is engine-stable (an unrounded `cos >= τ` could disagree
    * across engines on ~1e-16 summation noise exactly at the boundary).
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    // Norms are precomputed per ROW below the join — recomputing them per
    // PAIR inside the cross join would redo O(n) work n² times.
    val a = df.select(col(idCol).as("ia"), col(vecCol).as("va"),
      l2Norm(col(vecCol)).as("na"))
    val b = df.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("cos_r",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) + lit(1e-9), 4))
      .filter(col("cos_r") >= tau)
      .select("ia", "ib", "cos_r")
  }

  /** Deterministic random hyperplanes (splitmix64-derived components in
    * [-1, 1]) — the signature machinery for hyperplane LSH.
    */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Array[Float]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim) { d =>
        (graft.sources.RandomMeshSource.unit(seed * 7919L + p * 10007L + d) * 2 - 1).toFloat
      }
    }

  /** Johnson–Lindenstrauss random projection: reduce the float vector to
    * `outDim` double components r_j = ⟨v, w_j⟩ · √(3/outDim), with the w_j
    * drawn from the same deterministic hyperplane generator as the LSH
    * path (so the matrix is materializable for external oracles). The
    * components are uniform in [-1, 1] (variance 1/3), so the √3 factor
    * makes E‖r‖² = ‖v‖² — an unbiased distance estimate. Pure
    * per-row column math over the codegen'd dot — no shuffle, no UDF; JL:
    * pairwise distances are preserved within (1±ε) for outDim ≳ log n/ε²,
    * which is what makes a 64→8 reduction a legitimate pre-filter for the
    * exact re-rank tier at 100 TB.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, dim: Int, seed: Long = 42L): DataFrame = {
    require(outDim > 0 && dim > 0, s"bad projection geometry $dim -> $outDim")
    val scale = lit(math.sqrt(3.0 / outDim))
    val comps = hyperplanes(dim, outDim, seed).zipWithIndex.map { case (w, j) =>
      (dot(col(vecCol), typedLit(w)) * scale).as(s"r$j")
    }
    df.select(col(idCol) +: comps: _*)
  }

  /** Hyperplane-LSH bucket id: bit p = sign(v · r_p), packed to a long. Same
    * bucket ⇒ likely-high cosine; the codegen'd dot keeps this a narrow
    * projection. This is the ANN scale path (SURVEY §7.1.9): bucket join
    * replaces the O(n²) cross join, exact cosine re-ranks within buckets.
    */
  def bucketSignature(v: Column, planes: Seq[Array[Float]]): Column =
    planes.zipWithIndex.map { case (pl, i) =>
      when(dot(v, typedLit(pl)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-probe bucket ids: the exact bucket plus every single-bit flip —
    * standard multi-probe LSH; a pair differing in one hyperplane sign still
    * collides on some probe. Probe factor = nPlanes+1 rows per vector.
    */
  def probeBuckets(v: Column, planes: Seq[Array[Float]]): Column = {
    val sig = bucketSignature(v, planes)
    array(sig +: planes.indices.map(i => sig.bitwiseXOR(lit(1L << i))): _*)
  }

  /** ANN near-dup pairs: same-bucket candidates → exact rounded cosine ≥ τ.
    * Recall < 1 by construction (pairs split across buckets are missed) —
    * `multiProbe` extends the candidate set with single-bit-flip probes
    * (left side only, so each colliding pair appears once).
    */
  def annCosinePairs(df: DataFrame, idCol: String, vecCol: String, tau: Double,
                     nPlanes: Int = 8, seed: Long = 42L, dimHint: Int = 0,
                     multiProbe: Boolean = false): DataFrame = {
    // dimHint avoids the extra probe job when the caller knows the width
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    val planes = hyperplanes(dim, nPlanes, seed)
    val a =
      if (multiProbe)
        df.select(col(idCol).as("ia"), col(vecCol).as("va"),
          l2Norm(col(vecCol)).as("na"),
          explode(probeBuckets(col(vecCol), planes)).as("bucket"))
      else
        df.select(col(idCol).as("ia"), col(vecCol).as("va"),
          l2Norm(col(vecCol)).as("na"),
          bucketSignature(col(vecCol), planes).as("bucket"))
    val b = df.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"),
      bucketSignature(col(vecCol), planes).as("bucket"))
    val scored = a.join(b, Seq("bucket")).filter(col("ia") < col("ib"))
      .withColumn("cos_r",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) + lit(1e-9), 4))
      .filter(col("cos_r") >= tau)
    // only multi-probe can produce the same pair via several probes
    (if (multiProbe) scored.dropDuplicates("ia", "ib") else scored)
      .select("ia", "ib", "cos_r")
  }

  /** Multi-table hyperplane LSH near-dup pairs — the 100 TB ANN shape.
    *
    * One hyperplane table with k planes has 2^k buckets: recall per pair is
    * p^k (p = 1 − θ/π), and raising k for selectivity kills recall. The
    * standard fix (same as MinHash banding, `DedupOps.bandPairs`) is L
    * INDEPENDENT tables unioned: per-pair miss probability (1 − p^k)^L decays
    * geometrically in L while bucket occupancy stays n/2^k per table. Grow k
    * with log2(n / target bucket size) so within-bucket self-joins stay
    * bounded as the corpus grows; L then buys back recall at linear cost.
    *
    * Shape: signatures for all L tables are computed in ONE projection over
    * the persisted base (L·k codegen'd FloatVecDot calls), exploded to
    * (table, bucket, id) rows, self-joined per (table, bucket) bucket —
    * never all-pairs — deduplicated, and only then verified with the exact
    * rounded cosine (candidate-driven verify: the quadratic space is never
    * materialized).
    */
  /** Planes per table for a target bucket occupancy: k = ⌈log2(n/target)⌉,
    * floored at 1. Growing k with log2(n) keeps within-bucket self-join work
    * constant as the corpus grows; raise L to recover the recall k costs.
    */
  def annPlanesFor(n: Long, targetBucket: Long): Int =
    math.max(1, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)

  /** The L independent plane tables behind [[annCosinePairsMulti]], exposed
    * so callers can MATERIALIZE the constants (e.g. as a parquet table an
    * external oracle reads to recompute signatures/buckets in SQL). Same
    * derivation the internal path uses — one distinct seed per table.
    */
  def tablePlanes(dim: Int, nTables: Int, planesPerTable: Int,
                  seed: Long = 42L): Seq[(Int, Seq[Array[Float]])] =
    (0 until nTables).map { t =>
      t -> hyperplanes(dim, planesPerTable, seed + 1299721L * (t + 1))
    }

  def annCosinePairsMulti(df: DataFrame, idCol: String, vecCol: String,
                          tau: Double, nTables: Int = 6, planesPerTable: Int = 12,
                          seed: Long = 42L, dimHint: Int = 0): DataFrame =
    annMultiInternal(df, idCol, vecCol, tau, nTables, planesPerTable, seed, dimHint)._1

  /** Eager variant for library callers looping over corpora: materializes
    * the pair set ([[graft.core.Materialize.pin]] — bounded by the
    * candidate pairs that survive τ; a reliable checkpoint when the session
    * has a checkpoint dir, so the result survives executor loss), then
    * RELEASES the internal signature-base cache before returning, so
    * repeated invocations never accumulate MEMORY_AND_DISK blocks waiting
    * for a global `clearCache()`.
    */
  def annCosinePairsMultiEager(df: DataFrame, idCol: String, vecCol: String,
                               tau: Double, nTables: Int = 6, planesPerTable: Int = 12,
                               seed: Long = 42L, dimHint: Int = 0): DataFrame = {
    val (res, owned) =
      annMultiInternal(df, idCol, vecCol, tau, nTables, planesPerTable, seed, dimHint)
    val out = graft.core.Materialize.pin(res) // materialize while base is cached
    owned.foreach(_.unpersist(true))
    out
  }

  /** Hard-negative mining for contrastive training: pairs that COLLIDE in
    * at least one LSH table (so they look alike to the index — the hard
    * part) yet score BELOW `tauMax` cosine (so they are true negatives),
    * optionally reduced to the `perAnchorK` hardest (highest-cosine)
    * negatives per anchor with the bounded
    * [[graft.functions.TopKAgg]]. Same bucket-bounded candidate shape as
    * [[annCosinePairsMulti]] — the easy negatives random sampling would
    * produce never enter the candidate set at all. Each unordered pair
    * surfaces once under its min-id anchor.
    */
  def hardNegativePairs(df: DataFrame, idCol: String, vecCol: String,
                        tauMax: Double, perAnchorK: Int = 0,
                        nTables: Int = 6, planesPerTable: Int = 12,
                        seed: Long = 42L, dimHint: Int = 0): DataFrame = {
    val pairs = annMultiInternal(df, idCol, vecCol, tauMax, nTables,
      planesPerTable, seed, dimHint, below = true)._1
    if (perAnchorK <= 0) pairs
    else graft.functions.TopK
      .topKPerGroup(pairs, "ia", "ib", "cos_r", perAnchorK)
      .select(col("ia").cast("long").as("ia"), col("rank"), col("ib"),
        col("cos_r"))
  }

  private def annMultiInternal(df: DataFrame, idCol: String, vecCol: String,
                               tau: Double, nTables: Int, planesPerTable: Int,
                               seed: Long, dimHint: Int,
                               below: Boolean = false): (DataFrame, Option[DataFrame]) = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    val planesByTable = tablePlanes(dim, nTables, planesPerTable, seed).map(_._2)
    // Persist lifecycle (same contract as DedupOps.cached): `base` is
    // referenced three times (bucket explode + both verify sides), so it is
    // persisted here unless the CALLER already persisted `df` — in which case
    // the caller owns the lifecycle and nothing extra is cached. The lazy
    // variant's persist lives until the session's cache is cleared; looping
    // callers should use `annCosinePairsMultiEager`, which materializes and
    // releases it before returning.
    val base0 = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"),
      array(planesByTable.zipWithIndex.map { case (pl, t) =>
        struct(lit(t).as("tbl"), bucketSignature(col(vecCol), pl).as("bucket"))
      }: _*).as("tb"))
    val persistedHere = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val base =
      if (persistedHere)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    val buckets = base.select(col("id"), explode(col("tb")).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = buckets.select(col("tbl"), col("bucket"), col("id").as("ia"))
      .join(buckets.select(col("tbl"), col("bucket"), col("id").as("ib")),
        Seq("tbl", "bucket"))
      .filter(col("ia") < col("ib"))
      .select("ia", "ib").distinct()
    val res = cand
      .join(base.select(col("id").as("ia"), col("v").as("va"), col("nrm").as("na")), "ia")
      .join(base.select(col("id").as("ib"), col("v").as("vb"), col("nrm").as("nb")), "ib")
      .withColumn("cos_r",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) + lit(1e-9), 4))
      .filter(if (below) col("cos_r") < tau else col("cos_r") >= tau)
      .select("ia", "ib", "cos_r")
    (res, if (persistedHere) Some(base) else None)
  }

  // ------------------------------------------------------------------ IVF

  /** Deterministic training sample: keep rows whose id-hash falls in the
    * first `fraction` of the hash range — one narrow filtered scan, no
    * sort, no count, same rows every invocation (the id hash is the only
    * input). This is the FAISS training discipline: Lloyd rounds on a
    * bounded representative sample instead of scanning the full corpus
    * per iteration — at the ×1000 tier training dominated q_ivfpq-class
    * walls, and centroid quality needs only enough points per cell, not
    * every point.
    */
  private def trainSample(df: DataFrame, idCol: String,
                          fraction: Double): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"trainSampleFraction $fraction outside (0, 1]")
    if (fraction >= 1.0) df
    else df.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) <
      math.round(fraction * 1000000L))
  }

  /** Run `body` with the training sample PERSISTED when it is a real
    * subsample: Lloyd iterates the same rows several times, and without
    * the pin every round re-scans (and re-filters) the full corpus — the
    * measured ×1000-tier effect was a 2× training win where the sample
    * ratio promised 10×. A fraction-of-the-corpus sample is small by
    * construction (that's why it was sampled), so MEMORY_AND_DISK is
    * safe; the full-corpus path (fraction = 1) keeps its unpinned plan.
    * Always unpersists — the sample never outlives training.
    */
  private def withPinnedSample[A](train: DataFrame, fraction: Double)
                                 (body: DataFrame => A): A =
    if (fraction >= 1.0) body(train)
    else {
      val pinned = train.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body(pinned) finally { pinned.unpersist(); () }
    }

  /** IVF coarse quantizer: k-means over the (normalized-dot) similarity,
    * deterministic init (k rows with the smallest xxhash64 of the id) and a
    * fixed number of Lloyd rounds. Centroids are COLLECTED — the coarse
    * quantizer is tiny by design (k ≪ n; k·dim floats), exactly what IVF
    * indexes broadcast to every searcher at scale. Assignment and the
    * mean-recompute are distributed DataFrame ops (argmax over k codegen'd
    * dots; posexplode + grouped avg), so the corpus is never collected.
    *
    * `trainSampleFraction` < 1 trains on a deterministic id-hash sample
    * (see [[trainSample]]); 1.0 (the default, and what every oracle query
    * pins) scans the full corpus each round.
    */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 5, dimHint: Int = 0,
                   trainSampleFraction: Double = 1.0): Seq[Array[Float]] = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    withPinnedSample(trainSample(df, idCol, trainSampleFraction),
      trainSampleFraction) { train =>
      var centroids: Seq[Array[Float]] = train
        .orderBy(xxhash64(col(idCol)))
        .limit(k).select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      require(centroids.length == k,
        s"train sample holds ${centroids.length} < k=$k vectors; raise " +
          s"trainSampleFraction ($trainSampleFraction)")
      var it = 0
      while (it < iters) {
        val assigned = train.select(col(vecCol).as("v"),
          flatAssign(col(vecCol), centroids).as("cid"))
        // posexplode + partial aggregation: the explode is narrow (no
        // shuffle of the dim× rows — partials bound the exchange to
        // ≤ k·dim rows per map partition). An r16 A/B against a
        // dim-avg-columns single-aggregate form measured the explode form
        // FASTER (the wide aggregate re-pays janino compilation every
        // Lloyd round because the centroid literals change) — kept.
        val means = assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
          .collect() // k·dim rows — the quantizer, not the corpus
        val next = centroids.toArray.clone()
        means.groupBy(_.getInt(0)).foreach { case (cid, rows) =>
          val c = new Array[Float](dim)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(2).toFloat)
          next(cid) = c
        }
        centroids = next.toSeq
        it += 1
      }
      centroids
    }
  }

  /** Per-vector coarse assignment WITH the quality signal an embedding
    * filter gates on: the max-dot centroid id (ties → lowest cid, the
    * [[semanticDedup]] convention) and the cosine of the vector to its
    * OWN centroid. Centroid norms are baked in driver-side as literals
    * (k constants — sequential Σw² like the codegen dot, so an oracle's
    * `sqrt(list_dot_product(w, w))` reproduces them bit-for-bit).
    *
    * Assignment runs the TWO-LEVEL kernel ([[graft.functions.TwoLevelArgMax]])
    * so corpus-as-queries paths stop re-paying the flat O(k·dim) scan the
    * index BUILD already escaped (VERDICT r15 item 7): `sProbe <= 0` (the
    * default, and what every oracle pins) probes ALL supergroups —
    * bit-identical to the flat argmax (spec-pinned) at a √k-dot overhead;
    * a production caller passes a small `sProbe` for the ~√k-fold cheaper
    * approximate assignment, the same trade [[ivfListsTwoLevel]] measures.
    */
  def centroidAssignment(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[Array[Float]],
                         sProbe: Int = 0): DataFrame = {
    val norms = typedLit(centroids.map(c =>
      math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)))
    val cents2d = typedLit(centroids.map(_.toSeq))
    df.select(col(idCol), col(vecCol).as("_v"),
        l2Norm(col(vecCol)).as("_vn"),
        assignColumn(col(vecCol), centroids, sProbe).as("cid"))
      .select(col(idCol), col("cid"),
        // same sequential double-widened fold the flat dot table ran, on
        // ONE centroid instead of k — bit-identical cos_c
        (dot(col("_v"), element_at(cents2d, col("cid") + 1)) /
          (col("_vn") * element_at(norms, col("cid") + 1)))
          .as("cos_c"))
  }

  /** cid of the max-dot centroid via the FLAT codegen dot table
    * (deterministic ties → lowest cid: first occurrence of the max). The
    * exhaustive reference form — the Lloyd trainer and the flat
    * [[ivfLists]] build keep it; corpus-as-queries consumers go through
    * [[assignColumn]]'s two-level kernel instead.
    */
  private def flatAssign(v: Column, centroids: Seq[Array[Float]]): Column = {
    val t = graft.functions.VectorExpressions.dotTable(v, centroids)
    (array_position(t, array_max(t)) - 1).cast("int")
  }

  /** cid of the max-dot centroid (deterministic ties → lowest cid) via the
    * two-level kernel. `sProbe <= 0` probes every supergroup — bit-parity
    * with the flat `array_max(dotTable)` form (the spec-pinned
    * sProbe = nSuper identity) — while a positive `sProbe` buys the
    * approximate √k-dot assignment.
    */
  private def assignColumn(v: Column, centroids: Seq[Array[Float]],
                           sProbe: Int = 0): Column = {
    val nSuper = math.max(1,
      math.round(math.sqrt(centroids.length.toDouble)).toInt)
    val (sup, groups) = superCluster(centroids, nSuper)
    val p = if (sProbe <= 0) nSuper else math.min(sProbe, nSuper)
    graft.functions.VectorExpressions.twoLevelArgMax(v, centroids, sup,
      groups, p)
  }

  /** The `nProbe` highest-dot centroid ids for a query vector (ties →
    * lowest cid first, the original comparator's rule).
    */
  private def probeColumn(v: Column, centroids: Seq[Array[Float]], nProbe: Int): Column = {
    val t = graft.functions.VectorExpressions.dotTable(v, centroids)
    val scored = zip_with(t,
      sequence(lit(0), lit(centroids.length - 1)),
      (s, i) => struct(s.as("s"), (-i).as("nid")))
    transform(slice(array_sort(scored,
      (a, b) => when(a.getField("s") > b.getField("s"), -1)
        .when(a.getField("s") < b.getField("s"), 1)
        .otherwise(signum(b.getField("nid") - a.getField("nid")).cast("int"))),
      1, nProbe), s => (-s.getField("nid")).cast("int"))
  }

  /** IVF top-k: corpus partitioned into centroid lists once, each query
    * scans only its `nProbe` nearest lists with the exact rounded cosine —
    * searched fraction ≈ nProbe/k of the corpus instead of all of it, the
    * classic IVF trade (recall vs fraction probed). Same output contract as
    * `topKCosine`.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              maxQueryId: Long, centroids: Seq[Array[Float]],
              nProbe: Int = 4): DataFrame =
    ivfTopKOverLists(ivfLists(df, idCol, vecCol, centroids),
      df, idCol, vecCol, k, maxQueryId, centroids, nProbe)

  /** The IVF INDEX: every corpus vector tagged with its coarse list. This
    * is the one O(n·nlist·dim) pass of the design — index BUILD, paid once
    * and amortized over every query batch. A deployment materializes it
    * (persist or write) instead of recomputing per search; [[ivfTopK]]
    * folds it inline for the single-shot oracle shape.
    */
  def ivfLists(df: DataFrame, idCol: String, vecCol: String,
               centroids: Seq[Array[Float]]): DataFrame =
    df.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"),
      flatAssign(col(vecCol), centroids).as("cid"))

  /** Cluster the COARSE CENTROIDS into ~√nlist supergroups, driver-side —
    * they are nlist·dim floats, the broadcast constant, so a plain Lloyd
    * loop here costs microseconds-to-milliseconds and nothing
    * distributed. Deterministic: init takes evenly spaced centroids,
    * assignment maximizes dot (the coarse quantizer's own metric, ties →
    * lowest group), means recompute in index order, fixed rounds. Empty
    * groups keep their previous center (they then attract nothing and
    * scan nothing). Returns (supercentroids, members per group in
    * ascending cid order — the CSR layout [[graft.functions.VectorExpressions.twoLevelArgMax]] wants).
    */
  def superCluster(centroids: Seq[Array[Float]], nSuper: Int,
                   iters: Int = 10): (Seq[Array[Float]], Seq[Seq[Int]]) = {
    require(nSuper >= 1 && nSuper <= centroids.length,
      s"nSuper $nSuper out of 1..${centroids.length}")
    val n = centroids.length
    val dim = centroids.head.length
    var sup: Array[Array[Float]] =
      Array.tabulate(nSuper)(g => centroids((g.toLong * n / nSuper).toInt).clone())
    var assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var c = 0
      while (c < n) {
        var bg = 0
        var bd = Double.NegativeInfinity
        var g = 0
        while (g < nSuper) {
          var d = 0.0
          var i = 0
          while (i < dim) { d += centroids(c)(i).toDouble * sup(g)(i).toDouble; i += 1 }
          if (d > bd) { bd = d; bg = g }
          g += 1
        }
        assign(c) = bg
        c += 1
      }
      val sums = Array.fill(nSuper)(new Array[Double](dim))
      val counts = new Array[Int](nSuper)
      c = 0
      while (c < n) {
        val g = assign(c)
        counts(g) += 1
        var i = 0
        while (i < dim) { sums(g)(i) += centroids(c)(i).toDouble; i += 1 }
        c += 1
      }
      sup = Array.tabulate(nSuper) { g =>
        if (counts(g) == 0) sup(g)
        else Array.tabulate(dim)(i => (sums(g)(i) / counts(g)).toFloat)
      }
      it += 1
    }
    val groups = (0 until nSuper).map(g =>
      (0 until n).filter(assign(_) == g))
    (sup.toSeq, groups)
  }

  /** The IVF index built with TWO-LEVEL coarse assignment — the flat
    * [[ivfLists]] pass is O(n·nlist·dim) and is the whole index-build
    * bill at production nlist (49.5 s at 2M×1414 in the r14 table); this
    * scans √nlist supergroups then only the `sProbe` best groups'
    * members, ~an order fewer dots per vector. Assignment is exact
    * whenever the true centroid's supergroup lands in the sProbe probed
    * ones (sProbe = nSuper reproduces the flat argmax bit-for-bit); a
    * vector assigned to a near-best list instead is the standard
    * approximate-build trade — recall impact is measured, not assumed
    * (BASELINE.md "Two-level IVF build (VERDICT r14 item 4)").
    */
  def ivfListsTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[Array[Float]],
                       sProbe: Int = 3, nSuperHint: Int = 0): DataFrame = {
    val nSuper = if (nSuperHint > 0) nSuperHint
      else math.max(1, math.round(math.sqrt(centroids.length.toDouble)).toInt)
    val (sup, groups) = superCluster(centroids, nSuper)
    df.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"),
      graft.functions.VectorExpressions.twoLevelArgMax(
        col(vecCol), centroids, sup, groups,
        math.min(sProbe, nSuper)).as("cid"))
  }

  // --------------------------------------- IVF index as a durable artifact

  /** Persist an IVF index — the [[ivfLists]] table plus a centroid
    * sidecar — as parquet under `dir` (`lists.parquet`,
    * `centroids.parquet`). The build is the one O(n·nlist·dim) pass of
    * the design; persisting it is how a deployment amortizes that pass
    * across sessions instead of re-assigning the corpus per process.
    */
  def saveIvfIndex(lists: DataFrame, centroids: Seq[Array[Float]],
                   dir: String): Unit = {
    val spark = lists.sparkSession
    import spark.implicits._
    lists.write.mode("overwrite").parquet(s"$dir/lists.parquet")
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
  }

  /** Reload a persisted IVF index: (lists frame, centroid table). The
    * centroid sidecar is nlist·dim floats — the broadcast constant — so
    * collecting it is the same bounded move the trainer makes. The lists
    * frame is the COMMITTED read set ([[committedIvfParts]]): the newest
    * complete fold (or the base build) plus every append generation
    * above it.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, Seq[Array[Float]]) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (parts, _) = committedIvfParts(fs, p)
    val lists = spark.read.parquet(parts.map(_.toString): _*)
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray).toSeq
    (lists, cents)
  }

  // ----------------------------------------- IVF index incremental append

  // Append/fold generations ride in DIRECTORY names (each part is one
  // Spark-written parquet directory, staged under `_staging` and RENAMED
  // into place — the rename is the commit, so presence == complete):
  //   lists.parquet                  the base build (generation 0)
  //   append_<gen>_<attempt>.parquet an appended batch, gen strictly
  //                                  increasing per the listing at stage
  //                                  time (rival appends that raced to the
  //                                  same gen both survive — gens order
  //                                  batches, they don't dedupe them)
  //   fold_<gen>_<attempt>.parquet   a compaction of everything with
  //                                  generation ≤ gen
  private val IvfAppendRe =
    java.util.regex.Pattern.compile("append_(\\d+)_([0-9a-f]{8})\\.parquet")
  private val IvfFoldRe =
    java.util.regex.Pattern.compile("fold_(\\d+)_([0-9a-f]{8})\\.parquet")

  /** Test seam between the compaction's fold install and its delete pass
    * (see [[graft.streaming.StreamingDedup.postFoldInstallHook]] — the
    * same two interleaves need deterministic pinning). No-op in
    * production.
    */
  private[graft] var postIvfFoldInstallHook: () => Unit = () => ()

  /** The committed read set of an appendable IVF index directory and the
    * highest generation visible: the newest complete fold if one exists
    * (ties on generation → lexicographically first attempt; duplicate
    * attempts hold identical rows), else the base `lists.parquet`, plus
    * every `append_<gen>` with gen above the fold's.
    */
  def committedIvfParts(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path)
      : (Seq[org.apache.hadoop.fs.Path], Long) = {
    val entries = fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath).toSeq
    val folds = entries.flatMap { e =>
      val m = IvfFoldRe.matcher(e.getName)
      if (m.matches()) Some((m.group(1).toLong, e)) else None
    }
    val appends = entries.flatMap { e =>
      val m = IvfAppendRe.matcher(e.getName)
      if (m.matches()) Some((m.group(1).toLong, e)) else None
    }
    val foldGen = if (folds.isEmpty) -1L else folds.map(_._1).max
    val base =
      if (foldGen >= 0)
        folds.filter(_._1 == foldGen).map(_._2).minBy(_.getName)
      else new org.apache.hadoop.fs.Path(dir, "lists.parquet")
    val live = appends.filter(_._1 > foldGen).sortBy(_._1).map(_._2)
    val maxGen = (foldGen max 0L) max
      (if (appends.isEmpty) 0L else appends.map(_._1).max)
    (base +: live, maxGen)
  }

  /** Append a batch of new vectors to a persisted IVF index WITHOUT
    * rebuilding it (VERDICT r15 item 3 — the dedup side's folding
    * discipline applied to the ANN index): arrivals are assigned with the
    * FROZEN quantizer (the centroid sidecar, through the two-level
    * kernel; `sProbe <= 0` probes all supergroups — bit-parity with the
    * flat build — and a positive sProbe buys the approximate √k-dot
    * assignment), staged as one parquet directory, and renamed in as the
    * next append generation. Cost follows the BATCH (batch · assignment),
    * never the corpus — the one-shot build bill stays amortized as the
    * index grows. Returns the installed generation.
    *
    * The frozen quantizer drifts as the corpus grows: gate on
    * [[ivfIndexImbalance]] and retrain when the occupancy skew passes the
    * recommendation threshold.
    */
  def appendToIvfIndex(newRows: DataFrame, idCol: String, vecCol: String,
                       dir: String, sProbe: Int = 0): Long = {
    val spark = newRows.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray).toSeq
    val nSuper = math.max(1,
      math.round(math.sqrt(cents.length.toDouble)).toInt)
    val p = if (sProbe <= 0) nSuper else math.min(sProbe, nSuper)
    val lists = ivfListsTwoLevel(newRows, idCol, vecCol, cents,
      sProbe = p, nSuperHint = nSuper)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, maxGen) = committedIvfParts(fs, root)
    val gen = maxGen + 1
    val attempt = f"${scala.util.Random.nextInt(0x7fffffff)}%08x"
    val staged = new org.apache.hadoop.fs.Path(
      s"$dir/_staging/append_${gen}_$attempt.parquet")
    lists.write.mode("overwrite").parquet(staged.toString)
    require(fs.rename(staged,
      new org.apache.hadoop.fs.Path(root, staged.getName)),
      s"append install into $dir failed")
    gen
  }

  /** Occupancy-skew report for an appendable IVF index — the retrain
    * trigger: appends assign against the FROZEN quantizer, so as the
    * corpus distribution drifts the hottest list grows past the mean and
    * probe cost degrades toward a scan of that list. One row:
    * (nlist, n_vectors, max_list, mean_list, imbalance = max/mean,
    * retrain_recommended = imbalance > threshold).
    */
  def ivfIndexImbalance(spark: org.apache.spark.sql.SparkSession,
                        dir: String, threshold: Double = 4.0): DataFrame = {
    val (lists, cents) = loadIvfIndex(spark, dir)
    val occ = lists.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
    occ.agg(
      lit(cents.length).as("nlist"),
      sum(col("sz")).as("n_vectors"),
      max(col("sz")).as("max_list"),
      round(sum(col("sz")) / lit(cents.length.toDouble) + lit(1e-9), 4)
        .as("mean_list"))
      .withColumn("imbalance",
        round(col("max_list") / col("mean_list") + lit(1e-9), 4))
      .withColumn("retrain_recommended", col("imbalance") > threshold)
  }

  /** Fold an appendable IVF index's committed parts into one generation
    * when the part count passes `maxParts` — the standing-dedup-index
    * compaction discipline ([[graft.streaming.StreamingDedup.maintainIndexDir]])
    * applied to the ANN lists: LockProvider lease + TTL/4 renewer, fence
    * re-verify (renewer lost-flag + token read-back) before the install
    * rename AND before the delete pass, and a SNAPSHOT-SCOPED delete —
    * exactly the parts read into the fold plus name-identifiable stale
    * artifacts, never "everything not the new fold" — so a rival append
    * landing after the snapshot survives unfolded. Returns true iff a
    * fold ran; throws on a fence loss (staged output orphaned, nothing
    * destroyed).
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      maxParts: Int = 8,
                      lockTtlMs: Long = 600000L): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_maintenance/compact.lock")
    val lfs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lfs.mkdirs(lock.getParent)
    val lp = graft.core.LockProvider.forFs(lfs)
    if (!lp.tryAcquire(lfs, lock, lockTtlMs)) return false // rival folding
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val renewer = new Thread(() => {
      val period = math.max(lockTtlMs / 4, 250L)
      try {
        var ours = true
        while (ours && !Thread.interrupted()) {
          Thread.sleep(period)
          if (!Thread.currentThread().isInterrupted &&
              !lp.renew(lfs, lock)) { lost.set(true); ours = false }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-ivf-compact-renewer")
    renewer.setDaemon(true)
    renewer.start()
    def fence(phase: String): Unit =
      if (lost.get() || !lp.verify(lfs, lock))
        throw new IllegalStateException(
          s"ivf compact lock $lock lost mid-$phase (lease stolen or " +
            "renew failed) — aborting before the destructive phase; " +
            "staged output is orphaned for the next compaction's janitor")
    // stale-by-NAME artifacts given a newest complete fold at `foldGen`
    // (ignoring `keep`): older folds, duplicate attempts of the newest
    // generation, appends a fold already covers, and the base build once
    // ANY complete fold exists (every fold chain starts by covering it).
    // An append landing after a fold's snapshot carries gen > foldGen
    // and is never stale.
    def staleParts(foldGen: Long, keep: String): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(root).iterator.filter(_.isDirectory)
        .map(_.getPath)
        .filter { q =>
          val name = q.getName
          name != keep && foldGen >= 0 && {
            val fm = IvfFoldRe.matcher(name)
            val am = IvfAppendRe.matcher(name)
            if (fm.matches()) fm.group(1).toLong <= foldGen
            else if (am.matches()) am.group(1).toLong <= foldGen
            else name == "lists.parquet"
          }
        }.toSeq
    def newestFoldGen(): Long = {
      val gens = fs.listStatus(root).filter(_.isDirectory).flatMap { s =>
        val m = IvfFoldRe.matcher(s.getPath.getName)
        if (m.matches()) Some(m.group(1).toLong) else None
      }
      if (gens.isEmpty) -1L else gens.max
    }
    try {
      val (snap, maxGen) = committedIvfParts(fs, root) // re-list under lock
      if (snap.size <= maxParts) {
        // below threshold: no fold, but JANITOR leftovers a fence-aborted
        // predecessor orphaned (its fold installed; its delete never ran)
        val keep = snap.head.getName
        val stale = staleParts(newestFoldGen(), keep)
        if (stale.nonEmpty) {
          fence("janitor delete")
          stale.foreach(fs.delete(_, true))
        }
        return false
      }
      // janitor crashed-fold staging (lock held: nothing there is live)
      val staging = new org.apache.hadoop.fs.Path(s"$dir/_staging")
      if (fs.exists(staging)) fs.delete(staging, true)
      val attempt = f"${scala.util.Random.nextInt(0x7fffffff)}%08x"
      val staged = new org.apache.hadoop.fs.Path(
        s"$dir/_staging/fold_${maxGen}_$attempt.parquet")
      spark.read.parquet(snap.map(_.toString): _*)
        .write.mode("overwrite").parquet(staged.toString)
      fence("fold install")
      require(fs.rename(staged,
        new org.apache.hadoop.fs.Path(root, staged.getName)),
        s"ivf fold install into $dir failed")
      postIvfFoldInstallHook()
      // snapshot-scoped delete: the folded parts, plus stale-by-name
      // artifacts (older folds, appends at or below the new generation
      // that a previous fold already superseded). An append landing
      // after the snapshot carries gen > maxGen and survives.
      fence("fold delete")
      staleParts(maxGen, staged.getName).foreach(fs.delete(_, true))
      true
    } finally {
      renewer.interrupt()
      renewer.join() // see maintainIndexDir: no post-release re-PUT
      lp.release(lfs, lock)
    }
  }

  /** Build-or-load the IVF index through a [[graft.core.Ledger]] — the
    * reference's is_completed resume discipline applied to the index
    * build: a session that finds the build index completed loads the
    * recorded artifact and probes WITHOUT re-running the O(n·nlist·dim)
    * assignment; otherwise it trains (sample-bounded), builds (two-level
    * assignment), persists, and records completion + provenance
    * (output_files for the resume probe, filter_artifacts for the
    * dashboard's artifact views). `buildIdx` namespaces several indexes
    * inside one run.
    */
  def ivfIndexCached(df: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, indexDir: String, ledgerDir: String,
                     runId: String, buildIdx: Long = 0L,
                     iters: Int = 3, dimHint: Int = 0,
                     trainSampleFraction: Double = 1.0,
                     sProbe: Int = 3): (DataFrame, Seq[Array[Float]]) = {
    val spark = df.sparkSession
    val led = new graft.core.Ledger(ledgerDir)
    led.isCompleted(spark, runId, buildIdx) match {
      case Some(paths) if paths.nonEmpty => loadIvfIndex(spark, paths.head)
      case _ =>
        val t0 = System.nanoTime()
        val cents = ivfCentroids(df, idCol, vecCol, nlist, iters, dimHint,
          trainSampleFraction)
        val lists = ivfListsTwoLevel(df, idCol, vecCol, cents, sProbe)
        saveIvfIndex(lists, cents, indexDir)
        val n = spark.read.parquet(s"$indexDir/lists.parquet").count()
        led.recordOutputFiles(spark, runId, buildIdx, Seq(indexDir))
        led.recordFilterArtifacts(spark, runId, buildIdx, "ivf_index", 0,
          Seq(s"$indexDir/lists.parquet", s"$indexDir/centroids.parquet"))
        led.recordCompleted(spark, runId, Seq(buildIdx),
          System.nanoTime() - t0, n)
        loadIvfIndex(spark, indexDir)
    }
  }

  /** Probe-bounded search over a prebuilt [[ivfLists]] index. */
  def ivfTopKOverLists(lists: DataFrame, df: DataFrame, idCol: String,
                       vecCol: String, k: Int, maxQueryId: Long,
                       centroids: Seq[Array[Float]],
                       nProbe: Int = 4): DataFrame = {
    val queries = df.filter(col(idCol) < maxQueryId)
      .select(col(idCol).as("ia"), col(vecCol).as("va"), l2Norm(col(vecCol)).as("na"),
        explode(probeColumn(col(vecCol), centroids, nProbe)).as("cid"))
    val scored = queries.join(lists, Seq("cid")).filter(col("ia") =!= col("ib"))
      .withColumn("cos_r",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) + lit(1e-9), 4))
    val w = Window.partitionBy(col("ia")).orderBy(col("cos_r").desc, col("ib"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia"), col("rank"), col("ib"), col("cos_r"))
  }

  // ------------------------------------------------- PQ (product quantization)

  // Squared-L2 distances use the cross-engine parity form: ‖v−c‖² =
  // (v·v − 2·v·c) + c·c with every dot a sequential double-widened fold
  // (FloatSqDistTable here, `list_dot_product` in the oracle) and this
  // exact association — both engines produce bit-identical doubles.

  /** Train product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" — the IVF-PQ memory side of
    * the canonical billion-scale ANN design): the vector splits into `m`
    * subspaces and each gets an independent L2 k-means codebook of `k`
    * entries. A vector then stores m log₂k-bit codes instead of dim
    * floats — 64·4B → 8B per vector at (m=8, k=16), the compression that
    * lets a 100 TB embedding corpus live in executor memory.
    *
    * Deterministic init (k rows with the smallest xxhash64 of the id) and
    * fixed Lloyd rounds, same discipline as [[ivfCentroids]]; the
    * codebooks are COLLECTED (m·k·(dim/m) floats — the broadcast index),
    * assignments and mean-recomputes are distributed.
    *
    * `trainSampleFraction` < 1 trains on a deterministic id-hash sample
    * (see [[trainSample]]); 1.0 (the default, and what every oracle query
    * pins) scans the full corpus each round.
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, k: Int, iters: Int = 3,
                  dimHint: Int = 0,
                  trainSampleFraction: Double = 1.0): Seq[Seq[Array[Float]]] = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    withPinnedSample(trainSample(df, idCol, trainSampleFraction),
      trainSampleFraction) { train =>
    val init = train.orderBy(xxhash64(col(idCol))).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(init.length == k,
      s"train sample holds ${init.length} < k=$k vectors; raise " +
        s"trainSampleFraction ($trainSampleFraction)")
    var books: Array[Seq[Array[Float]]] = Array.tabulate(m) { sub =>
      init.map(_.slice(sub * subDim, (sub + 1) * subDim)).toSeq
    }
    // All m subspaces train in ONE aggregation job per Lloyd round, off ONE
    // corpus scan: each row emits its m (sub, slice, code) structs through
    // an exploded array, each slice assigned against its OWN literal
    // codebook. The union-of-m-projections form this replaces produced the
    // same rows from m separate scans of the training frame — m× the scan
    // and decode cost (and, when the frame is a residual view, m× the
    // coarse-assignment dot table) per round. Empty clusters keep their
    // previous centroid.
    var it = 0
    while (it < iters) {
      val entries = array((0 until m).map { sub =>
        val s = slice(col(vecCol), sub * subDim + 1, subDim)
        struct(lit(sub).as("sub"), s.as("sv"),
          pqAssign(s, books(sub)).as("code"))
      }: _*)
      val assigned = train.select(explode(entries).as("_e"))
        .select(col("_e.sub").as("sub"), col("_e.sv").as("sv"),
          col("_e.code").as("code"))
      val means = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos")).agg(avg(col("x")).as("mu"))
        .collect() // m·k·subDim rows — the codebooks, not the corpus
      val next = books.map(_.toArray.clone())
      means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((sub, code), rows) =>
        val c = new Array[Float](subDim)
        rows.foreach(r => c(r.getInt(2)) = r.getDouble(3).toFloat)
        next(sub)(code) = c
      }
      books = next.map(_.toSeq)
      it += 1
    }
    books.toSeq
    }
  }

  /** Train the full IVF-PQ index (coarse centroids + codebooks) off ONE
    * pinned training sample: at production scale the dominant sampled-
    * train cost is the corpus scan that materializes the sample, and
    * training the two quantizers separately pays it twice. Composes the
    * two trainers over a shared pin; with `trainSampleFraction = 1.0` it
    * is exactly the two independent calls (no pin, oracle plans
    * untouched). Deterministic: the shared sample is the same id-hash
    * selection each trainer would draw alone, so results are identical
    * to separate sampled calls.
    */
  def annTrain(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int, m: Int, k: Int,
               ivfIters: Int = 3, pqIters: Int = 2, dimHint: Int = 0,
               trainSampleFraction: Double = 1.0)
      : (Seq[Array[Float]], Seq[Seq[Array[Float]]]) =
    withPinnedSample(trainSample(df, idCol, trainSampleFraction),
      trainSampleFraction) { train =>
      (ivfCentroids(train, idCol, vecCol, nlist, ivfIters, dimHint),
        pqCodebooks(train, idCol, vecCol, m, k, pqIters, dimHint))
    }

  /** Code of the min-distance codebook entry (deterministic ties → lowest
    * code: `array_position` finds the FIRST occurrence of the min, which
    * is the lowest code — the same tie rule the struct-min formulation
    * this replaces had). One codegen'd table expression, not k literal
    * dots, so assignment stays compiled at any codebook size.
    */
  private def pqAssign(s: Column, cents: Seq[Array[Float]]): Column = {
    val t = graft.functions.VectorExpressions.sqDistTable(s, cents)
    (array_position(t, array_min(t)) - 1).cast("int")
  }

  /** Per-(vector, subspace, code) squared distances — the shared building
    * block: assignments are the per-(vector, subspace) argmin rows, ADC
    * tables are the query rows. One union of m narrow projections, each a
    * slice + ONE codegen'd FloatSqDistTable loop (bit-identical math to
    * the k-literal-expression fan it replaces, which failed janino
    * compilation past (m=16, k≈256) and silently ran interpreted); no
    * shuffle.
    */
  private def pqDistances(df: DataFrame, idCol: String, vecCol: String,
                          codebooks: Seq[Seq[Array[Float]]], subDim: Int): DataFrame = {
    // ONE corpus scan emitting all m subspace tables as an exploded array
    // of (sub, table) structs — the union-of-m-projections form this
    // replaces re-scanned (and re-decoded) the corpus m times to produce
    // the same rows (guide §2.4: remove redundant passes). Row content,
    // kernel math, and the (sub, code) grouping downstream are unchanged.
    val entries = array(codebooks.zipWithIndex.map { case (cb, sub) =>
      struct(lit(sub).as("sub"),
        graft.functions.VectorExpressions.sqDistTable(
          slice(col(vecCol), sub * subDim + 1, subDim), cb).as("t"))
    }: _*)
    df.select(col(idCol).as("vid"), explode(entries).as("_e"))
      .select(col("vid"), col("_e.sub").as("sub"),
        posexplode(col("_e.t")).as(Seq("code", "d")))
  }

  /** PQ asymmetric-distance top-k (ADC): the corpus is stored as m-code
    * words (one argmin row per vector and subspace), each query computes
    * its m×k distance table, and the approximate distance is the sum of
    * the query's table entries at the stored codes. Expressed as ONE
    * equi-join on (sub, code) + a per-(query, candidate) sum — per query
    * the work is O(n·m) table lookups, never a dim-wide scan, and the
    * codes table is 8 bytes/vector (the point of PQ at 100 TB). Ranking
    * uses the ROUNDED distance (engine-stable ties, the cosinePairs
    * trick) with id tie-break. Output: (ia, rank, ib, adist_r).
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
             maxQueryId: Long, codebooks: Seq[Seq[Array[Float]]],
             dimHint: Int = 0): DataFrame = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    val subDim = dim / codebooks.length
    val dists0 = pqDistances(df, idCol, vecCol, codebooks, subDim)
    val dists = // assignments and query tables read the same distances
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        dists0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else dists0
    val asg = dists
      .groupBy(col("vid").as("ib"), col("sub"))
      .agg(min(struct(col("d"), col("code"))).getField("code").as("code"))
    val qd = dists.filter(col("vid") < maxQueryId)
      .select(col("vid").as("ia"), col("sub"), col("code"), col("d"))
    val scored = qd.join(asg, Seq("sub", "code"))
      .filter(col("ia") =!= col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(round(sum(col("d")) + lit(1e-9), 4).as("adist_r"))
    val w = Window.partitionBy(col("ia")).orderBy(col("adist_r").asc, col("ib").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia"), col("rank"), col("ib"), col("adist_r"))
  }

  /** PCA top-k basis for embeddings (public linear algebra; Jégou &
    * Chum 2012 use exactly this as the whitening step before indexing):
    * mean vector and covariance accumulate in ONE distributed pass
    * (per-row outer products → (i, j)-keyed partial+final aggregation —
    * state dim², the Gram-accumulation shape), then the dim×dim driver
    * matrix is solved by deterministic power iteration with deflation
    * (fixed init, fixed rounds — same discipline as the k-means
    * quantizers). Returns (mean, components with eigenvalues); callers
    * materialize the basis so an external engine can re-apply the
    * projection bit-identically.
    */
  def pcaComponents(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    iters: Int = 50, dimHint: Int = 0)
      : (Array[Double], Seq[(Array[Double], Double)]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    require(k >= 1 && k <= dim, s"k=$k outside 1..$dim")
    val moments = df.select(col(vecCol)).as[Seq[Float]]
      .flatMap { v =>
        val x = v.toArray
        val out = new Array[(Int, Double)](dim * (dim + 1) / 2 + dim)
        var n = 0
        var i = 0
        while (i < dim) {
          out(n) = (-(i + 1), x(i).toDouble) // mean slot, key < 0
          n += 1
          var j = i
          while (j < dim) { // upper triangle of the outer product
            out(n) = (i * dim + j, x(i).toDouble * x(j).toDouble)
            n += 1
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("key", "v")
      .groupBy("key").agg(avg(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap // dim² rows
    val mean = Array.tabulate(dim)(i => moments(-(i + 1)))
    val cov = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val c = moments(i * dim + j) - mean(i) * mean(j)
      cov(i)(j) = c
      cov(j)(i) = c
    }
    // deterministic power iteration with deflation
    val comps = Seq.newBuilder[(Array[Double], Double)]
    val work = cov.map(_.clone())
    var c = 0
    while (c < k) {
      var v = Array.tabulate(dim)(i => 1.0 / math.sqrt(dim.toDouble) *
        (if (i % 2 == 0) 1 else -1)) // fixed, non-degenerate init
      var it = 0
      var lambda = 0.0
      while (it < iters) {
        val nv = Array.tabulate(dim)(i => {
          var s = 0.0
          var j = 0
          while (j < dim) { s += work(i)(j) * v(j); j += 1 }
          s
        })
        val norm = math.sqrt(nv.map(x => x * x).sum)
        lambda = norm
        if (norm > 0) { var i = 0; while (i < dim) { nv(i) /= norm; i += 1 } }
        v = nv
        it += 1
      }
      // canonical sign: first nonzero coordinate positive
      val fnz = v.indexWhere(math.abs(_) > 1e-12)
      if (fnz >= 0 && v(fnz) < 0) v = v.map(-_)
      comps += ((v, lambda))
      for (i <- 0 until dim; j <- 0 until dim)
        work(i)(j) -= lambda * v(i) * v(j) // deflate
      c += 1
    }
    (mean, comps.result())
  }

  /** Per-dimension int8 scalar quantization — the OTHER standard embedding
    * compression next to PQ (4× over fp32, one code per dimension):
    * per-dim [min, max] ranges train on the corpus, codes are
    * round((x−min)/(max−min)·255)−128, and dequantization error is the
    * quality metric a pipeline monitors before switching storage to int8.
    * Shapes: one posexplode (linear), one 〈dim〉-group aggregate for the
    * ranges (state = dim rows), one broadcast join back. Rounding is
    * half-up on non-negative arguments — identical in DuckDB — and the
    * range arithmetic is double on both engines, so codes are exact.
    * Output: one row per dimension — range, code census, mean |x − x̂|.
    */
  /** SQ8 code table: per-dimension min/max ranges (broadcast) quantize
    * every vector to signed-int8 codes packed into ONE BINARY column —
    * the FAISS SQ8 layout, 4× smaller than float32 and the input to the
    * exact-integer [[int8TopK]] kernel.
    */
  def int8Codes(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // The range aggregate reduces to DIM rows — bounded by embedding
    // dimensionality, not corpus size — so collecting it is the same
    // bounded-constant move as binaryCodes, and the packing becomes one
    // shuffle-free codegen projection. The posexplode → broadcast-range
    // join → groupByKey/mapGroups formulation this replaces shuffled dim×
    // the corpus row count through an object-serialized regroup just to
    // reassemble what was already row-local (guide §2.3/§4).
    val rangeRows = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast("double").as("x"))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val dim = if (rangeRows.isEmpty) 0 else rangeRows.map(_.getInt(0)).max + 1
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    rangeRows.foreach { r =>
      mn(r.getInt(0)) = r.getDouble(1)
      mx(r.getInt(0)) = r.getDouble(2)
    }
    // null/empty vectors never reached the old posexplode-based path (no
    // positions to explode); keep them out here too, or a zero-length codes
    // row would surface as a spurious distance-0 candidate downstream
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).cast("long").as(idCol),
        graft.functions.VectorExpressions.packInt8(col(vecCol), mn, mx)
          .as("codes"))
  }

  /** IVF + SQ8 composed index — the FAISS pairing: the coarse quantizer
    * prunes to `nProbe` inverted lists (fraction probed ≈ nProbe/k of
    * the corpus), and the in-list scan ranks by the EXACT integer int8
    * dot through the codegen [[graft.functions.ByteVecDot]] kernel over
    * 4×-compressed codes. Probes explode to an equi-join on the list id
    * — candidate volume is the probed lists' occupancy, never the
    * corpus. Assignment and probing are deterministic (max dot, ties →
    * lowest cid), so an oracle replays pruning, quantization, and
    * ranking exactly.
    */
  def ivfSq8TopK(df: DataFrame, idCol: String, vecCol: String,
                 queryIds: Seq[Long], k: Int,
                 centroids: Seq[Array[Float]], nProbe: Int): DataFrame = {
    val codes = int8Codes(df, idCol, vecCol)
    val asg = centroidAssignment(df, idCol, vecCol, centroids)
      .select(col(idCol), col("cid"))
    val lists = codes.join(asg, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = df.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("qid"),
        probeColumn(col(vecCol), centroids, nProbe).as("_probes"))
      .select(col("qid"), explode(col("_probes")).as("cid"))
    val q = lists.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("qid"), col("codes").as("_qc"))
    val scored = probes.join(broadcast(q), "qid")
      .join(lists, "cid")
      .select(col("qid"), col(idCol),
        graft.functions.VectorExpressions.dotB(col("_qc"), col("codes"))
          .as("_dot"))
    graft.functions.TopK.topKPerGroup(scored, "qid", idCol, "_dot", k)
      .select(col("qid").cast("long").as("qid"), col("rank"), col(idCol),
        col("_dot").cast("long").as("qdot"))
  }

  // ------------------------------------------- residual encoding (FAISS)
  // Quantize x − centroid(x) instead of raw x: on clustered data (every
  // real embedding corpus) the full-width raw quantizer spends its 256
  // levels spanning the WHOLE corpus range while the distances that
  // decide rankings are within-cluster gaps — the r14 clustered fixture
  // measured SQ8 recall@10 collapsing 0.725 → 0.425 for exactly this
  // reason. Residuals shrink the quantized dynamic range to those gaps,
  // at identical bytes/vector (the list id was already stored by IVF).

  /** x − centroid(x) per row, with its coarse assignment: (id, vec, cid,
    * resid). The residual is the float difference in the vector's own
    * width; the centroid table rides as one literal.
    */
  def residualFrame(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Array[Float]]): DataFrame = {
    val cents = typedLit(centroids.map(_.toSeq))
    df.select(col(idCol).cast("long").as(idCol), col(vecCol),
      flatAssign(col(vecCol), centroids).as("cid"))
      .withColumn("resid",
        zip_with(col(vecCol), element_at(cents, col("cid") + 1),
          (x, c) => (x - c).cast("float")))
  }

  /** Residual SQ8 index: per-dim [min, max] ranges train on the RESIDUALS
    * (their dynamic range is the within-cluster gap — the point), codes
    * pack to one signed-byte BINARY column exactly like [[int8Codes]].
    * Returns (codes table (id, cid, codes), per-dim mins, per-dim scales)
    * — the two double vectors are the dequantization constants a searcher
    * bakes into its plan as literals.
    */
  def int8ResidualIndex(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[Array[Float]])
      : (DataFrame, Array[Double], Array[Double]) = {
    // Same shuffle-free discipline as [[int8Codes]]: collect the bounded
    // per-dim residual ranges, then ONE codegen projection packs every row
    // — the assignment dot table and the residual subtraction run once per
    // row instead of riding a dim×-exploded shuffle + object regroup.
    val rf = residualFrame(df, idCol, vecCol, centroids)
    val rangeRows = rf
      .select(posexplode(col("resid")).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast("double").as("x"))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val dim = if (rangeRows.isEmpty) 0 else rangeRows.map(_.getInt(0)).max + 1
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    val scale = new Array[Double](dim)
    rangeRows.foreach { r =>
      val p = r.getInt(0)
      mn(p) = r.getDouble(1)
      mx(p) = r.getDouble(2)
      val w = r.getDouble(2) - r.getDouble(1)
      scale(p) = if (w == 0.0) 0.0 else w / 255.0
    }
    val codes = rf.select(col(idCol).cast("long").as(idCol), col("cid"),
      l2Norm(col(vecCol)).as("nb"),
      graft.functions.VectorExpressions.packInt8(col("resid"), mn, mx)
        .as("codes"))
    (codes, mn, scale)
  }

  /** IVF + residual-SQ8 top-k: probe `nProbe` lists, rank in-list by the
    * COSINE of the dequantized reconstruction,
    * 〈q, x̂〉 / (‖q‖·‖x‖) where 〈q, x̂〉 = 〈q, c_list〉 + 〈q, mn〉 +
    * Σ q_d·(code_d+128)·scale_d — three codegen kernels (the centroid dot
    * table, one literal-vector dot, [[graft.functions.ByteVecDot]]'s
    * scaled sibling), never a reconstructed vector materialized. The TRUE
    * vector norm rides the index as a 4-byte-per-vector sidecar (the
    * FAISS discipline for IP/cosine metrics over quantized codes):
    * on clustered data norms vary BY CLUSTER, so unnormalized dot ranking
    * — what the raw symmetric [[int8TopK]] kernel does — caps recall
    * against a cosine ground truth regardless of quantizer quality; the
    * isotropic fixture hides this entirely because χ-concentrated norms
    * make dot ≈ scaled cosine. Same output contract as [[ivfSq8TopK]];
    * `nProbe = centroids.length` makes it a pure quantizer-quality
    * comparison against [[int8TopK]] at (almost) identical bytes/vector
    * (+4 for the norm).
    */
  def ivfSq8ResidualTopK(df: DataFrame, idCol: String, vecCol: String,
                         queryIds: Seq[Long], k: Int,
                         centroids: Seq[Array[Float]],
                         nProbe: Int): DataFrame = {
    val (codes, mn, scale) = int8ResidualIndex(df, idCol, vecCol, centroids)
    val lists = codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mnF = typedLit(mn.map(_.toFloat).toSeq)
    val probes = df.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("qid"), col(vecCol).as("_qv"),
        l2Norm(col(vecCol)).as("_qn"),
        explode(probeColumn(col(vecCol), centroids, nProbe)).as("cid"))
      .withColumn("_cd", element_at(
        graft.functions.VectorExpressions.dotTable(col("_qv"), centroids),
        col("cid") + 1))
      .withColumn("_md", dot(col("_qv"), mnF))
    val scored = probes.join(lists, "cid")
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol),
        round((col("_cd") + col("_md") +
          graft.functions.VectorExpressions.scaledDotB(
            col("_qv"), col("codes"), scale)) / (col("_qn") * col("nb"))
          + lit(1e-9), 4).as("cos_r"))
    val top = graft.functions.TopK.topKPerGroup(scored, "qid", idCol, "cos_r", k)
      .select(col("qid").cast("long").as("qid"), col("rank"), col(idCol),
        col("cos_r"))
    val pinned = graft.core.Materialize.pin(top)
    lists.unpersist(false)
    pinned
  }

  /** IVF-PQ with RESIDUAL codes (Jégou et al. 2011 §V's published main
    * variant): codebooks quantize x − centroid(x); a query computes one
    * ADC table per PROBED LIST over (q − c_list) and candidates are
    * scored only through their own list's table — the join carries
    * (cid, sub, code), so per-query work is nProbe·m·k table entries
    * plus the probed lists' occupancy, exactly [[ivfPqTopK]]'s shape
    * with the residual's tighter quantization range. Train `codebooks`
    * on [[residualFrame]]'s `resid` column (e.g.
    * `pqCodebooks(residualFrame(df, ...), idCol, "resid", m, k)`).
    */
  def ivfPqResidualTopK(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, maxQueryId: Long,
                        centroids: Seq[Array[Float]],
                        codebooks: Seq[Seq[Array[Float]]], nProbe: Int = 3,
                        dimHint: Int = 0): DataFrame = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    val subDim = dim / codebooks.length
    // Single-scan forms of the m-way unions (the pqDistances discipline):
    // the corpus-side codes scan runs the residual subtraction and coarse
    // assignment ONCE per row instead of once per subspace.
    val rf = residualFrame(df, idCol, vecCol, centroids)
    val codeEntries = array(codebooks.zipWithIndex.map { case (cb, sub) =>
      struct(lit(sub).as("sub"),
        pqAssign(slice(col("resid"), sub * subDim + 1, subDim), cb).as("code"))
    }: _*)
    val codes = rf
      .select(col(idCol).as("ib"), col("cid"), explode(codeEntries).as("_e"))
      .select(col("ib"), col("cid"), col("_e.sub").as("sub"),
        col("_e.code").as("code"))
    val cents = typedLit(centroids.map(_.toSeq))
    val qresid = df.filter(col(idCol) < maxQueryId)
      .select(col(idCol).as("ia"), col(vecCol).as("_qv"),
        explode(probeColumn(col(vecCol), centroids, nProbe)).as("cid"))
      .withColumn("_qr",
        zip_with(col("_qv"), element_at(cents, col("cid") + 1),
          (x, c) => (x - c).cast("float")))
    val qdEntries = array(codebooks.zipWithIndex.map { case (cb, sub) =>
      struct(lit(sub).as("sub"),
        graft.functions.VectorExpressions.sqDistTable(
          slice(col("_qr"), sub * subDim + 1, subDim), cb).as("t"))
    }: _*)
    val qd = qresid
      .select(col("ia"), col("cid"), explode(qdEntries).as("_e"))
      .select(col("ia"), col("cid"), col("_e.sub").as("sub"),
        posexplode(col("_e.t")).as(Seq("code", "d")))
    val scored = qd.join(codes, Seq("cid", "sub", "code"))
      .filter(col("ia") =!= col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(round(sum(col("d")) + lit(1e-9), 4).as("adist_r"))
    val w = Window.partitionBy(col("ia")).orderBy(col("adist_r").asc, col("ib").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia"), col("rank"), col("ib"), col("adist_r"))
  }

  /** IVF-PQ residual ranking by a norm-corrected COSINE estimate — the
    * correction that lifted residual SQ8 0.425 → ~1.0 applied to the PQ
    * tier (VERDICT r15 item 2: PQ residual recall at 4+4 B was capped at
    * 0.19–0.34 against the cosine ground truth). [[ivfPqResidualTopK]]'s
    * ADC ranks by ‖q − x̂‖², which against COSINE bakes in the
    * candidate's norm; on clustered corpora norms vary by cluster and
    * that bias dominates quantizer error. The fix keeps the L2-ADC sum
    * (its error largely CANCELS near the query — the ‖x̂‖² term carries a
    * 〈x, e〉 that offsets 〈q, e〉 when q ≈ x, which a naive reconstructed-
    * dot table does not) and converts it through the polarization
    * identity with the TRUE norm sidecar:
    *   cos ≈ (‖q‖² + ‖x‖² − ‖q − x̂‖²) / (2·‖q‖·‖x‖)
    * — exact as quantization error → 0, cluster-norm bias gone, and the
    * residual −‖e‖²/2 term penalizes badly-quantized candidates (the
    * bounded MSE bias every ADC searcher carries). ‖x‖ rides the code
    * table as the 4-byte sidecar, the [[ivfSq8ResidualTopK]] discipline.
    * Same probe shape and cost as the L2 form.
    */
  def ivfPqResidualCosineTopK(df: DataFrame, idCol: String, vecCol: String,
                              k: Int, maxQueryId: Long,
                              centroids: Seq[Array[Float]],
                              codebooks: Seq[Seq[Array[Float]]],
                              nProbe: Int = 3,
                              dimHint: Int = 0): DataFrame = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    val subDim = dim / codebooks.length
    // Single-scan forms of the m-way unions (the pqDistances discipline):
    // one corpus pass computes residual + coarse assignment + norm, then
    // explodes the m (sub, code) structs — the union form re-paid the
    // residual dot table per subspace.
    val rf = residualFrame(df, idCol, vecCol, centroids)
      .withColumn("nb", l2Norm(col(vecCol)))
    val codeEntries = array(codebooks.zipWithIndex.map { case (cb, sub) =>
      struct(lit(sub).as("sub"),
        pqAssign(slice(col("resid"), sub * subDim + 1, subDim), cb).as("code"))
    }: _*)
    val codes = rf
      .select(col(idCol).as("ib"), col("cid"), col("nb"),
        explode(codeEntries).as("_e"))
      .select(col("ib"), col("cid"), col("nb"), col("_e.sub").as("sub"),
        col("_e.code").as("code"))
    val cents = typedLit(centroids.map(_.toSeq))
    val qresid = df.filter(col(idCol) < maxQueryId)
      .select(col(idCol).as("ia"), col(vecCol).as("_qv"),
        l2Norm(col(vecCol)).as("_qn"),
        explode(probeColumn(col(vecCol), centroids, nProbe)).as("cid"))
      .withColumn("_qr",
        zip_with(col("_qv"), element_at(cents, col("cid") + 1),
          (x, c) => (x - c).cast("float")))
    val qdEntries = array(codebooks.zipWithIndex.map { case (cb, sub) =>
      struct(lit(sub).as("sub"),
        graft.functions.VectorExpressions.sqDistTable(
          slice(col("_qr"), sub * subDim + 1, subDim), cb).as("t"))
    }: _*)
    val qd = qresid
      .select(col("ia"), col("cid"), col("_qn"), explode(qdEntries).as("_e"))
      .select(col("ia"), col("cid"), col("_qn"), col("_e.sub").as("sub"),
        posexplode(col("_e.t")).as(Seq("code", "d")))
    // a candidate lives in exactly one list, so each (ia, ib) group holds
    // the m sub rows of one probed cid — _qn/nb constant within it;
    // sum(d) = ‖(q − c) − r̂‖² = ‖q − x̂‖², comparable across lists
    val scored = qd.join(codes, Seq("cid", "sub", "code"))
      .filter(col("ia") =!= col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(round((max(col("_qn")) * max(col("_qn")) +
        max(col("nb")) * max(col("nb")) - sum(col("d"))) /
        (lit(2.0) * max(col("_qn")) * max(col("nb"))) + lit(1e-9), 4)
        .as("cos_r"))
    val w = Window.partitionBy(col("ia")).orderBy(col("cos_r").desc, col("ib").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia"), col("rank"), col("ib"), col("cos_r"))
  }

  /** Quantized brute-force top-k (SQ8 search): each query's codes ride a
    * bounded broadcast against the corpus code table, scores are EXACT
    * integer dots through the codegen [[graft.functions.ByteVecDot]]
    * kernel (no float rounding anywhere in the ranking), and the bounded
    * [[graft.functions.TopKAgg]] reduces ≤ k rows per query per
    * partition. This is the flat-scan tier of quantized search — compose
    * with the IVF coarse quantizer (ivfTopK's list pruning) for the
    * probe-bounded scale path, exactly as FAISS pairs IVF with SQ8.
    */
  def int8TopK(df: DataFrame, idCol: String, vecCol: String,
               queryIds: Seq[Long], k: Int): DataFrame = {
    val codes = int8Codes(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = codes.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("qid"), col("codes").as("_qc"))
    val scored = codes.crossJoin(broadcast(q))
      .select(col("qid"), col(idCol),
        graft.functions.VectorExpressions.dotB(col("_qc"), col("codes"))
          .as("_dot"))
    graft.functions.TopK.topKPerGroup(scored, "qid", idCol, "_dot", k)
      .select(col("qid").cast("long").as("qid"), col("rank"), col(idCol),
        col("_dot").cast("long").as("qdot"))
  }

  /** Binary (1-bit) quantization: per-dimension threshold at the
    * MIDRANGE (mn+mx)/2 — chosen over the mean because min/max are
    * exact under any aggregation order while a float mean is not, so
    * the bit table is deterministic and an oracle replays it bit for
    * bit. Bits pack 8 dims/byte MSB-first into ONE BINARY column (32×
    * smaller than float32, the binary-quantization storage tier below
    * SQ8); trailing pad bits are zero on every row, so they cancel in
    * Hamming distances. Shapes match [[int8Codes]]: one posexplode, a
    * 〈dim〉-row range aggregate broadcast back, one pack per id.
    */
  def binaryCodes(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // The range aggregate reduces to DIM rows — bounded by embedding
    // dimensionality, not corpus size — so collecting it is the same
    // bounded-constant move as the IVF centroid tables, and the packing
    // itself becomes a single shuffle-free codegen projection (the
    // posexplode/regroup formulation shuffled dim× the corpus row count
    // just to reassemble what was already row-local).
    val ranges = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast("double").as("x"))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val dim = if (ranges.isEmpty) 0 else ranges.map(_.getInt(0)).max + 1
    val thr = new Array[Double](dim)
    val const = new Array[Boolean](dim)
    ranges.foreach { r =>
      val p = r.getInt(0)
      val mn = r.getDouble(1); val mx = r.getDouble(2)
      thr(p) = (mn + mx) / 2.0
      const(p) = mn == mx
    }
    // Uniform-dimension guard: a ragged corpus would pack rows to
    // different byte counts, and the prefix-folding Hamming kernel would
    // then count structural pad bits as real mismatches — fail fast
    // per row instead of ranking silently wrong.
    df.select(col(idCol).cast("long").as(idCol),
      when(size(col(vecCol)) === dim,
        graft.functions.VectorExpressions.packBits(col(vecCol), thr, const))
        .otherwise(raise_error(concat(
          lit(s"binaryCodes: expected uniform dim $dim, got "),
          size(col(vecCol)).cast("string"))))
        .as("bits"))
  }

  /** Binary-quantized brute-force top-k (Hamming search): each query's
    * packed bits ride a bounded broadcast against the corpus bit table,
    * distances are EXACT integer XOR/popcounts through the codegen
    * [[graft.functions.ByteVecHamming]] kernel, and the bounded
    * [[graft.functions.TopKAgg]] reduces ≤ k rows per query per
    * partition (distance negated into the max-oriented total order, so
    * ties resolve (distance asc, id asc) on both engines). The cheapest
    * rerank-pipeline first stage: 32× less I/O than float32 scan,
    * compose with exact cosine on the surviving k, or with the IVF
    * coarse quantizer for the probe-bounded scale path.
    */
  def hammingTopK(df: DataFrame, idCol: String, vecCol: String,
                  queryIds: Seq[Long], k: Int): DataFrame = {
    val codes = binaryCodes(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = codes.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("qid"), col("bits").as("_qb"))
    val scored = codes.crossJoin(broadcast(q))
      .select(col("qid"), col(idCol),
        (-graft.functions.VectorExpressions.hammingB(col("_qb"), col("bits")))
          .as("_neg"))
    val top = graft.functions.TopK.topKPerGroup(scored, "qid", idCol, "_neg", k)
      .select(col("qid").cast("long").as("qid"), col("rank"), col(idCol),
        (-col("_neg")).cast("long").as("hd"))
    // Eagerly pin the bounded result (≤ |queryIds|·k rows) so the codes
    // cache — unreachable to callers — can be released here instead of
    // leaking one MEMORY_AND_DISK entry per call in a long session.
    // Materialize.pin upgrades to a reliable checkpoint when the session
    // has a checkpoint dir, so the returned frame survives executor loss.
    val pinned = graft.core.Materialize.pin(top)
    codes.unpersist(false)
    pinned
  }

  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xs = df.select(col(idCol).as("id"),
      posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("id"), col("pos"), col("xf").cast("double").as("x"))
    val ranges = xs.groupBy("pos")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    xs.join(broadcast(ranges), "pos")
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0)).otherwise(
          (round((col("x") - col("mn")) / (col("mx") - col("mn")) * 255.0)
            - 128).cast("int")))
      .withColumn("xq",
        col("mn") + (col("code") + 128).cast("double")
          * (col("mx") - col("mn")) / 255.0)
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        countDistinct(col("code")).as("n_codes"),
        min(col("code")).as("code_min"), max(col("code")).as("code_max"),
        avg(abs(col("x") - col("xq"))).as("mean_abs_err"))
  }

  /** IVF-PQ top-k (Jégou et al. 2011 §V: inverted file + asymmetric
    * distance, here the no-residual variant — codes quantize the vector
    * itself, the simpler of the two published layouts): the coarse
    * quantizer routes every vector into one of `nlist` lists, a query
    * probes its `nProbe` best lists, and only the vectors IN those lists
    * are ranked, by PQ ADC distance over the stored m-code words. The two
    * index structures compose exactly as deployed at scale: candidate
    * generation (probe lists) bounds the scan to ≈ nProbe/nlist of the
    * corpus, PQ bounds the per-candidate cost to m table lookups on
    * 8-byte codes. The join is candidate-DRIVEN (probe ⋈ list membership
    * first, distances only for survivors) — the same discipline as the
    * LSH verify tier, never an all-pairs ADC.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
                maxQueryId: Long, centroids: Seq[Array[Float]],
                codebooks: Seq[Seq[Array[Float]]], nProbe: Int = 3,
                dimHint: Int = 0): DataFrame = {
    val dim = if (dimHint > 0) dimHint
              else df.select(size(col(vecCol))).first().getInt(0)
    val subDim = dim / codebooks.length
    val dists0 = pqDistances(df, idCol, vecCol, codebooks, subDim)
    val dists =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        dists0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else dists0
    val codes = dists // the stored index: one m-code word per vector
      .groupBy(col("vid").as("ib"), col("sub"))
      .agg(min(struct(col("d"), col("code"))).getField("code").as("code"))
    val members = df.select(col(idCol).as("ib"),
      flatAssign(col(vecCol), centroids).as("cid"))
    val probes = df.filter(col(idCol) < maxQueryId)
      .select(col(idCol).as("ia"),
        explode(probeColumn(col(vecCol), centroids, nProbe)).as("cid"))
    val cand = probes.join(members, Seq("cid"))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib")).distinct()
    val qd = dists.filter(col("vid") < maxQueryId)
      .select(col("vid").as("ia"), col("sub"), col("code"), col("d"))
    val scored = cand
      .join(codes, Seq("ib"))
      .join(qd, Seq("ia", "sub", "code"))
      .groupBy(col("ia"), col("ib"))
      .agg(round(sum(col("d")) + lit(1e-9), 4).as("adist_r"))
    val w = Window.partitionBy(col("ia")).orderBy(col("adist_r").asc, col("ib").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia"), col("rank"), col("ib"), col("adist_r"))
  }

  /** SemDedup-style semantic deduplication (Abbas et al. 2023, "SemDeDup" —
    * the embedding-space dedup stage LLM curation pipelines run after exact
    * and fuzzy dedup): cluster the corpus with the collected coarse
    * quantizer (`ivfCentroids`), score the exact rounded cosine only WITHIN
    * clusters, connect pairs ≥ τ, and keep the minimum id of each semantic
    * duplicate group.
    *
    * Scale shape: assignment runs the two-level kernel (`sProbe <= 0`
    * probes all supergroups — bit-parity with the flat k-dot argmax;
    * production passes a small sProbe for the √k-dot approximate
    * assignment, the same trade the index build makes); the pair join
    * buckets on cluster id, so the quadratic term is bounded by cluster
    * occupancy (≈ n/k with balanced centroids — k grows with the corpus
    * exactly like the IVF quantizer), never corpus-wide; group resolution
    * is the checkpoint-truncated CC used by `resolveClusters`.
    *
    * Output: one row per input id — (id, cid, component, is_survivor).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, tau: Double,
                    centroids: Seq[Array[Float]],
                    sProbe: Int = 0): DataFrame = {
    val base0 = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"),
      assignColumn(col(vecCol), centroids, sProbe).as("cid"))
    val base = // referenced by both pair sides and the id universe
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    val a = base.select(col("cid"), col("id").as("ia"), col("v").as("va"),
      col("nrm").as("na"))
    val b = base.select(col("cid"), col("id").as("ib"), col("v").as("vb"),
      col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cid")).filter(col("ia") < col("ib"))
      .withColumn("cos_r",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) + lit(1e-9), 4))
      .filter(col("cos_r") >= tau)
      .select(col("ia").as("da"), col("ib").as("db"))
    val comps = DedupOps.connectedComponents(base.select(col("id")), "id", pairs)
    base.select("id", "cid").join(comps, Seq("id"))
      .withColumn("is_survivor", col("id") === col("component"))
  }

  /** ANN recall report — the tuning instrument a production retrieval
    * stack is sized with (recall@k vs probe/code budget; FAISS publishes
    * exactly these curves): measured recall@k of each quantized tier
    * against the EXACT [[topKCosine]] ground truth on the query sample
    * `id < maxQueryId`. Composes the shipped operators — IVF with real
    * pruning (`nProbe` of the centroid lists), PQ ADC ranking, SQ8
    * flat-scan, binary-Hamming flat-scan — and scores each by ground-truth
    * overlap. The flat integer tiers rank the query itself first, so they
    * search k+1 and drop self (equivalent to excluding self from the
    * candidate set: wherever self ranks, the surviving prefix is the
    * non-self top-k). Output: one row per tier,
    * (tier, n_queries, k, hits, possible, recall), recall rounded for
    * cross-engine parity. Cost: ground truth is the brute-force oracle
    * tier over the BOUNDED query sample (|Q|·N, the documented baseline
    * shape); each quantized tier is probe/code-bounded as shipped.
    */
  def annRecallReport(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, maxQueryId: Long,
                      centroids: Seq[Array[Float]], nProbe: Int,
                      codebooks: Seq[Seq[Array[Float]]],
                      dimHint: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qids = (0L until maxQueryId).toSeq
    // ground truth, pinned: bounded at k·|Q| rows and reused by every
    // tier's hit join plus the possible count (the Materialize.pin
    // lifecycle — no persist left behind)
    val truth = graft.core.Materialize.pin(
      topKCosine(df, idCol, vecCol, k, maxQueryId)
        .select(col("ia").as("q"), col("ib").as("nb")))
    val possible = truth.count()
    def dropSelf(d: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("q")).orderBy(col("rank"))
      d.filter(col("q") =!= col("nb"))
        .withColumn("_rk", row_number().over(w)).filter(col("_rk") <= k)
        .select("q", "nb")
    }
    val tiers: Seq[(String, DataFrame)] = Seq(
      "ivf" -> ivfTopK(df, idCol, vecCol, k, maxQueryId, centroids, nProbe)
        .select(col("ia").as("q"), col("ib").as("nb")),
      "pq" -> pqTopK(df, idCol, vecCol, k, maxQueryId, codebooks, dimHint)
        .select(col("ia").as("q"), col("ib").as("nb")),
      "sq8" -> dropSelf(int8TopK(df, idCol, vecCol, qids, k + 1)
        .select(col("qid").as("q"), col(idCol).as("nb"), col("rank"))),
      "binary" -> dropSelf(hammingTopK(df, idCol, vecCol, qids, k + 1)
        .select(col("qid").as("q"), col(idCol).as("nb"), col("rank"))))
    val tagged = tiers.map { case (t, d) => d.withColumn("tier", lit(t)) }
      .reduce(_.unionByName(_))
    val hits = tagged.join(broadcast(truth), Seq("q", "nb"), "left_semi")
      .groupBy("tier").agg(count(lit(1)).as("hits"))
    // literal tier spine: a tier with zero overlap still reports its row
    tiers.map(_._1).toDF("tier")
      .join(hits, Seq("tier"), "left")
      .select(col("tier"), lit(maxQueryId).as("n_queries"), lit(k).as("k"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        lit(possible).as("possible"),
        round(coalesce(col("hits"), lit(0L)) / lit(possible.toDouble)
          + lit(1e-9), 4).as("recall"))
  }

  /** Brute-force top-k neighbours for a query subset: rank by (rounded cos
    * desc, id asc) so ties are deterministic across engines.
    */
  def topKCosine(df: DataFrame, idCol: String, vecCol: String,
                 k: Int, maxQueryId: Long): DataFrame = {
    val q = df.filter(col(idCol) < maxQueryId)
      .select(col(idCol).as("ia"), col(vecCol).as("va"), l2Norm(col(vecCol)).as("na"))
    val c = df.select(col(idCol).as("ib"), col(vecCol).as("vb"), l2Norm(col(vecCol)).as("nb"))
    val scored = q.crossJoin(c).filter(col("ia") =!= col("ib"))
      .withColumn("cos_r",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) + lit(1e-9), 4))
    val w = Window.partitionBy(col("ia")).orderBy(col("cos_r").desc, col("ib"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia"), col("rank"), col("ib"), col("cos_r"))
  }
}
