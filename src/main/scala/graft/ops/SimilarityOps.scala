package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim.{toColumn, toExpression}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>): brute-force cosine top-k as the exactness baseline,
  * and two scale paths — a random-hyperplane LSH bucketed variant
  * (candidates only within matching sign-sketch buckets) and an IVF
  * (inverted-file) variant (corpus partitioned into k nearest-centroid
  * lists, probes scan only the nprobe closest lists). Dot products
  * via zip_with/aggregate — pure Catalyst, codegen'd; the sign sketch
  * is a native expression over a driver-precomputed plane matrix
  * ([[HyperplaneChunks]]).
  *
  * Scale split (the 10^10-row shape): [[buildLshIndex]] sketches the
  * corpus ONCE into a banded (id, band, chunk) table — persist/write it
  * as the index — and [[probeLshTopK]] answers each query by
  * broadcast-joining the query's `bands` sketch rows against that
  * stored table, touching ~N·bands/2^chunkBits rows instead of
  * re-sketching the corpus per query (round-4's lshTopK rebuilt the
  * index inside every probe).
  */
object SimilarityOps {

  /** Σ aᵢ·bᵢ of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Brute-force top-k by cosine against one query vector: a single
    * scan + a k-row TakeOrderedAndProject (no shuffle of vectors).
    */
  def bruteTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * zero-mean, derived from xxhash64 over the two ints — REPLICATED
    * here on the driver by evaluating the identical Catalyst expression
    * (XxHash64 over two int literals, seed 42, pmod 2001), so sketches
    * are bit-for-bit the values the former per-row expression computed.
    */
  private def planeVal(plane: Int, dim: Int): Double = {
    val h = new XxHash64(Seq(Literal(plane), Literal(dim)))
      .eval(null).asInstanceOf[Long]
    val m = ((h % 2001L) + 2001L) % 2001L
    (m.toDouble - 1000.0) / 1000.0
  }

  /** Flattened planes×dims matrix, memoized per shape (row-invariant —
    * computed once on the driver, never per row; see What-went-wrong in
    * HyperplaneChunks' doc).
    */
  private val matCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Double]]
  private def planeMatrix(planes: Int, dims: Int): Array[Double] =
    matCache.getOrElseUpdate((planes, dims), {
      val m = new Array[Double](planes * dims)
      var p = 0
      while (p < planes) {
        var d = 0
        while (d < dims) { m(p * dims + d) = planeVal(p, d); d += 1 }
        p += 1
      }
      m
    })

  /** Per-band sign chunks as array<long> (length `bands`): bit j of
    * band b is sign(v · plane_{b·chunkBits+j}). 16-bit chunks give
    * 65,536 buckets per band, so a band pairs only ~N/65536 of the
    * corpus with itself — what makes the bucket join survive 10^10
    * rows. `dims` sizes the plane matrix; vectors shorter than dims
    * contribute zeros for the missing components (identical projection
    * to summing only the vector's own length).
    */
  def bandChunksLongs(vec: Column, bands: Int, chunkBits: Int,
      dims: Int = 64): Column =
    toColumn(HyperplaneChunks(toExpression(vec),
      planeMatrix(bands * chunkBits, dims), bands, chunkBits, dims))

  /** Struct-form compatibility wrapper: array<struct<band,chunk>>. */
  def bandChunks(vec: Column, bands: Int, chunkBits: Int, dims: Int = 64): Column = {
    val ch = bandChunksLongs(vec, bands, chunkBits, dims)
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("int").as("band"), element_at(ch, b + 1).as("chunk")))
  }

  /** Build-once LSH index: the banded sketch rows (idCol, band, chunk)
    * of the corpus. Persist (or write out bucketed by (band, chunk))
    * once; every probe joins against it. One scan of the vectors, one
    * sketch per row.
    */
  def buildLshIndex(df: DataFrame, vecCol: String, idCol: String,
      bands: Int = 16, chunkBits: Int = 16, dims: Int = 64): DataFrame =
    df.select(col(idCol),
      posexplode(bandChunksLongs(col(vecCol), bands, chunkBits, dims))
        .as(Seq("band", "chunk")))

  /** Probe a prebuilt index: candidates share ≥1 band chunk with the
    * query (the query side is `bands` rows, broadcast); exact cosine
    * re-ranks after re-joining the vectors by id. With 16-bit chunks a
    * random vector matches the query in a band with p ≈ 2^-16·(sign
    * correlation), so candidates ≈ N·bands/65536 ≪ N — an index probe,
    * not a scan. Recall for high-cosine targets: p_band ≈ (1 − θ/π)^16
    * ≈ 0.27 at cos 0.97, so across 16 bands P(≥1 hit) ≈ 1 − 0.73^16 ≈
    * 99.4%; exact duplicates always collide.
    */
  def probeLshTopK(index: DataFrame, vecs: DataFrame, vecCol: String,
      idCol: String, query: Seq[Float], k: Int,
      bands: Int = 16, chunkBits: Int = 16, dims: Int = 64): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qSketch = Seq(Tuple1(query)).toDF("v")
      .select(posexplode(bandChunksLongs(col("v"), bands, chunkBits, dims))
        .as(Seq("band", "chunk")))
    val candIds = index.join(broadcast(qSketch), Seq("band", "chunk"))
      .select(col(idCol)).distinct()
    candIds.join(vecs, Seq(idCol))
      .select(col(idCol), round(cosine(col(vecCol), typedLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** One-shot LSH top-k = build + probe in one plan (correctness
    * surface; a probe-many workload persists [[buildLshIndex]] once and
    * calls [[probeLshTopK]] — see SparkEntry's ann_lsh_index_build /
    * ann_lsh_probe pair).
    */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, bands: Int = 16, chunkBits: Int = 16,
      dims: Int = 64): DataFrame =
    probeLshTopK(buildLshIndex(df, vecCol, idCol, bands, chunkBits, dims),
      df.select(col(idCol), col(vecCol)), vecCol, idCol, query, k,
      bands, chunkBits, dims)

  /** The banded sketch rows behind [[cosineNearDups]] (for
    * DedupOps.droppedBuckets with keyCols band/chunk).
    */
  def cosineBanded(df: DataFrame, vecCol: String, idCol: String,
      bands: Int = 12, chunkBits: Int = 16, dims: Int = 64): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(bandChunksLongs(col(vecCol), bands, chunkBits, dims))
        .as(Seq("band", "chunk")))

  // ================= IVF (inverted-file) ANN ========================
  //
  // The second scale path next to LSH: partition the corpus into k
  // inverted lists by nearest centroid, probe only the nprobe lists
  // whose centroids are closest to the query. Training is a bounded
  // deterministic driver-side spherical k-means over a hash-selected
  // sample (at 10^10 rows IVF training is ALWAYS on a bounded sample —
  // sampleCap·dims doubles ≈ 2 MB at the defaults, and a driver-local
  // Lloyd loop is deterministic where a distributed groupBy-avg is
  // partition-order-sensitive in its float summation). Assignment and
  // probing are the same k·dims dot-product loop, once as a native
  // codegen expression over the corpus ([[NearestCentroid]]), once on
  // the driver over the k-row centroid matrix ([[rankClusters]]).

  /** Normalize each row of a flattened k×dims matrix to unit L2
    * in place (zero rows stay zero) and return it.
    */
  private def normalizeRows(m: Array[Double], dims: Int): Array[Double] = {
    var off = 0
    while (off < m.length) {
      var s = 0.0d
      var d = 0
      while (d < dims) { val x = m(off + d); s += x * x; d += 1 }
      if (s > 0) {
        val inv = 1.0d / math.sqrt(s)
        d = 0
        while (d < dims) { m(off + d) *= inv; d += 1 }
      }
      off += dims
    }
    m
  }

  /** All cluster indices ordered by (dot(vec, centroid) desc, index
    * asc) — the SAME double-precision ascending-dim loop
    * [[NearestCentroid]] runs per row, so `rankClusters(v).head` is
    * exactly the cluster the build assigns vector v to. That identity
    * is what makes a planted probe deterministic: exact copies of the
    * query sit in the probe's first-ranked list by construction.
    */
  def rankClusters(vec: Seq[Float], centroids: Array[Double],
      dims: Int = 64): Array[Int] = {
    val k = centroids.length / dims
    val n = math.min(vec.length, dims)
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val off = c * dims
      var s = 0.0d
      var d = 0
      while (d < n) { s += vec(d).toDouble * centroids(off + d); d += 1 }
      scores(c) = s
      c += 1
    }
    Array.range(0, k).sortBy(i => (-scores(i), i))
  }

  /** Deterministic sampled spherical k-means: collect the `sampleCap`
    * rows with the smallest (xxhash64(id), id) — a seed-free uniform
    * pseudo-sample that is stable across partitionings — initialize
    * centroids from the first k sample vectors, run `iters` Lloyd
    * iterations on the driver (empty clusters keep their previous
    * centroid), and return the flattened k'×dims matrix normalized to
    * unit rows (k' = min(k, sample size)). Bounded driver work:
    * O(sampleCap·k·dims·iters) flops, no per-row data motion.
    */
  def trainCentroids(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 2, dims: Int = 64, sampleCap: Int = 4096): Array[Double] = {
    require(k > 0 && iters >= 0 && sampleCap >= k,
      s"need k>0, iters>=0, sampleCap>=k (got k=$k iters=$iters cap=$sampleCap)")
    val rows = df
      .select(col(idCol).as("i"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("i")), col("i"))
      .limit(sampleCap)
      .collect()
    require(rows.nonEmpty, "trainCentroids: empty corpus")
    val sample: Array[Array[Double]] = rows.map { r =>
      val s = r.getSeq[Number](1)
      val a = new Array[Double](dims)
      var d = 0
      val n = math.min(s.length, dims)
      while (d < n) { a(d) = s(d).doubleValue(); d += 1 }
      a
    }
    val kk = math.min(k, sample.length)
    // flattened k'×dims working matrix, init = first k' sample rows
    var cents = new Array[Double](kk * dims)
    var c = 0
    while (c < kk) {
      System.arraycopy(sample(c), 0, cents, c * dims, dims); c += 1
    }
    var it = 0
    while (it < iters) {
      val normed = normalizeRows(cents.clone(), dims)
      val sums = new Array[Double](kk * dims)
      val cnt = new Array[Int](kk)
      sample.foreach { v =>
        // same argmax-dot loop as NearestCentroid (strict >: ties to
        // the lowest index)
        var best = 0
        var bestS = Double.NegativeInfinity
        var cc = 0
        while (cc < kk) {
          val off = cc * dims
          var s = 0.0d
          var d = 0
          while (d < dims) { s += v(d) * normed(off + d); d += 1 }
          if (s > bestS) { bestS = s; best = cc }
          cc += 1
        }
        val off = best * dims
        var d = 0
        while (d < dims) { sums(off + d) += v(d); d += 1 }
        cnt(best) += 1
      }
      val next = new Array[Double](kk * dims)
      c = 0
      while (c < kk) {
        val off = c * dims
        if (cnt(c) > 0) {
          var d = 0
          while (d < dims) { next(off + d) = sums(off + d) / cnt(c); d += 1 }
        } else {
          System.arraycopy(cents, off, next, off, dims)
        }
        c += 1
      }
      cents = next
      it += 1
    }
    normalizeRows(cents, dims)
  }

  /** Nearest-centroid cluster id (int) for an embedding column.
    * `centroids` is a flattened unit-normalized k×dims matrix (from
    * [[trainCentroids]]); it rides the plan's codegen references —
    * shipped once per executor, never per row.
    */
  def assignCluster(vec: Column, centroids: Array[Double],
      dims: Int = 64): Column =
    toColumn(NearestCentroid(toExpression(vec), centroids,
      centroids.length / dims, dims))

  /** Build-once IVF index: (cluster, id, vector) — the inverted lists.
    * Persist, or at scale write with `.partitionBy("cluster")`, so a
    * probe's `cluster IN (...)` filter prunes to nprobe lists at the
    * source (partition pruning — no scan of the other k − nprobe
    * lists). One pass over the corpus, k·dims flops per row, no
    * shuffle (the assignment is a projection).
    */
  def buildIvfIndex(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Double], dims: Int = 64): DataFrame =
    df.select(assignCluster(col(vecCol), centroids, dims).as("cluster"),
      col(idCol), col(vecCol))

  /** Probe a prebuilt IVF index: rank the k centroids against the
    * query ON THE DRIVER (k·dims flops — the centroid table is tiny by
    * construction), keep the top `nprobe` clusters, scan only those
    * inverted lists and exact-cosine re-rank. Scanned fraction ≈
    * nprobe/k of the corpus (exactly that under balanced lists);
    * recall is the mass of true neighbors inside the probed lists —
    * nprobe=k degenerates to exact brute force.
    */
  def probeIvfTopK(index: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], centroids: Array[Double], k: Int,
      nprobe: Int = 4, dims: Int = 64): DataFrame = {
    val probed = rankClusters(query, centroids, dims).take(nprobe)
    index.filter(col("cluster").isin(probed.map(Int.box).toSeq: _*))
      .select(col(idCol), round(cosine(col(vecCol), typedLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-dup pairs via sketch-band bucketing (the
    * embedding flavor of DedupOps.minhashNearDups). 12 bands × 16-bit
    * chunks: a random pair collides in a band with p = 2^-16·(sign
    * pattern), so candidates stay ≪ N²; very-near dups (cos ≥ ~0.97)
    * are caught with ≥ ~95% probability and exact duplicates always
    * (identical vectors share every chunk). Vectors do NOT ride the
    * band shuffle — candidates re-join them by id; `bucketCap` bounds
    * degenerate buckets (e.g. all-zero vectors).
    */
  def cosineNearDups(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, bands: Int = 12, chunkBits: Int = 16,
      bucketCap: Int = 5000, dims: Int = 64): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = cosineBanded(df, vecCol, idCol, bands, chunkBits, dims)
    val capped = banded.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("chunk"))))
      .filter(col("__n") > 1 && col("__n") <= bucketCap).drop("__n")
    val l = capped.select(col("band"), col("chunk"), col("id").as("idA"))
    val r = capped.select(col("band"), col("chunk"), col("id").as("idB"))
    val cand = l.join(r, Seq("band", "chunk")).filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    cand
      .join(vecs.select(col("id").as("idA"), col("v").as("vA")), Seq("idA"))
      .join(vecs.select(col("id").as("idB"), col("v").as("vB")), Seq("idB"))
      .withColumn("cos", round(cosine(col("vA"), col("vB")), 6))
      .filter(col("cos") >= threshold)
      .select("idA", "idB", "cos")
  }
}
