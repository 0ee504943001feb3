package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each expressed
  * Spark-first (shuffle-on-key groupBys, banded LSH joins — no
  * pairwise O(n²) anywhere except inside LSH buckets):
  *
  *  - exact:   hash-groupBy on content hash (dupdet.py:38-89 shape)
  *  - minhash: shingle → K-permutation signature → banded LSH buckets
  *             → candidate pairs → exact Jaccard verify
  *  - simhash: 64-bit sign-sum sketch → 4×16-bit band buckets →
  *             hamming verify
  *  - ngram Jaccard: exact verification measure on shingle sets
  *
  * Signatures, sketches and shingles are native Catalyst expressions
  * ([[MinHashSig]], [[SimHashSketch]], [[WordShingles]],
  * [[JaccardShingles]]) — one compiled loop per row, scale with a scan.
  */
object DedupOps {

  /** The reference's content hash (dupdet.py:82-89): SHA-512 over bytes. */
  def sha512(text: Column): Column = sha2(text.cast("binary"), 512)

  /** Exact dedup: keep the first (min orderCol) row per content hash;
    * one shuffle on the hash.
    */
  def exactDedup(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col("__h")).orderBy(col(orderCol))
    df.withColumn("__h", sha512(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__h", "__rn")
  }

  /** Duplicate groups (dupdet.py shape D4): size-class + hash groups
    * with >1 member; evidence = earliest member (window first).
    * `hashFn` defaults to the reference's sha512; callers needing an
    * ANSI-oracle-comparable hash can pass e.g. `functions.md5 _`.
    */
  def dupGroups(df: DataFrame, textCol: String, idCol: String,
      hashFn: Column => Column = c => sha512(c)): DataFrame = {
    val h = hashFn(col(textCol))
    df.select(col(idCol), length(col(textCol)).cast("long").as("len"), h.as("hash"))
      .withColumn("first_id", min(col(idCol)).over(Window.partitionBy(col("hash"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("hash"))))
      .filter(col("n") > 1)
      .select(col(idCol), col("len"), col("hash"), col("first_id"), col("n"))
  }

  /** Word shingles (n-grams of tokens) as an array column: a native
    * expression ([[WordShingles]]) — one compiled loop per row instead
    * of the interpreted transform/slice/concat_ws ladder (OpsSpec pins
    * it bit-for-bit against that higher-order-function form).
    */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
    toColumn(WordShingles(toExpression(split(lower(trim(text)), "\\s+")), n))
  }

  /** MinHash signature: K permutations h_i(x) = xxhash64(xxhash64(x), i);
    * signature[i] = min over shingles. A native expression
    * ([[MinHashSig]]): one pass over the shingle array, each shingle
    * string-hashed once then K cheap long-mixes in a compiled loop —
    * the higher-order aggregate/zip_with form (OpsSpec's equivalence
    * twin) allocated a K-array per shingle in interpreted
    * lambda eval and dominated dd_minhash_pairs in BENCH_r04.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
    toColumn(MinHashSig(toExpression(shingleCol), k))
  }

  /** Banded-LSH candidate pairs: split the K-length signature into
    * `bands` bands, bucket-join on (band index, band hash), verify with
    * exact shingle Jaccard ≥ threshold. Returns (idA, idB, jaccard)
    * with idA < idB.
    *
    * Scale shape: the band self-join carries ONLY (id, bandHash) — no
    * shingle arrays ride the shuffle; texts are re-joined by id for the
    * (tiny) surviving candidate set, where the exact Jaccard verify
    * runs once per pair. Buckets larger than `bucketCap` rows (shared
    * boilerplate at corpus scale) are dropped before pairing, bounding
    * the worst bucket at O(bucketCap²) instead of O(N²).
    */
  /** The banded-signature rows (id, band, bandHash) behind
    * [[minhashNearDups]]; exposed so [[droppedBuckets]] can report the
    * over-cap buckets excluded from pairing (the "no silent caps" rule).
    */
  def minhashBanded(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 20, bands: Int = 5): DataFrame = {
    val rows = k / bands
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(shingles(col(textCol), shingleN), k).as("sig"))
    sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
  }

  /** Buckets of a banded structure that exceed `bucketCap` — the rows a
    * capped near-dup pass EXCLUDES from pairing. At corpus scale an
    * over-cap bucket is shared boilerplate whose O(n²) pairing would
    * stall the job; it is dropped, and this accessor makes the drop
    * observable (count / log it next to the pair output) instead of
    * silent. Returns (band, bucket key, n) per dropped bucket.
    */
  def droppedBuckets(banded: DataFrame, bucketCap: Int,
      keyCols: Seq[String] = Seq("band", "bandHash")): DataFrame =
    banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > bucketCap)

  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 20, bands: Int = 5,
      threshold: Double = 0.8, bucketCap: Int = 5000): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(textCol).as("__t"))
    val banded = minhashBanded(df, textCol, idCol, shingleN, k, bands)
    // one shuffle on (band, bandHash); window reuses that partitioning
    val capped = banded.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bandHash"))))
      .filter(col("__n") > 1 && col("__n") <= bucketCap).drop("__n")
    val l = capped.select(col("band"), col("bandHash"), col("id").as("idA"))
    val r = capped.select(col("band"), col("bandHash"), col("id").as("idB"))
    val cand = l.join(r, Seq("band", "bandHash")).filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    cand
      .join(docs.select(col("id").as("idA"), col("__t").as("__tA")), Seq("idA"))
      .join(docs.select(col("id").as("idB"), col("__t").as("__tB")), Seq("idB"))
      .withColumn("jaccard",
        jaccard(shingles(col("__tA"), shingleN), shingles(col("__tB"), shingleN)))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact Jaccard similarity of two shingle-array columns: a native
    * expression ([[JaccardShingles]]) — one hash-set pass instead of
    * four array-expression passes (distinct ×2, intersect, union).
    */
  def jaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
    toColumn(JaccardShingles(toExpression(a), toExpression(b)))
  }

  /** 64-bit SimHash: per token-hash, each bit contributes ±1; the sign
    * of each accumulated counter forms the sketch bit. A native
    * expression ([[SimHashSketch]]) — one compiled loop per row; the
    * aggregate/zip_with form is OpsSpec's bit-for-bit spec twin.
    */
  def simhash64(text: Column): Column = {
    import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
    toColumn(SimHashSketch(toExpression(split(lower(trim(text)), "\\s+"))))
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups: bucket on any equal 16-bit chunk (4 bands →
    * catches all pairs with hamming ≤ 3), verify hamming ≤ maxDist.
    * `bucketCap` bounds mega-buckets (near-identical boilerplate all
    * sharing a chunk at corpus scale) to O(bucketCap²) pair work.
    */
  /** The banded sketch rows behind [[simhashNearDups]] (for
    * [[droppedBuckets]] with keyCols band/chunk).
    */
  def simhashBanded(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sk = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sim"))
    sk.select(col("id"), col("sim"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sim"), b * 16).bitwiseAND(0xffffL))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
  }

  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, bucketCap: Int = 5000): DataFrame = {
    val banded = simhashBanded(df, textCol, idCol)
    val capped = banded.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("chunk"))))
      .filter(col("__n") > 1 && col("__n") <= bucketCap).drop("__n")
    val l = capped.select(col("band"), col("chunk"), col("id").as("idA"), col("sim").as("simA"))
    val r = capped.select(col("band"), col("chunk"), col("id").as("idB"), col("sim").as("simB"))
    l.join(r, Seq("band", "chunk")).filter(col("idA") < col("idB"))
      .dropDuplicates("idA", "idB")
      .withColumn("hamming", hamming64(col("simA"), col("simB")))
      .filter(col("hamming") <= maxDist)
      .select(col("idA"), col("idB"), col("hamming"))
  }
}
