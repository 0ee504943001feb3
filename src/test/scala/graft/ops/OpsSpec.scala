package graft.ops

import graft.seen.UrlSeen
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the training-data operators: planted near-duplicates must
  * be found, exact measures must be exact, sketches deterministic.
  */
class OpsSpec extends AnyFunSuite {
  import OpsSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"

  test("minhash LSH finds planted near-duplicates and skips distinct docs") {
    val docs = Seq(
      (0L, base),
      (1L, base + " extra"), // near-dup of 0
      (2L, base.replace("quick", "slow")), // near-dup of 0
      (3L, "completely different content about spark catalyst optimizer internals and shuffles"),
      (4L, base) // exact dup of 0
    ).toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDups(docs, "text", "doc_id",
        shingleN = 3, k = 24, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L)), s"exact dup must be found: $pairs")
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 2L)), s"near dup expected: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"distinct doc must not pair: $pairs")
  }

  test("native MinHashSig ≡ the HOF aggregate form, bit-for-bit (eval + codegen)") {
    // the planted/natural-corpus oracles pin signature-derived outputs,
    // so the native rewrite must reproduce the exact longs — including
    // empty shingle arrays (all Long.MaxValue) and single-token texts
    val docs = (Seq((0L, base), (1L, base + " extra"), (2L, "one"), (3L, ""),
      (4L, "çà l'été ünïcode 字符 test")) ++
      (5L until 40L).map(i => (i, s"synthetic doc $i with shared words " * (i % 5 + 1).toInt)))
      .toDF("doc_id", "text")
    for (cg <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val both = docs.select(
        DedupOps.minhashSignature(DedupOps.shingles(col("text"), 3), 20).as("native"),
        minhashSignatureHof(DedupOps.shingles(col("text"), 3), 20).as("hof"))
        .collect()
      both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"signature mismatch (codegen=$cg)"))
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  // shared corpus for the native-vs-HOF equivalence tests: empty,
  // single-token, unicode, repeated-token and long synthetic docs
  private lazy val equivDocs = (Seq((0L, base), (1L, base + " extra"), (2L, "one"),
    (3L, ""), (4L, "çà l'été ünïcode 字符 test"), (5L, "a a a b b a"),
    (6L, "  leading and   trailing  ")) ++
    (7L until 40L).map(i => (i, s"synthetic doc $i with shared words " * (i % 5 + 1).toInt)))
    .toDF("doc_id", "text")

  test("native WordShingles ≡ the HOF transform form, bit-for-bit (eval + codegen)") {
    for (cg <- Seq("true", "false"); n <- Seq(1, 2, 3, 7)) {
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val both = equivDocs.select(
        DedupOps.shingles(col("text"), n).as("native"),
        shinglesHof(col("text"), n).as("hof")).collect()
      both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"shingle mismatch (codegen=$cg, n=$n): ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("native SimHashSketch ≡ the HOF aggregate form, bit-for-bit (eval + codegen)") {
    for (cg <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val both = equivDocs.select(
        DedupOps.simhash64(col("text")).as("native"),
        simhash64Hof(col("text")).as("hof")).collect()
      both.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"simhash mismatch (codegen=$cg): ${r.getLong(0)} vs ${r.getLong(1)}"))
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("native JaccardShingles ≡ the array-function form, bit-for-bit (eval + codegen)") {
    val b = equivDocs.filter(col("doc_id") === 0)
      .select(DedupOps.shingles(col("text"), 2).as("shB"))
    for (cg <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val both = equivDocs.crossJoin(broadcast(b)).select(
        DedupOps.jaccard(DedupOps.shingles(col("text"), 2), col("shB")).as("native"),
        jaccardHof(shinglesHof(col("text"), 2), col("shB")).as("hof"))
        .collect()
      both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
        s"jaccard mismatch (codegen=$cg): ${r.getDouble(0)} vs ${r.getDouble(1)}"))
      // degenerate inputs: both empty (union 0), null elements, disjoint
      val edge = spark.range(1).select(
        DedupOps.jaccard(typedLit(Seq.empty[String]), typedLit(Seq.empty[String])).as("e"),
        jaccardHof(typedLit(Seq.empty[String]), typedLit(Seq.empty[String])).as("eh"),
        DedupOps.jaccard(typedLit(Seq[String]("x", null, "y")),
          typedLit(Seq[String](null, "z", "x", "x"))).as("n"),
        jaccardHof(typedLit(Seq[String]("x", null, "y")),
          typedLit(Seq[String](null, "z", "x", "x"))).as("nh")).head()
      assert(edge.getDouble(0) == edge.getDouble(1), s"empty-union mismatch (codegen=$cg)")
      assert(edge.getDouble(2) == edge.getDouble(3), s"null-element mismatch (codegen=$cg)")
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("native StopHits ≡ size(filter(tokens, isin)), bit-for-bit (eval + codegen)") {
    val words = Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for")
    for (cg <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val both = equivDocs.select(
        TextOps.stopwordHits(split(lower(col("text")), "\\s+"), words).as("native"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => t.isin(words: _*))).as("hof")).collect()
      both.foreach(r => assert(r.getInt(0) == r.getInt(1),
        s"stop-hit mismatch (codegen=$cg): ${r.getInt(0)} vs ${r.getInt(1)}"))
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("simhash: identical docs have distance 0; near-dups within 6; distinct far") {
    val df = Seq((0L, base), (1L, base), (2L, base + " tail"),
      (3L, "unrelated words entirely here about graphs")).toDF("id", "text")
    val sk = df.select(col("id"), DedupOps.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(0L) == sk(1L))
    assert(java.lang.Long.bitCount(sk(0L) ^ sk(2L)) <= 6)
    assert(java.lang.Long.bitCount(sk(0L) ^ sk(3L)) > 6)
  }

  test("jaccard is exact") {
    val j = spark.range(1).select(
      DedupOps.jaccard(typedLit(Seq("a", "b", "c")), typedLit(Seq("b", "c", "d"))).as("j"))
      .head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-9)
  }

  test("exact dedup keeps one row per distinct text") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val out = DedupOps.exactDedup(docs, "text", "doc_id").collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("cosine: orthogonal=0, parallel=1; brute top-k ranks by similarity") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = SimilarityOps.bruteTopK(vecs, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), 2).collect().map(_.getLong(0))
    assert(top.toSet == Set(1L, 4L))
  }

  test("LSH top-k recalls the exact best match") {
    val n = 200
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(concat(col("id"), lit(":"), i)), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    val q = vecs.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val brute = SimilarityOps.bruteTopK(vecs, "embedding", "vec_id", q, 1)
      .head().getLong(0)
    val lsh = SimilarityOps.lshTopK(vecs, "embedding", "vec_id", q, 5)
      .collect().map(_.getLong(0))
    assert(brute == 7L) // self is its own nearest
    assert(lsh.contains(7L), s"LSH candidates must recall the identical vector: ${lsh.mkString(",")}")
  }

  test("cosineNearDups finds planted exact copies, skips unrelated vectors") {
    // 60 pseudo-random 32-dim vectors + exact copies of every 10th
    val basev = spark.range(60).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        i => (pmod(xxhash64(col("id"), i), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    val planted = basev.filter(pmod(col("vec_id"), lit(10)) === 0)
      .withColumn("vec_id", col("vec_id") + 1000L)
    val pairs = SimilarityOps.cosineNearDups(basev.unionByName(planted),
        "embedding", "vec_id", threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 60L by 10L).map(i => (i, i + 1000L)).toSet
    assert(pairs == expected, s"got $pairs")
  }

  test("bandChunks: identical vectors share every chunk; buckets are 16-bit wide") {
    val df = Seq((1L, Seq.fill(16)(0.5f)), (2L, Seq.fill(16)(0.5f))).toDF("id", "v")
    val chunks = df.select(col("id"),
        explode(SimilarityOps.bandChunks(col("v"), bands = 12, chunkBits = 16)).as("bc"))
      .select(col("id"), col("bc.band"), col("bc.chunk"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byId = chunks.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byId(1L) == byId(2L))
    assert(chunks.forall(c => c._3 >= 0 && c._3 < (1L << 16)))
    assert(byId(1L).size == 12)
  }

  test("droppedBuckets reports over-cap buckets excluded from pairing (no silent caps)") {
    // 20 identical docs = one mega-bucket per band; cap of 5 drops them
    val docs = (0L until 20L).map(i => (i, base)).toDF("doc_id", "text")
    val banded = DedupOps.minhashBanded(docs, "text", "doc_id", shingleN = 3, k = 20, bands = 5)
    val dropped = DedupOps.droppedBuckets(banded, bucketCap = 5).collect()
    assert(dropped.length == 5, s"every band's bucket must report as dropped: ${dropped.length}")
    assert(dropped.forall(_.getLong(2) == 20L))
    // and the capped pair pass indeed returns nothing for them
    val pairs = DedupOps.minhashNearDups(docs, "text", "doc_id",
      shingleN = 3, k = 20, bands = 5, threshold = 0.5, bucketCap = 5)
    assert(pairs.count() == 0L)
    // with the cap lifted the same corpus pairs fully
    val uncapped = DedupOps.minhashNearDups(docs, "text", "doc_id",
      shingleN = 3, k = 20, bands = 5, threshold = 0.5, bucketCap = 5000)
    assert(uncapped.count() == 20L * 19L / 2L)
  }

  test("lshTopK 16-bit chunks: candidate set is an index, not a partial scan") {
    val n = 2000
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(concat(col("id"), lit(":"), i)), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    val q = vecs.filter(col("vec_id") === 7).head().getSeq[Float](1)
    // count candidates the band join admits (pre-top-k)
    val qSketch = Seq(Tuple1(q)).toDF("v")
      .select(explode(SimilarityOps.bandChunks(col("v"), 16, 16)).as("bc"))
      .select(col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    val candidates = vecs.select(col("vec_id"),
        explode(SimilarityOps.bandChunks(col("embedding"), 16, 16)).as("bc"))
      .select(col("vec_id"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
      .join(broadcast(qSketch), Seq("band", "chunk"))
      .select("vec_id").distinct().count()
    assert(candidates < n / 50,
      s"16-bit chunks must admit ≪ N candidates, got $candidates of $n")
    val lsh = SimilarityOps.lshTopK(vecs, "embedding", "vec_id", q, 5)
      .collect().map(_.getLong(0))
    assert(lsh.contains(7L), s"identical vector must be recalled: ${lsh.mkString(",")}")
  }

  test("IVF: nprobe=k is exact; nprobe=1 recalls the planted copy from a pruned scan") {
    val n = 400
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(concat(col("id"), lit(":"), i)), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    val q = vecs.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val corpus = vecs.unionByName(
      Seq((9999L, q)).toDF("vec_id", "embedding"))
    val cents = SimilarityOps.trainCentroids(corpus, "embedding", "vec_id",
      k = 8, dims = 16)
    assert(cents.length == 8 * 16)
    val idx = SimilarityOps.buildIvfIndex(corpus, "embedding", "vec_id", cents, dims = 16)
    // nprobe = k scans every list — must equal exact brute force
    val full = SimilarityOps.probeIvfTopK(idx, "embedding", "vec_id", q, cents,
      k = 5, nprobe = 8, dims = 16).collect().map(_.getLong(0)).toSeq
    val brute = SimilarityOps.bruteTopK(corpus, "embedding", "vec_id", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute, s"nprobe=k must be exact: $full vs $brute")
    // nprobe = 1: the exact copy sits in the first-ranked list by
    // construction (assignment argmax ≡ probe ranking head), and the
    // probed list is a strict subset of the corpus
    val one = SimilarityOps.probeIvfTopK(idx, "embedding", "vec_id", q, cents,
      k = 2, nprobe = 1, dims = 16).collect().map(_.getLong(0)).toSet
    assert(one.contains(9999L) && one.contains(7L),
      s"planted copy + self must be recalled from the top list: $one")
    val probed = SimilarityOps.rankClusters(q, cents, dims = 16).head
    val scanned = idx.filter(col("cluster") === probed).count()
    assert(scanned < n, s"nprobe=1 must scan a strict subset, got $scanned of $n")
  }

  test("NearestCentroid ≡ driver rankClusters head, bit-for-bit (eval + codegen)") {
    val vecs = spark.range(64).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(col("id"), i), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    val cents = SimilarityOps.trainCentroids(vecs, "embedding", "vec_id",
      k = 5, dims = 16)
    // deterministic training: same call → same matrix, unit rows
    val again = SimilarityOps.trainCentroids(vecs, "embedding", "vec_id",
      k = 5, dims = 16)
    assert(cents.sameElements(again), "trainCentroids must be deterministic")
    for (c <- 0 until 5) {
      val norm = math.sqrt((0 until 16).map(d => cents(c * 16 + d) * cents(c * 16 + d)).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"centroid $c not unit-norm: $norm")
    }
    for (cg <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val assigned = vecs.select(col("vec_id"),
          SimilarityOps.assignCluster(col("embedding"), cents, dims = 16).as("cluster"),
          col("embedding"))
        .collect()
      assigned.foreach { r =>
        val want = SimilarityOps.rankClusters(r.getSeq[Float](2), cents, dims = 16).head
        assert(r.getInt(1) == want,
          s"assignment mismatch for ${r.getLong(0)} (codegen=$cg): ${r.getInt(1)} vs $want")
      }
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("langId classifies obvious samples and falls back to und") {
    val df = Seq(
      ("the cat and the dog went to the house and it was good", "en"),
      ("der hund und die katze sind nicht mit dem mann", "de"),
      ("le chat et le chien sont dans la maison pour une nuit", "fr"),
      ("zzz qqq xxx www", "und")).toDF("text", "expected")
    val got = df.select(TextOps.langId(col("text")).as("pred"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("quality score penalizes junk, rewards prose") {
    val df = Seq(
      ("p", "The quick brown fox jumps over the lazy dog and it was good for the animals in the farm."),
      ("j", "@@@ ### !!! 123 456 789 ... ;; :: ~~~ %%%")).toDF("id", "text")
    val m = df.select(col("id"), TextOps.qualityColumns(col("text"))
        .find(_._1 == "quality_score").get._2.as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("p") > m("j"))
  }

  test("fingerprint64 ignores case/punctuation noise") {
    val df = Seq(("a", "Hello, World!"), ("b", "hello world"), ("c", "other text"))
      .toDF("id", "text")
    val m = df.select(col("id"), TextOps.fingerprint64(col("text")).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("b"))
    assert(m("a") != m("c"))
  }

  test("multimodal: format sniffing + deterministic stub decode") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 1, 2)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2, 3, 4)
    val df = Seq((1L, png), (2L, jpg)).toDF("id", "payload")
    val fmts = df.select(col("id"), MultimodalOps.detectFormat(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fmts == Map(1L -> "png", 2L -> "jpeg"))
    val rows = MultimodalOps.decodeAndEmbed(df, "id", "payload", embeddingDim = 8).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.embedding.length == 8))
    val again = MultimodalOps.decodeAndEmbed(df, "id", "payload", embeddingDim = 8).collect()
    assert(rows.map(_.embedding.toSeq).toSeq == again.map(_.embedding.toSeq).toSeq)
  }

  test("bloom has no false negatives; dedupe matches exact anti-join") {
    val seen = spark.range(500).select(concat(lit("http://h/"), col("id")).as("uri"),
      lit("GET").as("method"))
    val cand = spark.range(250, 750).select(concat(lit("http://h/"), col("id")).as("uri"),
      lit("GET").as("method"))
    val bloom = UrlSeen.buildBloom(seen,
      UrlSeen.seenKey(col("uri"), col("method")), 500)
    val withBloom = UrlSeen.dedupeAgainstSeen(cand, Seq(seen), "uri", "method",
      Some(UrlSeen.SingleBloomPrefilter(bloom)))
      .collect().map(_.getString(0)).toSet
    val exact = UrlSeen.dedupeAgainstSeen(cand, Seq(seen), "uri", "method", None)
      .collect().map(_.getString(0)).toSet
    assert(withBloom == exact)
    assert(exact == (500 until 750).map(i => s"http://h/$i").toSet)
  }

  test("bloom capacity policy boundary (single-bloom broadcast budget)") {
    // ~19.17 bits/key at fpp 1e-4 (optimal-m): sandbox-scale capacities
    // are comfortably in budget; the 10^10-scale capacity (~90 GB
    // bitset) is far past any broadcast budget and must DROP the bloom
    assert(UrlSeen.bloomWithinBudget(4L * 100000L))
    assert(UrlSeen.bloomWithinBudget(100000000L)) // 1e8 keys ≈ 229 MB
    assert(!UrlSeen.bloomWithinBudget(120000000L)) // 1.2e8 keys ≈ 287 MB
    assert(!UrlSeen.bloomWithinBudget(40000000000L)) // 4e10 ≈ 90 GB
    // the byte estimate is monotone and ~2.4 B/key at this fpp
    val b1e8 = UrlSeen.bloomBytes(100000000L)
    assert(b1e8 > (200L << 20) && b1e8 < (256L << 20))
    assert(UrlSeen.bloomBytes(1L) < 1024)
  }
}

/** The interpreted higher-order-function forms of the native sketch
  * expressions: independent reference implementations the equivalence
  * tests above pin them against, bit-for-bit.
  */
object OpsSpec {

  /** The higher-order-function form of [[DedupOps.shingles]]. */
  def shinglesHof(text: Column, n: Int): Column = {
    val tokens = split(lower(trim(text)), "\\s+")
    when(size(tokens) < n, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
  }

  /** The higher-order-function form of [[DedupOps.minhashSignature]]. */
  def minhashSignatureHof(shingleCol: Column, k: Int): Column =
    aggregate(
      transform(shingleCol, s => xxhash64(s)),
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (a, i) => least(a, xxhash64(h, i))))

  /** The built-in-array-function form of [[DedupOps.jaccard]]. */
  def jaccardHof(a: Column, b: Column): Column = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    val inter = size(array_intersect(ad, bd)).cast("double")
    val union = size(array_union(ad, bd)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** The higher-order-function form of [[DedupOps.simhash64]]. */
  def simhash64Hof(text: Column): Column = {
    val tokens = split(lower(trim(text)), "\\s+")
    val counters = aggregate(
      tokens,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }
}
