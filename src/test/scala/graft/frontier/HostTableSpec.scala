package graft.frontier

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The per-host lookup ([[HostTable]] / [[HostLookup]]) and the n-ary
  * by-name union helper, without running a crawl.
  */
class HostTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** host, rrules, d, slocs — the world table's shape. */
  private def worldTable(): HostTable = {
    import spark.implicits._
    HostTable.collect(Seq(
      ("a.test", Seq(("disallow", "/x")), Some(2.0), Seq("http://a.test/s.xml")),
      ("b.test", Seq.empty[(String, String)], None, null),
      (null, Seq(("allow", "/")), Some(9.0), null)
    ).toDF("host", "rrules", "d", "slocs"))
  }

  test("lookup: values for a present host, null for an absent or null host") {
    import spark.implicits._
    val t = worldTable()
    try {
      assert(t.hasAny("d") && t.hasAny("slocs") && t.hasAny("rrules"))
      val got = Seq("a.test", "b.test", "zzz", null).toDF("host")
        .select(col("host"), t(col("host")).as("v"))
        .select(col("host"), col("v").isNull.as("absent"),
          col("v").getField("d").as("d"), size(col("v").getField("rrules")).as("nr"),
          col("v").getField("slocs").as("slocs"))
        .collect().map(r => Option(r.getString(0)) -> r).toMap
      assert(!got(Some("a.test")).getBoolean(1))
      assert(got(Some("a.test")).getDouble(2) == 2.0)
      assert(got(Some("a.test")).getInt(3) == 1)
      assert(got(Some("a.test")).getSeq[String](4) == Seq("http://a.test/s.xml"))
      assert(!got(Some("b.test")).getBoolean(1) && got(Some("b.test")).isNullAt(2))
      assert(got(Some("b.test")).getInt(3) == 0 && got(Some("b.test")).isNullAt(4))
      assert(got(Some("zzz")).getBoolean(1))
      assert(got(None).getBoolean(1)) // the null-host row was dropped, and null never matches
    } finally t.destroy()
  }

  test("lookup: codegen and interpreted evaluation agree") {
    val t = worldTable()
    try {
      val e = shim.toExpression(t(shim.toColumn(BoundReference(0, StringType, nullable = true))))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
      for (h <- Seq("a.test", "b.test", "zzz", null)) {
        val in = InternalRow(if (h == null) null else UTF8String.fromString(h))
        assert(compiled(in).copy() == interpreted(in).copy(), s"host $h")
      }
      assert(compiled(InternalRow(UTF8String.fromString("a.test"))).getStruct(0, 3).getDouble(1) == 2.0)
      assert(interpreted(InternalRow(null)).isNullAt(0))
    } finally t.destroy()
  }

  test("the per-executor table cache stays bounded") {
    import spark.implicits._
    val tables = (0 until HostTableCache.MaxEntries + 4).map(i =>
      HostTable.collect(Seq((s"h$i.test", i.toDouble)).toDF("host", "d")))
    try {
      tables.zipWithIndex.foreach { case (t, i) =>
        val d = Seq(s"h$i.test").toDF("host").select(t(col("host")).getField("d")).head().getDouble(0)
        assert(d == i.toDouble)
        assert(HostTableCache.entries <= HostTableCache.MaxEntries)
      }
    } finally tables.foreach(_.destroy())
  }

  test("a round that throws destroys its per-round host table and prefilter") {
    import graft.model.CrawlConfig
    import graft.synth.{WorldGen, WorldSpec}
    import org.apache.spark.graft.blocks
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // every host polite, so the round collects its per-round host table
    // before it takes the prefilter
    val spec = WorldSpec("polite-throw", nHosts = 2, nDocs = 10, politeEvery = 1)
    val cfg = CrawlConfig(seeds = WorldGen.seeds(spec),
      acceptedTypes = Seq("text/html", "image/png"))
    val w = WorldGen.sparkWorld(s2, spec)
    val world = CrawlRound.prepare(CrawlRound.WorldDF(w.docs.toDF(), w.urlMap.toDF(),
      w.hosts.toDF(), w.rules.toDF()), cfg)
    try {
      assert(world.hasDelays)
      val n = cfg.seeds.size.toLong
      val frontier = cfg.seeds.zipWithIndex.map { case (u, i) =>
        (i.toLong, i.toLong, u, u, 0, -1L, "GET", null: String, null: String, null: String)
      }.toDF("seq", "pos", "uri", "origUri", "depth", "srcSeq", "method", "expected",
        "referer", "dataQ")
      val in = CrawlRound.RoundIn(0, frontier,
        seen = Seq(Seq(("", "")).toDF("uri", "method").limit(0)),
        hostState = Seq(("", 0.0)).toDF("host", "lastVisitS").limit(0),
        dupState = Seq(Seq((0L, 0L, 0L, 0L, "")).toDF("size", "bhash", "bhash2", "pop", "uri")
          .limit(0)),
        knownMaps = Seq("").toDF("uri").limit(0),
        nextSeq = n, nextPos = n, seenCount = n, posLo = 0L,
        seenBloom = () => throw new IllegalStateException("bloom build failed"),
        placement = Placement.of(s2))
      // the same engine-broadcast predicate as the family resume test:
      // Java-serialized values (task binaries, confs) are Spark's own
      def engineBroadcasts: Set[Long] = blocks.broadcastValues(s2.sparkContext).collect {
        case (id, _: Map[_, _]) => id
        case (id, b: Array[Byte]) if !(b.length >= 2 && b(0) == 0xAC.toByte &&
            b(1) == 0xED.toByte) => id
      }.toSet
      val before = engineBroadcasts
      val e = intercept[IllegalStateException](CrawlRound.run(s2, world, cfg, in))
      assert(e.getMessage == "bloom build failed")
      def left = engineBroadcasts -- before
      // destroy removes blocks asynchronously, hence the bounded wait
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(left.isEmpty, s"broadcasts outlived the failed round: ${left.toSeq.sorted}")
    } finally world.hosts.destroy()
  }

  test("unionByName over n frames equals pairwise unionByName (reordered columns)") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.5)).toDF("k", "s", "v")
    val b = Seq(("y", 2.5, 2L)).toDF("s", "v", "k")
    val c = Seq((3.5, 3L, "z"), (4.5, 4L, null)).toDF("v", "k", "s")
    val frames = Seq(a, b, c, a.filter(col("k") > 0))
    val pairwise = frames.reduce(_ unionByName _)
    val nary: DataFrame = shim.unionByName(frames)
    assert(nary.schema == pairwise.schema)
    assert(nary.collect().toSeq == pairwise.collect().toSeq)
    assert(shim.unionByName(Seq(b)).collect().toSeq == Seq(Row("y", 2.5, 2L)))
  }
}
