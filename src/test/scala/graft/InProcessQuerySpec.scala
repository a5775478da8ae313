package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.core.{Collection, DB, Document, NegativeMode, NegativeQueryOptions, QueryOptions, QueryResult}
import graft.embed.ConstEmbeddingFunc
import graft.functions.VectorFunctions
import graft.ops.VectorIndex

/**
 * The in-process tier: a collection whose flat index is driver-local
 * answers unfiltered, filtered and negative-filter queries from the
 * index's slab and payload with zero Spark jobs, and every answer equals
 * the DataFrame tier's ([[Collection.queryDF]]) — same ids in the same
 * order, bit-identical similarity, equal metadata, content and embedding.
 */
class InProcessQuerySpec extends SparkSuite {
  import spark.implicits._

  private val group = s"in-process-${java.util.UUID.randomUUID()}"
  private val jobsInGroup = new AtomicInteger
  private lazy val listener: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
        jobsInGroup.incrementAndGet()
  })

  /** `body`'s result and the Spark jobs it started (counted by job group,
    * so suites running beside this one do not count). */
  private def withJobCount[A](body: => A): (A, Int) = {
    listener
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val before = jobsInGroup.get
    sc.setJobGroup(group, "in-process query check")
    val a = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    (a, jobsInGroup.get - before)
  }

  private def expected(c: Collection, q: Array[Float], k: Int, where: Map[String, String],
      whereDocument: Map[String, String], neg: Array[Float], thr: Float): Seq[QueryResult] =
    c.queryDF(q, k, where, whereDocument, neg, thr).as[QueryResult].collect().toSeq

  private def assertSame(got: Seq[QueryResult], want: Seq[QueryResult], clue: String): Unit =
    withClue(clue) {
      assert(got.map(_.id) === want.map(_.id))
      // floatToIntBits: every NaN reads as the one canonical NaN Spark stores
      assert(got.map(r => java.lang.Float.floatToIntBits(r.similarity)) ===
        want.map(r => java.lang.Float.floatToIntBits(r.similarity)),
        "same float fold => bit-identical similarity")
      assert(got.map(_.metadata) === want.map(_.metadata))
      assert(got.map(_.content) === want.map(_.content))
      def bits(v: Array[Float]) = v.toSeq.map(java.lang.Float.floatToIntBits)
      assert(got.map(r => bits(r.embedding)) === want.map(r => bits(r.embedding)))
    }

  private val Vocab = Array("alpha", "Beta", "gamma", "delta", "épsilon")

  /** n random documents at d = 8: a quarter copy one of six base vectors
    * (exact score ties), a fifth have null content, metadata is empty,
    * null, or carries `cat` and/or `lang`; ids mix ASCII with characters
    * whose UTF-16 and UTF-8 orders differ. */
  private def randomCollection(seed: Long): Collection = {
    val rnd = new scala.util.Random(seed)
    val d = 8
    def vec(): Array[Float] = Array.fill(d)(rnd.nextFloat() * 2f - 1f)
    val base = Array.fill(6)(vec())
    val n = 60 + rnd.nextInt(60)
    val langs = Array("en", "de")
    val prefixes = Array("d", "\uFFFD", "\uD83D\uDE00", "\uE000", "é")
    val docs = (0 until n).map { i =>
      val id = prefixes(rnd.nextInt(prefixes.length)) + f"$i%03d"
      val v = if (rnd.nextInt(4) == 0) base(rnd.nextInt(base.length)).clone() else vec()
      val metadata: Map[String, String] = rnd.nextInt(5) match {
        case 0 => Map.empty[String, String]
        case 1 => null
        case 2 => Map("cat" -> rnd.nextInt(3).toString)
        case 3 => Map("cat" -> rnd.nextInt(3).toString, "lang" -> langs(rnd.nextInt(2)))
        case _ => Map("lang" -> "")
      }
      val content =
        if (rnd.nextInt(5) == 0) null
        else Seq.fill(1 + rnd.nextInt(4))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      Document(id, metadata, v, content)
    }
    val c = DB.inMemory(spark, ConstEmbeddingFunc.stub()).createCollection(s"rand-$seed")
    c.addDocuments(docs)
    c.buildIndex()
    c
  }

  test("random where/whereDocument/negative queries equal queryDF, with zero Spark jobs") {
    val wheres = Seq(Map.empty[String, String], Map("cat" -> "1"), Map("missing" -> ""),
      Map("missing" -> "x"), Map("lang" -> ""), Map("cat" -> "2", "lang" -> "de"))
    val docFilters = Seq(Map.empty[String, String], Map("$contains" -> "alpha"),
      Map("$not_contains" -> "gamma"), Map("$contains" -> "Beta", "$not_contains" -> "beta"),
      Map("$contains" -> "zeta"), Map("$contains" -> ""))
    var empty = 0
    var underfilled = 0
    for (seed <- 1L to 3L) {
      val c = withLogLevel(randomCollection(seed))
      assert(c.hasIndex)
      val n = c.count().toInt
      val rnd = new scala.util.Random(seed * 31)
      for (i <- 0 until 40) {
        val q = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
        val k = 1 + rnd.nextInt(n)
        val where = wheres(rnd.nextInt(wheres.length))
        val whereDocument = docFilters(rnd.nextInt(docFilters.length))
        val negRaw = if (rnd.nextBoolean()) Array.fill(8)(rnd.nextFloat() * 2f - 1f) else null
        val thr = Array(0.1f, -0.2f, 0.3f, 0.8f)(rnd.nextInt(4))
        val (got, jobs) = withJobCount(c.queryWithOptions(QueryOptions(
          queryEmbedding = q, nResults = k, where = where, whereDocument = whereDocument,
          negative = if (negRaw == null) null
                     else NegativeQueryOptions(NegativeMode.Filter, embedding = negRaw,
                       filterThreshold = thr))))
        // the same normalization queryWithOptions applies
        val neg = if (negRaw == null) null
                  else if (VectorFunctions.isNormalized(negRaw)) negRaw
                  else VectorFunctions.normalize(negRaw)
        val want = expected(c, q, k, where, whereDocument, neg, thr)
        val clue = s"seed=$seed i=$i k=$k where=$where doc=$whereDocument neg=${neg != null}: "
        assertSame(got, want, clue)
        assert(jobs === 0, clue + "the in-process tier must not start a Spark job")
        if (want.isEmpty) empty += 1
        if (want.nonEmpty && want.length < k) underfilled += 1
      }
    }
    assert(empty > 0, "the random cases must include an empty result")
    assert(underfilled > 0, "the random cases must include nResults > survivors")
  }

  test("pinned edge cases: {k: \"\"} on a missing key, $not_contains, empty result, k > survivors") {
    val c = withLogLevel(randomCollection(7L))
    val q = Array.fill(8)(0.25f)
    val n = c.count().toInt
    val cases = Seq(
      (Map("missing" -> ""), Map.empty[String, String]),
      (Map.empty[String, String], Map("$not_contains" -> "alpha")),
      (Map("cat" -> "nope"), Map.empty[String, String]),
      (Map("cat" -> "0"), Map("$contains" -> "delta")))
    cases.foreach { case (where, whereDocument) =>
      val (got, jobs) = withJobCount(c.queryEmbedding(q, n, where, whereDocument))
      assertSame(got, expected(c, q, n, where, whereDocument, null, 0f), s"$where $whereDocument: ")
      assert(jobs === 0)
    }
    assert(c.queryEmbedding(q, n, Map("missing" -> "")).length === n)
    assert(c.queryEmbedding(q, 1, Map("cat" -> "nope")).isEmpty)
    // validation errors are the DataFrame tier's, raised before any scan
    assert(intercept[IllegalArgumentException](
      c.queryEmbedding(q, 1, whereDocument = Map("$regex" -> "x"))).getMessage === "unsupported operator")
    assert(intercept[IllegalArgumentException](
      c.queryEmbedding(q, 1, where = Map("k" -> null))).getMessage ===
      "where keys and values must be non-null")
    assert(intercept[IllegalArgumentException](
      c.queryEmbedding(q, 1, whereDocument = Map("$contains" -> null))).getMessage ===
      "whereDocument values must be non-null")
  }

  test("a returned embedding is a copy: mutating it leaves the next answer unchanged") {
    val c = withLogLevel(randomCollection(11L))
    val q = Array.fill(8)(-0.5f)
    val first = c.queryEmbedding(q, 5)
    val saved = first.map(_.embedding.clone())
    first.foreach(r => java.util.Arrays.fill(r.embedding, 42f))
    val again = c.queryEmbedding(q, 5)
    assert(again.map(_.id) === first.map(_.id))
    assert(again.map(_.similarity) === first.map(_.similarity))
    assert(again.map(_.embedding.toSeq) === saved.map(_.toSeq))
    assertSame(again, expected(c, q, 5, Map.empty, Map.empty, null, 0f), "after mutation: ")
  }

  test("index ties order ids by code point, as Spark's asc(id) does (UTF-8 byte order)") {
    // U+FFFD sorts before U+1F600 by code point and in UTF-8, but its
    // UTF-16 unit 0xFFFD sorts AFTER the surrogate 0xD83D
    val v = Array(0.6f, 0.8f)
    val c = withLogLevel {
      val c = DB.inMemory(spark, ConstEmbeddingFunc.stub()).createCollection("ties")
      c.addDocuments(Seq(Document("\uD83D\uDE00", embedding = v), Document("\uFFFD", embedding = v),
        Document("z", embedding = Array(0.8f, 0.6f))))
      c
    }
    val viaDf = c.queryDF(v, 2).select("id").as[String].collect().toSeq
    assert(viaDf === Seq("\uFFFD", "\uD83D\uDE00"))
    c.buildIndex()
    assert(c.queryEmbedding(v, 2).map(_.id) === viaDf)
    // the distributed tier merges under the same order
    val dist = VectorIndex.build[String](c.df, "id", "embedding", 2)(
      scala.reflect.classTag[String], VectorIndex.CodePointOrdering)
    assert(!dist.isLocal)
    assert(dist.topK(v, 2).map(_._1).toSeq === viaDf)
  }

  test("a NaN similarity ranks first, as Spark's desc does") {
    val c = withLogLevel {
      val c = DB.inMemory(spark, ConstEmbeddingFunc.stub()).createCollection("nan")
      c.addDocuments(Seq(Document("b", embedding = Array(0.6f, 0.8f)),
        Document("a", embedding = Array(Float.NaN, 1f)), Document("c", embedding = Array(0.8f, 0.6f))))
      c
    }
    val q = Array(0.6f, 0.8f)
    val want = expected(c, q, 3, Map.empty, Map.empty, null, 0f)
    assert(want.map(_.id) === Seq("a", "b", "c"))
    c.buildIndex()
    assertSame(c.queryEmbedding(q, 3), want, "k=3: ")
    assertSame(c.queryEmbedding(q, 1), want.take(1), "k=1: ")
  }

  test("CodePointOrdering agrees with unsigned UTF-8 byte order") {
    val rnd = new scala.util.Random(5)
    val pool = Seq("a", "Z", "é", "\u07FF", "\uD7FF", "\uE000", "\uFFFD", "\uFFFF",
      "\uD800\uDC00", "\uD83D\uDE00", "\uDBFF\uDFFF")
    def str(): String = Seq.fill(rnd.nextInt(4))(pool(rnd.nextInt(pool.length))).mkString
    def utf8(a: String, b: String): Int = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      java.util.Arrays.compareUnsigned(x, y)
    }
    for (_ <- 0 until 2000) {
      val (a, b) = (str(), str())
      assert(Integer.signum(VectorIndex.CodePointOrdering.compare(a, b)) ===
        Integer.signum(utf8(a, b)), s"'$a' vs '$b'")
    }
  }
}
