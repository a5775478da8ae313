package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.core.{DB, Collection, Document, NegativeMode, NegativeQueryOptions, QueryOptions, QueryResult}

/** `topk` and `topk_cached`: the read path over an in-memory, indexed
  * collection.
  *
  * n seeded unit vectors, metadata
  * `{cat: id % 8}`, 20-word contents over an 8-word vocabulary. Set-up is
  * `addDF` + `buildIndex()`. The loop interleaves unfiltered
  * `queryEmbedding` (index scan + join-back), filtered queries (`where` +
  * `$contains`, DataFrame path) and negative-filter queries (DataFrame
  * path).
  *
  * `topk` holds 25k × d=1536 (a chromem-go parity point; 154 MB of floats,
  * far above the CPU caches, so the scans dominate). `topk_cached` holds
  * 4000 × d=256 (4 MB, a 1 MB slab per scan thread, inside each core's
  * L2), so per-query fixed costs, the join-back Spark job and DataFrame
  * planning, dominate instead. */
final class TopK(spark: org.apache.spark.sql.SparkSession, opts: Opts, tracer: Tracer)
    extends Workload(spark, opts, tracer) {
  import spark.implicits._
  import TopK._
  import Workload.WarmBase

  val (n: Int, d: Int) =
    if (opts.tiny) (2000, 64) else if (opts.workload == "topk_cached") (4000, 256) else (25000, 1536)
  val seed: Long = opts.seed
  private val cores = spark.sparkContext.defaultParallelism

  // ---- generated inputs: a driver copy for the brute-force checks, made
  // when the checks first need it, after the heap reading ----
  lazy val vecs: Array[Float] = {
    val v = new Array[Float](n * d)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      System.arraycopy(docVector(seed, i, d), 0, v, i * d, d)
    }
    v
  }
  lazy val contents: Array[String] = Array.tabulate(n)(docContent(seed, _))

  /** The same documents as a DataFrame, generated on the executors and
    * cached before set-up so generation stays outside the timed windows. */
  private val input = {
    val (s, dd) = (seed, d)
    spark.range(0, n.toLong, 1, cores).mapPartitions { it =>
      it.map { i =>
        Document(idOf(i.toInt), Map("cat" -> (i % 8).toString), docVector(s, i.toInt, dd),
          docContent(s, i.toInt))
      }
    }.toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
  }
  require(input.count() == n)

  var db: DB = _
  var coll: Collection = _

  def setup(): Unit = {
    db = DB.inMemory(spark, new graft.embed.HashingEmbeddingFunc(d))
    coll = tracer.span("core.DB.createCollection")(db.createCollection("topk"))
    tracer.span("core.Collection.addDF")(coll.addDF(input))
    tracer.span("core.Collection.buildIndex")(coll.buildIndex())
  }

  /** The collection holds its own checkpointed copy once `addDF` returns. */
  override def afterSetup(): Unit = input.unpersist(blocking = true)

  override def discard(): Unit = {
    val keep = input.rdd.id
    db = null; coll = null
    spark.sparkContext.getPersistentRDDs.values.filter(_.id != keep)
      .foreach(_.unpersist(blocking = true))
  }

  val opNames = Seq("query", "filtered_query", "negative_query")

  /** One cycle of the closed loop: 6 unfiltered queries, 6 `where` +
    * `$contains` ones and 3 negative-filter ones, interleaved so each type
    * samples the whole window rather than one stretch of it. */
  private val cycle: Array[String] = {
    val (q, f, n) = ("query", "filtered_query", "negative_query")
    Array(q, f, q, f, n, q, f, q, f, n, q, f, q, f, n)
  }

  override def setupReps: Int = 2
  override def warmup(): Unit = {
    // one whole cycle, with inputs off the loop's index range
    cycle.indices.foreach(j => run(cycle(j), WarmBase + j))
  }
  def requiredChecks: Seq[String] = opNames

  private val recorded = mutable.ArrayBuffer.empty[(String, Long, Seq[QueryResult])]

  def step(i: Long): Unit = run(cycle((i % cycle.length).toInt), i)

  private def run(op: String, i: Long): Unit = {
    val r = Workload.rng(seed, 7, i)
    op match {
      case "query" =>
        val q = Workload.unitVector(r, d)
        timed(op)(coll.queryEmbedding(q, k)).foreach(res => recorded += ((op, i, res)))
      case "filtered_query" =>
        val q = Workload.unitVector(r, d)
        val (cat, word) = (r.nextInt(8).toString, Vocab(r.nextInt(Vocab.length)))
        timed(op)(coll.queryEmbedding(q, k, where = Map("cat" -> cat),
          whereDocument = Map("$contains" -> word))).foreach(res => recorded += ((op, i, res)))
      case "negative_query" =>
        val q = Workload.unitVector(r, d)
        val neg = Workload.unitVector(r, d)
        timed(op)(coll.queryWithOptions(QueryOptions(queryEmbedding = q, nResults = k,
          negative = NegativeQueryOptions(mode = NegativeMode.Filter, embedding = neg,
            filterThreshold = NegThreshold)))).foreach(res => recorded += ((op, i, res)))
    }
  }

  // ---------------------------------------------------------------- checks

  def verify(): Unit = {
    // queries that need a full scan are scored in batches over all docs
    val full = recorded.filter(r => r._1 == "query" || r._1 == "negative_query")
    full.grouped(16).foreach { batch =>
      val qs = batch.map { case (op, i, _) =>
        val r = Workload.rng(seed, 7, i)
        val q = Workload.unitVector(r, d)
        if (op == "negative_query") Array(q, Workload.unitVector(r, d)) else Array(q)
      }
      val flat = qs.flatten.toArray
      val scores = Brute.scores(vecs, n, d, flat)
      var at = 0
      batch.zip(qs).foreach { case ((op, _, res), vs) =>
        val s = scores(at)
        if (op == "query") checkTopK(op, s, _ => true, _ => true, res)
        else {
          val ns = scores(at + 1)
          checkTopK(op, s, j => ns(j) <= NegThreshold - Eps, j => ns(j) <= NegThreshold + Eps, res)
        }
        at += vs.length
      }
    }
    recorded.foreach {
      case ("filtered_query", i, res) =>
        val r = Workload.rng(seed, 7, i)
        val q = Workload.unitVector(r, d)
        val (cat, word) = (r.nextInt(8), Vocab(r.nextInt(Vocab.length)))
        val allowed = (j: Int) => j % 8 == cat && contents(j).contains(word)
        val s = new Array[Float](n)
        (0 until n).foreach(j => if (allowed(j)) s(j) = Brute.dot(vecs, j, d, q))
        checkTopK("filtered_query", s, allowed, allowed, res)
      case _ =>
    }
  }

  private var exactMatches = 0L
  private var checkedQueries = 0L

  /** The returned list must be a top-k of the allowed documents: right
    * size, distinct ids, each allowed and scored within 1e-5 of its true
    * score, ranked by score, and no allowed document left out that beats
    * the last one by more than 1e-5. `must` and `may` differ only where a
    * negative-filter score sits within 1e-5 of the threshold. */
  private def checkTopK(op: String, s: Array[Float], must: Int => Boolean, may: Int => Boolean,
      res: Seq[QueryResult]): Unit = {
    val expect = Brute.top(s, n, k, must)
    val got = res.map(_.id)
    report.check(op, {
      val ids = got.map(_.toInt)
      val sims = res.map(_.similarity)
      val inResult = ids.toSet
      val lastSim = if (sims.isEmpty) Float.NegativeInfinity else sims.min
      checkedQueries += 1
      if (ids == expect) exactMatches += 1
      res.size == expect.size && inResult.size == ids.size &&
        ids.forall(may) &&
        ids.zip(sims).forall { case (j, sim) => math.abs(sim - s(j)) <= Eps } &&
        sims.zip(sims.drop(1)).forall { case (a, b) => a >= b - Eps } &&
        (0 until n).forall(j => inResult(j) || !must(j) || s(j) <= lastSim + Eps)
    }, s"got=${got.mkString(",")} want=${expect.map(idOf).mkString(",")}")
  }

  // ---------------------------------------------------------------- layers

  def finish(): Unit = {
    val q = report.latenciesMs("query")
    val f = (report.latenciesMs("filtered_query") ++ report.latenciesMs("negative_query")).sorted
    report.named("query_p50_ms") = (Stats.median(q.toSeq), "ms")
    report.named("query_p90_ms") = (Stats.p90(q), "ms")
    report.named("filtered_query_p50_ms") = (Stats.median(f.toSeq), "ms")
    report.named("filtered_query_p90_ms") = (Stats.p90(f), "ms")
    report.named("exact_id_match_frac") = (exactMatches.toDouble / math.max(1, checkedQueries), "ratio")
    if (opts.trace) {
      tracer.enabled = true
      report.layer("core.Collection.addDF_s") = (tracer.spanMs("core.Collection.addDF") / 1e3, "s")
      report.layer("core.Collection.buildIndex_s") =
        (tracer.spanMs("core.Collection.buildIndex") / 1e3, "s")
      // an index the benchmark builds itself over the collection's rows,
      // queried directly: the packed scan without the join-back
      val t0 = System.nanoTime()
      val idx = tracer.span("ops.VectorIndex.build") {
        graft.ops.VectorIndex.build[String](coll.df.filter(col("embedding").isNotNull),
          "id", "embedding", d).persist().materialize()
      }
      report.layer("ops.VectorIndex.build_s") = ((System.nanoTime() - t0) / 1e9, "s")
      val lat = (0 until (if (opts.tiny) 10 else 40)).map { i =>
        val q = Workload.unitVector(Workload.rng(seed, 11, i), d)
        val t = System.nanoTime()
        tracer.span("ops.VectorIndex.topK")(idx.topK(q, k))
        (System.nanoTime() - t) / 1e6
      }
      report.layer("ops.VectorIndex.topK_ms") = (Stats.median(lat), "ms")
      idx.unpersist(blocking = true)
    }
  }
}

object TopK {
  val Vocab: Array[String] =
    Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
  val NegThreshold = 0.01f
  val Eps = 1e-5f

  def idOf(i: Int): String = f"$i%06d"

  def docVector(seed: Long, i: Int, d: Int): Array[Float] =
    Workload.unitVector(Workload.rng(seed, 1, i), d)

  def docContent(seed: Long, i: Int): String = {
    val r = Workload.rng(seed, 2, i)
    Array.fill(20)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }
}

/** Plain-Scala brute-force scoring for the output checks: double
  * accumulation, documents split across the common fork-join pool. */
object Brute {
  def dot(vecs: Array[Float], j: Int, d: Int, q: Array[Float]): Float = {
    var s = 0.0
    var t = 0
    val off = j * d
    while (t < d) { s += vecs(off + t).toDouble * q(t); t += 1 }
    s.toFloat
  }

  /** Indices of the k best scores among allowed documents, ordered by
    * score descending then index ascending. */
  def top(s: Array[Float], n: Int, k: Int, allowed: Int => Boolean): Seq[Int] = {
    val best = mutable.ArrayBuffer.empty[Int]
    def before(a: Int, b: Int) = s(a) > s(b) || (s(a) == s(b) && a < b)
    var j = 0
    while (j < n) {
      if (allowed(j) && (best.size < k || before(j, best.last))) {
        val at = best.indexWhere(b => before(j, b)) match { case -1 => best.size; case x => x }
        best.insert(at, j)
        if (best.size > k) best.remove(k)
      }
      j += 1
    }
    best.toSeq
  }

  def scores(vecs: Array[Float], n: Int, d: Int, qs: Array[Array[Float]]): Array[Array[Float]] = {
    val out = Array.fill(qs.length)(new Array[Float](n))
    val chunk = 512
    java.util.stream.IntStream.range(0, (n + chunk - 1) / chunk).parallel().forEach { c =>
      var j = c * chunk
      val hi = math.min(n, j + chunk)
      while (j < hi) {
        var qi = 0
        while (qi < qs.length) { out(qi)(j) = dot(vecs, j, d, qs(qi)); qi += 1 }
        j += 1
      }
    }
    out
  }
}
