package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.core.{DB, Collection, Document}
import graft.embed.HashingEmbeddingFunc

/** The write-path probe, made once by every traced run for the core write
  * calls, the embed and the persist layers. It has no
  * end-to-end metric; it writes per-layer metrics, samples and checks
  * (named `ingest.*`) into the run's report.
  *
  * A fresh persistent DB under `root` is seeded with content-only
  * documents (2000), embedded on write by `HashingEmbeddingFunc(256)`.
  * Then one cycle of text `query`, `addDocuments` of 100 documents (half
  * overwrite live ids) and `delete` by ids, then a few reopens
  * (`DB.persistent` + count + first query). A last-writer-wins model map
  * of the benchmark's own checks every state the program reports. */
final class WriteProbe(spark: org.apache.spark.sql.SparkSession, seed: Long, tiny: Boolean,
    root: Path, tracer: Tracer, report: Report) {
  import WriteProbe._

  private val k = 10
  private val nSeed = if (tiny) 300 else 2000
  private val batch = if (tiny) 20 else 100
  private val nDelete = if (tiny) 4 else 20
  private val dim = 256
  private val ef = new HashingEmbeddingFunc(dim)

  /** Model state: live id -> (metadata, content). Immutable, so every
    * recorded query keeps the version it ran against. */
  private var model = Map.empty[String, (Map[String, String], String)]
  private var nextId = 0
  private val deleted = mutable.LinkedHashSet.empty[String]
  private val queries = mutable.ArrayBuffer.empty[(String, Map[String, (Map[String, String], String)], Seq[graft.core.QueryResult])]
  private val reopened = mutable.ArrayBuffer.empty[(Collection, Long, Seq[graft.core.QueryResult])]
  private val writeBytes = mutable.ArrayBuffer.empty[Double]

  /** One operation of the probe, traced as operation type `op`; a throw
    * counts as a failed operation of the run. */
  private def attempt[A](op: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(op, op)(body)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ingest $op failed: $e")
        None
    }
    report.samples += Sample(s"ingest.$op", System.nanoTime() - t0, r.isDefined)
    r
  }

  private def newDoc(r: java.util.SplittableRandom, id: String): Document =
    Document(id, Map("grp" -> r.nextInt(4).toString), null, text(r, 12))

  def run(): Unit = {
    Jvm.deleteTree(root)
    val seedDocs = (0 until nSeed).map(i => newDoc(Workload.rng(seed, 3, i), idOf(i)))
    val db = tracer.span("setup.core.DB.persistent")(DB.persistent(spark, root.toString, ef))
    val coll = tracer.span("core.DB.createCollection")(db.createCollection("docs"))
    tracer.span("setup.core.Collection.addDocuments")(coll.addDocuments(seedDocs))
    model = seedDocs.map(d => d.id -> (d.metadata, d.content)).toMap
    nextId = nSeed

    // one cycle: the seed picks texts, ids and documents, not the order
    Seq("query", "upsert", "query", "delete", "query").zipWithIndex.foreach { case (op, i) =>
      val r = Workload.rng(seed, 6, i)
      op match {
        case "query" =>
          val q = text(r, 3)
          val version = model
          // its own operation type: `query` is the workload's
          attempt("text_query")(coll.query(q, k)).foreach(res => queries += ((q, version, res)))
        case "upsert" =>
          val live = model.keys.toIndexedSeq
          val docs = (0 until batch).map { j =>
            val id = if (j % 2 == 0) live(r.nextInt(live.size)) else { nextId += 1; idOf(nextId - 1) }
            newDoc(r, id)
          }
          val w0 = Jvm.wchar()
          if (attempt(op)(tracer.span("core.Collection.addDocuments")(coll.addDocuments(docs))).isDefined) {
            writeBytes += (Jvm.wchar() - w0).toDouble
            docs.foreach { d => model += d.id -> (d.metadata, d.content); deleted -= d.id }
          }
        case "delete" =>
          val live = model.keys.toIndexedSeq
          val ids = Seq.fill(nDelete)(live(r.nextInt(live.size))).distinct
          if (attempt(op)(tracer.span("core.Collection.delete")(coll.delete(ids = ids))).isDefined) {
            model --= ids; deleted ++= ids
          }
      }
    }

    // reopen: a fresh DB handle over the same directory, then the count
    // and the first query a user would run
    (0 until (if (tiny) 2 else 3)).foreach { i =>
      val q = text(Workload.rng(seed, 10, i), 3)
      attempt("reopen") {
        val db2 = tracer.span("core.DB.persistent")(DB.persistent(spark, root.toString, ef))
        val c2 = db2.getCollection("docs")
        val n = tracer.span("core.Collection.count")(c2.count())
        val res = tracer.span("core.Collection.query")(c2.query(q, k))
        (c2, n, res)
      }.foreach(reopened += _)
    }

    verify(coll)
    layers()
  }

  // ---------------------------------------------------------------- checks

  private val vecCache = mutable.HashMap.empty[String, Array[Float]]
  private def vec(content: String) = vecCache.getOrElseUpdate(content, embed(content, dim))

  private def verify(coll: Collection): Unit = {
    queries.foreach { case (q, version, res) =>
      val qv = embed(q, dim)
      val ids = version.keys.toIndexedSeq.sorted
      val s = ids.map(id => dot(vec(version(id)._2), qv)).toArray
      val want = Brute.top(s, ids.size, k, _ => true).map(ids)
      val got = res.map(_.id)
      val sims = res.map(_.similarity)
      val at = ids.zipWithIndex.toMap
      val last = if (sims.isEmpty) Float.NegativeInfinity else sims.min
      val ok = got.size == math.min(k, ids.size) && got.distinct.size == got.size &&
        got.forall(at.contains) &&
        got.zip(sims).forall { case (id, sim) => math.abs(sim - s(at(id))) <= Eps } &&
        res.forall(x => version(x.id) == (x.metadata, x.content)) &&
        sims.zip(sims.drop(1)).forall { case (a, b) => a >= b - Eps } &&
        ids.indices.forall(j => got.contains(ids(j)) || s(j) <= last + Eps)
      report.check("ingest.query", ok, s"q=$q got=${got.mkString(",")} want=${want.mkString(",")}")
    }
    checkState("ingest.state", coll)
    reopened.foreach { case (_, n, res) =>
      report.check("ingest.reopen.count", n == model.size, s"count=$n")
      report.check("ingest.reopen.query", res.size == k && res.forall(x => model.contains(x.id)))
    }
    reopened.lastOption.foreach(x => checkState("ingest.reopen", x._1))
  }

  /** Count, sampled point reads and deleted ids against the model. */
  private def checkState(prefix: String, c: Collection): Unit = {
    report.check(s"$prefix.count", c.count() == model.size, s"model=${model.size}")
    val r = Workload.rng(seed, 9, prefix.length)
    val live = model.keys.toIndexedSeq.sorted
    (0 until 5).foreach { _ =>
      val id = live(r.nextInt(live.size))
      report.check(s"$prefix.get_by_id", {
        val d = c.getByID(id)
        d.id == id && (d.metadata, d.content) == model(id) &&
          d.embedding.zip(vec(d.content)).forall { case (a, b) => math.abs(a - b) <= Eps }
      }, s"id=$id")
    }
    deleted.take(5).foreach { id =>
      report.check(s"$prefix.deleted_absent",
        try { c.getByID(id); false } catch { case _: NoSuchElementException => true },
        s"id=$id")
    }
  }

  // ---------------------------------------------------------------- layers

  private def layers(): Unit = {
    val (bytes, files) = Jvm.dirBytes(root)
    val userBytes = model.iterator.map { case (id, (md, content)) =>
      id.length + md.iterator.map { case (a, b) => a.length + b.length }.sum + content.length + 4 * dim
    }.sum.toDouble
    report.layer("core.Collection.addDocuments_ms") = (tracer.spanMs("core.Collection.addDocuments"), "ms")
    report.layer("core.Collection.delete_ms") = (tracer.spanMs("core.Collection.delete"), "ms")
    report.layer("core.DB.persistent_ms") = (tracer.spanMs("core.DB.persistent"), "ms")
    val texts = (0 until 100).map(i => text(Workload.rng(seed, 12, i), 12))
    val lat = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      ef.embedBatch(texts.iterator).foreach(_ => ())
      (System.nanoTime() - t0) / 1e6
    }
    report.layer("embed.HashingEmbeddingFunc.embedBatch_ms") = (Stats.median(lat.drop(5)), "ms")
    report.layer("persist.write_bytes_per_upsert") =
      (if (writeBytes.isEmpty) 0.0 else Stats.median(writeBytes.toSeq), "bytes")
    report.layer("persist.files_in_collection_dir") = (files.toDouble, "count")
    report.layer("persist.disk_bytes_per_user_byte") = (bytes / userBytes, "ratio")
  }
}

object WriteProbe {
  val Eps = 1e-5f
  private val Words: Array[String] = {
    val r = new java.util.SplittableRandom(4242)
    Array.fill(400)(Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  def idOf(i: Int): String = f"u$i%07d"

  def text(r: java.util.SplittableRandom, words: Int): String =
    Array.fill(words)(Words(r.nextInt(Words.length))).mkString(" ")

  /** Independent re-implementation of the character-trigram hashing
    * embedder, for the brute-force check. */
  def embed(text: String, dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    val t = " " + text.toLowerCase(java.util.Locale.ROOT) + " "
    var i = 0
    while (i + 3 <= t.length) {
      val h = t.substring(i, i + 3).hashCode
      v(math.floorMod(h, dim)) += (if (((h >>> 16) & 1) == 0) 1f else -1f)
      i += 1
    }
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  def dot(a: Array[Float], b: Array[Float]): Float = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s.toFloat
  }
}
