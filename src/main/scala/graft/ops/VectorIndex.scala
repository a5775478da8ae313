package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.storage.StorageLevel

/**
 * FLAT (exhaustive) in-memory vector index — the reference's brute-force
 * scan ("FLAT index", reference README.md:156; scan loop query.go:192-236)
 * distributed over Spark partitions.
 *
 * Why not the DataFrame columnar cache for the hot loop? Measured on
 * 100k×1536 float32 (local[32]): columnar-cache scan ≈ 92 ms/query,
 * parquet scan ≈ 575 ms/query, this packed-primitive layout ≈ 38 ms/query
 * — i.e. at parity with the reference's published 39.6 ms (8-thread
 * laptop, BASELINE.md). The win is data layout: one contiguous float[]
 * per block (SIMD-friendly, zero per-row decode), exactly what the
 * reference scans (contiguous sub-slices, query.go:192-196).
 *
 * Scale design: blocks live distributed in executor memory
 * (MEMORY_AND_DISK); the query travels in the task closure (~6 KB at
 * d=1536); each partition keeps a bounded k-heap; the driver merges
 * #partitions × k candidates — the same partial-top-k-then-merge shape
 * as the reference's per-goroutine heaps (query.go:16-83) and Spark's
 * own TakeOrderedAndProject, minus row-format overhead.
 *
 * Both tiers run the ONE scan kernel ([[VectorIndex.scanRange]]) into the
 * ONE bounded heap ([[VectorIndex.TopKHeap]]) under the ONE result order
 * ([[VectorIndex.rank]]), so they cannot diverge.
 */
class VectorIndex[K: ClassTag: Ordering] private (
    val blocks: RDD[VectorIndex.Block[K]],
    val dim: Int) extends Serializable {
  import VectorIndex._

  // Ties break by the key ordering — the DataFrame tiers sort
  // (desc("similarity"), asc(id)), so a String-keyed index that must
  // agree with them is built with [[VectorIndex.CodePointOrdering]].
  private val ord = implicitly[Ordering[K]]

  // Small-corpus fast path: when n·d fits under LocalScanMaxFloats the
  // whole index is collected to the driver at materialize() time as ONE
  // contiguous n×d slab and queries scan it in-process on a thread pool —
  // Spark's per-job floor (~45 ms of scheduling at local[32]) would
  // otherwise dwarf a sub-ms scan. This mirrors the reference, whose scan
  // is always in-process (query.go:192-236); at 25k×1536 the driver copy
  // is ~150 MB. At real scale (n·d above the threshold) nothing changes:
  // blocks stay distributed and the driver only ever sees partitions × k
  // candidates.
  @volatile private var local: Block[K] = null

  /** True when queries run driver-locally (small corpus). */
  def isLocal: Boolean = local != null

  /** The driver-local slab (with the payload the build captured), or
    * null while the index is distributed. Callers read it ONCE and scan
    * that reference: a concurrent unpersist() nulls only the field. */
  private[graft] def localBlock: Block[K] = local

  /** Exhaustive top-k by dot product (== cosine for normalized vectors).
    * Ties break by id ascending — the DataFrame tiers' contract. */
  def topK(query: Array[Float], k: Int): Array[(K, Float)] = {
    require(k > 0, "k must be > 0") // k=0 indexed scores(-1) opaquely
    requireDim(query)
    // Snapshot the @volatile once: a concurrent unpersist() nulling the
    // field between a bare null-check and a re-read would NPE mid-query.
    val snapshot = local
    if (snapshot != null)
      return scanLocal(snapshot, query, k).map { case (r, s) => (snapshot.ids(r), s) }
    val d = dim
    val tieOrd = ord
    val perPart = blocks.mapPartitions { it =>
      val cands = it.flatMap { b =>
        scanRange(b, 0, b.ids.length, d, query, k, tieOrd, null, null, 0f)
          .entries.map { case (r, s) => (b.ids(r), s) }
      }.toArray
      topOf(cands, k, tieOrd).iterator
    }
    topOf(perPart.collect(), k, ord).map { case (id, s) => (id, s.toFloat) }
  }

  /** Driver-local scan of `b` (this index's local slab): row ranges of
    * ~1 MB fanned out on the shared pool, one bounded heap per range, the
    * best `k` (row, score) pairs in [[rank]] order. A row enters a heap
    * only if `keep(row)` holds (null keeps every row) and, with `neg`,
    * only if its dot with `neg` is ≤ `negThreshold`. */
  private[graft] def scanLocal(
      b: Block[K],
      query: Array[Float],
      k: Int,
      keep: Int => Boolean = null,
      neg: Array[Float] = null,
      negThreshold: Float = 0f): Array[(Int, Float)] = {
    requireDim(query)
    if (neg != null) requireDim(neg)
    val d = dim
    val n = b.ids.length
    val step = math.max(1, LocalChunkFloats / d)
    def scan(from: Int): TopKHeap[K] =
      scanRange(b, from, math.min(from + step, n), d, query, k, ord, keep, neg, negThreshold)
    val heaps =
      if (n <= step) Seq(scan(0)) // one range: no pool hand-off
      else (0 until n by step).map { from =>
        localPool.submit(new java.util.concurrent.Callable[TopKHeap[K]] {
          def call(): TopKHeap[K] = scan(from)
        })
      }.map(_.get())
    val ids = b.ids
    heaps.flatMap(_.entries)
      .sortWith((x, y) => rank(x._2, ids(x._1), y._2, ids(y._1), ord) < 0)
      .take(k).map { case (r, s) => (r, s.toFloat) }.toArray
  }

  private def requireDim(v: Array[Float]): Unit =
    require(v.length == dim, s"vectors must have the same length: ${v.length} vs $dim")

  /** Count of indexed vectors. */
  def count(): Long = {
    val snapshot = local
    if (snapshot != null) snapshot.ids.length.toLong
    else blocks.map(_.ids.length.toLong).sum().toLong
  }

  def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): this.type = {
    blocks.persist(level); this
  }

  /** Force materialization (so first query isn't charged the build); pulls
    * the index driver-local, packed into one contiguous slab, when it fits
    * under LocalScanMaxFloats. `forceDistributed = true` keeps blocks on
    * executors regardless — the path every corpus above the threshold
    * takes; benchmarked explicitly so the at-scale tier has a measured
    * point, not just the small-corpus fast path. */
  def materialize(forceDistributed: Boolean = false): this.type = {
    val rows = blocks.map(_.ids.length.toLong).sum().toLong
    if (!forceDistributed && rows * dim <= VectorIndex.LocalScanMaxFloats) {
      val parts = blocks.collect()
      // blocking: callers time queries right after materialize(), and an
      // asynchronous eviction of the executor copy would drain inside
      // their first measured window. Dropping it BEFORE the concat keeps
      // the transient peak at two copies (collected parts + slab).
      blocks.unpersist(blocking = true)
      local = concat(parts, dim)
    }
    this
  }

  /** `blocking = true` waits for the executor blocks to actually drop —
    * benchmark teardown paths use it so a later timed window doesn't
    * absorb this index's asynchronous eviction. */
  def unpersist(blocking: Boolean = false): this.type = {
    if (local == null) blocks.unpersist(blocking); local = null; this
  }
}

object VectorIndex {

  /** n·d at or below this scans driver-locally (~800 MB of float32, well
    * inside the 8 GB driver heap) — Spark's per-job scheduling floor
    * (~45 ms at local[32]) dominates scans this small. This is exactly
    * the reference's operating envelope (an embeddable in-process store);
    * corpora beyond it stay distributed. It also keeps the local slab's
    * n·d under Int.MaxValue, so one float[] holds it. */
  val LocalScanMaxFloats: Long = 200L * 1000 * 1000

  /** Floats per driver-local scan range (~1 MB): a range's slab stays in
    * one core's L2, and a large slab splits into enough ranges (~150 at
    * 25k×1536) to keep every pool thread busy to the end. */
  private val LocalChunkFloats: Int = 256 * 1024

  /** Shared daemon pool for driver-local scans — creating threads
    * per-query would cost more than the scan itself. */
  private[ops] lazy val localPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => {
        val t = new Thread(r, "vectorindex-local-scan")
        t.setDaemon(true)
        t
      })

  /** One block = a packed row-major slab of vectors + parallel id array,
    * plus, when the build was asked for payload columns, one Row of them
    * per vector. Partitions hold one or more blocks, each capped at
    * [[ChunkFloats]] (~64 MB) — build streams rows straight into
    * fixed-size slabs, so slab allocation never scales with partition
    * size. The driver-local copy is ONE block holding every row. */
  case class Block[K](ids: Array[K], data: Array[Float], payload: Array[Row] = null)

  /** Per-block slab cap in floats (~64 MB). The r12 1M-row build showed
    * 17.9→143.9 s swings across identical-code windows: each partition
    * buffered every row as its OWN ~6 KB float array (old-gen churn that
    * survives minor GCs for the whole partition pass) and then held
    * buffer + slab live simultaneously — ~2× the index size in transient
    * old-gen at an uncontrolled heap fraction. Fixed-size chunks bound
    * the transient footprint to ONE chunk per task regardless of
    * partition size, which is also the property a 1000-executor build
    * needs: per-task allocation independent of rows-per-executor. */
  private[graft] val ChunkFloats: Int = 16 * 1024 * 1024

  /** String order by Unicode code point, which is UTF-8 byte order — the
    * order Spark's `asc` puts a string column in. `Ordering[String]`
    * compares UTF-16 code units instead and so sorts a supplementary
    * character (a surrogate pair, 0xD800–0xDFFF) BEFORE U+E000–U+FFFF. */
  object CodePointOrdering extends Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x != y) return lift(x) - lift(y)
        i += 1
      }
      a.length - b.length
    }
    // surrogates above the rest of the BMP; order inside each group kept
    private def lift(c: Char): Int =
      if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
  }

  /** The result order of every tier: score descending — NaN first and
    * -0.0 == 0.0, as Spark sorts `desc` on a float column — then key
    * ascending. Negative when (s, a) ranks before (t, b). */
  private[graft] def rank[K](s: Double, a: K, t: Double, b: K, ord: Ordering[K]): Int =
    if (s > t) -1
    else if (s < t) 1
    else if (s == t) ord.compare(a, b)
    else if (s != s) { if (t != t) ord.compare(a, b) else -1 }
    else 1

  /** The best `k` of `xs` in [[rank]] order. */
  private[graft] def topOf[K](xs: Array[(K, Double)], k: Int, ord: Ordering[K]): Array[(K, Double)] =
    xs.sortWith((x, y) => rank(x._2, x._1, y._2, y._1, ord) < 0).take(k)

  /** Bounded top-k over the rows of one block, ranked by [[rank]] with
    * `ids(row)` as the key — the one heap every scan (f32 and int8,
    * distributed and driver-local) fills. Scores are doubles: a float
    * score widens exactly, so the f32 scans lose nothing. The id is only
    * read on an exact score tie. */
  private[graft] final class TopKHeap[K](k: Int, ids: Array[K], ord: Ordering[K]) {
    private val rows = new Array[Int](k)
    private val scores = new Array[Double](k)
    private var size = 0
    private var weakest = -1 // the slot ranked last, once full

    def offer(r: Int, s: Double): Unit =
      if (size < k) {
        rows(size) = r; scores(size) = s; size += 1
        if (size == k) findWeakest()
      } else if (outranks(s, r, weakest)) {
        rows(weakest) = r; scores(weakest) = s
        findWeakest()
      }

    private def outranks(s: Double, r: Int, slot: Int): Boolean = {
      val t = scores(slot)
      s > t || (!(s < t) && rank(s, ids(r), t, ids(rows(slot)), ord) < 0)
    }

    private def findWeakest(): Unit = {
      weakest = 0
      var j = 1
      while (j < k) {
        if (outranks(scores(weakest), rows(weakest), j)) weakest = j
        j += 1
      }
    }

    /** The held (row, score) pairs, unordered. */
    def entries: Array[(Int, Double)] = Array.tabulate(size)(j => (rows(j), scores(j)))
  }

  /** THE packed-scan kernel: rows [from, until) of `b` scored by their
    * dot with `q` — the same sequential float fold as `dot_const_f32`,
    * so scores are bit-identical to the DataFrame tiers. `keep` (null =
    * every row) filters before scoring; with `neg` the negative dot runs
    * in the same pass, the same fold, and rows above `negThreshold` are
    * dropped (NEGATIVE_MODE_FILTER, query.go:221-231). */
  private[graft] def scanRange[K](
      b: Block[K], from: Int, until: Int, d: Int, q: Array[Float], k: Int,
      ord: Ordering[K], keep: Int => Boolean, neg: Array[Float],
      negThreshold: Float): TopKHeap[K] = {
    // a range holds at most until - from results: a large k over many
    // ranges must not allocate k slots per range
    val heap = new TopKHeap[K](math.min(k, until - from), b.ids, ord)
    val data = b.data
    var r = from
    while (r < until) {
      if (keep == null || keep(r)) {
        val off = r * d
        var s = 0.0f
        var i = 0
        if (neg == null) {
          while (i < d) { s += data(off + i) * q(i); i += 1 }
          heap.offer(r, s)
        } else {
          var ns = 0.0f
          while (i < d) {
            val x = data(off + i)
            s += x * q(i)
            ns += x * neg(i)
            i += 1
          }
          if (ns <= negThreshold) heap.offer(r, s)
        }
      }
      r += 1
    }
    heap
  }

  /** Packs collected blocks into the one contiguous driver-local slab;
    * each part is released as soon as it is copied. */
  private def concat[K: ClassTag](parts: Array[Block[K]], dim: Int): Block[K] = {
    if (parts.length == 1) return parts(0)
    val n = parts.iterator.map(_.ids.length).sum
    val ids = new Array[K](n)
    val data = new Array[Float](n * dim) // n·d ≤ LocalScanMaxFloats < 2³¹
    val payload = if (parts.exists(_.payload != null)) new Array[Row](n) else null
    var at = 0
    parts.indices.foreach { j =>
      val b = parts(j)
      parts(j) = null
      val m = b.ids.length
      System.arraycopy(b.ids, 0, ids, at, m)
      System.arraycopy(b.data, 0, data, at * dim, m * dim)
      if (payload != null) System.arraycopy(b.payload, 0, payload, at, m)
      at += m
    }
    Block(ids, data, payload)
  }

  /** Build from a DataFrame's (id, embedding) columns. Dimension is taken
    * from the first row; rows with a different dimension fail the build
    * (vectors must have the same length — reference vector.go:16-18).
    * `payloadCols` are carried per vector as one Row each (the
    * collection's metadata and content, so a driver-local index answers
    * queries without re-reading its rows); they are meant for indexes
    * that materialize driver-locally — a distributed index would only
    * persist them. */
  def build[K: ClassTag: Ordering](
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numBlocks: Int = 0,
      payloadCols: Seq[String] = Nil): VectorIndex[K] = {
    require(dim > 0, s"dim must be > 0, got $dim")
    val sel = df.select((Seq(idCol, vecCol) ++ payloadCols).map(col): _*)
    val schema = sel.schema
    require(schema(1).dataType match { case ArrayType(FloatType, _) => true; case _ => false },
      s"$vecCol must be array<float>, got ${schema(1).dataType.simpleString}")
    // Catalyst rows, not Rows: the Row conversion boxes every float of
    // every vector (38M Float objects at 25k×1536) only to unbox them
    // into the slab. Rows may be reused by the scan, so each field is
    // copied out before the next one is read.
    val rows0 = sel.queryExecution.toRdd
    // Small corpora want few partitions: per-task scheduling (~1-2 ms
    // each) dominates sub-ms scans. Callers size partitions so each
    // holds ≥ a few thousand rows; 0 keeps the upstream partitioning.
    val rows = if (numBlocks > 0) rows0.coalesce(numBlocks) else rows0
    val blocks = rows.mapPartitions { it =>
      val types = schema.fields.map(_.dataType)
      val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
      def field(row: InternalRow, i: Int): Any = toScala(i)(row.get(i, types(i)))
      // Stream rows directly into packed chunk slabs — no per-row float
      // arrays, no grow-doubling, no buffer+slab double-live window.
      // The first chunk is small (4096 rows) so tiny partitions don't
      // pay a 64 MB allocation; later chunks use the full cap.
      val capRows = math.max(1, ChunkFloats / dim)
      var nextRows = math.min(4096, capRows)
      val p = types.length - 2
      new Iterator[Block[K]] {
        def hasNext: Boolean = it.hasNext
        def next(): Block[K] = {
          val cap = nextRows
          nextRows = capRows
          val ids = new Array[K](cap)
          val data = new Array[Float](cap * dim)
          val payload = if (p == 0) null else new Array[Row](cap)
          var n = 0
          while (n < cap && it.hasNext) {
            val row = it.next()
            if (row.isNullAt(1)) {
              // diagnostic, not a bare NPE: the corpus schema allows
              // embedding-less rows (embed-on-write), and callers are
              // expected to filter them before indexing
              throw new IllegalArgumentException(
                s"cannot index a null vector (id=${field(row, 0)}); " +
                  "filter embedding IS NOT NULL before VectorIndex.build")
            }
            val v = row.getArray(1)
            if (v.numElements() != dim) {
              throw new IllegalArgumentException(
                s"vectors must have the same length: ${v.numElements()} vs $dim")
            }
            val off = n * dim
            var i = 0
            while (i < dim) { data(off + i) = v.getFloat(i); i += 1 }
            ids(n) = field(row, 0).asInstanceOf[K]
            if (payload != null) payload(n) = Row.fromSeq((2 until 2 + p).map(field(row, _)))
            n += 1
          }
          // trim the final partial chunk so persisted bytes == data bytes
          if (n == cap) Block(ids, data, payload)
          else Block(ids.take(n), java.util.Arrays.copyOf(data, n * dim),
            if (payload == null) null else payload.take(n))
        }
      }
    }
    new VectorIndex[K](blocks, dim)
  }
}
