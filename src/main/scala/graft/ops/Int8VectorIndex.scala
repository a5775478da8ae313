package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/**
 * FLAT packed index over int8-QUANTIZED vectors — the byte-slab twin of
 * [[VectorIndex]] for the scan tier a 100 TB deployment actually runs:
 * symmetric per-vector int8 ([[Quantize]]) cuts slab memory and scan
 * bandwidth 4× vs float32 (d=1536: 1.5 KB/row + one scale vs 6 KB), so
 * the corpus that fits N executors in float32 fits N/4 here — and the
 * integer dot kernel is exact, so scores are bit-reproducible at any
 * partitioning (unlike float accumulation, there is no order
 * sensitivity at all before the final per-row rescale).
 *
 * Scoring contract: bit-identical to [[Quantize.quantizedTopK]] (the
 * DataFrame tier) by construction — the build CONSUMES that tier's
 * `qvec`/`qscale` columns (one quantization, two layouts), the dot is
 * the same exact integer sum, and the rescale is the same double
 * product in the same order. Pinned in Int8VectorIndexSpec.
 *
 * Scale design mirrors [[VectorIndex]]: 64 MB byte slabs streamed at
 * build (per-task transient footprint independent of partition size),
 * MEMORY_AND_DISK blocks on executors, per-partition bounded k-heaps,
 * a partitions×k driver merge, and a driver-local fast path under
 * [[Int8VectorIndex.LocalScanMaxBytes]] where Spark's per-job
 * scheduling floor would dwarf the scan.
 */
class Int8VectorIndex[K: ClassTag: Ordering] private (
    val blocks: RDD[Int8VectorIndex.Block[K]],
    val dim: Int) extends Serializable {

  private val ord = implicitly[Ordering[K]]

  @volatile private var local: Array[Int8VectorIndex.Block[K]] = null

  /** True when queries run driver-locally (small corpus). */
  def isLocal: Boolean = local != null

  /** Exhaustive top-k by quantized similarity (≈ dot/cosine of the
    * original floats): score = (Σ qaᵢ·qbᵢ) · scale_row · scale_query,
    * ties by id ascending — the [[Quantize.quantizedTopK]] contract. */
  def topK(query: Array[Float], k: Int): Array[(K, Double)] = {
    require(k > 0, "k must be > 0")
    require(query.length == dim,
      s"vectors must have the same length: ${query.length} vs $dim")
    val (qq, qs) = Quantize.quantizeQuery(query)
    val qb = qq.map(_.toByte) // |q| ≤ 127 by construction
    val snapshot = local
    if (snapshot != null) return localTopK(snapshot, qb, qs, k)
    val d = dim
    val tieOrd = ord
    val perPart = blocks.mapPartitions { it =>
      Int8VectorIndex.scanTopK(it, d, qb, qs, k)(tieOrd).iterator
    }
    VectorIndex.topOf(perPart.collect(), k, ord)
  }

  /** Driver-local scan fanned out on the shared [[VectorIndex]] pool in
    * row-range chunks (one bounded heap per chunk, tiny final merge) —
    * the same shape as VectorIndex.localTopK, through the SAME
    * [[Int8VectorIndex.scanRange]] kernel the distributed path uses. */
  private def localTopK(snapshot: Array[Int8VectorIndex.Block[K]],
      qb: Array[Byte], qs: Double, k: Int): Array[(K, Double)] = {
    val d = dim
    val chunkRows = 4096
    val chunks = snapshot.iterator.flatMap { b =>
      val n = b.ids.length
      (0 until n by chunkRows).map(from => (b, from, math.min(from + chunkRows, n)))
    }.toArray
    val pool = VectorIndex.localPool
    val tasks = chunks.map { case (block, from, until) =>
      pool.submit(new java.util.concurrent.Callable[Array[(K, Double)]] {
        def call(): Array[(K, Double)] =
          Int8VectorIndex.scanRange(block, from, until, d, qb, qs, k)(ord)
      })
    }
    VectorIndex.topOf(tasks.flatMap(_.get()), k, ord)
  }

  /** Count of indexed vectors. */
  def count(): Long = {
    val snapshot = local
    if (snapshot != null) snapshot.map(_.ids.length.toLong).sum
    else blocks.map(_.ids.length.toLong).sum().toLong
  }

  def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): this.type = {
    blocks.persist(level); this
  }

  /** Force materialization; pulls the index driver-local when the byte
    * payload fits under [[Int8VectorIndex.LocalScanMaxBytes]].
    * `forceDistributed = true` keeps blocks on executors regardless. */
  def materialize(forceDistributed: Boolean = false): this.type = {
    val rows = blocks.map(_.ids.length.toLong).sum().toLong
    if (!forceDistributed && rows * dim <= Int8VectorIndex.LocalScanMaxBytes) {
      local = blocks.collect()
      blocks.unpersist(blocking = true)
    }
    this
  }

  def unpersist(blocking: Boolean = false): this.type = {
    if (local == null) blocks.unpersist(blocking); local = null; this
  }
}

object Int8VectorIndex {

  /** Same driver-memory envelope as [[VectorIndex.LocalScanMaxFloats]]
    * (200M floats = 800 MB): 800M BYTES of int8 payload. */
  val LocalScanMaxBytes: Long = 800L * 1000 * 1000

  /** One block = a packed row-major int8 slab + parallel id and
    * per-vector scale arrays. */
  case class Block[K](ids: Array[K], scales: Array[Double], data: Array[Byte])

  /** Per-block slab cap in bytes (~64 MB) — same transient-footprint
    * rationale as [[VectorIndex.ChunkFloats]]. */
  private[graft] val ChunkBytes: Int = 64 * 1024 * 1024

  /** The ONE scan kernel — a row RANGE of a block into the shared
    * [[VectorIndex.TopKHeap]] — used by both the distributed
    * per-partition pass ([[scanTopK]], whole blocks) and the driver-local
    * pooled path (4096-row chunks), so the two can never diverge. The int
    * accumulator is exact: |Σ qaᵢ·qbᵢ| ≤ 127²·d < 2³¹ for every
    * supported d (build rejects d > 100000). */
  private[ops] def scanRange[K](
      block: Block[K], from: Int, until: Int, d: Int,
      qb: Array[Byte], qs: Double,
      k: Int)(ord: Ordering[K]): Array[(K, Double)] = {
    val heap = new VectorIndex.TopKHeap[K](math.min(k, until - from), block.ids, ord)
    val data = block.data
    val bscales = block.scales
    var r = from
    while (r < until) {
      val off = r * d
      var dot = 0
      var i = 0
      while (i < d) { dot += data(off + i) * qb(i); i += 1 }
      // same double product, same order, as quantizedTopK's
      // (qdot.cast(double) * qscale) * qs — bit-equal scores
      heap.offer(r, dot.toDouble * bscales(r) * qs)
      r += 1
    }
    heap.entries.map { case (row, s) => (block.ids(row), s) }
  }

  /** Per-partition pass: [[scanRange]] over each whole block, merged
    * under the same total order. */
  private def scanTopK[K](
      it: Iterator[Block[K]], d: Int, qb: Array[Byte], qs: Double,
      k: Int)(ord: Ordering[K]): Array[(K, Double)] =
    VectorIndex.topOf(
      it.flatMap(b => scanRange(b, 0, b.ids.length, d, qb, qs, k)(ord)).toArray, k, ord)

  /** Build from a PRE-QUANTIZED frame's (id, qvec, qscale) columns —
    * the output of [[Quantize.quantize]], so this layout and the
    * DataFrame tier share ONE quantization. Values outside int8 range
    * or a mismatched dimension fail the build loudly. */
  def build[K: ClassTag: Ordering](
      df: DataFrame,
      idCol: String,
      qvecCol: String,
      qscaleCol: String,
      dim: Int,
      numBlocks: Int = 0): Int8VectorIndex[K] = {
    require(dim > 0, s"dim must be > 0, got $dim")
    require(dim <= 100000,
      s"dim $dim exceeds the exact-int-accumulator bound (127²·d < 2³¹)")
    val rows0 = df.select(col(idCol), col(qvecCol), col(qscaleCol)).rdd
    val rows = if (numBlocks > 0) rows0.coalesce(numBlocks) else rows0
    val blocks = rows.mapPartitions { it =>
      val capRows = math.max(1, ChunkBytes / dim)
      var nextRows = math.min(4096, capRows)
      new Iterator[Block[K]] {
        def hasNext: Boolean = it.hasNext
        def next(): Block[K] = {
          val cap = nextRows
          nextRows = capRows
          val ids = new Array[K](cap)
          val scales = new Array[Double](cap)
          val data = new Array[Byte](cap * dim)
          var n = 0
          while (n < cap && it.hasNext) {
            val row = it.next()
            val v = row.getSeq[Int](1)
            if (v == null) throw new IllegalArgumentException(
              s"cannot index a null qvec (id=${row.get(0)}); " +
                "filter nulls before Int8VectorIndex.build")
            if (v.length != dim) throw new IllegalArgumentException(
              s"vectors must have the same length: ${v.length} vs $dim")
            val off = n * dim
            var i = 0
            v.foreach { q =>
              if (q < -127 || q > 127) throw new IllegalArgumentException(
                s"qvec value $q outside int8 range (id=${row.get(0)}); " +
                  "build from Quantize.quantize output")
              data(off + i) = q.toByte
              i += 1
            }
            scales(n) = row.getDouble(2)
            ids(n) = row.getAs[K](0)
            n += 1
          }
          if (n == cap) Block(ids, scales, data)
          else Block(ids.take(n), scales.take(n),
            java.util.Arrays.copyOf(data, n * dim))
        }
      }
    }
    new Int8VectorIndex[K](blocks, dim)
  }
}
