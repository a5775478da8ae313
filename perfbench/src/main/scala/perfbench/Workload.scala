package perfbench

import org.apache.spark.sql.SparkSession

/** Shared shape of a workload run: set-up (repeated, the median is
  * `setup_s`), a closed loop of timed operations with one client thread,
  * then the output checks, all outside the timed windows. */
abstract class Workload(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val report = new Report(opts.workload)

  /** Results per query, for the rows-read ratios. */
  def k: Int = 10

  /** Set-up repetitions per run; the last one's state is kept. */
  def setupReps: Int = if (opts.tiny) 2 else 3

  /** Build the program state from the generated inputs and keep it in the
    * workload. */
  def setup(): Unit

  /** Drop the state of a set-up that is not kept. */
  def discard(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** After the last set-up, before the heap reading: drop benchmark-side
    * inputs the program no longer needs, so `live_heap_mb` is the
    * program's. */
  def afterSetup(): Unit = ()

  /** The operation types in slot order op1..op3, each with its own name. */
  def opNames: Seq[String]

  /** Run operation `i` of the closed loop, timed through `timed`. */
  def step(i: Long): Unit

  /** Operations run before timing starts; their latencies are dropped. */
  def warmup(): Unit = ()

  /** Checks that must each have verified at least one item. */
  def requiredChecks: Seq[String]

  /** Output checks over everything the timed loop recorded. */
  def verify(): Unit

  /** Workload-specific metrics under the workload's own names and per-layer
    * measurements that need the state after the loop. */
  def finish(): Unit

  protected def timed[A](op: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(op, op)(body)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $op failed: $e")
        None
    }
    report.samples += Sample(op, System.nanoTime() - t0, r.isDefined)
    r
  }

  /** Run the closed loop for `seconds`, starting at op index `from`;
    * returns the next index. */
  def loop(seconds: Double, from: Long): Long = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = from
    while (System.nanoTime() < end) {
      step(i); i += 1
    }
    i
  }
}

object Workload {
  /** Loop indices of warm-up operations: far from the timed loop's, so
    * their generated inputs differ. */
  val WarmBase: Long = 1L << 40

  /** A stream of seeded generators keyed by (seed, stream, index): the same
    * inputs on every run with the same seed, independent of call order. */
  def rng(seed: Long, stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ (stream * 0xC2B2AE3D27D4EB4FL) ^ (i * 0x165667B19E3779F9L))

  def unitVector(r: java.util.SplittableRandom, d: Int): Array[Float] = {
    val v = Array.fill(d)((r.nextDouble() * 2 - 1).toFloat)
    var s = 0.0
    v.foreach(x => s += x.toDouble * x)
    val inv = (1.0 / math.sqrt(s)).toFloat
    var j = 0
    while (j < d) { v(j) *= inv; j += 1 }
    v
  }
}
