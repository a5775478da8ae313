package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. `tiny` runs the workload at
  * toy scale (the self-check mode); everything else is the real run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    data: Path,
    tiny: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      data = Paths.get(kv.getOrElse("data", need("work"))).toAbsolutePath,
      tiny = kv.get("tiny").contains("1"))
  }
}

/** One timed operation: its type, wall time and whether it failed. */
final case class Sample(op: String, ns: Long, ok: Boolean)

/** Everything one run reports. `e2e` are the bounded end-to-end metrics
  * (the same names on every workload), `named` the same measurements under
  * the workload's own operation names, `layer` the traced per-layer split.
  * `checks` maps each output check to the number of items it verified. */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, Long]
  val samples = mutable.ArrayBuffer.empty[Sample]
  var failedChecks = 0L

  def attempted: Long = samples.size.toLong
  def failed: Long = samples.count(!_.ok) + failedChecks

  /** Mark a checked item; a failed item, or one whose check throws,
    * counts as a failed operation. */
  def check(name: String, ok: => Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, 0L) + 1
    val passed = try ok catch { case e: Exception =>
      System.err.println(s"[perfbench] check $name threw $e"); false }
    if (!passed) {
      failedChecks += 1
      if (failedChecks <= 20) System.err.println(s"[perfbench] check $name FAILED $detail")
    }
  }

  def latenciesMs(op: String): Array[Double] =
    samples.iterator.filter(s => s.op == op && s.ok).map(_.ns / 1e6).toArray.sorted
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank p90. It meets the "ten samples beyond" rule for a
    * reported tail only from 100 samples on; the info line gives the count. */
  def p90(sorted: Array[Double]): Double = {
    require(sorted.nonEmpty, "p90 of no samples")
    sorted(math.ceil(0.9 * sorted.length).toInt - 1)
  }
}

object Jvm {
  /** Heap in use after full collections, in MB (read through JMX): the
    * least of five readings, each after a GC and a pause that lets Spark's
    * cleaner drop what the previous collection freed. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Bytes this process has passed to write(2) so far (`wchar`). */
  def wchar(): Long = {
    val p = Paths.get("/proc/self/io")
    if (!Files.isReadable(p)) return 0L
    Files.readAllLines(p).toArray.map(_.toString)
      .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }
      .getOrElse(0L)
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  def dirBytes(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      var bytes = 0L; var files = 0L
      s.forEach { p => if (Files.isRegularFile(p)) { bytes += Files.size(p); files += 1 } }
      (bytes, files)
    } finally s.close()
  }
}

object Session {
  /** The shared sandbox settings: local[N] and shuffle partitions from the
    * core count, AQE on, Spark's scratch and warehouse inside the run's
    * work directory. */
  def build(work: Path): SparkSession = {
    val cores = sys.env.get("PERFBENCH_CORES").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def str(s: String): String = graft.persist.Json.str(s)
  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}
