package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** The census probe, made once by every traced run for the `entry` layer:
  * the LLM-data-pipeline operators as census entries over seeded tables
  * (generated by gen_tables.py into `data`). It has no end-to-end metric;
  * it writes per-layer metrics, samples and checks (named `census.*`) into
  * the run's report.
  *
  * It builds every entry's DataFrame after dropping the memoized per-table
  * state the entries share, writes each result to `dump` with the entry's
  * oracle SQL beside it (the DuckDB check run.py makes afterwards), then
  * runs one pass of the three families, one job each, every entry executed
  * in full through Spark's no-op sink. */
final class CensusProbe(spark: org.apache.spark.sql.SparkSession, data: Path, dump: Path,
    tracer: Tracer, report: Report) {
  import CensusProbe._

  private val dir = data.toString

  private def entry(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  /** One operation of the probe, traced as operation type `op`; a throw
    * counts as a failed operation of the run. */
  private def attempt(op: String)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val ok = try { tracer.span(op, op)(body); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] census $op failed: $e")
        false
    }
    report.samples += Sample(s"census.$op", System.nanoTime() - t0, ok)
    ok
  }

  def run(): Unit = {
    SparkEntry.releaseCaches()
    Entries.foreach(name => attempt(s"build.$name")(entry(name)))
    Entries.foreach { name =>
      attempt(s"dump.$name")(entry(name).repartition(1).write.mode("overwrite")
        .parquet(dump.resolve(name).toString))
    }
    Families.foreach { case (family, names) =>
      attempt(family) {
        names.foreach { name =>
          tracer.span(s"entry.$name")(entry(name).write.format("noop").mode("overwrite").save())
        }
      }
    }

    // the oracle compare itself runs in run.py (DuckDB); here the dump it
    // reads gets the entries' oracle SQL, resolved for this data dir
    val sql = SparkEntry.oracleSqlScoped(dir).filter { case (k, _) => Entries.contains(k) }
    Files.writeString(dump.resolve("oracle_sql.json"),
      sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    Entries.foreach { name =>
      report.check("census.oracle_dump", Files.isDirectory(dump.resolve(name)),
        s"missing dump of $name")
    }

    Entries.foreach { name =>
      val m = tracer.spanMetrics(s"entry.$name")
      report.layer(s"entry.${name}_s") = (tracer.spanMs(s"entry.$name") / 1e3, "s")
      report.layer(s"entry.$name.executor_cpu_s") = (m.getOrElse("executor_cpu_ms", 0.0) / 1e3, "s")
      report.layer(s"entry.$name.shuffle_bytes") = (m.getOrElse("shuffle_bytes", 0.0), "bytes")
    }
  }
}

object CensusProbe {
  /** One entry per family, each a target the performance backlog names. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "text_job" -> Seq("text_bm25"),
    "dedup_job" -> Seq("dedup_subsets"),
    "profile_job" -> Seq("profile_corr"))
  val Entries: Seq[String] = Families.flatMap(_._2)
}
