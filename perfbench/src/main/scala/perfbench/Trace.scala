package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, timed from the benchmark's side. Times
  * are epoch milliseconds with sub-millisecond fraction, so they line up
  * with the job and stage times Spark's listener events carry. `op` is
  * the timed operation type the span belongs to ("" outside operations). */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startMs: Double, endMs: Double)

final case class JobRec(jobId: Int, span: Long, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])

final case class StageRec(stageId: Int, tasks: Int, startMs: Long, endMs: Long,
    cpuMs: Double, gcMs: Double, shuffleBytes: Long, recordsRead: Long)

final case class PlanRec(startMs: Long, planMs: Double)

/** In-memory span recorder plus the Spark listeners that add job and stage
  * children. Off by default: `span` then only runs its body, so the
  * untraced end-to-end runs carry no tracing cost beyond one branch. Jobs
  * are tied to spans through the job group the recorder sets on the
  * calling thread for the span's duration. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val stack = new ThreadLocal[List[(Long, String)]] { override def initialValue() = Nil }
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val GroupPrefix = "perfbench-span-"

  private def nowMs(): Double = (epochNs + System.nanoTime()) / 1e6

  def span[A](name: String, op: String = "")(body: => A): A = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val outer = stack.get()
    val id = ids.incrementAndGet()
    val opName = if (op.nonEmpty) op else outer.headOption.map(_._2).getOrElse("")
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    stack.set((id, opName) :: outer)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = nowMs()
    try body
    finally {
      val t1 = nowMs()
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "", false)
      stack.set(outer)
      spans.synchronized {
        spans += Span(id, outer.headOption.map(_._1).getOrElse(0L), name, opName, t0, t1)
      }
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(GroupPrefix)) jobs.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, g.drop(GroupPrefix.length).toLong, e.time, e.time,
          e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.synchronized {
        stages(si.stageId) = StageRec(si.stageId, si.numTasks,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.recordsRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) plans.synchronized {
        plans += PlanRec(phases.values.map(_.startTimeMs).min,
          phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def stop(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spans with their Spark job and stage children, one JSON object per
    * line: id, parent, name, op, start and end (epoch ms). Job ids are
    * offset by 10^9 and stage ids by 2·10^9 so every id is unique. */
  def write(path: Path): Unit = {
    val b = new StringBuilder
    def line(id: Long, parent: Long, name: String, op: String, s: Double, e: Double,
        extra: String = ""): Unit =
      b ++= s"""{"id": $id, "parent": $parent, "name": ${Json.str(name)}, "op": ${Json.str(op)}, "start_ms": ${Json.num(s)}, "end_ms": ${Json.num(e)}$extra}""" += '\n'
    val opOf = spans.map(s => s.id -> s.op).toMap
    spans.sortBy(_.startMs).foreach(s => line(s.id, s.parent, s.name, s.op, s.startMs, s.endMs))
    jobs.values.foreach { j =>
      val jid = 1000000000L + j.jobId
      line(jid, j.span, s"spark.job.${j.jobId}", opOf.getOrElse(j.span, ""), j.startMs, j.endMs)
      j.stageIds.flatMap(stages.get).foreach { st =>
        line(2000000000L + st.stageId, jid, s"spark.stage.${st.stageId}", opOf.getOrElse(j.span, ""),
          st.startMs, st.endMs,
          s""", "tasks": ${st.tasks}, "executor_cpu_ms": ${Json.num(st.cpuMs)}, "gc_ms": ${Json.num(st.gcMs)}, "shuffle_bytes": ${st.shuffleBytes}, "records_read": ${st.recordsRead}""")
      }
    }
    Files.writeString(path, b.toString)
  }

  /** Per-operation Spark split for one operation type: the median, over
    * that type's top-level spans, of each quantity summed beneath one span. */
  def opMetrics(op: String): Map[String, Double] =
    treeMetrics(spans.filter(s => s.op == op &&
      !spans.exists(p => p.id == s.parent && p.op == op)).toSeq)

  /** The same split over the spans with one name. */
  def spanMetrics(name: String): Map[String, Double] =
    treeMetrics(spans.filter(_.name == name).toSeq)

  private def treeMetrics(roots: Seq[Span]): Map[String, Double] = {
    if (roots.isEmpty) return Map.empty
    val children = spans.groupBy(_.parent)
    def below(id: Long): Set[Long] =
      children.getOrElse(id, Nil).flatMap(c => below(c.id)).toSet + id
    val perRoot = roots.map { root =>
      val ids = below(root.id)
      val js = jobs.values.filter(j => ids.contains(j.span)).toSeq
      val sts = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      // driver time: the span's wall time minus the union of its jobs
      val covered = js.map(j => (j.startMs.toDouble, j.endMs.toDouble)).sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((acc, hi), (s, e)) =>
          val s1 = math.max(s, math.max(hi, root.startMs))
          val e1 = math.min(e, root.endMs)
          (acc + math.max(0.0, e1 - s1), math.max(hi, e1))
        }._1
      val planMs = plans.filter(p => p.startMs >= root.startMs - 1 && p.startMs <= root.endMs)
        .map(_.planMs).sum
      Map(
        "driver_ms" -> math.max(0.0, root.endMs - root.startMs - covered),
        "jobs" -> js.size.toDouble,
        "tasks" -> sts.map(_.tasks).sum.toDouble,
        "job_ms" -> js.map(j => (j.endMs - j.startMs).toDouble).sum,
        "plan_ms" -> planMs,
        "executor_cpu_ms" -> sts.map(_.cpuMs).sum,
        "gc_ms" -> sts.map(_.gcMs).sum,
        "shuffle_bytes" -> sts.map(_.shuffleBytes).sum.toDouble,
        "records_read" -> sts.map(_.recordsRead).sum.toDouble)
    }
    perRoot.head.keys.map(k => k -> Stats.median(perRoot.map(_(k)))).toMap
  }

  /** Median duration (ms) of the spans with this name. */
  def spanMs(name: String): Double = {
    val d = spans.filter(_.name == name).map(s => s.endMs - s.startMs)
    if (d.isEmpty) 0.0 else Stats.median(d.toSeq)
  }
}
