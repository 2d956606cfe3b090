package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into the program: a span with its parent. Every run
  * records these (the end-to-end metrics are built from them). */
final case class Op(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, sec: Double, traced: Boolean)

final class Spans {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  var tracing = false

  /** Time `f` as a span named `name`, child of the enclosing span. */
  def time[T](name: String)(f: => T): (T, Op) = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val op = Op(id, parent, name, startMs, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, tracing)
      ops += op
      (r, op)
    } finally stack.pop()
  }

  def named(name: String): Seq[Op] = ops.filter(_.name == name).toSeq

  /** The spans as JSON lines, followed by one span per SQL execution the
    * listener saw (`sql.<phase>`), parented to the innermost traced span
    * that contains its start. */
  def jsonl(rec: Recorder): String = {
    def line(id: Long, parent: Int, name: String, s: Long, e: Long, traced: Boolean) =
      s"""{"id":$id,"parent":$parent,"name":"$name","start_ms":$s,"end_ms":$e,"traced":$traced}"""
    val traced = ops.filter(_.traced)
    (ops.map(o => line(o.id, o.parent, o.name, o.startMs, o.endMs, o.traced)) ++
      rec.executions.map { x =>
        val parent = traced.filter(o => o.startMs <= x.startMs && x.startMs <= o.endMs)
          .sortBy(o => o.endMs - o.startMs).headOption.map(_.id).getOrElse(0)
        line(-x.execId - 1, parent, s"sql.${Layers.phase(x.details)}", x.startMs, x.endMs, true)
      }).mkString("\n")
  }
}

final case class TaskRec(stageId: Int, durMs: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long, inputBytes: Long)
final case class JobRec(jobId: Int, execId: Long, startMs: Long,
    stageIds: Seq[Int])
final case class ExecRec(execId: Long, details: String, startMs: Long,
    endMs: Long)

/** The benchmark's own SparkListener. Spark jobs are attributed to the
  * SQL execution named by the job property `spark.sql.execution.id`,
  * and an execution to a pipeline phase by the call site Spark records
  * when the execution starts: the stage jobs AQE submits carry no user
  * call site of their own. */
final class Recorder extends SparkListener {
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val execStart = mutable.Map.empty[Long, (String, Long)]
  private val execEnd = mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs += JobRec(e.jobId, exec, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart(s.executionId) = (s.details, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execEnd(s.executionId) = s.time
      case _ => ()
    }
  }

  def executions: Seq[ExecRec] = synchronized {
    execStart.toSeq.collect { case (id, (d, t0)) if execEnd.contains(id) =>
      ExecRec(id, d, t0, execEnd(id)) }.sortBy(_.startMs)
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  def jobsOf(execIds: Set[Long]): Seq[JobRec] = synchronized {
    jobs.filter(j => execIds.contains(j.execId)).toSeq
  }

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = synchronized {
    val stages = js.flatMap(_.stageIds).toSet
    tasks.filter(t => stages.contains(t.stageId)).toSeq
  }
}

object Layers {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of [start, end] intervals, in seconds. */
  def unionSec(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** max/median task duration of the stage that did the most task work. */
  def skew(ts: Seq[TaskRec]): Double = {
    if (ts.isEmpty) return 0.0
    val (_, stage) = ts.groupBy(_.stageId).maxBy(_._2.map(_.runMs).sum)
    val med = median(stage.map(_.durMs.toDouble))
    if (med > 0) stage.map(_.durMs).max / med else 1.0
  }

  /** The `spark.*` layer over the jobs started in [startMs, endMs]. */
  def spark(rec: Recorder, startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
    val js = rec.jobsIn(startMs, endMs)
    val ts = rec.tasksOf(js)
    val taskS = ts.map(_.runMs).sum / 1e3
    val wall = (endMs - startMs) / 1e3
    Map(
      "spark.task_s" -> taskS,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.cpu_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0))
  }

  /** Pipeline phase of one SQL execution of `ExtractionJob`, from the
    * call site (long form) Spark recorded when it started. */
  def phase(details: String): String =
    if (details.contains("writeMetrics")) "metrics"
    else if (details.contains("approxQuantile")) "bounds"
    else if (details.contains("SnapshotTable")) "commit"
    else if (details.contains("EventSink")) "events"
    else if (details.contains("ExtractionJob")) "lineage"
    else "other"

  /** The `job.*` layer for one `ExtractionJob.run` span. */
  def job(rec: Recorder, op: Op, inputBytes: Double): Map[String, Double] = {
    val execs = rec.executions.filter(e => e.startMs >= op.startMs &&
      e.startMs <= op.endMs)
    val byPhase = execs.groupBy(e => phase(e.details))
    def phaseSec(p: String) =
      unionSec(byPhase.getOrElse(p, Nil).map(e => (e.startMs, e.endMs)))
    val commitTasks = byPhase.getOrElse("commit", Nil).map { e =>
      rec.tasksOf(rec.jobsOf(Set(e.execId)))
    }
    val allTasks = rec.tasksOf(rec.jobsOf(execs.map(_.execId).toSet))
    val wall = (op.endMs - op.startMs) / 1e3
    val sparkSec = unionSec(execs.map(e => (e.startMs, e.endMs)))
    val phases = Seq("bounds", "commit", "lineage", "events", "metrics", "other")
      .map(phaseSec)
    Map(
      "job.wall_s" -> wall,
      "job.bounds_s" -> phaseSec("bounds"),
      "job.commit_s" -> phaseSec("commit"),
      "job.commit_task_s" -> commitTasks.flatten.map(_.runMs).sum / 1e3,
      "job.commit_shuffle_bytes" ->
        commitTasks.flatten.map(_.shuffleWrite).sum.toDouble,
      "job.commit_task_skew" -> median(commitTasks.filter(_.nonEmpty).map(skew)),
      "job.lineage_s" -> phaseSec("lineage"),
      "job.events_s" -> phaseSec("events"),
      "job.metrics_s" -> phaseSec("metrics"),
      "job.driver_s" -> math.max(0.0, wall - sparkSec),
      "job.accounted_share" ->
        (if (wall > 0) (phases.sum + math.max(0.0, wall - sparkSec)) / wall
         else 0.0),
      "job.input_bytes_ratio" ->
        (if (inputBytes > 0) allTasks.map(_.inputBytes).sum / inputBytes
         else 0.0))
  }
}
