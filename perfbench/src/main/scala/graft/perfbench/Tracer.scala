package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, installed only for the traced phase.
  *
  * One span per benchmark operation; before each operation the Spark job
  * group is set to the operation's id, so the jobs, stages and tasks it runs
  * become child spans carrying that id. Jobs started from threads that did
  * not inherit the group (commit worker pools) are attributed by time: the
  * loop is closed with one client, so exactly one operation is running.
  * Query executions are attributed the same way by their analysis start.
  * Everything is kept in memory and written out by [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val opSpans = ArrayBuffer.empty[OpSpan]
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var current: String = ""

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.add(JobRec(e.jobId, group, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, info.taskId, info.launchTime,
        info.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.peakExecutionMemory, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def sec(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      qes.add(QeRec(start, sec("analysis"), sec("optimization"), sec("planning")))
    }
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def begin(id: String, name: String): Unit = {
    current = id
    sc.setJobGroup(id, name, interruptOnCancel = false)
  }

  def end(id: String, name: String, kind: String, pass: Int, startMs: Long,
          endMs: Long, ok: Boolean): Unit = {
    sc.clearJobGroup()
    opSpans += OpSpan(id, name, kind, pass, startMs, endMs, ok)
  }

  /** The op whose interval holds `t` (ms), or "" outside every op. */
  private lazy val byTime: Long => String = {
    val sorted = opSpans.sortBy(_.startMs).toArray
    t => {
      val i = sorted.lastIndexWhere(_.startMs <= t)
      if (i >= 0 && t <= sorted(i).endMs) sorted(i).id else ""
    }
  }

  private def jobOp(j: JobRec): String = if (j.group.nonEmpty) j.group else byTime(j.startMs)

  /** Per-layer metrics of the traced phase, per pass over the op list. */
  def metrics(passes: Int): Seq[(String, Double, String)] = {
    val p = passes.toDouble
    val ts = tasks.asScala.toSeq
    val st = stages.asScala.toSeq
    val q = qes.asScala.toSeq
    val opWallMs = opSpans.map(o => o.endMs - o.startMs).sum.toDouble
    val taskRunMs = ts.map(_.runMs).sum.toDouble
    val tasksByOp = ts.groupBy(t => jobOpOfStage(t.stageId))
    val busyMs = opSpans.map { o =>
      union(tasksByOp.getOrElse(o.id, Nil).map(t =>
        (math.max(t.launchMs, o.startMs), math.min(t.finishMs, o.endMs))))
    }.sum
    Seq(
      ("catalyst.analysis_s", q.map(_.analysis).sum / p, "s"),
      ("catalyst.optimization_s", q.map(_.optimization).sum / p, "s"),
      ("catalyst.planning_s", q.map(_.planning).sum / p, "s"),
      ("catalyst.query_executions", q.size / p, "count"),
      ("spark.jobs", jobs.size / p, "count"),
      ("spark.stages", st.size / p, "count"),
      ("spark.tasks", ts.size / p, "count"),
      ("spark.single_task_stage_frac",
        if (st.isEmpty) 0.0 else st.count(_.numTasks == 1).toDouble / st.size, "ratio"),
      ("spark.driver_gap_s", (opWallMs - busyMs) / 1000.0 / p, "s"),
      ("exec.task_run_s", taskRunMs / 1000.0 / p, "s"),
      ("exec.task_cpu_s", ts.map(_.cpuNs).sum / 1e9 / p, "s"),
      ("exec.gc_s", ts.map(_.gcMs).sum / 1000.0 / p, "s"),
      ("exec.parallelism", if (opWallMs > 0) taskRunMs / opWallMs else 0.0, "ratio"),
      ("exec.peak_memory_bytes", ts.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      ("shuffle.write_bytes", ts.map(_.shuffleWrite).sum / p, "bytes"),
      ("shuffle.read_bytes", ts.map(_.shuffleRead).sum / p, "bytes"),
      ("shuffle.fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1000.0 / p, "s"),
      ("spill.disk_bytes", ts.map(_.spillDisk).sum / p, "bytes"),
      ("scan.rows_read", ts.map(_.rowsRead).sum / p, "rows"),
      ("scan.bytes_read", ts.map(_.bytesRead).sum / p, "bytes"))
  }

  /** Input rows read by the tasks of each op, keyed by op id. */
  def rowsReadByOp: Map[String, Long] =
    tasks.asScala.toSeq.groupBy(t => jobOpOfStage(t.stageId))
      .map { case (op, ts) => op -> ts.map(_.rowsRead).sum }

  private lazy val jobsById = jobs.asScala.map(j => j.id -> j).toMap

  private def jobOpOfStage(stageId: Int): String =
    Option(stageJob.get(stageId)).flatMap(j => jobsById.get(j)).map(jobOp).getOrElse("")

  /** One JSON object per span: operations, then their jobs, stages, tasks and
    * query executions, each child carrying its operation's id as `op_id`. */
  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    def line(m: Map[String, Any]): Unit = sb ++= Json.write(m) += '\n'
    opSpans.foreach(o => line(Map("span" -> "op", "id" -> o.id, "op_id" -> o.id,
      "parent" -> null, "name" -> o.name, "kind" -> o.kind, "pass" -> o.pass,
      "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok)))
    jobs.asScala.foreach(j => line(Map("span" -> "job", "id" -> s"job-${j.id}",
      "op_id" -> jobOp(j), "parent" -> jobOp(j), "group" -> j.group,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
    stages.asScala.foreach { s =>
      val job = Option(stageJob.get(s.id)).map(j => s"job-$j").orNull
      line(Map("span" -> "stage", "id" -> s"stage-${s.id}", "op_id" -> jobOpOfStage(s.id),
        "parent" -> job, "tasks" -> s.numTasks, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    tasks.asScala.foreach(t => line(Map("span" -> "task", "id" -> s"task-${t.taskId}",
      "op_id" -> jobOpOfStage(t.stageId), "parent" -> s"stage-${t.stageId}",
      "start_ms" -> t.launchMs, "end_ms" -> t.finishMs, "run_ms" -> t.runMs,
      "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs, "shuffle_write" -> t.shuffleWrite,
      "shuffle_read" -> t.shuffleRead, "rows_read" -> t.rowsRead, "bytes_read" -> t.bytesRead)))
    qes.asScala.foreach(x => line(Map("span" -> "query_execution", "op_id" -> byTime(x.startMs),
      "parent" -> byTime(x.startMs), "start_ms" -> x.startMs, "analysis_s" -> x.analysis,
      "optimization_s" -> x.optimization, "planning_s" -> x.planning)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  final case class OpSpan(id: String, name: String, kind: String, pass: Int,
                          startMs: Long, endMs: Long, ok: Boolean)
  final case class JobRec(id: Int, group: String, startMs: Long) { @volatile var endMs = 0L }
  final case class StageRec(id: Int, numTasks: Int, startMs: Long, endMs: Long)
  final case class TaskRec(stageId: Int, taskId: Long, launchMs: Long, finishMs: Long,
                           runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, fetchWaitMs: Long, spillDisk: Long,
                           peakMem: Long, rowsRead: Long, bytesRead: Long)
  final case class QeRec(startMs: Long, analysis: Double, optimization: Double,
                         planning: Double)

  /** Total length of the union of [start, end] intervals (ms). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }
}
