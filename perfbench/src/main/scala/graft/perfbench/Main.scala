package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Sessions
import graft.sources.CommitTimings

/** Runs one benchmark workload in this JVM: set-up (session and warm-up),
  * the timed phase with tracing off, optionally a traced phase and another
  * untraced one of as many passes, then the correctness checks. Reads a plan
  * file written by `perfbench/run.py` and writes `result.json` (and, when
  * traced, `spans.jsonl`) to the plan's `out`.
  *
  * Usage: `graft.perfbench.Main <plan.json>`
  */
object Main {
  /** One operation of a pass; `run` returns the rows it produced, or -1. */
  final case class Op(name: String, kind: String, run: () => Long)

  trait Workload {
    def warm(): Unit
    def pass(p: Int): Seq[Op]
    def afterPass(p: Int): Unit = ()
    /** Correctness checks and end-of-run facts, after every timed phase. */
    def finish(): Map[String, Any]
    /** Per-layer metrics only this workload has, for the traced phase. */
    def layers(traced: Phase, tracer: Tracer): Seq[(String, Double, String)] = Nil
  }

  final case class Sample(id: String, pass: Int, name: String, kind: String,
                          seconds: Double, rows: Long, error: Option[String])
  final case class Phase(passes: Int, passWallS: Seq[Double], cpuS: Double,
                         samples: Seq[Sample]) {
    /** Median wall time of one pass. */
    def wallS: Double = {
      val s = passWallS.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val out = plan("out").toString
    val passes = plan("passes").toString.toInt
    // untimed passes of the timed op list after the workload's own warm pass,
    // so that the timed phase does not mostly measure the JIT
    val warmPasses = plan("warm_passes").toString.toInt
    val trace = plan("trace").toString == "1"
    log("jvm started")
    val spark = Sessions.local()
    log("session ready")
    spark.sparkContext.setLogLevel("ERROR")
    // snap-catalog tables (incremental MVs) live beside the run's other outputs
    spark.conf.set("spark.sql.catalog.snap.warehouse", s"$out/snap")
    val w: Workload = plan("workload") match {
      case "table_mor" => new MorWorkload(spark, plan, out)
      case _ => new QueryWorkload(spark, plan, out)
    }
    w.warm()
    runPhase(w, 0, warmPasses, None)
    log("warm-up done")
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val main = runPhase(w, warmPasses, passes, None)
    log(s"timed phase done: $passes passes")

    // traced: the per-layer metrics and the samples of the extra phases
    val (layers, extra) = if (!trace) (Nil, Nil) else {
      val tr = new Tracer(spark)
      tr.install()
      CommitTimings.reset()
      val gc1 = gcMs()
      val ph = runPhase(w, warmPasses + passes, passes, Some(tr))
      val gc = (gcMs() - gc1) / 1000.0 / passes
      tr.uninstall()
      tr.writeSpans(s"$out/spans.jsonl")
      val commits = commitTimings(passes)
      // untraced again: this phase has had more JIT warm-up than the traced
      // one, so the traced phase's excess over it bounds the tracing overhead
      // from above (the first, colder phase would hide the overhead)
      val after = runPhase(w, warmPasses + 2 * passes, passes, None)
      (tr.metrics(passes) ++ rowsPerRowOut(ph, tr) ++ commits ++
        w.layers(ph, tr) ++ Seq(
          ("jvm.gc_s", gc, "s"),
          ("trace.wall_s", ph.wallS, "s"),
          ("trace.untraced_wall_s", after.wallS, "s")),
        ph.samples ++ after.samples)
    }
    val fin = w.finish()
    log("checks done")
    val result = Map(
      "setup_s" -> setupS,
      "passes" -> passes,
      "wall_s" -> main.wallS,
      "cpu_s" -> main.cpuS / passes,
      "peak_rss_mb" -> vmHwmMb(),
      "samples" -> main.samples.map(sampleJson),
      "extra_samples" -> extra.map(sampleJson),
      "layers" -> layers.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "finish" -> fin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"),
      Json.write(result))
    spark.stop()
    log("session stopped")
  }

  /** Progress on stderr, in seconds since the JVM started. */
  private def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s: $msg")

  /** Closed loop, one client: `passes` whole passes over the workload's op
    * list, each op started after the previous one returned. */
  def runPhase(w: Workload, firstPass: Int, passes: Int, tr: Option[Tracer]): Phase = {
    val samples = ArrayBuffer.empty[Sample]
    val walls = ArrayBuffer.empty[Double]
    var cpuNs = 0L
    for (p <- firstPass until firstPass + passes) {
      val ops = w.pass(p)
      val start = System.nanoTime()
      val cpu0 = processCpuNs()
      ops.zipWithIndex.foreach { case (op, i) =>
        val id = s"p$p-o$i"
        tr.foreach(_.begin(id, op.name))
        val ms0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val r = try Right(op.run()) catch { case e: Throwable => Left(e) }
        val s1 = System.nanoTime()
        tr.foreach(_.end(id, op.name, op.kind, p, ms0, System.currentTimeMillis(), r.isRight))
        samples += Sample(id, p, op.name, op.kind, (s1 - s0) / 1e9,
          r.getOrElse(-1L), r.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
      }
      walls += (System.nanoTime() - start) / 1e9
      cpuNs += processCpuNs() - cpu0
      w.afterPass(p)
    }
    Phase(passes, walls.toSeq, cpuNs / 1e9, samples.toSeq)
  }

  /** Input rows scanned per row returned, over the ops that return rows. */
  private def rowsPerRowOut(ph: Phase, tr: Tracer): Seq[(String, Double, String)] = {
    val withRows = ph.samples.filter(_.rows >= 0)
    val out = withRows.map(_.rows).sum
    val read = tr.rowsReadByOp
    val in = withRows.map(s => read.getOrElse(s.id, 0L)).sum
    Seq(("scan.rows_read_per_row_out", if (out > 0) in.toDouble / out else 0.0, "ratio"))
  }

  private val commitPhases = Seq("dataWrite", "footerMeta", "bloomSidecar",
    "ngramSidecar", "commitManifest", "maybeMaintain", "snapshots")

  private def commitTimings(passes: Int): Seq[(String, Double, String)] = {
    val got = CommitTimings.snapshot().map(t => t._1 -> (t._2, t._3)).toMap
    val names = commitPhases ++ got.keys.toSeq.sorted.filterNot(commitPhases.contains)
    names.map(n => (s"snapshotlog.${n}_s", got.get(n).map(_._1).getOrElse(0.0) / passes, "s")) :+
      (("snapshotlog.snapshots_calls", got.get("snapshots").map(_._2.toDouble).getOrElse(0.0) / passes, "count"))
  }

  private def sampleJson(s: Sample): Map[String, Any] = Map("id" -> s.id, "pass" -> s.pass,
    "name" -> s.name, "kind" -> s.kind, "s" -> s.seconds, "rows" -> s.rows, "error" -> s.error)

  /** CPU time of every thread of this JVM (tasks, driver, JIT, GC). */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
