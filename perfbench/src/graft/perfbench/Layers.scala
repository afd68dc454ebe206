package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans the benchmark
  * recorded around its calls and the events Spark's listeners saw.
  * Sums are over the timed window; every run of a workload times the
  * same number of operations, so sums compare across runs.
  */
object Layers {

  /** Deeper layers win an instant that several spans cover. */
  private val rank: String => Int = {
    case "exec" => 5
    case "catalyst" => 4
    case "sinks" | "stream" => 3
    case "ops" => 2
    case _ => 1
  }

  def compute(t: Tracer.On, recs: Seq[Main.Rec]): Map[String, Double] = {
    val roots = t.spans.filter(_.layer == "op")
    // only work inside a timed operation counts
    val jobs = t.jobs.asScala.toSeq.filter(_.op >= 0)
    def opOfUs(us: Long): Int = roots.find(r =>
      r.startUs - 1000 <= us && us <= r.endUs + 1000).map(_.op).getOrElse(-1)
    val execOp = t.executions.asScala.toSeq.filter(_.nonEmpty)
      .map(ps => ps -> opOfUs(ps.map(_.startMs).min * 1000L))
      .filter(_._2 >= 0)
    val phaseOp = execOp.flatMap { case (ps, op) => ps.map(_ -> op) }
    val phases = phaseOp.map(_._1)
    var self = Map.empty[String, Long].withDefaultValue(0L)
    var busyUs = 0L
    var gapUs = 0L
    roots.foreach { r =>
      val jobIv = jobs.filter(_.op == r.op)
        .map(j => (j.startMs * 1000L, j.endMs * 1000L))
      val ivs = t.spans.filter(s => s.op == r.op && s.layer != "op")
        .map(s => (s.layer, s.startUs, s.endUs)) ++
        phaseOp.collect { case (p, op) if op == r.op =>
          ("catalyst", p.startMs * 1000L, p.endMs * 1000L) } ++
        jobIv.map { case (a, b) => ("exec", a, b) }
      Tracer.selfTimes(r.startUs, r.endUs, ivs, rank).foreach {
        case (l, us) => self = self.updated(l, self(l) + us)
      }
      val clipped = jobIv.map { case (a, b) =>
        (math.max(a, r.startUs), math.min(b, r.endUs)) }
      val busy = Tracer.unionLength(clipped)
      busyUs += busy
      gapUs += (r.endUs - r.startUs) - busy
    }
    def phaseSum(n: String): Double =
      phases.filter(_.name == n).map(p => p.endMs - p.startMs).sum / 1e3
    val sums = recs.indices.map(t.opTasks)
    val wallUs = roots.map(r => r.endUs - r.startUs).sum
    Map(
      "catalyst.analysis_s" -> phaseSum("analysis"),
      "catalyst.optimization_s" -> phaseSum("optimization"),
      "catalyst.planning_s" -> phaseSum("planning"),
      "catalyst.query_executions" -> execOp.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.job_busy_s" -> busyUs / 1e6,
      "exec.driver_gap_s" -> gapUs / 1e6,
      "exec.tasks" -> sums.map(_.tasks).sum.toDouble,
      "exec.task_cpu_s" -> sums.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> sums.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> sums.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> sums.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> sums.map(_.spill).sum.toDouble,
      "exec.peak_exec_mem_bytes" ->
        (0L +: sums.map(_.peakMem)).max.toDouble,
      "ops.self_s" -> self("ops") / 1e6,
      "catalyst.self_s" -> self("catalyst") / 1e6,
      "exec.self_s" -> self("exec") / 1e6,
      "sinks.self_s" -> self("sinks") / 1e6,
      "stream.self_s" -> self("stream") / 1e6,
      "trace.unattributed_s" -> self("op") / 1e6,
      "trace.overhead_frac" ->
        (if (wallUs > 0) t.overheadNs.get / 1e3 / wallUs else 0.0))
  }

  /** One JSON object per line: the benchmark's own spans, then the
    * catalyst phases and Spark jobs with the operation they belong to.
    */
  def writeSpans(t: Tracer.On, path: Path): Unit = {
    val own = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "op" -> s.op.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "parent" -> s.parent.toString))
    }
    val jobs = t.jobs.asScala.toSeq.map { j =>
      Json.obj(Seq("op" -> j.op.toString, "layer" -> Json.str("exec"),
        "name" -> Json.str("job"), "start_us" -> (j.startMs * 1000L).toString,
        "end_us" -> (j.endMs * 1000L).toString))
    }
    val phases = t.executions.asScala.toSeq.flatten.map { p =>
      Json.obj(Seq("layer" -> Json.str("catalyst"), "name" -> Json.str(p.name),
        "start_us" -> (p.startMs * 1000L).toString,
        "end_us" -> (p.endMs * 1000L).toString))
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (own ++ jobs ++ phases).asJava, UTF_8)
  }
}
