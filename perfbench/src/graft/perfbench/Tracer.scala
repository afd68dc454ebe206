package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine. The timed runs
  * use [[Tracer.Off]], which only evaluates the body; the traced run
  * uses [[Tracer.On]], which keeps every span in memory and attaches
  * Spark's public listeners (jobs, tasks, query executions).
  */
sealed trait Tracer {
  /** Root span of one operation; `op` tags every Spark job it starts. */
  def op[T](id: Int, name: String)(body: => T): T
  /** A child span of the running operation, in `layer`. */
  def span[T](layer: String, name: String)(body: => T): T
}

object Tracer {

  object Off extends Tracer {
    def op[T](id: Int, name: String)(body: => T): T = body
    def span[T](layer: String, name: String)(body: => T): T = body
  }

  /** Local property carrying the operation id into job-start events. */
  val OpProperty = "perfbench.op"

  final case class Span(id: Int, op: Int, layer: String, name: String,
      startUs: Long, endUs: Long, parent: Int)

  final case class Job(op: Int, startMs: Long, endMs: Long)

  final case class Phase(name: String, startMs: Long, endMs: Long)

  /** Task-metric sums of one operation. */
  final class TaskSums {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }

  final class On(spark: SparkSession) extends Tracer {
    private val baseNs = System.nanoTime()
    private val baseUs = System.currentTimeMillis() * 1000L
    def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

    /** Nanoseconds spent in tracing code, on any thread. */
    val overheadNs = new AtomicLong(0L)

    private val spanBuf = mutable.ArrayBuffer.empty[Span]
    private var stack: List[Int] = Nil
    private var current = -1

    def spans: Seq[Span] = spanBuf.toSeq

    private val jobStarts = new ConcurrentHashMap[Int, (Int, Long)]()
    private val stageOp = new ConcurrentHashMap[Int, Int]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    /** Planning phases, one entry per query execution. */
    val executions = new ConcurrentLinkedQueue[Seq[Phase]]()
    val taskSums = new ConcurrentHashMap[Int, TaskSums]()

    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try body finally overheadNs.addAndGet(System.nanoTime() - t0)
    }

    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val op = Option(e.properties).flatMap(p =>
          Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
        jobStarts.put(e.jobId, (op, e.time))
        e.stageIds.foreach(s => stageOp.put(s, op))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        val st = jobStarts.remove(e.jobId)
        if (st != null) jobs.add(Job(st._1, st._2, e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        val m = e.taskMetrics
        if (m != null) {
          val op: Int = stageOp.getOrDefault(e.stageId, -1)
          val s = taskSums.computeIfAbsent(op, _ => new TaskSums)
          s.synchronized {
            s.tasks += 1
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          }
        }
      }
    }

    private val qeListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = timed {
        executions.add(qe.tracker.phases.toSeq.map { case (name, p) =>
          Phase(name, p.startTimeMs, p.endTimeMs)
        })
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
    }

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(qeListener)
    }

    /** Waits until every posted event reached the listeners, then
      * detaches them.
      */
    def detach(): Unit = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }

    def op[T](id: Int, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      spark.sparkContext.setLocalProperty(OpProperty, id.toString)
      current = id
      overheadNs.addAndGet(System.nanoTime() - t0)
      try span("op", name)(body)
      finally {
        val t1 = System.nanoTime()
        spark.sparkContext.setLocalProperty(OpProperty, null)
        current = -1
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

    def span[T](layer: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val id = spanBuf.length
      val parent = stack.headOption.getOrElse(-1)
      spanBuf += Span(id, current, layer, name, nowUs(), -1L, parent)
      stack = id :: stack
      overheadNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        spanBuf(id) = spanBuf(id).copy(endUs = nowUs())
        stack = stack.tail
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

    def opTasks(op: Int): TaskSums =
      Option(taskSums.get(op)).getOrElse(new TaskSums)

    def jobsOf(op: Int): Seq[Job] = jobs.asScala.filter(_.op == op).toSeq
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer inside one operation window `[s, e)`: every
    * instant belongs to the deepest layer covering it (`rank` orders
    * the layers; higher is deeper).
    */
  def selfTimes(s: Long, e: Long, iv: Seq[(String, Long, Long)],
      rank: String => Int): Map[String, Long] = {
    val clipped = iv.map { case (l, a, b) => (l, math.max(a, s), math.min(b, e)) }
      .filter(x => x._3 > x._2)
    val cuts = (clipped.flatMap(x => Seq(x._2, x._3)) ++ Seq(s, e))
      .distinct.sorted
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = a + (b - a) / 2
        val covering = clipped.filter(x => x._2 <= mid && mid < x._3)
        val layer =
          if (covering.isEmpty) "op" else covering.maxBy(x => rank(x._1))._1
        out(layer) += b - a
      case _ => ()
    }
    out.toMap
  }
}
