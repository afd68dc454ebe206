package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `prime`, if any, runs untimed just before it;
  * `run` does the timed work and returns the untimed check, which
  * yields a failure message or `None`. `table` names the table a
  * lakehouse operation works on.
  */
final case class Op(name: String, cls: String,
    run: () => (() => Option[String]), prime: () => Unit = () => (),
    table: String = "")

trait Workload {
  /** Untimed preparation after the session exists. */
  def setUp(): Unit = ()
  def ops: Seq[Op]
  /** Called after a failed operation so later checks start clean. */
  def recover(): Unit = ()
  /** Untimed checks after the last operation: `(table, failure)`. */
  def finalCheck(): Seq[(String, String)] = Seq.empty
  /** Untimed end-of-run measurements for the traced run. */
  def finish(): Map[String, Double] = Map.empty
}

/** JVM side of the benchmark: runs the operations that
  * `perfbench/run.py` generated, times each call from outside the
  * engine and checks every result.
  *
  * {{{
  * graft.perfbench.Main --workload <analytics|lakehouse>
  *   --data <sfDir> --plan <file> --expected <file> --out <dir>
  *   --cpus <n> [--trace] [--spans <file>] [--corrupt-model <kind>]
  * graft.perfbench.Main --dump-oracle <file>
  * }}}
  *
  * Prints `PERFBENCH_READY` when set-up and warm-up are done, writes
  * `<out>/result.json`, prints `PERFBENCH_DONE` and exits when its
  * standard input closes (so the caller can read the peak RSS first).
  */
object Main {

  final case class Rec(name: String, cls: String, table: String,
      seconds: Double, primeSeconds: Double, failure: Option[String],
      jobs: Int, buildSeconds: Double)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val flags = argv.filter(_.startsWith("--")).toSet
    args.get("--dump-oracle").foreach { f =>
      Files.writeString(Paths.get(f), Json.obj(Seq(
        "queries" -> Json.arr(graft.SparkEntry.queries.keys.toSeq.sorted
          .map(Json.str)),
        "oracle" -> Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) }))))
      return
    }
    val workload = args("--workload")
    val out = Paths.get(args("--out"))
    val plan = Files.readAllLines(Paths.get(args("--plan")), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val trace = flags("--trace")
    val tStart = System.nanoTime()
    def secs(a: Long, b: Long): String = f"${(b - a) / 1e9}%.3f"
    val spark = session(args.getOrElse("--cpus", "4"), out.toString)
    val tSession = System.nanoTime()
    val tracer: Tracer = if (trace) new Tracer.On(spark) else Tracer.Off

    val wl: Workload = workload match {
      case "analytics" =>
        new QueryWorkload(spark, tracer, args("--data"), plan,
          QueryWorkload.readExpected(Paths.get(args("--expected"))))
      case "lakehouse" =>
        new Lakehouse(spark, tracer, out.resolve("lake").toString,
          args("--data"), plan, args.get("--corrupt-model"))
    }
    wl.setUp()
    val tSetUp = System.nanoTime()
    val noop = median((1 to 5).map(_ => seconds(noopAction(spark))))
    val calibStart = calibrate(spark)
    val ops = wl.ops
    println(s"PERFBENCH_READY session=${secs(tStart, tSession)} " +
      s"workload=${secs(tSession, tSetUp)} sentinels=${secs(tSetUp, System.nanoTime())}")
    System.out.flush()

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
    val fs0 = FsStats.snapshot()
    tracer match { case t: Tracer.On => t.attach(); case _ => () }

    val recs = mutable.ArrayBuffer.empty[Rec]
    ops.zipWithIndex.foreach { case (op, i) =>
      val tp = System.nanoTime()
      val primed = try Right(op.prime()) catch { case NonFatal(e) => Left(e) }
      val t0 = System.nanoTime()
      val check = primed.flatMap { _ =>
        try Right(tracer.op(i, op.name)(op.run()))
        catch { case NonFatal(e) => Left(e) }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val failure = check match {
        case Left(e) => Some("raised " + describe(e))
        case Right(c) =>
          try c() catch { case NonFatal(e) => Some("check raised " + describe(e)) }
      }
      if (failure.isDefined) wl.recover()
      recs += Rec(op.name, op.cls, op.table, dt, (t0 - tp) / 1e9, failure, 0,
        0.0)
    }
    // a table that disagrees with the model at the end fails the last
    // mutation of that table
    wl.finalCheck().foreach { case (table, msg) =>
      val last = recs.lastIndexWhere(r => r.cls == "commit" && r.table == table)
      val i = if (last >= 0) last else recs.length - 1
      if (recs(i).failure.isEmpty) recs(i) = recs(i).copy(failure = Some(msg))
    }

    val gcSeconds = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val fsDelta = FsStats.snapshot().minus(fs0)
    val layers = tracer match {
      case t: Tracer.On =>
        t.detach()
        val withTrace = recs.zipWithIndex.map { case (r, i) =>
          val build = t.spans.filter(s => s.op == i && s.layer == "ops")
            .map(s => s.endUs - s.startUs).sum / 1e6
          r.copy(jobs = t.jobsOf(i).size, buildSeconds = build)
        }
        recs.clear(); recs ++= withTrace
        val l = Layers.compute(t, recs.toSeq) ++ fsDelta.metrics ++ Map(
          "jvm.gc_s" -> gcSeconds, "jvm.heap_peak_mb" -> heapPeakMb) ++
          wl.finish()
        args.get("--spans").foreach(f => Layers.writeSpans(t, Paths.get(f)))
        l
      case _ => Map.empty[String, Double]
    }
    val calibEnd = calibrate(spark)

    val json = Json.obj(Seq(
      "ops" -> Json.arr(recs.toSeq.map { r =>
        Json.obj(Seq("name" -> Json.str(r.name), "cls" -> Json.str(r.cls),
          "table" -> Json.str(r.table), "s" -> Json.num(r.seconds),
          "prime_s" -> Json.num(r.primeSeconds),
          "failure" -> r.failure.map(Json.str).getOrElse("null"),
          "jobs" -> r.jobs.toString, "build_s" -> Json.num(r.buildSeconds)))
      }),
      "sentinel" -> Json.obj(Seq(
        "host.calib_start_s" -> Json.num(calibStart),
        "host.calib_end_s" -> Json.num(calibEnd),
        "exec.noop_action_s" -> Json.num(noop))),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "fs_missing" -> Json.arr(fsDelta.missing.map(Json.str))))
    Files.writeString(out.resolve("result.json"), json)
    spark.stop()
    println("PERFBENCH_DONE")
    System.out.flush()
    // hold the process until the caller has read /proc/<pid>/status
    while (System.in.read() >= 0) ()
  }

  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
    s"${e.getClass.getSimpleName}: ${msg.take(300)}"
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The engine's deployment configuration, as in `graft.Bench`. */
  private def session(cpus: String, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.hadoop.NioLocalFs")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixed cost of an action that does no work. */
  def noopAction(spark: SparkSession): Unit =
    spark.range(0L).write.format("noop").mode("overwrite").save()

  /** Median of three runs of `graft.Bench`'s calibration kernel: a
    * hash-fold of 20M longs, so a drift between the start and the end
    * of a run is the host, not the engine.
    */
  private def calibrate(spark: SparkSession): Double =
    median((1 to 3).map(_ => seconds {
      spark.range(0L, 20000000L, 1L, 8)
        .selectExpr("bit_xor(xxhash64(id)) AS s")
        .write.format("noop").mode("overwrite").save()
    }))
}

/** Hadoop `FileSystem` statistics of the `file` scheme. */
final case class FsStats(readOps: Long, largeReadOps: Long, writeOps: Long,
    bytesWritten: Long, bytesRead: Long) {
  def minus(o: FsStats): FsDelta = FsDelta(FsStats(readOps - o.readOps,
    largeReadOps - o.largeReadOps, writeOps - o.writeOps,
    bytesWritten - o.bytesWritten, bytesRead - o.bytesRead))
}

object FsStats {
  def snapshot(): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsStats(all.map(_.getReadOps.toLong).sum,
      all.map(_.getLargeReadOps.toLong).sum,
      all.map(_.getWriteOps.toLong).sum, all.map(_.getBytesWritten).sum,
      all.map(_.getBytesRead).sum)
  }
}

/** A window's statistics. A counter that stayed at zero while the
  * window read or wrote bytes is one the filesystem never updates (a
  * `NioLocalFileSystem` override that bypasses Hadoop statistics):
  * it is reported as missing, not as 0.
  */
final case class FsDelta(d: FsStats) {
  private val counters = Seq(
    "fs.read_ops" -> (d.readOps, d.bytesRead > 0),
    "fs.large_read_ops" -> (d.largeReadOps, d.bytesRead > 0),
    "fs.write_ops" -> (d.writeOps, d.bytesWritten > 0),
    "fs.bytes_written" -> (d.bytesWritten, false))
  def missing: Seq[String] = counters.collect {
    case (k, (0L, true)) => k
  }
  def metrics: Map[String, Double] = counters.collect {
    case (k, (v, _)) if !missing.contains(k) => k -> v.toDouble
  }.toMap + ("fs.bytes_read" -> d.bytesRead.toDouble)
}

/** Minimal JSON writing: values arrive already encoded. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
