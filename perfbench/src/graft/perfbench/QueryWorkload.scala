package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The `analytics` workload: each plan line names one
  * `SparkEntry.queries` function, which runs once untimed and then
  * once timed. An operation is the function call (the `ops.build`
  * span, eager actions included) plus `collect()`; the check compares
  * the rows with the oracle digest. The untimed run keeps the
  * first-call code generation and JIT compilation of the query out of
  * the samples.
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, data: String,
    plan: Seq[String], expected: Map[String, QueryWorkload.Expected])
  extends Workload {

  def ops: Seq[Op] = plan.map { name =>
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    Op(name, "query", () => {
      val df = tracer.span("ops", "build")(fn(spark, data))
      val rows = df.collect()
      () => QueryWorkload.check(name, expected.get(name),
        Digest.of(df.schema, rows))
    }, prime = () => { fn(spark, data).collect(); () })
  }
}

object QueryWorkload {

  /** `rows < 0`: the query has no oracle and must return rows. */
  final case class Expected(rows: Long, digest: String)

  def check(name: String, want: Option[Expected],
      got: Digest.Result): Option[String] = want match {
    case None => Some(s"$name has no expected digest")
    case Some(e) if e.rows < 0 =>
      if (got.rows > 0) None else Some(s"$name returned no rows")
    case Some(e) =>
      if (e.rows == got.rows && e.digest == got.hex) None
      else Some(s"$name differs from its oracle: ${got.rows} rows " +
        s"(oracle ${e.rows}), digest ${got.hex.take(12)} " +
        s"(oracle ${e.digest.take(12)})")
  }

  /** Lines of `name<TAB>rows<TAB>digest`. */
  def readExpected(p: Path): Map[String, Expected] =
    Files.readAllLines(p, UTF_8).asScala.map(_.split("\t"))
      .collect { case Array(n, r, d) => n -> Expected(r.toLong, d) }.toMap
}
