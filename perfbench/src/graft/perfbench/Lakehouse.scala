package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sinks.ManifestTable

/** The `lakehouse` workload: a generated operation stream against two
  * long-lived ManifestTable tables of the catalog `pb`, both loaded from
  * the input set's `documents` the way the engine's catalog pipelines
  * load them:
  *
  *  - `pb.lake.docs (doc_id, lang, n_chars)`, range-partitioned into 8
  *    files on `doc_id` (as p29 and p30), change feed on, takes every
  *    row-level mutation, appends, compaction and ANALYZE;
  *  - `pb.lake.parts (doc_id, lang, n_chars, bkt)`, partitioned by
  *    `bkt = doc_id % 4` (as p37), takes partition replacement
  *    (`replaceWhere`, dynamic `INSERT OVERWRITE`).
  *
  * The workload keeps its own model of both tables, one snapshot per
  * `docs` version, and compares every read with it: full and skipping
  * reads, time travel, the file-level change feed and a streaming
  * `availableNow` catch-up over the row-level change feed. After the
  * timed operations [[finalCheck]] reads both tables whole, so a
  * mutation that no later read covered is still checked.
  *
  * Plan lines are `<kind> <table> <int args>`. Fresh keys are allocated
  * in plan order past the input's largest `doc_id`, and generated rows
  * are a pure function of `(doc_id, salt)` and the input's languages
  * and `n_chars` range, so a plan and an input set fully determine the
  * data.
  */
final class Lakehouse(spark: SparkSession, tracer: Tracer, root: String,
    data: String, plan: Seq[String], corruptAfter: Option[String])
  extends Workload {
  import Lakehouse._

  private val wh = s"$root/wh"
  private val docs = s"$wh/lake/docs"
  private val parts = s"$wh/lake/parts"
  private val ckpt = s"$root/stream-ckpt"

  private var docsM = Map.empty[Long, Doc]
  private var partsM = Map.empty[Long, Doc]
  private val history = mutable.Map.empty[Long, Map[Long, Doc]]
  private var streamFrom = 0L
  private var streamState = Map.empty[Long, Doc]
  private var streamBatches = 0L
  private var streamBatchId = 0L
  private val snapshotsRead = mutable.Set.empty[Long]

  private var langs = IndexedSeq.empty[String]
  private var nLo = 0L
  private var nHi = 0L
  private var nextDoc = 0L
  private var nextPart = 0L

  private val lines = plan.map(_.split("\\s+").toIndexedSeq)
  /** Index of the operation after whose model update `--corrupt-model`
    * falsifies one row: the last one of that kind.
    */
  private val corruptAt =
    corruptAfter.map(k => lines.lastIndexWhere(_.head == k))

  override def setUp(): Unit = {
    spark.conf.set("spark.sql.catalog.pb", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pb.warehouse", wh)
    graft.ops.Tables.documents(spark, data)
      .select("doc_id", "lang", "n_chars")
      .createOrReplaceTempView("pb_documents")
    val src = spark.table("pb_documents").collect()
    val (input, _) = docsOf(src)
    langs = input.values.map(_.lang).toSeq.distinct.sorted.toIndexedSeq
    nLo = input.values.map(_.n).min
    nHi = input.values.map(_.n).max
    val maxId = input.keys.max
    nextDoc = maxId + 1
    nextPart = (maxId / 4 + 1) * 4

    spark.sql("CREATE NAMESPACE pb.lake")
    spark.sql("""CREATE TABLE pb.lake.docs AS
      |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */
      |  doc_id, lang, n_chars FROM pb_documents""".stripMargin)
    docsM = input
    record()
    ManifestTable.enableChangeFeed(spark, docs)
    record()
    streamFrom = ManifestTable.currentVersion(spark, docs)
    streamState = docsM

    spark.sql("""CREATE TABLE pb.lake.parts
      |(doc_id BIGINT, lang STRING, n_chars BIGINT, bkt BIGINT)
      |PARTITIONED BY (bkt)""".stripMargin)
    spark.sql("INSERT INTO pb.lake.parts " +
      "SELECT doc_id, lang, n_chars, doc_id % 4 AS bkt FROM pb_documents")
    partsM = input

    // warm-up: the read paths run a few times untimed, so the timed reads
    // do not pay for the JIT's first compilations of them
    val first = history.keys.min
    for (_ <- 1 to 4) {
      ManifestTable.read(spark, docs).collect()
      ManifestTable.readWhere(spark, docs, col("doc_id").between(0L, 60L)).collect()
      ManifestTable.read(spark, docs, first).collect()
      ManifestTable.readChanges(spark, docs, first, streamFrom).collect()
    }
  }

  def ops: Seq[Op] = lines.zipWithIndex.map { case (l, i) => opOf(l, i) }

  /** The model after a failure is whatever the tables now hold. */
  override def recover(): Unit = {
    docsM = docsOf(ManifestTable.read(spark, docs).collect())._1
    partsM = docsOf(ManifestTable.read(spark, parts).collect())._1
    record()
    streamState = docsM
    streamFrom = ManifestTable.currentVersion(spark, docs)
    deleteTree(Paths.get(ckpt))
  }

  override def finalCheck(): Seq[(String, String)] =
    Seq("docs" -> docs, "parts" -> parts).flatMap { case (name, path) =>
      val want = if (name == "docs") docsM else partsM
      compareDocs(s"end check of $name", ManifestTable.read(spark, path)
        .select("doc_id", "lang", "n_chars").collect(), want).map(name -> _)
    }

  override def finish(): Map[String, Double] = {
    val tableBytes = treeBytes(docs) + treeBytes(parts)
    val once = s"$root/written-once"
    docsDf(docsM.toSeq).repartition(1).write.parquet(s"$once/docs")
    partsDf(partsM.toSeq).repartition(1).write.parquet(s"$once/parts")
    val userBytes = treeBytes(once, _.endsWith(".parquet"))
    Map(
      "sinks.versions" -> (ManifestTable.currentVersion(spark, docs) +
        ManifestTable.currentVersion(spark, parts)).toDouble,
      "sinks.live_files" -> (ManifestTable.currentFiles(spark, docs).size +
        ManifestTable.currentFiles(spark, parts).size).toDouble,
      "sinks.snapshots_read" -> snapshotsRead.size.toDouble,
      "stream.batches" -> streamBatches.toDouble,
      "fs.table_bytes" -> tableBytes.toDouble,
      "sinks.bytes_per_user_byte" -> tableBytes.toDouble / userBytes)
  }

  private def record(): Unit =
    history(ManifestTable.currentVersion(spark, docs)) = docsM

  /** A generated row: a language of the input and an `n_chars` in its
    * range, drawn from `(id, salt)`.
    */
  private def doc(id: Long, salt: Long): Doc = {
    val h = mix(id * 1000003L + salt)
    Doc(langs(((h >>> 8) % langs.size).toInt), nLo + (h >>> 20) % (nHi - nLo + 1))
  }

  private def freshDocs(n: Long): Seq[Long] = {
    val ids = nextDoc until nextDoc + n
    nextDoc += n
    ids
  }

  /** A fresh key of partition `bkt`. */
  private def freshPart(bkt: Long): Long = {
    nextPart += 4
    nextPart - 4 + bkt
  }

  private def docsDf(rows: Seq[(Long, Doc)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, d) =>
      Row(id, d.lang, d.n) }.asJava, DocSchema)

  private def partsDf(rows: Seq[(Long, Doc)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, d) =>
      Row(id, d.lang, d.n, id % 4) }.asJava, PartSchema)

  private def keyPred(m: Long, r: Long): Column = col("doc_id") % m === r

  /** Falsifies one model row if operation `i` is the one named by
    * `--corrupt-model`: a table that silently lost an update.
    */
  private def corrupt(i: Int, m: Map[Long, Doc]): Map[Long, Doc] =
    if (!corruptAt.contains(i) || m.isEmpty) m
    else {
      val id = m.keys.min
      m.updated(id, m(id).copy(n = m(id).n + 1))
    }

  /** A commit on `docs`: the timed call, then the model update. */
  private def commit(name: String, i: Int)(call: => Any)(
      model: Map[Long, Doc] => Map[Long, Doc]): Op =
    Op(name, "commit", () => {
      tracer.span("sinks", name)(call)
      () => { docsM = corrupt(i, model(docsM)); record(); None }
    }, table = "docs")

  /** The DataFrame a read builds before its action. */
  private def build(df: => DataFrame): DataFrame = tracer.span("ops", "build")(df)

  private def read(name: String, table: String)(
      call: => Array[Row])(check: Array[Row] => Option[String]): Op =
    Op(name, "read", () => {
      val rows = tracer.span("sinks", name)(call)
      () => check(rows)
    }, table = table)

  /** Source rows of a merge: the existing keys `doc_id % 4 == r` with
    * `n_chars + d` (p30's update half) and `n` fresh keys drawn with
    * `salt` (its insert half).
    */
  private def mergeSource(r: Long, fresh: Seq[Long], salt: Long,
      d: Long): Seq[(Long, Doc)] =
    docsM.toSeq.filter(_._1 % 4 == r).sortBy(_._1)
      .map { case (id, x) => id -> x.copy(n = x.n + d) } ++
      fresh.map(id => id -> doc(id, salt))

  /** WHEN MATCHED AND s.n_chars % 3 = 0 THEN DELETE, WHEN MATCHED THEN
    * UPDATE, WHEN NOT MATCHED THEN INSERT.
    */
  private def clauseModel(src: Seq[(Long, Doc)])(
      m: Map[Long, Doc]): Map[Long, Doc] =
    src.foldLeft(m) { case (acc, (id, d)) =>
      if (acc.contains(id) && d.n % 3 == 0) acc - id else acc.updated(id, d)
    }

  /** A partition replacement (p36's recomputed slice, p37's subset
    * overwrite): the rows of partitions `bkts` with `doc_id % 10 < 5`
    * come back with `n_chars + d`, the others are dropped, and as many
    * fresh keys of the same partitions take their place.
    */
  private def replacement(bkts: Set[Long], salt: Long,
      d: Long): Seq[(Long, Doc)] = {
    val (keep, drop) = partsM.toSeq.filter(x => bkts(x._1 % 4)).sortBy(_._1)
      .partition(_._1 % 10 < 5)
    keep.map { case (id, x) => id -> x.copy(n = x.n + d) } ++
      drop.map { case (id, _) =>
        val fresh = freshPart(id % 4)
        fresh -> doc(fresh, salt)
      }
  }

  private def opOf(l: IndexedSeq[String], i: Int): Op = {
    val kind = l(0)
    val a = l.drop(2).map(_.toLong)
    (kind, l(1)) match {
      case ("append" | "stream_append", "docs") =>
        // a small batch from one producer: one partition
        val rows = freshDocs(a(0)).map(id => id -> doc(id, a(1)))
        commit(kind, i)(if (kind == "append")
          ManifestTable.append(spark, docsDf(rows).coalesce(1), docs)
        else {
          streamBatchId += 1
          ManifestTable.appendStreamBatch(spark, docsDf(rows).coalesce(1),
            docs, streamBatchId, "perfbench")
        })(_ ++ rows)
      case ("update_vectors" | "update_where" | "sql_update", "docs") =>
        val (r, d) = (a(0), a(1))
        val set = Map("n_chars" -> (col("n_chars") + d))
        commit(kind, i)(kind match {
          case "update_vectors" =>
            ManifestTable.updateVectors(spark, docs, keyPred(4, r), set)
          case "update_where" => ManifestTable.updateWhere(spark, docs,
            (df: DataFrame) => df("doc_id") % 4 === r, set)
          case _ => spark.sql(
            s"UPDATE pb.lake.docs SET n_chars = n_chars + $d WHERE doc_id % 4 = $r")
        })(_.map { case (id, x) =>
          id -> (if (id % 4 == r) x.copy(n = x.n + d) else x) })
      case ("delete" | "delete_vectors" | "sql_delete", "docs") =>
        val r = a(0)
        commit(kind, i)(kind match {
          case "delete" => ManifestTable.delete(spark, docs, keyPred(8, r))
          case "delete_vectors" =>
            ManifestTable.deleteVectors(spark, docs, keyPred(8, r))
          case _ => spark.sql(s"DELETE FROM pb.lake.docs WHERE doc_id % 8 = $r")
        })(_.filterNot(_._1 % 8 == r))
      case ("merge" | "merge_vectors" | "sql_merge", "docs") =>
        val fresh = freshDocs(a(1))
        // the source depends on the model at execution time
        Op(kind, "commit", () => {
          val src = mergeSource(a(0), fresh, a(2), a(3))
          val df = docsDf(src)
          tracer.span("sinks", kind)(kind match {
            case "merge" => ManifestTable.merge(spark, df, docs, Seq("doc_id"))
            case "merge_vectors" =>
              ManifestTable.mergeVectors(spark, df, docs, Seq("doc_id"))
            case _ =>
              df.createOrReplaceTempView("pb_src")
              spark.sql("""MERGE INTO pb.lake.docs t USING pb_src s
                |ON t.doc_id = s.doc_id
                |WHEN MATCHED AND s.n_chars % 3 = 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          })
          () => {
            val next = if (kind == "sql_merge") clauseModel(src)(docsM)
              else docsM ++ src
            docsM = corrupt(i, next)
            record()
            None
          }
        }, table = "docs")
      case ("compact", "docs") =>
        commit(kind, i)(ManifestTable.compact(spark, docs))(identity)
      case ("analyze", "docs") =>
        commit(kind, i)(ManifestTable.analyze(spark, docs))(identity)
      case ("replace_where" | "overwrite", "parts") =>
        // one partition by replaceWhere; two by dynamic INSERT OVERWRITE
        val b = a(0)
        val bkts = if (kind == "replace_where") Set(b) else Set(b, (b + 1) % 4)
        Op(kind, "commit", () => {
          val rows = replacement(bkts, a(1), a(2))
          tracer.span("sinks", kind)(kind match {
            case "replace_where" => ManifestTable.replaceWhere(spark,
              partsDf(rows), parts, col("bkt") === b)
            case _ =>
              partsDf(rows).createOrReplaceTempView("pb_overwrite")
              spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
              try spark.sql("INSERT OVERWRITE pb.lake.parts " +
                "SELECT doc_id, lang, n_chars, bkt FROM pb_overwrite")
              finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
          })
          () => {
            partsM = corrupt(i, partsM.filterNot(x => bkts(x._1 % 4)) ++ rows)
            None
          }
        }, table = "parts")
      case ("read", "docs") =>
        read(kind, "docs")(build(ManifestTable.read(spark, docs)).collect()) { rows =>
          snapshotsRead += ManifestTable.currentVersion(spark, docs)
          compareDocs(kind, rows, docsM)
        }
      case ("read", "parts") =>
        read(kind, "parts")(build(ManifestTable.read(spark, parts)
          .select("doc_id", "lang", "n_chars")).collect()) { rows =>
          compareDocs("read parts", rows, partsM)
        }
      case ("read_where", "docs") =>
        // a key range: `lo` and `width` are per mille of the live key span
        Op(kind, "read", () => {
          val (min, max) = (docsM.keys.min, docsM.keys.max)
          val lo = min + (max - min) * a(0) / 1000
          val hi = lo + (max - min) * a(1) / 1000
          val rows = tracer.span("sinks", kind)(build(ManifestTable.readWhere(
            spark, docs, col("doc_id").between(lo, hi))).collect())
          () => compareDocs(kind, rows,
            docsM.filter(x => x._1 >= lo && x._1 <= hi))
        }, table = "docs")
      case ("time_travel", "docs") =>
        // `a(0)` versions back
        Op(kind, "read", () => {
          val versions = history.keys.toIndexedSeq.sorted
          val v = versions(math.max(0, versions.size - 1 - a(0).toInt))
          val rows = tracer.span("sinks", kind)(
            build(ManifestTable.read(spark, docs, v)).collect())
          () => { snapshotsRead += v; compareDocs(kind, rows, history(v)) }
        }, table = "docs")
      case ("changes", "docs") =>
        // from `a(0)` versions back to the latest
        Op(kind, "read", () => {
          val versions = history.keys.toIndexedSeq.sorted
          val to = versions.last
          val from = versions(math.max(0, versions.size - 1 - a(0).toInt))
          val rows = tracer.span("sinks", kind)(
            build(ManifestTable.readChanges(spark, docs, from, to)).collect())
          () => checkChanges(rows, history(from), history(to))
        }, table = "docs")
      case ("stream", "docs") =>
        Op(kind, "read", () => {
          val got = mutable.ArrayBuffer.empty[Row]
          tracer.span("stream", "catch_up") {
            val q = spark.readStream.format("graft")
              .option("path", docs)
              .option("readChangeFeed", "true")
              .option("startingVersion", streamFrom.toString)
              .load()
              .writeStream
              .trigger(Trigger.AvailableNow())
              .option("checkpointLocation", ckpt)
              .foreachBatch { (b: DataFrame, _: Long) =>
                got ++= b.collect(); streamBatches += 1; ()
              }
              .start()
            q.awaitTermination()
          }
          () => {
            streamState = applyChanges(streamState, got.toSeq)
            diff(kind, streamState, docsM, streamState.size)
          }
        }, table = "docs")
      case other => throw new IllegalArgumentException(s"bad plan line $other")
    }
  }

  private def compareDocs(what: String, rows: Array[Row],
      want: Map[Long, Doc]): Option[String] = {
    val (got, n) = docsOf(rows)
    diff(what, got, want, n)
  }

  /** Applies a row-level change feed in commit order: removals before
    * additions within one version.
    */
  private def applyChanges(base: Map[Long, Doc],
      rows: Seq[Row]): Map[Long, Doc] = {
    def order(t: String): Int =
      if (t == "delete" || t == "update_preimage") 0 else 1
    rows.sortBy(r => (r.getAs[Long]("_commit_version"),
      order(r.getAs[String]("_change_type"))))
      .foldLeft(base) { (m, r) =>
        val id = r.getAs[Long]("doc_id")
        r.getAs[String]("_change_type") match {
          case "delete" | "update_preimage" => m - id
          case _ => m.updated(id, Doc(r.getAs[String]("lang"),
            r.getAs[Long]("n_chars")))
        }
      }
  }

  /** The file-level change feed of `(from, to]` holds only rows live at
    * `to`, and every row that is new or changed since `from`.
    */
  private def checkChanges(rows: Array[Row], from: Map[Long, Doc],
      to: Map[Long, Doc]): Option[String] = {
    val (got, n) = docsOf(rows)
    val notLive = got.count { case (id, d) => !to.get(id).contains(d) }
    val missing = to.count { case (id, d) =>
      !from.get(id).contains(d) && !got.get(id).contains(d) }
    if (n != got.size) Some(s"changes: ${n - got.size} duplicate ids")
    else if (notLive + missing == 0) None
    else Some(s"changes: $notLive rows not live at the end version, " +
      s"$missing new or changed rows absent")
  }
}

object Lakehouse {
  final case class Doc(lang: String, n: Long)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType)))
  val PartSchema: StructType = StructType(DocSchema.fields :+
    StructField("bkt", LongType))

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def docsOf(rows: Array[Row]): (Map[Long, Doc], Int) =
    (rows.map(r => r.getAs[Long]("doc_id") -> Doc(r.getAs[String]("lang"),
      r.getAs[Long]("n_chars"))).toMap, rows.length)

  def diff[T](what: String, got: Map[Long, T], want: Map[Long, T],
      n: Int): Option[String] =
    if (n == got.size && got == want) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val changed = want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))
      val first = (missing ++ extra ++ changed).toSeq.sorted.headOption
      Some(s"$what: ${missing.size} rows missing, ${extra.size} unexpected, " +
        s"${changed.size} changed, ${n - got.size} duplicates" +
        first.fold("")(id => s" (first id $id)"))
    }

  def treeBytes(dir: String, keep: String => Boolean = _ => true): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        keep(f.getFileName.toString)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
