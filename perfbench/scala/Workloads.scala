package perfbench

import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField,
  StructType}

import graft.core.{IO, Paths}
import graft.jobs.JobRunner
import graft.streaming.Streams

/** Outcome of one item in one pass; `seconds` is meaningless if failed.
  * Items with `latency = false` count as operations but stay out of
  * `item_p50_s`. */
final case class ItemResult(name: String, seconds: Double,
    failed: Option[String], latency: Boolean = true)

/** A workload: its items and how one pass over them runs. `setup` binds
  * the inputs; `pass` runs every item once and writes every output. */
trait Workload {
  def items: Seq[String]
  /** Fewest measured passes a run makes. */
  def minMeasured: Int = 1
  def setup(): Unit
  /** Item results and the pass time, or None when the pass failed as a
    * whole (its time then stays out of every statistic). */
  def pass(n: Int, tr: Tracer): (Seq[ItemResult], Option[Double])

  /** Runs one item as a span; a throw becomes a failed result. */
  protected def item(tr: Tracer, n: Int, kind: String, name: String)(
      body: => Unit): ItemResult = {
    try {
      tr.span(kind, name, n)(body)
      ItemResult(name, tr.lastClosed.seconds, None)
    } catch {
      case e: Throwable =>
        ItemResult(name, tr.lastClosed.seconds, Some(e.getClass.getName))
    }
  }

  /** Sum over the items that did not fail: a failed item's time is left
    * out of the pass. */
  protected def summed(rs: Seq[ItemResult]): (Seq[ItemResult], Option[Double]) =
    (rs, Some(rs.filter(_.failed.isEmpty).map(_.seconds).sum))
}

/** `sql_queries` and `iterative_queries`: registered queries built with
  * `SparkEntry.queries` and written whole as parquet. */
final class QueryWorkload(spark: SparkSession, sfDir: String, out: String,
    val items: Seq[String]) extends Workload {
  // Two samples per query: with one, `item_p50_s` of `iterative_queries`
  // (its middle item takes 1–2 s) spread 24 % between JVMs.
  override def minMeasured: Int = 2
  private var registry: Map[String, (SparkSession, String) => DataFrame] = _

  def setup(): Unit = {
    registry = graft.SparkEntry.queries
    val missing = items.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    require(new java.io.File(sfDir, "lineitem.parquet").exists,
      s"no corpus at $sfDir")
    val oracle = graft.SparkEntry.oracleSql
    Files.createDirectories(JPaths.get(out))
    Files.writeString(JPaths.get(out, "oracle_sql.json"),
      Json(items.map(q => q -> oracle.get(q).orNull).toMap))
  }

  def pass(n: Int, tr: Tracer): (Seq[ItemResult], Option[Double]) =
    summed(items.map { q =>
      item(tr, n, "query", q) {
        val df = tr.span("build", q, n)(registry(q)(spark, sfDir))
        tr.analysed(df)
        tr.span("action", q, n)(
          df.write.mode("overwrite").parquet(s"$out/$q"))
      }
    })
}

/** `lake_jobs`: a fixed fleet of `JobRunner.jobs` pipelines over the
  * generated date-partitioned lake. Each job binds its inputs with the
  * `core.IO` readers over day directories that `core.Paths` resolves,
  * builds its pipeline and writes its output with a `core.IO` writer. */
final class LakeWorkload(spark: SparkSession, lake: String, out: String)
    extends Workload {
  private val days = (LocalDate.parse("2024-03-01"),
    LocalDate.parse("2024-03-03"))
  private val snapshot = days._2

  private def dated(source: String, range: (LocalDate, LocalDate)) =
    Paths.candidateDirs(spark, s"$lake/$source", range._1, range._2,
      strict = true)
  private def csv(table: String, source: String): DataFrame =
    IO.csv(spark, JobRunner.inputSchemas(table),
      dated(source, (snapshot, snapshot)))
  private def avro(table: String): DataFrame =
    IO.avro(spark, Paths.candidateDirs(spark, s"$lake/rucio", snapshot,
      snapshot, strict = true, pattern = "yyyy-MM-dd").map(d => s"$d/$table"))
  private def condor: DataFrame =
    IO.json(spark, JobRunner.inputSchemas("condor"), dated("condor", days))

  /** job name -> (input readers, output format). */
  private val fleet: Seq[(String, Map[String, () => DataFrame], String)] =
    Seq(
      ("event_count_by_tier", Map(
        "datasets" -> (() => csv("datasets", "dbs/datasets")),
        "files" -> (() => csv("files", "dbs/files"))), "csv"),
      ("rucio_datasets_stats", Seq("replicas", "dids", "contents", "rses")
        .map(t => t -> (() => avro(t))).toMap, "csv"),
      ("condor_cpu_efficiency", Map("condor" -> (() => condor)), "csv"),
      ("phedex_snapshot", Map("phedex" -> (() => csv("phedex", "phedex"))),
        "parquet"))

  val items: Seq[String] = fleet.map(_._1)

  def setup(): Unit = {
    require(new java.io.File(lake, "manifest.json").exists, s"no lake at $lake")
    fleet.foreach { case (job, readers, _) =>
      require(JobRunner.jobs(job)._1.toSet == readers.keySet,
        s"$job inputs changed: ${JobRunner.jobs(job)._1}")
    }
  }

  def pass(n: Int, tr: Tracer): (Seq[ItemResult], Option[Double]) =
    summed(fleet.map { case (job, readers, fmt) =>
      item(tr, n, "job", job) {
        val inputs = tr.span("read", job, n)(
          readers.map { case (k, r) => k -> r() })
        val df = tr.span("pipeline", job, n)(
          JobRunner.jobs(job)._2(spark, inputs))
        tr.analysed(df)
        tr.span("write", job, n) {
          if (fmt == "csv") IO.writeCsv(df, s"$out/$job")
          else df.write.mode("overwrite").parquet(s"$out/$job")
        }
      }
    })
}

/** `stream_admit`: a closed loop with one producer. Each pass starts
  * `Streams.toCuratedCorpusStoreIndexed` over a fresh parquet file source
  * and store, lands one micro-batch file at a time and waits for its
  * commit, redelivers an already committed batch under a new file name,
  * stops the query and runs `compactAdmissionIndex`. Items are the
  * batches, whose time is from the file landing to its commit, and the
  * compaction, which counts as an operation but not as a latency. A
  * compaction that leaves an index table with more than one partition
  * fails with [[StaleIndexPartitions]]; it ran to its end, so its time
  * stays in the pass. */
final class StreamWorkload(spark: SparkSession, input: String, out: String)
    extends Workload {
  private val batches = new java.io.File(input).listFiles()
    .map(_.getName).filter(_.startsWith("batch-")).sorted.toSeq
  private val redeliver = batches(batches.size / 2)
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("body", StringType)))
  /** `LanguageModel.bigramModel`'s columns: p = (c + 1) / (c1 + V). */
  private val ModelSchema = StructType(Seq(StructField("w1", StringType),
    StructField("w2", StringType), StructField("c", LongType),
    StructField("c1", LongType), StructField("p", DoubleType)))
  private var model: DataFrame = _
  private var vocab: Long = 0L
  /** Language-model score floor of the admission gate: between the
    * generator's in-domain text and its off-domain text. */
  private val MinScore = 0.01
  private val MaxDf = 1000

  val items: Seq[String] = batches.map(_.stripSuffix(".parquet")) :+
    s"redeliver-${redeliver.stripSuffix(".parquet")}"
  private var batchDocs = 0L

  def setup(): Unit = {
    val manifest = new String(Files.readAllBytes(
      JPaths.get(input, "manifest.json")), "UTF-8")
    def field(k: String) = s""""$k": (\\d+)""".r.findFirstMatchIn(manifest)
      .map(_.group(1).toLong).getOrElse(sys.error(s"no $k in the manifest"))
    vocab = field("vocab")
    batchDocs = field("batch_docs")
    // the frozen model, held as a local relation: no scan per batch and no
    // cached blocks for the harness to drop
    val rows = Files.readAllLines(JPaths.get(input, "model.tsv")).asScala
      .map { line =>
        val Array(w1, w2, c, c1) = line.split("\t")
        Row(w1, w2, c.toLong, c1.toLong,
          (c.toLong + 1).toDouble / (c1.toLong + vocab).toDouble)
      }
    model = spark.createDataFrame(rows.asJava, ModelSchema)
  }

  private def land(src: String, file: String, as: String): Unit = {
    val tmp = JPaths.get(src, s".$as")
    Files.copy(JPaths.get(input, file), tmp)
    Files.move(tmp, JPaths.get(src, as), StandardCopyOption.ATOMIC_MOVE)
  }

  def pass(n: Int, tr: Tracer): (Seq[ItemResult], Option[Double]) = {
    val dir = s"$out/pass-$n"
    if (n > 0) deleteTree(new java.io.File(s"$out/pass-${n - 1}"))
    val (src, store, ckpt) = (s"$dir/src", s"$dir/store", s"$dir/ckpt")
    Files.createDirectories(JPaths.get(src))
    var results = Seq.empty[ItemResult]
    try {
      var lastBatch = -1L
      tr.span("stream", "admit", n) {
        val q = Streams.toCuratedCorpusStoreIndexed(
          spark.readStream.schema(schema).parquet(src), "id", "body",
          model, vocab, MinScore, store, ckpt, maxDf = MaxDf)
        try {
          items.zip(batches :+ redeliver).foreach { case (name, file) =>
            if (results.forall(_.failed.isEmpty))
              results :+= item(tr, n, "batch", name) {
                land(src, file, s"$name.parquet")
                q.processAllAvailable()
              }
          }
          // a failed batch stops the query: the rest of the pass fails too
          results.flatMap(_.failed).headOption.foreach { c =>
            results ++= items.drop(results.size)
              .map(ItemResult(_, 0.0, Some(c)))
            throw new PassFailed
          }
          lastBatch = q.recentProgress.filter(_.numInputRows > 0)
            .map(_.batchId).max
        } finally q.stop()
      }
      val streamSecs = tr.lastClosed.seconds
      // the corpus before compaction, read between the two timed spans
      val before = Streams.curatedDocs(spark, store).select(col("id"))
        .collect().map(_.getLong(0)).sorted
      tr.span("compact", "admission-index", n)(
        Streams.compactAdmissionIndex(spark, store, lastBatch))
      val compactSecs = tr.lastClosed.seconds
      val partitions = IndexTables.map { t =>
        t -> Option(new java.io.File(s"$store/$t").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .count(_.getName.startsWith("batch=")) }.toMap
      val stale = partitions.filter(_._2 != 1)
      results :+= ItemResult("compact", compactSecs,
        if (stale.isEmpty) None
        else Some(classOf[StaleIndexPartitions].getName), latency = false)
      val files = Files.walk(JPaths.get(store)).iterator().asScala
        .filter(f => Files.isRegularFile(f)).toSeq
      val landed = items.size * batchDocs
      census(n) = Map(
        "streaming.store_files" -> files.size.toDouble,
        "streaming.store_mb" -> files.map(Files.size(_)).sum / 1048576.0,
        "streaming.admitted" -> before.length.toDouble,
        "streaming.rejected" -> (landed - before.length).toDouble)
      Files.writeString(JPaths.get(dir, "pass.json"), Json(Map(
        "last_batch" -> lastBatch, "redelivered" -> redeliver,
        "landed" -> items.map(_ + ".parquet"),
        "admitted_before_compaction" -> before.toSeq,
        "index_partitions" -> partitions)))
      (results, Some(streamSecs + compactSecs))
    } catch {
      case _: PassFailed =>
        (results :+ ItemResult("compact", 0.0, Some(classOf[PassFailed]
          .getName), latency = false), None)
      case e: Exception => // compaction or the store read failed
        ((items :+ "compact").map(ItemResult(_, 0.0,
          Some(e.getClass.getName))), None)
    }
  }

  private final class PassFailed extends Exception
  private val IndexTables = Seq("fps", "postings", "dfs")

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Per-pass store size and admission counts, taken outside the clock. */
  private val census = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  def storeCensus(n: Int): Map[String, Double] = census.getOrElse(n, Map.empty)
}

/** The failure of a compaction that left an admission-index table with
  * other than one partition. */
final class StaleIndexPartitions extends Exception
