package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: a pass, an item, or a phase of an
  * item (build, action, read, pipeline, write, batch, compact). Times are
  * epoch milliseconds, the clock Spark stamps its listener events with;
  * `seconds` is the nanoTime duration the harness measured. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    pass: Int, startMs: Long) {
  var endMs: Long = Long.MaxValue
  var seconds: Double = 0.0
  var failed: Option[String] = None
}

/** Spark work seen by the listener, attributed to a span afterwards. */
final case class JobRec(id: Int, startMs: Long, spanHint: Int,
    stageIds: Seq[Int]) {
  var endMs: Long = startMs
}
final case class StageRec(id: Int, attempt: Int, submittedMs: Long,
    completedMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long,
    inRows: Long, outBytes: Long, outRows: Long)
final case class PlanRec(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long)

/** Records spans around every call the harness makes into the program.
  *
  * Untraced runs keep only the spans' timings. Traced runs also register a
  * `SparkListener` (jobs, stages and their task metrics) and a
  * `QueryExecutionListener` (Catalyst phase times from
  * `QueryExecution.tracker`), attribute each job, stage and plan to the
  * innermost span open when it started, and write every span at the end. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val PropKey = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** The span that most recently ended. */
  var lastClosed: Span = _

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val jobsStarted, jobsEnded, sqlStarted, sqlEnded = new AtomicInteger()

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val hint = Option(e.properties).flatMap(p =>
          Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
        val j = JobRec(e.jobId, e.time, hint, e.stageIds)
        jobById.put(e.jobId, j); jobs.add(j)
        jobsStarted.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
        jobsEnded.incrementAndGet()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        if (m != null)
          stages.add(StageRec(s.stageId, s.attemptNumber(),
            s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
            s.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlStarted.incrementAndGet()
        case _: SparkListenerSQLExecutionEnd => sqlEnded.incrementAndGet()
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
        plans.add(PlanRec(start, ms(org.apache.spark.sql.catalyst
          .QueryPlanningTracker.ANALYSIS), ms(org.apache.spark.sql.catalyst
          .QueryPlanningTracker.OPTIMIZATION), ms(org.apache.spark.sql
          .catalyst.QueryPlanningTracker.PLANNING)))
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        rec(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = rec(qe)
    })
  }

  /** Records the analysis phase of a DataFrame the harness built: it ran
    * eagerly while the DataFrame was made, so no execution event carries
    * it. Placed by its start time, like the listener's plans. */
  def analysed(df: org.apache.spark.sql.DataFrame): Unit = if (traced) {
    df.queryExecution.tracker.phases
      .get(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)
      .foreach(p => plans.add(PlanRec(p.startTimeMs, p.durationMs, 0L, 0L)))
  }

  /** Runs `body` inside a new span under the innermost open one. A throw
    * marks the span failed with the exception class and is rethrown. */
  def span[T](kind: String, name: String, pass: Int)(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, kind, name, pass,
      System.currentTimeMillis())
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    sc.setLocalProperty(PropKey, s.id.toString)
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable => s.failed = Some(e.getClass.getName); throw e
    } finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      open = open.tail
      lastClosed = s
      sc.setLocalProperty(PropKey,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Waits until the listener has seen the end of every job and SQL
    * execution that started, so a pass's counters are complete. */
  def drain(): Unit = if (traced) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((jobsEnded.get < jobsStarted.get || sqlEnded.get < sqlStarted.get)
        && System.nanoTime() < deadline) Thread.sleep(2)
    Thread.sleep(20)
  }

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.groupBy(_.parent)

  /** Innermost span that contains `t`, searching down from `from`. */
  private def locate(from: Int, t: Long): Int = {
    val kids = children.getOrElse(from, Nil)
      .filter(k => k.startMs <= t && t <= k.endMs)
    if (kids.isEmpty) from else locate(kids.last.id, t)
  }

  final case class Attributed(jobs: Map[Int, Seq[JobRec]],
      stages: Map[Int, Seq[StageRec]], plans: Map[Int, Seq[PlanRec]])

  /** Every job, stage and plan keyed by the id of the span it ran in. */
  lazy val attributed: Attributed = {
    // A job submitted by the harness thread carries the span it ran in.
    // Jobs of a streaming query run on the query's own thread, which
    // inherited the `stream` span when it started: those are placed by
    // start time among the batches under it.
    val js = jobs.asScala.toSeq.map { j =>
      val hinted = j.spanHint >= 0 && j.spanHint < spans.size
      val sp =
        if (hinted && spans(j.spanHint).kind == "stream")
          locate(j.spanHint, j.startMs)
        else if (hinted) j.spanHint
        else locate(-1, j.startMs)
      sp -> j
    }
    val spanOfStage = js.flatMap { case (sp, j) => j.stageIds.map(_ -> sp) }
      .toMap
    val st = stages.asScala.toSeq.flatMap(s =>
      spanOfStage.get(s.id).map(_ -> s))
    val pl = plans.asScala.toSeq.map(p => locate(-1, p.startMs) -> p)
    Attributed(js.groupMap(_._1)(_._2), st.groupMap(_._1)(_._2),
      pl.groupMap(_._1)(_._2))
  }

  /** The span and all spans below it. */
  def subtree(id: Int): Seq[Span] =
    spans(id) +: children.getOrElse(id, Nil).flatMap(k => subtree(k.id))

  /** Spans as JSON lines, jobs and stages nested under the span they ran
    * in as child records of kind `job` and `stage`. */
  def writeTo(path: String): Unit = {
    val a = attributed
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json(Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "pass" -> s.pass,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "seconds" -> s.seconds, "failed" -> s.failed.orNull,
          "plans" -> a.plans.getOrElse(s.id, Nil).map(p => Map(
            "analysis_ms" -> p.analysisMs,
            "optimization_ms" -> p.optimizationMs,
            "planning_ms" -> p.planningMs)))))
        a.jobs.getOrElse(s.id, Nil).foreach { j =>
          w.println(Json(Map("kind" -> "job", "parent" -> s.id,
            "job_id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
        }
        a.stages.getOrElse(s.id, Nil).foreach { st =>
          w.println(Json(Map("kind" -> "stage", "parent" -> s.id,
            "job_ids" -> a.jobs.getOrElse(s.id, Nil)
              .filter(_.stageIds.contains(st.id)).map(_.id),
            "stage_id" -> st.id, "attempt" -> st.attempt,
            "start_ms" -> st.submittedMs, "end_ms" -> st.completedMs,
            "tasks" -> st.tasks, "run_ms" -> st.runMs,
            "cpu_ms" -> st.cpuNs / 1000000, "gc_ms" -> st.gcMs,
            "shuffle_write_bytes" -> st.shuffleWrite,
            "shuffle_read_bytes" -> st.shuffleRead,
            "spill_bytes" -> st.spill, "input_bytes" -> st.inBytes,
            "input_rows" -> st.inRows, "output_bytes" -> st.outBytes,
            "output_rows" -> st.outRows)))
        }
      }
    } finally w.close()
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
