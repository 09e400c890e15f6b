package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the reference's
  * batch-incremental patterns (SURVEY.md §2.10). The reference runs
  * daily cron jobs over day-partitioned directories with ad-hoc
  * late-data padding (`day_delta`), re-read dedup
  * (`drop_duplicates(GlobalJobId)`) and pickle-file state
  * (hpc_running_cores_and_corehr.py:645-667). Each maps to a
  * first-class streaming construct:
  *
  *  - candidate-dir globbing + re-runs    → file source (exactly-once
  *    file tracking via checkpoint)
  *  - `RecordTime >= start` re-filter     → event-time watermark
  *  - 12-min arithmetic bins              → `window(ts, "12 minutes")`
  *  - dropDuplicates against re-reads     → `withWatermark.dropDuplicates`
  *    (state expires instead of growing forever)
  *  - pickle-state concat                 → `foreachBatch` upsert into a
  *    day-partitioned parquet store (dynamic overwrite)
  *
  * At scale: streaming state lives in the state store (RocksDB on
  * executors), partitioned by the grouping key — no driver state, no
  * unbounded memory; watermarks bound every stateful operator.
  */
object Streams {

  /** Incremental file-source ingestion over a (possibly partitioned)
    * directory — the streaming form of the daily candidate-file scan.
    * `maxFilesPerTrigger` bounds per-batch work on backfills. */
  def fileSource(spark: SparkSession, schema: StructType, path: String,
      format: String = "json", maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .format(format)
      .load(path)

  /** Tumbling event-time bins with a late-data watermark — the
    * streaming form of `from_unixtime(ts - ts % 720)` + groupBy
    * (hpc_running_cores_and_corehr.py:206-208). `tsCol` must be a
    * TimestampType column. */
  def tumblingCounts(df: DataFrame, tsCol: String, width: String,
      lateness: String, aggs: Map[String, String] = Map.empty): DataFrame = {
    val w = df.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), width))
    val base = w.agg(count(lit(1)).as("n"))
    val withAggs =
      if (aggs.isEmpty) base
      else w.agg(count(lit(1)).as("n"),
        aggs.toSeq.map { case (c, f) =>
          expr(s"$f($c)").as(s"${f}_$c") }: _*)
    withAggs.select(
      col("window.start").as("bin_start"),
      col("window.end").as("bin_end"),
      col("*")).drop("window")
  }

  /** Hopping (sliding) event-time windows with a late-data watermark —
    * the streaming twin of the batch q127: each event lands in
    * size/slide windows (the SAME TimeWindow generator, so batch and
    * streaming aggregate identically), watermark bounds the open-window
    * state to O(rate × (size + lateness)). */
  def hoppingCounts(df: DataFrame, tsCol: String, size: String,
      slide: String, lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), size, slide))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("n"))

  /** Watermarked exactly-once-ish dedup — the streaming form of
    * `drop_duplicates(["GlobalJobId"])` over multi-day re-reads
    * (condor_crab_unique_users.py:91). State for ids older than the
    * watermark is dropped, so memory is bounded. */
  def dedupByKey(df: DataFrame, tsCol: String, lateness: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicates(keys :+ tsCol)

  /** Retry-tolerant streaming dedup: drops a key's re-delivery even
    * when the duplicate carries a DIFFERENT event time (an
    * at-least-once source re-emitting with a fresh timestamp — the
    * case [[dedupByKey]]'s (keys, ts) identity misses), as long as it
    * arrives within the watermark delay of the first-seen row; state
    * for a key is evicted once the watermark passes it, so state size
    * is bounded by the delay window instead of growing with the
    * stream (`dropDuplicates` on keys alone would pin every key
    * forever). This is Spark's `dropDuplicatesWithinWatermark` — the
    * exact semantic a monitoring feed with producer retries needs. */
  def dedupRetries(df: DataFrame, tsCol: String, lateness: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Per-key session aggregation with custom state
    * (`mapGroupsWithState`): collapses a key's events into evolving
    * (n, sum, last-seen) state with a processing-time idle timeout —
    * the custom-state primitive the reference lacks entirely. */
  final case class SessionState(n: Long, sum: Double, lastTs: Long)
  final case class SessionOut(key: String, n: Long, sum: Double,
      closed: Boolean)

  /** `idleTimeoutMs <= 0` disables the idle timeout (NoTimeout) — use
    * that under bounded test triggers: ProcessingTimeTimeout keeps the
    * micro-batch engine re-triggering, so `processAllAvailable` never
    * settles. */
  def sessionize(ds: Dataset[(String, Double, Long)],
      idleTimeoutMs: Long): Dataset[SessionOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionOut](timeoutConf) {
        case (key, events, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(key, s.n, s.sum, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val evs = events.toSeq
            val next = SessionState(
              prev.n + evs.size,
              prev.sum + evs.map(_._2).sum,
              math.max(prev.lastTs, if (evs.isEmpty) 0L else evs.map(_._3).max))
            state.update(next)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            SessionOut(key, next.n, next.sum, closed = false)
          }
      }
  }

  /** Streaming near-duplicate candidate filter — the online form of
    * the batch MinHash-LSH pipeline (TextOps.lshCandidatePairs),
    * possible because signatures are a NARROW per-row projection
    * (TextOps.minhashSignatures): no stateful stage before banding.
    * Each (band, bucket) key holds the doc ids seen so far; an
    * arriving doc emits one candidate pair per co-bucketed doc, then
    * joins the state. The same contracts as batch LSH apply: run
    * exact dedup upstream (`dedupByKey`) and the per-bucket state list
    * is capped at `maxBucket` (overflow docs still PAIR against the
    * stored members — candidates are not lost, the state just stops
    * growing). Pairs can repeat across bands/batches; downstream
    * consumers dedup per micro-batch. */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String,
      textCol: String, maxBucket: Int = 256): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = graft.llmops.TextOps
      .minhashSignatures(docs, idCol, textCol)
      .select(col(idCol).as("doc"), posexplode(array(
        col("sig_0"), col("sig_1"), col("sig_2"), col("sig_3"))))
      .toDF("doc", "band", "bucket")
      .as[(Long, Int, Long)]
    banded
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          val arrivals = rows.map(_._1).toSeq.distinct
            .filterNot(seen.contains).sorted
          val pairs = for {
            (n, i) <- arrivals.zipWithIndex
            other <- seen ++ arrivals.take(i)
          } yield (math.min(n, other), math.max(n, other))
          state.update((seen ++ arrivals).take(maxBucket))
          pairs.iterator
      }
  }

  /** Spark 4 `transformWithState` form of sessionization: ValueState in
    * the state store, TTL-capable, the modern replacement for
    * mapGroupsWithState. Emits the running (key, n, sum) after every
    * update. Requires the RocksDB state-store provider
    * (`spark.sql.streaming.stateStore.providerClass` →
    * RocksDBStateStoreProvider) — the HDFS-backed provider has no
    * column families. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double, Long), SessionOut] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("totals",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Double, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      val prev = Option(state.get()).getOrElse(SessionState(0L, 0.0, 0L))
      val evs = rows.toSeq
      val next = SessionState(prev.n + evs.size,
        prev.sum + evs.map(_._2).sum,
        math.max(prev.lastTs, if (evs.isEmpty) 0L else evs.map(_._3).max))
      state.update(next)
      Iterator.single(SessionOut(key, next.n, next.sum, closed = false))
    }
  }

  /** Running totals per key via transformWithState. */
  def runningTotals(ds: Dataset[(String, Double, Long)])
      : Dataset[SessionOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final case class AlertState(total: Long, sinceAlert: Long)
  final case class Alert(key: String, total: Long, crossings: Long)

  /** Threshold-crossing alerts via transformWithState: unlike
    * [[runningTotals]]' always-emit counters, this emits a row ONLY
    * when a key accumulates another `every` events since its last
    * alert — the alerting (conditional-emission) state pattern, where
    * silence IS the common case and downstream sees milestones, not a
    * firehose. A batch delivering several multiples at once emits one
    * alert per crossing, so no milestone is skipped. */
  class ThresholdAlertProcessor(every: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), Alert] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[AlertState] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[AlertState]("alerts",
        org.apache.spark.sql.Encoders.product[AlertState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Alert] = {
      val prev = Option(state.get()).getOrElse(AlertState(0L, 0L))
      val arrived = rows.size.toLong
      val total = prev.total + arrived
      val pending = prev.sinceAlert + arrived
      val crossings = pending / every
      state.update(AlertState(total, pending % every))
      // sinceAlert ≡ total % every by induction, so the running total
      // at the i-th crossing is an exact multiple of `every` and the
      // cumulative milestone number is that total div every
      (1L to crossings).iterator.map { i =>
        val totAt = total - (pending - i * every)
        Alert(key, totAt, totAt / every)
      }
    }
  }

  /** Milestone alerts: one output row per `every` events per key. */
  def thresholdAlerts(ds: Dataset[(String, Long)], every: Long)
      : Dataset[Alert] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new ThresholdAlertProcessor(every),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** `foreachBatch` upsert into a day-partitioned parquet store — the
    * durable replacement for the reference's pickle state
    * (hpc_running_cores_and_corehr.py:645-667): each micro-batch
    * dynamically overwrites only the day partitions it touches. */
  def toPartitionedStore(df: DataFrame, storePath: String,
      checkpoint: String, dayCol: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          batch.write
            .partitionBy(dayCol)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(storePath)
      }
      .start()

  /** The micro-batch runner every Append-mode store shares: checkpoint
    * at `checkpoint`, skip empty micro-batches, hand each non-empty
    * one to `commit` with its epoch id. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      commit: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) commit(batch, batchId)
      }
      .start()

  /** Stream–static dimension enrichment: join each micro-batch against
    * a broadcast dimension table — the streaming form of every
    * reference job's "join the day's stream to the DBS dims" step
    * (e.g. dataset_popularity's access ⋈ files ⋈ datasets). The static
    * side is re-resolved per micro-batch, so a daily-refreshed dim
    * picks up changes without restarting the query; broadcast keeps the
    * stream side shuffle-free. */
  def enrich(stream: DataFrame, dim: DataFrame, joinCols: Seq[String],
      joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), joinCols, joinType)

  /** Watermarked stream–stream interval join: every left event picks
    * up the right events of the same `keyCol` whose event time falls
    * in `[leftTs - lookBack, leftTs]` — the streaming neighborhood of
    * a batch as-of join (`ops/Events.asOfJoin`; a streaming "exactly
    * the latest" is not expressible with bounded state, the interval
    * is). Watermarks on BOTH sides bound the join state: Spark keeps
    * right rows only until `watermark - lookBack` has passed them, so
    * state is O(rate × (lateness + lookBack)), not unbounded — this is
    * the one stream-stream join form that is safe to leave running
    * against a firehose. `leftTs` and `rightTs` must be
    * differently-named event-time Timestamp columns. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, lateness: String,
      lookBack: String): DataFrame = {
    require(leftTs != rightTs,
      "leftTs and rightTs must differ so both survive in the output")
    val l = left.withWatermark(leftTs, lateness).alias("l")
    val r = right.withWatermark(rightTs, lateness).alias("r")
    l.join(r,
      expr(s"l.$keyCol = r.$keyCol AND " +
        s"$rightTs >= $leftTs - interval $lookBack AND " +
        s"$rightTs <= $leftTs"))
      .drop(col(s"r.$keyCol"))
  }

  /** Dedup against a historical store: drop stream rows whose key
    * already exists in the (static, per-batch re-resolved) store — the
    * "don't re-ingest what the lake already holds" guard in front of
    * any incremental curation pipeline. Combine with [[dedupByKey]]
    * for in-stream duplicates; the anti-join handles history. */
  def dedupAgainstStore(stream: DataFrame, store: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(store.select(keys.map(col): _*).distinct(),
      keys, "left_anti")

  /** Gap-based session aggregation with Spark's NATIVE
    * `session_window` — the declarative twin of [[sessionize]]'s
    * `mapGroupsWithState` form: the engine manages session state,
    * merges overlapping windows, and evicts via the watermark; custom
    * state code buys nothing when the semantics are exactly
    * gap-sessioning, so prefer this form and reserve
    * [[sessionize]]-style state for logic session_window can't say
    * (e.g. per-session ML features over raw events). `tsCol` must be
    * TimestampType. */
  def sessionWindowCounts(df: DataFrame, keyCol: String, tsCol: String,
      gap: String, lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming SCD maintenance: per micro-batch, fold the batch's
    * latest row per key into a current-state store and append change
    * rows to a history store — CDC into the (current, history) pair a
    * lake serves point-in-time queries from (`Events.asOfJoin` over
    * the history). Per batch: ONE key join of batch-latest against
    * current, then two writes (history append, current written to a
    * tmp dir and swapped in via rename-aside — the previous state
    * survives as `__prev` until the new current is in place, so a
    * crash never leaves an empty store). Exactly-once to the degree
    * of foreachBatch's
    * contract: a replayed batch re-emits its history rows, dedupable
    * on (key, batch_id). First batch bootstraps an empty store.
    * Absence of a key from a batch is NOT a delete — streams carry
    * events, not full snapshots. */
  def toScdStore(stream: DataFrame, keys: Seq[String],
      compareCols: Seq[String], tsCol: String, currentDir: String,
      historyDir: String, checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val cols = keys ++ compareCols
      // tsCol desc picks the batch-latest row per key; compareCols
      // desc break same-timestamp ties so two equal-ts updates in
      // one micro-batch resolve to ONE deterministic winner (the
      // repo-wide tieCol convention)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(tsCol).desc +: compareCols.map(col(_).desc): _*)
      val latest = batch
        .select((cols :+ tsCol).map(col): _*)
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(cols.map(col): _*)
      val fs = storeFs(spark, currentDir)
      // a missing store (first batch) bootstraps empty — substituting
      // an empty frame for a failed read would silently reset the
      // store and re-emit every key as 'added'
      val current = snapshotOf(fs, currentDir)
        .map(spark.read.parquet(_).select(cols.map(col): _*))
        .getOrElse(latest.limit(0))
      val delta = graft.ops.Incremental.snapshotDiff(
        current, latest, keys, compareCols)
        .filter(col("status") =!= "removed")
        .withColumn("batch_id", lit(batchId))
      val nextCurrent = graft.ops.Incremental.applyChanges(
        current, latest.withColumn("__op", lit("U")),
        keys, compareCols, "__op")
      delta.write.mode("append").parquet(historyDir)
      swapAside(fs, currentDir)(
        nextCurrent.write.mode("overwrite").parquet(_))
    }

  /** The file system a store directory lives on. */
  private def storeFs(spark: SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Where a rename-aside store ([[swapAside]]) keeps its last
    * complete state: `dir` itself, or `dir__prev` after a crash
    * between the swap's two renames; None for a fresh store. `probe`
    * names the child that must exist (a ledgered store's data table).
    * Bootstrap tolerates ONLY a missing store: a read failure on an
    * existing one (corrupt footer, permissions, transient FS error)
    * propagates to the caller's read. */
  private def snapshotOf(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      probe: String = ""): Option[String] =
    Seq(dir, s"${dir}__prev").find(d => fs.exists(
      new org.apache.hadoop.fs.Path(if (probe.isEmpty) d else s"$d/$probe")))

  /** The rename-aside swap of every snapshot store: `write` fills
    * `dir__tmp` (it may delete it and throw to abort, leaving the store
    * untouched), then the current state moves to `dir__prev` before
    * tmp moves in, so at every instant a complete store exists on disk
    * (current, or `__prev` during the two-rename window, which
    * [[snapshotOf]] reads) — unlike delete-then-rename, where a crash
    * after the delete left nothing. `__prev` is dropped only after the
    * new state lands. */
  private def swapAside(fs: org.apache.hadoop.fs.FileSystem, dir: String)(
      write: String => Unit): Unit = {
    val (cur, prev, tmp) = (new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"${dir}__prev"),
      new org.apache.hadoop.fs.Path(s"${dir}__tmp"))
    write(tmp.toString)
    fs.delete(prev, true)
    if (fs.exists(cur)) fs.rename(cur, prev)
    fs.rename(tmp, cur)
    fs.delete(prev, true)
    ()
  }

  /** Row guard of the coalesce(1) snapshot stores: counts `data` (a
    * parquet footer-only count of the aside write — no recompute) and,
    * over `maxRows`, deletes the aside dir `tmp` and throws `tooBig`,
    * so the swap never happens and the last good store keeps serving. */
  private def requireBounded(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tmp: String, data: String,
      maxRows: Long)(tooBig: Long => String): Unit = {
    val rows = spark.read.parquet(data).count()
    if (rows > maxRows) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      throw new IllegalStateException(tooBig(rows))
    }
  }

  /** Shared read-merge-swap cycle of the mergeable-sketch stores:
    * read the current store ([[snapshotOf]] — silently restarting a
    * sketch from empty is the one error a merge-law store must never
    * make), merge the batch sketch in, write aside, swap by rename
    * ([[swapAside]]). A complete store exists on disk at every
    * instant.
    *
    * Boundedness guard: the `coalesce(1)` write is only correct for
    * stores that stay BOUNDED under merge (a sketch's defining
    * property) — nothing structural stops a caller from pointing an
    * unbounded frame here, and that failure mode is a silent
    * single-threaded write, not an error. So the merged row count is
    * checked against `maxRows` AFTER the aside write (a parquet
    * footer-only count — no recompute) and an oversized merge fails
    * fast with the store untouched ([[requireBounded]]). */
  private def upsertSketchStore(spark: SparkSession, storeDir: String,
      batchSketch: DataFrame, maxRows: Long)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val fs = storeFs(spark, storeDir)
    val merged = snapshotOf(fs, storeDir)
      .map(cur => merge(spark.read.parquet(cur), batchSketch))
      .getOrElse(batchSketch)
    swapAside(fs, storeDir) { tmp =>
      merged.coalesce(1).write.mode("overwrite").parquet(tmp)
      requireBounded(spark, fs, tmp, tmp, maxRows)(rows =>
        s"sketch store $storeDir would grow to $rows rows " +
          s"(cap $maxRows): the merged frame is not bounded — this " +
          "store family coalesces to one file and must stay " +
          "sketch-sized; raise maxStoreRows only if the store is " +
          "genuinely bounded by construction")
    }
  }

  /** Default [[upsertSketchStore]] row cap: generous for any genuine
    * sketch (a 4×65536 CMS is 262k rows; group-MinHash is one row per
    * group) while still catching the unbounded-frame mistake well
    * before a coalesce(1) write becomes the bottleneck. */
  val DefaultMaxStoreRows: Long = 4L * 1024 * 1024

  /** Incrementally maintained count-min sketch store: each micro-batch
    * builds its own (bounded, ≤ d·w rows) sketch and merges it
    * ADDITIVELY into the parquet store — CMS linearity means the
    * store equals the sketch of everything ever streamed, exactly.
    * The firehose never shuffles beyond its bounded-domain map-side
    * aggregation; the read-modify-write touches only the tiny sketch.
    *
    * EXACTLY-ONCE under replay (r9): additive counters double-add on
    * a re-applied batch — the same hazard [[toScoreBandStore]] had —
    * so this store uses the ledgered cycle ([[mergeCmsBatch]]): the
    * sketch lives at `<storeDir>/sketch` with the merged-batch-id
    * ledger beside it, committed together by one directory rename.
    * The idempotent-merge stores (Bloom, group-MinHash,
    * quantile-sample) stay ledger-free — their merge laws absorb
    * replays structurally. */
  def toCmsStore(stream: DataFrame, termCol: String, d: Int, w: Int,
      storeDir: String, checkpoint: String,
      maxStoreRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      mergeCmsBatch(batch.sparkSession, storeDir,
        graft.llmops.Sketches.countMinBuild(batch, termCol, d, w),
        batchId, maxStoreRows)
    }

  /** Incrementally maintained quantile-sample store: per micro-batch,
    * build the bottom-k-by-hash sample (Sketches.quantileSampleBuild)
    * and merge it into the parquet store under the sketch's lossless
    * merge law — the streamed store equals the one-shot batch sketch
    * over all data seen (StreamingSpec pins it), so p50/p90 per key
    * stay queryable at any moment without re-touching history. Same
    * rename-aside swap as [[toCmsStore]] (crash between renames leaves
    * a recoverable copy). */
  def toQuantileSampleStore(stream: DataFrame, groupCol: String,
      keyCol: String, valueCol: String, k: Int,
      storeDir: String, checkpoint: String,
      maxStoreRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      upsertSketchStore(batch.sparkSession, storeDir,
        graft.llmops.Sketches
          .quantileSampleBuild(batch, groupCol, keyCol, valueCol, k),
        maxStoreRows)(
        (cur, b) => graft.llmops.Sketches
          .quantileSampleMerge(cur, b, groupCol, k))
    }

  /** Incrementally maintained Bloom bit-set store: per micro-batch,
    * the batch keys' set positions (`Sketches.bloomBuild`, ≤ m rows)
    * OR into the parquet store by distinct-union — associative,
    * commutative, IDEMPOTENT, so the store equals the filter of
    * everything ever streamed and replayed batches are harmless with
    * no dedup (at-least-once safe, like [[toGroupMinhashStore]]).
    * The streaming decontamination build side: eval/benchmark
    * shingles stream in, training-side probes run
    * `Sketches.bloomMayContain` against the store at any moment.
    * Same rename-aside swap as [[toCmsStore]]. */
  def toBloomStore(stream: DataFrame, keyCol: String, m: Int, h: Int,
      storeDir: String, checkpoint: String,
      maxStoreRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      upsertSketchStore(batch.sparkSession, storeDir,
        graft.llmops.Sketches.bloomBuild(batch, keyCol, m, h),
        maxStoreRows)(
        graft.llmops.Sketches.bloomMerge)
    }

  /** Incrementally maintained group-MinHash store: per micro-batch,
    * the per-group signature (`TextOps.groupMinhash`) merges into the
    * parquet store by ELEMENTWISE MIN — which is exactly the signature
    * of the union of every document ever streamed (min is associative,
    * commutative, idempotent; q225's batch operator, StreamingSpec
    * pins streamed ≡ one-shot). Idempotence means replayed batches are
    * harmless — this store tolerates at-least-once delivery with no
    * dedup at all, the strongest form of the merge-law story. Same
    * rename-aside swap as [[toCmsStore]]. */
  def toGroupMinhashStore(stream: DataFrame, idCol: String,
      textCol: String, groupCol: String, storeDir: String,
      checkpoint: String,
      maxStoreRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      upsertSketchStore(batch.sparkSession, storeDir,
        graft.llmops.TextOps
          .groupMinhash(batch, idCol, textCol, groupCol),
        maxStoreRows)(
        (cur, b) => graft.llmops.TextOps
          .groupMinhashMerge(cur, b, groupCol))
    }

  /** Incrementally maintained LM-score-band store: per micro-batch,
    * score docs against a FROZEN reference model
    * (`LanguageModel.lmScoreFrozen`) and merge the per-(langCol,
    * band) histogram into the parquet store — counts ADD, min/max
    * are idempotent lattice merges, so the store equals the q233
    * band histogram of everything ever streamed (the calibration
    * artifact for choosing `toCuratedCorpusStoreIndexed`'s minScore, kept
    * current as the corpus streams in).
    *
    * EXACTLY-ONCE under replay (since r9; counts are additive, so
    * unlike the min-merge stores a re-applied batch used to
    * double-add): the store records the merged-epoch high-water mark
    * (ids are monotone per checkpoint, so one row subsumes the set),
    * and — the part that makes it exactly-once rather than
    * almost — the ledger lives INSIDE the swapped store directory
    * (`<storeDir>/bands` + `<storeDir>/batches`), so one directory
    * rename commits the histogram and its ledger together; there is
    * no window where the merge landed but the ledger didn't. A
    * replayed foreachBatch (same batchId, the engine's replay
    * contract) finds its id in the ledger and is a no-op. See
    * [[mergeScoreBandBatch]] for the cycle. */
  def toScoreBandStore(stream: DataFrame, idCol: String,
      textCol: String, langCol: String, model: DataFrame,
      vocabSize: Long, storeDir: String, checkpoint: String,
      maxStoreRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val bands = graft.llmops.LanguageModel.bandHistogram(
        graft.llmops.LanguageModel.lmScoreFrozen(batch, model,
          vocabSize, idCol, textCol, carryCols = Seq(langCol)),
        langCol)
      mergeScoreBandBatch(batch.sparkSession, storeDir, bands,
        batchId, langCol, maxStoreRows)
    }

  /** Exactly-once read-merge-swap cycle for stores whose merge law is
    * NOT idempotent (additive counters: the score-band histogram, the
    * CMS). The min-merge stores (Bloom OR, group-MinHash min,
    * quantile-sample distinct-bottom-k) replay harmlessly and need
    * none of this; an additive store replayed double-adds, so merged
    * batch ids are recorded — and the ledger lives INSIDE the swapped
    * store directory (`<storeDir>/<dataName>` + `<storeDir>/batches`),
    * so ONE directory rename commits data and ledger together: there
    * is no window where the merge landed but the ledger didn't. Skip
    * if `batchId` is already ledgered; a crash between the two swap
    * renames leaves the complete previous store under `__prev`
    * (the [[toScdStore]] recovery story). The [[upsertSketchStore]]
    * boundedness guard applies to the data side.
    *
    * The ledger is BOUNDED: Structured Streaming batch ids are
    * strictly monotone for a given checkpoint (a failed epoch is
    * re-delivered under the SAME id, never reordered), so membership
    * of the merged-id set is equivalent to `batchId ≤ max(merged)` —
    * the ledger keeps only that high-water mark, one row forever,
    * instead of one row per micro-batch rewritten (coalesce(1))
    * every cycle, whose total I/O and replay-check scan grew
    * quadratically in stream lifetime. A legacy multi-row ledger
    * compacts to the single-row form on its next merge (max over
    * rows). */
  private def upsertLedgeredStore(spark: SparkSession, storeDir: String,
      batchData: DataFrame, batchId: Long, dataName: String,
      maxRows: Long, oversizeHint: String)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val fs = storeFs(spark, storeDir)
    val existing = snapshotOf(fs, storeDir, dataName)
    // high-water mark of merged epochs (None for a fresh store); the
    // ledger read is a one-row (or legacy bounded) file, never data
    val highWater: Option[Long] = existing.flatMap { dir =>
      Option(spark.read.parquet(s"$dir/batches")
        .agg(max(col("batch_id"))).first().get(0))
        .map(_.asInstanceOf[Long])
    }
    if (!highWater.exists(batchId <= _)) {
      import spark.implicits._
      val merged = existing
        .map(dir => merge(spark.read.parquet(s"$dir/$dataName"), batchData))
        .getOrElse(batchData)
      val ledger = Seq(math.max(batchId, highWater.getOrElse(Long.MinValue)))
        .toDF("batch_id")
      swapAside(fs, storeDir) { tmp =>
        merged.coalesce(1).write.mode("overwrite")
          .parquet(s"$tmp/$dataName")
        ledger.coalesce(1).write.mode("overwrite").parquet(s"$tmp/batches")
        requireBounded(spark, fs, tmp, s"$tmp/$dataName", maxRows)(rows =>
          s"store $storeDir would grow to $rows rows " +
            s"(cap $maxRows): $oversizeHint — this store coalesces " +
            "to one file and must stay bounded")
      }
    }
  }

  /** One exactly-once merge cycle of [[toScoreBandStore]]
    * (data subdir: `bands`), factored for spec-driven replays. */
  private[graft] def mergeScoreBandBatch(spark: SparkSession,
      storeDir: String, bands: DataFrame, batchId: Long,
      langCol: String,
      maxRows: Long = DefaultMaxStoreRows): Unit =
    upsertLedgeredStore(spark, storeDir, bands, batchId, "bands",
      maxRows, "langCol cardinality is not histogram-sized") {
      (cur, b) =>
        cur.unionByName(b)
          .groupBy(col(langCol), col("band"))
          .agg(sum(col("n_docs")).as("n_docs"),
            min(col("min_score")).as("min_score"),
            max(col("max_score")).as("max_score"))
    }

  /** Streaming class-count store: exact per-class counts maintained
    * additively under the in-store batch ledger (counts are NOT
    * idempotent under replay — same exactly-once argument as the
    * score-band store). The class table is release-metadata-sized
    * (the boundedness guard enforces it), so the merge is one tiny
    * union+agg per micro-batch. Exists to feed
    * [[noisyClassCounts]] — the DP release view — but the exact
    * store is the general building block (any per-class tally). */
  def toClassCountsStore(stream: DataFrame, keyCols: Seq[String],
      storeDir: String, checkpoint: String,
      maxRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      mergeClassCountsBatch(batch.sparkSession, storeDir,
        batch.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("n_true")),
        batchId, keyCols, maxRows)
    }

  /** One exactly-once merge cycle of [[toClassCountsStore]] (data
    * subdir: `counts`), factored for spec-driven replays. */
  private[graft] def mergeClassCountsBatch(spark: SparkSession,
      storeDir: String, counts: DataFrame, batchId: Long,
      keyCols: Seq[String],
      maxRows: Long = DefaultMaxStoreRows): Unit =
    upsertLedgeredStore(spark, storeDir, counts, batchId, "counts",
      maxRows, "keyCols cardinality is not class-table-sized") {
      (cur, b) =>
        cur.unionByName(b)
          .groupBy(keyCols.map(col): _*)
          .agg(sum(col("n_true")).as("n_true"))
    }

  /** DP noisy release view over a [[toClassCountsStore]] store —
    * ε=ln2 geometric noise keyed per (class, `salt`). One salt per
    * RELEASE epoch: re-reading under the same salt republishes
    * byte-identical numbers (free), a fresh salt costs a fresh ε
    * (sequential composition, kε over k releases) — the caller owns
    * that budget, which is why the salt is an explicit argument and
    * never derived from the batch id (per-batch noise would average
    * out under a long stream). Because noise depends only on
    * (class, salt), this view over streamed counts is bit-identical
    * to `Privacy.dpNoisyCounts` over the same rows in one batch. */
  def noisyClassCounts(spark: SparkSession, storeDir: String,
      keyCols: Seq[String], salt: String,
      minRelease: Long = 5L): DataFrame =
    graft.llmops.Privacy.dpNoisyFromCounts(
      spark.read.parquet(s"$storeDir/counts"), keyCols, salt,
      minRelease)

  /** Streaming conformal recalibration (the live form of
    * Drift.conformalCoverage's calibration side): per micro-batch,
    * extract the deterministic hash-split calibration slice, reduce
    * it to the discretized-score histogram (bounded by the score
    * support, ≤ 2·scaleTo + 1 rows), and merge additively into the
    * store under the in-store batch ledger — exactly-once, like the
    * score-band store, because counts are NOT idempotent under
    * replay. The live threshold derives on read via
    * [[conformalThreshold]]; recalibration cost per batch is one
    * narrow projection + one bounded aggregation, independent of
    * how much history the store holds. */
  def toConformalStore(stream: DataFrame, idCol: String,
      scoreCol: String, scaleTo: Int, calibBuckets: Int,
      storeDir: String, checkpoint: String,
      maxStoreRows: Long = DefaultMaxStoreRows): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val vh = graft.llmops.Drift.calibHistogram(batch, idCol,
        scoreCol, scaleTo, calibBuckets)
      mergeConformalBatch(batch.sparkSession, storeDir, vh,
        batchId, maxStoreRows)
    }

  /** One exactly-once merge cycle of [[toConformalStore]] (data
    * subdir: `calib`), factored for spec-driven replays. */
  private[graft] def mergeConformalBatch(spark: SparkSession,
      storeDir: String, vh: DataFrame, batchId: Long,
      maxRows: Long = DefaultMaxStoreRows): Unit =
    upsertLedgeredStore(spark, storeDir, vh, batchId, "calib",
      maxRows, "discretized score support exceeds the cap") {
      (cur, b) =>
        cur.unionByName(b).groupBy(col("q"))
          .agg(sum(col("cnt")).as("cnt"))
    }

  /** The live conformal threshold of a [[toConformalStore]] store:
    * one row (tau, n_cal) — what a serving-side gate polls between
    * recalibration merges. */
  def conformalThreshold(spark: SparkSession, storeDir: String,
      keepNum: Int, keepDen: Int): DataFrame =
    graft.llmops.Drift.thresholdFromHistogram(
      spark.read.parquet(s"$storeDir/calib"), keepNum, keepDen)

  /** One exactly-once merge cycle of [[toCmsStore]] (data subdir:
    * `sketch`), factored for spec-driven replays. */
  private[graft] def mergeCmsBatch(spark: SparkSession,
      storeDir: String, sketch: DataFrame, batchId: Long,
      maxRows: Long = DefaultMaxStoreRows): Unit =
    upsertLedgeredStore(spark, storeDir, sketch, batchId, "sketch",
      maxRows, "d*w exceeds the cap")(
      graft.llmops.Sketches.countMinMerge)

  /** Curated-ingest gate — the streaming form of the incremental
    * corpus-admission pipeline: per micro-batch, (1) within-batch
    * exact dedup (keep the min-id copy per text fingerprint),
    * (2) exact and near-dup admission against the corpus admitted SO
    * FAR (the decisions of `TextOps.incrementalAdmissions` over that
    * corpus — batch×base work only, never base×base), (3) LM quality
    * gate against a FROZEN reference model
    * (`LanguageModel.lmScoreFrozen`, keep `score >= minScore`; docs
    * with <2 tokens have no defined score and never ship), then
    * APPEND the surviving docs to the parquet corpus store. What is
    * not order-invariant — by design, in any online admission policy
    * — is which member of a near-dup cluster survives: the
    * first-delivered representative wins (exact-dup-only corpora ARE
    * permutation-invariant; PropertySpec pins it).
    *
    * Recomputing the admissions against the corpus itself would
    * re-read and re-shingle the whole store every micro-batch —
    * per-batch cost proportional to the corpus. Instead the admission
    * state is maintained incrementally in index stores next to the
    * corpus, so a batch never touches corpus TEXT at all:
    *
    *  - `<storeDir>/fps`      — md5 fingerprint per admitted doc (the
    *    exact-dup gate's entire read surface)
    *  - `<storeDir>/postings` — (doc, nsh, sh) shingle postings of
    *    admitted docs, appended only while the shingle's cumulative
    *    document frequency is ≤ maxDf — so the index holds AT MOST
    *    maxDf postings per distinct shingle, the same df cap the
    *    batch recomputation applies, made physical
    *  - `<storeDir>/dfs`      — per-batch (sh, df) deltas; cumulative
    *    df = sum over deltas (one compact long-pair row per shingle
    *    per batch; [[compactAdmissionIndex]] squashes history)
    *  - `<storeDir>/urls`     — (rail on via `urlCol`, r12) canonical
    *    URL ([[graft.llmops.TextOps.canonicalUrl]]) per admitted doc:
    *    the URL-FIRST gate a web-crawl ingest runs before content is
    *    even compared — a batch doc whose canonical URL is already
    *    admitted is a recrawl and drops regardless of content, and
    *    within-batch URL decoration variants collapse to the min id
    *    before the exact-text keeper. The rail flag is part of the
    *    store's admission contract (pinned in meta like maxDf).
    *
    *    Rail semantics are ONE ADMISSION DECISION PER CANONICAL URL
    *    PER BATCH, decided by the min-id variant: within-batch
    *    variants collapse BEFORE the content/LM gates, so when the
    *    min-id keeper is then rejected by a gate, its same-batch
    *    variants are dropped with it WITHOUT their own evaluation —
    *    even a variant whose different content would have passed.
    *    Because only ADMITTED docs' URLs persist to `/urls`, the same
    *    canonical URL arriving in a LATER batch is evaluated fresh.
    *    This within-batch/cross-batch asymmetry is deliberate: the
    *    alternative (URL-collapse only against gate-survivors) would
    *    LM-score and shingle-probe every recrawl decoration of a
    *    page — corpus-sized work for content that is overwhelmingly
    *    identical — to recover documents that redelivery recovers
    *    anyway one batch later. StreamingSpec pins both halves of
    *    the asymmetry.
    *
    * Per batch the work is: shingle the BATCH text once, one
    * aggregate for batch dfs, one join of batch shingles against the
    * summed df store (under-cap filter on both sides — combined df,
    * exactly `incrementalAdmissions`' window filter), one
    * batch-shingle ⋈ postings probe (store side bounded at maxDf rows
    * per shingle), the frozen-LM gate, and four partition writes.
    * StreamingSpec pins store-backed admissions ≡
    * `incrementalAdmissions` over the same batch sequence.
    *
    * Replay safety needs no swap or ledger: every store is
    * partitioned by `batch=<id>` ([[BatchParts]]), every read EXCLUDES
    * the current batch id, and every write overwrites only the
    * current batch's own partitions. A replayed epoch therefore sees
    * byte-identical inputs (earlier partitions are append-only
    * history), re-derives the identical admission decision, and
    * overwrites its own partitions with identical content —
    * idempotent even when the first attempt crashed between the
    * writes (the multi-store-consistency window). At-least-once
    * redelivery of old CONTENT under a fresh batch id is handled by
    * the gates themselves: every redelivered doc finds its own
    * earlier copy and drops, so the corpus converges to exactly-once
    * CONTENT (PropertySpec pins it over random redelivery schedules).
    *
    * Read the corpus back with [[curatedDocs]] (drops the partition
    * column). At 1000-executor scale the postings store is the one
    * to bucket by `sh` so the per-batch probe prunes; the fps and
    * dfs stores are narrow key columns a broadcast-or-shuffle hash
    * join handles at any corpus size. */
  def toCuratedCorpusStoreIndexed(stream: DataFrame, idCol: String,
      textCol: String, model: DataFrame, vocabSize: Long,
      minScore: Double, storeDir: String, checkpoint: String,
      minJac: Double = 0.5, maxDf: Int = 1000,
      urlCol: Option[String] = None,
      clfGate: Option[TrainedGate] = None): StreamingQuery =
    eachBatch(stream, checkpoint)(curatedCommitIndexed(_, _, idCol,
      textCol, model, vocabSize, minScore, storeDir, minJac, maxDf,
      urlCol, clfGate))

  /** A trained-quality gate for the streaming admission path — the
    * incremental counterpart of `corpus_release_export
    * --clf-weights/--clf-min-margin`: `weights` is a
    * `Classifier.trainHashedLogistic` table (≤ `buckets` rows,
    * broadcast by the scorer), and docs with
    * `marginWithWeights < minMargin` are dropped between the dedup
    * rails and the LM gate (cheapest content stage first — the batch
    * gate order). The store meta pins an order-free FINGERPRINT of
    * the weight table plus (minMargin, buckets): a restart or replay
    * with drifted weights would silently change admission decisions,
    * so it refuses instead, exactly like a changed maxDf. */
  final case class TrainedGate(weights: DataFrame, buckets: Int,
      minMargin: Double)

  /** Order-free, replay-stable fingerprint of a trained weight
    * table: Σ over rows of hash60(bucket ∥ ":" ∥ w-as-string) mod
    * 10¹² — exact integer sum (no overflow below ~9M rows; the table
    * is ≤ buckets rows by construction), independent of row order
    * and partitioning. One bounded agg over a ≤ B-row frame. */
  private def weightsFingerprint(w: DataFrame): Long =
    w.agg(coalesce(sum(pmod(graft.llmops.TextOps.hash60(
        concat_ws(":", col("bucket"), col("w").cast("string"))),
      lit(1000000000000L))), lit(0L))).first().getLong(0)

  /** One admission cycle of [[toCuratedCorpusStoreIndexed]], factored
    * out so specs can drive batch sequences, replays, and redelivery
    * schedules directly. */
  private[graft] def curatedCommitIndexed(batch0: DataFrame,
      batchId: Long, idCol: String, textCol: String, model: DataFrame,
      vocabSize: Long, minScore: Double, storeDir: String,
      minJac: Double, maxDf: Int,
      urlCol: Option[String] = None,
      clfGate: Option[TrainedGate] = None): Unit = {
    import graft.core.Checkpoints.BarrierOps
    val s = batch0.sparkSession
    val (docsDir, fpsDir, postingsDir, dfsDir) =
      (s"$storeDir/docs", s"$storeDir/fps", s"$storeDir/postings",
        s"$storeDir/dfs")
    val urlsDir = s"$storeDir/urls"
    val fs = storeFs(s, storeDir)
    requireNoPendingCompaction(fs, "curatedCommitIndexed",
      Seq(fpsDir, postingsDir, dfsDir) ++
        (if (urlCol.isDefined) Seq(urlsDir) else Nil))
    // admission decisions depend on maxDf, so a stream restarted — or
    // a compaction run — with a different cap must fail fast, not
    // silently diverge. A store created with the URL rail cannot be
    // committed to without it (URL-dup docs would silently start
    // flowing in), and vice versa; pre-r12 stores have no url_rail
    // column (rail off). The trained gate and the exact weight table
    // behind it are pinned too (pre-r14 stores: gate off): a replay
    // or restart under drifted weights would silently change which
    // docs the store admits.
    val gateOn = "the trained gate is part of the store's admission " +
      "contract"
    val meta = new StoreMeta(s, fs, storeDir, "curatedCommitIndexed",
      "toCuratedCorpusStoreIndexed", Seq(
        Pin("max_df", "maxDf", maxDf, None,
          "the df cap is part of the store's admission contract"),
        SchemaOf("fps"), SchemaOf("postings"), SchemaOf("dfs"),
        Pin("url_rail", "url_rail", urlCol.isDefined, Some(false),
          "the URL rail is part of the store's admission contract"),
        Pin("clf_gate", "clf_gate", clfGate.isDefined, Some(false),
          gateOn),
        Pin("clf_fp", "weights_fp",
          clfGate.map(g => weightsFingerprint(g.weights)).getOrElse(0L),
          Some(0L), "the weight table drifted; retrain into a NEW " +
            "store or re-point the stream at the pinned weights"),
        Pin("clf_min_margin", "minMargin",
          clfGate.map(_.minMargin).getOrElse(0.0), Some(0.0), gateOn),
        Pin("clf_buckets", "buckets", clfGate.map(_.buckets).getOrElse(0),
          Some(0), gateOn)))
    val part = new BatchParts(fs, batchId)
    // within-batch URL-first collapse (rail on): min-id keeper per
    // canonical URL — the web-pipeline ordering, recrawl decorations
    // drop before content is even compared
    val batchU = urlCol match {
      case Some(uc) =>
        val ukeep = batch0
          .groupBy(graft.llmops.TextOps.canonicalUrl(col(uc))
            .as("__cu"))
          .agg(min(col(idCol)).as(idCol))
          .select(col(idCol))
        batch0.join(ukeep, Seq(idCol), "left_semi")
      case None => batch0
    }
    // within-batch exact dedup, deterministic min-id keeper
    // (incrementalAdmissions' contract scopes within-batch dups out;
    // dropDuplicates would pick an arbitrary copy)
    val keep = batchU
      .groupBy(md5(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val batch = batchU.join(keep, Seq(idCol), "left_semi").barrier()
    // the ONLY shingling in the cycle: the batch text
    val batchPostings = batch
      .select(col(idCol).as("doc"),
        graft.llmops.TextOps.shingleHashes(col(textCol)).as("arr"))
      .select(col("doc"), size(col("arr")).as("nsh"),
        explode(col("arr")).as("sh"))
      .barrier()
    // combined df per batch shingle = stored deltas + this batch —
    // identical to incrementalAdmissions' count over base ∪ incoming
    val dfBatch = batchPostings.groupBy(col("sh"))
      .agg(count(lit(1)).as("df_b"))
    val dfTemplate = s.range(0)
      .select(col("id").as("sh"), col("id").as("df"))
    val dfStore = part.read(dfsDir, dfTemplate)
      .groupBy(col("sh")).agg(sum(col("df")).as("df_s"))
      .barrier() // consumed by the under-cap filter AND the append cap
    val underCap = dfBatch.join(dfStore, Seq("sh"), "left")
      .filter(col("df_b") + coalesce(col("df_s"), lit(0L)) <= maxDf)
      .select(col("sh"))
      .barrier() // filters both probe sides
    val bp = batchPostings.join(underCap, Seq("sh"), "left_semi")
    val sp = part.read(postingsDir, batchPostings)
      .join(underCap, Seq("sh"), "left_semi")
    val jac = col("common").cast("double") /
      (col("ni") + col("nb") - col("common"))
    val near = bp
      .select(col("doc").as("di"), col("nsh").as("ni"), col("sh"))
      .join(sp.select(col("doc").as("db"), col("nsh").as("nb"),
        col("sh")), Seq("sh"))
      .groupBy(col("di"), col("db"), col("ni"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .filter(jac >= minJac)
      .select(col("di").as(idCol)).distinct()
    val fpTemplate = batch.select(md5(col(textCol)).as("fp"))
    val exact = batch
      .select(col(idCol), md5(col(textCol)).as("fp"))
      .join(part.read(fpsDir, fpTemplate), Seq("fp"), "left_semi")
      .select(col(idCol))
    // URL rail probe: a batch doc whose canonical URL is already
    // admitted is a recrawl — dropped regardless of content (the
    // canonical key column is pinned `cu string` by construction)
    val urlDup = urlCol match {
      case Some(uc) =>
        val urlTemplate = batch
          .select(graft.llmops.TextOps.canonicalUrl(col(uc)).as("cu"))
        batch
          .select(col(idCol),
            graft.llmops.TextOps.canonicalUrl(col(uc)).as("cu"))
          .join(part.read(urlsDir, urlTemplate), Seq("cu"), "left_semi")
          .select(col(idCol))
      case None => batch.select(col(idCol)).limit(0)
    }
    val dropped = exact.unionByName(near).unionByName(urlDup)
      .distinct()
    val admitted0 = batch.join(dropped, Seq(idCol), "left_anti")
    // trained-quality gate (rail survivors only): one broadcast of
    // the ≤ B-row weight table + one batch-sized hash agg — between
    // the dedup rails and the LM gate, the batch export's gate order
    val admitted = clfGate match {
      case Some(g) =>
        val pass = graft.llmops.Classifier
          .marginWithWeights(admitted0, idCol, textCol, Nil,
            g.weights, g.buckets)
          .filter(col("margin") >= g.minMargin)
          .select(col(idCol))
        admitted0.join(pass, Seq(idCol), "left_semi")
      case None => admitted0
    }
    val passing = graft.llmops.LanguageModel
      .lmScoreFrozen(admitted, model, vocabSize, idCol, textCol)
      .filter(col("score") >= minScore).select(col(idCol))
    val out = batch.join(passing, Seq(idCol), "left_semi")
      .barrier() // consumed by the docs and fps writes
    // index rows of the ADMITTED docs only (they are the future base),
    // reusing the barriered batch postings — no re-shingling
    val outPostings = batchPostings
      .join(out.select(col(idCol).as("doc")), Seq("doc"), "left_semi")
      .barrier() // consumed by dfOut and the postings append
    val dfOut = outPostings.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
    // postings append only while the shingle stays under the cap
    // AFTER this batch — once over, df can only grow, so the dropped
    // postings can never be needed by a future probe
    val keepSh = dfOut.join(dfStore, Seq("sh"), "left")
      .filter(col("df") + coalesce(col("df_s"), lit(0L)) <= maxDf)
      .select(col("sh"))
    meta.stamp("fps" -> fpTemplate, "postings" -> batchPostings,
      "dfs" -> dfTemplate)
    part.write(out, docsDir)
    part.write(out.select(md5(col(textCol)).as("fp")), fpsDir)
    urlCol.foreach { uc =>
      part.write(out
        .select(graft.llmops.TextOps.canonicalUrl(col(uc)).as("cu")),
        urlsDir)
    }
    part.write(outPostings.join(keepSh, Seq("sh"), "left_semi")
      .select(col("doc"), col("nsh"), col("sh")), postingsDir)
    part.write(dfOut, dfsDir)
    ()
  }

  /** The admitted corpus of any admission store here (curated, image,
    * audio, video or paired), without the internal batch partition
    * column. */
  def curatedDocs(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/docs").drop("batch")

  /** The batch-partition layout every admission store shares: each of
    * a store's tables is a directory of `batch=<id>` partitions, one
    * per committed micro-batch (plus `batch=-1` once compacted). A
    * commit reads and writes its store only through this:
    *
    *  - [[read]] EXCLUDES batch `batchId` (partition pruning — a
    *    replayed epoch must not see its own first attempt) and reads
    *    under the template's schema: a batch where everything was
    *    rejected writes EMPTY partitions, and schema inference over
    *    only-empty files would fail; pinning the partition column to
    *    long also sidesteps int/long inference. A table not written
    *    yet reads as the empty template.
    *  - [[write]] overwrites only batch `batchId`'s partition, and
    *    writes it even when `df` is empty: a replayed epoch that
    *    (re-)derives an empty admission must erase a crashed first
    *    attempt's partial rows, not skip past them. */
  private final class BatchParts(fs: org.apache.hadoop.fs.FileSystem,
      batchId: Long) {
    def read(dir: String, template: DataFrame): DataFrame =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir)))
        readPinned(template.sparkSession, dir, template.schema)
          .filter(col("batch") =!= batchId).drop("batch")
      else template.limit(0)
    def write(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
  }

  /** Every partition of a batch-partitioned table, read under `schema`
    * plus the long `batch` partition column. */
  private def readPinned(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.LongType)))
      .parquet(dir)

  /** A column of an admission store's one-row meta table: a [[Pin]] of
    * the admission contract, or a [[SchemaOf]] an index table. */
  private sealed trait MetaCol { def column: String }

  /** One pinned parameter of a store's admission contract: its meta
    * `column`, the `param` name errors show, this commit's `value`, what
    * a legacy store without the column reads as (None: the column marks
    * the store family, so a store without it is refused as another kind
    * of store), and `why` it is pinned. A `modality` pin (what the store
    * holds) is checked before every threshold. */
  private final case class Pin(column: String, param: String, value: Any,
      legacy: Option[Any], why: String, modality: Boolean = false)
      extends MetaCol

  /** The schema of index table `table`, pinned as its JSON for
    * schema-safe offline reads (compaction reads partitions that may
    * all be empty). */
  private final case class SchemaOf(table: String) extends MetaCol {
    def column: String = s"${table}_schema"
  }

  /** The one-row meta table of an admission store of `family`:
    * `contract` lists its columns in order. The row is read once, here;
    * a stored row whose pins disagree with this commit's values refuses
    * the commit, before any work. [[stamp]] writes the row on the first
    * commit. */
  private final class StoreMeta(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      caller: String, family: String, contract: Seq[MetaCol]) {
    private val dir = s"$storeDir/meta"
    /** The stored row; None before the first commit. */
    val row: Option[org.apache.spark.sql.Row] =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir)))
        Some(spark.read.parquet(dir).first())
      else None
    row.foreach { m =>
      val has = m.schema.fieldNames.toSet
      val pins = contract.collect { case p: Pin => p }
      for (p <- pins if p.legacy.isEmpty)
        require(has(p.column), s"$caller: $storeDir is not a " +
          s"$family store (meta pins no ${p.column} — committing " +
          "another kind of batch into the store would silently corrupt " +
          "its admission index)")
      pins.sortBy(!_.modality).foreach { p =>
        val stored =
          if (has(p.column)) m.getAs[Any](p.column) else p.legacy.get
        require(stored == p.value,
          s"$caller: store $storeDir was created with " +
            s"${p.param}=$stored but this commit uses " +
            s"${p.param}=${p.value} — ${p.why}")
      }
    }

    /** Write the row on the first commit; `templates` name each
      * [[SchemaOf]] table's frame. A crash-replay re-stamps identical
      * content, so no swap is needed. */
    def stamp(templates: (String, DataFrame)*): Unit =
      if (row.isEmpty) {
        val template = templates.toMap
        spark.range(1).select(contract.map {
          case p: Pin => lit(p.value).as(p.column)
          case t: SchemaOf =>
            lit(template(t.table).schema.json).as(t.column)
        }: _*).coalesce(1).write.mode("overwrite").parquet(dir)
      }
  }

  /** What kind of admission store `storeDir` is, from its meta row:
    * `curated` (`+url`, `+clf`), `media:image|audio|video` (`media` for
    * an image or audio store that predates `media_kind`) or
    * `paired:<pair kind>`. */
  def storeKind(spark: SparkSession, storeDir: String): String = {
    val m = spark.read.parquet(s"$storeDir/meta").first()
    def has(c: String) = m.schema.fieldNames.contains(c)
    def on(c: String) = has(c) && m.getAs[Boolean](c)
    if (has("max_df"))
      "curated" + (if (on("url_rail")) "+url" else "") +
        (if (on("clf_gate")) "+clf" else "")
    else if (has("min_jac"))
      "paired:" + (if (has("pair_kind")) m.getAs[String]("pair_kind")
        else "captioned-image")
    else if (has("min_containment")) "media:video"
    else if (has("media_kind")) s"media:${m.getAs[String]("media_kind")}"
    else "media"
  }

  /** An index schema pinned in a store's meta row (`field` holds its
    * JSON). */
  private def pinnedSchema(meta: org.apache.spark.sql.Row,
      field: String): StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(meta.getAs[String](field)).asInstanceOf[StructType]

  /** The `batch=<id>` partition ids of a store table, from the file
    * system listing (none if `dir` does not exist). A batch that
    * admitted nothing holds only empty files, so it has no rows — but
    * its directory exists: the listing, not the rows, says which
    * partitions a table has. */
  private[graft] def batchPartitions(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted
  }

  /** True iff `dir` has a compaction swap that crashed mid-flight
    * (its pending marker survives). Commit paths check this and fail
    * LOUDLY: reading a store whose swap half-completed would silently
    * re-admit previously-dropped duplicates — the divergence mode the
    * marker exists to prevent. Re-running the store's compactor
    * completes the swap and clears the marker. */
  private def compactionPending(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__compact_pending"))

  private def requireNoPendingCompaction(
      fs: org.apache.hadoop.fs.FileSystem, caller: String,
      dirs: Seq[String]): Unit =
    dirs.foreach { dir =>
      require(!compactionPending(fs, dir),
        s"$caller: $dir has a crashed compaction swap pending " +
          s"(marker ${dir}__compact_pending) — re-run the store's " +
          "compactor to complete the swap before committing; reading " +
          "the half-swapped index would silently re-admit duplicates")
    }

  /** Crash-safe squash-swap for one batch-partitioned index dir:
    * replaces the `batch=<id>` partitions in `oldParts` with a single
    * `batch=-1` partition holding `squashed`. The only atomic
    * primitive a FileSystem guarantees is rename, so the swap is a
    * marker protocol — every crash point either leaves the store
    * intact or leaves a pending marker from which
    * [[recoverCompactSwap]] completes the identical swap:
    *
    *  1. write `squashed` → `<dir>__compact_tmp` (store untouched);
    *  2. atomically publish `<dir>__compact_pending` listing
    *     `oldParts` (file rename — a partial marker never exists);
    *  3. delete the superseded partitions;
    *  4. rename tmp → `batch=-1`;
    *  5. delete the marker.
    *
    * A crash before 2 leaves the store intact (stale tmp is garbage-
    * collected by the next recovery); after 2, the marker + tmp hold
    * everything recovery needs, and the commit paths refuse to read
    * the store until recovery runs ([[compactionPending]]). */
  private def swapCompacted(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, squashed: DataFrame, oldParts: Seq[Long]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"${dir}__compact_tmp")
    val marker =
      new org.apache.hadoop.fs.Path(s"${dir}__compact_pending")
    val markerTmp =
      new org.apache.hadoop.fs.Path(s"${dir}__compact_pending_tmp")
    squashed.write.mode("overwrite").parquet(tmp.toString)
    val out = fs.create(markerTmp, true)
    out.write(oldParts.mkString(",").getBytes("UTF-8"))
    out.close()
    fs.rename(markerTmp, marker)
    oldParts.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$b"), true)
    }
    fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/batch=-1"))
    fs.delete(marker, false)
  }

  /** Complete (or discard) a [[swapCompacted]] interrupted by a
    * crash. Marker present + tmp present: the squash was fully
    * written, so finish the swap — delete any superseded partitions
    * still standing (including the OLD `batch=-1`; the marker lists
    * it), rename tmp into place. Marker present + tmp gone: the
    * rename already happened, so `batch=-1` is the NEW squash — just
    * sweep the remaining superseded partitions. No marker: any stale
    * tmp/markerTmp predates the destructive phase and is deleted.
    * Idempotent; [[compactStore]] runs it on entry. */
  private[graft] def recoverCompactSwap(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"${dir}__compact_tmp")
    val marker =
      new org.apache.hadoop.fs.Path(s"${dir}__compact_pending")
    val markerTmp =
      new org.apache.hadoop.fs.Path(s"${dir}__compact_pending_tmp")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val content = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        Iterator.continually(in.read(chunk)).takeWhile(_ > 0)
          .foreach(n => buf.write(chunk, 0, n))
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
      val oldParts = content.split(",").filter(_.nonEmpty).map(_.toLong)
      if (fs.exists(tmp)) {
        oldParts.foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$b"),
            true)
        }
        fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/batch=-1"))
      } else {
        // rename already committed — batch=-1 is the new squash
        oldParts.filter(_ != -1L).foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$b"),
            true)
        }
      }
      fs.delete(marker, false)
    } else {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(markerTmp)) fs.delete(markerTmp, false)
    }
  }

  /** One index table of a store compaction: its directory under the
    * store, its meta-pinned schema, and the squash applied to its
    * folded rows (identity for a plain rewrite). */
  private final case class IndexTable(name: String, schema: StructType,
      squash: DataFrame => DataFrame = identity)

  /** The one compactor behind [[compactAdmissionIndex]] and
    * [[compactMediaStore]]. It refuses a directory without the meta
    * table (`notAStore` says why), then, for each of `tables` present
    * under the store and in order, squashes its partitions with
    * `batch <= uptoBatch` into one `batch=-1` history partition (−1 is
    * never a real epoch id, so the exclude-own-batch read is
    * unaffected; a previous `batch=-1` folds back in). The partitions
    * to fold come from [[batchPartitions]], so a batch that admitted
    * nothing is folded too. Rows are read under the pinned schema (a
    * history whose partitions are all empty has no schema to infer).
    * Each table first heals a crashed earlier swap
    * ([[recoverCompactSwap]]) and then swaps through the marker
    * protocol of [[swapCompacted]], so repeated compaction is safe
    * and no crash point silently loses index rows. A table's squash
    * runs after the tables before it are compacted. Returns the names
    * of the tables present, in order.
    *
    * Run it with the stream STOPPED and `uptoBatch` strictly below the
    * checkpoint's last committed epoch: a replayable epoch folded into
    * history could no longer exclude its own first attempt, and
    * replaying a compacted batch id would re-add its rows. */
  private def compactStore(spark: SparkSession, storeDir: String,
      uptoBatch: Long, caller: String, notAStore: String)(
      tables: org.apache.spark.sql.Row => Seq[IndexTable]): Seq[String] = {
    require(uptoBatch >= 0, s"$caller: uptoBatch=$uptoBatch")
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir))
    val metaDir = s"$storeDir/meta"
    require(exists(metaDir), s"$caller: $metaDir missing — $notAStore")
    tables(spark.read.parquet(metaDir).first())
      .filter(t => exists(s"$storeDir/${t.name}"))
      .map { t =>
        val dir = s"$storeDir/${t.name}"
        recoverCompactSwap(fs, dir)
        val oldParts = batchPartitions(fs, dir).filter(_ <= uptoBatch)
        if (oldParts.nonEmpty)
          swapCompacted(fs, dir, t.squash(readPinned(spark, dir, t.schema)
            .filter(col("batch") <= uptoBatch).drop("batch")), oldParts)
        t.name
      }
  }

  /** Offline maintenance for the admission index of a
    * [[toCuratedCorpusStoreIndexed]] store ([[compactStore]]): squash
    * the per-batch df deltas (summed per shingle), postings, fps and —
    * on a URL-rail store — urls partitions up to `uptoBatch`, dropping
    * postings whose cumulative df crossed the cap (they are physically
    * present but logically dead — df never shrinks). Admission
    * decisions after compaction are identical (StreamingSpec pins
    * it); reads get fewer partitions to list and sum. The df cap and
    * the index schemas come from the store's own meta table (stamped
    * by the first commit) — compaction canNOT be run with a cap
    * different from the stream's (a smaller one would permanently drop
    * postings still under the stream's cap, silently changing later
    * admissions). Returns the index tables compacted. */
  def compactAdmissionIndex(spark: SparkSession, storeDir: String,
      uptoBatch: Long): Seq[String] =
    compactStore(spark, storeDir, uptoBatch, "compactAdmissionIndex",
      "not a toCuratedCorpusStoreIndexed store (the meta table pins the " +
        "stream's maxDf; compacting under a different cap would " +
        "silently change subsequent admission decisions)") { meta =>
      val dfs = pinnedSchema(meta, "dfs_schema")
      def summed(d: DataFrame): DataFrame =
        d.groupBy(col("sh")).agg(sum(col("df")).as("df"))
      // postings whose TOTAL df crossed the cap are dead — the probe's
      // under-cap filter can never select them again. dfs is compacted
      // first, so this reads its squashed history
      def live(postings: DataFrame): DataFrame = postings.join(
        summed(readPinned(spark, s"$storeDir/dfs", dfs).drop("batch"))
          .filter(col("df") <= meta.getAs[Int]("max_df"))
          .select(col("sh")), Seq("sh"), "left_semi")
      Seq(IndexTable("dfs", dfs, summed),
        IndexTable("postings", pinnedSchema(meta, "postings_schema"),
          live),
        IndexTable("fps", pinnedSchema(meta, "fps_schema")),
        // URL rail (present only on url_rail stores): the canonical key
        // column is pinned `cu string` by construction
        IndexTable("urls", StructType(Seq(org.apache.spark.sql.types
          .StructField("cu", org.apache.spark.sql.types.StringType)))))
    }

  /** Streaming IMAGE corpus ingest with incremental near-dup
    * admission — the multimodal form of
    * [[toCuratedCorpusStoreIndexed]]: payloads are decoded ONCE per
    * micro-batch (`Multimodal.imageSignatures` — pixel-identity
    * fingerprint + 64-bit dHash from one codec pass) and gated
    * against three index stores beside the corpus, so a batch never
    * re-decodes corpus payloads:
    *
    *  - `<storeDir>/docs`  — admitted media rows
    *  - `<storeDir>/fps`   — pixel fingerprints (exact rail: a
    *    re-encode of an admitted image is byte-different but
    *    pixel-identical and is dropped here)
    *  - `<storeDir>/bands` — (doc, dhash, band, bucket) 16-bit dHash
    *    bands (near rail: a batch image sharing a band with a stored
    *    one — or a smaller-id image in the SAME batch — AND within
    *    `maxHamming` bits is dropped)
    *
    * Within a batch, pixel-identical payloads collapse to the min-id
    * keeper first (the exact-dedup-first discipline). Undecodable
    * payloads are REJECTED (a corpus store admits only what it can
    * read). Replay safety is the indexed store's partition argument:
    * every store is partitioned by `batch=<id>`, reads exclude the
    * current id, writes overwrite only the current id's partitions —
    * a replayed epoch re-derives the identical admission and
    * overwrites itself, even over a crashed multi-store first
    * attempt. A one-row meta table pins `maxHamming` (admission
    * contract) and the index schemas (schema-safe compaction). At
    * 1000-executor scale the bands store is the one to bucket by
    * `bucket`; the fps store is a narrow key column. */
  def toImageCorpusStore(stream: DataFrame, idCol: String,
      payloadCol: String, sourceCol: String, storeDir: String,
      checkpoint: String, maxHamming: Int = 4): StreamingQuery =
    eachBatch(stream, checkpoint)(imageCommit(_, _, idCol, payloadCol,
      sourceCol, storeDir, maxHamming))

  /** One admission cycle of [[toImageCorpusStore]], factored out for
    * spec-driven batch sequences and replays: ONE decode yields both
    * signatures — exact rail = pixel fingerprint, near rail = dHash. */
  private[graft] def imageCommit(batch0: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, sourceCol: String,
      storeDir: String, maxHamming: Int): Unit =
    mediaCommit(batch0, batchId, idCol, payloadCol, sourceCol,
      storeDir, maxHamming, "imageCommit", "image")(media =>
      graft.llmops.Multimodal.imageSignatures(media).toDF()
        .filter(col("pix_fp").isNotNull)
        .select(col("doc_id"), col("pix_fp").as("fp"),
          col("dhash").as("nhash")))

  /** One admission cycle of [[toAudioCorpusStore]]: the acoustic
    * fingerprint ([[graft.llmops.Multimodal.audioEnvelopeHash]]) is
    * BOTH rails — exact = identical envelope (q266's rail: a
    * byte-different gain re-master of an admitted clip usually lands
    * here at Hamming 0), near = banded Hamming ≤ maxHamming (q268). */
  private[graft] def audioCommit(batch0: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, sourceCol: String,
      storeDir: String, maxHamming: Int, window: Int): Unit =
    mediaCommit(batch0, batchId, idCol, payloadCol, sourceCol,
      storeDir, maxHamming, "audioCommit", "audio")(media =>
      graft.llmops.Multimodal.audioEnvelopeHash(media, window).toDF()
        .filter(col("env_hash").isNotNull)
        .select(col("doc_id"), col("env_hash").as("fp"),
          col("env_hash").as("nhash")))

  /** The shared admission kernel behind [[toImageCorpusStore]] and
    * [[toAudioCorpusStore]], generic over a per-batch signature map
    * `sign`: media rows → (doc_id, fp, nhash) where `fp` is the
    * exact-identity fingerprint, `nhash` the 64-bit near-dup hash,
    * and payloads `sign` cannot decode are absent (rejected — a
    * corpus store admits only what it can read). Within a batch,
    * fp-identical payloads collapse to the min-id keeper first (the
    * exact-dedup-first discipline) and near-dup survivors collapse
    * component-min via a band self-join, then the batch probes the
    * fps store (exact rail) and the 4×16-bit band store (near rail:
    * shared band AND bit_count ≤ maxHamming) — so near-dup admission
    * holds both across AND within micro-batches. Every store is
    * partitioned by `batch=<id>`; reads exclude the current id,
    * writes overwrite only the current id's partitions — a replayed
    * epoch re-derives the identical admission and overwrites itself,
    * even over a crashed multi-store first attempt. A one-row meta
    * table pins `maxHamming`, the modality (`media_kind`: an image and
    * an audio store have the same index schemas, so nothing else would
    * stop one modality's hashes being probed against the other's) and
    * the index schemas. */
  private def mediaCommit(batch0: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, sourceCol: String,
      storeDir: String, maxHamming: Int, caller: String, kind: String)(
      sign: org.apache.spark.sql.Dataset[
        graft.llmops.Multimodal.MediaRecord] => DataFrame): Unit = {
    import graft.core.Checkpoints.BarrierOps
    val s = batch0.sparkSession
    val (docsDir, fpsDir, bandsDir) =
      (s"$storeDir/docs", s"$storeDir/fps", s"$storeDir/bands")
    val fs = storeFs(s, storeDir)
    requireNoPendingCompaction(fs, caller, Seq(fpsDir, bandsDir))
    // a store without media_kind predates the pin: accepted as any kind
    val meta = new StoreMeta(s, fs, storeDir, caller, "media corpus", Seq(
      Pin("max_hamming", "maxHamming", maxHamming, None,
        "the threshold is part of the store's admission contract"),
      SchemaOf("fps"), SchemaOf("bands"),
      Pin("media_kind", "media_kind", kind, Some(kind),
        "one modality per store", modality = true)))
    val part = new BatchParts(fs, batchId)
    // ONE signature pass; undecodable payloads rejected by `sign`
    val media = mediaRecords(batch0, idCol, payloadCol, sourceCol)
    val sigs = sign(media).barrier()
    // within-batch exact dedup, deterministic min-id keeper
    val keep = sigs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val b1 = sigs.join(keep, Seq("doc_id"), "left_semi").barrier()
    // exact rail: content fingerprint already admitted
    val fpTemplate = b1.select(col("fp"))
    val exactDropped = b1
      .join(part.read(fpsDir, fpTemplate), Seq("fp"), "left_semi")
      .select(col("doc_id"))
    // near rail: shared 16-bit band + Hamming ≤ maxHamming
    val batchBands = bandsOf(b1).barrier() // store probe + both
    // sides of the within-batch self-join
    val nearDropped = hammingPairs(batchBands,
        part.read(bandsDir, batchBands), maxHamming, intra = false)
      .select(col("doc_id")).distinct()
    // within-batch near rail: two near-dup (non-fp-identical) media
    // arriving in the SAME micro-batch must not both be admitted
    // permanently. Survivorship is component-min (drop any doc with
    // a smaller-id near-neighbor in the batch) — deterministic,
    // order-free, and the same rule the offline keep-lists use; in a
    // chain A~B~C only A survives even where one-at-a-time arrival
    // would also keep C. Per-micro-batch self-join, so pair volume
    // is bounded by the batch, not the corpus.
    val intraNearDropped = hammingPairs(batchBands, batchBands,
        maxHamming, intra = true)
      .select(col("doc_id")).distinct()
    val dropped = exactDropped.unionByName(nearDropped)
      .unionByName(intraNearDropped).distinct()
    val admitted = b1.join(dropped, Seq("doc_id"), "left_anti")
      .barrier() // feeds docs, fps AND bands writes
    meta.stamp("fps" -> fpTemplate, "bands" -> batchBands)
    val docsOut = media.drop("n_chars")
      .join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
    part.write(docsOut, docsDir)
    part.write(admitted.select(col("fp")), fpsDir)
    part.write(bandsOf(admitted), bandsDir)
    ()
  }

  /** A media batch as [[graft.llmops.Multimodal.MediaRecord]]s: the one
    * projection every media and paired kernel decodes from. */
  private def mediaRecords(df: DataFrame, idCol: String,
      payloadCol: String, sourceCol: String)
      : org.apache.spark.sql.Dataset[graft.llmops.Multimodal.MediaRecord] = {
    import df.sparkSession.implicits._
    df.select(
        col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload"),
        col(sourceCol).as("source"),
        lit(0L).as("n_chars"))
      .as[graft.llmops.Multimodal.MediaRecord]
  }

  /** The 4×16-bit bands of a 64-bit near-dup hash: one
    * (doc_id, nhash, band, bucket) row per band. */
  private def bandsOf(df: DataFrame): DataFrame = df.select(
    col("doc_id"), col("nhash"),
    posexplode(array((0 until 4).map(b =>
      shiftright(col("nhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
      .as(Seq("band", "bucket")))

  /** Near-rail candidates: each batch doc of `batchBands` against the
    * docs `ob` of `other` (a store's bands, or with `intra` the batch
    * itself, smaller ids only) that share a band and lie within
    * `maxHamming` bits. Pairs repeat once per shared band. */
  private def hammingPairs(batchBands: DataFrame, other: DataFrame,
      maxHamming: Int, intra: Boolean): DataFrame =
    batchBands
      .select(col("doc_id"), col("nhash").as("__hb"), col("band"),
        col("bucket"))
      .join(other.select(col("doc_id").as("ob"),
        col("nhash").as("__hs"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter((if (intra) col("ob") < col("doc_id") else lit(true))
        && bit_count(col("__hb").bitwiseXOR(col("__hs"))) <= maxHamming)

  /** Streaming AUDIO corpus ingest with incremental near-dup
    * admission — the acoustic form of [[toImageCorpusStore]], same
    * store layout and replay contract, with
    * [[graft.llmops.Multimodal.audioEnvelopeHash]] as the one decode
    * pass: exact rail = identical 64-window envelope, near rail =
    * Hamming-banded fingerprint distance ≤ `maxHamming`. */
  def toAudioCorpusStore(stream: DataFrame, idCol: String,
      payloadCol: String, sourceCol: String, storeDir: String,
      checkpoint: String, maxHamming: Int = 4, window: Int = 4)
      : StreamingQuery =
    eachBatch(stream, checkpoint)(audioCommit(_, _, idCol, payloadCol,
      sourceCol, storeDir, maxHamming, window))

  /** Streaming VIDEO corpus ingest with incremental near-dup
    * admission — the third modality beside [[toImageCorpusStore]]
    * and [[toAudioCorpusStore]], same store discipline (batch
    * partitions, exclude-own-batch reads, overwrite-own-batch
    * writes, one-row meta pinning the admission contract) with the
    * rails the video queries use offline:
    *
    *  - exact rail = frame-SET fingerprint
    *    ([[graft.llmops.Multimodal.frameSetFingerprints]]): a
    *    re-containered / re-ordered / frame-repeated clip with the
    *    same distinct frame content collapses (q269's exact path);
    *  - near rail = q270's capped-LSH containment: set-MinHash bands
    *    over the frame fps propose candidates (shared (band, bucket)
    *    with a stored clip, OR with a smaller-id clip in the SAME
    *    batch), and candidates are verified by EXACT containment —
    *    shared distinct frames / min(|A|, |B|) ≥ `minContainment` —
    *    against the store's `frames` index, so a trimmed re-cut of
    *    an admitted clip is dropped, not just a re-encode.
    *
    * Store layout: `docs` (admitted rows), `fps` (set fingerprints),
    * `bands` ((doc, band, bucket) MinHash bands), `frames`
    * ((doc, frame_fp) distinct frames of admitted clips — the
    * verify side). Stored (band, bucket) buckets holding more than
    * `maxBucket` clips are excluded from candidacy (the df-cap
    * discipline: a bucket dominated by boilerplate intro frames
    * proposes nothing; the threshold is part of the admission
    * contract and pinned in meta with `minContainment` and
    * `frameBytes`). Clips shorter than one frame are REJECTED (a
    * corpus store admits only what it can read). At 1000-executor
    * scale the `frames` index is the big side and every probe
    * against it is an equi-join on `frame_fp` restricted to
    * candidates — never all-pairs. */
  def toVideoCorpusStore(stream: DataFrame, idCol: String,
      payloadCol: String, sourceCol: String, storeDir: String,
      checkpoint: String, minContainment: Double = 0.75,
      frameBytes: Int = 16,
      maxBucket: Int = graft.llmops.TextOps.DefaultMaxBucket)
      : StreamingQuery =
    eachBatch(stream, checkpoint)(videoCommit(_, _, idCol, payloadCol,
      sourceCol, storeDir, minContainment, frameBytes, maxBucket))

  /** One admission cycle of [[toVideoCorpusStore]], factored out for
    * spec-driven batch sequences and replays. */
  private[graft] def videoCommit(batch0: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, sourceCol: String,
      storeDir: String, minContainment: Double, frameBytes: Int,
      maxBucket: Int): Unit = {
    import graft.core.Checkpoints.BarrierOps
    import graft.llmops.Multimodal
    require(minContainment > 0 && minContainment <= 1.0,
      s"videoCommit: minContainment=$minContainment")
    require(frameBytes >= 1, s"videoCommit: frameBytes=$frameBytes")
    require(maxBucket >= 1, s"videoCommit: maxBucket=$maxBucket")
    val s = batch0.sparkSession
    val (docsDir, fpsDir, bandsDir, framesDir) =
      (s"$storeDir/docs", s"$storeDir/fps", s"$storeDir/bands",
        s"$storeDir/frames")
    val fs = storeFs(s, storeDir)
    requireNoPendingCompaction(fs, "videoCommit",
      Seq(fpsDir, bandsDir, framesDir))
    val contract = "part of the store's admission contract"
    val meta = new StoreMeta(s, fs, storeDir, "videoCommit",
      "video corpus", Seq(
        Pin("min_containment", "minContainment", minContainment, None,
          s"the containment threshold is $contract"),
        Pin("frame_bytes", "frameBytes", frameBytes, None,
          s"the frame size is $contract"),
        Pin("max_bucket", "maxBucket", maxBucket, None,
          s"the bucket cap is $contract"),
        SchemaOf("fps"), SchemaOf("bands"), SchemaOf("frames")))
    val part = new BatchParts(fs, batchId)
    // ONE frame pass; clips shorter than one frame emit no rows and
    // are thereby rejected
    val media = mediaRecords(batch0, idCol, payloadCol, sourceCol)
    val d0 = Multimodal.frameFingerprints(media, frameBytes)
      .select(col("doc_id"), col("frame_fp")).distinct().barrier()
    // ONE aggregation yields the set fingerprint (exact rail), the
    // within-batch min-id keeper, the MinHash sigs (near-rail bands)
    // and the frame counts (containment denominators)
    val prof = Multimodal.frameSetProfile(d0).barrier()
    // within-batch exact rail: identical frame SETS collapse to the
    // min-id keeper (exact-dedup-first)
    val b1set = prof.filter(col("doc_id") === col("rep"))
      .withColumnRenamed("set_fp", "fp")
      .barrier() // exact probe, bands, nf AND admitted fps write
    val b1frames = d0.join(b1set.select(col("doc_id")),
      Seq("doc_id"), "left_semi").barrier() // verify side + write
    // exact rail: set fingerprint already admitted
    val fpTemplate = b1set.select(col("fp"))
    val exactDropped = b1set
      .join(part.read(fpsDir, fpTemplate), Seq("fp"), "left_semi")
      .select(col("doc_id"))
    // near rail, candidate stage: set-MinHash bands (q270's engine)
    val batchBands = b1set
      .select(col("doc_id"), posexplode(array(
        col("sig_0"), col("sig_1"), col("sig_2"), col("sig_3")))
        .as(Seq("band", "bucket")))
    val storedBands = part.read(bandsDir, batchBands)
      .barrier() // bucket-cap count + candidate probe
    // boilerplate guard: a stored bucket over maxBucket proposes no
    // candidates (the curated store's df-cap discipline — once hot,
    // a bucket only grows, so the exclusion is stable across batches)
    val hotBuckets = storedBands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
      .select(col("band"), col("bucket"))
    val crossCand = batchBands
      .join(hotBuckets, Seq("band", "bucket"), "left_anti")
      .join(storedBands.select(col("doc_id").as("ob"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select(col("doc_id"), col("ob")).distinct()
    // within-batch candidates: component-min survivorship (drop the
    // larger id of a verified pair), mirroring mediaCommit's intra
    // rail
    val intraCand = batchBands
      .join(batchBands.select(col("doc_id").as("ob"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .filter(col("ob") < col("doc_id"))
      .select(col("doc_id"), col("ob")).distinct()
    val cand = crossCand.unionByName(intraCand).distinct()
    // near rail, verify stage: EXACT containment on candidates only
    val otherFrames = part.read(framesDir, b1frames)
      .unionByName(b1frames).barrier()
    val nfB = b1set.select(col("doc_id"), col("nf").as("__nb"))
    val nfO = otherFrames.groupBy(col("doc_id").as("ob"))
      .agg(count(lit(1)).as("__no"))
    val nearDropped = cand
      .join(b1frames, Seq("doc_id"))
      .join(otherFrames.select(col("doc_id").as("ob"),
        col("frame_fp")), Seq("ob", "frame_fp"))
      .groupBy(col("doc_id"), col("ob"))
      .agg(count(lit(1)).as("shared"))
      .join(nfB, Seq("doc_id"))
      .join(nfO, Seq("ob"))
      .filter(col("shared").cast("double")
        / least(col("__nb"), col("__no")) >= minContainment)
      .select(col("doc_id")).distinct()
    val dropped = exactDropped.unionByName(nearDropped).distinct()
    val admitted = b1set.join(dropped, Seq("doc_id"), "left_anti")
      .barrier() // feeds docs, fps, bands AND frames writes
    meta.stamp("fps" -> fpTemplate, "bands" -> batchBands,
      "frames" -> b1frames)
    val admittedIds = admitted.select(col("doc_id"))
    part.write(media.drop("n_chars").join(admittedIds, Seq("doc_id"),
      "left_semi"), docsDir)
    part.write(admitted.select(col("fp")), fpsDir)
    part.write(batchBands.join(admittedIds, Seq("doc_id"), "left_semi"),
      bandsDir)
    part.write(b1frames.join(admittedIds, Seq("doc_id"), "left_semi"),
      framesDir)
    ()
  }

  /** Streaming CAPTIONED-image corpus ingest — the paired-modality
    * admission store (the streaming form of the q274/q275 operators
    * and the `paired_release` job, completing store-level parity for
    * the paired modality): a batch row is dropped only when BOTH
    * modalities agree it duplicates an admitted row.
    *
    *  - exact rail: identical decoded PIXELS and identical caption
    *    BYTES — the (pix_fp, md5(caption)) composite probes the
    *    `fps` store. A re-encode under the same caption collapses;
    *    the same image under a different caption is ADMITTED (the
    *    caption carries information — the image-only store would
    *    over-drop exactly here);
    *  - near rail: dHash band candidates (the image store's
    *    machinery) verified by BOTH Hamming ≤ `maxHamming` AND
    *    caption 3-shingle Jaccard ≥ `minJac` against the `postings`
    *    index — across AND within micro-batches (component-min
    *    within a batch).
    *
    * Store layout: `docs`, `fps` (pix_fp, cap_fp), `bands`
    * (doc, dhash, band, bucket), `postings` (doc, nsh, sh) caption
    * shingles of admitted rows. Same batch-partitioned replay
    * contract as every other store here; meta pins (maxHamming,
    * minJac) and the index schemas; [[compactMediaStore]] squashes
    * all three indexes. Scale shape: the caption verify is an
    * equi-join on (candidate doc, shingle) RESTRICTED to band
    * candidates — never a corpus shingle self-join, so no df cap is
    * needed on this path (candidates are bounded by the image
    * bands). Undecodable payloads are rejected. */
  def toCaptionedImageCorpusStore(stream: DataFrame, idCol: String,
      payloadCol: String, textCol: String, sourceCol: String,
      storeDir: String, checkpoint: String, maxHamming: Int = 4,
      minJac: Double = 0.2): StreamingQuery =
    eachBatch(stream, checkpoint)(captionedCommit(_, _, idCol,
      payloadCol, textCol, sourceCol, storeDir, maxHamming, minJac))

  /** One admission cycle of [[toCaptionedImageCorpusStore]], factored
    * out for spec-driven batch sequences and replays: the
    * [[pairedCommit]] kernel with image signatures (exact fp =
    * pixels, near hash = dHash). */
  private[graft] def captionedCommit(batch0: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, textCol: String,
      sourceCol: String, storeDir: String, maxHamming: Int,
      minJac: Double): Unit =
    pairedCommit(batch0, batchId, idCol, payloadCol, textCol,
      sourceCol, storeDir, maxHamming, minJac, "captionedCommit",
      "captioned-image")(media =>
      graft.llmops.Multimodal.imageSignatures(media).toDF()
        .filter(col("pix_fp").isNotNull)
        .select(col("doc_id"), col("pix_fp").as("fp"),
          col("dhash").as("nhash")))

  /** Streaming AUDIO+TRANSCRIPT paired ingest — the fourth cell of
    * the modality × lifecycle grid (batch audio-transcript release =
    * `PairedRelease.releaseRails`; streaming image+caption =
    * [[toCaptionedImageCorpusStore]]): the same [[pairedCommit]]
    * kernel with acoustic signatures. Exact rail = (64-window
    * envelope hash, md5 transcript) — a gain re-master of an admitted
    * clip under the same transcript drops here; near rail = banded
    * envelope Hamming ≤ `maxHamming` VERIFIED by transcript shingle
    * Jaccard ≥ `minJac` — a re-encode with a re-punctuated transcript
    * drops, an acoustically-similar clip with genuinely different
    * speech does not. Same store layout, meta contract, replay and
    * compaction story as the captioned-image store — no new store
    * code, by construction. */
  def toAudioTranscriptCorpusStore(stream: DataFrame, idCol: String,
      payloadCol: String, textCol: String, sourceCol: String,
      storeDir: String, checkpoint: String, maxHamming: Int = 4,
      minJac: Double = 0.2, window: Int = 4): StreamingQuery =
    eachBatch(stream, checkpoint)(audioTranscriptCommit(_, _, idCol,
      payloadCol, textCol, sourceCol, storeDir, maxHamming, minJac,
      window))

  /** One admission cycle of [[toAudioTranscriptCorpusStore]]. */
  private[graft] def audioTranscriptCommit(batch0: DataFrame,
      batchId: Long, idCol: String, payloadCol: String,
      textCol: String, sourceCol: String, storeDir: String,
      maxHamming: Int, minJac: Double, window: Int): Unit =
    pairedCommit(batch0, batchId, idCol, payloadCol, textCol,
      sourceCol, storeDir, maxHamming, minJac,
      "audioTranscriptCommit", "audio-transcript")(media =>
      graft.llmops.Multimodal.audioEnvelopeHash(media, window).toDF()
        .filter(col("env_hash").isNotNull)
        .select(col("doc_id"),
          col("env_hash").cast("string").as("fp"),
          col("env_hash").as("nhash")))

  /** Streaming VIDEO+TRANSCRIPT paired ingest — the final cell of
    * the modality × lifecycle grid (batch counterpart:
    * `PairedRelease.releaseVideoTranscript`): the same
    * [[pairedCommit]] kernel with the video signature map. Exact
    * rail = (distinct-frame-SET fingerprint, md5 transcript) — a
    * re-ordered or frame-repeated re-encode of an admitted clip
    * under the same transcript drops here; near rail = the packed
    * set-MinHash bands (each 16-bit band is one MinHash slot of the
    * frame set, so a SHARED BAND IS a shared slot — the estimator's
    * own candidate semantic; the kernel's secondary bit filter is
    * pinned wide open at 64, because bitwise Hamming over packed
    * MinHash slots is noise) VERIFIED by transcript shingle
    * Jaccard ≥ `minJac` — a trimmed re-cut with a paraphrased
    * transcript drops, a visually-near clip carrying genuinely
    * different speech does not. Store layout, meta contract, replay
    * and compaction are the shared kernel's. */
  def toVideoTranscriptCorpusStore(stream: DataFrame, idCol: String,
      payloadCol: String, textCol: String, sourceCol: String,
      storeDir: String, checkpoint: String,
      minJac: Double = 0.2, frameBytes: Int = 8): StreamingQuery =
    eachBatch(stream, checkpoint)(videoTranscriptCommit(_, _, idCol,
      payloadCol, textCol, sourceCol, storeDir, minJac, frameBytes))

  /** One admission cycle of [[toVideoTranscriptCorpusStore]]. */
  private[graft] def videoTranscriptCommit(batch0: DataFrame,
      batchId: Long, idCol: String, payloadCol: String,
      textCol: String, sourceCol: String, storeDir: String,
      minJac: Double, frameBytes: Int): Unit =
    pairedCommit(batch0, batchId, idCol, payloadCol, textCol,
      sourceCol, storeDir, maxHamming = 64, minJac,
      "videoTranscriptCommit", "video-transcript")(media =>
      graft.llmops.PairedRelease.videoSignatures(media, frameBytes)
        .filter(col("media_fp").isNotNull)
        .select(col("doc_id"),
          col("media_fp").cast("string").as("fp"),
          col("near_hash").as("nhash")))

  /** The shared PAIRED-admission kernel behind
    * [[toCaptionedImageCorpusStore]],
    * [[toAudioTranscriptCorpusStore]] and
    * [[toVideoTranscriptCorpusStore]] — [[mediaCommit]]'s two-rail
    * discipline lifted to (media, text) pairs, generic over the
    * per-batch media signature map `sign`: media rows → (doc_id, fp,
    * nhash) where `fp` is the modality's exact-identity fingerprint,
    * `nhash` its 64-bit near-dup hash, and undecodable payloads are
    * absent (rejected). Exact rail = (fp, md5 text); near rail =
    * 4×16-bit `nhash` bands ≤ maxHamming proposing candidates that
    * the TEXT side verifies by exact shingle Jaccard ≥ minJac. The
    * meta table pins (maxHamming, minJac, pair_kind) as the
    * admission contract — pair_kind stops an audio-transcript commit
    * from silently corrupting a captioned-image store, whose meta
    * fields are otherwise identical. */
  private def pairedCommit(batch0: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, textCol: String,
      sourceCol: String, storeDir: String, maxHamming: Int,
      minJac: Double, caller: String, kind: String)(
      sign: org.apache.spark.sql.Dataset[
        graft.llmops.Multimodal.MediaRecord] => DataFrame): Unit = {
    import graft.core.Checkpoints.BarrierOps
    import graft.llmops.TextOps
    require(minJac > 0 && minJac <= 1.0,
      s"$caller: minJac=$minJac")
    val s = batch0.sparkSession
    val (docsDir, fpsDir, bandsDir, postingsDir) =
      (s"$storeDir/docs", s"$storeDir/fps", s"$storeDir/bands",
        s"$storeDir/postings")
    val fs = storeFs(s, storeDir)
    requireNoPendingCompaction(fs, caller,
      Seq(fpsDir, bandsDir, postingsDir))
    // pre-r13 captioned stores have no pair_kind column (image)
    val meta = new StoreMeta(s, fs, storeDir, caller, "paired admission",
      Seq(
        Pin("max_hamming", "maxHamming", maxHamming, None,
          "the Hamming threshold is part of the store's admission " +
            "contract"),
        Pin("min_jac", "minJac", minJac, None,
          "the text threshold is part of the store's admission contract"),
        Pin("pair_kind", "pair_kind", kind, Some("captioned-image"),
          "one modality per store", modality = true),
        SchemaOf("fps"), SchemaOf("bands"), SchemaOf("postings")))
    meta.row.foreach { m =>
      // the pinned index schemas are part of the contract too: a
      // store written by an engine whose fps partitions carry
      // different column names (e.g. a pre-r13 captioned store's
      // pix_fp) would read as all-NULL fp under [[BatchParts]]'s template
      // schema — the exact rail silently never matching historical
      // pairs — and a later compaction under the pinned schema would
      // null the NEW batches' fingerprints permanently. Refuse
      // instead; migrate the store offline before committing.
      Seq(("fps_schema", Seq("fp", "cap_fp")),
          ("bands_schema", Seq("doc_id", "nhash", "band", "bucket")),
          ("postings_schema", Seq("doc_id", "nsh", "sh")))
        .foreach { case (field, want) =>
          if (m.schema.fieldNames.contains(field)) {
            val got = pinnedSchema(m, field).fieldNames.toSeq
            require(got == want,
              s"$caller: store $storeDir pins $field columns " +
                s"(${got.mkString(", ")}) but this engine writes " +
                s"(${want.mkString(", ")}) — a store written by an " +
                "older index layout; rewrite its index partitions " +
                "(and meta) to the current layout before committing")
          }
        }
    }
    val part = new BatchParts(fs, batchId)
    val base = batch0.select(
        col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload"),
        col(textCol).as("text"),
        col(sourceCol).as("source"))
      .barrier() // decode + shingles + docs write share one scan
    // ONE decode; undecodable payloads rejected
    val sigs = sign(mediaRecords(base, "doc_id", "payload", "source"))
      .join(base.select(col("doc_id"), md5(col("text")).as("cap_fp")),
        Seq("doc_id"))
      .select(col("doc_id"), col("fp"), col("cap_fp"), col("nhash"))
      .barrier()
    // within-batch exact rail: min-id keeper per (media fp, text)
    val keep = sigs.groupBy(col("fp"), col("cap_fp"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val b1 = sigs.join(keep, Seq("doc_id"), "left_semi").barrier()
    val b1Sh = base
      .join(b1.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        TextOps.shingleHashes(col("text")).as("arr"))
      .select(col("doc_id"), size(col("arr")).as("nsh"),
        explode(col("arr")).as("sh"))
      .barrier() // verify side ×2 + postings write
    // exact rail: paired fingerprint already admitted
    val fpTemplate = b1.select(col("fp"), col("cap_fp"))
    val exactDropped = b1
      .join(part.read(fpsDir, fpTemplate), Seq("fp", "cap_fp"),
        "left_semi")
      .select(col("doc_id"))
    // near rail, media candidates: shared 16-bit nhash band AND
    // Hamming ≤ maxHamming (the media store's kernel), batch vs
    // store and batch vs smaller-id batch peer
    val batchBands = bandsOf(b1).barrier()
    def hammingCand(other: DataFrame, intra: Boolean): DataFrame =
      hammingPairs(batchBands, other, maxHamming, intra)
        .select(col("doc_id"), col("ob")).distinct()
    val cand = hammingCand(part.read(bandsDir, batchBands), intra = false)
      .unionByName(hammingCand(batchBands, intra = true))
      .distinct()
    // near rail, caption verify: exact Jaccard on candidates only —
    // the shingle join is keyed (candidate doc, shingle), bounded by
    // |cand| × shingles/doc, never a corpus self-join
    val otherSh = part.read(postingsDir, b1Sh).unionByName(b1Sh)
    val nearDropped = cand
      .join(b1Sh.select(col("doc_id"), col("nsh").as("__nb"),
        col("sh")), Seq("doc_id"))
      .join(otherSh.select(col("doc_id").as("ob"),
        col("nsh").as("__no"), col("sh")), Seq("ob", "sh"))
      .groupBy(col("doc_id"), col("ob"), col("__nb"), col("__no"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast("double")
        / (col("__nb") + col("__no") - col("common")) >= minJac)
      .select(col("doc_id")).distinct()
    val dropped = exactDropped.unionByName(nearDropped).distinct()
    val admitted = b1.join(dropped, Seq("doc_id"), "left_anti")
      .barrier() // feeds docs, fps, bands AND postings writes
    meta.stamp("fps" -> fpTemplate, "bands" -> batchBands,
      "postings" -> b1Sh)
    val admittedIds = admitted.select(col("doc_id"))
    part.write(base.join(admittedIds, Seq("doc_id"), "left_semi"),
      docsDir)
    part.write(admitted.select(col("fp"), col("cap_fp")), fpsDir)
    part.write(batchBands.join(admittedIds, Seq("doc_id"), "left_semi"),
      bandsDir)
    part.write(b1Sh.join(admittedIds, Seq("doc_id"), "left_semi"),
      postingsDir)
    ()
  }

  /** Offline compaction for a media admission store
    * ([[toImageCorpusStore]] / [[toAudioCorpusStore]] /
    * [[toVideoCorpusStore]] and the paired stores) through
    * [[compactStore]]: an identity rewrite of the `fps` and `bands`
    * index partitions up to `uptoBatch` into `batch=-1` — plus the
    * `frames` verify index of a video store and the caption `postings`
    * of a paired store; each store's meta pins its extra schema, which
    * is how the compactor knows what is there — so a long-lived
    * store's probe reads stop scaling with micro-batch count.
    * Admission decisions are unchanged: both rails read the union of
    * partitions and the squash adds or drops no rows. The `docs`
    * partitions are the corpus itself and are left alone — compact
    * them with `IO.compact` under its exclusive-access contract if
    * needed. Returns the index tables compacted. */
  def compactMediaStore(spark: SparkSession, storeDir: String,
      uptoBatch: Long): Seq[String] =
    compactStore(spark, storeDir, uptoBatch, "compactMediaStore",
      "not a media admission store (the meta table pins the index " +
        "schemas; inference over possibly-empty partitions is " +
        "unsafe)") { meta =>
      Seq("fps", "bands", "frames", "postings")
        .filter(t => meta.schema.fieldNames.contains(s"${t}_schema"))
        .map(t => IndexTable(t, pinnedSchema(meta, s"${t}_schema")))
    }

  /** Streaming document egress: each micro-batch pushes its rows as
    * JSON documents through a DocSink transport (STOMP frames,
    * OpenSearch bulk bodies, …) from the EXECUTORS — the streaming
    * form of the reference's batch AMQ push, without its
    * toLocalIterator driver bottleneck. */
  def toTransport(df: DataFrame, transport: graft.core.DocSink.Transport,
      checkpoint: String, chunkSize: Int = 1000): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.core.DocSink.push(batch, transport, chunkSize)
      }
      .start()

  /** Start a console-less memory sink for tests/inspection. */
  def toMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
}
