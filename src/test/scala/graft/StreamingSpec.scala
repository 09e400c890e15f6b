package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Structured Streaming specs (SURVEY.md §2.10): file-source
  * incremental ingestion, watermarked tumbling windows, watermarked
  * dedup, custom session state, foreachBatch partitioned store. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-stream-test")

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("tumbling window counts over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    input.addData((ts(1), 1.0), (ts(5), 2.0), (ts(13), 3.0), (ts(25), 4.0))
    val binned = Streams.tumblingCounts(
      input.toDF().toDF("ts", "value"), "ts", "12 minutes", "1 minute")
    val q = Streams.toMemory(binned, "bins")
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT bin_start, n FROM bins ORDER BY bin_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    assert(got.toSeq == Seq(
      ("2024-01-01 00:00:00.0", 2L),
      ("2024-01-01 00:12:00.0", 1L),
      ("2024-01-01 00:24:00.0", 1L)))
  }

  test("hopping windows: each event lands in size/slide windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    input.addData((ts(1), 1.0), (ts(13), 2.0))
    val hopped = Streams.hoppingCounts(
      input.toDF().toDF("ts", "value"), "ts",
      "12 minutes", "6 minutes", "1 minute")
    val q = Streams.toMemory(hopped, "hops")
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT win_start, n FROM hops ORDER BY win_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    // event@1 -> windows starting 23:54 and 00:00; event@13 -> 00:06
    // and 00:12; each event in exactly 12/6 = 2 windows
    assert(got.map(_._2).sum == 4L)
    assert(got.toSeq == Seq(
      ("2023-12-31 23:54:00.0", 1L),
      ("2024-01-01 00:00:00.0", 1L),
      ("2024-01-01 00:06:00.0", 1L),
      ("2024-01-01 00:12:00.0", 1L)))
  }

  test("watermarked dedup drops same-key re-reads within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    input.addData(("job1", ts(1)), ("job1", ts(1)), ("job2", ts(2)),
      ("job1", ts(1)))
    val dd = Streams.dedupByKey(input.toDF().toDF("job_id", "ts"),
      "ts", "10 minutes", Seq("job_id"))
    val q = Streams.toMemory(dd, "dedup", OutputMode.Append())
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT job_id FROM dedup ORDER BY job_id")
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("job1", "job2"))
  }

  test("retry dedup drops re-deliveries with DIFFERENT timestamps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    // job1 re-delivered twice with fresh timestamps (producer retry):
    // (keys :+ ts) identity would keep all three; within-watermark
    // dedup keeps only the first
    input.addData(("job1", ts(1)), ("job1", ts(2)), ("job2", ts(2)),
      ("job1", ts(3)))
    val dd = Streams.dedupRetries(input.toDF().toDF("job_id", "ts"),
      "ts", "10 minutes", Seq("job_id"))
    val q = Streams.toMemory(dd, "retrydedup", OutputMode.Append())
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT job_id, ts FROM retrydedup ORDER BY job_id")
      .collect().map(r => (r.getString(0), r.getTimestamp(1)))
    assert(got.toSeq == Seq(("job1", ts(1)), ("job2", ts(2))))
  }

  test("stream-static enrich: micro-batches join the broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("/store/f1", "/PrimA/Proc/RAW"),
      ("/store/f2", "/PrimB/Proc/AOD")).toDF("file_lfn", "dataset")
    val input = MemoryStream[(String, Long)]
    input.addData(("/store/f1", 10L), ("/store/f1", 20L),
      ("/store/f2", 5L), ("/store/ghost", 1L))
    val enriched = Streams.enrich(
      input.toDF().toDF("file_lfn", "read_bytes"), dim, Seq("file_lfn"))
    val q = Streams.toMemory(enriched, "enriched", OutputMode.Append())
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT dataset, sum(read_bytes) FROM enriched GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // ghost LFN dropped by the inner join; both f1 reads land
    assert(got.toSeq == Seq(("/PrimA/Proc/RAW", 30L),
      ("/PrimB/Proc/AOD", 5L)))
  }

  test("stream-stream interval join: right events within lookBack only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp)]
    val signups = MemoryStream[(Long, Timestamp)]
    purchases.addData((1L, ts(20)), (2L, ts(20)))
    signups.addData(
      (1L, ts(15)),  // within 10 min of user 1's purchase → joins
      (1L, ts(5)),   // too old → excluded by the interval
      (2L, ts(25)))  // after the purchase → excluded
    val joined = Streams.intervalJoin(
      purchases.toDF().toDF("user_id", "p_ts"),
      signups.toDF().toDF("user_id", "s_ts"),
      "user_id", "p_ts", "s_ts",
      lateness = "1 hour", lookBack = "10 minutes")
    val q = Streams.toMemory(joined, "ij", OutputMode.Append())
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT user_id, s_ts FROM ij ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString))
    assert(got.toSeq == Seq((1L, "2024-01-01 00:15:00.0")))
  }

  test("streaming near-dup filter: arriving dup pairs with state, " +
    "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val cands = Streams.streamingNearDupCandidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    // default trigger (not AvailableNow): the query must survive the
    // second addData below
    val q = cands.toDF().writeStream.format("memory")
      .queryName("neardup").outputMode("append").start()
    // batch 1: two unrelated docs → no pairs
    input.addData((1L, "w1 w2 w3 w4 w5"), (2L, "z1 z2 z3 z4 z5"))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM neardup").count() == 0)
    // batch 2: a duplicate of doc 1 arrives → pair (1,3) emitted
    input.addData((3L, "w1 w2 w3 w4 w5"))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT DISTINCT _1, _2 FROM neardup")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L)))
  }

  test("dedupAgainstStore drops keys the lake already holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Seq(("doc1", 1L), ("doc2", 2L)).toDF("key", "old")
    val input = MemoryStream[(String, Long)]
    input.addData(("doc1", 10L), ("doc3", 30L))
    val fresh = Streams.dedupAgainstStore(
      input.toDF().toDF("key", "v"), store, Seq("key"))
    val q = Streams.toMemory(fresh, "fresh", OutputMode.Append())
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT key FROM fresh").collect()
      .map(_.getString(0))
    assert(got.toSeq == Seq("doc3"))
  }

  test("streaming egress: micro-batches land as STOMP frames") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-amq").toString
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a"), (2L, "b"), (3L, "c"))
    val q = Streams.toTransport(
      input.toDF().toDF("id", "payload"),
      new graft.core.Transports.StompTransport(
        "vh", "u", "p", "/topic/t",
        new graft.core.Transports.FileSink(dir)),
      checkpoint = s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    val text = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("frames-"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p)))
      .mkString
    assert(text.split("\u0000").count(_.trim.startsWith("SEND")) == 3)
    assert(text.contains("\"payload\":\"b\""))
  }

  test("sessionize accumulates per-key custom state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    input.addData(("u1", 1.0, 10L), ("u1", 2.0, 20L), ("u2", 5.0, 15L))
    val sess = Streams.sessionize(input.toDS(), idleTimeoutMs = 0)
    val q = Streams.toMemory(sess.toDF(), "sessions", OutputMode.Update())
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT key, n, sum FROM sessions ORDER BY key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("u1", 2L, 3.0), ("u2", 1L, 5.0)))
  }

  test("transformWithState running totals accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs the RocksDB provider (column families)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Double, Long)]
    val totals = Streams.runningTotals(input.toDS())
    val q = totals.toDF().writeStream.format("memory")
      .queryName("totals").outputMode("update").start()
    input.addData(("u1", 1.0, 10L), ("u2", 5.0, 15L))
    q.processAllAvailable()
    input.addData(("u1", 2.0, 20L))
    q.processAllAvailable()
    q.stop()
    // last update per key reflects the running total
    val got = spark.sql(
      """SELECT key, n, sum FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY n DESC) rn
        |  FROM totals) WHERE rn = 1 ORDER BY key""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("u1", 2L, 3.0), ("u2", 1L, 5.0)))
  }

  test("thresholdAlerts emit only at milestones, none skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Long)]
    val alerts = Streams.thresholdAlerts(input.toDS(), every = 3L)
    val q = alerts.toDF().writeStream.format("memory")
      .queryName("alerts").outputMode("update").start()
    // batch 1: u1 gets 2 events (below threshold -> silence)
    input.addData(("u1", 1L), ("u1", 2L))
    q.processAllAvailable()
    // batch 2: u1 gets 7 more -> crossings at totals 3, 6, 9 (three
    // milestones in ONE batch, none skipped); u2 only 1 (silence)
    input.addData((1L to 7L).map(i => ("u1", i)) :+ (("u2", 1L)): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT key, total, crossings FROM alerts ORDER BY total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("u1", 3L, 1L), ("u1", 6L, 2L),
      ("u1", 9L, 3L)))
  }

  test("native session_window merges gap-bounded sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    // user a: events at 1,5 (one session), 30 (new session; gap 10m)
    input.addData(("a", ts(1)), ("a", ts(5)), ("a", ts(30)),
      ("b", ts(2)))
    val sess = Streams.sessionWindowCounts(
      input.toDF().toDF("user", "ts"), "user", "ts",
      gap = "10 minutes", lateness = "1 minute")
    // a continuous (non-AvailableNow) query: append mode emits a
    // session only once a LATER batch runs with the watermark past
    // its end, so the test needs multi-batch progression
    val q = sess.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // flush events push the watermark beyond every earlier session
    // (their own session stays open and unemitted)
    input.addData(("flush", Timestamp.valueOf("2024-01-01 02:00:00")))
    q.processAllAvailable()
    input.addData(("flush", Timestamp.valueOf("2024-01-01 02:01:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT user, n_events FROM sessions ORDER BY user, session_start")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 2L), ("a", 1L), ("b", 1L)))
  }

  test("toScdStore maintains current + history across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-scd").toString
    val (cur, hist, ckpt) = (s"$dir/cur", s"$dir/hist", s"$dir/ckpt")
    val input = MemoryStream[(Long, Double, Long)]
    val stream = input.toDF().toDF("k", "v", "ts")
    val q = Streams.toScdStore(stream, Seq("k"), Seq("v"), "ts",
      cur, hist, ckpt)
    input.addData((1L, 10.0, 1L), (1L, 11.0, 2L), (2L, 20.0, 1L))
    q.processAllAvailable()
    input.addData((1L, 12.0, 3L), (3L, 30.0, 1L))
    q.processAllAvailable()
    q.stop()
    // current: latest value per key (max ts within batch, later batch wins)
    val current = spark.read.parquet(cur).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(current == Map(1L -> 12.0, 2L -> 20.0, 3L -> 30.0))
    // history: batch 0 added k=1 (v=11, batch-latest), k=2; batch 1
    // changed k=1 and added k=3
    val history = spark.read.parquet(hist).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4))).sorted
    assert(history.toSeq == Seq((1L, "added", 0L), (1L, "changed", 1L),
      (2L, "added", 0L), (3L, "added", 1L)))
  }

  test("toCmsStore: streamed sketch equals one-shot batch sketch " +
    "(CMS linearity), survives across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cms").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val input = MemoryStream[String]
    val q = Streams.toCmsStore(input.toDF().toDF("term"),
      "term", d = 4, w = 64, store, ckpt)
    val b1 = Seq("a", "a", "b", "c")
    val b2 = Seq("a", "c", "c", "d")
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = m(spark.read.parquet(s"$store/sketch"))
    val oneShot = m(graft.llmops.Sketches.countMinBuild(
      (b1 ++ b2).toDF("term"), "term", d = 4, w = 64))
    assert(streamed == oneShot)
    // probe through the streamed store: exact at this density
    val est = graft.llmops.Sketches.countMinEstimate(
      Seq(("a", 3L), ("c", 3L), ("d", 1L)).toDF("term", "exact_n"),
      "term", spark.read.parquet(s"$store/sketch"), 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est == Map("a" -> 3L, "c" -> 3L, "d" -> 1L))
    // exactly-once: replaying BOTH batch ids through the merge cycle
    // changes nothing (additive counters protected by the ledger);
    // a genuinely new id still adds
    def sketchOf(terms: Seq[String]) = graft.llmops.Sketches
      .countMinBuild(terms.toDF("term"), "term", d = 4, w = 64)
    Streams.mergeCmsBatch(spark, store, sketchOf(b1), 0L)
    Streams.mergeCmsBatch(spark, store, sketchOf(b2), 1L)
    assert(m(spark.read.parquet(s"$store/sketch")) == oneShot)
    Streams.mergeCmsBatch(spark, store, sketchOf(Seq("a")), 2L)
    val afterNew = m(spark.read.parquet(s"$store/sketch"))
    assert(afterNew.values.sum == oneShot.values.sum + 4) // d=4 rows +1
  }

  test("toQuantileSampleStore: streamed sample equals one-shot batch " +
    "sketch (merge law), estimates flow through") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-qsample").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val input = MemoryStream[(String, Long, Double)]
    val q = Streams.toQuantileSampleStore(
      input.toDF().toDF("grp", "key", "v"),
      "grp", "key", "v", k = 8, store, ckpt)
    val b1 = (0 until 20).map(i => ("g1", i.toLong, i * 1.0))
    val b2 = (20 until 40).map(i => ("g1", i.toLong, i * 1.0)) ++
      (0 until 5).map(i => ("g2", 100L + i, i * 10.0))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamed = canon(spark.read.parquet(store))
    val oneShot = canon(graft.llmops.Sketches.quantileSampleBuild(
      (b1 ++ b2).toDF("grp", "key", "v"), "grp", "key", "v", 8))
    assert(streamed == oneShot)
    // estimates read straight off the maintained store
    val est = graft.llmops.Sketches.quantileSampleEstimate(
      spark.read.parquet(store), "grp", Seq("q50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("g1" -> 8L, "g2" -> 5L))
  }

  test("toGroupMinhashStore: streamed ≡ one-shot; replay is harmless " +
    "(idempotent merge)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-gmh").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val input = MemoryStream[(Long, String, String)]
    val q = Streams.toGroupMinhashStore(
      input.toDF().toDF("doc_id", "text", "src"),
      "doc_id", "text", "src", store, ckpt)
    val b1 = (1L to 15L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tail$i", s"s${i % 2}"))
    val b2 = (16L to 30L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tail$i", s"s${i % 2}"))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    // replay batch 1 verbatim — idempotent min must not change a slot
    input.addData(b1: _*); q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val streamed = canon(spark.read.parquet(store))
    val oneShot = canon(graft.llmops.TextOps.groupMinhash(
      (b1 ++ b2).toDF("doc_id", "text", "src"),
      "doc_id", "text", "src"))
    assert(streamed == oneShot)
  }

  test("toBloomStore: streamed ≡ one-shot filter; replay harmless; " +
    "probes flow") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bloom").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val (m, h) = (512, 3)
    val input = MemoryStream[String]
    val q = Streams.toBloomStore(input.toDF().toDF("k"), "k", m, h,
      store, ckpt)
    val b1 = (1 to 40).map(i => s"eval$i")
    val b2 = (41 to 80).map(i => s"eval$i")
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    // replay batch 1 verbatim — idempotent OR must not change a bit
    input.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(store)
    val oneShot = graft.llmops.Sketches.bloomBuild(
      (b1 ++ b2).toDF("k"), "k", m, h)
    assert(streamed.select("pos").as[Long].collect().sorted.toSeq ==
      oneShot.select("pos").as[Long].collect().sorted.toSeq)
    // every built key probes true; disjoint probes agree with the
    // one-shot filter bit-for-bit (same false positives)
    val builtProbe = graft.llmops.Sketches.bloomMayContain(
      (b1 ++ b2).toDF("k"), "k", streamed, m, h)
    assert(builtProbe.filter(!col("may_contain")).count() == 0)
    val fresh = (1 to 60).map(i => s"train$i").toDF("k")
    def hits(bits: org.apache.spark.sql.DataFrame) =
      graft.llmops.Sketches.bloomMayContain(fresh, "k", bits, m, h)
        .filter(col("may_contain")).select("k").as[String]
        .collect().sorted.toSeq
    assert(hits(streamed) == hits(oneShot))
  }

  test("toScoreBandStore: streamed histogram ≡ one-shot scoring " +
    "(additive counts, lattice min/max)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bands").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    def text(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val ref = Seq((100L, text("a")), (101L, text("d")))
      .toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    val input = MemoryStream[(Long, String, String)]
    val q = Streams.toScoreBandStore(
      input.toDF().toDF("doc_id", "text", "lang"), "doc_id", "text",
      "lang", model, v, store, ckpt)
    val b1 = Seq((1L, text("a"), "en"), (2L, text("c"), "xx"))
    val b2 = Seq((3L, text("d"), "en"), (4L, text("e"), "xx"))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(r => (r._1, r._2))
      .toSeq
    val streamed = canon(spark.read.parquet(s"$store/bands"))
    val oneShot = canon(graft.llmops.LanguageModel
      .lmScoreFrozen((b1 ++ b2).toDF("doc_id", "text", "lang"),
        model, v, "doc_id", "text", carryCols = Seq("lang"))
      .groupBy(col("lang"),
        least(floor(col("score") * 10).cast("long"), lit(9L))
          .as("band"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score")))
    assert(streamed == oneShot)
    // the ledger holds the merged high-water mark (bounded: batch ids
    // are monotone per checkpoint, so one row subsumes the id set),
    // committed atomically with bands
    assert(spark.read.parquet(s"$store/batches")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("toScoreBandStore is exactly-once: a replayed batch id is a " +
    "no-op (additive counts protected by the in-store ledger)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bands-replay").toString
    val store = s"$dir/store"
    def text(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val ref = Seq((100L, text("a"))).toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    def bandsOf(rows: Seq[(Long, String, String)]) =
      graft.llmops.LanguageModel.bandHistogram(
        graft.llmops.LanguageModel.lmScoreFrozen(
          rows.toDF("doc_id", "text", "lang"), model, v,
          "doc_id", "text", carryCols = Seq("lang")), "lang")
    val b0 = Seq((1L, text("a"), "en"), (2L, text("c"), "xx"))
    val b1 = Seq((3L, text("a"), "en"))
    Streams.mergeScoreBandBatch(spark, store, bandsOf(b0), 0L, "lang")
    Streams.mergeScoreBandBatch(spark, store, bandsOf(b1), 1L, "lang")
    def canon() = spark.read.parquet(s"$store/bands").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(r => (r._1, r._2)).toSeq
    val afterClean = canon()
    assert(afterClean.map(_._3).sum == 3L) // three docs counted once
    // replay BOTH batches (engine restart re-delivers the last epoch;
    // here we replay everything to pin idempotence, not just the tail)
    Streams.mergeScoreBandBatch(spark, store, bandsOf(b0), 0L, "lang")
    Streams.mergeScoreBandBatch(spark, store, bandsOf(b1), 1L, "lang")
    assert(canon() == afterClean)
    // a genuinely NEW batch id still merges
    Streams.mergeScoreBandBatch(spark, store, bandsOf(b1), 2L, "lang")
    assert(canon().map(_._3).sum == 4L)
  }

  test("toClassCountsStore: exactly-once additive counts; " +
    "noisyClassCounts ≡ the one-shot DP release over the same rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-classcounts").toString
    val store = s"$dir/store"
    val keys = Seq("lang", "source")
    def cnts(rows: Seq[(String, String)]) =
      rows.toDF("lang", "source")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_true"))
    val b0 = Seq(("en", "s1"), ("en", "s1"), ("de", "s2"))
    val b1 = Seq(("en", "s1"), ("fr", "s3"))
    Streams.mergeClassCountsBatch(spark, store, cnts(b0), 0L, keys)
    Streams.mergeClassCountsBatch(spark, store, cnts(b1), 1L, keys)
    def canon() = spark.read.parquet(s"$store/counts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val clean = canon()
    assert(clean ==
      Seq(("de", "s2", 1L), ("en", "s1", 3L), ("fr", "s3", 1L)))
    // replay BOTH epochs — the ledger makes them no-ops
    Streams.mergeClassCountsBatch(spark, store, cnts(b0), 0L, keys)
    Streams.mergeClassCountsBatch(spark, store, cnts(b1), 1L, keys)
    assert(canon() == clean)
    // the DP view over streamed counts is bit-identical to the
    // one-shot release over the concatenated raw rows (noise is
    // keyed by class + salt only)
    def rel(salt: String) = Streams
      .noisyClassCounts(spark, store, keys, salt, minRelease = 2L)
      .collect().map(_.mkString("|")).sorted.toSeq
    val oneShot = graft.llmops.Privacy
      .dpNoisyCounts((b0 ++ b1).toDF("lang", "source"), keys,
        "rel-1", minRelease = 2L)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(rel("rel-1") == oneShot)
    // same salt re-read = byte-identical republish (costs no budget)
    assert(rel("rel-1") == oneShot)
    // a fresh salt is a fresh draw; mechanism invariants hold per row
    Streams.noisyClassCounts(spark, store, keys, "rel-2", 2L)
      .collect().foreach { r =>
        val (nTrue, noise, nNoisy) =
          (r.getLong(2), r.getLong(3), r.getLong(4))
        assert(nNoisy == nTrue + noise)
        assert(r.getBoolean(5) == (nNoisy < 2L))
        assert(r.isNullAt(6) == r.getBoolean(5))
      }
  }

  test("toConformalStore: streamed threshold ≡ one-shot calibration " +
    "over the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-conf").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val input = MemoryStream[(Long, Double)]
    val q = Streams.toConformalStore(
      input.toDF().toDF("id", "score"), "id", "score",
      scaleTo = 1000, calibBuckets = 2, storeDir = store,
      checkpoint = ckpt)
    val b1 = (1 to 120).map(i => (i.toLong, i / 120.0))
    val b2 = (121 to 240).map(i => (i.toLong, (241 - i) / 120.0))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def tauOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    val streamed = tauOf(Streams.conformalThreshold(spark, store, 9, 10))
    val oneShot = tauOf(graft.llmops.Drift.thresholdFromHistogram(
      graft.llmops.Drift.calibHistogram(
        (b1 ++ b2).toDF("id", "score"), "id", "score", 1000, 2),
      9, 10))
    assert(streamed == oneShot)
    assert(streamed._2 > 0L) // a calibration slice actually formed
    // bounded ledger: just the merged high-water mark
    assert(spark.read.parquet(s"$store/batches")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("toConformalStore is exactly-once: replayed batch ids are " +
    "no-ops for the additive histogram") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conf-replay").toString
    val store = s"$dir/store"
    def vhOf(rows: Seq[(Long, Double)]) =
      graft.llmops.Drift.calibHistogram(rows.toDF("id", "score"),
        "id", "score", 1000, 2)
    val b0 = (1 to 60).map(i => (i.toLong, i / 60.0))
    val b1 = (61 to 90).map(i => (i.toLong, i / 90.0))
    Streams.mergeConformalBatch(spark, store, vhOf(b0), 0L)
    Streams.mergeConformalBatch(spark, store, vhOf(b1), 1L)
    def canon() = spark.read.parquet(s"$store/calib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val clean = canon()
    Streams.mergeConformalBatch(spark, store, vhOf(b0), 0L)
    Streams.mergeConformalBatch(spark, store, vhOf(b1), 1L)
    assert(canon() == clean)
    // a genuinely new batch still merges and raises total counts
    Streams.mergeConformalBatch(spark, store, vhOf(b1), 2L)
    assert(canon().map(_._2).sum == clean.map(_._2).sum
      + vhOf(b1).agg(sum(col("cnt"))).collect().head.getLong(0))
  }

  test("upsertSketchStore boundedness guard: an oversized merge fails " +
    "fast and leaves the store untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cap").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val input = MemoryStream[(Long, String, String)]
    // group-MinHash store rows = distinct groups; cap 4, stream 10
    val q = Streams.toGroupMinhashStore(
      input.toDF().toDF("doc_id", "text", "grp"),
      "doc_id", "text", "grp", store, ckpt, maxStoreRows = 4L)
    input.addData((1L to 30L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tail$i", s"g${i % 10}")): _*)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) Option(t.getMessage).getOrElse("")
      else Option(t.getMessage).getOrElse("") + " | " + rootMsg(t.getCause)
    assert(rootMsg(ex).contains("not bounded"))
    // fail-fast means the swap never ran: no store dir materialized
    // (the aside __tmp was deleted), so the last good state — here,
    // "no store yet" — is what callers keep seeing
    assert(!new java.io.File(store).exists())
  }

  test("Bench.nextSlot treats empty/unparseable BENCH files as free") {
    val full = """{"queries":{"q01":0.1},"total":0.1}"""
    // clean history: next is one past the max complete round
    assert(Bench.nextSlot(Seq(7 -> full, 8 -> full)) == 9)
    // an empty pre-touched r9 file does NOT push the write to r10
    assert(Bench.nextSlot(Seq(7 -> full, 8 -> full, 9 -> "")) == 9)
    // a truncated (unparseable) artifact is also free
    assert(Bench.nextSlot(
      Seq(8 -> full, 9 -> """{"queries":{"q01":0.""")) == 9)
    // whitespace-only counts as empty; no files at all starts at 1
    assert(Bench.nextSlot(Seq(3 -> "  \n")) == 1)
    assert(Bench.nextSlot(Seq.empty) == 1)
  }

  // ---- indexed curated store (the 100 TB streaming admission form) --

  /** Deterministic mixed corpus for the admission specs: exact dups
    * (within and across batches), near-dups, out-of-distribution docs,
    * and enough shared shingles to cross a small df cap. Returns
    * (batches, model, vocabSize, cutoff) with cutoff = the median LM
    * score over all docs, so the gate provably rejects some and
    * admits some. */
  private def admissionFixture(nBatches: Int, perBatch: Int)
      : (Seq[Seq[(Long, String)]], org.apache.spark.sql.DataFrame,
        Long, Double) = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def doc(): String =
      (1 to 8 + rnd.nextInt(5)).map(_ => s"w${rnd.nextInt(25)}")
        .mkString(" ")
    def ood(): String =
      (1 to 9).map(_ => s"z${rnd.nextInt(40)}").mkString(" ")
    var id = 0L
    val produced = scala.collection.mutable.ArrayBuffer.empty[String]
    val batches = (0 until nBatches).map { _ =>
      (0 until perBatch).map { _ =>
        id += 1
        val r = rnd.nextInt(10)
        val text =
          if (r < 2 && produced.nonEmpty)
            produced(rnd.nextInt(produced.size)) // exact dup
          else if (r < 4 && produced.nonEmpty) { // near dup: swap tail
            val base = produced(rnd.nextInt(produced.size)).split(" ")
            (base.dropRight(1) :+ s"w${rnd.nextInt(25)}").mkString(" ")
          } else if (r < 6) ood() // LM-gate fodder
          else { val t = doc(); produced += t; t }
        (id, text)
      }
    }
    val ref = (1 to 40).map(i => (1000L + i, doc())).toDF("id", "body")
    val model = graft.llmops.LanguageModel.bigramModel(ref, "id", "body")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "body")
    val cutoff = graft.llmops.LanguageModel
      .lmScoreFrozen(batches.flatten.toDF("id", "body"), model, v,
        "id", "body")
      .stat.approxQuantile("score", Array(0.5), 0.0).head
    (batches, model, v, cutoff)
  }

  private def docSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** The `batch=<id>` partition directories of a store table, sorted. */
  private def partitionDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("batch=")).sorted

  test("toCuratedCorpusStoreIndexed ≡ the recomputed-admission " +
    "reference over the same batch sequence, including df-cap " +
    "interactions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated-eq").toString
    val (batches, model, v, cutoff) = admissionFixture(nBatches = 5, perBatch = 12)
    // tiny df cap so popular shingles cross it mid-sequence — the
    // append-cap / probe-filter interplay is the part worth pinning
    val frames = batches.map(_.toDF("id", "body"))
    frames.zipWithIndex.foreach { case (df, i) =>
      Streams.curatedCommitIndexed(df, i.toLong, "id", "body", model, v,
        minScore = cutoff, s"$dir/indexed", minJac = 0.5, maxDf = 9)
    }
    val reference = CuratedReference.admit(frames, "id", "body", model,
      v, minScore = cutoff, minJac = 0.5, maxDf = 9)
    val indexed = docSet(Streams.curatedDocs(spark, s"$dir/indexed")
      .select("id", "body"))
    assert(reference.nonEmpty && reference.size < batches.flatten.size)
    assert(indexed == reference)
  }

  test("toCuratedCorpusStoreIndexed streaming wrapper: gates + replay, " +
    "non-default column names") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-curated-idx").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    def text(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val textA = text("a"); val textD = text("d"); val textC = text("c")
    val textA2 = (1 to 9).map(i => s"a$i").mkString(" ") + " zz"
    val ref = Seq((100L, textA), (101L, textD)).toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    val input = MemoryStream[(Long, String)]
    val q = Streams.toCuratedCorpusStoreIndexed(
      input.toDF().toDF("id", "body"), "id", "body",
      model, v, minScore = 0.07, store, ckpt)
    def ids() = Streams.curatedDocs(spark, store)
      .select("id").as[Long].collect().sorted.toSeq
    input.addData((1L, textA), (9L, textA), (2L, textC))
    q.processAllAvailable()
    assert(ids() == Seq(1L))
    input.addData((3L, textA), (5L, textA2), (4L, textD))
    q.processAllAvailable()
    assert(ids() == Seq(1L, 4L))
    // redelivery of old content under fresh batch ids: gates drop all
    input.addData((3L, textA), (5L, textA2), (4L, textD))
    q.processAllAvailable()
    q.stop()
    assert(ids() == Seq(1L, 4L))
  }

  test("curatedCommitIndexed replay: same batch id re-derives the " +
    "identical decision, even over a crashed first attempt") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated-replay").toString
    val store = s"$dir/store"
    val (batches, model, v, cutoff) = admissionFixture(nBatches = 3, perBatch = 10)
    def commit(i: Int): Unit =
      Streams.curatedCommitIndexed(batches(i).toDF("id", "body"),
        i.toLong, "id", "body", model, v, cutoff, store, 0.5, 9)
    commit(0); commit(1)
    val afterClean = docSet(Streams.curatedDocs(spark, store)
      .select("id", "body"))
    // simulate a CRASHED batch-2 attempt: docs + fps partitions landed,
    // postings + dfs didn't (the multi-store window) — and the docs
    // rows are garbage on top
    Seq((999L, "crash leftover row x y z")).toDF("id", "body")
      .write.mode("overwrite").parquet(s"$store/docs/batch=2")
    Seq("deadbeef").toDF("fp")
      .write.mode("overwrite").parquet(s"$store/fps/batch=2")
    commit(2) // the replay
    val afterReplay = docSet(Streams.curatedDocs(spark, store)
      .select("id", "body"))
    assert(!afterReplay.exists(_._1 == 999L)) // leftover erased
    // replaying batch 2 again is a no-op
    commit(2)
    assert(docSet(Streams.curatedDocs(spark, store)
      .select("id", "body")) == afterReplay)
    // and the full sequence matches a clean indexed run elsewhere
    val clean = s"$dir/clean"
    (0 to 2).foreach { i =>
      Streams.curatedCommitIndexed(batches(i).toDF("id", "body"),
        i.toLong, "id", "body", model, v, cutoff, clean, 0.5, 9)
    }
    assert(docSet(Streams.curatedDocs(spark, clean)
      .select("id", "body")) == afterReplay)
    assert(afterReplay.intersect(afterClean) == afterClean)
  }

  test("compactAdmissionIndex squashes history without changing " +
    "subsequent admission decisions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated-compact").toString
    val (batches, model, v, cutoff) = admissionFixture(nBatches = 6, perBatch = 10)
    def run(store: String, compactAfter: Option[Int]): Set[(Long, String)] = {
      batches.zipWithIndex.foreach { case (b, i) =>
        Streams.curatedCommitIndexed(b.toDF("id", "body"), i.toLong,
          "id", "body", model, v, cutoff, store, 0.5, 9)
        if (compactAfter.contains(i))
          // no cap argument: compaction reads the stream's maxDf from
          // the store meta — it cannot run with a mismatched cap
          Streams.compactAdmissionIndex(spark, store,
            uptoBatch = i.toLong)
      }
      docSet(Streams.curatedDocs(spark, store).select("id", "body"))
    }
    val plainRun = run(s"$dir/noc", None)
    val compacted = run(s"$dir/comp", Some(2))
    assert(compacted == plainRun)
    // the compacted index really did squash: dfs has the batch=-1
    // history partition and none of batches 0-2
    val parts = spark.read.parquet(s"$dir/comp/dfs")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(parts == Seq(-1L, 3L, 4L, 5L))
  }

  test("curatedCommitIndexed URL rail: recrawl decorations drop " +
    "before content, within-batch variants collapse, the rail is a " +
    "store contract, compaction preserves the decisions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated-url").toString
    val store = s"$dir/store"
    def text(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val ref = Seq((100L, text("a")), (101L, text("b")))
      .toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    def commit(i: Long, rows: Seq[(Long, String, String)],
        st: String = store, rail: Option[String] = Some("url")): Unit =
      Streams.curatedCommitIndexed(rows.toDF("id", "body", "url"),
        i, "id", "body", model, v, -1e9, st, 0.5, 1000, rail)
    def ids() = Streams.curatedDocs(spark, store)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // batch 0: 7 and 8 are URL decoration variants of one canonical
    // page (DIFFERENT content) — the within-batch URL collapse keeps
    // min id 7 before content is even compared
    commit(0L, Seq((1L, text("a"), "http://a.org/p"),
      (7L, text("z"), "https://www.a.org/x?utm_a=1"),
      (8L, text("y"), "HTTPS://A.ORG/x")))
    assert(ids() == Seq(1L, 7L))
    // batch 1: 2 is a RECRAWL of 1's canonical URL under fresh
    // content → dropped by the URL rail; 3 is fresh-URL duplicate
    // CONTENT → dropped by the exact rail; 4 is genuinely new
    val b1 = Seq((2L, text("q"), "https://www.a.org/p?utm_x=1"),
      (3L, text("a"), "http://a.org/new"),
      (4L, text("f"), "http://a.org/r"))
    commit(1L, b1)
    assert(ids() == Seq(1L, 4L, 7L))
    // replaying batch 1 under the same id is a no-op
    commit(1L, b1)
    assert(ids() == Seq(1L, 4L, 7L))
    // the rail is part of the admission contract, both directions
    val off = intercept[IllegalArgumentException] {
      commit(2L, Seq((9L, text("m"), "http://m.org/m")), rail = None)
    }
    assert(off.getMessage.contains("url_rail"))
    commit(0L, Seq((1L, text("a"), "http://a.org/p")),
      st = s"$dir/plain", rail = None)
    val on = intercept[IllegalArgumentException] {
      commit(1L, Seq((2L, text("q"), "http://a.org/q")),
        st = s"$dir/plain")
    }
    assert(on.getMessage.contains("url_rail"))
    // compaction folds the urls history into batch=-1 without
    // changing later decisions: a fragment variant of 1's URL still
    // drops, a new host admits
    Streams.compactAdmissionIndex(spark, store, uptoBatch = 1L)
    commit(2L, Seq((5L, text("g"), "http://a.org/p#frag"),
      (6L, text("h"), "https://b.org/s")))
    assert(ids() == Seq(1L, 4L, 6L, 7L))
    val urlParts = spark.read.parquet(s"$store/urls")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(urlParts == Seq(-1L, 2L))
  }

  test("URL rail asymmetry (contract): ONE admission decision per " +
    "canonical URL per batch — a gate-rejected min-id keeper drops " +
    "its same-batch variants unevaluated; the same canonical URL in " +
    "a LATER batch is evaluated fresh") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated-url-asym")
      .toString
    val store = s"$dir/store"
    def text(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val good = text("a")
    val bad = (1 to 10).map(i => s"zz$i zz$i").mkString(" ")
    val ref = Seq((100L, good), (101L, text("b"))).toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    // cutoff between the in-model and out-of-model content scores
    val sc = graft.llmops.LanguageModel
      .lmScoreFrozen(Seq((1L, good), (2L, bad)).toDF("id", "body"),
        model, v, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("score"))
      .toMap
    assert(sc(1L) > sc(2L))
    val cutoff = (sc(1L) + sc(2L)) / 2
    def commit(i: Long, rows: Seq[(Long, String, String)]): Unit =
      Streams.curatedCommitIndexed(rows.toDF("id", "body", "url"),
        i, "id", "body", model, v, cutoff, store, 0.5, 1000,
        Some("url"))
    def ids() = Streams.curatedDocs(spark, store)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // batch 0: 5 (BAD content) and 6 (GOOD content) share a canonical
    // URL; the min-id keeper 5 is the batch's sole candidate, fails
    // the LM gate, and takes 6 down with it — 6 is never evaluated
    commit(0L, Seq((5L, bad, "http://u.org/p"),
      (6L, good, "https://www.u.org/p?utm_a=1")))
    assert(ids() == Seq())
    // nothing admitted → no URL persisted → a LATER batch with the
    // same canonical URL gets a fresh decision, and the good content
    // now passes
    commit(1L, Seq((6L, good, "http://u.org/p")))
    assert(ids() == Seq(6L))
    // but once ADMITTED, the canonical URL is final across batches:
    // even better-scoring recrawl content of u.org/p drops at the rail
    commit(2L, Seq((7L, good, "https://u.org/p#frag")))
    assert(ids() == Seq(6L))
  }

  test("compactAdmissionIndex: all-rejected history (only empty " +
    "partitions) compacts via the pinned schema; mismatched caps " +
    "fail fast") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curated-meta").toString
    val store = s"$dir/store"
    val (batches, model, v, _) = admissionFixture(nBatches = 2, perBatch = 6)
    def commit(i: Int, cutoff: Double, cap: Int = 9): Unit =
      Streams.curatedCommitIndexed(batches(i).toDF("id", "body"),
        i.toLong, "id", "body", model, v, cutoff, store, 0.5, cap)
    // cutoff above every score → EVERY batch rejects everything and
    // writes empty partitions; schema inference over that history
    // fails, the meta-pinned read must not
    commit(0, cutoff = 1e9); commit(1, cutoff = 1e9)
    assert(Streams.curatedDocs(spark, store).count() == 0L)
    assert(Streams.compactAdmissionIndex(spark, store, uptoBatch = 1L) ==
      Seq("dfs", "postings", "fps"))
    // the empty partitions fold too: one history partition per table
    for (t <- Seq("dfs", "postings", "fps"))
      assert(partitionDirs(s"$store/$t") == Seq("batch=-1"), t)
    // identical decisions after compaction: a fresh batch admits
    commit(0, cutoff = -1e9)
    assert(Streams.curatedDocs(spark, store).count() > 0L)
    // a batch that rejects every doc after admissions (a redelivery:
    // every doc finds its own earlier copy), then compaction up to the
    // head — on a plain store and on a URL-rail store, whose urls
    // index must squash too
    for (rail <- Seq(None, Some("url"))) {
      val st = s"$dir/redeliver-${rail.isDefined}"
      val rows = batches(0).map { case (id, body) =>
        (id, body, s"http://h.org/d$id") }.toDF("id", "body", "url")
      (0L to 1L).foreach { i =>
        Streams.curatedCommitIndexed(rows, i, "id", "body", model, v,
          -1e9, st, 0.5, 9, rail)
      }
      val admitted = docSet(Streams.curatedDocs(spark, st)
        .select("id", "body"))
      assert(admitted.nonEmpty)
      val tables = Seq("dfs", "postings", "fps") ++ rail.map(_ => "urls")
      assert(Streams.compactAdmissionIndex(spark, st, uptoBatch = 1L) ==
        tables)
      for (t <- tables)
        assert(partitionDirs(s"$st/$t") == Seq("batch=-1"), s"$st/$t")
      assert(docSet(Streams.curatedDocs(spark, st)
        .select("id", "body")) == admitted)
    }
    // a commit with a different df cap is refused by the meta check
    val ex = intercept[IllegalArgumentException] {
      commit(1, cutoff = -1e9, cap = 5)
    }
    assert(ex.getMessage.contains("maxDf"))
    // and a store without meta (not an indexed store) refuses compaction
    val ex2 = intercept[IllegalArgumentException] {
      Streams.compactAdmissionIndex(spark, s"$dir/nostore", 0L)
    }
    assert(ex2.getMessage.contains("meta"))
  }

  test("toImageCorpusStore: exact (re-encode) + near (dHash) gates " +
    "across batches from ONE decode; replay is a no-op; undecodable " +
    "rejected; mismatched threshold refused") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-imgstore").toString
    val store = s"$dir/store"
    def img(id: Long, pid: Long): (Long, Array[Byte], String) = {
      val pix = Array.tabulate(32, 36)((y, x) =>
        Multimodal.synthPixel(pid, x, y))
      (id, if (id % 2 == 0) Multimodal.encodeBmp(pix, 36, 32)
      else Multimodal.encodePng(pix, 36, 32), "s")
    }
    def commit(batchId: Long, rows: Seq[(Long, Array[Byte], String)],
        maxHamming: Int = 4): Unit =
      Streams.imageCommit(rows.toDF("id", "payload", "src"), batchId,
        "id", "payload", "src", store, maxHamming)
    def ids() = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0: ids 2 (BMP) and 3 (PNG) are the SAME pixels through
    // different containers → min-id keeper 2; id 4 a new family;
    // id 99 undecodable → rejected
    commit(0L, Seq(img(2L, 5L), img(3L, 5L), img(4L, 6L),
      (99L, Array[Byte](1, 2, 3), "s")))
    assert(ids() == Seq(2L, 4L))
    // batch 1: id 11 re-encodes family 5 (exact rail, pixel fp);
    // id 13 is family 5's VARIANT (pid 37: same base pattern, moved
    // bump cell → ≤3 dHash bits → near rail); id 15 a new family
    commit(1L, Seq(img(11L, 5L), img(13L, 37L), img(15L, 7L)))
    assert(ids() == Seq(2L, 4L, 15L))
    // replaying batch 1 (engine redelivery contract) changes nothing
    commit(1L, Seq(img(11L, 5L), img(13L, 37L), img(15L, 7L)))
    assert(ids() == Seq(2L, 4L, 15L))
    // crashed batch-2 first attempt left garbage docs; the replay
    // overwrites its own partitions and erases it
    Seq((777L, Array[Byte](9), "s")).toDF("doc_id", "payload", "source")
      .write.mode("overwrite").parquet(s"$store/docs/batch=2")
    commit(2L, Seq(img(20L, 8L)))
    assert(ids() == Seq(2L, 4L, 15L, 20L))
    // the admission threshold is part of the store contract
    val ex = intercept[IllegalArgumentException] {
      commit(3L, Seq(img(30L, 9L)), maxHamming = 3)
    }
    assert(ex.getMessage.contains("maxHamming"))
  }

  test("toAudioCorpusStore: exact (identical envelope) + near " +
    "(gain-jittered fingerprint) gates across batches; replay no-op; " +
    "undecodable rejected; mismatched threshold refused") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-audstore").toString
    val store = s"$dir/store"
    def clip(id: Long, pid: Long, jit: Int)
        : (Long, Array[Byte], String) =
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255))), "s")
    def commit(batchId: Long, rows: Seq[(Long, Array[Byte], String)],
        maxHamming: Int = 4): Unit =
      Streams.audioCommit(rows.toDF("id", "payload", "src"), batchId,
        "id", "payload", "src", store, maxHamming, window = 4)
    def ids() = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0: 2 and 3 are byte-identical clips → min-id keeper 2;
    // 4 a different clip; 99 undecodable → rejected
    commit(0L, Seq(clip(2L, 5L, 0), clip(3L, 5L, 0), clip(4L, 6L, 0),
      (99L, Array[Byte](1, 2, 3), "s")))
    assert(ids() == Seq(2L, 4L))
    // batch 1: 11 re-delivers clip 5 exactly (exact rail); 13 is its
    // +2 gain master (byte-different, fingerprint Hamming 1 → near
    // rail); 15 a new clip
    commit(1L, Seq(clip(11L, 5L, 0), clip(13L, 5L, 2),
      clip(15L, 7L, 0)))
    assert(ids() == Seq(2L, 4L, 15L))
    // replaying batch 1 (engine redelivery contract) changes nothing
    commit(1L, Seq(clip(11L, 5L, 0), clip(13L, 5L, 2),
      clip(15L, 7L, 0)))
    assert(ids() == Seq(2L, 4L, 15L))
    // the admission threshold is part of the store contract
    val ex = intercept[IllegalArgumentException] {
      commit(2L, Seq(clip(30L, 9L, 0)), maxHamming = 3)
    }
    assert(ex.getMessage.contains("maxHamming"))
  }

  test("mediaCommit within-batch near rail: two near-dup " +
    "(non-pixel-identical) images in the SAME micro-batch collapse " +
    "to the min-id keeper, not both admitted permanently") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-intranear").toString
    val store = s"$dir/store"
    def img(id: Long, pid: Long): (Long, Array[Byte], String) = {
      val pix = Array.tabulate(32, 36)((y, x) =>
        Multimodal.synthPixel(pid, x, y))
      (id, Multimodal.encodeBmp(pix, 36, 32), "s")
    }
    // pids 5 and 37: same base pattern, moved bump cell → dHash
    // within ≤ 3 bits (the near-rail fixture of the cross-batch
    // spec) but NOT pixel-identical — the exact rail can't catch it
    Streams.imageCommit(
      Seq(img(13L, 37L), img(11L, 5L), img(15L, 7L))
        .toDF("id", "payload", "src"),
      0L, "id", "payload", "src", store, 4)
    val ids = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(11L, 15L)) // 13 dropped: near 11 within batch
    // replay of the same batch re-derives the identical admission
    Streams.imageCommit(
      Seq(img(13L, 37L), img(11L, 5L), img(15L, 7L))
        .toDF("id", "payload", "src"),
      0L, "id", "payload", "src", store, 4)
    assert(Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq == ids)
  }

  test("compactMediaStore crash recovery: a swap interrupted after " +
    "the destructive deletes loses no index rows — commits fail " +
    "loudly until the compactor heals, then decisions match an " +
    "uncompacted twin") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-medcrash").toString
    def wav(id: Long, pid: Long, jit: Int)
        : (Long, Array[Byte], String) =
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255))), "s")
    def commit(store: String, batchId: Long,
        rows: Seq[(Long, Array[Byte], String)]): Unit =
      Streams.audioCommit(rows.toDF("id", "payload", "src"), batchId,
        "id", "payload", "src", store, 4, window = 4)
    for (store <- Seq(s"$dir/a", s"$dir/b")) {
      commit(store, 0L, Seq(wav(1L, 5L, 0), wav(2L, 6L, 0)))
      commit(store, 1L, Seq(wav(3L, 7L, 0)))
    }
    // simulate a compaction of store `a` that crashed at the WORST
    // point: squash written to tmp, pending marker published, old
    // partitions deleted — but the rename never ran (the window the
    // old delete-then-rename swap silently lost rows in)
    for (idx <- Seq("fps", "bands")) {
      val idxDir = s"$dir/a/$idx"
      spark.read.parquet(idxDir)
        .filter(col("batch") <= 1L).drop("batch")
        .write.parquet(s"${idxDir}__compact_tmp")
      val w = new java.io.FileWriter(s"${idxDir}__compact_pending")
      w.write("0,1"); w.close()
      for (b <- Seq(0, 1)) {
        val p = new java.io.File(s"$idxDir/batch=$b")
        p.listFiles().foreach(_.delete()); p.delete()
      }
    }
    // a commit against the half-swapped store is refused, not wrong
    val ex = intercept[IllegalArgumentException] {
      commit(s"$dir/a", 2L, Seq(wav(15L, 9L, 0)))
    }
    assert(ex.getMessage.contains("compaction swap pending"))
    // re-running the compactor completes the interrupted swap first
    Streams.compactMediaStore(spark, s"$dir/a", uptoBatch = 1L)
    // batch 2: 11 exact-dups stored clip 5, 13 near-dups it, 15 new —
    // identical decisions on the crashed-then-healed store and the
    // untouched twin proves no admission-index rows were lost
    val b2 = Seq(wav(11L, 5L, 0), wav(13L, 5L, 2), wav(15L, 9L, 0))
    commit(s"$dir/a", 2L, b2)
    commit(s"$dir/b", 2L, b2)
    def ids(store: String) = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(s"$dir/a") == ids(s"$dir/b"))
    assert(ids(s"$dir/a") == Seq(1L, 2L, 3L, 15L))
  }

  test("compactMediaStore crash recovery, post-rename branch: marker " +
    "present but tmp gone (crash between the rename and the final " +
    "sweep) — recovery deletes the superseded partitions WITHOUT " +
    "touching the new batch=-1 squash") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-medcrash2").toString
    def wav(id: Long, pid: Long, jit: Int)
        : (Long, Array[Byte], String) =
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255))), "s")
    def commit(store: String, batchId: Long,
        rows: Seq[(Long, Array[Byte], String)]): Unit =
      Streams.audioCommit(rows.toDF("id", "payload", "src"), batchId,
        "id", "payload", "src", store, 4, window = 4)
    for (store <- Seq(s"$dir/a", s"$dir/b")) {
      commit(store, 0L, Seq(wav(1L, 5L, 0), wav(2L, 6L, 0)))
      commit(store, 1L, Seq(wav(3L, 7L, 0)))
    }
    // run a REAL compaction of store `a`, then reconstruct the
    // crash-between-rename-and-sweep state: re-create a superseded
    // batch=0 partition (as if its delete never ran) and re-publish
    // the marker (as if its removal never ran)
    Streams.compactMediaStore(spark, s"$dir/a", uptoBatch = 1L)
    for (idx <- Seq("fps", "bands")) {
      val idxDir = s"$dir/a/$idx"
      spark.read.parquet(s"$idxDir/batch=-1")
        .write.parquet(s"$idxDir/batch=0") // stale duplicate rows
      val w = new java.io.FileWriter(s"${idxDir}__compact_pending")
      w.write("0,1"); w.close()
    }
    val ex = intercept[IllegalArgumentException] {
      commit(s"$dir/a", 2L, Seq(wav(15L, 9L, 0)))
    }
    assert(ex.getMessage.contains("compaction swap pending"))
    Streams.compactMediaStore(spark, s"$dir/a", uptoBatch = 1L)
    for (idx <- Seq("fps", "bands")) {
      val parts = new java.io.File(s"$dir/a/$idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("batch=-1"), s"$idx: ${parts.toSeq}")
    }
    // decisions identical to the untouched twin
    val b2 = Seq(wav(11L, 5L, 0), wav(13L, 5L, 2), wav(15L, 9L, 0))
    commit(s"$dir/a", 2L, b2)
    commit(s"$dir/b", 2L, b2)
    def ids(store: String) = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(s"$dir/a") == ids(s"$dir/b"))
    assert(ids(s"$dir/a") == Seq(1L, 2L, 3L, 15L))
  }

  test("toVideoCorpusStore: exact (frame-set) + near (LSH-candidate, " +
    "containment-verified trim) gates across AND within batches; " +
    "replay no-op; zero-frame rejected; contract guarded; compaction " +
    "(incl. the frames index) preserves decisions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vidstore").toString
    val store = s"$dir/store"
    def clip(id: Long, frames: Seq[Int]): (Long, Array[Byte], String) =
      (id, frames.flatMap(i =>
        "fr:%013d".format(i).getBytes("UTF-8")).toArray, "s")
    def commit(store: String, batchId: Long,
        rows: Seq[(Long, Array[Byte], String)],
        minContainment: Double = 0.75): Unit =
      Streams.videoCommit(rows.toDF("id", "payload", "src"), batchId,
        "id", "payload", "src", store, minContainment,
        frameBytes = 16, maxBucket = 256)
    def ids(store: String) = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0: id 3 holds the SAME frames as id 2 re-ordered with a
    // repeat (identical SET → exact rail, min-id keeper 2); id 4 a
    // new pool; id 99 shorter than one frame → rejected
    commit(store, 0L, Seq(
      clip(2L, 0 to 7), clip(3L, Seq(7, 6, 5, 4, 3, 2, 1, 0, 0)),
      clip(4L, 100 to 107), (99L, Array[Byte](1, 2, 3), "s")))
    assert(ids(store) == Seq(2L, 4L))
    // batch 1: id 11 re-cuts stored clip 2 exactly (exact rail);
    // id 13 is its 7-frame TRIM (containment 1.0, Jaccard 0.875 —
    // only the near rail's containment verify catches it); id 15 new
    commit(store, 1L, Seq(clip(11L, Seq(3, 2, 1, 0, 4, 5, 6, 7)),
      clip(13L, 0 to 6), clip(15L, 200 to 207)))
    assert(ids(store) == Seq(2L, 4L, 15L))
    // replay of batch 1 re-derives the identical admission
    commit(store, 1L, Seq(clip(11L, Seq(3, 2, 1, 0, 4, 5, 6, 7)),
      clip(13L, 0 to 6), clip(15L, 200 to 207)))
    assert(ids(store) == Seq(2L, 4L, 15L))
    // within-batch near rail: a trim arriving BESIDE its source in
    // one micro-batch still collapses to the min-id keeper
    commit(store, 2L, Seq(clip(21L, 300 to 307), clip(23L, 300 to 306)))
    assert(ids(store) == Seq(2L, 4L, 15L, 21L))
    // the admission contract (threshold/frame size/cap) is pinned
    val ex = intercept[IllegalArgumentException] {
      commit(store, 3L, Seq(clip(31L, 400 to 407)),
        minContainment = 0.5)
    }
    assert(ex.getMessage.contains("admission contract"))
    // compaction squashes all three index tables; decisions after it
    // match an uncompacted twin (the frames verify side survives)
    Streams.compactMediaStore(spark, store, uptoBatch = 2L)
    for (idx <- Seq("fps", "bands", "frames")) {
      val parts = new java.io.File(s"$store/$idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("batch=-1"), s"$idx: ${parts.toSeq}")
    }
    commit(store, 3L, Seq(clip(31L, 1 to 7), clip(33L, 500 to 507)))
    assert(ids(store) == Seq(2L, 4L, 15L, 21L, 33L))
  }

  test("toVideoCorpusStore streaming wrapper: micro-batches gate " +
    "through the store") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vidstream").toString
    val store = s"$dir/store"
    def payload(frames: Seq[Int]): Array[Byte] =
      frames.flatMap(i =>
        "fr:%013d".format(i).getBytes("UTF-8")).toArray
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], String)]
    mem.addData((1L, payload(0 to 7), "s"),
      (2L, payload(0 to 6), "s"),      // trim of 1 → dropped
      (3L, payload(900 to 907), "s"))
    val q = Streams.toVideoCorpusStore(
      mem.toDF().toDF("id", "payload", "src"),
      "id", "payload", "src", store, s"$dir/ckpt")
    q.processAllAvailable()
    mem.addData((4L, payload(Seq(7, 6, 5, 4, 3, 2, 1, 0)), "s"), // exact
      (5L, payload(600 to 607), "s"))
    q.processAllAvailable()
    q.stop()
    assert(Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L))
  }

  test("toCaptionedImageCorpusStore: admission requires BOTH rails — " +
    "same image + same caption exact-drops, re-encode + paraphrase " +
    "near-drops (across and within batches), same image + different " +
    "caption and same caption + different image are ADMITTED; " +
    "replay no-op; contract guard; compaction preserves decisions") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-capstore").toString
    val store = s"$dir/store"
    val W = 36; val H = 32
    def pix(id: Long) = Array.tabulate(H, W)((y, x) =>
      Multimodal.synthPixel(id, x, y))
    def img(pid: Long, png: Boolean): Array[Byte] =
      if (png) Multimodal.encodePng(pix(pid), W, H)
      else Multimodal.encodeBmp(pix(pid), W, H)
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog" // ~0.4
    val capC = "completely unrelated words describing another scene"
    val capD = "yet another caption with nothing shared at all here"
    def commit(batchId: Long,
        rows: Seq[(Long, Array[Byte], String, String)],
        minJac: Double = 0.2): Unit =
      Streams.captionedCommit(
        rows.toDF("id", "payload", "caption", "src"), batchId,
        "id", "payload", "caption", "src", store, 4, minJac)
    def ids() = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0: 3 re-encodes 2's pixels under the IDENTICAL caption
    // (paired-exact → keeper 2); 4 = same image, unrelated caption →
    // ADMITTED (the image-only store would over-drop here); 6 =
    // different image, same caption → ADMITTED; 99 undecodable
    commit(0L, Seq((2L, img(42L, false), capA, "s"),
      (3L, img(42L, true), capA, "s"),
      (4L, img(42L, false), capC, "s"),
      (6L, img(7L, false), capA, "s"),
      (99L, Array[Byte](1, 2, 3), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L))
    // batch 1: 11 = re-encode of 2's pixels + PARAPHRASE of its
    // caption → near rail (both modalities) → dropped; 13 = same
    // pixels + unrelated caption → admitted; 15 = new image + capA's
    // exact text → admitted (exact rail needs BOTH)
    commit(1L, Seq((11L, img(42L, true), capB, "s"),
      (13L, img(42L, true), capD, "s"),
      (15L, img(11L, false), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L))
    // replay re-derives the identical admission
    commit(1L, Seq((11L, img(42L, true), capB, "s"),
      (13L, img(42L, true), capD, "s"),
      (15L, img(11L, false), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L))
    // within-batch near rail: the paraphrased re-encode arriving
    // BESIDE its source still collapses to the min-id keeper
    commit(2L, Seq((21L, img(19L, false), capA, "s"),
      (23L, img(19L, true), capB, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L, 21L))
    // the admission contract is pinned
    val ex = intercept[IllegalArgumentException] {
      commit(3L, Seq((31L, img(23L, false), capA, "s")), minJac = 0.5)
    }
    assert(ex.getMessage.contains("admission contract"))
    // compaction squashes all three indexes; decisions preserved
    Streams.compactMediaStore(spark, store, uptoBatch = 2L)
    for (idx <- Seq("fps", "bands", "postings")) {
      val parts = new java.io.File(s"$store/$idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("batch=-1"), s"$idx: ${parts.toSeq}")
    }
    commit(3L, Seq((31L, img(42L, true), capB, "s"), // still near 2
      (33L, img(29L, false), capC, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L, 21L, 33L))
  }

  test("toAudioTranscriptCorpusStore: the paired kernel over acoustic " +
    "signatures — same envelope + same transcript exact-drops, gain " +
    "re-master + paraphrase near-drops (across and within batches), " +
    "same clip + different transcript and same transcript + " +
    "different clip are ADMITTED; replay no-op; modality and " +
    "threshold guards; compaction preserves decisions") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-audpair").toString
    val store = s"$dir/store"
    def wav(pid: Long, jit: Int): Array[Byte] =
      Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255)))
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog" // ~0.4
    val capC = "completely unrelated words describing another scene"
    val capD = "yet another caption with nothing shared at all here"
    def commit(batchId: Long,
        rows: Seq[(Long, Array[Byte], String, String)],
        minJac: Double = 0.2): Unit =
      Streams.audioTranscriptCommit(
        rows.toDF("id", "payload", "transcript", "src"), batchId,
        "id", "payload", "transcript", "src", store, 4, minJac,
        window = 4)
    def ids() = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0: 3 re-delivers 2's clip under the IDENTICAL transcript
    // (paired-exact → keeper 2); 4 = same clip, unrelated transcript
    // → ADMITTED (the audio-only store would over-drop); 6 =
    // different clip, same transcript → ADMITTED; 99 undecodable
    commit(0L, Seq((2L, wav(5L, 0), capA, "s"),
      (3L, wav(5L, 0), capA, "s"),
      (4L, wav(5L, 0), capC, "s"),
      (6L, wav(6L, 0), capA, "s"),
      (99L, Array[Byte](1, 2, 3), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L))
    // batch 1: 11 = +2 gain re-master of 2's clip (envelope Hamming
    // ≤ 4) + PARAPHRASE of its transcript → near rail (both
    // modalities) → dropped; 13 = same clip + unrelated transcript →
    // admitted; 15 = new clip + capA's exact text → admitted (the
    // exact rail needs BOTH)
    commit(1L, Seq((11L, wav(5L, 2), capB, "s"),
      (13L, wav(5L, 2), capD, "s"),
      (15L, wav(7L, 0), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L))
    // replay re-derives the identical admission
    commit(1L, Seq((11L, wav(5L, 2), capB, "s"),
      (13L, wav(5L, 2), capD, "s"),
      (15L, wav(7L, 0), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L))
    // within-batch near rail: the paraphrased re-master arriving
    // BESIDE its source still collapses to the min-id keeper
    commit(2L, Seq((21L, wav(19L, 0), capA, "s"),
      (23L, wav(19L, 2), capB, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L, 21L))
    // thresholds are pinned; so is the MODALITY — a captioned-image
    // commit into this store must refuse, not corrupt the index
    val ex = intercept[IllegalArgumentException] {
      commit(3L, Seq((31L, wav(23L, 0), capA, "s")), minJac = 0.5)
    }
    assert(ex.getMessage.contains("admission contract"))
    val xm = intercept[IllegalArgumentException] {
      Streams.captionedCommit(
        Seq((32L, wav(23L, 0), capA, "s"))
          .toDF("id", "payload", "caption", "src"),
        3L, "id", "payload", "caption", "src", store, 4, 0.2)
    }
    assert(xm.getMessage.contains("one modality per store"))
    // compaction squashes all three indexes; decisions preserved
    Streams.compactMediaStore(spark, store, uptoBatch = 2L)
    for (idx <- Seq("fps", "bands", "postings")) {
      val parts = new java.io.File(s"$store/$idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("batch=-1"), s"$idx: ${parts.toSeq}")
    }
    commit(3L, Seq((31L, wav(5L, 2), capB, "s"), // still near 2
      (33L, wav(29L, 0), capC, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L, 21L, 33L))
  }

  test("toAudioTranscriptCorpusStore streaming wrapper: micro-batches " +
    "gate through the store") {
    import spark.implicits._
    import graft.llmops.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-audpairw").toString
    def wav(pid: Long): Array[Byte] =
      Multimodal.encodeWav(Array.tabulate(256)(t =>
        Multimodal.synthSample(pid, t)))
    val rows = Seq(
      (1L, wav(5L), "the quick brown fox", "s"),
      (2L, wav(5L), "the quick brown fox", "s"), // paired-exact dup
      (3L, wav(9L), "a completely different transcript", "s"))
    val src = MemoryStream[(Long, Array[Byte], String, String)]
    val q = Streams.toAudioTranscriptCorpusStore(
      src.toDF().toDF("id", "payload", "transcript", "src"),
      "id", "payload", "transcript", "src",
      s"$dir/store", s"$dir/chk")
    src.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    assert(Streams.curatedDocs(spark, s"$dir/store")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("toVideoTranscriptCorpusStore: the paired kernel over frame-set " +
    "signatures — re-ordered re-encode + same transcript exact-drops, " +
    "trimmed re-cut + paraphrase near-drops, same clip + different " +
    "speech and different clip + same transcript are ADMITTED; " +
    "replay no-op; modality guard; compaction preserves decisions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vidpair").toString
    val store = s"$dir/store"
    // 8-byte frames; frame (pid, f) is unique across the fixture's
    // families (bases pid*31+f*7 are distinct mod 251 for these pids)
    def clip(pid: Long, frames: Seq[Int]): Array[Byte] =
      frames.flatMap(f => Array.tabulate(8)(b =>
        ((pid * 31 + f * 7 + b * 3) % 251).toByte)).toArray
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog" // ~0.4
    val capC = "completely unrelated words describing another scene"
    val capD = "yet another caption with nothing shared at all here"
    def commit(batchId: Long,
        rows: Seq[(Long, Array[Byte], String, String)],
        minJac: Double = 0.2): Unit =
      Streams.videoTranscriptCommit(
        rows.toDF("id", "payload", "transcript", "src"), batchId,
        "id", "payload", "transcript", "src", store, minJac,
        frameBytes = 8)
    def ids() = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0: 3 re-delivers 2's clip RE-ORDERED (same frame set →
    // same set_fp) under the identical transcript → paired-exact
    // drop; 4 = same clip, unrelated transcript → ADMITTED; 6 =
    // different clip, same transcript → ADMITTED; 99 has no
    // complete frame → rejected
    commit(0L, Seq((2L, clip(5L, 0 until 8), capA, "s"),
      (3L, clip(5L, (0 until 8).reverse), capA, "s"),
      (4L, clip(5L, 0 until 8), capC, "s"),
      (6L, clip(6L, 0 until 8), capA, "s"),
      (99L, Array[Byte](1, 2, 3), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L))
    // batch 1: 11 = TRIMMED re-cut of 2 (6 of its 8 frames → most
    // MinHash slots shared) + PARAPHRASE transcript → near rail →
    // dropped; 13 = same trim + unrelated transcript → admitted;
    // 15 = new clip + capA's exact text → admitted (exact needs BOTH)
    commit(1L, Seq((11L, clip(5L, 0 until 6), capB, "s"),
      (13L, clip(5L, 0 until 6), capD, "s"),
      (15L, clip(7L, 0 until 8), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L))
    // replay re-derives the identical admission
    commit(1L, Seq((11L, clip(5L, 0 until 6), capB, "s"),
      (13L, clip(5L, 0 until 6), capD, "s"),
      (15L, clip(7L, 0 until 8), capA, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L))
    // within-batch near rail: a trimmed paraphrase beside its source
    commit(2L, Seq((21L, clip(19L, 0 until 8), capA, "s"),
      (23L, clip(19L, 0 until 6), capB, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L, 21L))
    // modality guard: an audio-transcript commit must refuse
    val xm = intercept[IllegalArgumentException] {
      Streams.audioTranscriptCommit(
        Seq((31L, clip(23L, 0 until 8), capA, "s"))
          .toDF("id", "payload", "transcript", "src"),
        3L, "id", "payload", "transcript", "src", store, 16, 0.2, 4)
    }
    assert(xm.getMessage.contains("one modality per store"))
    // compaction squashes all three indexes; decisions preserved
    Streams.compactMediaStore(spark, store, uptoBatch = 2L)
    for (idx <- Seq("fps", "bands", "postings")) {
      val parts = new java.io.File(s"$store/$idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("batch=-1"), s"$idx: ${parts.toSeq}")
    }
    commit(3L, Seq((31L, clip(5L, 0 until 6), capB, "s"), // still near 2
      (33L, clip(29L, 0 until 8), capC, "s")))
    assert(ids() == Seq(2L, 4L, 6L, 13L, 15L, 21L, 33L))
  }

  test("toVideoTranscriptCorpusStore streaming wrapper: micro-batches " +
    "gate through the store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-vidpairw").toString
    def clip(pid: Long): Array[Byte] =
      (0 until 8).flatMap(f => Array.tabulate(8)(b =>
        ((pid * 31 + f * 7 + b * 3) % 251).toByte)).toArray
    val rows = Seq(
      (1L, clip(5L), "the quick brown fox", "s"),
      (2L, clip(5L), "the quick brown fox", "s"), // paired-exact dup
      (3L, clip(9L), "a completely different transcript", "s"))
    val src = MemoryStream[(Long, Array[Byte], String, String)]
    val q = Streams.toVideoTranscriptCorpusStore(
      src.toDF().toDF("id", "payload", "transcript", "src"),
      "id", "payload", "transcript", "src",
      s"$dir/store", s"$dir/chk")
    src.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    assert(Streams.curatedDocs(spark, s"$dir/store")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("pairedCommit refuses a store whose pinned index schema names " +
    "an older column layout (pre-r13 pix_fp) instead of nulling " +
    "historical fingerprints") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-pairschema").toString
    val store = s"$dir/store"
    val W = 36; val H = 32
    def img(pid: Long): Array[Byte] =
      Multimodal.encodeBmp(Array.tabulate(H, W)((y, x) =>
        Multimodal.synthPixel(pid, x, y)), W, H)
    def commit(batchId: Long, id: Long, pid: Long): Unit =
      Streams.captionedCommit(
        Seq((id, img(pid), "a caption here", "s"))
          .toDF("id", "payload", "caption", "src"),
        batchId, "id", "payload", "caption", "src", store, 4, 0.2)
    commit(0L, 1L, 42L)
    // simulate a pre-r13 store: pin an fps_schema whose exact-rail
    // column is still pix_fp (the layout the r13 kernel renamed)
    val m = spark.read.parquet(s"$store/meta").first()
    Seq((m.getAs[Int]("max_hamming"), m.getAs[Double]("min_jac"),
      m.getAs[String]("pair_kind"),
      m.getAs[String]("fps_schema")
        .replace("\"name\":\"fp\"", "\"name\":\"pix_fp\""),
      m.getAs[String]("bands_schema"),
      m.getAs[String]("postings_schema")))
      .toDF("max_hamming", "min_jac", "pair_kind", "fps_schema",
        "bands_schema", "postings_schema")
      .coalesce(1).write.mode("overwrite").parquet(s"$store/meta")
    // committing would read historical fps as NULL under the new
    // template schema (exact rail silently dead) and a compaction
    // would null post-upgrade batches — refuse instead
    val ex = intercept[IllegalArgumentException] {
      commit(1L, 2L, 43L)
    }
    assert(ex.getMessage.contains("older index layout"))
  }

  test("curatedCommitIndexed trained gate: low-margin docs drop " +
    "incrementally, replay is a no-op under the same weights, and " +
    "drifted or toggled weights refuse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-clfgate").toString
    val store = s"$dir/store"
    val B = 4096
    def bucketOf(f: String): Long = Seq(f).toDF("f")
      .select(org.apache.spark.sql.functions.pmod(
        graft.llmops.TextOps.hash60(col("f")), lit(B.toLong)))
      .first().getLong(0)
    val bks = Seq("good", "bad", "good good", "bad bad").map(bucketOf)
    assert(bks.distinct.size == 4) // no collisions in the fixture
    val weights = Seq((bks(0), 1.0), (bks(1), -1.0), (bks(2), 1.0),
      (bks(3), -1.0)).toDF("bucket", "w")
    val gate = Streams.TrainedGate(weights, B, minMargin = 0.0)
    // permissive LM (trained on both docs, cutoff 0) isolates the gate
    val ref = Seq((100L, "good good good"), (101L, "bad bad bad"))
      .toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    def commit(batchId: Long, rows: Seq[(Long, String)],
        g: Option[Streams.TrainedGate] = Some(gate)): Unit =
      Streams.curatedCommitIndexed(rows.toDF("id", "body"), batchId,
        "id", "body", model, v, minScore = 0.0, store,
        minJac = 0.5, maxDf = 1000, urlCol = None, clfGate = g)
    def ids() = Streams.curatedDocs(spark, store)
      .select("id").as[Long].collect().sorted.toSeq
    // margin("good good good") = +1, margin("bad bad bad") = −1:
    // the gate admits 1, drops 2 — incrementally, inside the store
    commit(0L, Seq((1L, "good good good"), (2L, "bad bad bad")))
    assert(ids() == Seq(1L))
    // replay under the same weights: identical decision, no-op
    commit(0L, Seq((1L, "good good good"), (2L, "bad bad bad")))
    assert(ids() == Seq(1L))
    // the dedup rails still run: an exact redelivery of 1 drops on
    // the fps rail, a fresh low-margin doc drops on the gate
    commit(1L, Seq((3L, "good good good"), (4L, "bad bad good")))
    assert(ids() == Seq(1L))
    // drifted weights refuse (fingerprint pinned in meta)
    val drifted = Seq((bks(0), 2.0), (bks(1), -1.0)).toDF("bucket", "w")
    val exW = intercept[IllegalArgumentException] {
      commit(2L, Seq((5L, "good good good")),
        g = Some(Streams.TrainedGate(drifted, B, 0.0)))
    }
    assert(exW.getMessage.contains("drifted"))
    // gate off against a gate-on store refuses (and vice versa)
    val exOff = intercept[IllegalArgumentException] {
      commit(2L, Seq((5L, "good good good")), g = None)
    }
    assert(exOff.getMessage.contains("clf_gate"))
    val dir2 = Files.createTempDirectory("graft-clfgate2").toString
    Streams.curatedCommitIndexed(
      Seq((1L, "good good good")).toDF("id", "body"), 0L, "id",
      "body", model, v, 0.0, s"$dir2/store", 0.5, 1000, None, None)
    val exOn = intercept[IllegalArgumentException] {
      Streams.curatedCommitIndexed(
        Seq((2L, "bad bad bad")).toDF("id", "body"), 1L, "id",
        "body", model, v, 0.0, s"$dir2/store", 0.5, 1000, None,
        Some(gate))
    }
    assert(exOn.getMessage.contains("clf_gate"))
  }

  test("toCaptionedImageCorpusStore streaming wrapper: micro-batches " +
    "gate through the store") {
    import spark.implicits._
    import graft.llmops.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-capstream").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val W = 36; val H = 32
    def img(pid: Long, png: Boolean): Array[Byte] = {
      val p = Array.tabulate(H, W)((y, x) =>
        Multimodal.synthPixel(pid, x, y))
      if (png) Multimodal.encodePng(p, W, H)
      else Multimodal.encodeBmp(p, W, H)
    }
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog"
    val input = MemoryStream[(Long, Array[Byte], String, String)]
    val q = Streams.toCaptionedImageCorpusStore(
      input.toDF().toDF("id", "payload", "caption", "src"),
      "id", "payload", "caption", "src", store, ckpt)
    input.addData((1L, img(42L, false), capA, "s"),
      (3L, img(7L, false), capA, "s"))
    q.processAllAvailable()
    input.addData((5L, img(42L, true), capB, "s"), // near-dup of 1
      (7L, img(42L, false), capA, "s"))            // exact dup of 1
    q.processAllAvailable()
    q.stop()
    assert(Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("compactMediaStore: index partitions squash to batch=-1, " +
    "subsequent admission decisions identical to an uncompacted " +
    "twin; non-store dir refused") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-medcompact").toString
    def wav(id: Long, pid: Long, jit: Int)
        : (Long, Array[Byte], String) =
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255))), "s")
    def commit(store: String, batchId: Long,
        rows: Seq[(Long, Array[Byte], String)]): Unit =
      Streams.audioCommit(rows.toDF("id", "payload", "src"), batchId,
        "id", "payload", "src", store, 4, window = 4)
    def ids(store: String) = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    for (store <- Seq(s"$dir/a", s"$dir/b")) {
      commit(store, 0L, Seq(wav(1L, 5L, 0), wav(2L, 6L, 0)))
      commit(store, 1L, Seq(wav(3L, 7L, 0)))
    }
    Streams.compactMediaStore(spark, s"$dir/a", uptoBatch = 1L)
    // index partitions collapsed to batch=-1 only
    for (idx <- Seq("fps", "bands")) {
      val parts = new java.io.File(s"$dir/a/$idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("batch=-1"), s"$idx: ${parts.toSeq}")
    }
    // batch 2 probes: 11 exact-dups clip 5, 13 near-dups it (+2
    // gain), 15 is new — identical decisions on both stores
    val b2 = Seq(wav(11L, 5L, 0), wav(13L, 5L, 2), wav(15L, 9L, 0))
    commit(s"$dir/a", 2L, b2)
    commit(s"$dir/b", 2L, b2)
    assert(ids(s"$dir/a") == ids(s"$dir/b"))
    assert(ids(s"$dir/a") == Seq(1L, 2L, 3L, 15L))
    // repeated compaction folds batch=-1 back in safely
    Streams.compactMediaStore(spark, s"$dir/a", uptoBatch = 2L)
    commit(s"$dir/a", 3L, Seq(wav(21L, 9L, 1))) // near-dup of 15
    assert(ids(s"$dir/a") == Seq(1L, 2L, 3L, 15L))
    // a directory without the meta table is refused
    val ex = intercept[IllegalArgumentException] {
      Streams.compactMediaStore(spark, s"$dir/nostore", 0L)
    }
    assert(ex.getMessage.contains("meta"))
  }

  test("compactMediaStore: a batch that rejects every doc leaves no " +
    "partition behind; the admitted corpus is unchanged") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-medcompact-rej").toString
    val store = s"$dir/store"
    val rows = Seq(1L -> 5L, 2L -> 6L).map { case (id, pid) =>
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        Multimodal.synthSample(pid, t))), "s")
    }.toDF("id", "payload", "src")
    // batch 1 redelivers batch 0: both clips exact-dup their own
    // admitted copies, so batch 1 writes only empty index partitions
    (0L to 1L).foreach { b =>
      Streams.audioCommit(rows, b, "id", "payload", "src", store, 4,
        window = 4)
    }
    def ids() = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids() == Seq(1L, 2L))
    assert(Streams.compactMediaStore(spark, store, uptoBatch = 1L) ==
      Seq("fps", "bands"))
    for (t <- Seq("fps", "bands"))
      assert(partitionDirs(s"$store/$t") == Seq("batch=-1"), t)
    assert(ids() == Seq(1L, 2L))
  }

  test("toAudioCorpusStore streaming wrapper: micro-batches gate " +
    "through the store") {
    import spark.implicits._
    import graft.llmops.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-audstream").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    def wav(id: Long, pid: Long, jit: Int)
        : (Long, Array[Byte], String) =
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255))), "s")
    val input = MemoryStream[(Long, Array[Byte], String)]
    val q = Streams.toAudioCorpusStore(
      input.toDF().toDF("id", "payload", "src"), "id", "payload",
      "src", store, ckpt)
    input.addData(wav(1L, 10L, 0), wav(3L, 11L, 0))
    q.processAllAvailable()
    input.addData(wav(5L, 11L, 2), wav(7L, 12L, 0)) // 5 re-masters 11
                                      // (+2 gain: near rail, Hamming 1)
    q.processAllAvailable()
    q.stop()
    assert(Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 7L))
  }

  test("toImageCorpusStore streaming wrapper: micro-batches gate " +
    "through the store") {
    import spark.implicits._
    import graft.llmops.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-imgstream").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    def png(id: Long, pid: Long): (Long, Array[Byte], String) = {
      val pix = Array.tabulate(32, 36)((y, x) =>
        Multimodal.synthPixel(pid, x, y))
      (id, Multimodal.encodePng(pix, 36, 32), "s")
    }
    val input = MemoryStream[(Long, Array[Byte], String)]
    val q = Streams.toImageCorpusStore(
      input.toDF().toDF("id", "payload", "src"), "id", "payload",
      "src", store, ckpt)
    input.addData(png(1L, 10L), png(3L, 11L))
    q.processAllAvailable()
    input.addData(png(5L, 10L), png(7L, 12L)) // 5 re-encodes family 10
    q.processAllAvailable()
    q.stop()
    assert(Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 7L))
  }

  test("media stores pin their modality: an audio commit into an image " +
    "store, or an image commit into an audio store, refuses (one " +
    "modality per store); a store stamped before the pin still accepts") {
    import spark.implicits._
    import graft.llmops.Multimodal
    val dir = Files.createTempDirectory("graft-mediakind").toString
    def img(id: Long, pid: Long): (Long, Array[Byte], String) =
      (id, Multimodal.encodeBmp(Array.tabulate(32, 36)((y, x) =>
        Multimodal.synthPixel(pid, x, y)), 36, 32), "s")
    def wav(id: Long, pid: Long): (Long, Array[Byte], String) =
      (id, Multimodal.encodeWav(Array.tabulate(256)(t =>
        Multimodal.synthSample(pid, t))), "s")
    def image(store: String, b: Long, r: (Long, Array[Byte], String)) =
      Streams.imageCommit(Seq(r).toDF("id", "payload", "src"), b, "id",
        "payload", "src", store, 4)
    def audio(store: String, b: Long, r: (Long, Array[Byte], String)) =
      Streams.audioCommit(Seq(r).toDF("id", "payload", "src"), b, "id",
        "payload", "src", store, 4, 4)
    def ids(store: String) = Streams.curatedDocs(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val (imgStore, audStore) = (s"$dir/img", s"$dir/aud")
    image(imgStore, 0L, img(1L, 5L))
    audio(audStore, 0L, wav(1L, 5L))
    val intoImage = intercept[IllegalArgumentException] {
      audio(imgStore, 1L, wav(2L, 6L))
    }
    assert(intoImage.getMessage.contains("one modality per store"))
    val intoAudio = intercept[IllegalArgumentException] {
      image(audStore, 1L, img(2L, 6L))
    }
    assert(intoAudio.getMessage.contains("one modality per store"))
    assert(ids(imgStore) == Seq(1L) && ids(audStore) == Seq(1L))
    // a paired (captioned-image) store is another family: an image
    // commit into it refuses before it writes an fps partition
    val capStore = s"$dir/cap"
    Streams.captionedCommit(Seq((1L, img(1L, 5L)._2, "a red square", "s"))
      .toDF("id", "payload", "caption", "src"), 0L, "id", "payload",
      "caption", "src", capStore, 4, 0.2)
    val intoPaired = intercept[IllegalArgumentException] {
      image(capStore, 1L, img(2L, 6L))
    }
    assert(intoPaired.getMessage.contains("not a media store"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$capStore/fps/batch=1")))
    assert(Streams.storeKind(spark, imgStore) == "media:image")
    assert(Streams.storeKind(spark, audStore) == "media:audio")
    // a store stamped before media_kind existed: no column, kind
    // "media", and commits are accepted as before
    val meta = spark.read.parquet(s"$imgStore/meta")
    meta.drop("media_kind").localCheckpoint()
      .coalesce(1).write.mode("overwrite").parquet(s"$imgStore/meta")
    assert(Streams.storeKind(spark, imgStore) == "media")
    image(imgStore, 1L, img(3L, 7L))
    assert(ids(imgStore) == Seq(1L, 3L))
    assert(!spark.read.parquet(s"$imgStore/meta").columns
      .contains("media_kind"))
  }

  test("rename-aside swap crash window: with the current state gone and " +
    "__prev holding it, the next merge builds on __prev, skips a " +
    "replayed id from its ledger, and leaves no __prev or __tmp") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-swapcrash").toString
    def path(p: String) = java.nio.file.Paths.get(p)
    // the state a crash between the swap's two renames leaves: the
    // current store moved to __prev, the crashed attempt's new state
    // still in __tmp
    def crash(store: String)(writeTmp: String => Unit): Unit = {
      Files.move(path(store), path(s"${store}__prev"))
      writeTmp(s"${store}__tmp")
    }
    def healed(store: String): Unit =
      for (aside <- Seq("__prev", "__tmp"))
        assert(!Files.exists(path(store + aside)), store + aside)
    // sketch store (Bloom bits)
    val bloom = s"$dir/bloom"
    val (m, h) = (512, 3)
    val input = MemoryStream[String]
    val q = Streams.toBloomStore(input.toDF().toDF("k"), "k", m, h,
      bloom, s"$dir/bloom_ckpt")
    val b1 = (1 to 40).map(i => s"eval$i")
    val b2 = (41 to 80).map(i => s"eval$i")
    input.addData(b1: _*); q.processAllAvailable()
    crash(bloom)(graft.llmops.Sketches.bloomBuild(Seq("junk").toDF("k"),
      "k", m, h).write.parquet(_))
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.select("pos").as[Long].collect().sorted.toSeq
    assert(bits(spark.read.parquet(bloom)) == bits(graft.llmops.Sketches
      .bloomBuild((b1 ++ b2).toDF("k"), "k", m, h)))
    healed(bloom)
    // ledgered store (CMS): a replayed id is skipped by __prev's ledger
    val cms = s"$dir/cms"
    def sketchOf(terms: Seq[String]) = graft.llmops.Sketches
      .countMinBuild(terms.toDF("term"), "term", d = 4, w = 64)
    def counts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (t0, t1, t2) = (Seq("a", "a", "b"), Seq("b", "c"), Seq("d"))
    Streams.mergeCmsBatch(spark, cms, sketchOf(t0), 0L)
    Streams.mergeCmsBatch(spark, cms, sketchOf(t1), 1L)
    crash(cms) { tmp =>
      sketchOf(Seq("junk")).write.parquet(s"$tmp/sketch")
      Seq(99L).toDF("batch_id").write.parquet(s"$tmp/batches")
    }
    Streams.mergeCmsBatch(spark, cms, sketchOf(t1), 1L) // replay: no-op
    // ... that still moves __prev back into place
    assert(Files.exists(path(cms)) && !Files.exists(path(s"${cms}__prev")))
    Streams.mergeCmsBatch(spark, cms, sketchOf(t2), 2L)
    assert(counts(spark.read.parquet(s"$cms/sketch")) ==
      counts(sketchOf(t0 ++ t1 ++ t2)))
    assert(spark.read.parquet(s"$cms/batches").as[Long].collect()
      .toSeq == Seq(2L))
    healed(cms)
    // SCD store: the next batch diffs against __prev, so keys it does
    // not touch are neither lost nor re-emitted as added
    val (cur, hist) = (s"$dir/cur", s"$dir/hist")
    val scdIn = MemoryStream[(Long, Double, Long)]
    val scd = Streams.toScdStore(scdIn.toDF().toDF("k", "v", "ts"),
      Seq("k"), Seq("v"), "ts", cur, hist, s"$dir/scd_ckpt")
    scdIn.addData((1L, 10.0, 1L), (1L, 11.0, 2L), (2L, 20.0, 1L))
    scd.processAllAvailable()
    crash(cur)(Seq((9L, 9.0)).toDF("k", "v").write.parquet(_))
    scdIn.addData((1L, 12.0, 3L), (3L, 30.0, 1L))
    scd.processAllAvailable()
    scd.stop()
    assert(spark.read.parquet(cur).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 12.0, 2L -> 20.0, 3L -> 30.0))
    assert(spark.read.parquet(hist).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4))).sorted
      .toSeq == Seq((1L, "added", 0L), (1L, "changed", 1L),
        (2L, "added", 0L), (3L, "added", 1L)))
    healed(cur)
  }

  test("meta format: every admission store kind stamps its contract " +
    "under fixed column names and types, with index schemas pinned") {
    import spark.implicits._
    import graft.llmops.{LanguageModel, Multimodal}
    val dir = Files.createTempDirectory("graft-metaformat").toString
    def format(store: String): Seq[String] =
      spark.read.parquet(s"$store/meta").schema.fields
        .map(f => s"${f.name} ${f.dataType.simpleString}").toSeq
    def pinned(store: String, table: String): Seq[String] =
      org.apache.spark.sql.types.DataType.fromJson(
        spark.read.parquet(s"$store/meta").first()
          .getAs[String](s"${table}_schema"))
        .asInstanceOf[StructType].fieldNames.toSeq
    def check(store: String, kind: String, columns: Seq[String],
        schemas: (String, Seq[String])*): Unit = {
      assert(format(store) == columns, store)
      for ((table, fields) <- schemas)
        assert(pinned(store, table) == fields, s"$store $table")
      assert(Streams.storeKind(spark, store) == kind, store)
    }
    // curated ±url ±clf
    val curated = Seq("max_df int", "fps_schema string",
      "postings_schema string", "dfs_schema string", "url_rail boolean",
      "clf_gate boolean", "clf_fp bigint", "clf_min_margin double",
      "clf_buckets int")
    val ref = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val model = LanguageModel.bigramModel(ref, "doc_id", "text")
    val v = LanguageModel.refVocabSize(ref, "text")
    val gate = Streams.TrainedGate(Seq((1L, 0.5)).toDF("bucket", "w"),
      64, -10.0)
    for ((name, url, clf, kind) <- Seq(("plain", None, None, "curated"),
        ("url", Some("url"), None, "curated+url"),
        ("clf", None, Some(gate), "curated+clf"))) {
      Streams.curatedCommitIndexed(
        Seq((1L, "alpha beta gamma delta", "http://a.example/x"))
          .toDF("id", "body", "url"),
        0L, "id", "body", model, v, 0.0, s"$dir/$name", 0.5, 1000, url,
        clf)
      check(s"$dir/$name", kind, curated, "fps" -> Seq("fp"),
        "postings" -> Seq("doc", "nsh", "sh"), "dfs" -> Seq("sh", "df"))
    }
    // image, audio, video
    val media = Seq("max_hamming int", "fps_schema string",
      "bands_schema string", "media_kind string")
    val nearBands = Seq("doc_id", "nhash", "band", "bucket")
    val bmp = Multimodal.encodeBmp(Array.tabulate(32, 36)((y, x) =>
      Multimodal.synthPixel(5L, x, y)), 36, 32)
    val wav = Multimodal.encodeWav(Array.tabulate(256)(t =>
      Multimodal.synthSample(5L, t)))
    def frames(pid: Long): Array[Byte] =
      (0 until 8).flatMap(f => Array.tabulate(8)(b =>
        ((pid * 31 + f * 7 + b * 3) % 251).toByte)).toArray
    def rows(payload: Array[Byte]) =
      Seq((1L, payload, "s")).toDF("id", "payload", "src")
    Streams.imageCommit(rows(bmp), 0L, "id", "payload", "src",
      s"$dir/image", 4)
    check(s"$dir/image", "media:image", media, "fps" -> Seq("fp"),
      "bands" -> nearBands)
    Streams.audioCommit(rows(wav), 0L, "id", "payload", "src",
      s"$dir/audio", 4, 4)
    check(s"$dir/audio", "media:audio", media, "fps" -> Seq("fp"),
      "bands" -> nearBands)
    Streams.videoCommit(rows(frames(5L)), 0L, "id", "payload", "src",
      s"$dir/video", 0.75, 8, 256)
    check(s"$dir/video", "media:video", Seq("min_containment double",
      "frame_bytes int", "max_bucket int", "fps_schema string",
      "bands_schema string", "frames_schema string"),
      "fps" -> Seq("fp"), "bands" -> Seq("doc_id", "band", "bucket"),
      "frames" -> Seq("doc_id", "frame_fp"))
    // the three paired kinds
    val paired = Seq("max_hamming int", "min_jac double",
      "pair_kind string", "fps_schema string", "bands_schema string",
      "postings_schema string")
    def pairs(payload: Array[Byte]) =
      Seq((1L, payload, "a caption with words", "s"))
        .toDF("id", "payload", "text", "src")
    Streams.captionedCommit(pairs(bmp), 0L, "id", "payload", "text",
      "src", s"$dir/captioned", 4, 0.2)
    Streams.audioTranscriptCommit(pairs(wav), 0L, "id", "payload",
      "text", "src", s"$dir/audiotx", 4, 0.2, 4)
    Streams.videoTranscriptCommit(pairs(frames(5L)), 0L, "id",
      "payload", "text", "src", s"$dir/videotx", 0.2, 8)
    for ((name, kind) <- Seq("captioned" -> "captioned-image",
        "audiotx" -> "audio-transcript", "videotx" -> "video-transcript"))
      check(s"$dir/$name", s"paired:$kind", paired,
        "fps" -> Seq("fp", "cap_fp"), "bands" -> nearBands,
        "postings" -> Seq("doc_id", "nsh", "sh"))
  }

  test("file source streams incrementally and lands in a day store") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream").toString
    val src = s"$dir/src"; val store = s"$dir/store"; val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(src))
    Seq((1, "20240101"), (2, "20240102")).toDF("v", "day")
      .write.json(s"$src/batch1")
    val schema = StructType(Seq(StructField("v", LongType),
      StructField("day", StringType)))
    val stream = Streams.fileSource(spark, schema, s"$src/*", "json")
    val q = Streams.toPartitionedStore(stream, store, ckpt, "day")
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(store)
    assert(got.count() == 2)
    assert(got.select("day").distinct().count() == 2)
  }
}
