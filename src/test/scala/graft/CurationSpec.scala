package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llmops.{Sharding, TextOps}
import graft.ops.Events

/** Edge-case tests for the corpus-release operators (decontamination,
  * cross-doc repetition, sharding) and the event-stream operators
  * (as-of join, sessionization). The oracle queries prove the happy
  * path; these pin the boundary semantics. */
class CurationSpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-curation-test")
  import spark.implicits._

  // ---- decontaminate ----

  test("decontaminate flags overlap, keeps short and clean docs") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta gamma"
      (2L, "one two three four five"),  // clean
      (3L, "hi"))                       // too short to shingle
      .toDF("doc_id", "text")
    val eval = Seq((9L, "alpha beta gamma zeta")).toDF("doc_id", "text")
    val r = TextOps.decontaminate(train, eval, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) == ((2L, 1L, true)))   // 2 shingles, 1 hit
    assert(r(2L) == ((3L, 0L, false)))
    assert(r(3L) == ((0L, 0L, false))) // short doc present, zero counts
  }

  test("decontaminate with empty eval set marks nothing") {
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = TextOps.decontaminate(train, eval, "doc_id", "text").head()
    assert(r.getLong(2) == 0L && !r.getBoolean(3))
  }

  test("contaminationCurve: per-n flags, monotone in n, short docs " +
    "counted only where they shingle") {
    // 15-token base so every doc rows at n=13; t1 embeds a verbatim
    // 5-token eval span (hits n=3 AND n=5), t2 shares only a 3-gram
    // (its 4th token diverges), t3 is clean, t4 is 4 tokens (shingles
    // at n=3 only)
    def pad(s: String, p: String) =
      (s.split(" ") ++ (1 to 15 - s.split(" ").length).map(i => s"$p$i"))
        .mkString(" ")
    val train = Seq(
      (1L, pad("alpha beta gamma delta epsilon", "x")),
      (2L, pad("alpha beta gamma OTHER", "y")),
      (3L, pad("clean words only", "z")),
      (4L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val eval =
      Seq((9L, pad("alpha beta gamma delta epsilon", "e")))
        .toDF("doc_id", "text")
    val r = TextOps
      .contaminationCurve(train, eval, "doc_id", "text")
      .collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4)))).toMap
    assert(r.keySet == Set(3, 5, 8, 13))
    // n=3: t1 (span), t2 (alpha beta gamma), t4 (span prefix) hit
    assert(r(3)._2 == 4L && r(3)._3 == 3L && r(3)._4 == 0.75)
    // n=5: only t1 carries the full verbatim 5-gram
    assert(r(5)._3 == 1L)
    // n=8+: the eval padding tokens differ from every train doc's
    assert(r(8)._3 == 0L && r(13)._3 == 0L)
    // t4 too short to shingle past n=3 → train doc counts shrink
    assert(r(3)._2 == 4L && r(5)._2 == 3L && r(13)._2 == 3L)
    // eval shingle masses: 15-token eval doc has 16-n shingles
    assert(r(3)._1 == 13L && r(13)._1 == 3L)
    // contamination can only shrink as n grows
    assert(r(3)._3 >= r(5)._3 && r(5)._3 >= r(8)._3 &&
      r(8)._3 >= r(13)._3)
  }

  test("bloomDecontaminate: no false negatives vs the exact operator, " +
    "hit counts bounded above, FP rate near fpp") {
    // enough distinct clean shingles that a broken filter would show
    val train = (1L to 120L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e")).toDF("doc_id", "text")
    val contaminated = Seq(
      (500L, "alpha beta gamma delta"), (501L, "one two three"))
      .toDF("doc_id", "text")
    val eval = Seq((9L, "alpha beta gamma"), (10L, "one two three"))
      .toDF("doc_id", "text")
    val all = train.unionByName(contaminated)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    val exact = toMap(TextOps.decontaminate(all, eval, "doc_id", "text"))
    val bloom = toMap(
      TextOps.bloomDecontaminate(all, eval, "doc_id", "text", fpp = 0.01))
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, (nsh, nhitExact, contExact)) =>
      val (nshB, nhitB, contB) = bloom(id)
      assert(nshB == nsh)
      assert(nhitB >= nhitExact) // false positives only, never negatives
      if (contExact) assert(contB) // every true contamination flagged
    }
    // at fpp=1% over ~360 clean shingles, expect ≈ 4 spurious hits;
    // 30 would mean the filter is broken, not unlucky
    val spurious = exact.keys.map(id => bloom(id)._2 - exact(id)._2).sum
    assert(spurious <= 30L, s"spurious hits: $spurious")
  }

  test("bloomDecontaminate: shingle-less eval suite marks nothing " +
    "(zero-item BloomFilter would NPE on probe)") {
    val train = Seq((1L, "a b c d e"), (2L, "x")).toDF("doc_id", "text")
    val eval = Seq((9L, "ab"), (10L, "")).toDF("doc_id", "text") // < 3 tokens
    val got = TextOps.bloomDecontaminate(train, eval, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    assert(got.forall(r => r.getLong(2) == 0L && !r.getBoolean(3)))
    assert(got(0).getLong(1) == 3L && got(1).getLong(1) == 0L)
  }

  test("bloomDecontaminate resolves graft_might_contain on an " +
    "externally-configured session via ensureQueryConfs (the " +
    "verification-driver path, where spark.sql.extensions is unset)") {
    val reg = spark.sessionState.functionRegistry
    val ident =
      org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_might_contain")
    // simulate a session built without GraftExtensions
    reg.dropFunction(ident)
    val train = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val eval = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    intercept[Exception] {
      TextOps.bloomDecontaminate(train, eval, "doc_id", "text").collect()
    }
    graft.core.Sessions.ensureQueryConfs(spark)
    val r = TextOps.bloomDecontaminate(train, eval, "doc_id", "text")
      .head()
    assert(r.getLong(2) >= 1L && r.getBoolean(3))
    // arity is guarded with a clean error, not a runtime cast blowup
    val ex = intercept[Exception] {
      graft.functions.BloomMightContain.builder(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(1)))
    }
    assert(ex.getMessage.contains("2 arguments"))
  }

  test("Sessions: one function list feeds the session extension; AQE " +
    "partition coalescing stays at Spark's defaults") {
    import org.apache.spark.sql.internal.SQLConf
    val names = graft.functions.GraftExtensions.functions.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.forall(spark.catalog.functionExists), names)
    val conf = spark.sessionState.conf
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) ==
      64L * 1024 * 1024)
    // AQE's sort-merge → shuffled-hash rewrite threshold is fixed at 64m
    assert(conf.getConf(
      SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) ==
      64L * 1024 * 1024)
  }

  // ---- dupNgramFraction ----

  test("dup-ngram fraction: 1.0 for clones, 0.0 for unique and short") {
    val docs = Seq(
      (1L, "x y z w"), (2L, "x y z w"),      // clones: both fully dup
      (3L, "p q r s t"),                     // unique
      (4L, "no"))                            // shingle-less
      .toDF("doc_id", "text")
    val r = TextOps.dupNgramFraction(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) == 1.0 && r(2L) == 1.0)
    assert(r(3L) == 0.0)
    assert(r(4L) == 0.0)
  }

  // ---- sharding ----

  test("writeSharded: deterministic layout, shards partition the corpus") {
    val docs = (0L until 200L).map(i => (i, s"tok$i text $i")).toDF(
      "doc_id", "text")
    val dir = Files.createTempDirectory("graft-shards").toString
    Sharding.writeSharded(spark, docs, "doc_id", 8, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 200)
    assert(back.select(col("shard")).distinct().count() == 8)
    // layout is a pure function of the data: re-deriving the shard from
    // the id must agree with the written partition value
    val mismatch = back.withColumn("expect",
      (TextOps.hash60(col("doc_id").cast("string")) % 8).cast("int"))
      .filter(col("shard") =!= col("expect")).count()
    assert(mismatch == 0)
    // manifest agrees with the written reality
    val manifest = Sharding.shardManifest(docs, "doc_id", "text", 8)
    assert(manifest.agg(sum(col("n_docs"))).head.getLong(0) == 200)
  }

  // ---- asOfJoin ----

  test("asOfJoin picks latest right at-or-before each left row") {
    val quotes = Seq( // (key, ts, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0))
      .toDF("sym", "ts", "px")
    val trades = Seq(
      ("A", 5L),   // before any quote → null
      ("A", 20L),  // equal ts → that quote visible
      ("A", 25L),  // between → ts=20 quote
      ("B", 99L),  // far after → ts=15
      ("C", 50L))  // key with no quotes → null
      .toDF("sym", "ts")
    val r = Events.asOfJoin(trades, quotes, "sym", "ts", Seq("ts", "px"))
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (if (x.isNullAt(2)) None else Some((x.getLong(2), x.getDouble(3)))))
      .toMap
    assert(r(("A", 5L)).isEmpty)
    assert(r(("A", 20L)).contains((20L, 2.0)))
    assert(r(("A", 25L)).contains((20L, 2.0)))
    assert(r(("B", 99L)).contains((15L, 9.0)))
    assert(r(("C", 50L)).isEmpty)
  }

  test("asOfJoin: null keys never match; equal-ts right rows resolve " +
      "to the largest payload deterministically") {
    val quotes = Seq(
      (Some("A"), 10L, 1.0), (Some("A"), 10L, 2.0), // equal (key, ts)
      (None: Option[String], 5L, 9.0))              // null-key right row
      .toDF("sym", "ts", "px")
    val trades = Seq((Some("A"), 20L), (None: Option[String], 20L))
      .toDF("sym", "ts")
    val r = Events.asOfJoin(trades, quotes, "sym", "ts", Seq("px"))
      .collect().map(x => Option(x.getString(0)) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    // two quotes at ts=10: the larger payload wins, every run
    assert(r(Some("A")).contains(2.0))
    // SQL join-equality semantics: NULL never matches NULL
    assert(r(None).isEmpty)
  }

  test("asOfJoin composite key: state resolved per (sym, venue)") {
    val quotes = Seq(
      ("A", "X", 10L, 1.0), ("A", "Y", 10L, 9.0), ("A", "X", 20L, 2.0))
      .toDF("sym", "venue", "ts", "px")
    val trades = Seq(("A", "X", 25L), ("A", "Y", 25L), ("A", "Z", 25L))
      .toDF("sym", "venue", "ts")
    val r = Events.asOfJoin(trades, quotes, Seq("sym", "venue"), "ts",
      Seq("px"))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(("A", "X")).contains(2.0)) // latest X quote, not Y's
    assert(r(("A", "Y")).contains(9.0))
    assert(r(("A", "Z")).isEmpty)       // venue with no quotes
  }

  // ---- sessionize ----

  test("sessionize: boundary gap stays in-session, gap+1 splits") {
    val gap = 100L
    val ev = Seq( // (user, ts, id, v)
      (1L, 0L, 1L, 1.0),
      (1L, 100L, 2L, 1.0),  // exactly gap → same session
      (1L, 201L, 3L, 1.0),  // gap+1 → new session
      (2L, 0L, 4L, 5.0))    // single-event session
      .toDF("user_id", "ts", "event_id", "v")
    val r = Events.sessionize(ev, "user_id", "ts", "v", gap, "event_id",
        ticksPerSecond = 1L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(6)))).toMap
    // user 1: session 1 = events at 0,100 (duration 100); session 2 = 201
    assert(r((1L, 1L)) == ((2L, 0L, 100L, 100L)))
    assert(r((1L, 2L)) == ((1L, 201L, 201L, 0L)))
    assert(r((2L, 1L)) == ((1L, 0L, 0L, 0L)))
  }
}
