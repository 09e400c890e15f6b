package graft

import java.nio.file.{Files, Paths => JPaths}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schemas
import graft.jobs.{FtsAsoJobs, JobRunner, RucioJobs}

/** End-to-end CLI surface: JobRunner.main from files on disk to files
  * on disk — the "same CLI semantics" contract (SURVEY §7.1 item 5) —
  * plus specs for the monitoring/transfer job shapes. */
class RunnerSpec extends AnyFunSuite {

  test("JobRunner: event_count_by_tier end-to-end from CSV dumps") {
    val dir = Files.createTempDirectory("graft-runner").toString
    // DBS CSV dump fixtures, 'null' literal included
    Files.writeString(JPaths.get(s"$dir/datasets.csv"),
      "1,/PrimA/Proc-v1/RAW,1,1,1,1,1,1,1,1,0.0,null,0.0,x,0.0,x\n" +
        "2,/PrimB/Proc-v2/AOD,1,1,1,1,1,1,1,1,0.0,null,0.0,x,0.0,x\n")
    Files.writeString(JPaths.get(s"$dir/files.csv"),
      "10,/store/f1,1,1,1,1,c,100,1000.0,1,a,m,0.0,0.0,x,0.0,x\n" +
        "11,/store/f2,1,1,1,1,c,250,2000.0,1,a,m,0.0,0.0,x,0.0,x\n" +
        "12,/store/f3,1,2,1,1,c,50,500.0,1,a,m,0.0,0.0,x,0.0,x\n")
    JobRunner.main(Array(
      "--job", "event_count_by_tier",
      "--in-datasets", s"$dir/datasets.csv",
      "--in-files", s"$dir/files.csv",
      "--fmt", "csv",
      "--out", s"$dir/out"))
    val lines = Files.list(JPaths.get(s"$dir/out")).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines()).sorted
    assert(lines.exists(_.startsWith("tier,")), "header expected")
    assert(lines.exists(l => l.startsWith("RAW,350,")),
      s"RAW events=350 expected in ${lines.toSeq}")
    assert(lines.exists(l => l.startsWith("AOD,50,")))
  }

  test("JobRunner: event_count_by_tier end-to-end from AVRO dumps " +
    "(connector-free fallback)") {
    val spark = graft.core.Sessions.local(4, "graft-runner-avro")
    val dir = Files.createTempDirectory("graft-runner-avro").toString
    // same dump content as the CSV test, shipped as avro container
    // files through IO.writeAvro (in this sandbox: the AvroIO
    // fallback) — proves the reference's avro ingest path end-to-end
    // without the spark-avro connector
    Files.writeString(JPaths.get(s"$dir/datasets.csv"),
      "1,/PrimA/Proc-v1/RAW,1,1,1,1,1,1,1,1,0.0,null,0.0,x,0.0,x\n" +
        "2,/PrimB/Proc-v2/AOD,1,1,1,1,1,1,1,1,0.0,null,0.0,x,0.0,x\n")
    Files.writeString(JPaths.get(s"$dir/files.csv"),
      "10,/store/f1,1,1,1,1,c,100,1000.0,1,a,m,0.0,0.0,x,0.0,x\n" +
        "11,/store/f2,1,1,1,1,c,250,2000.0,1,a,m,0.0,0.0,x,0.0,x\n" +
        "12,/store/f3,1,2,1,1,c,50,500.0,1,a,m,0.0,0.0,x,0.0,x\n")
    graft.core.IO.writeAvro(
      graft.core.IO.csv(spark, Schemas.dbsDatasets,
        Seq(s"$dir/datasets.csv")), s"$dir/datasets.avro")
    graft.core.IO.writeAvro(
      graft.core.IO.csv(spark, Schemas.dbsFiles,
        Seq(s"$dir/files.csv")), s"$dir/files.avro")
    JobRunner.main(Array(
      "--job", "event_count_by_tier",
      "--in-datasets", s"$dir/datasets.avro",
      "--in-files", s"$dir/files.avro",
      "--fmt", "avro",
      "--out", s"$dir/out"))
    val lines = Files.list(JPaths.get(s"$dir/out")).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines()).sorted
    assert(lines.exists(l => l.startsWith("RAW,350,")),
      s"RAW events=350 expected in ${lines.toSeq}")
    assert(lines.exists(l => l.startsWith("AOD,50,")))
  }

  test("JobRunner: block_lumis end-to-end through the file_lumis " +
    "schema binding") {
    val dir = Files.createTempDirectory("graft-runner-bl").toString
    Files.writeString(JPaths.get(s"$dir/blocks.csv"),
      "100,/P/Q/RAW#b1,1,0,site,0.0,2,0.0,x,0.0,x\n")
    Files.writeString(JPaths.get(s"$dir/files.csv"),
      "10,/store/f1,1,1,100,1,c,100,1000.0,1,a,m,0.0,0.0,x,0.0,x\n" +
        "11,/store/f2,1,1,100,1,c,250,2000.0,1,a,m,0.0,0.0,x,0.0,x\n")
    Files.writeString(JPaths.get(s"$dir/file_lumis.csv"),
      "1,11,10\n1,12,10\n2,13,11\n")
    JobRunner.main(Array(
      "--job", "block_lumis",
      "--in-blocks", s"$dir/blocks.csv",
      "--in-files", s"$dir/files.csv",
      "--in-file_lumis", s"$dir/file_lumis.csv",
      "--fmt", "csv",
      "--out", s"$dir/out"))
    val lines = Files.list(JPaths.get(s"$dir/out")).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(lines.exists(_ == "/P/Q/RAW#b1,3"),
      s"expected block lumi count in ${lines.toSeq}")
  }

  test("JobRunner: compact_store lake job rewrites the store and " +
    "emits a summary") {
    val dir = Files.createTempDirectory("graft-runner-ck").toString
    val store = s"$dir/store"
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    (1 to 200).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .repartition(20).write.parquet(store)
    val summary = JobRunner.lakeJobs("compact_store")(
      s0, Map("in-store" -> store, "target-bytes" -> "1000000000"))
      .collect()
    assert(summary.length == 1 && summary(0).getInt(1) == 1)
    // store still reads back complete, now in 1 data file
    assert(s0.read.parquet(store).count() == 200)
    val parts = new java.io.File(store).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts == 1)
  }

  test("JobRunner: shard_export lake job writes shard dirs + manifest") {
    val dir = Files.createTempDirectory("graft-runner-sh").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    (1 to 100).map(i => (i.toLong, s"tok$i tok$i"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val manifest = JobRunner.lakeJobs("shard_export")(
      s0, Map("in-docs" -> s"$dir/docs", "dest" -> s"$dir/shards",
        "shards" -> "4")).collect()
    assert(manifest.map(_.getLong(1)).sum == 100)
    val shardDirs = new java.io.File(s"$dir/shards").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == (0 until 4).map(i => s"shard=$i"))
  }

  test("JobRunner: corpus_release_export ships scrubbed shards + audit") {
    val dir = Files.createTempDirectory("graft-runner-cre").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    // 40 docs, each 30+ tokens passing every gate, all unique; plus
    // one exact duplicate pair and one too-short doc
    val good = (1 to 40).map { i =>
      // 30 tokens: "the" + 15 distinct 4-char + 14 distinct 5-char
      // (chars/token = 133/30 ≈ 4.43, inside the [4.2, 4.9] gate);
      // token ids globally unique so no cross-doc shingles
      val toks = Seq("the") ++
        (1 to 15).map(n => f"c${i * 15 + n}%03d") ++
        (1 to 14).map(n => f"d${i * 14 + n}%04d")
      (i.toLong, toks.mkString(" "), s"src${i % 3}")
    }
    val extra = Seq((41L, good.head._2, "src0"), (42L, "x y", "src1"))
    (good ++ extra).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/docs")
    val audit = JobRunner.lakeJobs("corpus_release_export")(
      s0, Map("in-docs" -> s"$dir/docs", "dest" -> s"$dir/rel",
        "shards" -> "4")).collect()
    assert(audit.map(_.getAs[Long]("n_in")).sum == 42)
    assert(audit.map(_.getAs[Long]("n_exact_dropped")).sum == 1)
    assert(audit.map(_.getAs[Long]("n_released")).sum == 40)
    val released = s0.read.parquet(s"$dir/rel")
    assert(released.count() == 40)
    assert(Set("doc_id", "text", "source", "shard")
      .subsetOf(released.columns.toSet))
    // --url-col: URL-first dedup ahead of the content stages — the
    // recrawl (43, a scheme/www/utm variant of 1's URL but DIFFERENT
    // text) drops at the URL stage, so it never even reaches content
    // dedup; every kept doc keeps its distinct canonical URL
    val withUrl = (good ++ extra).map { case (id, text, src) =>
      (id, text, src, s"http://ex.org/p$id") } :+
      ((43L, "completely different recrawl body text here",
        "src0", "https://www.ex.org/p1?utm_source=x"))
    withUrl.toDF("doc_id", "text", "source", "url")
      .write.parquet(s"$dir/docs_u")
    val auditU = JobRunner.lakeJobs("corpus_release_export")(
      s0, Map("in-docs" -> s"$dir/docs_u", "dest" -> s"$dir/rel_u",
        "shards" -> "4", "url-col" -> "url")).collect()
    assert(auditU.map(_.getAs[Long]("n_in")).sum == 42) // 43 gone
    assert(auditU.map(_.getAs[Long]("n_released")).sum == 40)
  }

  test("JobRunner: classifier_train ships a weight table; the " +
    "release gate (--clf-weights/--clf-min-margin) consumes it") {
    val dir = Files.createTempDirectory("graft-runner-clf").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    val vocabA = Vector("the", "quick", "brown", "fox", "jumps",
      "over", "lazy", "dog", "reads", "daily")
    val vocabB = Vector("zork", "blag", "vrum", "klatz", "grep",
      "snark", "plonk", "wibble", "quux", "flarp")
    def doc(id: Long, v: Vector[String]): String =
      (0 until 12).map(j => v(((id * 7 + j * 3) % v.size).toInt))
        .mkString(" ")
    val rows = (0 until 20).map(i =>
      (i.toLong, doc(i.toLong, vocabA), "en", s"src${i % 2}")) ++
      (0 until 20).map(i =>
        (1000L + i, doc(1000L + i, vocabB), "xx", s"src${i % 2}"))
    rows.toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/docs")
    // default labels: y = (lang == 'en')
    val w = JobRunner.lakeJobs("classifier_train")(s0,
      Map("in-docs" -> s"$dir/docs", "buckets" -> "512",
        "save-weights" -> s"$dir/w"))
    assert(w.count() > 0 && w.count() <= 512)
    val margins = graft.llmops.Classifier.marginWithWeights(
      s0.read.parquet(s"$dir/docs"), "doc_id", "text", Seq("lang"),
      s0.read.parquet(s"$dir/w"), 512)
      .collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("margin"))
    val en = margins.filter(_._1 == "en").map(_._2)
    val xx = margins.filter(_._1 == "xx").map(_._2)
    assert(en.min > xx.max, s"enMin=${en.min} xxMax=${xx.max}")
    // gate the release at the midpoint: only the en docs survive to
    // the content stages (n_in counts post-gate input)
    val cut = (en.min + xx.max) / 2
    val audit = JobRunner.lakeJobs("corpus_release_export")(s0,
      Map("in-docs" -> s"$dir/docs", "dest" -> s"$dir/rel",
        "shards" -> "2", "clf-weights" -> s"$dir/w",
        "clf-min-margin" -> cut.toString, "clf-buckets" -> "512"))
      .collect()
    assert(audit.map(_.getAs[Long]("n_in")).sum == 20)
    // --holdout-table: the q293 threshold-selection table lands next
    // to the weights — grid+1 rows over the held-out margin range,
    // with the confusion columns an operator reads to pick the gate
    JobRunner.lakeJobs("classifier_train")(s0,
      Map("in-docs" -> s"$dir/docs", "buckets" -> "512",
        "holdout-table" -> s"$dir/th", "grid" -> "4"))
    val th = s0.read.parquet(s"$dir/th")
    assert(th.columns.toSet == Set("threshold", "n_docs", "n_pass",
      "tp", "fp", "fn", "pass_rate", "precision", "recall"))
    assert(th.count() == 5L)
    assert(th.select("n_docs").distinct().count() == 1L)
  }

  test("JobRunner: report_export lake job writes the HTML + SVG tail") {
    val dir = Files.createTempDirectory("graft-runner-rep").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq(("2024-01", "cores", 4.0), ("2024-02", "cores", 6.0))
      .toDF("month", "metric", "v").write.parquet(s"$dir/result")
    val summary = JobRunner.lakeJobs("report_export")(
      s0, Map("in-result" -> s"$dir/result", "dest" -> s"$dir/rep",
        "title" -> "Monthly cores", "bar-label" -> "month",
        "bar-value" -> "v", "line-x" -> "month",
        "line-series" -> "metric", "line-value" -> "v")).collect()
    assert(summary.length == 1 && summary(0).getLong(2) == 2L)
    def read(f: String) =
      Files.readString(java.nio.file.Paths.get(s"$dir/rep/$f"))
    assert(read("report.html").contains("<table"))
    assert(read("bar.svg").contains("<rect"))
    assert(read("line.svg").contains("<polyline"))
  }

  test("JobRunner: snapshot_diff lake job emits the delta") {
    val dir = Files.createTempDirectory("graft-runner-sd").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .write.parquet(s"$dir/old")
    Seq((2L, 25.0), (3L, 30.0)).toDF("k", "v")
      .write.parquet(s"$dir/new")
    val delta = JobRunner.lakeJobs("snapshot_diff")(
      s0, Map("in-old" -> s"$dir/old", "in-new" -> s"$dir/new",
        "keys" -> "k", "compare" -> "v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(delta == Map(1L -> "removed", 2L -> "changed", 3L -> "added"))
  }

  test("JobRunner: data_profile lake job profiles all columns by default") {
    val dir = Files.createTempDirectory("graft-runner-dp").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq((Some(1L), "a"), (None, "a")).toDF("k", "s")
      .write.parquet(s"$dir/t")
    val prof = JobRunner.lakeJobs("data_profile")(
      s0, Map("in-table" -> s"$dir/t")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(prof == Map("k" -> 1L, "s" -> 0L)) // null counts
  }

  test("JobRunner: fk_audit lake job parses --rels and counts orphans") {
    val dir = Files.createTempDirectory("graft-runner-fk").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq(1L, 2L, 9L).toDF("fk").write.parquet(s"$dir/child")
    Seq(1L, 2L).toDF("pk").write.parquet(s"$dir/parent")
    val audit = JobRunner.lakeJobs("fk_audit")(
      s0, Map("rels" ->
        s"c->p:$dir/child:fk:$dir/parent:pk")).head()
    assert(audit.getString(0) == "c->p")
    assert(audit.getLong(1) == 3L && audit.getLong(2) == 1L)
  }

  test("JobRunner: schema_diff lake job reports added/removed/retyped") {
    val dir = Files.createTempDirectory("graft-runner-sc").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq((1L, "a", 1)).toDF("k", "dropped", "widened")
      .write.parquet(s"$dir/old")
    Seq((1L, 2L, "x")).toDF("k", "widened", "fresh")
      .write.parquet(s"$dir/new")
    val diff = JobRunner.lakeJobs("schema_diff")(
      s0, Map("in-old" -> s"$dir/old", "in-new" -> s"$dir/new"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diff == Map("dropped" -> "removed", "fresh" -> "added",
      "widened" -> "retyped"))
  }

  test("JobRunner: unknown job and missing inputs fail with clear errors") {
    val e1 = intercept[RuntimeException] {
      JobRunner.main(Array("--job", "nope", "--out", "/tmp/x"))
    }
    assert(e1.getMessage.contains("unknown job"))
    val e2 = intercept[RuntimeException] {
      JobRunner.main(Array("--job", "leftovers", "--out", "/tmp/x"))
    }
    assert(e2.getMessage.contains("--in-datasets required"))
  }

  lazy val spark = graft.core.Sessions.local(4, "graft-runner-test")

  test("rucio datasetsMonitoring: locks join + sorted accounts + Decimal(6,2)") {
    import spark.implicits._
    val per = Seq(("0a", "/DS/One/RAW", 4L, 3L, 1000L))
      .toDF("rse_id", "dataset", "n_files", "n_accessed", "total_bytes")
    val locks = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("cms", "/DS/One/RAW", Array[Byte](0x0a), Array[Byte](1),
          "userB", "O"),
        Row("cms", "/DS/One/RAW", Array[Byte](0x0a), Array[Byte](2),
          "userA", "O"),
        Row("cms", "/DS/One/RAW", Array[Byte](0x0a), Array[Byte](3),
          "userX", "R")), // non-O state dropped
      Schemas.rucioDatasetLocks)
    val got = RucioJobs.datasetsMonitoring(per, locks).head()
    assert(got.getString(6) == "userA,userB") // sorted, deduped
    assert(got.getLong(5) == 2)
    assert(got.getDecimal(7).toPlainString == "75.00") // Decimal(6,2)
  }

  test("fts/aso transferStats: compound-key left join + latency stats") {
    import spark.implicits._
    val fts = Seq(
      ("j1", "gsiftp://host/path/f1", "FINISHED", 1000L, 5000L),
      ("j1", "gsiftp://host/path/f2", "FINISHED", 1000L, 9000L),
      ("j2", "gsiftp://host/path/f3", "FAILED", 1000L, 2000L))
      .toDF("job_id", "src_url", "t_final_transfer_state",
        "tr_timestamp_start", "tr_timestamp_complete")
    val aso = Seq(("f1", "j1", "alice"))
      .toDF("filename", "job_id", "aso_user")
    val got = FtsAsoJobs.transferStats(fts, aso)
      .orderBy("state", "user").collect()
    assert(got.length == 3)
    val matched = got.find(_.getString(1) == "alice").get
    assert(matched.getLong(2) == 1 && matched.getDouble(3) == 4.0)
    val unknown = got.filter(_.getString(1) == "UNKNOWN")
    assert(unknown.map(_.getString(0)).toSeq.sorted ==
      Seq("FAILED", "FINISHED"))
  }

  test("JobRunner: heavy_hitters lake job ranks keys with exact shares") {
    val dir = Files.createTempDirectory("graft-runner-hh").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold"))
      .toDF("k").write.parquet(s"$dir/t")
    val hh = JobRunner.lakeJobs("heavy_hitters")(
      s0, Map("in-table" -> s"$dir/t", "key" -> "k", "top" -> "2"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    assert(hh.toSeq == Seq(("hot", 6L, 0.6, 1L), ("warm", 3L, 0.3, 2L)))
  }

  test("JobRunner: decontaminate lake job, exact and bloom forms agree " +
    "on flags") {
    val dir = Files.createTempDirectory("graft-runner-dc").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq((1L, "alpha beta gamma delta"), (2L, "clean words only here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/train")
    Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
      .write.parquet(s"$dir/eval")
    def flags(opts: Map[String, String]) =
      JobRunner.lakeJobs("decontaminate")(s0,
        Map("in-train" -> s"$dir/train", "in-eval" -> s"$dir/eval")
          ++ opts)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val exact = flags(Map.empty)
    assert(exact == Map(1L -> true, 2L -> false))
    val bloom = flags(Map("bloom" -> "true"))
    assert(bloom(1L)) // bloom must never miss a true contamination
  }

  test("JobRunner: dp_release ships noisy suppressed counts; " +
    "contamination_report sweeps the overlap curve") {
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron" // 15 tokens
    val docs =
      (1L to 40L).map(i => (i, s"$quote filler$i", "en", "src1")) ++
        Seq((90L, "tiny class doc words here", "de", "src2"),
          (99L, quote, "en", "src0")) // the eval doc
    val docsDf = docs.toDF("doc_id", "text", "lang", "source")
    // direct registry invocation (decontaminate-test precedent):
    // JobRunner.main stops its session on exit, which would kill the
    // suite's shared one. dp_release is a lake job since r12: the
    // salt is a required option (a pinned default would let anyone
    // recompute the noise), and the shipped frame drops n_true/noise.
    val dpDir = java.nio.file.Files
      .createTempDirectory("graft-dp-release").toString + "/docs"
    docsDf.write.mode("overwrite").parquet(dpDir)
    val noSalt = intercept[RuntimeException] {
      JobRunner.lakeJobs("dp_release")(s0, Map("in-docs" -> dpDir))
    }
    assert(noSalt.getMessage.contains("--salt required"))
    val dpDf = JobRunner.lakeJobs("dp_release")(s0,
      Map("in-docs" -> dpDir, "salt" -> "dp1"))
    // audit columns must NOT ship in the job form
    assert(dpDf.columns.toSeq ==
      Seq("lang", "source", "suppressed", "n_released"))
    val dp = dpDf.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(dp.keySet == Set(("en", "src1"), ("de", "src2"),
      ("en", "src0")))
    dp.values.foreach { case (sup, rel) =>
      assert(rel.isDefined == !sup)
    }
    // the 40-doc class always releases (noise ∈ [-30, 30]) and lands
    // inside the truncation envelope; the singleton never reaches
    // the floor
    assert(dp(("en", "src1"))._2.exists(v => v >= 10L && v <= 70L))
    assert(dp(("de", "src2"))._2.isEmpty)
    // user-level form: src1 clamped to m=2 rows → en count 2+1 ± 30
    // can never be mistaken for the 41-row unclamped class
    val ul = JobRunner.lakeJobs("dp_release")(s0,
      Map("in-docs" -> dpDir, "salt" -> "dp1", "key-cols" -> "lang",
        "contributor-col" -> "source", "max-per-contributor" -> "2",
        "min-release" -> "-100"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(ul("en").exists(v => v >= 3L - 30L && v <= 3L + 30L))
    // sum form: clipped totals, released values clip-quantized,
    // audit columns never ship
    val sums = JobRunner.lakeJobs("dp_release")(s0,
      Map("in-docs" -> dpDir, "salt" -> "dp1", "key-cols" -> "lang",
        "sum-col" -> "doc_id", "clip" -> "10",
        "min-release" -> "-100"))
    assert(sums.columns.toSeq == Seq("lang", "suppressed",
      "sum_released"))
    sums.collect().foreach { r =>
      if (!r.isNullAt(2)) assert(r.getLong(2) % 10L == 0L)
    }
    // --ledger: the budget rail — first release under a salt burns
    // it (at guard time, before the frame is computed); a second
    // release under the same salt refuses unless --allow-reuse,
    // and the dp_ledger view reports the composed ε
    val ledger = java.nio.file.Files
      .createTempDirectory("graft-dp-ledgerjob").toString + "/led"
    JobRunner.lakeJobs("dp_release")(s0, Map("in-docs" -> dpDir,
      "salt" -> "led1", "ledger" -> ledger))
    val reuse = intercept[IllegalArgumentException] {
      JobRunner.lakeJobs("dp_release")(s0, Map("in-docs" -> dpDir,
        "salt" -> "led1", "ledger" -> ledger, "key-cols" -> "lang",
        "sum-col" -> "doc_id", "contributor-col" -> "source",
        "max-per-contributor" -> "2"))
    }
    assert(reuse.getMessage.contains("composes"))
    JobRunner.lakeJobs("dp_release")(s0, Map("in-docs" -> dpDir,
      "salt" -> "led1", "ledger" -> ledger, "allow-reuse" -> "true",
      "key-cols" -> "lang", "sum-col" -> "doc_id",
      "contributor-col" -> "source", "max-per-contributor" -> "2"))
    val viewRows = JobRunner.lakeJobs("dp_ledger")(s0,
      Map("ledger" -> ledger)).collect()
    val view = viewRows
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // cnt (1 unit) + sum:c128:u2 (2m = 4 units) compose to 5 ln2
    assert(view("led1") == ((2L, 5.0)))
    // the ledger records the EXACT noise-key tags (clip and m
    // included) — a ledger audit reconstructs per-form budgets
    // without guessing
    assert(viewRows.head
      .getAs[scala.collection.Seq[String]]("mechanisms")
      .toSeq == Seq("cnt", "sum:c128:u2"))
    val cc = JobRunner.jobs("contamination_report")._2(s0,
        Map("docs" -> docsDf)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // every train doc embeds the full 15-token eval text → hits at
    // every swept width; the de singleton only shingles at n ≤ 5
    assert(cc(3) == ((41L, 40L)) && cc(13)._2 == 40L)
    assert(cc(5)._1 == 41L && cc(8)._1 == 40L)
  }

  test("JobRunner: wordpiece_encode freezes a vocab, applies it to a " +
    "fresh corpus, and ships the fertility report with --group-col") {
    val dir = Files.createTempDirectory("graft-runner-wp").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq((1L, "hello world", "en"), (2L, "hello world", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/a")
    Seq((9L, "hello zzz", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/b")
    // learn + freeze on corpus A (vocab: hello, world + their chars)
    val statsA = JobRunner.lakeJobs("wordpiece_encode")(s0,
      Map("in-docs" -> s"$dir/a", "save-vocab" -> s"$dir/voc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(statsA(1L) == ((2L, 10L, 2L, 0L))) // two whole-word pieces
    // apply the FROZEN vocab to corpus B: hello = 1 piece; zzz has no
    // piece and no chars in the vocab -> 3 UNKs
    val statsB = JobRunner.lakeJobs("wordpiece_encode")(s0,
      Map("in-docs" -> s"$dir/b", "in-vocab" -> s"$dir/voc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(statsB(9L) == ((2L, 8L, 4L, 3L)))
    // fertility report by language over corpus B
    val fert = JobRunner.lakeJobs("wordpiece_encode")(s0,
      Map("in-docs" -> s"$dir/b", "in-vocab" -> s"$dir/voc",
        "group-col" -> "lang")).collect()
    assert(fert.length == 1 && fert(0).getString(0) == "en")
    assert(fert(0).getDouble(6) == 2.0 && fert(0).getDouble(7) == 2.0)
  }

  test("JobRunner: bpe_encode freezes a merge table, applies it in " +
    "rank order to a fresh corpus, and reports fertility") {
    val dir = Files.createTempDirectory("graft-runner-bpe").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq((1L, "low low low low low", "en"), (2L, "lower lower", "en"),
      (3L, "newest newest newest", "en"), (4L, "widest", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/a")
    Seq((9L, "low lowest", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/b")
    // learn + freeze 4 merges on corpus A: (l,o),(lo,w),(e,s),(es,t)
    val statsA = JobRunner.lakeJobs("bpe_encode")(s0,
      Map("in-docs" -> s"$dir/a", "merges" -> "4",
        "save-merges" -> s"$dir/merges"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(statsA(1L) == ((5L, 15L, 5L)))  // low -> 1 piece each
    assert(statsA(3L) == ((3L, 18L, 12L))) // newest -> 4 pieces
    // apply the FROZEN table to corpus B: low -> [low] = 1 piece;
    // lowest -> [low,es,t] -> [low,est] = 2 pieces
    val statsB = JobRunner.lakeJobs("bpe_encode")(s0,
      Map("in-docs" -> s"$dir/b", "in-merges" -> s"$dir/merges"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(statsB(9L) == ((2L, 9L, 3L)))
    // fertility by language over corpus B under the frozen table
    val fert = JobRunner.lakeJobs("bpe_encode")(s0,
      Map("in-docs" -> s"$dir/b", "in-merges" -> s"$dir/merges",
        "group-col" -> "lang")).collect()
    assert(fert.length == 1 && fert(0).getString(0) == "en")
    assert(fert(0).getDouble(5) == 1.5) // 3 pieces / 2 tokens
  }

  test("JobRunner: lm_score_apply scores a corpus against a saved " +
    "frozen model") {
    val dir = Files.createTempDirectory("graft-runner-lm").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    val ref = Seq((100L, "good clean reference words here"))
      .toDF("doc_id", "text")
    // freeze once: model parquet + its vocabulary size
    graft.llmops.LanguageModel.bigramModel(ref, "doc_id", "text")
      .write.parquet(s"$dir/model")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    Seq((1L, "good clean reference words here"),
      (2L, "zz yy xx ww vv uu"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val opts = Map("in-docs" -> s"$dir/docs",
      "in-model" -> s"$dir/model", "vocab-size" -> v.toString)
    val scored = JobRunner.lakeJobs("lm_score_apply")(s0, opts)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // in-distribution doc outscores the out-of-distribution one
    assert(scored(1L) > scored(2L) && scored(2L) > 0.0)
    // --min-score gates to the admitted slice
    val gated = JobRunner.lakeJobs("lm_score_apply")(s0,
      opts + ("min-score" -> ((scored(1L) + scored(2L)) / 2).toString))
      .select("doc_id").as[Long].collect().toSeq
    assert(gated == Seq(1L))
  }

  test("JobRunner: dedup_report lake job emits the cluster-size " +
    "distribution") {
    val dir = Files.createTempDirectory("graft-runner-dr").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    // 2 exact clones + 1 unique doc → one 2-cluster, one singleton
    Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val rep = JobRunner.lakeJobs("dedup_report")(
      s0, Map("in-docs" -> s"$dir/docs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(rep == Map(1L -> ((1L, 1L)), 2L -> ((1L, 2L))))
  }

  test("JobRunner: ann_index lake job builds, searches, and reports " +
    "perfect recall on a two-cluster corpus") {
    val dir = Files.createTempDirectory("graft-runner-ann").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    // two interleaved exact clusters: seeds (ids 0, 1) and the PQ
    // codebook (same ids) each see one member of each cluster, so
    // training converges to the true centers and ADC is exact
    (0 until 20).map { i =>
      (i.toLong, Seq.fill(64)(if (i % 2 == 0) 1.0f else 5.0f))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/vectors")
    val report = JobRunner.lakeJobs("ann_index")(s0, Map(
      "in-vectors" -> s"$dir/vectors", "dest" -> s"$dir/index",
      "cells" -> "2", "iters" -> "2", "k" -> "3", "queries" -> "4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(report.length == 4)
    assert(report.forall { case (_, n, rec) => n == 3L && rec == 1.0 })
    // index artifacts persisted for the downstream search service
    for (a <- Seq("centroids", "assignments", "codebook", "codes",
        "topk"))
      assert(s0.read.parquet(s"$dir/index/$a").count() > 0)
    // training converged to the two exact cluster centers
    val cents = s0.read.parquet(s"$dir/index/centroids").collect()
      .map(r => r.getSeq[Double](1).head).sorted
    assert(cents.length == 2)
    assert(cents(0) == 1.0 && cents(1) == 5.0)
  }

  test("JobRunner: media_release lake job dedups decoded content " +
    "across both modalities and reports survivorship") {
    val dir = Files.createTempDirectory("graft-runner-media").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    import graft.llmops.Multimodal
    val W = 36; val H = 32
    def pix(id: Long, br: Int) = Array.tabulate(H, W)((y, x) =>
      math.min(Multimodal.synthPixel(id, x, y) + br, 255))
    def wav(pid: Long, jit: Int) = Multimodal.encodeWav(
      Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255)))
    Seq(
      // image content dup across containers (1=BMP, 2=PNG): exact
      // stage collapses; 3 = brightness twin: dHash near-dup of 1;
      // 4 = different image family
      Multimodal.MediaRecord(1L, Multimodal.encodeBmp(pix(10L, 0), W, H),
        "s", 0L),
      Multimodal.MediaRecord(2L, Multimodal.encodePng(pix(10L, 0), W, H),
        "s", 0L),
      Multimodal.MediaRecord(3L, Multimodal.encodeBmp(pix(10L, 9), W, H),
        "s", 0L),
      Multimodal.MediaRecord(4L, Multimodal.encodeBmp(pix(11L, 0), W, H),
        "s", 0L),
      // audio: 5/6 gain twins (pid 7: Hamming 2 — the NEAR stage
      // collapses them, not the exact one), 7 a different clip
      Multimodal.MediaRecord(5L, wav(7L, 0), "s", 256L),
      Multimodal.MediaRecord(6L, wav(7L, 2), "s", 256L),
      Multimodal.MediaRecord(7L, wav(19L, 0), "s", 256L),
      // 8: undecodable garbage — counted, not dropped
      Multimodal.MediaRecord(8L, Array[Byte](9, 9, 9), "s", 3L))
      .toDS().write.parquet(s"$dir/media")
    val report = JobRunner.lakeJobs("media_release")(s0, Map(
      "in-media" -> s"$dir/media", "dest" -> s"$dir/rel"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(report("image") == ((4L, 3L, 2L))) // 4 decoded, {1,3,4}
    assert(report("audio") == ((3L, 3L, 2L))) // survive exact; near
    assert(report("undecodable") == ((1L, 0L, 0L)))
    val keptImg = s0.read.parquet(s"$dir/rel/keep_images")
      .filter("is_kept").collect().map(_.getLong(0)).toSet
    assert(keptImg == Set(1L, 4L)) // 2 exact-dupped, 3 near-dupped
    val keptAud = s0.read.parquet(s"$dir/rel/keep_audio")
      .filter("is_kept").collect().map(_.getLong(0)).toSet
    assert(keptAud == Set(5L, 7L))
    // the near stage, not the exact one, collapsed the audio twins
    assert(s0.read.parquet(s"$dir/rel/audio_pairs").count() == 1L)
    for (a <- Seq("image_signatures", "image_pairs", "audio_hashes",
        "report"))
      assert(s0.read.parquet(s"$dir/rel/$a").count() > 0)
  }

  test("JobRunner: media_release --video-frame-bytes runs the video " +
    "stage over the residual modality — a trimmed re-cut collapses " +
    "to one keeper and leaves the undecodable bucket") {
    val dir = Files.createTempDirectory("graft-runner-vid").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    import graft.llmops.Multimodal
    val W = 36; val H = 32
    def pix(id: Long) = Array.tabulate(H, W)((y, x) =>
      Multimodal.synthPixel(id, x, y))
    def wav(pid: Long) = Multimodal.encodeWav(
      Array.tabulate(256)(t => Multimodal.synthSample(pid, t)))
    def vid(frames: Seq[Int]): Array[Byte] =
      frames.flatMap(i =>
        "fr:%013d".format(i).getBytes("UTF-8")).toArray
    Seq(
      // one image + one audio row prove the residual carve-out
      Multimodal.MediaRecord(1L, Multimodal.encodeBmp(pix(10L), W, H),
        "s", 0L),
      Multimodal.MediaRecord(5L, wav(7L), "s", 256L),
      // video pool: 10 re-orders 9's frame set (exact rail), 11 is
      // the 7-frame trim (near rail), 12 a different pool
      Multimodal.MediaRecord(9L, vid(0 to 7), "s", 0L),
      Multimodal.MediaRecord(10L, vid(Seq(7, 6, 5, 4, 3, 2, 1, 0)),
        "s", 0L),
      Multimodal.MediaRecord(11L, vid(0 to 6), "s", 0L),
      Multimodal.MediaRecord(12L, vid(300 to 307), "s", 0L),
      // 8: shorter than one frame — stays undecodable
      Multimodal.MediaRecord(8L, Array[Byte](9, 9, 9), "s", 3L))
      .toDS().write.parquet(s"$dir/media")
    val report = JobRunner.lakeJobs("media_release")(s0, Map(
      "in-media" -> s"$dir/media", "dest" -> s"$dir/rel",
      "video-frame-bytes" -> "16"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(report("video") == ((4L, 3L, 2L))) // {9,11,12} survive
    assert(report("undecodable") == ((1L, 0L, 0L))) // only id 8
    val keepVid = s0.read.parquet(s"$dir/rel/keep_videos")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(keepVid(9L) == ((9L, true)))
    assert(keepVid(10L) == ((9L, false))) // exact re-cut of 9
    assert(keepVid(11L) == ((9L, false))) // trim, via the near pair
    assert(keepVid(12L) == ((12L, true)))
    assert(s0.read.parquet(s"$dir/rel/video_pairs").count() == 1L)
    // without the flag the same media reports no video row and the
    // clips land in the undecodable bucket (unchanged behavior)
    val plain = JobRunner.lakeJobs("media_release")(s0, Map(
      "in-media" -> s"$dir/media", "dest" -> s"$dir/rel2"))
      .collect().map(_.getString(0)).toSet
    assert(plain == Set("image", "audio", "undecodable"))
  }

  test("JobRunner: paired_release dedups on BOTH rails — re-encoded " +
    "image + identical caption collapses exactly, paraphrased " +
    "caption collapses via the near pair, different caption or " +
    "different image survives") {
    val dir = Files.createTempDirectory("graft-runner-paired").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    import graft.llmops.Multimodal
    val W = 36; val H = 32
    def pix(id: Long) = Array.tabulate(H, W)((y, x) =>
      Multimodal.synthPixel(id, x, y))
    val p = pix(42L); val q = pix(7L)
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog"
    val capC = "completely unrelated words describing another scene"
    Seq(
      (1L, Multimodal.encodeBmp(p, W, H), capA, "s"),
      // 5: PNG re-encode of 1's pixels under the IDENTICAL caption →
      // paired-EXACT dup of 1
      (5L, Multimodal.encodePng(p, W, H), capA, "s"),
      // 2: re-encode under a paraphrase → NEAR pair with 1
      (2L, Multimodal.encodePng(p, W, H), capB, "s"),
      // 3: same image, unrelated caption → survives (information)
      (3L, Multimodal.encodeBmp(p, W, H), capC, "s"),
      // 4: different image, re-used caption → survives
      (4L, Multimodal.encodeBmp(q, W, H), capA, "s"),
      // 99: undecodable — counted, not dropped
      (99L, Array[Byte](1, 2, 3), capA, "s"))
      .toDF("doc_id", "payload", "text", "source")
      .write.parquet(s"$dir/docs")
    val report = JobRunner.lakeJobs("paired_release")(s0, Map(
      "in-docs" -> s"$dir/docs", "dest" -> s"$dir/rel"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(report("captioned_image") == ((5L, 4L, 3L)))
    assert(report("undecodable") == ((1L, 0L, 0L)))
    val keep = s0.read.parquet(s"$dir/rel/keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> true)) // 5 exact-collapsed into 1 before the near stage
    assert(s0.read.parquet(s"$dir/rel/pairs").count() == 1L) // (1,2)
  }

  test("JobRunner: paired_release --modality audio runs the same " +
    "rail-pair kernel over (envelope hash, transcript) — identical " +
    "clip+transcript collapses exactly, gain variant + paraphrase " +
    "collapses via the near pair, different transcript or different " +
    "clip survives") {
    val dir = Files.createTempDirectory("graft-runner-paired-a").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    import graft.llmops.Multimodal
    def samples(id: Long) =
      Array.tabulate(256)(t => Multimodal.synthSample(id, t))
    val p = samples(42L); val q = samples(7L)
    // gain variant: envelope delta SIGNS survive a uniform scale, so
    // the env hash lands within the Hamming gate of p's but the PCM
    // bytes (and any byte-exact rail) differ
    val pg = p.map(s => 128 + ((s - 128) * 9) / 10)
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog"
    val capC = "completely unrelated words describing another scene"
    Seq(
      (1L, Multimodal.encodeWav(p), capA, "s"),
      // 5: byte-identical clip + identical transcript → exact dup
      (5L, Multimodal.encodeWav(p), capA, "s"),
      // 2: gain variant + paraphrase → NEAR pair with 1
      (2L, Multimodal.encodeWav(pg), capB, "s"),
      // 3: same clip, unrelated transcript → survives (information)
      (3L, Multimodal.encodeWav(p), capC, "s"),
      // 4: different clip, re-used transcript → survives (the text
      // rail proposes (1,4) at jac=1, the envelope rail refuses)
      (4L, Multimodal.encodeWav(q), capA, "s"),
      // 99: undecodable — counted, not dropped
      (99L, Array[Byte](9, 9, 9), capA, "s"))
      .toDF("doc_id", "payload", "text", "source")
      .write.parquet(s"$dir/docs")
    val report = JobRunner.lakeJobs("paired_release")(s0, Map(
      "in-docs" -> s"$dir/docs", "dest" -> s"$dir/rel",
      "modality" -> "audio"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(report("transcribed_audio") == ((5L, 4L, 3L)))
    assert(report("undecodable") == ((1L, 0L, 0L)))
    val keep = s0.read.parquet(s"$dir/rel/keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> true))
  }

  test("JobRunner: paired_release --modality video completes the " +
    "grid — re-ordered re-encode + same transcript collapses " +
    "exactly, trimmed re-cut + paraphrase collapses via the near " +
    "pair, different transcript or different clip survives") {
    val dir = Files.createTempDirectory("graft-runner-paired-v").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    def clip(pid: Long, frames: Seq[Int]): Array[Byte] =
      frames.flatMap(f => Array.tabulate(8)(b =>
        ((pid * 31 + f * 7 + b * 3) % 251).toByte)).toArray
    val capA = "the quick brown fox jumps over the lazy dog"
    val capB = "the quick brown fox jumps over a sleepy dog"
    val capC = "completely unrelated words describing another scene"
    Seq(
      (1L, clip(42L, 0 until 8), capA, "s"),
      // 5: same frames RE-ORDERED + identical transcript → exact dup
      // (the frame-SET fingerprint ignores order and repetition)
      (5L, clip(42L, (0 until 8).reverse), capA, "s"),
      // 2: trimmed re-cut (6 of 8 frames) + paraphrase → NEAR pair
      (2L, clip(42L, 0 until 6), capB, "s"),
      // 3: same clip, unrelated transcript → survives (information)
      (3L, clip(42L, 0 until 8), capC, "s"),
      // 4: different clip, re-used transcript → survives (the text
      // rail proposes (1,4) at jac=1, the MinHash rail refuses)
      (4L, clip(7L, 0 until 8), capA, "s"),
      // 99: no complete frame — counted undecodable, not dropped
      (99L, Array[Byte](9, 9, 9), capA, "s"))
      .toDF("doc_id", "payload", "text", "source")
      .write.parquet(s"$dir/docs")
    val report = JobRunner.lakeJobs("paired_release")(s0, Map(
      "in-docs" -> s"$dir/docs", "dest" -> s"$dir/rel",
      "modality" -> "video"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(report("transcribed_video") == ((5L, 4L, 3L)))
    assert(report("undecodable") == ((1L, 0L, 0L)))
    val keep = s0.read.parquet(s"$dir/rel/keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> true))
  }

  test("JobRunner: store_census reports kind, batches, compaction " +
    "state and rows per component across store kinds") {
    val dir = Files.createTempDirectory("graft-runner-census").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    // a video-transcript PAIRED store with two committed batches,
    // then a compaction — batches collapse to batch=-1
    def clip(pid: Long): Array[Byte] =
      (0 until 8).flatMap(f => Array.tabulate(8)(b =>
        ((pid * 31 + f * 7 + b * 3) % 251).toByte)).toArray
    val vs = s"$dir/vstore"
    graft.streaming.Streams.videoTranscriptCommit(
      Seq((1L, clip(5L), "alpha words here", "s"))
        .toDF("id", "payload", "transcript", "src"),
      0L, "id", "payload", "transcript", "src", vs, 0.2, 8)
    graft.streaming.Streams.videoTranscriptCommit(
      Seq((2L, clip(9L), "other speech entirely", "s"))
        .toDF("id", "payload", "transcript", "src"),
      1L, "id", "payload", "transcript", "src", vs, 0.2, 8)
    graft.streaming.Streams.compactMediaStore(s0, vs, uptoBatch = 1L)
    val vc = JobRunner.lakeJobs("store_census")(s0,
        Map("in-store" -> vs)).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2),
        r.getBoolean(3), r.getBoolean(4), r.getLong(5)))).toMap
    assert(vc.keySet == Set("docs", "fps", "bands", "postings"))
    assert(vc("docs") == (("paired:video-transcript", 2, false,
      false, 2L)))
    // all three indexes squashed: no live batches, batch=-1 present
    for (idx <- Seq("fps", "bands", "postings"))
      assert(vc(idx)._1 == "paired:video-transcript" &&
        vc(idx)._2 == 0 && vc(idx)._3 && !vc(idx)._4, s"$idx: $vc")
    assert(vc("fps")._5 == 2L)
    // a curated store WITH the URL rail reports curated+url
    val cs = s"$dir/cstore"
    val ref = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val model = graft.llmops.LanguageModel.bigramModel(ref, "doc_id", "text")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
    graft.streaming.Streams.curatedCommitIndexed(
      Seq((1L, "alpha beta gamma delta", "http://a.example/x"))
        .toDF("id", "body", "url"),
      0L, "id", "body", model, v, 0.0, cs, 0.5, 1000, Some("url"))
    val cc2 = JobRunner.lakeJobs("store_census")(s0,
        Map("in-store" -> cs)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc2.keySet ==
      Set("docs", "fps", "postings", "dfs", "urls"))
    assert(cc2("docs") == "curated+url")
    // not-a-store refuses loudly
    val ex = intercept[IllegalArgumentException] {
      JobRunner.lakeJobs("store_census")(s0,
        Map("in-store" -> s"$dir/nope"))
    }
    assert(ex.getMessage.contains("meta"))
  }

  test("JobRunner: media_release --keep-best-resolution survives the " +
    "largest copy of a near-dup cluster instead of the lowest id") {
    val dir = Files.createTempDirectory("graft-runner-mres").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    import graft.llmops.Multimodal
    val W = 36; val H = 32
    val base = Array.tabulate(H, W)((y, x) =>
      Multimodal.synthPixel(10L, x, y))
    // exact 2x block upscale: every pooled dHash cell averages the
    // same duplicated values, so the hash is IDENTICAL while the
    // pixel fingerprint (and resolution) differ
    val up2 = Array.tabulate(H * 2, W * 2)((y, x) => base(y / 2)(x / 2))
    val media = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodeBmp(base, W, H),
        "s", 0L),
      Multimodal.MediaRecord(2L,
        Multimodal.encodeBmp(up2, W * 2, H * 2), "s", 0L))
      .toDS()
    media.write.parquet(s"$dir/media")
    def kept(flag: String, sub: String): Set[Long] = {
      JobRunner.lakeJobs("media_release")(s0, Map(
        "in-media" -> s"$dir/media", "dest" -> s"$dir/$sub",
        "keep-best-resolution" -> flag)).collect()
      s0.read.parquet(s"$dir/$sub/keep_images")
        .filter("is_kept").collect().map(_.getLong(0)).toSet
    }
    assert(kept("false", "rel1") == Set(1L)) // min-id rule
    assert(kept("true", "rel2") == Set(2L)) // the 72x64 copy survives
  }

  test("JobRunner: compact_media_store lake job squashes the index " +
    "partitions and reports the layout; admission-index compactor " +
    "refuses a non-store dir through the CLI") {
    val dir = Files.createTempDirectory("graft-runner-cms").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    import graft.llmops.Multimodal
    val store = s"$dir/store"
    def wav(id: Long, pid: Long) = Multimodal.encodeWav(
      Array.tabulate(256)(t => Multimodal.synthSample(pid, t)))
    for (b <- 0L to 1L)
      graft.streaming.Streams.audioCommit(
        Seq((b * 10 + 1, wav(b * 10 + 1, 5 + b), "s"))
          .toDF("id", "payload", "src"),
        b, "id", "payload", "src", store, 4, window = 4)
    val sum = JobRunner.lakeJobs("compact_media_store")(s0, Map(
      "in-store" -> store, "upto-batch" -> "1"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum == Map("fps" -> 1L, "bands" -> 1L)) // just batch=-1
    // a URL-rail curated store: the summary names every table the
    // compactor compacted, urls included
    val ref = Seq((100L, "a b c d e f")).toDF("id", "body")
    val model = graft.llmops.LanguageModel.bigramModel(ref, "id", "body")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "body")
    val curated = s"$dir/curated"
    for (b <- 0L to 1L)
      graft.streaming.Streams.curatedCommitIndexed(
        Seq((b + 1, s"doc $b a b c d", s"http://h.org/$b"))
          .toDF("id", "body", "url"),
        b, "id", "body", model, v, -1e9, curated, 0.5, 1000, Some("url"))
    val cur = JobRunner.lakeJobs("compact_admission_index")(s0, Map(
      "in-store" -> curated, "upto-batch" -> "1"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(cur == Seq("dfs" -> 1L, "postings" -> 1L, "fps" -> 1L,
      "urls" -> 1L))
    val ex = intercept[IllegalArgumentException] {
      JobRunner.lakeJobs("compact_admission_index")(s0, Map(
        "in-store" -> s"$dir/nostore", "upto-batch" -> "0"))
    }
    assert(ex.getMessage.contains("meta"))
  }

  test("JobRunner: interval_coverage lake job counts overlaps once") {
    val dir = Files.createTempDirectory("graft-runner-iv").toString
    val s0 = graft.core.Sessions.local(4, "graft-runner-test")
    import s0.implicits._
    Seq(("u", 0L, 10L), ("u", 5L, 15L)).toDF("k", "s", "e")
      .write.parquet(s"$dir/iv")
    val cov = JobRunner.lakeJobs("interval_coverage")(
      s0, Map("in-table" -> s"$dir/iv", "key" -> "k",
        "start-col" -> "s", "end-col" -> "e")).head()
    assert(cov.getString(0) == "u")
    assert(cov.getLong(1) == 15L && cov.getLong(2) == 2L)
  }
}
