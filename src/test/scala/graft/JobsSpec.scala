package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schemas
import graft.jobs.{CondorJobs, DbsJobs, PhedexJobs, PopularityJobs,
  RucioJobs, WmArchiveJobs}

/** End-to-end job specs on synthetic micro-fixtures of the reference's
  * input schemas (FIXTURES.md §B) — the per-job CI the reference never
  * had (SURVEY.md §5). */
class JobsSpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-jobs-test")
  import spark.implicits._

  // ---- DBS fixtures ----
  private lazy val datasets = Seq(
    (1L, "/PrimA/Proc-v1/RAW"), (2L, "/PrimB/Proc-v2/AOD"))
    .toDF("d_dataset_id", "d_dataset")
  private lazy val files = Seq(
    (10L, "/store/f1", 1L, 100L, 1e9), (11L, "/store/f2", 1L, 250L, 2e9),
    (12L, "/store/f3", 2L, 50L, 5e8))
    .toDF("f_file_id", "f_logical_file_name", "f_dataset_id",
      "f_event_count", "f_file_size")

  test("datasetPopularity: 3-way join + name algebra") {
    val access = Seq(
      ("/store/f1", "/CN=alice", 10L), ("/store/f1", "/CN=bob", 20L),
      ("/store/f3", "/CN=alice", 5L))
      .toDF("file_lfn", "user_dn", "read_bytes")
    val got = DbsJobs.datasetPopularity(datasets, files, access)
      .orderBy("dataset").collect()
    assert(got.length == 2)
    val a = got(0)
    assert(a.getString(0) == "/PrimA/Proc-v1/RAW")
    assert(a.getString(1) == "PrimA" && a.getString(3) == "RAW")
    assert(a.getLong(4) == 2 && a.getLong(5) == 2 && a.getLong(6) == 30)
  }

  test("eventCountByTier sums per tier token") {
    val got = DbsJobs.eventCountByTier(datasets, files)
      .orderBy("tier").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("AOD", "RAW"))
    assert(got(1).getLong(1) == 350L) // RAW events = 100 + 250
  }

  test("leftovers: anti-join finds datasets absent from DBS") {
    val other = Seq(("/PrimA/Proc-v1/RAW", 1.0), ("/Ghost/NoDbs/RAW", 2.0))
      .toDF("dataset", "size")
    val got = DbsJobs.leftovers(datasets, other).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("/Ghost/NoDbs/RAW"))
  }

  test("campaignSiteSummary: top-2 sites without UDFs") {
    val blocks = Seq(
      ("/P/Camp-A/RAW", "T1_US_FNAL", 100.0),
      ("/P/Camp-A/RAW", "T2_CH_CERN", 300.0),
      ("/P/Camp-A/AOD", "T2_DE_DESY", 50.0),
      ("/Q/Camp-B/RAW", "T1_US_FNAL", 10.0))
      .toDF("dataset", "site", "block_size")
    val got = DbsJobs.campaignSiteSummary(blocks)
      .orderBy("campaign").collect()
    val a = got(0) // Camp-A
    assert(a.getString(0) == "Camp-A")
    assert(a.getDouble(1) == 450.0)
    assert(a.getString(2) == "T2_CH_CERN") // top site by size
    assert(a.getDouble(3) == 300.0)
    assert(a.getString(4) == "T1_US_FNAL")
    val b = got(1) // Camp-B: single site → second_site null
    assert(b.getString(2) == "T1_US_FNAL" && b.isNullAt(4))
  }

  test("blockLumis: blocks ⋈ files ⋈ file_lumis lumi counts") {
    val blocks = Seq((100L, "/PrimA/Proc-v1/RAW#b1"),
      (101L, "/PrimB/Proc-v2/AOD#b2"))
      .toDF("b_block_id", "b_block_name")
    val filesB = Seq((10L, 100L), (11L, 100L), (12L, 101L))
      .toDF("f_file_id", "f_block_id")
    val lumis = Seq((1, "11", 10L), (1, "12", 10L), (2, "13", 11L),
      (3, "14", 12L))
      .toDF("fl_run_num", "fl_lumi_section_num", "fl_file_id")
    val got = DbsJobs.blockLumis(blocks, filesB, lumis)
      .orderBy("b_block_name").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("/PrimA/Proc-v1/RAW#b1", 3L), ("/PrimB/Proc-v2/AOD#b2", 1L)))
  }

  test("crabPopularity: window filter, GlobalJobId dedup, block-name " +
    "regexp split, per-dataset stats") {
    def row(jobId: String, status: String, block: String, wf: String,
        recordMs: Long, readBytes: Long): Row =
      Row(Row(jobId, recordMs, status, "T1_US_FNAL", "T1", "analysis",
        0L, 1.0, 1.0, 2.0, 0.9, 4.0, "alice", wf, block, "PrimX", "wf",
        "req", "sch", "jid", null, 0L, 0, "/DS/One/RAW", readBytes),
        Row(recordMs))
    val condor = CondorJobs.flatten(spark.createDataFrame(
      java.util.Arrays.asList(
        row("c1", "Completed", "/PrimX/Proc-v1/AOD#u-1", "wfA",
          1000L, 100L),
        row("c1", "Completed", "/PrimX/Proc-v1/AOD#u-1", "wfA",
          1000L, 100L), // duplicate re-read → deduped
        row("c2", "Removed", "/PrimX/Proc-v1/AOD#u-2", "wfB",
          2000L, 50L),
        row("c3", "Completed", "/PrimX/Proc-v1/AOD#u-3", "wfA",
          99000L, 7L), // outside window
        row("c4", "Running", "/PrimX/Proc-v1/AOD#u-4", "wfC",
          1500L, 1L)), // wrong status
      Schemas.condorEnvelope))
    val got = CondorJobs.crabPopularity(condor, 0L, 10000L).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[String]("Datatier") == "AOD")
    assert(r.getAs[String]("Dataset") == "/PrimX/Proc-v1")
    assert(r.getAs[Long]("job_count") == 2L) // c1 deduped, c2
    assert(r.getAs[Long]("workflow_count") == 2L) // wfA, wfB
    assert(r.getAs[Long]("ChirpCMSSWReadBytes") == 150L)
    assert(r.getAs[Long]("max_RecordTime") == 2000L)
  }

  test("popularity 4-stream union: shared schema, dn_uuid wiring, " +
    "per-stream aggregation") {
    val blocksP = Seq((100L, "/PrimA/Proc-v1/RAW#b1"))
      .toDF("b_block_id", "b_block_name")
    val filesP = Seq((10L, "/store/f1", 1L, 100L))
      .toDF("f_file_id", "f_logical_file_name", "f_dataset_id", "f_block_id")
    val phedex = Seq(("/PrimA/Proc-v1/RAW#b1", "T1_US_FNAL_Disk_Extra"))
      .toDF("block_name", "node_name")
    val fbs = PopularityJobs.fileBlockSite(filesP, blocksP, datasets,
      phedex)
    // dimension: site cleaned to ≤3 tokens, distinct rows
    val f = fbs.collect()
    assert(f.length == 1 &&
      f(0).getAs[String]("site_name") == "T1_US_FNAL" &&
      f(0).getAs[String]("dataset_name") == "/PrimA/Proc-v1/RAW")
    val cmssw = Seq(
      ("/store/f1", "/DC=ch/CN=111/CN=alice", "T2_CH_CERN",
        "crab3-app"),
      ("/store/f1", "/DC=ch/CN=111/CN=alice", "T2_CH_CERN", ""))
      .toDF("FILE_LFN", "USER_DN", "SITE_NAME", "APP_INFO")
    val aaa = Seq(("/store/f1", "/DC=ch/CN=bob"))
      .toDF("file_lfn", "user_dn")
    val eos = Seq(("/store/f1", "/DC=ch/CN=carol", "fuse"))
      .toDF("file_lfn", "user_dn", "application")
    val jm = Seq(("/store/f1", "dave", "T1_US_FNAL", "crab3", "4.5", "9.0"))
      .toDF("FileName", "GridName", "SiteName", "SubmissionTool",
        "WrapCPU", "WrapWC")
    val got = PopularityJobs.popularity(cmssw, aaa, eos, jm, fbs,
      timestamp = 1700000000L).collect()
    // cmssw rows split by app (crab vs cmssw default) → 2 rows + 3 others
    assert(got.length == 5)
    assert(got.map(_.getAs[String]("stream")).toSet ==
      Set("cmssw", "aaa", "eos", "crab"))
    val crab = got.find(_.getAs[String]("stream") == "crab").get
    assert(crab.getAs[String]("dn") == "dave")
    assert(crab.getAs[Double]("cpu_time") == 4.5
      && crab.getAs[Double]("wc_time") == 9.0)
    assert(crab.getAs[String]("site_tier") == "T1")
    // dn_uuid = sha1(parse_dn) mod 10^16, verified independently
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest("dave".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expectUid =
      (BigInt(sha, 16) mod BigInt(10).pow(16)).toLong
    assert(crab.getAs[Long]("uid") == expectUid)
    assert(got.forall(_.getAs[Long]("timestamp") == 1700000000L))
    // every stream shares the exact output schema
    assert(got.forall(_.length == 12))
  }

  test("eventCountBySkimTier: skim routing + SQL UNION semantics") {
    val ds = Seq(
      (1L, "/PrimA/Proc-v1/RAW", 1),
      (2L, "/PrimB/Proc-PromptSkim-v1/RAW", 1),
      (3L, "/lowercase-remove-me/P/RAW", 1),
      (4L, "/PrimC/Proc/NANOAOD", 2))
      .toDF("d_dataset_id", "d_dataset", "d_data_tier_id")
    val fl = Seq(
      (1L, 100L, 1704067200.0), (1L, 50L, 1704067200.0),
      (2L, 30L, 1704067200.0), (3L, 7L, 1704067200.0),
      (4L, 9L, 1704067200.0))
      .toDF("f_dataset_id", "f_event_count", "f_creation_date")
      .withColumn("f_file_id", col("f_dataset_id"))
    val tiers = Seq((1, "RAW"), (2, "NANOAOD"))
      .toDF("data_tier_id", "data_tier_name")
    val got = DbsJobs.eventCountBySkimTier(ds, fl, tiers,
      tiersRe = "^RAW$", removeRe = "remove",
      skimsRe = "(PromptSkim)")
      .orderBy("data_tier_name").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // NANOAOD fails tiersRe; dataset 3 removed; skim dataset routed
    assert(got.toSeq == Seq(("RAW", 150L), ("RAW/PromptSkim", 30L)))
  }

  test("hs06CpuHours: site include/exclude regexes, window, dedup, " +
    "per-period sums") {
    val condor = Seq(
      ("h1", 1704067200000L, 10.0, "Completed", "T2_DE_DESY"),
      ("h1", 1704067200000L, 10.0, "Completed", "T2_DE_DESY"), // dup
      ("h2", 1706745600000L, 5.0, "Completed", "T2_DE_DESY"),  // Feb
      ("h3", 1704067200000L, 7.0, "Completed", "T2_CH_CERN"),  // excluded
      ("h4", 1704067200000L, 3.0, "Completed", "T1_US_FNAL"),  // not T2
      ("h5", 1704067200000L, 2.0, "Running", "T2_DE_DESY"))    // status
      .toDF("GlobalJobId", "RecordTime", "HS06CpuTimeHr", "Status", "Site")
    val got = CondorJobs.hs06CpuHours(condor, 0L, Long.MaxValue)
      .orderBy("month").collect()
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .toSeq == Seq((2024, 1, 10.0), (2024, 2, 5.0)))
    val byWeek = CondorJobs.hs06CpuHours(condor, 0L, Long.MaxValue,
      byWeek = true)
    assert(byWeek.columns.toSeq ==
      Seq("year", "weekofyear", "sum_HS06CpuTimeHr"))
  }

  test("rucio dailyTally: tally day from input_file_name, create day " +
    "from epoch, LFN join, per-key byte sums") {
    // real dated dump dirs so input_file_name has a path to parse; each
    // day's dump is written both as parquet and as Avro
    val base = java.nio.file.Files
      .createTempDirectory("graft-rucio").toString + "/rucio"
    val days = Seq(
      "2024-01-05" -> Seq(
        ("/store/f1", "cms", "rse-a", 100L, 1704067200000L),
        ("/store/f1", "cms", "rse-a", 50L, 1704067200000L),
        ("/store/ghost", "cms", "rse-a", 9L, 1704067200000L)),
      "2024-01-06" -> Seq(("/store/f2", "cms", "rse-b", 70L, 1706745600000L)))
    for ((day, rows) <- days) {
      val dump = rows.toDF("NAME", "SCOPE", "RSE_ID", "BYTES", "CREATED_AT")
      dump.write.parquet(s"$base/$day/part.parquet")
      graft.core.IO.writeAvro(dump, s"$base/$day/part.avro")
    }
    val replicas = spark.read.parquet(
      days.map { case (day, _) => s"$base/$day/part.parquet" }: _*)
    val dbsFiles = Seq((10L, "/store/f1", 1L), (11L, "/store/f2", 2L))
      .toDF("f_file_id", "f_logical_file_name", "f_dataset_id")
    val got = RucioJobs.dailyTally(replicas, dbsFiles)
      .orderBy("tally_day").collect()
    // the Avro dumps give the same rows: the Avro scan names each row's
    // source file too
    val avroReplicas = graft.core.IO.avro(spark,
      days.map { case (day, _) => s"$base/$day/part.avro" })
    assert(RucioJobs.dailyTally(avroReplicas, dbsFiles)
      .orderBy("tally_day").collect().toSeq == got.toSeq)
    assert(got.length == 2) // ghost LFN dropped by the DBS join
    val d5 = got(0)
    assert(d5.getAs[String]("tally_day") == "20240105")
    assert(d5.getAs[String]("create_day") == "20240101")
    assert(d5.getAs[Long]("rep_size") == 150L)
    assert(got(1).getAs[String]("tally_day") == "20240106")
    assert(got(1).getAs[Long]("f_dataset_id") == 2L)
  }

  // ---- Rucio fixtures (binary ids exercise lower(hex())) ----
  private def bid(b: Byte) = Array.fill[Byte](2)(b)

  test("rucio datasetsStats: full-outer file map → per-(rse,dataset)") {
    val replicas = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("f1", bid(0x0a), 100L, "A", "cms", 1700000000000L, 0L, 1L),
        Row("f2", bid(0x0a), 200L, "A", "cms", null, 0L, 1L),
        Row("f3", bid(0x0b), 300L, "U", "cms", null, 0L, 1L)), // not avail
      Schemas.rucioReplicas)
    val dids = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("f1", "cms", "F", 0, null, 90L, 1600000000000L, 0L),
        Row("f4", "cms", "F", 0, null, 400L, null, 0L)), // dids-only file
      Schemas.rucioDids)
    val contents = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("cms", "blockX", "f1", "D", "F"),
        Row("cms", "blockX", "f2", "D", "F"),
        Row("cms", "blockY", "f4", "D", "F"),
        Row("cms", "/DS/One/RAW", "blockX", "C", "D"),
        Row("cms", "/DS/Two/RAW", "blockY", "C", "D")),
      Schemas.rucioContents)
    val rses = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(bid(0x0a), "T1_US_FNAL_Disk", "DISK", null),
        Row(bid(0x0b), "T2_CH_CERN_Temp", "DISK", null)),
      Schemas.rucioRses)

    val got = RucioJobs.datasetsStats(replicas, dids, contents, rses)
      .orderBy("rse", "dataset").collect()
    // available replicas: f1,f2 on 0x0a (FNAL); f4 dids-only (no rse)
    val byKey = got.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val fnal = byKey(("T1_US_FNAL_Disk", "/DS/One/RAW"))
    assert(fnal.getLong(2) == 2) // n_files
    assert(fnal.getLong(3) == 1) // n_accessed (f1 only)
    assert(fnal.getLong(4) == 300L) // bytes 100+200 (replica priority)
    val orphan = byKey(("UNKNOWN", "/DS/Two/RAW"))
    assert(orphan.getLong(4) == 400L) // did_bytes fallback
  }

  test("rucio prepRses classifies kind and splits tier/country") {
    val rses = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(bid(0x01), "T2_US_Nebraska_Temp", "DISK", null),
        Row(bid(0x02), "T1_ES_PIC_Test", "TAPE", null),
        Row(bid(0x03), "T2_CH_CERN", "DISK", 1700000000000L)), // deleted
      Schemas.rucioRses)
    val got = RucioJobs.prepRses(rses).orderBy("rse").collect()
    assert(got.length == 2)
    assert(got(0).getString(3) == "test" && got(0).getString(4) == "T1"
      && got(0).getString(5) == "ES")
    assert(got(1).getString(3) == "temp")
  }

  test("dsSummary: two-level aggregation over RSE copies") {
    val per = Seq(
      ("/DS/One/RAW", "rseA", 100L, 5L), ("/DS/One/RAW", "rseB", 300L, 9L))
      .toDF("dataset", "rse", "total_bytes", "last_accessed_at")
    val got = RucioJobs.dsSummary(per).head()
    assert(got.getLong(1) == 2 && got.getLong(2) == 300L
      && got.getLong(3) == 100L && got.getDouble(4) == 200.0
      && got.getLong(5) == 400L && got.getLong(6) == 9L)
  }

  test("last-access family: replica-priority sizes, greatest-ts, " +
    "not-read/never-read split, UTC year bins") {
    val replicas = spark.createDataFrame(
      java.util.Arrays.asList(
        // accessed 2010-01-01 UTC (replica side), created older
        Row("f1", bid(0x0a), 300000000000L, "A", "cms",
          1262304000000L, 1200000000000L, 0L),
        // BYTES null → DID size fallback; never accessed
        Row("f2", bid(0x0a), null, "A", "cms", null, 1200000000000L, 0L),
        Row("/store/backfill/x", bid(0x0a), 5L, "A", "cms", 1L, 1L, 0L),
        Row("f5", bid(0x0a), 7L, "A", "other", 1L, 1L, 0L)), // non-cms
      Schemas.rucioReplicas)
    val dids = spark.createDataFrame(
      java.util.Arrays.asList(
        // DID access 500ms later than replica → greatest wins
        Row("f1", "cms", "F", 0, null, 90L, 1262304000500L,
          1100000000000L),
        Row("f2", "cms", "F", 0, null, 200000000000L, null,
          1300000000000L)),
      Schemas.rucioDids)
    val f2d = Seq(("f1", "/DS/One/RAW"), ("f2", "/DS/Two/RAW"))
      .toDF("f_name", "dataset")
    val rses = spark.createDataFrame(
      java.util.Arrays.asList(Row(bid(0x0a), "T1_US_FNAL_Disk", "DISK",
        null)),
      Schemas.rucioRses)

    val files = RucioJobs.fileRseTsSize(replicas, dids)
      .orderBy("f_name").collect()
    assert(files.length == 2) // backfill + non-cms dropped
    assert(files(0).getAs[Long]("f_size") == 300000000000L) // replica first
    assert(files(0).getAs[Long]("accessed_at") == 1262304000500L)
    assert(files(1).getAs[Long]("f_size") == 200000000000L) // DID fallback
    assert(files(1).isNullAt(files(1).fieldIndex("accessed_at")))
    assert(files(1).getAs[Long]("created_at") == 1300000000000L)

    val access = RucioJobs.rseDatasetAccess(
      RucioJobs.fileRseTsSize(replicas, dids), f2d)
    val nrs = RucioJobs.notReadSince(access, rses, 0.1, 1600000000000L)
      .collect()
    assert(nrs.length == 1) // only /DS/One was ever accessed
    assert(nrs(0).getAs[String]("rse_name") == "T1_US_FNAL_Disk")
    assert(nrs(0).getAs[String]("dataset") == "/DS/One/RAW")
    assert(nrs(0).getAs[Double]("dataset_size_in_rse_tb") == 0.3)
    val nr = RucioJobs.neverRead(access, rses, 0.1).collect()
    assert(nr.length == 1 &&
      nr(0).getAs[String]("dataset") == "/DS/Two/RAW" &&
      nr(0).getAs[Double]("dataset_size_in_rse_tb") == 0.2)

    val bins = RucioJobs.lastAccessYearBins(access)
      .orderBy("access_year").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(bins.toSeq == Seq(("2010", 0.3, 1L), ("never", 0.2, 1L)))

    val main = RucioJobs.datasetMainSummary(
      Seq(("/DS/One/RAW", "rseA", 0.3, 99L),
        ("/DS/One/RAW", "rseB", 0.1, 101L))
        .toDF("dataset", "rse_name", "dataset_size_in_rse_tb",
          "last_access_of_dataset_in_rse")).head()
    assert(main.getAs[Double]("max_size_tb") == 0.3 &&
      main.getAs[Double]("sum_size_tb") == 0.4 &&
      main.getAs[Long]("last_access") == 101L &&
      main.getAs[String]("rses") == "rseA, rseB")
  }

  // ---- Condor fixtures ----
  private def condorRow(jobId: String, status: String, site: String,
      cpuHr: Double, coreHr: Double, user: String, tpe: String,
      recordMs: Long, cores: Double): Row =
    Row(Row(jobId, recordMs, status, site, "T1", tpe, 0L, 1.0, cpuHr,
      coreHr, 0.9, cores, user, "wf1", "blk", "prim", "wf1", "req", "sch",
      "jid", null, 0L, 0, "/DS/One/RAW", 1024L), Row(recordMs))

  private lazy val condor = CondorJobs.flatten(spark.createDataFrame(
    java.util.Arrays.asList(
      condorRow("j1", "Completed", "T1_US_FNAL", 8.0, 10.0, "alice",
        "analysis", 1704067200000L, 4.0),
      condorRow("j1", "Completed", "T1_US_FNAL", 8.0, 10.0, "alice",
        "analysis", 1704067200000L, 4.0), // duplicate re-read
      condorRow("j2", "Completed", "T2_CH_CERN", 5.0, 10.0, "bob",
        "analysis", 1704067200000L, 2.0),
      condorRow("j3", "Running", "T3_US_ANL_X", 1.0, 2.0, "carol",
        "production", 1704067200000L, 8.0)),
    Schemas.condorEnvelope))

  test("condor cpuEfficiency: ratio-of-sums on completed T1/T2 jobs") {
    val got = CondorJobs.cpuEfficiency(condor).orderBy("site").collect()
    assert(got.length == 2) // (wf1,FNAL) and (wf1,CERN); Running excluded
    val fnal = got.find(_.getString(1) == "T1_US_FNAL").get
    assert(fnal.getDouble(3) == 80.0)
    assert(fnal.getLong(5) == 2) // j1's duplicate re-read both counted here
  }

  test("condor crabUniqueUsers dedups GlobalJobId then counts users") {
    val got = CondorJobs.crabUniqueUsers(condor).head()
    assert(got.getInt(0) == 2024 && got.getInt(1) == 1)
    assert(got.getLong(2) == 2) // alice, bob
    assert(got.getLong(3) == 2) // j1 deduped
  }

  test("condor runningCores bins and routes HPC sites") {
    val got = CondorJobs.runningCores(condor).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) % 720 == 0)
    assert(r.getString(1) == "ANL") // T3_US_ANL_X routed
    assert(r.getDouble(2) == 8.0 && r.getLong(3) == 1)
  }

  // ---- dbs_condor fixtures (degraded/dbs_condor.py) ----
  private def dbsCondorRow(jobId: String, kEvents: Double,
      campaign: String, coreHr: Double, user: String, exitCode: Long,
      dataset: String): Row =
    Row(Row(jobId, 1704067200000L, kEvents, 1.0, 1.0, campaign, "wf1",
      0.9, coreHr, 0.1, user, "analysis", exitCode, "Analysis",
      dataset), Row(1704067200000L))

  test("dbsCondor: four rollups, VALID-closure merge, guarded rate") {
    val condorKev = CondorJobs.flatten(spark.createDataFrame(
      java.util.Arrays.asList(
        dbsCondorRow("c1", 10.0, "CampA", 5.0, "alice", 0L,
          "/PrimA/Proc-v1/RAW"),
        dbsCondorRow("c2", 20.0, "CampA", 5.0, "alice", 0L,
          "/PrimA/Proc-v1/RAW"),
        dbsCondorRow("c3", 0.0, "CampA", 4.0, "alice", 1L,
          "/PrimA/Proc-v1/RAW"), // KEvents=0: raw rollups only
        dbsCondorRow("c4", 7.0, "CampB", 2.0, "bob", 0L,
          "/PrimB/Proc-v2/AOD")), // DELETED dataset: no DBS closure
      Schemas.condorDbsEnvelope))
    val ddf = Seq(
      (1L, "/PrimA/Proc-v1/RAW", 1, 1, 7, 9, 1.7e9),
      (2L, "/PrimB/Proc-v2/AOD", 1, 2, 7, 9, 1.8e9))
      .toDF("d_dataset_id", "d_dataset", "d_is_dataset_valid",
        "d_dataset_access_type_id", "d_acquisition_era_id",
        "d_processing_era_id", "d_creation_date")
    val fdf = Seq((1L, 100L, 1e9), (1L, 200L, 2e9), (2L, 50L, 5e8))
      .toDF("f_dataset_id", "f_event_count", "f_file_size")
    val daf = Seq((1, "VALID"), (2, "DELETED"))
      .toDF("dataset_access_type_id", "dataset_access_type")
    val aef = Seq((7, "Era2024"))
      .toDF("acquisition_era_id", "acquisition_era_name")
    val pef = Seq((9, 3.0))
      .toDF("processing_era_id", "processing_version")
    val mcf = Seq((100, 1, 200))
      .toDF("mc_ds_output_mod_config_id", "mc_dataset_id",
        "mc_output_mod_config_id")
    val ocf = Seq((200, 300))
      .toDF("oc_output_mod_config_id", "oc_release_version_id")
    val rvf = Seq((300, "CMSSW_14_0_0"))
      .toDF("r_release_version_id", "r_release_version")
    val got = CondorJobs.dbsCondor(condorKev, ddf, fdf, daf, aef, pef,
      mcf, ocf, rvf, date = "20240101").cache()

    // dataset scope aggregates the RAW stream: c1+c2 fold on the
    // shared keys; c3 (exit 1) and c4 stay separate rows
    val ds = got.filter(col("scope") === "dataset").collect()
    assert(ds.length == 3)
    val ok = ds.find(r => r.getAs[Long]("exit_code") == 0L &&
      r.getAs[String]("key") == "/PrimA/Proc-v1/RAW").get
    assert(ok.getAs[Double]("sum_evts") == 30.0)
    assert(ok.getAs[Double]("sum_chr") == 10.0)
    assert(ok.getAs[Double]("rate") == 3.0)
    assert(ok.getAs[String]("tier") == "RAW")
    assert(ok.getAs[Boolean]("exit_ok"))
    // guarded rate: sum_evts = 0 → -1, never 0/4 (dbs_condor.py:124-129)
    val failed = ds.find(_.getAs[Long]("exit_code") == 1L).get
    assert(failed.getAs[Double]("rate") == -1.0)
    assert(!failed.getAs[Boolean]("exit_ok"))

    // campaign scope: CampA folds c1+c2 (exit 0), c3 separate; CampB
    val cp = got.filter(col("scope") === "campaign").collect()
    assert(cp.length == 3 && cp.forall(_.getAs[String]("tier") == null))

    // release/era scopes see only the VALID-closure ∩ KEvents>0 rows:
    // /PrimA exit-0 jobs; c3 (KEvents=0) and /PrimB (DELETED) are out
    val rel = got.filter(col("scope") === "release").collect()
    assert(rel.length == 1)
    assert(rel(0).getAs[String]("key") == "CMSSW_14_0_0")
    assert(rel(0).getAs[Double]("sum_evts") == 30.0)
    val era = got.filter(col("scope") === "era").collect()
    assert(era.length == 1 && era(0).getAs[String]("key") == "Era2024")

    // the reference's two-pass ExitCode split (py:133-144) produces
    // the identical dataset-scope row set as the one-pass aggregation
    val twoPass = CondorJobs.dbsCondor(
        condorKev.filter(col("ExitCode") === 0L), ddf, fdf, daf, aef,
        pef, mcf, ocf, rvf, date = "20240101")
      .unionByName(CondorJobs.dbsCondor(
        condorKev.filter(col("ExitCode") =!= 0L), ddf, fdf, daf, aef,
        pef, mcf, ocf, rvf, date = "20240101"))
      .filter(col("scope") === "dataset")
    assert(twoPass.collect().map(_.toString).sorted
      .sameElements(ds.map(_.toString).sorted))
    got.unpersist()
    ()
  }

  test("wma agentCounts: wmaid dedup, per-(day,host) stats, midday ts") {
    def cpu = Row(1.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    def fw(wmaid: String, wmats: Long, host: String, nSteps: Int) =
      Row(wmaid, wmats, "t", Row(host, wmats, "success", "prod", "f"),
        (1 to nSteps).map(i => Row(s"cmsRun$i", "siteX", Row(cpu))))
    val fwjr = spark.createDataFrame(
      java.util.Arrays.asList(
        fw("w1", 1704100000L, "agent-1", 2),
        fw("w1", 1704100000L, "agent-1", 2), // re-delivered
        fw("w2", 1704110000L, "agent-1", 4),
        fw("w3", 1704200000L, "agent-2", 1)),
      Schemas.wmarchiveEnvelope)
    val got = WmArchiveJobs.agentCounts(fwjr).orderBy("host").collect()
    assert(got.length == 2)
    val a1 = got(0)
    assert(a1.getAs[String]("host") == "agent-1")
    assert(a1.getAs[Long]("count") == 2L) // w1 deduped
    assert(a1.getAs[Double]("avg_steps_count") == 3.0)
    assert(a1.getSeq[String](a1.fieldIndex("sites")).toList ==
      List("siteX"))
    // midday of 2024-01-01: day start 1704067200 + 43200
    assert(a1.getAs[Long]("wmats_midday") == 1704110400L)
  }

  // ---- WMArchive fixtures ----
  test("wmarchive stepchain: explode steps, per-(task,site) cpu eff") {
    def cpu(jobCpu: Double, jobTime: Double, threads: Double) =
      Row(1.0, threads, jobCpu, jobTime, jobCpu, 10.0)
    val fwjr = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("w1", 1L, "taskA", Row("h1", 1L, "success", "prod", "f1"),
          Seq(Row("cmsRun1", "siteX", Row(cpu(16.0, 10.0, 2.0))),
            Row("stageOut1", "siteX", Row(cpu(1.0, 1.0, 1.0))))),
        Row("w1", 1L, "taskA", Row("h1", 1L, "success", "prod", "f1"),
          Seq(Row("cmsRun1", "siteX", Row(cpu(16.0, 10.0, 2.0))))), // dup
        Row("w2", 2L, "taskA", Row("h2", 2L, "failure", "prod", "f2"),
          Seq(Row("cmsRun1", "siteX", Row(cpu(9.0, 10.0, 1.0)))))),
      Schemas.wmarchiveEnvelope)
    val got = WmArchiveJobs.stepchainCpuEff(fwjr).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getString(0) == "taskA" && r.getString(1) == "siteX")
    assert(r.getDouble(2) == 80.0) // 16 / (10*2) — dup + failure dropped
    assert(r.getLong(3) == 1)
  }

  test("adlerFiles: suspect-checksum IN-list, distinct, 4-col shape") {
    val ds = Seq((1L, "/PrimA/Proc-v1/RAW")).toDF("d_dataset_id", "d_dataset")
    val fs = Seq(
      (1L, "/store/f1", "ad8f6ad2"), (1L, "/store/f1", "ad8f6ad2"), // dup
      (1L, "/store/f2", "deadbeef"))
      .toDF("f_dataset_id", "f_logical_file_name", "f_adler32")
    val got = DbsJobs.adlerFiles(ds, fs, DbsJobs.ReferenceAdlers).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("f_logical_file_name") == "/store/f1" &&
      got(0).getAs[String]("f_adler32") == "ad8f6ad2")
  }

  test("lfnPattern: LIKE suffix hunt joined back to block names") {
    val blocks = Seq((100L, "/P/C/RAW#b1"), (101L, "/P/C/RAW#b2"))
      .toDF("b_block_id", "b_block_name")
    val fs = Seq(
      (100L, "/store/a/00047DB7-9F77-E011-ADC8-00215E21D9A8.root"),
      (101L, "/store/b/other.root"))
      .toDF("f_block_id", "f_logical_file_name")
    val got = DbsJobs.lfnPattern(blocks, fs,
      "%00047DB7-9F77-E011-ADC8-00215E21D9A8.root").collect()
    assert(got.length == 1 &&
      got(0).getAs[String]("b_block_name") == "/P/C/RAW#b1")
  }

  test("jmStats: per-(site, exit code) sums in report order") {
    val summary = Seq(
      ("T1_X", 8021L, 10.0, 2L, 20.0), ("T1_X", 8021L, 5.0, 1L, 10.0),
      ("T1_X", 0L, 1.0, 7L, 2.0), ("T2_Y", 0L, 3.0, 4L, 6.0))
      .toDF("SiteName", "JobExecExitCode", "tot_cpu", "ecode_count",
        "tot_wc")
    val got = PopularityJobs.jmStats(summary, "JobExecExitCode").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      r.getLong(3), r.getDouble(4))).toSeq == Seq(
      ("T1_X", 0L, 1.0, 7L, 2.0),
      ("T1_X", 8021L, 15.0, 3L, 30.0),
      ("T2_Y", 0L, 3.0, 4L, 6.0)))
  }

  // ---- PhEDEx fixtures ----

  test("phedex siteSnapshot: tape-endpoint filter, block roll-up, " +
    "UTC replica date") {
    val phedex = Seq(
      (1704103200.0, "/PrimA/Proc-v1/RAW", "T1_US_FNAL_Disk", 100L,
        1493161200.0, 5),
      (1704103200.0, "/PrimA/Proc-v1/RAW", "T1_US_FNAL_Disk", 200L,
        1493161200.0, 5),
      (1704103200.0, "/PrimA/Proc-v1/RAW", "T1_US_FNAL_MSS", 999L,
        1493161200.0, 5),
      (1704103200.0, "/PrimA/Proc-v1/RAW", "T0_CH_CERN_Export", 1L,
        1493161200.0, 5))
      .toDF("now_sec", "dataset_name", "node_name", "block_bytes",
        "replica_time_create", "br_user_group_id")
    val got = PhedexJobs.siteSnapshot(phedex).collect()
    assert(got.length == 1) // _MSS and _Export dropped, blocks summed
    val r = got(0)
    // date derived from the dump's own now_sec (2024-01-01 UTC)
    assert(r.getAs[String]("date") == "20240101")
    assert(r.getAs[String]("site") == "T1_US_FNAL_Disk")
    assert(r.getAs[Long]("size") == 300L)
    assert(r.getAs[String]("replica_date") == "20170425")
    assert(r.getAs[Long]("groupid") == 5L)
    // explicit --date overrides the derived day (phedex.py:70)
    assert(PhedexJobs.siteSnapshot(phedex, Some("20240107"))
      .head().getAs[String]("date") == "20240107")
  }

  test("mergeSnapshots reproduces the Go day-fold, intra-day roll-up " +
    "and gid adoption") {
    // day totals 10,20,30,40 — the mergePhedex.go trace gives
    // ave = ((2*10+20)/3*3+30)/4*... = 21, max day total 40
    val rows = Seq(
      (20240101L, "S", "/D", 4L, 20231201L, Some(7L)),
      (20240101L, "S", "/D", 6L, 20231201L, None), // same-day split + null gid
      (20240102L, "S", "/D", 20L, 20231201L, Some(7L)),
      (20240103L, "S", "/D", 30L, 20231201L, None),
      (20240104L, "S", "/D", 40L, 20231201L, Some(7L)),
      // second key: single day, no valid gid anywhere → gid -1, ave = total
      (20240102L, "S", "/E", 55L, 20231215L, None))
      .toDF("date", "site", "dataset", "size", "replica_date", "groupid")
    val got = PhedexJobs.mergeSnapshots(rows).orderBy("dataset").collect()
    assert(got.length == 2)
    val d = got(0)
    assert(d.getAs[String]("dataset") == "/D" &&
      d.getAs[Long]("gid") == 7L) // null gids adopted the valid 7
    assert(d.getAs[Long]("min_date") == 20240101L &&
      d.getAs[Long]("max_date") == 20240104L)
    assert(d.getAs[Long]("days") == 4L)
    assert(d.getAs[Long]("max_size") == 40L)
    assert(d.getAs[Long]("ave_size") == 21L) // Go recurrence, int div
    val e = got(1)
    assert(e.getAs[Long]("gid") == -1L && e.getAs[Long]("days") == 1L &&
      e.getAs[Long]("ave_size") == 55L && e.getAs[Long]("max_size") == 55L)
  }

  test("mergeDay: day-by-day incremental fold == batch refold, " +
    "incl. cross-day gid re-key and same-day re-feed") {
    val rows = Seq(
      (20240101L, "S", "/D", 4L, 1L, Some(7L)),
      (20240101L, "S", "/D", 6L, 1L, None),
      (20240102L, "S", "/D", 20L, 1L, Some(7L)),
      (20240103L, "S", "/D", 30L, 1L, None), // no valid gid TODAY → state's
      (20240104L, "S", "/D", 40L, 1L, Some(7L)),
      (20240102L, "S", "/E", 55L, 2L, None), // -1 state until day 3...
      (20240103L, "S", "/E", 5L, 2L, Some(3L)), // ...re-keys onto gid 3
      (20240104L, "S", "/E", 2L, 2L, None))
      .toDF("date", "site", "dataset", "size", "replica_date", "groupid")
    val dates = rows.select("date").distinct().orderBy("date")
      .collect().map(_.getLong(0))
    var state = PhedexJobs.mergeState(rows.limit(0)) // empty bootstrap
    for (d <- dates)
      state = PhedexJobs.mergeDay(state, rows.filter(col("date") === d))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("site", "dataset", "rdate", "gid")
        .collect().map(_.toSeq).toSeq
    assert(canon(PhedexJobs.finalizeMerged(state)) ==
      canon(PhedexJobs.mergeSnapshots(rows)))

    // same-day re-feed accumulates into the open day without a roll —
    // identical to the batch that saw both rows of that day at once
    val extra = Seq((20240104L, "S", "/D", 10L, 1L, Some(7L)))
      .toDF("date", "site", "dataset", "size", "replica_date", "groupid")
    val refed = PhedexJobs.mergeDay(state, extra)
    assert(canon(PhedexJobs.finalizeMerged(refed)) ==
      canon(PhedexJobs.mergeSnapshots(rows.unionByName(extra))))
    val dRow = PhedexJobs.finalizeMerged(refed)
      .filter(col("dataset") === "/D").head()
    assert(dRow.getAs[Long]("days") == 4L) // day 4 stayed one day
    assert(dRow.getAs[Long]("max_size") == 50L) // 40 + 10 re-fed
    assert(dRow.getAs[Long]("ave_size") == 23L) // (17*4+50) div 5

    // a day arriving BEHIND the state's max_date fails loudly instead
    // of silently corrupting the running average
    val late = Seq((20240102L, "S", "/D", 1L, 1L, Some(7L)))
      .toDF("date", "site", "dataset", "size", "replica_date", "groupid")
    intercept[Exception] {
      PhedexJobs.mergeDay(refed, late).collect()
    }
  }

  test("phedex snapshotAgg: per-(site,dataset,size) extremes + " +
    "days_present span") {
    val rows = Seq(
      (20240101L, "S", "/D", 100L, 20231230L, Some(1L)),
      (20240103L, "S", "/D", 100L, 20231231L, Some(1L)),
      (20240102L, "S", "/D", 999L, 20231230L, Some(1L)))
      .toDF("date", "site", "dataset", "size", "replica_date", "groupid")
    val got = PhedexJobs.snapshotAgg(rows).orderBy("size").collect()
    assert(got.length == 2) // size participates in the key (phedex_agg.py:83)
    val r = got(0)
    assert(r.getAs[Long]("min_date") == 20240101L &&
      r.getAs[Long]("max_date") == 20240103L)
    assert(r.getAs[Long]("min_rdate") == 20231230L &&
      r.getAs[Long]("max_rdate") == 20231231L)
    // span = 2023-12-30 .. 2024-01-03 = 4 days (days_present semantics)
    assert(r.getAs[Int]("days") == 4)
  }

  test("dbsPhedex: 5-way DBS join, VALID filter, release chain, " +
    "phedex enrich, dataset split") {
    val ddf = Seq(
      (1L, "/PrimA/Proc-v1/RAW", 1.0e9, 1, 1, 10, 20),
      (2L, "/PrimB/Proc-v2/AOD", 2.0e9, 1, 2, 10, 20), // DELETED → dropped
      (3L, "/PrimC/Proc-v3/AOD", 3.0e9, 0, 1, 10, 20)) // invalid → dropped
      .toDF("d_dataset_id", "d_dataset", "d_creation_date",
        "d_is_dataset_valid", "d_dataset_access_type_id",
        "d_acquisition_era_id", "d_processing_era_id")
    val fdf = Seq((1L, 100L, 1.0e6), (1L, 200L, 2.0e6), (2L, 5L, 9.0),
      (3L, 5L, 9.0))
      .toDF("f_dataset_id", "f_event_count", "f_file_size")
    val daf = Seq((1, "VALID"), (2, "DELETED"))
      .toDF("dataset_access_type_id", "dataset_access_type")
    val aef = Seq((10, "Run2024A"))
      .toDF("acquisition_era_id", "acquisition_era_name")
    val pef = Seq((20, 7.0)).toDF("processing_era_id", "processing_version")
    val mcf = Seq((1L, 30L), (2L, 30L), (3L, 30L))
      .toDF("mc_dataset_id", "mc_output_mod_config_id")
    val ocf = Seq((30L, 40L))
      .toDF("oc_output_mod_config_id", "oc_release_version_id")
    val rvf = Seq((40L, "CMSSW_14_0_0"))
      .toDF("r_release_version_id", "r_release_version")
    val phedex = Seq(
      ("T1_US_FNAL_Disk", "/PrimA/Proc-v1/RAW", "y", 100L, 1493161200.0),
      ("T1_US_FNAL_Disk", "/PrimA/Proc-v1/RAW", "y", 50L, 1493171200.0))
      .toDF("node_name", "dataset_name", "dataset_is_open", "block_bytes",
        "replica_time_create")
    val got = PhedexJobs.dbsPhedex(ddf, fdf, daf, aef, pef, mcf, ocf,
      rvf, phedex).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("evts") == 300L)
    assert(r.getAs[Double]("size") == 3.0e6)
    assert(r.getAs[String]("r_release_version") == "CMSSW_14_0_0")
    assert(r.getAs[String]("node_name") == "T1_US_FNAL_Disk")
    assert(r.getAs[Long]("pbr_size") == 150L)
    assert(r.getAs[Double]("max_replica_time") == 1493171200.0)
    assert(r.getAs[String]("primds") == "PrimA" &&
      r.getAs[String]("procds") == "Proc-v1" &&
      r.getAs[String]("tier") == "RAW")
  }

  test("corpus_release: exact dup, gate drop, span scrub all audited") {
    import spark.implicits._
    // a 30-token doc passing every gate: one stopword (3 chars) +
    // distinct 4/5-char tokens keeping chars/token inside [4.2, 4.9]
    def tokens(tag: String, n4: Int, n5: Int, extra: Seq[String]) =
      Seq("the") ++ (1 to n4).map(i => f"$tag$i%03d") ++
        (1 to n5).map(i => f"$tag${i}%04d") ++ extra
    val passA = tokens("a", 15, 14, Nil).mkString(" ")          // 30 toks
    val shared = Seq("ppppp", "qqqqq", "rrrrr")
    val passD = tokens("d", 18, 8, shared).mkString(" ")        // 30 toks
    val passE = tokens("e", 18, 8, shared).mkString(" ")
    val docs = Seq(
      (1L, passA, "s1"),
      (2L, passA, "s1"),   // byte-identical → exact-dup dropped
      (3L, "x y", "s1"),   // fails min_len
      (4L, passD, "s2"),
      (5L, passE, "s2")    // shares one trigram with doc 4 → scrub
    ).toDF("doc_id", "text", "source")
    val got = graft.llmops.CorpusRelease
      .summary(docs, "doc_id", "text", "source")
      .orderBy("source").collect()
    val s1 = got(0); val s2 = got(1)
    assert(s1.getAs[Long]("n_in") == 3 &&
      s1.getAs[Long]("n_exact_dropped") == 1 &&
      s1.getAs[Long]("n_gate_dropped") == 1 &&
      s1.getAs[Long]("n_released") == 1 &&
      s1.getAs[Long]("tokens_scrubbed") == 0 &&
      s1.getAs[Long]("tokens_released") == 30)
    assert(s2.getAs[Long]("n_released") == 2 &&
      s2.getAs[Long]("tokens_scrubbed") == 6 &&
      s2.getAs[Long]("tokens_released") == 54)
    // the released frame carries the scrubbed text for shipping
    val rel = graft.llmops.CorpusRelease
      .released(docs, "doc_id", "text", "source")
    assert(rel.count() == 3)
    assert(rel.filter(col("doc_id") === 4L).select("text_deduped")
      .head().getString(0).split(" ").length == 27)
  }

  test("corpus_release_lm: reference-model gate drops the " +
    "out-of-distribution survivor") {
    import spark.implicits._
    def tokens(tag: String, n4: Int, n5: Int) =
      Seq("the") ++ (1 to n4).map(i => f"$tag$i%03d") ++
        (1 to n5).map(i => f"$tag${i}%04d")
    // A is the only en survivor, so the reference model is A itself:
    // its 29 bigrams each score (1+1)/(1+30) = 2/31 ≈ 0.065. C's
    // bigrams are unseen: (0+1)/(0+30) = 1/30 ≈ 0.033 (1/31 for the
    // one seen "the" prefix). minScore = 0.05 splits them exactly.
    val passA = tokens("a", 15, 14).mkString(" ") // 30 toks, en
    val passC = tokens("c", 15, 14).mkString(" ") // 30 toks, xx
    val docs = Seq(
      (1L, passA, "s1", "en"),
      (2L, "x y", "s1", "en"),  // fails min_len — never scored
      (3L, passC, "s2", "xx")
    ).toDF("doc_id", "text", "source", "lang")
    val got = graft.llmops.CorpusRelease
      .summaryLm(docs, "doc_id", "text", "source", "lang", "en", 0.05)
      .orderBy("source").collect()
    val s1 = got(0); val s2 = got(1)
    assert(s1.getAs[Long]("n_in") == 2 &&
      s1.getAs[Long]("n_gate_dropped") == 1 &&
      s1.getAs[Long]("n_lm_dropped") == 0 &&
      s1.getAs[Long]("n_released") == 1 &&
      s1.getAs[Long]("tokens_released") == 30)
    assert(s2.getAs[Long]("n_in") == 1 &&
      s2.getAs[Long]("n_lm_dropped") == 1 &&
      s2.getAs[Long]("n_released") == 0 &&
      s2.getAs[Long]("tokens_released") == 0)
    // the released frame ships only the LM-passing doc
    val rel = graft.llmops.CorpusRelease
      .releaseAndAuditLm(docs, "doc_id", "text", "source", "lang",
        "en", 0.05)._1
    assert(rel.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // an empty reference slice scores everything 0.0 → empty release
    val noRef = graft.llmops.CorpusRelease
      .summaryLm(docs, "doc_id", "text", "source", "lang", "qq", 0.05)
      .agg(org.apache.spark.sql.functions.sum("n_released"))
      .head().getLong(0)
    assert(noRef == 0L)
  }

  test("leftoversReport: VALID-with-files subtract vs any-DBS orphan " +
    "subtract, campaign + sorted site set") {
    val ddf = Seq(
      (1L, "/A/Camp1/RAW", 1L),  // VALID with files -> not leftover
      (2L, "/B/Camp1/RAW", 1L),  // VALID but NO file rows -> leftover, not orphan
      (3L, "/C/Camp2/AOD", 2L))  // PRODUCTION -> leftover, not orphan
      .toDF("d_dataset_id", "d_dataset", "d_dataset_access_type_id")
    val daf = Seq((1L, "VALID"), (2L, "PRODUCTION"))
      .toDF("dataset_access_type_id", "dataset_access_type")
    val fdf = Seq(Tuple1(1L)).toDF("f_dataset_id")
    val phedex = Seq(
      ("/A/Camp1/RAW", 10L, "T1_X"),
      ("/B/Camp1/RAW", 20L, "T1_X"), ("/B/Camp1/RAW", 5L, "T2_Y"),
      ("/C/Camp2/AOD", 40L, "T2_Y"),
      ("/D/Camp3/RAW", 80L, "T3_Z")) // in no DBS view -> orphan
      .toDF("dataset_name", "block_bytes", "node_name")
    val got = DbsJobs.leftoversReport(ddf, daf, fdf, phedex)
      .orderBy("dataset").collect()
    assert(got.map(_.getAs[String]("dataset")).toSeq ==
      Seq("/B/Camp1/RAW", "/C/Camp2/AOD", "/D/Camp3/RAW"))
    val b = got(0)
    assert(b.getAs[String]("campaign") == "Camp1")
    assert(b.getAs[scala.collection.Seq[String]]("sites").toSeq ==
      Seq("T1_X", "T2_Y"))
    assert(b.getAs[Double]("phedex_size") == 25.0)
    assert(got.map(_.getAs[Boolean]("is_orphan")).toSeq ==
      Seq(false, false, true))
  }

  test("tierDbsReport: 3-way join keeps the reference's per-file " +
    "b_file_count sum") {
    val blocks = Seq(
      (100L, 1L, 2L), // block 100 in dataset 1, file_count 2
      (101L, 2L, 1L))
      .toDF("b_block_id", "b_dataset_id", "b_file_count")
    val f = Seq(
      (10L, 100L, 100L, 1e9), (11L, 100L, 250L, 2e9),
      (12L, 101L, 50L, 5e8))
      .toDF("f_file_id", "f_block_id", "f_event_count", "f_file_size")
    val got = DbsJobs.tierDbsReport(datasets, blocks, f)
      .orderBy("dataset").collect()
    assert(got.length == 2)
    val a = got(0) // /PrimA: block 100 has 2 files -> nfiles = 2+2 = 4
    assert(a.getAs[String]("dataset") == "/PrimA/Proc-v1/RAW")
    assert(a.getAs[Double]("nfiles") == 4.0) // reference's quirk, kept
    assert(a.getAs[Double]("nevents") == 350.0)
    assert(a.getAs[Double]("size") == 3e9)
    assert(got(1).getAs[Double]("nfiles") == 1.0)
  }

  test("campaignTierReport: VALID-only DBS size, tape-zeroed disk " +
    "size, campaign×tier rollup, top-limit order") {
    val ddf = Seq(
      (1L, "/PrimA/Camp1-v1/RAW", 1L), (2L, "/PrimB/Camp1-v1/AOD", 1L),
      (3L, "/PrimC/Camp2-v1/RAW", 2L)) // access type 2 = PRODUCTION
      .toDF("d_dataset_id", "d_dataset", "d_dataset_access_type_id")
    val fdf = Seq(
      (1L, 100L), (1L, 200L), (2L, 400L), (3L, 999L))
      .toDF("f_dataset_id", "f_file_size")
    val daf = Seq((1L, "VALID"), (2L, "PRODUCTION"))
      .toDF("dataset_access_type_id", "dataset_access_type")
    val phedex = Seq(
      ("/PrimA/Camp1-v1/RAW", 50L, "T1_US_FNAL_Disk"),
      ("/PrimA/Camp1-v1/RAW", 70L, "T1_US_FNAL_MSS"), // tape: size yes, disk no
      ("/PrimB/Camp1-v1/AOD", 30L, "T2_CH_CERN"),
      ("/PrimC/Camp2-v1/RAW", 10L, "T2_CH_CERN")) // dropped: not VALID
      .toDF("dataset_name", "block_bytes", "node_name")
    val got = PhedexJobs.campaignTierReport(ddf, fdf, daf, phedex)
      .collect()
    assert(got.length == 2) // Camp2 dataset not VALID -> absent
    val raw = got.find(r => r.getAs[String]("tier") == "RAW").get
    assert(raw.getAs[String]("campaign") == "Camp1-v1")
    assert(raw.getAs[Double]("dbs_size") == 300.0)
    assert(raw.getAs[Double]("phedex_size") == 120.0)
    assert(raw.getAs[Double]("size_on_disk") == 50.0)
    // order: RAW (300+120) before AOD (400+30) -> no; AOD=430 > RAW=420
    assert(got(0).getAs[String]("tier") == "AOD")
    // limit honored
    assert(PhedexJobs.campaignTierReport(ddf, fdf, daf, phedex, limit = 1)
      .count() == 1)
  }

  test("hpcAtCms: channel routing, GlobalJobId dedup, dense hourly " +
    "spine with zero fill") {
    val h0 = 1704103200000L // 2024-01-01 10:00 UTC, hour-aligned
    val rows = Seq(
      // NERSC c1, duplicated GlobalJobId -> counted once
      ("j1", h0 + 60000L, "Completed", 0L, "T3_US_NERSC",
        "CMSHTPC_T3_US_NERSC_Cori_SL7", null.asInstanceOf[String], 32.0),
      ("j1", h0 + 60000L, "Completed", 0L, "T3_US_NERSC",
        "CMSHTPC_T3_US_NERSC_Cori_SL7", null.asInstanceOf[String], 32.0),
      // CNAF with null RemoteHost -> CNAF_Marconi
      ("j2", h0 + 3660000L, "Completed", 0L, "T1_IT_CNAF",
        "whatever", null.asInstanceOf[String], 8.0),
      // CNAF with marconi host suffix
      ("j3", h0 + 3720000L, "Completed", 0L, "T1_IT_CNAF",
        "x", "r123.marconi.cineca.it", 4.0),
      // CNAF with non-marconi host -> routed to null, dropped
      ("j4", h0 + 3780000L, "Completed", 0L, "T1_IT_CNAF",
        "x", "other.host", 100.0),
      // failed job -> dropped
      ("j5", h0 + 60000L, "Completed", 1L, "T3_US_NERSC",
        "CMSHTPC_T3_US_NERSC_Cori_SL7", null.asInstanceOf[String], 64.0),
      // TACC Jetstream via OSG site alias
      ("j6", h0 + 60000L, "Completed", 0L, "T3_US_OSG",
        "OSG_US_TACC_JETSTREAM", null.asInstanceOf[String], 16.0))
      .toDF("GlobalJobId", "RecordTime", "Status", "JobFailed", "Site",
        "GLIDEIN_Entry_Name", "RemoteHost", "RequestCpus")
    // explicit 3-hour window -> spine = 3 hours x 9 channels
    val got = CondorJobs.hpcAtCms(rows, h0, h0 + 3 * 3600000L)
    assert(got.count() == 27)
    def at(hr: Long, ch: String): Double = got
      .filter(col("hour") === (h0 / 1000 + hr * 3600) &&
        col("channel") === ch)
      .head().getAs[Double]("request_cpus")
    assert(at(0, "NERSC_Cori") == 32.0) // deduped, failed job excluded
    assert(at(0, "TACC_Jetstream") == 16.0)
    assert(at(1, "CNAF_Marconi") == 12.0) // null host + marconi host
    assert(at(2, "CNAF_Marconi") == 0.0) // dense zero row
    // wide-open window -> spine from the data's own hour extremes (2h)
    assert(CondorJobs.hpcAtCms(rows, 0L, Long.MaxValue).count() == 18)
  }

  test("dedup_audit: recall, transitivity and hamming sections agree " +
    "with the planted dup structure") {
    import spark.implicits._
    // two near-identical 24-token docs (one token differs) + unrelated
    // docs: a single high-Jaccard truth pair LSH must catch
    val base = (1 to 23).map(i => f"tok$i%03d")
    val docs = Seq(
      (1L, (base :+ "aaa").mkString(" "), "s"),
      (2L, (base :+ "bbb").mkString(" "), "s"),
      (3L, (1 to 24).map(i => f"zzz$i%03d").mkString(" "), "s"),
      (4L, (1 to 24).map(i => f"yyy$i%03d").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val rep = graft.jobs.JobRunner.jobs("dedup_audit")._2(spark,
        Map("docs" -> docs))
      .collect()
    val sections = rep.map(_.getString(0)).toSet
    assert(sections == Set("lsh_recall", "transitivity",
      "simhash_hamming"))
    // the planted pair has jac = 22/26 ≈ 0.846 → top band, caught
    val top = rep.find(r => r.getString(0) == "lsh_recall" &&
      r.getString(1) == "[0.8,1.0]").get
    assert(top.getAs[Long]("n") == 1 &&
      top.getAs[Double]("value") == 1.0)
    // transitivity defined and bounded (no triangles here → 0.0)
    val tr = rep.find(_.getString(0) == "transitivity").get
    assert(tr.getAs[Double]("value") >= 0.0 &&
      tr.getAs[Double]("value") <= 1.0)
    // the dup pair sits in a low Hamming band (< 16 bits)
    val dupBands = rep.filter(r =>
      r.getString(0) == "simhash_hamming" &&
        r.getString(1).startsWith("dup@"))
    assert(dupBands.map(_.getAs[Long]("n")).sum == 1)
    assert(dupBands.forall(_.getAs[Double]("value") < 16.0))
  }
}
