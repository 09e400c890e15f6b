package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

import graft.core.{IO, Schemas, Sessions}

/** CLI entry point with the reference jobs' submit semantics
  * (bin/run_spark + per-job click mains): one binary, `--job` selects
  * the pipeline, `--in-*` bind named inputs to paths, `--fmt` picks
  * the reader, `--out` the CSV/parquet destination.
  *
  * Example:
  * {{{
  * spark-submit --class graft.jobs.JobRunner graft.jar \
  *   --job dataset_popularity \
  *   --in-datasets /dumps/DATASETS --in-files /dumps/FILES \
  *   --in-access /streams/eos/2024/01/05 \
  *   --fmt csv --out /out/popularity
  * }}}
  */
object JobRunner {

  private type Inputs = Map[String, DataFrame]

  /** Registry: job name → (required input names, pipeline). */
  val jobs: Map[String, (Seq[String], (SparkSession, Inputs) => DataFrame)] =
    Map(
      "dataset_popularity" -> (Seq("datasets", "files", "access"),
        (_, in) => DbsJobs.datasetPopularity(
          in("datasets"), in("files"), in("access"))),
      "event_count_by_tier" -> (Seq("datasets", "files"),
        (_, in) => DbsJobs.eventCountByTier(in("datasets"), in("files"))),
      "leftovers" -> (Seq("datasets", "other"),
        (_, in) => DbsJobs.leftovers(in("datasets"), in("other"))),
      // reports/aggregate_campaigns.py:127-128 — the site axis comes
      // from the PhEDEx replica dump (dataset_name, node_name,
      // block_bytes), not the DBS blocks table
      "campaign_sites" -> (Seq("phedex"),
        (_, in) => DbsJobs.campaignSiteSummary(in("phedex").select(
          col("dataset_name").as("dataset"),
          col("node_name").as("site"),
          col("block_bytes").as("block_size")))),
      "rucio_datasets_stats" -> (
        Seq("replicas", "dids", "contents", "rses"),
        (_, in) => RucioJobs.datasetsStats(in("replicas"), in("dids"),
          in("contents"), in("rses"))),
      "condor_cpu_efficiency" -> (Seq("condor"),
        (_, in) => CondorJobs.cpuEfficiency(
          CondorJobs.flatten(in("condor")))),
      "crab_unique_users" -> (Seq("condor"),
        (_, in) => CondorJobs.crabUniqueUsers(
          CondorJobs.flatten(in("condor")))),
      "running_cores" -> (Seq("condor"),
        (_, in) => CondorJobs.runningCores(
          CondorJobs.flatten(in("condor")))),
      "stepchain_cpu_eff" -> (Seq("fwjr"),
        (_, in) => WmArchiveJobs.stepchainCpuEff(in("fwjr"))),
      "agent_counts" -> (Seq("fwjr"),
        (_, in) => WmArchiveJobs.agentCounts(in("fwjr"))),
      "fts_aso_stats" -> (Seq("fts", "aso"),
        (_, in) => FtsAsoJobs.transferStats(in("fts"), in("aso"))),
      "block_lumis" -> (Seq("blocks", "files", "file_lumis"),
        (_, in) => DbsJobs.blockLumis(in("blocks"), in("files"),
          in("file_lumis"))),
      "crab_popularity" -> (Seq("condor"),
        (_, in) => CondorJobs.crabPopularity(
          CondorJobs.flatten(in("condor")), 0L, Long.MaxValue)),
      "hs06_cpu_hours" -> (Seq("condor_hs06"),
        (_, in) => CondorJobs.hs06CpuHours(
          in("condor_hs06").select(
            org.apache.spark.sql.functions.col("data.*")),
          0L, Long.MaxValue)),
      "rucio_daily" -> (Seq("replicas", "files"),
        (_, in) => RucioJobs.dailyTally(in("replicas"), in("files"))),
      "dbs_adler" -> (Seq("datasets", "files"),
        (_, in) => DbsJobs.adlerFiles(in("datasets"), in("files"),
          DbsJobs.ReferenceAdlers)),
      "dbs_lfn" -> (Seq("blocks", "files"),
        (_, in) => DbsJobs.lfnPattern(in("blocks"), in("files"),
          "%00047DB7-9F77-E011-ADC8-00215E21D9A8.root")),
      // jm summary CSV/parquet from a prior aggregation run; agg
      // column pinned to the reference's default report
      "jm_stats" -> (Seq("jm_summary"),
        (_, in) => PopularityJobs.jmStats(in("jm_summary"),
          "JobExecExitCode")),
      // cutoff/minTb pinned wide-open for the CLI form (the reference's
      // defaults live in its cron wrapper); library callers pass real ones
      "rucio_not_read_since" -> (
        Seq("replicas", "dids", "contents", "rses"),
        (_, in) => RucioJobs.notReadSince(
          RucioJobs.rseDatasetAccess(
            RucioJobs.fileRseTsSize(in("replicas"), in("dids")),
            RucioJobs.fileToDataset(in("contents"))
              .withColumnRenamed("file_name", "f_name")),
          in("rses"), 0.0, Long.MaxValue)),
      "rucio_last_access_bins" -> (Seq("replicas", "dids", "contents"),
        (_, in) => RucioJobs.lastAccessYearBins(
          RucioJobs.rseDatasetAccess(
            RucioJobs.fileRseTsSize(in("replicas"), in("dids")),
            RucioJobs.fileToDataset(in("contents"))
              .withColumnRenamed("file_name", "f_name")))),
      "phedex_snapshot" -> (Seq("phedex"),
        (_, in) => PhedexJobs.siteSnapshot(in("phedex"))),
      // reports/aggregate_phedex.py — same pipeline as phedex_snapshot
      // (the reference carries both scripts); both names registered
      "tier_phedex" -> (Seq("phedex"),
        (_, in) => PhedexJobs.siteSnapshot(in("phedex"))),
      "leftovers_report" -> (
        Seq("datasets", "access_types", "files", "phedex"),
        (_, in) => DbsJobs.leftoversReport(in("datasets"),
          in("access_types"), in("files"), in("phedex"))),
      "tier_dbs" -> (Seq("datasets", "blocks", "files"),
        (_, in) => DbsJobs.tierDbsReport(in("datasets"), in("blocks"),
          in("files"))),
      "campaign_tier" -> (
        Seq("datasets", "files", "access_types", "phedex"),
        (_, in) => PhedexJobs.campaignTierReport(in("datasets"),
          in("files"), in("access_types"), in("phedex"))),
      // window bounds wide-open for the CLI form (the reference's cron
      // wrapper passes --start/--end); library callers pass real ones
      "hpc_at_cms" -> (Seq("condor_hpc"),
        (_, in) => CondorJobs.hpcAtCms(
          CondorJobs.flatten(in("condor_hpc")), 0L, Long.MaxValue)),
      // degraded/dbs_condor.py — the DBS×Condor merge's four rollups
      // as one long-format frame; the `date` stamp column is pinned
      // empty for the CLI form (the reference's click main injects
      // the run date); library callers pass the real one
      "dbs_condor" -> (
        Seq("condor_kev", "datasets", "files", "access_types",
          "acq_eras", "proc_eras", "mod_configs", "out_configs",
          "rel_versions"),
        (_, in) => CondorJobs.dbsCondor(
          CondorJobs.flatten(in("condor_kev")), in("datasets"),
          in("files"), in("access_types"), in("acq_eras"),
          in("proc_eras"), in("mod_configs"), in("out_configs"),
          in("rel_versions"), date = "")),
      "phedex_agg" -> (Seq("phedex_summary"),
        (_, in) => PhedexJobs.snapshotAgg(in("phedex_summary"))),
      "merge_phedex" -> (Seq("phedex_summary"),
        (_, in) => PhedexJobs.mergeSnapshots(in("phedex_summary"))),
      "dbs_phedex" -> (
        Seq("datasets", "files", "access_types", "acq_eras", "proc_eras",
          "mod_configs", "out_configs", "rel_versions", "phedex"),
        (_, in) => PhedexJobs.dbsPhedex(in("datasets"), in("files"),
          in("access_types"), in("acq_eras"), in("proc_eras"),
          in("mod_configs"), in("out_configs"), in("rel_versions"),
          in("phedex"))),
      // ts is the run's nominal date column; the CLI caller sets it in
      // production, fixtures pin it (data_aggregation.py main --date)
      // corpus-release audit: exact dedup -> waterfall gate -> span
      // scrub -> per-source summary (graft.llmops.CorpusRelease)
      "corpus_release" -> (Seq("docs"),
        (_, in) => graft.llmops.CorpusRelease.summary(
          in("docs"), "doc_id", "text", "source")),
      // LM-gated release audit: the same pipeline with the CCNet-style
      // reference-model score gate between the waterfall and the
      // scrub (CorpusRelease.summaryLm; the 0.035 cutoff is the
      // q233-band calibration constant for the fixture corpus)
      "corpus_release_lm" -> (Seq("docs"),
        (_, in) => graft.llmops.CorpusRelease.summaryLm(
          in("docs"), "doc_id", "text", "source", "lang", "en",
          0.035)),
      // LM-cutoff calibration: the per-language score-band histogram
      // (q233's frame) an operator reads before choosing the
      // corpus_release_lm / --lm-min-score cutoff
      "lm_calibration" -> (Seq("docs"),
        (_, in) => graft.llmops.LanguageModel.scoreBands(in("docs"),
          in("docs").filter(col("lang") === "en"), "doc_id", "text",
          "lang")),
      // dedup pre-flight: LSH recall S-curve + candidate-graph
      // transitivity + SimHash Hamming calibration in one report
      // (graft.llmops.DedupAudit — run per corpus release on a sample)
      "dedup_audit" -> (Seq("docs"),
        (_, in) => graft.llmops.DedupAudit.report(
          in("docs"), "doc_id", "text")),
      // eval-suite contamination curve (q277): overlap fraction vs
      // shingle width, eval slice pinned to the corpus convention
      "contamination_report" -> (Seq("docs"),
        (_, in) => graft.llmops.TextOps.contaminationCurve(
          in("docs").filter(col("source") =!= "src0"),
          in("docs").filter(col("source") === "src0"),
          "doc_id", "text")),
      "popularity_4streams" -> (
        Seq("cmssw", "aaa", "eos", "jm", "files", "blocks", "datasets",
          "phedex"),
        (_, in) => PopularityJobs.popularity(
          in("cmssw"),
          in("aaa").select(org.apache.spark.sql.functions.col("data.*")),
          IO.eosFromRaw(in("eos")),
          in("jm"),
          PopularityJobs.fileBlockSite(in("files"), in("blocks"),
            in("datasets"), in("phedex")),
          timestamp = 0L)))

  /** Lake-maintenance registry: side-effecting utilities (compaction,
    * deterministic shard export) that consume raw option values (paths
    * and sizes, not pre-read inputs). Each returns a small SUMMARY
    * DataFrame for the `--out` sink, so a maintenance run leaves the
    * same auditable artifact a query job does. */
  val lakeJobs
      : Map[String, (SparkSession, Map[String, String]) => DataFrame] =
    Map(
      // tokenizer encode pass: learn (or load) the wordpiece vocab,
      // optionally freeze it, and ship per-doc encode stats — or the
      // per-group fertility report with --group-col (q280/q283 as a
      // job; freeze once with --save-vocab, apply often with
      // --in-vocab, the lm_score_apply pattern)
      "wordpiece_encode" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for wordpiece_encode"))
        val docs = s.read.parquet(in)
        val id = o.getOrElse("id-col", "doc_id")
        val tc = o.getOrElse("text-col", "text")
        val voc = o.get("in-vocab").map(p => s.read.parquet(p))
          .getOrElse(graft.llmops.Tokenize.vocab(docs, tc,
            o.get("top-words").map(_.toInt).getOrElse(256),
            o.get("char-words").map(_.toInt).getOrElse(1000)))
        o.get("save-vocab").foreach(p =>
          voc.write.mode("overwrite").parquet(p))
        o.get("group-col") match {
          case Some(g) => graft.llmops.Tokenize
            .fertilityByGroup(docs, id, tc, g, voc)
          case None => graft.llmops.Tokenize
            .encodeStats(docs, id, tc, voc)
        }
      }),
      // TRUE-BPE encode pass (q284/q287 as a job): learn (or load) a
      // merge table, optionally freeze it, and ship per-doc encode
      // stats — or the per-group fertility report with --group-col.
      // The wordpiece_encode pattern with the merge-order encoder:
      // freeze once with --save-merges, apply often with --in-merges
      "bpe_encode" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for bpe_encode"))
        val docs = s.read.parquet(in)
        val id = o.getOrElse("id-col", "doc_id")
        val tc = o.getOrElse("text-col", "text")
        val merges = o.get("in-merges").map(p => s.read.parquet(p))
          .getOrElse(graft.llmops.TextOps.learnBpeMerges(docs, tc,
            o.get("merges").map(_.toInt).getOrElse(8)))
        o.get("save-merges").foreach(p =>
          merges.write.mode("overwrite").parquet(p))
        o.get("group-col") match {
          case Some(g) => graft.llmops.Tokenize
            .bpeFertilityByGroup(docs, id, tc, g, merges)
          case None => graft.llmops.Tokenize
            .bpeEncodeStats(docs, id, tc, merges)
        }
      }),
      // train the hashed quality gate (q290's trainer) and ship the
      // weight table: --label-col names a 0/1 column, or --label-lang
      // derives y = (lang-col == value) — the CCNet pattern of
      // training "looks like the reference corpus" on a language
      // marker. --save-weights persists the table for gate consumers
      // (corpus_release_export --clf-weights); the job frame is the
      // weight table itself plus a one-row training summary join key.
      "classifier_train" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for classifier_train"))
        val docs0 = s.read.parquet(in)
        val id = o.getOrElse("id-col", "doc_id")
        val tc = o.getOrElse("text-col", "text")
        val buckets = o.get("buckets").map(_.toInt).getOrElse(4096)
        val epochs = o.get("epochs").map(_.toInt).getOrElse(3)
        val lr = o.get("lr").map(_.toDouble).getOrElse(1.0)
        // --l2 turns on weight decay (w ← w(1−lr·λ) − lr·g), the
        // default defense against hash-collision overfit
        val l2 = o.get("l2").map(_.toDouble).getOrElse(0.0)
        val docs = o.get("label-col") match {
          case Some(lc) => docs0.withColumn("__y",
            col(lc).cast("double"))
          case None =>
            val langCol = o.getOrElse("lang-col", "lang")
            val ref = o.getOrElse("label-lang", "en")
            docs0.withColumn("__y",
              (col(langCol) === ref).cast("double"))
        }
        // --holdout-table additionally writes the q293 held-out
        // threshold-selection table (train on the deterministic
        // split's train side, score the unseen val side, one row per
        // candidate --clf-min-margin with pass rate + precision/
        // recall) next to the weights — the frame an operator reads
        // to pick the gate threshold from data the trainer never saw.
        // The table is a split-replica protocol estimate (its weights
        // are trained on the train side only; the shipped table `w`
        // sees all docs) — the standard pick-then-retrain discipline
        val w = graft.llmops.Classifier.trainHashedLogistic(
          docs, id, "__y", tc, buckets, epochs, lr, l2)
        o.get("holdout-table").foreach { p =>
          graft.llmops.Classifier.holdoutThresholdTable(
            docs, id, "__y", tc, buckets,
            gridSize = o.get("grid").map(_.toInt).getOrElse(8),
            epochs = epochs, lr = lr,
            trainPct = o.get("train-pct").map(_.toInt).getOrElse(80),
            valPct = o.get("val-pct").map(_.toInt).getOrElse(10),
            l2 = l2)
            .coalesce(1).write.mode("overwrite").parquet(p)
        }
        o.get("save-weights").foreach(p =>
          w.write.mode("overwrite").parquet(p))
        w
      }),
      // DP-noised release of per-class metadata counts (the q276/q285
      // geometric mechanism as the shippable job). --salt is REQUIRED
      // and must be secret + high-entropy: the noise is a
      // deterministic function of (class, salt), so a known salt lets
      // anyone recompute it and recover the true counts — a pinned
      // default here would void the guarantee for every caller. The
      // shipped frame carries ONLY (keys, suppressed, n_released);
      // n_true/noise are library-side audit columns (calibration
      // views call Privacy.dpNoisyCounts directly). --contributor-col
      // switches to the user-level form (contribution clamped to
      // --max-per-contributor rows; stated ε = m·ln 2).
      "dp_release" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for dp_release"))
        val salt = o.getOrElse("salt", sys.error(
          "--salt required for dp_release (no default: the DP " +
            "guarantee holds only if the release salt is secret " +
            "and high-entropy)"))
        val keys = o.getOrElse("key-cols", "lang,source")
          .split(",").toSeq
        val minRel = o.get("min-release").map(_.toLong).getOrElse(5L)
        val docs = s.read.parquet(in)
        val m = o.get("max-per-contributor").map(_.toInt).getOrElse(1)
        // --ledger enables release-budget accounting: refuse a salt
        // the ledger already records (unless --allow-reuse, which is
        // ε-ADDITIVE — see Privacy.ledgerGuard), then burn the salt
        // BEFORE computing the release (crash-safe in the
        // conservative direction). The recorded mechanism is the
        // EXACT tag the release folds into its noise key
        // (Privacy.mechanismTagOf — clip and m included), so a
        // ledger audit reconstructs per-form budgets without
        // guessing; ε likewise from the shared derivation
        // (1 row-level, m user counts, 2m user sums).
        o.get("ledger").foreach { ld =>
          graft.llmops.Privacy.ledgerBurn(s, ld, salt, keys,
            sumClip = o.get("sum-col").map(_ =>
              o.get("clip").map(_.toLong).getOrElse(128L)),
            maxPerContributor = o.get("contributor-col").map(_ => m),
            allowReuse = o.contains("allow-reuse"))
        }
        // --sum-col releases clipped per-class TOTALS (q288's
        // mechanism, --clip bounds one row's influence); otherwise
        // counts, with --contributor-col switching those to the
        // user-level q285 form
        o.get("sum-col") match {
          case Some(vc) =>
            val clip = o.get("clip").map(_.toLong).getOrElse(128L)
            val sums = o.get("contributor-col") match {
              case Some(c) => graft.llmops.Privacy.dpUserLevelSums(
                docs, keys, c, vc, clip, salt, m, minRel)
              case None => graft.llmops.Privacy.dpNoisySums(
                docs, keys, vc, clip, salt, minRel)
            }
            sums.select(keys.map(col) ++ Seq(col("suppressed"),
              col("sum_released")): _*)
          case None =>
            val full = o.get("contributor-col") match {
              case Some(c) => graft.llmops.Privacy.dpUserLevelCounts(
                docs, keys, c, salt, m, minRel)
              case None => graft.llmops.Privacy.dpNoisyCounts(
                docs, keys, salt, minRel)
            }
            full.select(keys.map(col) ++ Seq(col("suppressed"),
              col("n_released")): _*)
        }
      }),
      // the composed-ε budget view over a dp_release ledger: per
      // salt, how many releases and the SUM of their stated ε —
      // sequential composition, the budget an adversary holding all
      // the releases gets to spend
      "dp_ledger" -> ((s, o) => {
        val ld = o.getOrElse("ledger",
          sys.error("--ledger required for dp_ledger"))
        graft.llmops.Privacy.ledgerComposedView(s, ld)
      }),
      // rewrite a parquet store into ~target-bytes files (see
      // IO.compact for the exclusive-access contract)
      "compact_store" -> ((s, o) => {
        val store = o.getOrElse("in-store",
          sys.error("--in-store required for compact_store"))
        val target = o.get("target-bytes").map(_.toLong)
          .getOrElse(512L * 1024 * 1024)
        val n = IO.compact(s, store, target)
        import s.implicits._
        Seq((store, n)).toDF("store", "n_files")
      }),
      // export a curated corpus as N deterministic shards + manifest
      // full corpus release + export: run the CorpusRelease pipeline
      // (exact dedup -> waterfall -> span scrub) and ship the released
      // docs as deterministic shards; the summary artifact is the
      // per-source audit (same frame as the corpus_release query job)
      "corpus_release_export" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for corpus_release_export"))
        val dest = o.getOrElse("dest",
          sys.error("--dest required for corpus_release_export"))
        val n = o.get("shards").map(_.toInt).getOrElse(32)
        // --url-col runs URL-first dedup (TextOps.urlDedupFirst,
        // q286's canonicalization) BEFORE the content stages — the
        // web-pipeline ordering; the URL stage's own collapse audit
        // is q286's frame (urlCanonicalDedup), run separately
        val docs0 = s.read.parquet(in)
        val docsU = o.get("url-col") match {
          case Some(uc) => graft.llmops.TextOps.urlDedupFirst(
            docs0, o.getOrElse("id-col", "doc_id"), uc)
          case None => docs0
        }
        // trained-quality gate: --clf-weights (a classifier_train
        // weight table) + --clf-min-margin drop low-margin docs
        // BEFORE the content stages — the CCNet gate order, and the
        // cheapest stage (one broadcast + one hash agg), so it runs
        // first among the content gates
        val docs = (o.get("clf-weights"), o.get("clf-min-margin")) match {
          case (Some(wp), Some(mm)) =>
            val pass = graft.llmops.Classifier.marginWithWeights(
              docsU, "doc_id", "text", Nil, s.read.parquet(wp),
              o.get("clf-buckets").map(_.toInt).getOrElse(4096))
              .filter(col("margin") >= mm.toDouble)
              .select(col("doc_id"))
            docsU.join(pass, Seq("doc_id"), "left_semi")
          case _ => docsU
        }
        // one staged pass serves both outputs — released()+summary()
        // separately would run the three heaviest stages twice;
        // --lm-min-score switches in the LM-gated pipeline (the
        // cutoff comes from a q233-style calibration run)
        val (rel0, audit) = o.get("lm-min-score") match {
          case Some(ms) => graft.llmops.CorpusRelease
            .releaseAndAuditLm(docs, "doc_id", "text", "source",
              o.getOrElse("lang-col", "lang"),
              o.getOrElse("ref-lang", "en"), ms.toDouble)
          case None => graft.llmops.CorpusRelease
            .releaseAndAudit(docs, "doc_id", "text", "source")
        }
        val rel = rel0.select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text_deduped").as("text"),
          org.apache.spark.sql.functions.col("source"))
        graft.llmops.Sharding.writeSharded(s, rel, "doc_id", n, dest)
        audit
      }),
      "shard_export" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for shard_export"))
        val dest = o.getOrElse("dest",
          sys.error("--dest required for shard_export"))
        val n = o.get("shards").map(_.toInt).getOrElse(32)
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val df = s.read.parquet(in)
        graft.llmops.Sharding.writeSharded(s, df, idCol, n, dest)
        graft.llmops.Sharding.shardManifest(df, idCol, textCol, n)
      }),
      // render an aggregated result as the HTML + SVG reporting tail
      // (the reference's EOS-www pattern: table page + plot files)
      "report_export" -> ((s, o) => {
        val in = o.getOrElse("in-result",
          sys.error("--in-result required for report_export"))
        val dest = o.getOrElse("dest",
          sys.error("--dest required for report_export"))
        val title = o.getOrElse("title", "graft report")
        val df = s.read.parquet(in)
        graft.core.Reports.writeHtml(df, title, s"$dest/report.html")
        for (l <- o.get("bar-label"); v <- o.get("bar-value"))
          graft.core.Reports.writeBarChart(df, l, v, title,
            s"$dest/bar.svg")
        for (x <- o.get("line-x"); sr <- o.get("line-series");
            v <- o.get("line-value"))
          graft.core.Reports.writeLineChart(df, x, sr, v, title,
            s"$dest/line.svg")
        import s.implicits._
        Seq((in, dest, df.count())).toDF("result", "dest", "n_rows")
      }),
      // advance a phedex merge-state table by one day's snapshot (the
      // nightly incremental form of merge_phedex; state is parquet,
      // the day snapshot csv or parquet like the batch job's input)
      "merge_phedex_day" -> ((s, o) => {
        val statePath = o.getOrElse("in-state",
          sys.error("--in-state required for merge_phedex_day"))
        val dayPath = o.getOrElse("in-day",
          sys.error("--in-day required for merge_phedex_day"))
        val day =
          if (o.getOrElse("fmt", "parquet") == "csv")
            IO.csv(s, Schemas.phedexSummaryGid, Seq(dayPath))
          else s.read.parquet(dayPath)
        PhedexJobs.mergeDay(s.read.parquet(statePath), day)
      }),
      // delta between two dated snapshots of the same keyed table
      // (added/removed/changed rows out; see Incremental.snapshotDiff)
      "snapshot_diff" -> ((s, o) => {
        val inA = o.getOrElse("in-old",
          sys.error("--in-old required for snapshot_diff"))
        val inB = o.getOrElse("in-new",
          sys.error("--in-new required for snapshot_diff"))
        val keys = o.getOrElse("keys",
          sys.error("--keys required for snapshot_diff"))
          .split(",").toSeq
        val cmp = o.getOrElse("compare",
          sys.error("--compare required for snapshot_diff"))
          .split(",").toSeq
        graft.ops.Incremental.snapshotDiff(
          s.read.parquet(inA), s.read.parquet(inB), keys, cmp)
      }),
      // per-column row/null/distinct profile (release gate)
      "data_profile" -> ((s, o) => {
        val in = o.getOrElse("in-table",
          sys.error("--in-table required for data_profile"))
        val df = s.read.parquet(in)
        val cols = o.get("cols").map(_.split(",").toSeq)
          .getOrElse(df.columns.toSeq)
        graft.ops.Profile.profile(df, cols)
      }),
      // schema drift between two snapshots (metadata-only, parquet
      // footers; added/removed/retyped columns out)
      "schema_diff" -> ((s, o) => {
        val inA = o.getOrElse("in-old",
          sys.error("--in-old required for schema_diff"))
        val inB = o.getOrElse("in-new",
          sys.error("--in-new required for schema_diff"))
        graft.ops.Profile.schemaDiff(s, inA, inB)
      }),
      // referential-integrity audit: --rels name:childPath:childKey:
      // parentPath:parentKey[,...] → orphan counts per relationship
      "fk_audit" -> ((s, o) => {
        val rels = o.getOrElse("rels",
          sys.error("--rels required for fk_audit"))
          .split(",").toSeq.map { spec =>
            spec.split(":") match {
              case Array(name, cp, ck, pp, pk) =>
                (name, s.read.parquet(cp), ck, s.read.parquet(pp), pk)
              case _ => sys.error(
                s"bad --rels entry '$spec' (want name:childPath:" +
                  "childKey:parentPath:parentKey)")
            }
          }
        graft.ops.Profile.fkAudit(s, rels)
      }),
      // pre-shuffle skew diagnostic: top-N keys by row count with
      // exact share-of-total (decide salting/AQE BEFORE the job melts)
      "heavy_hitters" -> ((s, o) => {
        val in = o.getOrElse("in-table",
          sys.error("--in-table required for heavy_hitters"))
        val key = o.getOrElse("key",
          sys.error("--key required for heavy_hitters"))
        val topN = o.get("top").map(_.toInt).getOrElse(20)
        graft.ops.Skew.heavyHitters(s.read.parquet(in), key, topN)
      }),
      // benchmark decontamination: per-doc eval-shingle hit counts
      // over a training corpus; --bloom swaps the exact broadcast for
      // the sketch probe when the eval suite is too big to broadcast
      // (no false negatives either way — bloom only over-flags ≤ fpp)
      "decontaminate" -> ((s, o) => {
        val train = o.getOrElse("in-train",
          sys.error("--in-train required for decontaminate"))
        val eval = o.getOrElse("in-eval",
          sys.error("--in-eval required for decontaminate"))
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val (tDf, eDf) = (s.read.parquet(train), s.read.parquet(eval))
        if (o.contains("bloom"))
          graft.llmops.TextOps.bloomDecontaminate(tDf, eDf, idCol,
            textCol, o.get("fpp").map(_.toDouble).getOrElse(0.01))
        else
          graft.llmops.TextOps.decontaminate(tDf, eDf, idCol, textCol)
      }),
      // near-dup dedup report: cluster-size distribution of the
      // df-capped n-gram Jaccard candidate graph (the shrink-estimate
      // a curation run reads before committing to a keep-list)
      // freeze-once / score-often: apply a SAVED reference model
      // (LanguageModel.bigramModel output parquet + its vocabulary
      // size from a refVocabSize calibration run) to a corpus — the
      // production form of q232, with no reference scan per run;
      // --min-score optionally gates to admitted docs only
      "lm_score_apply" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for lm_score_apply"))
        val modelPath = o.getOrElse("in-model",
          sys.error("--in-model required for lm_score_apply"))
        val vocab = o.getOrElse("vocab-size",
          sys.error("--vocab-size required for lm_score_apply")).toLong
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val scored = graft.llmops.LanguageModel.lmScoreFrozen(
          s.read.parquet(in), s.read.parquet(modelPath), vocab,
          idCol, textCol)
        o.get("min-score") match {
          case Some(ms) => scored.filter(col("score") >= ms.toDouble)
          case None     => scored
        }
      }),
      "dedup_report" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for dedup_report"))
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val minJac = o.get("min-jac").map(_.toDouble).getOrElse(0.2)
        val docs = s.read.parquet(in)
        val pairs = graft.llmops.TextOps.ngramJaccardPairs(docs, idCol,
            textCol, minJac = minJac)
          .select(col("doc_a").as("da"), col("doc_b").as("db"))
        graft.llmops.DedupClusters
          .keepList(docs, idCol, pairs, "da", "db", maxIters = 100)
          .groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
          .groupBy(col("csize"))
          .agg(count(lit(1)).as("n_clusters"))
          .select(col("csize"), col("n_clusters"),
            (col("csize") * col("n_clusters")).as("n_docs"))
      }),
      // end-to-end ANN index: IVF k-means training + PQ encode +
      // index-artifact persist + ADC search of a deterministic query
      // sample + recall audit vs exact L2 — q62/q63/q64/q66/q161
      // composed into one invocation (graft.llmops.AnnIndex)
      "ann_index" -> ((s, o) => {
        val in = o.getOrElse("in-vectors",
          sys.error("--in-vectors required for ann_index"))
        val dest = o.getOrElse("dest",
          sys.error("--dest required for ann_index"))
        graft.llmops.AnnIndex.buildSearchReport(
          s.read.parquet(in),
          o.getOrElse("id-col", "vec_id"),
          o.getOrElse("vec-col", "embedding"),
          kCells = o.get("cells").map(_.toInt).getOrElse(8),
          iters = o.get("iters").map(_.toInt).getOrElse(3),
          m = o.get("pq-m").map(_.toInt).getOrElse(4),
          dim = o.get("dim").map(_.toInt).getOrElse(64),
          kNn = o.get("k").map(_.toInt).getOrElse(5),
          nQueries = o.get("queries").map(_.toInt).getOrElse(8),
          dest = dest)
      }),
      // end-to-end multimodal release: decode-once signatures, exact
      // content dedup, Hamming near-dup keep-lists and a per-modality
      // survivorship report — q265/q263/q267 (images) and q266/q268
      // (audio) composed into one invocation (llmops.MediaRelease)
      "media_release" -> ((s, o) => {
        val in = o.getOrElse("in-media",
          sys.error("--in-media required for media_release"))
        val dest = o.getOrElse("dest",
          sys.error("--dest required for media_release"))
        import s.implicits._
        graft.llmops.MediaRelease.release(
          s.read.parquet(in)
            .as[graft.llmops.Multimodal.MediaRecord],
          dest,
          maxHamming =
            o.get("max-hamming").map(_.toInt).getOrElse(4),
          window = o.get("window").map(_.toInt).getOrElse(4),
          keepBestResolution =
            o.get("keep-best-resolution").exists(_.toBoolean),
          videoFrameBytes = o.get("video-frame-bytes").map(_.toInt),
          minContainment =
            o.get("min-containment").map(_.toDouble).getOrElse(0.75))
      }),
      // end-to-end captioned-image release: paired exact dedup
      // (identical pixels AND caption bytes), caption-proposed /
      // dHash-verified near-dup pairs over exact survivors, paired
      // keep-list — q274/q275 composed into one invocation
      // (llmops.PairedRelease)
      "paired_release" -> ((s, o) => {
        val in = o.getOrElse("in-docs",
          sys.error("--in-docs required for paired_release"))
        val dest = o.getOrElse("dest",
          sys.error("--dest required for paired_release"))
        val docs = s.read.parquet(in)
        val (id, pay, tc, src) = (o.getOrElse("id-col", "doc_id"),
          o.getOrElse("payload-col", "payload"),
          o.getOrElse("text-col", "text"),
          o.getOrElse("source-col", "source"))
        val mj = o.get("min-jac").map(_.toDouble).getOrElse(0.2)
        val mh = o.get("max-hamming").map(_.toInt).getOrElse(4)
        // --modality audio/video switches the rail pair; the release
        // kernel is shared (PairedRelease.releaseRails), only the
        // signature kernel differs. Video's near hash packs MinHash
        // slots, so its verify is --min-shared-slots (aligned-slot
        // equality), not bit Hamming
        o.getOrElse("modality", "image") match {
          case "audio" => graft.llmops.PairedRelease
            .releaseAudioTranscript(docs, id, pay, tc, src, dest,
              maxHamming = mh, minJac = mj,
              window = o.get("window").map(_.toInt).getOrElse(4))
          case "video" => graft.llmops.PairedRelease
            .releaseVideoTranscript(docs, id, pay, tc, src, dest,
              minSharedSlots =
                o.get("min-shared-slots").map(_.toInt).getOrElse(1),
              minJac = mj,
              frameBytes =
                o.get("frame-bytes").map(_.toInt).getOrElse(8))
          case _ => graft.llmops.PairedRelease.release(
            docs, id, pay, tc, src, dest, maxHamming = mh,
            minJac = mj)
        }
      }),
      // offline compaction of a curated-corpus admission index
      // (Streams.compactAdmissionIndex): squash batch partitions
      // <= upto-batch into batch=-1; summary = remaining partition
      // count per index table the compactor compacted
      "compact_admission_index" -> ((s, o) => {
        val in = o.getOrElse("in-store",
          sys.error("--in-store required for compact_admission_index"))
        val upto = o.getOrElse("upto-batch",
          sys.error("--upto-batch required for compact_admission_index"))
          .toLong
        storePartitionSummary(s, in,
          graft.streaming.Streams.compactAdmissionIndex(s, in, upto))
      }),
      // offline compaction of a media admission store's index tables
      // (Streams.compactMediaStore) — same contract and summary
      "compact_media_store" -> ((s, o) => {
        val in = o.getOrElse("in-store",
          sys.error("--in-store required for compact_media_store"))
        val upto = o.getOrElse("upto-batch",
          sys.error("--upto-batch required for compact_media_store"))
          .toLong
        storePartitionSummary(s, in,
          graft.streaming.Streams.compactMediaStore(s, in, upto))
      }),
      // admission-store census — the operator's "what is this store"
      // command, across all store kinds (curated ±url ±clf, media
      // image/audio/video, paired image/audio/video-transcript):
      // reads the meta contract + the partition listing and reports,
      // per component dir, committed batches, compaction state
      // (batch=-1 present / a crashed swap pending), and row count.
      // Driver work is one bounded listing + one count per component
      // (≤ 7 dirs); no data-path collect.
      "store_census" -> ((s, o) => {
        val in = o.getOrElse("in-store",
          sys.error("--in-store required for store_census"))
        import s.implicits._
        def p(d: String) = new org.apache.hadoop.fs.Path(d)
        val fs = p(in).getFileSystem(s.sparkContext.hadoopConfiguration)
        require(fs.exists(p(s"$in/meta")),
          s"store_census: $in has no meta table — not an admission " +
            "store (every store kind pins its contract there)")
        val kind = graft.streaming.Streams.storeKind(s, in)
        val comps = fs.listStatus(p(in)).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filterNot(n => n == "meta" || n.contains("__compact_"))
          .sorted
        comps.toSeq.map { c =>
          val dir = s"$in/$c"
          val parts = graft.streaming.Streams.batchPartitions(fs, dir)
          val nRows =
            if (parts.nonEmpty) s.read.parquet(dir).count() else 0L
          (c, kind, parts.count(_ >= 0L), parts.contains(-1L),
            fs.exists(p(s"${dir}__compact_pending")), nRows)
        }.toDF("component", "kind", "n_batches", "compacted",
          "pending_swap", "n_rows")
      }),
      // union length of [start, end) intervals per key — overlaps
      // counted once (sweep line, Events.intervalCoverage)
      "interval_coverage" -> ((s, o) => {
        val in = o.getOrElse("in-table",
          sys.error("--in-table required for interval_coverage"))
        val key = o.getOrElse("key",
          sys.error("--key required for interval_coverage"))
        val startCol = o.getOrElse("start-col",
          sys.error("--start-col required for interval_coverage"))
        val endCol = o.getOrElse("end-col",
          sys.error("--end-col required for interval_coverage"))
        graft.ops.Events.intervalCoverage(s.read.parquet(in), key,
          startCol, endCol)
      }))

  /** Input-name → schema for the schematized readers (public so the
    * fleet integration spec can build a fixture lake for every
    * registered input). */
  val inputSchemas: Map[String, StructType] = Map(
    "datasets" -> Schemas.dbsDatasets, "files" -> Schemas.dbsFiles,
    "blocks" -> Schemas.dbsBlocks, "replicas" -> Schemas.rucioReplicas,
    "dids" -> Schemas.rucioDids, "contents" -> Schemas.rucioContents,
    "rses" -> Schemas.rucioRses, "condor" -> Schemas.condorEnvelope,
    "file_lumis" -> Schemas.dbsFileLumis, "cmssw" -> Schemas.cmssw,
    "jm" -> Schemas.jobMonitoring, "phedex" -> Schemas.phedex,
    "aaa" -> Schemas.aaaEnvelope, "eos" -> Schemas.eosEnvelope,
    "condor_hs06" -> Schemas.condorHs06Envelope,
    "condor_kev" -> Schemas.condorDbsEnvelope,
    "condor_hpc" -> Schemas.condorHpcEnvelope,
    "fwjr" -> Schemas.wmarchiveEnvelope,
    "phedex_summary" -> Schemas.phedexSummaryGid,
    "access_types" -> Schemas.dbsAccessTypes,
    "acq_eras" -> Schemas.dbsAcquisitionEras,
    "proc_eras" -> Schemas.dbsProcessingEras,
    "mod_configs" -> Schemas.dbsModConfigs,
    "out_configs" -> Schemas.dbsOutConfigs,
    "rel_versions" -> Schemas.dbsRelVersions)

  /** Remaining `batch=<id>` partition count per index table of a
    * batch-partitioned store — the compactor jobs' summary frame
    * (after a compaction up to the stream head this is 1 per table:
    * the squashed batch=-1). */
  private def storePartitionSummary(s: SparkSession, storeDir: String,
      tables: Seq[String]): DataFrame = {
    import s.implicits._
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    tables.map { t =>
      (t, graft.streaming.Streams.batchPartitions(fs, s"$storeDir/$t")
        .size.toLong)
    }.toDF("index_table", "n_partitions")
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val allNames = (jobs.keys ++ lakeJobs.keys).toSeq.sorted
    val job = opts.getOrElse("job",
      sys.error(s"--job required; one of $allNames"))
    val fmt = opts.getOrElse("fmt", "parquet")
    val out = opts.getOrElse("out", sys.error("--out required"))
    val spark = opts.get("master")
      .map(m => Sessions.builder(m, 32).appName(s"graft-$job").getOrCreate())
      .getOrElse(Sessions.local(appName = s"graft-$job"))
    try {
      val result = lakeJobs.get(job) match {
        case Some(lake) => lake(spark, opts)
        case None =>
          val (required, pipeline) = jobs.getOrElse(job,
            sys.error(s"unknown job $job; one of $allNames"))
          val inputs: Inputs = required.map { name =>
            val path = opts.getOrElse(s"in-$name",
              sys.error(s"--in-$name required for $job"))
            val df = (fmt, inputSchemas.get(name)) match {
              case ("csv", Some(sc)) => IO.csv(spark, sc, Seq(path))
              case ("json", Some(sc)) => IO.json(spark, sc, Seq(path))
              case ("avro", _) => IO.avro(spark, Seq(path))
              case _ => IO.parquet(spark, Seq(path))
            }
            name -> df
          }.toMap
          pipeline(spark, inputs)
      }
      if (opts.getOrElse("out-fmt", "csv") == "parquet")
        result.write.mode("overwrite").parquet(out)
      else IO.writeCsv(result, out)
    } finally spark.stop()
  }
}
