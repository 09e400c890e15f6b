package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard configuration.
  *
  * Mirrors the session conventions of the reference's `get_spark_session`
  * (spark_utils.py:791-795) plus the settings its jobs set ad-hoc:
  * UTC session timezone (hpc_running_cores_and_corehr.py:623), dynamic
  * partition overwrite (dbs_hdfs_eos.py:58-61). Sized for local[N] testing
  * but every knob here is what we'd ship to a 1000-executor cluster:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * shuffle partitions matched to parallelism rather than the 200 default.
  */
object Sessions {

  /** Standard builder; caller picks master/parallelism. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // The driver-generated events table stores TIMESTAMP(NANOS) which
      // Spark's parquet reader rejects by default; read them as Long nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.filterPushdown", "true")
      // r14 join-strategy knobs (guide §3.1): allow the planner and
      // AQE to pick a shuffled hash join over sort-merge when the
      // per-partition build side fits — SHJ skips both sort passes.
      // Two distinct paths pick SHJ under preferSortMergeJoin=false:
      //   (a) AQE's SMJ->SHJ rewrite, gated by the LocalMapThreshold
      //       below on MEASURED post-shuffle partition sizes — runtime
      //       bounded and safe at any scale;
      //   (b) the static planner's canBuildLocalHashMapBySize check,
      //       which uses catalog/stats ESTIMATES and has NO runtime
      //       bound — SHJ's build-side map does not spill, so a badly
      //       misestimated build side can OOM an executor. On
      //       stats-poor inputs at cluster scale, set
      //       GRAFT_PREFER_SORT_MERGE=true (restores SMJ preference;
      //       AQE path (a) still converts where measured sizes allow).
      // Path (a)'s 64 MB threshold is fixed: it is the value the r14
      // full-suite A/B kept (OPTIMIZATION_r14.md §2b).
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("GRAFT_PREFER_SORT_MERGE", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")
      // AQE partition coalescing stays at Spark's defaults
      // (parallelismFirst=true, 64 MB advisory size): the size-based
      // variant was full-suite A/B-tested in r14 and REJECTED — it
      // collapses the CPU-dense pair-verify stages to too few tasks
      // (q164 +3 s); see OPTIMIZATION_r14.md §2a.
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Local session; `GRAFT_SHUFFLE_PARTITIONS` overrides the
    * shuffle-partition count (default = cores) for scale experiments —
    * on a real cluster this is the knob that grows with data volume
    * (SCALE.md measures q162's sf1 sensitivity to it). */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val sp = sys.env.get("GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cores)
    val s = builder(s"local[$cores]", sp).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ensure configs + engine functions the queries depend on are
    * present on an externally-created session (e.g. the verification
    * driver's, where spark.sql.extensions wasn't set at build time). */
  def ensureQueryConfs(spark: SparkSession): SparkSession = {
    def trySet(k: String, v: String): Unit =
      try spark.conf.set(k, v)
      catch { case _: Throwable => () }
    trySet("spark.sql.legacy.parquet.nanosAsLong", "true")
    trySet("spark.sql.session.timeZone", "UTC")
    graft.functions.GraftExtensions.functions.foreach {
      case (name, _, builder) =>
        if (!spark.catalog.functionExists(name))
          spark.sessionState.functionRegistry
            .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.functions.LevenshteinThreshold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.functions.LevenshteinThreshold
    spark
  }
}
