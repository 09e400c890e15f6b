package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** The benchmark's JVM: one workload, one fresh process.
  *
  * Set-up (session plus the workload's inputs bound), a cold pass, then
  * measured passes until `--seconds` have gone by and at least the
  * workload's `minMeasured` passes ran. The warm-up is the cold pass alone, not
  * "until two passes agree": in a fresh JVM pass times keep falling for
  * tens of seconds while the JIT compiles, two passes in a row often agree
  * on the way down, and a run-dependent pass count puts each run's
  * measurement at a different point of that curve.
  * Leftover persisted blocks are dropped and a full GC runs between
  * passes, outside every clock. Writes one JSON record to `--result`.
  *
  * {{{
  * java ... perfbench.Main --workload sql_queries --seconds 10 --trace 0 \
  *   --cores 4 --work <dir> --result <file> \
  *   --sf <corpus dir> --items q01,q02
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (o("workload") == "oracle_sql") {
      val sql = graft.SparkEntry.oracleSql
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o("result")),
        Json(o("items").split(",").map(q => q -> sql.get(q).orNull).toMap))
      return
    }
    val seconds = o("seconds").toDouble
    val cores = o("cores").toInt
    val work = o("work")
    val spark: SparkSession = Sessions
      .builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark, o("trace") == "1")
    val out = s"$work/out"
    val wl: Workload = o("workload") match {
      case "sql_queries" | "iterative_queries" =>
        new QueryWorkload(spark, o("sf"), out, o("items").split(",").toSeq)
      case "lake_jobs" => new LakeWorkload(spark, o("lake"), out)
      case "stream_admit" => new StreamWorkload(spark, o("stream"), out)
      case w => sys.error(s"unknown workload $w")
    }
    wl.setup()
    // from the JVM's own start: the launching script's time stays out
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def dropLeakedBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    var n = 0
    def runPass(): (Seq[ItemResult], Option[Double]) = {
      if (n > 0) { dropLeakedBlocks(); System.gc() }
      val r = tr.span("pass", s"pass-$n", n)(wl.pass(n, tr))
      System.err.println(f"[perfbench] pass $n%d: ${tr.lastClosed.seconds}%.3f s")
      n += 1
      r
    }
    val cold = runPass()
    val firstMeasured = n
    val measured = {
      val t0 = System.nanoTime()
      var ps = Vector.empty[(Seq[ItemResult], Option[Double])]
      while (ps.size < wl.minMeasured || (System.nanoTime() - t0) / 1e9 < seconds)
        ps :+= runPass()
      ps
    }
    tr.drain()

    val mItems = measured.flatMap(_._1)
    val failures = mItems.filter(_.failed.nonEmpty)
    val perItem = mItems.filter(r => r.failed.isEmpty && r.latency)
      .groupBy(_.name)
      .map { case (k, rs) => k -> rs.map(_.seconds) }
    val passTimes = measured.flatMap(_._2)

    // retained heap: the last pass's leftovers stay; only garbage goes.
    // The pauses let the ContextCleaner drop the blocks of broadcasts and
    // shuffles that the first collection found unreachable.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0

    val record = Map(
      "workload" -> o("workload"),
      "cores" -> cores,
      "trace" -> tr.traced,
      "attempted" -> mItems.size,
      "failed" -> failures.size,
      "failures" -> failures.map(f => Map("item" -> f.name,
        "class" -> f.failed.get)),
      "passes" -> Map("cold" -> cold._2, "measured" -> measured.map(_._2)),
      "items" -> perItem,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "cold_pass_s" -> cold._2,
        "warm_pass_s" -> Stats.median(passTimes),
        "item_p50_s" -> Stats.median(perItem.values.flatMap(Stats.median).toSeq),
        "retained_heap_mb" -> heapMb),
      "per_layer" -> (if (tr.traced)
        Layers.perLayer(tr, firstMeasured until n, cores, wl) else Map()))
    if (tr.traced) tr.writeTo(s"$work/trace.jsonl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("result")),
      Json(record))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val m = s.size / 2
      Some(if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2)
    }
}

/** Per-layer metrics: each is summed over one measured pass, and the
  * median over the measured passes is reported (jvm.* are read once, at
  * the end of the run). */
object Layers {
  def perLayer(tr: Tracer, passes: Range, cores: Int,
      wl: Workload): Map[String, Double] = {
    val a = tr.attributed
    val perPass: Seq[Map[String, Double]] = passes.map { p =>
      val root = tr.spans.find(s => s.kind == "pass" && s.pass == p).get
      val all = tr.subtree(root.id)
      def of(kinds: String*) = all.filter(s => kinds.contains(s.kind))
      def secs(kinds: String*) = of(kinds: _*).map(_.seconds).sum
      def jobs(ss: Seq[Span]) = ss.flatMap(s => a.jobs.getOrElse(s.id, Nil))
      def stages(ss: Seq[Span]) =
        ss.flatMap(s => a.stages.getOrElse(s.id, Nil))
      val st = stages(all)
      val actionKinds = Seq("action", "write", "batch", "compact")
      val actionRunS = stages(of(actionKinds: _*)).map(_.runMs).sum / 1e3
      val pl = all.flatMap(s => a.plans.getOrElse(s.id, Nil))
      val batches = of("batch").map(_.seconds)
      val mb = 1048576.0
      Map(
        "queries.build_s" -> secs("build"),
        "queries.build_jobs" -> jobs(of("build")).size.toDouble,
        "queries.action_s" -> secs("action"),
        "catalyst.analysis_ms" -> pl.map(_.analysisMs).sum.toDouble,
        "catalyst.optimization_ms" -> pl.map(_.optimizationMs).sum.toDouble,
        "catalyst.planning_ms" -> pl.map(_.planningMs).sum.toDouble,
        "exec.jobs" -> jobs(all).size.toDouble,
        "exec.stages" -> st.size.toDouble,
        "exec.tasks" -> st.map(_.tasks).sum.toDouble,
        "exec.idle_core_s" -> (cores * secs(actionKinds: _*) - actionRunS),
        "exec.task_run_s" -> st.map(_.runMs).sum / 1e3,
        "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "exec.task_gc_s" -> st.map(_.gcMs).sum / 1e3,
        "exec.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
        "exec.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
        "exec.spill_mb" -> st.map(_.spill).sum / mb,
        "jobs.read_s" -> secs("read"),
        "jobs.pipeline_build_s" -> secs("pipeline"),
        "jobs.pipeline_build_jobs" -> jobs(of("pipeline")).size.toDouble,
        "jobs.write_s" -> secs("write"),
        "core.input_mb" -> st.map(_.inBytes).sum / mb,
        "core.input_rows" -> st.map(_.inRows).sum.toDouble,
        "core.output_mb" -> st.map(_.outBytes).sum / mb,
        "core.output_rows" -> st.map(_.outRows).sum.toDouble,
        "streaming.batch_s" -> Stats.median(batches).getOrElse(0.0),
        "streaming.batch_jobs" -> (if (batches.isEmpty) 0.0
          else jobs(of("batch")).size.toDouble / batches.size),
        "streaming.last_batch_s" -> batches.lastOption.getOrElse(0.0),
        "streaming.compact_s" -> secs("compact")) ++ (wl match {
          case s: StreamWorkload => s.storeCensus(p)
          case _ => Map.empty[String, Double]
        })
    }
    val keys = perPass.head.keys
    val jvm = {
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
      val code = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.startsWith("CodeHeap") ||
          p.getName == "Code Cache")
        .map(_.getUsage.getUsed).sum
      Map("jvm.gc_s" -> gcMs / 1e3,
        "jvm.jit_s" -> ManagementFactory.getCompilationMXBean
          .getTotalCompilationTime / 1e3,
        "jvm.code_cache_mb" -> code / 1048576.0,
        "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean
          .getLoadedClassCount.toDouble)
    }
    val streamKeys = Seq("streaming.store_files", "streaming.store_mb",
      "streaming.admitted", "streaming.rejected")
    (keys ++ streamKeys).map(k => k ->
      Stats.median(perPass.flatMap(_.get(k))).getOrElse(0.0)).toMap ++ jvm
  }
}
