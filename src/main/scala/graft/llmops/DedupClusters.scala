package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn near-dup candidate PAIRS into
  * connected components and a canonical keep-list — the final stage of
  * the dedup pipeline (shingle/MinHash → candidate pairs → verify →
  * CLUSTER → keep one).
  *
  * Algorithm: iterative min-label propagation. Each node starts with
  * label = its own id; every round each node takes the min label among
  * itself and its neighbors. Rounds = O(diameter); near-dup clusters
  * are small and dense (diameter ≲ 4 in practice), and each round is
  * one shuffle join + one hash agg keyed by node — no driver-side
  * graph, scales to any pair count. A fixed-point check stops early.
  */
object DedupClusters {

  /** Connected components over an undirected pair list.
    * Input: (`aCol`, `bCol`) edge rows. Output: (doc, cluster) where
    * cluster = min node id of the component.
    *
    * `probeAfter`: convergence is only CHECKED from that round on —
    * every probe is a driver barrier (a scalar action), and near-dup
    * clusters converge in 2-4 rounds, so probing round 1 always pays a
    * barrier for a guaranteed "not converged". Correctness is
    * unaffected: propagation is monotone and idempotent, extra rounds
    * are no-ops. */
  /** `shortcut`: pointer jumping — each round additionally folds in
    * `label(label(u))` (one extra self-join of the label table per
    * round). Labels only ever move to smaller ids of the SAME
    * component (neighbor-min keeps them component-internal, and a
    * label's own label is too), so the fixpoint is unchanged; the
    * round count drops from O(diameter) to ~O(log diameter) — the
    * escape hatch for deep chain-shaped duplicate graphs (scraped
    * page series, incremental re-crawls) where near-dup banding's
    * star fallback cannot bound the diameter. Off by default: dedup
    * clusters are dense (diameter ≲ 4) and the extra join per round
    * costs more than it saves there. LlmOpsSpec pins a 64-node path
    * converging inside the default budget with shortcutting where
    * plain min-label (needing 63 rounds) is loudly split. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 10, probeAfter: Int = 2,
      shortcut: Boolean = false): DataFrame = {
    // pre-partition the (reused-every-round) edge list on the join key:
    // the cached plan keeps its outputPartitioning, so each round's join
    // only shuffles the labels side — at corpus scale the edge shuffle,
    // not the label shuffle, would dominate every round. Both edge
    // directions come from ONE scan of the pair relation (explode of a
    // two-struct array, not a self-union): the pair set is usually an
    // unbarriered verify pipeline, and a union would inline that whole
    // upstream twice into the first probe's job.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .repartition(col("dst"))
      .persist()
    var labels = edges.select(col("src").as("node"))
      .distinct()
      .withColumn("label", col("node"))
      .persist()
    // convergence witness = exact count of labels that changed this
    // round. (A sum-of-labels witness would be one scalar agg cheaper,
    // but a LongType sum wraps non-ANSI at billions of 60-bit ids and a
    // wrap collision could falsely signal convergence.)
    var converged = false
    var iter = 0
    val lineageEvery = if (shortcut) 3 else 6
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nmin"))
      // Lineage hygiene: every `lineageEvery`-th round is an EAGER
      // localCheckpoint instead of a persist — it materializes like
      // persist AND truncates lineage. Between checkpoints each round's
      // plan holds the previous round's labels more than once: ×2 per
      // round in plain mode (the left side of the join below, and
      // inside `neighborMin`), ×4 with `shortcut` (the pointer-jump
      // self-join reads `propagated`, itself ×2, twice). The rendered
      // plan therefore grows as fanIn^rounds. persist() does not bound
      // it: an InMemoryRelation prints its whole cached plan, so the
      // copies are still expanded whenever the plan is rendered — and
      // AQE renders it (QueryExecution.explainString) on every plan
      // update. At shortcut's ×4 a 6-round cadence is 4^6 = 4096
      // copies at the checkpoint, which OOMs the driver; a 3-round
      // cadence is 4^3 = 64, the same bound as plain mode's 2^6.
      // (GraphX applies the same checkpoint hygiene to its iterative
      // steps.) Checkpointing EVERY round costs a per-round job (~7×
      // on the bench); every 6th plain round is free for typical
      // diameter ≲ 4 corpora and amortized for deep ones, and
      // shortcut mode is only for deep graphs anyway.
      // Checkpoint rounds are restricted to probe rounds so the
      // probe's action materializes round r+1 before round r — whose
      // truncated lineage cannot recompute — is unpersisted.
      // (Dataset.unpersist is a no-op on checkpointed rounds — their
      // storage is RDD-level — so up to maxIters/lineageEvery label
      // snapshots can linger until the ContextCleaner GCs them; the
      // label table is nodes-with-edges sized, a small corpus
      // fraction, and the bound is explicit rather than hidden.)
      val propagated = labels
        .join(neighborMin, labels("node") === neighborMin("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"),
          (col("nmin") < col("label")).as("chg"))
      val nextPlan =
        if (!shortcut) propagated
        else {
          // pointer jump: label(u) ← min(label(u), label(label(u))).
          // The parent side re-reads `propagated` — both sides come
          // off the same about-to-be-materialized plan, and the join
          // is labels-sized on the label key.
          val parents = propagated
            .select(col("node").as("p_node"), col("label").as("p_label"))
          propagated
            .join(parents, col("label") === col("p_node"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("p_label"), col("label")))
                .as("label"),
              (col("chg") ||
                coalesce(col("p_label") < col("label"), lit(false)))
                .as("chg"))
        }
      // Reliable checkpoint under graft.checkpoint.reliable OR when
      // the session already has a checkpoint dir (fault-tolerant:
      // blocks survive executor loss — the right choice on a
      // preemptible 100 TB cluster); localCheckpoint otherwise
      // (executor-memory blocks only: an executor loss after a
      // checkpoint round makes the labels unrecomputable and fails
      // the job — acceptable in local mode, where there is exactly one
      // "executor" and its loss is the job's loss anyway).
      val next =
        if ((iter + 1) % lineageEvery == 0 && (iter + 1) >= probeAfter) {
          if (graft.core.Checkpoints.reliable(nextPlan))
            graft.core.Checkpoints.barrier(nextPlan, eager = true)
          else if (pairs.sparkSession.sparkContext.getCheckpointDir.isDefined)
            nextPlan.checkpoint(true)
          else nextPlan.localCheckpoint(true)
        } else nextPlan.persist()
      if (iter + 1 >= probeAfter) {
        val nChanged = next
          .agg(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)))
          .head().getLong(0)
        converged = nChanged == 0L
      }
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    // no silent caps: a component with diameter > maxIters would come
    // out split — loud, not wrong-and-quiet
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components: not converged after $maxIters rounds; " +
          "clusters with larger diameter are split — raise maxIters")
    labels.select(col("node").as("doc"), col("label").as("cluster"))
  }

  /** Keep-list: every doc in `all` (idCol) with duplicates resolved —
    * non-clustered docs survive, clustered docs survive only as the
    * cluster minimum. Returns (doc_id, is_kept, cluster). */
  def keepList(all: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, maxIters: Int = 10): DataFrame = {
    val comp = components(pairs, aCol, bCol, maxIters)
    all.select(col(idCol).as("doc"))
      .join(comp, Seq("doc"), "left")
      .select(
        col("doc").as("doc_id"),
        coalesce(col("cluster"), col("doc")).as("cluster"),
        (col("cluster").isNull || col("cluster") === col("doc"))
          .as("is_kept"))
  }

  /** Leakage-safe train/val/test split: assign WHOLE near-duplicate
    * clusters to a split, so no pair of near-dups ever straddles
    * train and test — the contamination mode a plain per-doc hash
    * split ([[Mixture.trainSplit]]) cannot prevent (a doc and its
    * 0.9-Jaccard twin hash independently and land on opposite sides,
    * leaking training text into eval ~2·p·(1−p) of the time). The
    * split key is the CLUSTER label (component minimum), hashed with
    * `Mixture.trainSplit`'s exact bucket arithmetic — singleton docs
    * key on themselves, so a dup-free corpus degrades to the per-doc
    * split bit-for-bit. Returns (doc_id, cluster, is_kept, split):
    * the keep-list columns ride along because a release usually wants
    * both decisions ("train on kept docs; all twins of an eval doc
    * are quarantined with it regardless"). */
  def clusterSafeSplit(all: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, trainPct: Int = 80, valPct: Int = 10,
      salt: String = ":split", maxIters: Int = 10): DataFrame = {
    val bucket = TextOps.hash60(
      concat(col("cluster").cast("string"), lit(salt))) % 100
    keepList(all, idCol, pairs, aCol, bCol, maxIters)
      .withColumn("split",
        when(bucket < trainPct, lit("train"))
          .when(bucket < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Quality-aware keep-list: per duplicate cluster, survive the
    * member with the HIGHEST `priorityCol` (ties broken by lowest id)
    * instead of the lowest id — what a curation pipeline actually
    * wants (keep the best-quality duplicate, drop the rest). One rank
    * window per cluster after the components join. */
  def keepListBy(all: DataFrame, idCol: String, priorityCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 10): DataFrame = {
    val comp = components(pairs, aCol, bCol, maxIters)
    val joined = all
      .select(col(idCol).as("doc"), col(priorityCol).as("prio"))
      .join(comp, Seq("doc"), "left")
      .select(col("doc"), col("prio"),
        coalesce(col("cluster"), col("doc")).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("prio").desc, col("doc"))
    joined
      .select(col("doc").as("doc_id"), col("cluster"),
        (org.apache.spark.sql.functions.row_number().over(w) === 1)
          .as("is_kept"))
  }
}
