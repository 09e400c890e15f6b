package graft

import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.llmops.Multimodal
import graft.streaming.Streams

/** Per-batch admission cost as a MEDIA store grows — the measurement
  * behind SCALE.md's "per-batch cost is batch-proportional, corpus
  * payloads are never re-read" claim for the media admission stores
  * (image/audio/video/captioned share the read discipline; the audio
  * kernel is driven here as the cheapest fixture). Drives a fixed
  * batch shape (fresh clips + exact re-deliveries + gain-jittered
  * near-dups of EARLIER batches, so both rails probe a growing store)
  * and prints one line per batch; then compacts the index and times
  * one more batch. Expected shape: per-batch wall flat (the store
  * only ever contributes 8-byte index rows to the probes), with the
  * partition-listing overhead reclaimed by compaction.
  *
  * A fourth arg `paired` drives the r13 audio-TRANSCRIPT paired
  * store instead (`Streams.audioTranscriptCommit` — the
  * `pairedCommit` kernel): fresh clips carry fresh transcripts,
  * exact re-deliveries carry the identical transcript (paired-exact
  * rail), gain near-dups carry a paraphrase (near rail = envelope
  * bands verified by transcript Jaccard), so all three rails probe
  * the growing fps/bands/postings indexes.
  *
  * Usage: runMain graft.ScaleMediaAdmission [nBatches] [perBatch]
  *   [outDir] [paired]
  */
object ScaleMediaAdmission {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 16
    val perBatch = if (args.length > 1) args(1).toInt else 500
    // an output dir must be an absolute path — a relative (or
    // shell-quoting-artifact like the literal two chars "''") dir
    // would land store parquet inside the repo working tree
    val dir =
      if (args.length > 2 && args(2).startsWith("/") &&
          args(2) != "paired")
        args(2)
      else java.nio.file.Files
        .createTempDirectory("graft-scale-media").toString
    val paired = args.contains("paired")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val store = s"$dir/store"

    def wav(pid: Long, jit: Int): Array[Byte] =
      Multimodal.encodeWav(Array.tabulate(256)(t =>
        math.min(Multimodal.synthSample(pid, t) + jit, 255)))
    // deterministic 12-token transcript per pool; `para` swaps the
    // last tokens — above the near rail's default minJac
    def transcript(pid: Long, para: Boolean): String =
      ((0 until 10).map(j => s"w${(pid * 31 + j * 7) % 997}") ++
        (if (para) Seq("alt", "tail") else Seq("std", "end")))
        .mkString(" ")
    var id = 0L
    def batch(i: Int): Seq[(Long, Array[Byte], String, String)] =
      (0 until perBatch).map { k =>
        id += 1
        val r = k % 10
        // 80% fresh pools, 10% exact re-delivery of an earlier pool,
        // 10% near-dup (+2 gain) of an earlier pool — earlier pools
        // exist from batch 1 on, so the rails probe the STORE
        val fresh = r < 8 || i == 0
        val pid =
          if (fresh) id // fresh (pool == unique id)
          else (id % (i.toLong * perBatch)) + 1L // earlier pool
        val near = r == 9 && i > 0
        (id, wav(pid, if (near) 2 else 0),
          transcript(pid, para = near), "s")
      }

    def commit(i: Long, rows: Seq[(Long, Array[Byte], String, String)])
        : Unit =
      if (paired)
        Streams.audioTranscriptCommit(
          rows.toDF("id", "payload", "transcript", "src"), i,
          "id", "payload", "transcript", "src", store, 4, 0.2,
          window = 4)
      else
        Streams.audioCommit(
          rows.map(r => (r._1, r._2, r._4))
            .toDF("id", "payload", "src"), i,
          "id", "payload", "src", store, 4, window = 4)

    val tag = if (paired) "scalemedia-paired" else "scalemedia"
    (0 until nBatches).foreach { i =>
      val rows = batch(i)
      val t0 = System.nanoTime()
      commit(i.toLong, rows)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[$tag] batch $i%2d: $secs%.2f s " +
        f"(store batches: ${i + 1})")
    }
    val tC0 = System.nanoTime()
    Streams.compactMediaStore(spark, store, uptoBatch = nBatches - 1L)
    println(f"[$tag] compact: ${(System.nanoTime() - tC0) / 1e9}%.2f s")
    val rows = batch(nBatches)
    val t0 = System.nanoTime()
    commit(nBatches.toLong, rows)
    println(f"[$tag] batch $nBatches%2d (post-compaction): " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    val n = Streams.curatedDocs(spark, store).count()
    println(s"[$tag] admitted $n of ${id}")
    spark.stop()
  }
}
