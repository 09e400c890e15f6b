package graft

import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.streaming.Streams

/** Per-batch admission cost as the curated corpus store grows — the
  * measurement behind the r9 SCALE.md note. Drives a synthetic batch
  * sequence through the indexed store (persistent
  * fingerprint/postings/df admission index), printing one line per
  * batch with its wall time and the index bytes it read. The expected
  * shape: flat at the per-batch cost as the store grows.
  *
  * A second store runs the same sequence with the r12 URL rail on
  * (synthetic URL stream, ~10% recrawl decorations) — expected flat
  * too: the rail is one hash aggregation + two semi-joins per batch.
  *
  * Usage: runMain graft.ScaleAdmission [nBatches] [docsPerBatch]
  *   [tokensPerDoc] [outDir]
  */
object ScaleAdmission {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 8
    val perBatch = if (args.length > 1) args(1).toInt else 2000
    val docLen = if (args.length > 2) args(2).toInt else 60
    // absolute paths only — a relative dir would land store parquet
    // inside the repo working tree
    val dir =
      if (args.length > 3 && args(3).startsWith("/")) args(3)
      else java.nio.file.Files
        .createTempDirectory("graft-scale-admission").toString
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic corpus: ~60-token docs over a shared vocabulary,
    // 10% exact dups and 10% near-dups of earlier docs so every gate
    // does real work; seeds fixed so runs are comparable
    val rnd = new java.util.Random(42)
    def doc(): String =
      (1 to docLen - 5 + rnd.nextInt(10))
        .map(_ => s"w${rnd.nextInt(50000)}").mkString(" ")
    var id = 0L
    val produced = scala.collection.mutable.ArrayBuffer.empty[String]
    val producedUrls =
      scala.collection.mutable.ArrayBuffer.empty[String]
    val batches = (0 until nBatches).map { _ =>
      (0 until perBatch).map { _ =>
        id += 1
        val r = rnd.nextInt(10)
        val text =
          if (r < 1 && produced.nonEmpty)
            produced(rnd.nextInt(produced.size))
          else if (r < 2 && produced.nonEmpty) {
            val base = produced(rnd.nextInt(produced.size)).split(" ")
            (base.dropRight(1) :+ s"w${rnd.nextInt(50000)}")
              .mkString(" ")
          } else { val t = doc(); produced += t; t }
        // URL stream: ~10% recrawl decorations of an earlier page
        // (exercising the rail's store probe), the rest fresh pages
        val url =
          if (r < 1 && producedUrls.nonEmpty)
            "https://www." + producedUrls(
              rnd.nextInt(producedUrls.size)) + "?utm_s=" + id
          else {
            val u = s"h${id % 500}.org/d$id"
            producedUrls += u
            "http://" + u
          }
        (id, text, url)
      }
    }
    val ref = (1 to 200).map(i => (900000L + i, doc()))
      .toDF("id", "body")
    val model = graft.llmops.LanguageModel
      .bigramModel(ref, "id", "body").cache()
    model.count()
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "body")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // per-batch INPUT bytes the store must read back: the
    // fingerprint/df/postings index, never the corpus text
    def dirBytes(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }
    println("batch,indexed_sec,indexed_url_sec,store_docs," +
      "indexed_read_mb")
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("id", "body", "url").cache()
      df.count() // exclude input materialization from the clocks
      // store bytes that THIS batch's admission pass must scan
      // (measured before the commit appends the batch)
      val indexedRead = dirBytes(s"$dir/indexed/fps") +
        dirBytes(s"$dir/indexed/dfs") +
        dirBytes(s"$dir/indexed/postings")
      val tIndexed = timed {
        Streams.curatedCommitIndexed(df.select("id", "body"), i.toLong,
          "id", "body", model, v, minScore = 0.0, s"$dir/indexed",
          minJac = 0.5, maxDf = 1000)
      }
      // URL-rail store: same sequence + the canonical-URL gate (one
      // extra hash agg + two semi-joins per batch; expected flat)
      val tUrl = timed {
        Streams.curatedCommitIndexed(df, i.toLong, "id", "body",
          model, v, minScore = 0.0, s"$dir/indexed_url",
          minJac = 0.5, maxDf = 1000, urlCol = Some("url"))
      }
      val stored = Streams.curatedDocs(spark, s"$dir/indexed").count()
      println(f"$i,$tIndexed%.2f,$tUrl%.2f,$stored," +
        f"${indexedRead / 1e6}%.1f")
      df.unpersist()
    }
    spark.stop()
  }
}
