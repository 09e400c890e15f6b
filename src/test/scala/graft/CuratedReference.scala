package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llmops.{LanguageModel, TextOps}

/** The recomputed-admission reference for the curated corpus store
  * (`Streams.curatedCommitIndexed`): per batch, the within-batch
  * min-id keeper per text fingerprint, `TextOps.incrementalAdmissions`
  * against every doc admitted so far, then the frozen-model LM gate
  * (`LanguageModel.lmScoreFrozen`, keep `score >= minScore`). The
  * admitted corpus is held in memory between batches, so nothing here
  * shares the store's index code. Returns the admitted (id, text)
  * pairs; batches carry (`idCol` long, `textCol` string). */
object CuratedReference {
  def admit(batches: Seq[DataFrame], idCol: String, textCol: String,
      model: DataFrame, vocabSize: Long, minScore: Double,
      minJac: Double, maxDf: Int): Set[(Long, String)] =
    batches.foldLeft(Set.empty[(Long, String)]) { (base, batch0) =>
      val s = batch0.sparkSession
      import s.implicits._
      val keep = batch0
        .groupBy(md5(col(textCol)).as("__fp"))
        .agg(min(col(idCol)).as(idCol))
        .select(col(idCol))
      val batch = batch0.join(keep, Seq(idCol), "left_semi")
        .select(col(idCol), col(textCol))
      val admitted = TextOps
        .incrementalAdmissions(base.toSeq.toDF(idCol, textCol), batch,
          idCol, textCol, minJac, maxDf)
        .filter(col("is_admitted"))
        .select(col("doc_id").as(idCol))
      val passing = LanguageModel
        .lmScoreFrozen(batch.join(admitted, Seq(idCol), "left_semi"),
          model, vocabSize, idCol, textCol)
        .filter(col("score") >= minScore).select(col(idCol))
      base ++ batch.join(passing, Seq(idCol), "left_semi")
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }
}
