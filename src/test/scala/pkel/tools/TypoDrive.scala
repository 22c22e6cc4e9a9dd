package pkel.tools

import org.apache.spark.sql.functions._
import pkel.ontology.Ontology
import pkel.transcript.TranscriptSynth

object TypoDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session("8")
    val entries = Ontology.load()
    val seed = 42L
    val transcripts = TranscriptSynth.generate(spark, entries, 400, seed = seed)
    val mentions = pkel.app.Pipeline.extractMentions(transcripts)
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val preds = pkel.link.Cascade.run(spark, keyed, entries).predictions
    val j = preds.join(keyed.select("mention_id", "mention"), "mention_id")
      .join(TranscriptSynth.goldLabels(mentions, entries, seed), "mention_id")
    println("== wrong or unlinked vs gold (gold != Q100) ==")
    j.filter(col("gold") =!= "Q100" && col("y_pred") =!= col("gold"))
      .groupBy("gold", "y_pred", "tier", "status", "mention").count()
      .orderBy(desc("count")).collect().take(40).foreach(r => println(r))
    spark.stop()
  }
}
