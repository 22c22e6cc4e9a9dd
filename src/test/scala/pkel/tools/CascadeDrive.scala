package pkel.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import pkel.io.MentionReader
import pkel.link.{Cascade, ExactLinker}
import pkel.ontology.Ontology

/** Error analysis driver: per-blocking-key disagreement dump.
  * sbt "Test/runMain pkel.tools.CascadeDrive [sentences|tables]" */
object CascadeDrive {
  def main(args: Array[String]): Unit = {
    val modality = args.headOption.getOrElse("sentences")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val path = {
      // under sbt bg-jobs the resource lives in a jar — extract to temp file
      val in = getClass.getResourceAsStream(s"/pkel/data/$modality/test.jsonl")
      val tmp = java.nio.file.Files.createTempFile(s"pkel_${modality}_", ".jsonl")
      java.nio.file.Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close(); tmp.toFile.deleteOnExit()
      tmp.toString
    }
    val mentions = ExactLinker.withBlockingKey(
      MentionReader.readJsonl(spark, path, isTable = modality == "tables"))
    val entries = Ontology.load()
    val preds = Cascade.run(spark, mentions, entries).predictions.cache()
    val joined = preds.join(mentions.select("mention_id", "mention"), "mention_id")
    // keys with >1 distinct (gold,pred) combination and >1 mention
    val multi = joined.groupBy("blocking_key")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("label"), col("y_pred")).as("combos"),
        collect_list(struct(col("label"), col("y_pred"), col("tier"), col("status"), col("mention"))).as("rows"))
      .filter(col("n") > 1 && col("combos") > 1)
      .orderBy(desc("n"))
    multi.collect().foreach { r =>
      println(s"KEY='${r.getString(0)}' n=${r.getLong(1)}")
      r.getSeq[org.apache.spark.sql.Row](3).groupBy(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3)))
        .foreach { case ((g, p, t, s), rows) =>
          println(f"   gold=$g%-5s pred=$p%-5s tier=$t%-9s status=$s%-13s x${rows.size} e.g. '${rows.head.getString(4)}'")
        }
    }
    // also: wrong single predictions vs gold (micro errors)
    println("== per-label errors ==")
    joined.filter(col("label") =!= col("y_pred"))
      .groupBy("label", "y_pred", "tier", "status").count().orderBy(desc("count"))
      .collect().foreach(r => println(r))
    spark.stop()
  }
}
