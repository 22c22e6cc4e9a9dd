package pkel.features

import org.apache.spark.sql.functions._

import pkel.SparkSpec
import pkel.io.MentionReader

/** Pins `retrieval_feature`, the bi-encoder tier's input, on fixture rows:
  * the ±5-token tagged window of a sentence mention, the tag-only fallback
  * when the span does not align with whitespace tokens, and a table cell's
  * tagged text with its [ROW]/[COLUMN] context. The cascade builds this
  * column only for the bi-encoder residue, so the cascade's F1 specs see it
  * on a handful of rows; this spec pins its exact text. */
class FeaturesSpec extends SparkSpec {

  private def feature(isTable: Boolean, text: String): String = {
    val modality = if (isTable) "tables" else "sentences"
    val rows = Features.withRetrievalFeature(MentionReader.readJsonl(spark,
      resourcePath(s"/pkel/data/$modality/test.jsonl"), isTable))
      .filter(col("text") === text)
      .select("retrieval_feature").collect()
    assert(rows.length == 1, s"fixture text '$text' must match exactly one $modality row")
    rows.head.getString(0)
  }

  test("sentence mention: ±5 whitespace tokens around the tagged span") {
    assert(feature(isTable = false, "The MTD was 12 and 8 mg for arm 1 and 2, respectively.") ==
      "The [MENTION] MTD [/MENTION] was 12 and 8 mg")
    assert(feature(isTable = false, "The elimination half-life was 1.19 h for safflor yellow A, " +
      "2.69 h for puerarin, 2.94 h for 3'-methoxyl-puerarin, and 0.87 h for puerarinapioside, " +
      "respectively.") ==
      "The [MENTION] elimination half-life [/MENTION] was 1.19 h for safflor")
  }

  test("sentence mention: a span that starts on whitespace falls back to the tagged mention") {
    import spark.implicits._
    val df = Seq(("the AUC was 5", 3, 7)).toDF("text", "span_start", "span_end")
      .withColumn("is_table", lit(false)).withColumn("table_html", lit(""))
      .withColumn("row_idx", lit(-1)).withColumn("col_idx", lit(-1))
    assert(Features.withRetrievalFeature(df).select("retrieval_feature").head().getString(0) ==
      "[MENTION]  AUC [/MENTION]")
    assert(Features.mentionWindow("the AUC was 5", 3, 7) ==
      "[MENTION]  AUC [/MENTION]")
  }

  test("table cell: tagged cell text plus its row and column context") {
    // the [ROW]/[COLUMN] lines hold ±3 cells, the mention cell tagged in both
    assert(feature(isTable = true, "Vd/Fa, L/m2") == Seq(
      "[MENTION]Vd/F[/MENTION]a, L/m2",
      "[ROW] | [MENTION]Vd/F[/MENTION]a, L/m2 | Mean (SD) | NA | NA |",
      "[COLUMN] | CL, L/h/m2 | Vss, L/m2 | CL/Fa, L/h/m2 | [MENTION]Vd/F[/MENTION]a, L/m2 | " +
        "CL/Fb, L/h/m2 | Vd/Fb, L/m2 |").mkString("\n"))
  }
}
