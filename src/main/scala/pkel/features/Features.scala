package pkel.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature construction (projection) stages.
  *
  * Behavioral port of `/root/reference/pk_el/data_preprocessing.py:133-308`:
  * the bi-encoder's retrieval feature — `[MENTION]`-tagged text,
  * ±N-whitespace-token windows, HTML table row/column contexts. All per-row
  * scalar transforms; tagged text is built from native `substring`/`concat`
  * expressions (codegen), the window/table kernels are Scala UDFs.
  */
object Features {

  val OpenTag = "[MENTION]"
  val CloseTag = "[/MENTION]"

  /** Whitespace tokens kept on each side of a sentence mention. */
  val WindowSize = 5

  /** ±`WindowSize` whitespace tokens around the span, mention tagged
    * (`get_text_mention_feature_window`, `data_preprocessing.py:151-189`). */
  def mentionWindow(text: String, spanStart: Int, spanEnd: Int): String = {
    val mention = text.substring(spanStart, spanEnd)
    // tokenize into non-whitespace runs with offsets
    val tokens = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (start, end)
    var i = 0
    val n = text.length
    while (i < n) {
      if (!text.charAt(i).isWhitespace) {
        val start = i
        while (i < n && !text.charAt(i).isWhitespace) i += 1
        tokens += ((start, i))
      } else i += 1
    }
    var mStart = -1; var mEnd = -1
    var t = 0
    while (t < tokens.length && mEnd < 0) {
      val (s, e) = tokens(t)
      if (s <= spanStart && spanStart < e && mStart < 0) mStart = t
      if (s < spanEnd && spanEnd <= e) mEnd = t
      t += 1
    }
    if (mStart < 0 || mEnd < 0) // fall back: alignment failed (reference raises)
      return s"$OpenTag $mention $CloseTag"
    val startCtx = math.max(0, mStart - WindowSize)
    val endCtx = math.min(tokens.length, mEnd + 1 + WindowSize)
    def slice(a: Int, b: Int): Seq[String] = tokens.slice(a, b).map { case (s, e) => text.substring(s, e) }.toSeq
    val before = slice(startCtx, mStart)
    val mid = OpenTag +: slice(mStart, mEnd + 1) :+ CloseTag
    val after = slice(mEnd + 1, endCtx)
    (before ++ mid ++ after).mkString(" ")
  }

  private val mentionWindowUdf = udf((text: String, s: Int, e: Int) =>
    mentionWindow(Option(text).getOrElse(""), s, e))

  private val tableRetrievalUdf = udf(
    (html: String, tagged: String, rowIdx: Int, colIdx: Int) =>
      HtmlTable.retrievalContext(Option(html).getOrElse(""), Option(tagged).getOrElse(""), rowIdx, colIdx))

  /** Adds `retrieval_feature`, the bi-encoder input: for a sentence the
    * ±5-token window with the mention tagged; for a table cell the tagged
    * turn text plus the cell's row/column context
    * (`format_table_context_for_retrieval`). Reads text, span_start,
    * span_end, is_table, table_html, row_idx and col_idx. */
  def withRetrievalFeature(mentions: DataFrame): DataFrame = {
    val tagged = concat(
      expr("substring(text, 1, span_start)"),
      lit(OpenTag),
      expr("substring(text, span_start + 1, span_end - span_start)"),
      lit(CloseTag),
      expr("substring(text, span_end + 1, greatest(0, length(text) - span_end))"))
    mentions.withColumn("retrieval_feature",
      when(col("is_table"), tableRetrievalUdf(col("table_html"), tagged, col("row_idx"), col("col_idx")))
        .otherwise(mentionWindowUdf(col("text"), col("span_start"), col("span_end"))))
  }
}
