package pkel.link

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pkel.text.{BasicNormalizer, Memo, Patterns, PkTokenizer, Rx}

/** Tier 1: exact token-set linking with NIL exclusion and contextual
  * disambiguation.
  *
  * Behavioral port of `/root/reference/pk_el/linkers/exact_linker.py:84-301`.
  * Spark shape: broadcast hash join of the mention blocking key against the
  * tiny ontology index, then a `when`-cascade producing
  * `(y_pred, status, tier)`. UDFs are confined to the regex kernel
  * (tokenization / context checks); candidate resolution is plain column
  * logic so it stays inside whole-stage codegen.
  */
object ExactLinker {

  /** Status vocabulary shared by all tiers (distinguishes the reference's four
    * NIL paths; SURVEY.md §7.5 item 7). */
  val StatusLinked = "linked"
  val StatusDisambiguated = "disambiguated"
  val StatusTableDefault = "table_default"
  val StatusExcluded = "excluded"
  val StatusAmbiguous = "ambiguous"
  val StatusUnlinked = "unlinked"

  /** NIL exclusion: any of the 36 non-PK patterns matches the lowercased
    * mention (`exact_linker.py:120-122`). */
  def isNonPkMention(mention: String): Boolean = {
    val t = mention.toLowerCase
    Patterns.NilPatterns.exists(p => Rx.search(p, t))
  }

  /** Invalid-context exclusion: ±15-char window around the span matches a
    * mention-anchored pattern (`exact_linker.py:200-221`). The reference's
    * four patterns are one alternation: `find()` succeeds exactly when one
    * alternative is found, so one compile per mention does the work of four. */
  def isInInvalidContext(fullText: String, spanStart: Int, spanEnd: Int, window: Int = 15): Boolean = {
    val text = fullText.toLowerCase
    val s = math.max(0, spanStart)
    val e = math.min(text.length, spanEnd)
    val m = Pattern.quote(text.substring(s, e))
    val ctx = text.substring(math.max(0, s - window), math.min(text.length, e + window))
    Pattern.compile(s"$m[\\s\\-_/:]*(?:mic|pharmacodynamic|creatinine|cr)|$m/fe|m\\s*\\+\\s*$m",
      Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE).matcher(ctx).find()
  }

  /** Contextual disambiguation of ambiguous exact matches
    * (`exact_linker.py:224-270`). Right(id) = resolved; Left(candidates) =
    * unresolved residue. The reference's km no-context branch returns a
    * malformed result treated downstream as residue — mirrored here as
    * Left(Seq("Q1")). */
  def disambiguate(normalizedFullText: String, paramIds: Seq[String]): Either[Seq[String], String] = {
    if (paramIds.contains("Q1")) {
      val km = Seq.newBuilder[String]
      if (Rx.search(Patterns.RateConstantUnit, normalizedFullText)) km += "Q51"
      if (Rx.search(Patterns.EnzymeContext, normalizedFullText)) km += "Q1"
      val distinct = km.result().distinct
      distinct.size match {
        case 1 => Right(distinct.head)
        case n if n > 1 => Left(distinct)
        case _ => Left(Seq("Q1"))
      }
    } else if (paramIds.contains("Q57")) {
      val th = Seq.newBuilder[String]
      if (Rx.search(Patterns.THalfZContext, normalizedFullText)) th += "Q57"
      if (Rx.search(Patterns.THalfBetaContext, normalizedFullText)) th += "Q60"
      if (Rx.search(Patterns.THalfGammaContext, normalizedFullText)) th += "Q89"
      val distinct = th.result().distinct
      distinct.size match {
        case 1 => Right(distinct.head)
        case n if n > 1 => Left(distinct)
        case _ => Right("Q57")
      }
    } else Left(paramIds)
  }

  // ---- Spark stage ---------------------------------------------------------

  // Surface-keyed kernels run behind a per-task bounded memo (pkel.text.Memo):
  // the regex chains cost microseconds per call and transcript corpora repeat
  // surfaces massively, so the memo removes >99.9% of chain invocations
  // (measured at 1M convs / 5.6M mentions: warm cascade 7.4 s → 3.9 s at
  // local[32], 8.5 s → 7.0 s at local[8]; cold 72 s → 22 s).
  val tokenizeUdf = udf(Memo.named("pk_tokenize")((s: String) => PkTokenizer(Option(s).getOrElse(""))))
  private val nonPkUdf = udf(Memo.named("non_pk")((m: String) => isNonPkMention(Option(m).getOrElse(""))))
  private val invalidCtxUdf =
    udf((t: String, s: Int, e: Int) => isInInvalidContext(Option(t).getOrElse(""), s, e))
  private val disambiguateUdf = udf((text: String, cands: Seq[String]) => {
    disambiguate(BasicNormalizer(Option(text).getOrElse("")), cands) match {
      case Right(id) => Seq("R", id)
      case Left(cs) => "L" +: cs
    }
  })

  /** Derive `mention` + `tokens` + `blocking_key` columns.
    * (`substring` is 1-based in Spark SQL, spans are 0-based char offsets.) */
  def withBlockingKey(mentions: DataFrame): DataFrame = {
    mentions
      .withColumn("mention", expr("substring(text, span_start + 1, span_end - span_start)"))
      .withColumn("tokens", tokenizeUdf(col("mention")))
      .withColumn("blocking_key", concat_ws(" ", col("tokens")))
  }

  /** Run the exact tier. Input: mention DF with (mention_id, text, label,
    * span_start, span_end, is_table, mention, blocking_key). Output: input +
    * (y_pred, status, tier). Residue = rows with status ∈
    * {ambiguous, unlinked}. With `keepDebug` the intermediate `is_excluded` /
    * `disamb` columns are retained (the battery dumps them so the DuckDB
    * oracle can re-run the join + when-cascade independently). */
  def link(spark: SparkSession, mentions: DataFrame, index: Seq[(String, Seq[String])],
      keepDebug: Boolean = false): DataFrame = {
    import spark.implicits._
    val indexDf = index.toDF("blocking_key", "candidates")

    val joined = mentions.join(broadcast(indexDf), Seq("blocking_key"), "left")

    val excluded = nonPkUdf(col("mention")) ||
      invalidCtxUdf(col("text"), col("span_start"), col("span_end"))

    val disamb = disambiguateUdf(col("text"), col("candidates"))

    joined
      .withColumn("is_excluded", excluded)
      .withColumn("disamb",
        when(col("candidates").isNotNull && size(col("candidates")) > 1 && !col("is_excluded"), disamb))
      .withColumn("y_pred",
        when(col("is_excluded"), lit("Q100"))
          .when(col("candidates").isNull, lit("Q100"))
          .when(size(col("candidates")) === 1, element_at(col("candidates"), 1))
          .when(col("is_table") && array_contains(col("candidates"), "Q57"), lit("Q57"))
          .when(element_at(col("disamb"), 1) === "R", element_at(col("disamb"), 2))
          .otherwise(lit("Q100")))
      .withColumn("status",
        when(col("is_excluded"), lit(StatusExcluded))
          .when(col("candidates").isNull, lit(StatusUnlinked))
          .when(size(col("candidates")) === 1, lit(StatusLinked))
          .when(col("is_table") && array_contains(col("candidates"), "Q57"), lit(StatusTableDefault))
          .when(element_at(col("disamb"), 1) === "R", lit(StatusDisambiguated))
          .otherwise(lit(StatusAmbiguous)))
      .withColumn("tier", lit("exact"))
      .withColumn("potential_candidates",
        when(col("status") === StatusAmbiguous,
          when(col("disamb").isNotNull, slice(col("disamb"), 2, 1000)).otherwise(col("candidates"))))
      .drop((if (keepDebug) Seq.empty[String] else Seq("is_excluded", "disamb")): _*)
  }
}
