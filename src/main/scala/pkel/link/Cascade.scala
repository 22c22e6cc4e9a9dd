package pkel.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pkel.blocking.CategoryBlocker
import pkel.features.Features
import pkel.model.OntologyEntry
import pkel.ontology.Ontology

/** The tiered linking cascade: exact → (category blocking) → fuzzy →
  * bi-encoder, each tier consuming the unlinked residue of the previous one
  * (cascade wiring of the reference's `scripts/linking/evaluation` scripts,
  * SURVEY.md §3). Output: one prediction row per mention with
  * (y_pred, tier, status, score).
  */
object Cascade {

  final case class Config(
      fuzzyThreshold: Double = 80.0,
      biencoderThreshold: Double = 0.75,
      /** Raw-surface fuzzy threshold (graft extension tier). */
      surfaceThreshold: Double = 90.0,
      /** Optional tier 5: prompt/LLM linker over the bi-encoder's unlinked
        * residue (reference wiring: `evaluate_prompt_linker.py`). None = the
        * residue stays NIL, as in rounds without an external model. */
      promptScorer: Option[PromptLinker.PromptScorer] = None,
      /** Observability seam: called once per tier with (tierName, fullTierOutput)
        * before residue filtering — the battery uses it to dump tier outputs so
        * the DuckDB oracle can re-derive the first-terminal-tier-wins union
        * independently; a cluster deployment would point it at lineage tables. */
      tierSink: Option[(String, DataFrame) => Unit] = None)

  private val predCols = Seq("mention_id", "label", "blocking_key", "y_pred", "tier", "status", "score")

  /** The turn/table context the bi-encoder's retrieval feature is built from. */
  private val contextCols =
    Seq("mention_id", "text", "span_start", "span_end", "is_table", "table_html", "row_idx", "col_idx")

  /** The cascade's result: `predictions`, one row per mention with the
    * columns `mention_id, label, blocking_key, y_pred, tier, status, score`,
    * and the tier outputs the cascade persisted so that one action over
    * `predictions` computes each tier once. `release()` unpersists them
    * (no Spark job); call it once `predictions` is written or cached. */
  final case class Output(predictions: DataFrame, tierCaches: Seq[DataFrame]) {
    def release(): Unit = tierCaches.foreach(_.unpersist(blocking = false))
  }

  /** Run the full cascade over KEYED mentions: the canonical mention schema
    * (mention_id, text, label, span_start, span_end, is_table + table
    * context columns) plus the `mention`, `tokens` and `blocking_key`
    * columns of [[ExactLinker.withBlockingKey]]. The cascade never
    * re-tokenizes; un-keyed input fails the `require`. */
  def run(spark: SparkSession, keyed: DataFrame, entries: Seq[OntologyEntry],
      cfg: Config = Config()): Output = {
    val missing = Seq("mention", "tokens", "blocking_key").filterNot(keyed.columns.contains)
    require(missing.isEmpty,
      s"Cascade.run needs keyed mentions (ExactLinker.withBlockingKey); missing ${missing.mkString(", ")}")
    val index = Ontology.blockingIndex(entries)

    def sink(tier: String, df: DataFrame): Unit = cfg.tierSink.foreach(_(tier, df))
    val tierCaches = Seq.newBuilder[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      tierCaches += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }

    // tier 1: exact — emits linked/excluded, residue flows on. The
    // full-width tier output (turn text, table context, debug candidates)
    // goes to the observability sink only; the cascade's own flow persists
    // just the columns tiers 2–5 and the final union consume (ids, labels,
    // keys, statuses + mention, tokens) — the fat text columns would
    // otherwise dominate the cache footprint at tens of millions of mentions.
    val exactFull = ExactLinker.link(spark, keyed, index)
    sink("exact", exactFull)
    val exact = persisted(exactFull.select(
      (predCols.filterNot(_ == "score") ++ Seq("mention", "tokens")).map(col): _*))
    val exactEmitted = exact.filter(col("status").isin(
      ExactLinker.StatusLinked, ExactLinker.StatusDisambiguated,
      ExactLinker.StatusTableDefault, ExactLinker.StatusExcluded))
      .withColumn("score", lit(100.0))
    val residue1 = exact.filter(col("status").isin(
      ExactLinker.StatusAmbiguous, ExactLinker.StatusUnlinked))

    // stage 2: category blocking on the residue. Graft extension (the
    // reference defaults subset-unmatched mentions to NIL): when blocking
    // finds no subset, retrieval runs unconstrained instead of being forced
    // empty — typo'd surfaces' mangled tokens match no category regex.
    val subsetted = CategoryBlocker.withSubsets(residue1, entries)
      .withColumn("subsetted_concepts",
        when(col("subset_matched"), col("subsetted_concepts")))

    // tier 2: fuzzy token scoring, category-constrained
    val fuzzy = persisted(FuzzyLinker.link(spark, subsetted.drop("y_pred", "status", "tier"),
      index, matchThreshold = cfg.fuzzyThreshold))
    sink("fuzzy", fuzzy)
    val fuzzyLinked = fuzzy.filter(col("status") === "linked")
    val residue2 = fuzzy.filter(col("status") === "unlinked")
      .drop("pred_ids", "pred_scores", "y_pred", "status", "tier", "score")

    // tier 3 (graft extension): typo-tolerant raw-surface fuzzy pass
    val surface = persisted(FuzzyLinker.linkRawSurface(spark, residue2,
      Ontology.surfaceIndex(entries), cfg.surfaceThreshold))
    sink("surface", surface)
    val surfaceLinked = surface.filter(col("status") === "linked")
    val residue3 = surface.filter(col("status") === "unlinked")
      .drop("y_pred", "status", "tier", "score")

    // tier 4: bi-encoder retrieval on the remaining residue — the only
    // reader of the retrieval feature, so the turn/table context joins back
    // onto the residue here and the feature is built for these rows alone.
    // The residue (the cascade's last, smallest) is the broadcast side; the
    // keyed context columns stream through the join without a shuffle.
    val withContext = keyed.select(contextCols.map(col): _*)
      .join(broadcast(residue3), Seq("mention_id"))
    val bienc = BiencoderLinker.link(spark, Features.withRetrievalFeature(withContext), entries,
      featureCol = "retrieval_feature", matchThreshold = cfg.biencoderThreshold)

    // tier 5 (optional): prompt/LLM linker over the bi-encoder's unlinked
    // residue; the tier merge mirrors merge_llm_and_unmatched_results —
    // linked bi-encoder rows pass through, the NIL residue is re-asked.
    val tier4And5 = cfg.promptScorer match {
      case Some(scorer) =>
        val biencPersisted = persisted(bienc)
        sink("bienc", biencPersisted)
        val biencLinked = biencPersisted.filter(col("status") === "linked")
        val residue4 = biencPersisted.filter(col("status") === "unlinked")
          .drop("pred_ids", "pred_scores", "y_pred", "status", "tier", "score")
        // persist before the eager sink write: without it the sink action
        // evaluates the prompt tier once and the final union recomputes it
        // from scratch (and a non-deterministic scorer could diverge between
        // the dumped tier and the returned union)
        val prompt = PromptLinker.link(spark, residue4, entries, scorer)
        val prompted = if (cfg.tierSink.isDefined) persisted(prompt) else prompt
        sink("prompt", prompted)
        biencLinked.select(predCols.map(col): _*)
          .unionByName(prompted.select(predCols.map(col): _*))
      case None =>
        // persist before an eager sink write so the final union reuses the
        // tier output instead of recomputing it
        val b = if (cfg.tierSink.isDefined) persisted(bienc) else bienc
        sink("bienc", b)
        b.select(predCols.map(col): _*)
    }

    Output(exactEmitted.select(predCols.map(col): _*)
      .unionByName(fuzzyLinked.select(predCols.map(col): _*))
      .unionByName(surfaceLinked.select(predCols.map(col): _*))
      .unionByName(tier4And5), tierCaches.result())
  }
}
