package pkel.link

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import pkel.model.OntologyEntry
import pkel.ontology.Ontology

/** Tier 5: prompt/LLM linker — the external-call Spark seam.
  *
  * Behavioral port of `/root/reference/pk_el/linkers/prompt_linker.py`:
  * prompt assembly (`gen_prompt`, :199-229), answer→id grounding with NIL
  * fallback (:171-183 — "nil"/"n/a"/"none" → Q100, a recognized parameter
  * name → its id, anything unrecognized → grounding failure → Q100 flagged
  * `no_answer`, `link_mentions_with_llm` :296-302), and the union semantics
  * of `merge_llm_and_unmatched_results` (:224-229) via the cascade's tier
  * merge.
  *
  * The generative model is a pluggable `PromptScorer` executed inside a
  * `mapPartitions` stage — the right seam for an external endpoint at scale:
  * one client per partition, residue rows streamed through it, no shuffle.
  * No model ships offline; tests plug a deterministic fake.
  */
object PromptLinker {

  /** External completion endpoint: (system prompt, user prompt) → response.
    * Instantiated once per partition inside the kernel. */
  trait PromptScorer extends Serializable {
    def complete(systemPrompt: String, userPrompt: String): String
  }

  /** Vendored prompt DATA (system prompts + few-shot example blocks,
    * behavioral ports of `prompt_linker.py:10-135`) ships as resource files
    * beside the drug lexicon — these are reference prompt text, not code. */
  private def promptResource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/pkel/prompts/$name")
    require(in != null, s"missing prompt resource $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Port of SYSTEM_PROMPT_STANDARD (`prompt_linker.py:35-47`), with the
    * PK-specific framing kept so a swapped-in real model reproduces the
    * reference's behavior. */
  val SystemPromptStandard: String = promptResource("system_standard.txt")

  /** Port of SYSTEM_PROMPT_COT (`prompt_linker.py:10-33`): the
    * chain-of-thought variant swept by `tune_prompt_linker.py` via
    * `--use_cot_prompt`. */
  val SystemPromptCot: String = promptResource("system_cot.txt")

  /** Port of SENTENCE_EXAMPLES (`prompt_linker.py:51-97`): the sentence-mode
    * few-shot block injected by `--use_examples`. Vendored prompt DATA (like
    * the drug lexicon), not code. */
  val SentenceExamples: String = promptResource("sentence_examples.txt")

  /** Port of TABLE_EXAMPLES (`prompt_linker.py:100-135`): the table-mode
    * few-shot block — the tuning script pairs it with table mentions. */
  val TableExamples: String = promptResource("table_examples.txt")

  /** One cell of the reference's prompt-ablation grid
    * (`tune_prompt_linker.py:36-44`: `use_cot_prompt` × `use_examples` ×
    * `use_context`). `isTable` selects WHICH few-shot block `useExamples`
    * injects — TABLE_EXAMPLES for table mentions, SENTENCE_EXAMPLES for
    * sentence mentions, the tuning script's pairing. */
  final case class Variant(useCotPrompt: Boolean = false, useExamples: Boolean = false,
      useContext: Boolean = false, isTable: Boolean = false) {
    def systemPrompt: String = if (useCotPrompt) SystemPromptCot else SystemPromptStandard
    def examples: Option[String] =
      if (useExamples) Some(if (isTable) TableExamples else SentenceExamples) else None
    def name: String = Seq(
      if (useCotPrompt) "cot" else "std",
      if (useExamples) { if (isTable) "tabex" else "sentex" } else "zeroshot",
      if (useContext) "ctx" else "noctx").mkString("+")
  }

  /** The full 8-cell ablation grid for one mention mode. */
  def variantGrid(isTable: Boolean = false): Seq[Variant] =
    for (cot <- Seq(false, true); ex <- Seq(false, true); ctx <- Seq(false, true))
      yield Variant(cot, ex, ctx, isTable)

  /** User-prompt assembly mirroring `gen_prompt` (`prompt_linker.py:199-229`). */
  def genUserPrompt(mention: String, kbConcepts: String,
      context: Option[String] = None, examples: Option[String] = None): String = {
    val sb = new StringBuilder
    sb.append(s"\n---\nMention:\n$mention\n---\n")
    context.foreach(c => sb.append(s"\n---\nContext:\n$c\n---\n"))
    examples.foreach(e => sb.append(s"\n---\nTask Examples:\n$e\n---\n"))
    sb.append(s"\n---\nOntology:\n\n$kbConcepts\n---\n")
    sb.result().trim
  }

  /** Answer→id grounding (`prompt_linker.py:171-183`): strip the
    * `{param: ...}` wrapper exactly as the reference does (brace strip, then
    * whitespace strip, then lowercase), accept NIL spellings, then look the
    * answer up among lowercased parameter names. None = grounding failure. */
  def ground(response: String, paramToIdLower: Map[String, String]): Option[String] = {
    if (response == null) return None
    val noTag = response.replace("param:", "")
    val noBraces = {
      val s1 = noTag.dropWhile(c => c == '{' || c == '}')
      s1.reverse.dropWhile(c => c == '{' || c == '}').reverse
    }
    val answer = noBraces.trim.toLowerCase
    if (answer == "nil" || answer == "n/a" || answer == "none") Some("Q100")
    else paramToIdLower.get(answer)
  }

  /** Lowercased parameter-name → id map (`param_to_id` with lowered keys,
    * `prompt_linker.py:174`). */
  def paramToIdLower(entries: Seq[OntologyEntry]): Map[String, String] =
    entries.iterator.map(e => e.parameterName.toLowerCase.trim -> e.parameterId).toMap

  /** Run the prompt tier over residue mentions.
    *
    * Input columns: `featureCol` (the mention text shown to the model;
    * reference default `mention`), optional `subsetted_concepts` (category
    * blocking output — when present and non-empty the prompt carries only
    * the subset ontology block, `evaluate_prompt_linker.py` wiring; when
    * absent/empty the full ontology block is used).
    * Output: residue columns + (y_pred, score, status, tier) where status ∈
    * linked | nil | no_answer (the reference's three answer outcomes). */
  def link(spark: SparkSession, residue: DataFrame, entries: Seq[OntologyEntry],
      scorer: PromptScorer, featureCol: String = "mention",
      systemPrompt: String = SystemPromptStandard,
      examples: Option[String] = None, contextCol: Option[String] = None): DataFrame = {
    val outSchema = StructType(residue.schema.fields.toSeq ++ Seq(
      StructField("y_pred", StringType),
      StructField("score", DoubleType),
      StructField("status", StringType),
      StructField("tier", StringType)))
    val featIdx = residue.schema.fieldIndex(featureCol)
    val subsetIdx =
      if (residue.schema.fieldNames.contains("subsetted_concepts"))
        residue.schema.fieldIndex("subsetted_concepts")
      else -1
    val ctxIdx = contextCol.map(residue.schema.fieldIndex).getOrElse(-1)
    val nameToId = paramToIdLower(entries)
    val fullBlock = Ontology.formatForLlm(entries)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)

    residue.mapPartitions { rows =>
      // subset sets repeat massively across mentions — format each once
      val blockMemo = new java.util.HashMap[String, String]()
      def kbBlock(subset: Seq[String]): String =
        if (subset == null || subset.isEmpty) fullBlock
        else {
          val key = subset.sorted.mkString(",")
          var b = blockMemo.get(key)
          if (b == null) {
            b = Ontology.formatForLlm(entries.filter(e => subset.contains(e.parameterId)))
            blockMemo.put(key, b)
          }
          b
        }
      rows.map { row =>
        val mention = if (row.isNullAt(featIdx)) "" else row.getString(featIdx)
        val subset =
          if (subsetIdx >= 0 && !row.isNullAt(subsetIdx)) row.getSeq[String](subsetIdx)
          else null
        // NULL context coalesces to "" (the Context scaffolding is still
        // assembled) so PromptCost.baseTokensVariant's additive estimate —
        // which charges the scaffolding to every row of a context variant —
        // matches the actually assembled prompt on null-context rows too
        val context =
          if (ctxIdx >= 0) Some(if (row.isNullAt(ctxIdx)) "" else row.getString(ctxIdx))
          else None
        val user = genUserPrompt(mention, kbBlock(subset), context, examples)
        val response = scorer.complete(systemPrompt, user)
        val (yPred, status) = ground(response, nameToId) match {
          case Some("Q100") => ("Q100", "nil")
          case Some(id) => (id, "linked")
          case None => ("Q100", "no_answer") // unrecognized answer → NIL
        }
        val score = if (status == "linked") 100.0 else 0.0
        Row.fromSeq(row.toSeq ++ Seq(yPred, score, status, "prompt"))
      }
    }(encoder)
  }

  /** Run the prompt tier under one ablation-grid cell: the variant picks the
    * system prompt (standard|CoT), the few-shot block (zero-shot|mode-paired
    * examples), and whether the context column rides in the prompt. */
  def linkVariant(spark: SparkSession, residue: DataFrame, entries: Seq[OntologyEntry],
      scorer: PromptScorer, variant: Variant, featureCol: String = "mention",
      contextCol: String = "text"): DataFrame =
    link(spark, residue, entries, scorer, featureCol, variant.systemPrompt,
      variant.examples, if (variant.useContext) Some(contextCol) else None)

  /** The reference's prompt ablation (`tune_prompt_linker.py` sweeps one cell
    * per invocation; this runs the whole grid) with per-variant answer-outcome
    * counts AND the variant's token price from [[PromptCost]] — so each cell
    * shows its accuracy-relevant outcome mix next to what it would cost.
    * Returns one row per variant:
    * (variant, use_cot, use_examples, use_context, n, linked, nil, no_answer,
    *  total_prompt_tokens, total_cost_nanos). Variants only change constants
    * in the assembled prompt, so the grid costs |grid| passes over the
    * (small, residue-sized) input — each pass the same mapPartitions kernel
    * the single-variant tier runs. */
  def sweepVariants(spark: SparkSession, residue: DataFrame, entries: Seq[OntologyEntry],
      scorer: PromptScorer, variants: Seq[Variant], model: String = "gpt-4o-mini",
      featureCol: String = "mention", contextCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions._
    val perVariant = variants.map { v =>
      val linked = linkVariant(spark, residue, entries, scorer, v, featureCol, contextCol)
      val outcome = linked.groupBy()
        .agg(count(lit(1)).as("n"),
          sum(when(col("status") === "linked", 1L).otherwise(0L)).as("linked"),
          sum(when(col("status") === "nil", 1L).otherwise(0L)).as("nil"),
          sum(when(col("status") === "no_answer", 1L).otherwise(0L)).as("no_answer"))
      val cost = PromptCost.estimateVariant(spark, residue, entries, model, v,
        featureCol, contextCol)
        .select(col("total_prompt_tokens"), col("total_cost_nanos"))
      outcome.crossJoin(cost) // both sides are single summary rows
        .select(lit(v.name).as("variant"),
          lit(v.useCotPrompt).as("use_cot"), lit(v.useExamples).as("use_examples"),
          lit(v.useContext).as("use_context"),
          col("n"), col("linked"), col("nil"), col("no_answer"),
          col("total_prompt_tokens"), col("total_cost_nanos"))
    }
    perVariant.reduce(_ unionByName _).orderBy("variant")
  }

  /** Deterministic offline stand-in model: answers with the name of the
    * first ontology entry whose name or synonym occurs (case-insensitive)
    * in the prompt's mention line, else NIL. Exercises both grounding
    * outcomes end-to-end with zero external calls — the shape a real model
    * plugs into. */
  final class SubstringScorer(entries: Seq[OntologyEntry]) extends PromptScorer {
    private val surfaces: Seq[(String, String)] = entries.flatMap { e =>
      (e.parameterName +: e.parameterSynonyms.filter(_.nonEmpty))
        .map(s => (s.toLowerCase, e.parameterName))
    }
    // Mention surfaces repeat massively across residue rows (a bounded
    // vocabulary of ontology variants + typos + decoys), so the linear
    // surface scan runs once per DISTINCT mention, not once per row — same
    // answers, a fraction of the round-2 cost (this fake was the single
    // largest battery line item). @transient: the memo restarts empty in
    // each deserialized task instance instead of shipping with the closure.
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    private def scan(mention: String): String =
      surfaces.collectFirst { case (s, name) if mention.contains(s) => s"{param: $name}" }
        .getOrElse("{param: NIL}")
    def complete(systemPrompt: String, userPrompt: String): String = {
      // indexOf extraction of the Mention block: the previous regex scanned
      // the full multi-KB prompt (ontology block included) on every row
      val start = userPrompt.indexOf("Mention:\n")
      val mention =
        if (start < 0) ""
        else {
          val from = start + 9
          val end = userPrompt.indexOf("\n---", from)
          if (end < 0) "" else userPrompt.substring(from, end).toLowerCase
        }
      memo.computeIfAbsent(mention, m => scan(m))
    }
  }
}
