package pkel.link

import org.apache.spark.sql.functions._

import pkel.SparkSpec
import pkel.io.MentionReader
import pkel.ontology.Ontology

/** Tier-5 prompt-linker seam with deterministic offline fakes: grounding,
  * prompt assembly, subset-constrained ontology blocks, and the cascade's
  * tier merge over the bi-encoder residue. */
class PromptLinkerSpec extends SparkSpec {

  lazy val entries = Ontology.load()
  lazy val nameToId = PromptLinker.paramToIdLower(entries)

  test("grounding mirrors the reference answer parsing") {
    // {param: X} wrapper, case-insensitive name lookup
    val someName = entries.head.parameterName
    assert(PromptLinker.ground(s"{param: $someName}", nameToId)
      .contains(entries.head.parameterId))
    assert(PromptLinker.ground(s"{param: ${someName.toUpperCase}}", nameToId)
      .contains(entries.head.parameterId))
    // NIL spellings → Q100
    assert(PromptLinker.ground("{param: NIL}", nameToId).contains("Q100"))
    assert(PromptLinker.ground("n/a", nameToId).contains("Q100"))
    assert(PromptLinker.ground("{param: none}", nameToId).contains("Q100"))
    // unrecognized → grounding failure (None), reference prints + NILs
    assert(PromptLinker.ground("{param: flux capacitance}", nameToId).isEmpty)
    assert(PromptLinker.ground(null, nameToId).isEmpty)
    // every ontology entry's name grounds back to its own id
    entries.foreach { e =>
      assert(PromptLinker.ground(s"{param: ${e.parameterName}}", nameToId)
        .contains(e.parameterId), s"failed to ground ${e.parameterName}")
    }
  }

  test("user prompt carries mention, optional context/examples, and the ontology block") {
    val p = PromptLinker.genUserPrompt("AUC0-24", "KB_BLOCK",
      context = Some("row context"), examples = Some("EX"))
    assert(p.contains("Mention:\nAUC0-24"))
    assert(p.contains("Context:\nrow context"))
    assert(p.contains("Task Examples:\nEX"))
    assert(p.indexOf("Ontology:") > p.indexOf("Mention:"))
    assert(p.contains("KB_BLOCK"))
    val noCtx = PromptLinker.genUserPrompt("m", "kb")
    assert(!noCtx.contains("Context:") && !noCtx.contains("Task Examples:"))
  }

  test("link: grounding outcomes and subset-constrained ontology block") {
    import spark.implicits._
    val subsetIds = entries.slice(5, 8).map(_.parameterId)
    val residue = Seq(
      (1L, "Q57", "k1", "mention one", Some(subsetIds)),
      (2L, "Q1", "k2", "mention two", None: Option[Seq[String]]))
      .toDF("mention_id", "label", "blocking_key", "mention", "subsetted_concepts")
    val out = PromptLinker.link(spark, residue, entries, new FirstParamScorer).collect()
      .map(r => r.getAs[Long]("mention_id") ->
        (r.getAs[String]("y_pred"), r.getAs[String]("status"))).toMap
    // subsetted mention → first param OF THE SUBSET; unsubsetted → first of full ontology
    assert(out(1L) == (entries(5).parameterId, "linked"), s"got ${out(1L)}")
    assert(out(2L) == (entries.head.parameterId, "linked"))
  }

  test("link: NIL answer and grounding failure produce distinct statuses") {
    import spark.implicits._
    val residue = Seq(
      (1L, "Q57", "k", "say nil"),
      (2L, "Q57", "k", "say junk"))
      .toDF("mention_id", "label", "blocking_key", "mention")
    val scorer = new NilOrJunkScorer
    val out = PromptLinker.link(spark, residue, entries, scorer).collect()
      .map(r => r.getAs[Long]("mention_id") ->
        (r.getAs[String]("y_pred"), r.getAs[String]("status"))).toMap
    assert(out(1L) == ("Q100", "nil"))
    assert(out(2L) == ("Q100", "no_answer"))
  }

  test("variant grid: each ablation cell assembles exactly its prompt pieces") {
    import spark.implicits._
    val residue = Seq((1L, "Q57", "k", "auc ratio mention", "turn context text"))
      .toDF("mention_id", "label", "blocking_key", "mention", "text")
    for (isTable <- Seq(false, true)) {
      val grid = PromptLinker.variantGrid(isTable)
      assert(grid.size == 8 && grid.map(_.name).distinct.size == 8)
      for (v <- grid) {
        val cap = new CapturingScorer
        PromptLinker.linkVariant(spark, residue, entries, cap, v).collect()
        val (sys, user) = (cap.lastSystem, cap.lastUser)
        // system prompt: the CoT variant carries the Q1/Q2 decision procedure,
        // the standard one the accuracy-is-paramount instruction — never both
        assert(sys.contains("Q1. Does the mention refer to a PK parameter?") == v.useCotPrompt,
          s"${v.name}: wrong system prompt")
        assert(sys.contains("Accuracy is paramount") == !v.useCotPrompt)
        // few-shot block: present iff useExamples, and mode-paired
        assert(user.contains("Task Examples:") == v.useExamples, s"${v.name}: examples section")
        if (v.useExamples) {
          assert(user.contains("Vd,ss/F") == isTable, s"${v.name}: table examples pairing")
          assert(user.contains("plasma concentration (or its ratio)") == !isTable,
            s"${v.name}: sentence examples pairing")
        }
        // context section: present iff useContext, carrying the context column
        assert(user.contains("Context:\nturn context text") == v.useContext,
          s"${v.name}: context section")
        // invariants of every cell
        assert(user.contains("Mention:\nauc ratio mention"))
        assert(user.contains("Ontology:"))
      }
    }
  }

  test("sweepVariants: one row per cell, prices ordered by what the cell adds") {
    import spark.implicits._
    val residue = Seq(
      (1L, "Q57", "k", "auc", "ctx one"),
      (2L, "Q1", "k", "clearance", "ctx two"))
      .toDF("mention_id", "label", "blocking_key", "mention", "text")
    val grid = PromptLinker.variantGrid(isTable = false)
    val sweep = PromptLinker.sweepVariants(spark, residue, entries,
      new AlwaysNilScorer, grid).collect()
      .map(r => r.getAs[String]("variant") -> r).toMap
    assert(sweep.size == 8)
    // same scorer → same outcomes in every cell; price differs by cell
    sweep.values.foreach { r =>
      assert(r.getAs[Long]("n") == 2L && r.getAs[Long]("nil") == 2L)
    }
    def toks(name: String) = sweep(name).getAs[Long]("total_prompt_tokens")
    // few-shot examples and context each strictly add tokens; CoT ≠ standard
    assert(toks("std+sentex+noctx") > toks("std+zeroshot+noctx"))
    assert(toks("std+zeroshot+ctx") > toks("std+zeroshot+noctx"))
    assert(toks("cot+sentex+ctx") > toks("cot+zeroshot+noctx"))
    assert(toks("cot+zeroshot+noctx") != toks("std+zeroshot+noctx"))
    // cost follows tokens at the same model rates
    assert(sweep("std+sentex+noctx").getAs[Long]("total_cost_nanos") >
      sweep("std+zeroshot+noctx").getAs[Long]("total_cost_nanos"))
  }

  test("estimateVariant price matches per-row assembled-prompt token count exactly") {
    import spark.implicits._
    val rows = Seq(("AUC0-24", "some turn context"), ("half-life", "other context"))
    val df = rows.toDF("mention", "text")
    val kb = Ontology.formatForLlm(entries)
    for (v <- Seq(PromptLinker.Variant(), PromptLinker.Variant(true, true, true),
        PromptLinker.Variant(useExamples = true, isTable = true),
        PromptLinker.Variant(useContext = true))) {
      val expected = rows.map { case (m, c) =>
        PromptCost.promptTokens(m, v.systemPrompt, kb,
          context = if (v.useContext) Some(c) else None, examples = v.examples).toLong
      }.sum
      val got = PromptCost.estimateVariant(spark, df, entries, "gpt-4o-mini", v)
        .head().getAs[Long]("total_prompt_tokens")
      assert(got == expected, s"${v.name}: $got != $expected")
    }
  }

  test("cascade tier 5 consumes exactly the bi-encoder's unlinked residue") {
    val mentions = ExactLinker.withBlockingKey(MentionReader.readJsonl(spark,
      resourcePath("/pkel/data/sentences/test.jsonl"), isTable = false))
    val base = Cascade.run(spark, mentions, entries).predictions.cache()
    val baseUnlinked = base.filter(col("tier") === "biencoder" && col("status") === "unlinked").count()
    val baseLinkedBienc = base.filter(col("tier") === "biencoder" && col("status") === "linked").count()

    // deterministic fake: everything the earlier tiers could not link is NIL
    val nilScorer = new AlwaysNilScorer
    val withTier5 = Cascade.run(spark, mentions, entries,
      Cascade.Config(promptScorer = Some(nilScorer))).predictions.cache()
    assert(withTier5.count() == base.count(), "tier merge must keep one row per mention")
    val prompted = withTier5.filter(col("tier") === "prompt")
    assert(prompted.count() == baseUnlinked,
      s"prompt tier must see exactly the unlinked residue ($baseUnlinked)")
    assert(prompted.filter(col("status") === "nil" && col("y_pred") === "Q100").count() == baseUnlinked)
    assert(withTier5.filter(col("tier") === "biencoder").count() == baseLinkedBienc,
      "linked bi-encoder rows pass through unchanged")
  }
}

// Fakes live top-level: an inner class would capture the (non-serializable)
// suite and fail closure cleaning on executors.

/** Answers with the first PARAM_NAME present in the prompt's ontology block —
  * exercises subset-constrained block assembly without a real model. */
private class FirstParamScorer extends PromptLinker.PromptScorer {
  def complete(systemPrompt: String, userPrompt: String): String = {
    val m = "\\[PARAM_NAME\\] (.+)".r.findFirstMatchIn(userPrompt)
    m.map(g => s"{param: ${g.group(1).trim}}").getOrElse("garbage")
  }
}

/** Records the last assembled (system, user) prompt pair in a JVM-static box
  * (the scorer instance itself is re-deserialized per task, so instance
  * fields would not reach the test thread) — the variant-grid spec asserts
  * on exactly what each ablation cell assembles. Single-row local-mode only. */
private object CaptureBox {
  @volatile var lastSystem: String = ""
  @volatile var lastUser: String = ""
}

private class CapturingScorer extends PromptLinker.PromptScorer {
  def lastSystem: String = CaptureBox.lastSystem
  def lastUser: String = CaptureBox.lastUser
  def complete(sys: String, user: String): String = {
    CaptureBox.lastSystem = sys; CaptureBox.lastUser = user; "{param: NIL}"
  }
}

private class NilOrJunkScorer extends PromptLinker.PromptScorer {
  def complete(sys: String, user: String): String =
    if (user.contains("say nil")) "{param: NIL}" else "{param: not-a-parameter}"
}

private class AlwaysNilScorer extends PromptLinker.PromptScorer {
  def complete(sys: String, user: String): String = "{param: NIL}"
}
