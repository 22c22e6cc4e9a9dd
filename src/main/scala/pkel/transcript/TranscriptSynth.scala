package pkel.transcript

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pkel.model.OntologyEntry

/** Deterministic synthetic transcript generator (graft input,
  * BASELINE.json input_hint: `(conv_id string, turn_idx int, role string,
  * text string, tool string, ts timestamp)`).
  *
  * Mentions are embedded from the ontology's own surface forms
  * (name + synonyms) plus NIL decoys, wrapped in `«»` delimiters so spans are
  * recoverable from raw text; the embedded entity id is therefore the gold
  * cluster assignment by construction. Everything is a pure function of
  * (seed, conv_id, turn_idx) — no RNG state, so generation is distributed,
  * repartition-safe, and identical at any parallelism.
  */
object TranscriptSynth {

  /** Bump when generation semantics change (bench caches key on this). */
  val version = 4

  /** Share of table turns that carry a t1/2-family ambiguous surface (the
    * exact tier's Q57 table default is the gold answer for these). */
  val TableDefaultShare = 0.3

  /** One selectable surface form. `context` is appended after the mention so
    * ambiguous families (km, t1/2) satisfy their disambiguation regexes. */
  final case class Variant(paramId: String, surface: String, context: String)

  val NilDecoys: Seq[String] = Seq(
    "IC50", "EC50", "MIC", "GFR", "molecular weight", "solubility",
    "therapeutic index", "Emax", "logP", "MTD")

  /** Disambiguation-context snippets for ambiguous entities (mirrors the
    * contexts the reference's regexes look for, `patterns.py:91-120`). */
  private val disambContext: Map[String, String] = Map(
    "Q1" -> "of the enzyme michaelis menten kinetics",
    "Q51" -> "of about 0.3 1/h during elimination",
    "Q57" -> "from non-compartmental analysis",
    "Q60" -> "in the two-compartment model biphasic decline",
    "Q89" -> "of the triphasic gamma phase decline")

  def variants(entries: Seq[OntologyEntry]): IndexedSeq[Variant] =
    entries.flatMap { e =>
      val ctx = disambContext.getOrElse(e.parameterId, "")
      (e.parameterName +: e.parameterSynonyms.filter(_.nonEmpty)).map(v => Variant(e.parameterId, v, ctx))
    }.toIndexedSeq

  /** Variants whose blocking key is ambiguous among multiple candidates that
    * include Q57: in a context-free table cell the exact tier's Q57 table
    * default fires for exactly these (reference rule,
    * `pk_el/linkers/exact_linker.py` table branch), so their gold in a table
    * context IS Q57 by construction — `paramId` is rewritten accordingly and
    * the sentence-context snippet dropped. */
  def tableDefaultVariants(entries: Seq[OntologyEntry]): IndexedSeq[Variant] = {
    val index = pkel.ontology.Ontology.blockingIndex(entries).toMap
    variants(entries).flatMap { v =>
      val key = pkel.text.PkTokenizer.blockingKey(v.surface)
      val cands = index.getOrElse(key, Seq.empty)
      if (key.nonEmpty && cands.size > 1 && cands.contains("Q57"))
        Some(Variant("Q57", v.surface, ""))
      else None
    }.distinct
  }

  /** Variants whose blocking key maps to exactly one candidate — safe in a
    * context-free table cell (the exact tier links them without
    * disambiguation, so the embedded entity id stays the gold answer). */
  def tableSafeVariants(entries: Seq[OntologyEntry]): IndexedSeq[Variant] = {
    val index = pkel.ontology.Ontology.blockingIndex(entries).toMap
    variants(entries).filter { v =>
      val key = pkel.text.PkTokenizer.blockingKey(v.surface)
      key.nonEmpty && index.getOrElse(key, Seq.empty) == Seq(v.paramId)
    }.map(_.copy(context = ""))
  }

  private val prefixes = IndexedSeq(
    "The reported", "We estimated the", "In this arm the", "Analysis showed the",
    "The observed", "Model fit gave a", "Median", "Geometric mean")
  private val suffixes = IndexedSeq(
    "was 3.2 in healthy subjects.", "differed across groups.", "was stable over time.",
    "is summarized in Table 2.", "was higher after the second dose.", "remained unchanged.")
  private val fillers = IndexedSeq(
    "Thanks, looking into the study design now.",
    "The assay was validated before analysis.",
    "Subjects fasted overnight before dosing.",
    "No protocol deviations were recorded.",
    "Samples were stored at -80C until analysis.")
  private val roles = IndexedSeq("user", "assistant", "tool")
  private val tools = IndexedSeq(null, "search", "calculator", "table_reader")

  /** Deterministic surface typo: drop one inner char of the longest word of
    * length ≥ 7 (long enough that edit similarity to the clean form stays
    * above the fuzzy threshold). Returns the input unchanged if no word
    * qualifies. */
  def typo(surface: String, h: Long): String = {
    val words = surface.split(" ")
    val idx = words.indices.filter(i => words(i).length >= 7)
    if (idx.isEmpty) surface
    else {
      val wi = idx(((h >>> 3) % idx.length).toInt)
      val w = words(wi)
      val cut = 1 + (((h >>> 13) & 0x7FFFFFFF) % (w.length - 2)).toInt
      words(wi) = w.substring(0, cut) + w.substring(cut + 1)
      words.mkString(" ")
    }
  }

  /** splitmix64 over (seed, conv, turn, salt) — stable & uniform. Every
    * draw of [[generate]] and of its gold re-derivation reads this hash. */
  private def splitmix(seed: Long, conv: Long, turn: Int, salt: Long): Long = {
    var z = seed ^ (conv * 0x9E3779B97F4A7C15L) ^ (turn * 0xBF58476D1CE4E5B9L) ^ (salt * 0x94D049BB133111EBL)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Pick the first variant at-or-after `idx` (cyclically) with NO
    * disambiguation context — used for the second mention of a multi-mention
    * turn, so the two mentions' context snippets cannot cross-trigger the
    * ambiguous-family regexes (the reference's context windows are
    * sentence-level; a turn with two ambiguous mentions would be genuinely
    * ambiguous, which is a property of the data, not of the engine). */
  def plainVariant(vs: IndexedSeq[Variant], idx: Int): Variant = {
    var i = idx
    var n = 0
    while (vs(i % vs.length).context.nonEmpty && n < vs.length) { i += 1; n += 1 }
    vs(i % vs.length)
  }

  /** Generate `nConvs` conversations × `turnsPerConv` turns. `mentionRate` of
    * turns carry one mention (entity chosen by hash; `nilRate` of mention
    * turns carry a NIL decoy instead; `typoRate` of entity mentions get a
    * deterministic one-char typo — the near-duplicate workload for the fuzzy
    * tier and the LSH pair generator). `multiRate` of mention turns carry a
    * SECOND `«…»` span (always a context-free entity variant, never NIL) —
    * the reference's data model allows multiple spans per sentence
    * (`data/sentences/test.jsonl` `spans` array), and the extractor must not
    * silently drop them. The default 0.0 keeps pre-multi-span corpora
    * byte-identical. */
  def generate(spark: SparkSession, entries: Seq[OntologyEntry], nConvs: Long,
      turnsPerConv: Int = 8, seed: Long = 42L, mentionRate: Double = 0.7,
      nilRate: Double = 0.1, typoRate: Double = 0.03,
      multiRate: Double = 0.0, tableRate: Double = 0.0): DataFrame = {
    val vs = variants(entries)
    val bVs = spark.sparkContext.broadcast(vs)
    val bTd = spark.sparkContext.broadcast(
      if (tableRate > 0) tableDefaultVariants(entries) else IndexedSeq.empty[Variant])
    val bSafe = spark.sparkContext.broadcast(
      if (tableRate > 0) tableSafeVariants(entries) else IndexedSeq.empty[Variant])
    val bNil = spark.sparkContext.broadcast(NilDecoys.toIndexedSeq)
    val bPre = spark.sparkContext.broadcast(prefixes)
    val bSuf = spark.sparkContext.broadcast(suffixes)
    val bFill = spark.sparkContext.broadcast(fillers)

    import spark.implicits._
    val mentionThreshold = (mentionRate * (1L << 32)).toLong
    val nilThreshold = (nilRate * (1L << 32)).toLong
    val typoThreshold = (typoRate * (1L << 32)).toLong
    val multiThreshold = (multiRate * (1L << 32)).toLong
    val tableThreshold = (tableRate * (1L << 32)).toLong
    val tdThreshold = (TableDefaultShare * (1L << 32)).toLong

    spark.range(nConvs * turnsPerConv)
      .select(
        (col("id") / turnsPerConv).cast("long").as("conv"),
        (col("id") % turnsPerConv).cast("int").as("turn_idx"))
      .mapPartitions { rows =>
        val vsL = bVs.value; val tdL = bTd.value; val safeL = bSafe.value
        val nilL = bNil.value
        val preL = bPre.value; val sufL = bSuf.value; val fillL = bFill.value
        rows.map { r =>
          val conv = r.getLong(0); val turn = r.getInt(1)
          def h(salt: Long): Long = splitmix(seed, conv, turn, salt)
          def pick(salt: Long, n: Int): Int = ((h(salt) >>> 1) % n).toInt
          val convId = f"c$conv%010d"
          val role = roles(turn % roles.length)
          val tool = tools(pick(5, tools.length))
          val hasMention = (h(1) >>> 32) < mentionThreshold
          val text =
            if (!hasMention) fillL(pick(2, fillL.length))
            else {
              val isNil = (h(3) >>> 32) < nilThreshold
              val isTable = !isNil && tdL.nonEmpty && safeL.nonEmpty &&
                (h(15) >>> 32) < tableThreshold
              if (isTable) {
                // a tool-extracted HTML results table with the mention in a
                // cell — clean cell values (no typos: tables carry pasted
                // parameter names), filler rows from the NIL decoy list
                val v =
                  if ((h(16) >>> 32) < tdThreshold) tdL(pick(17, tdL.length))
                  else safeL(pick(17, safeL.length))
                val mentionRow = 1 + pick(18, 3)
                val sb = new StringBuilder(
                  "<table><tr><th>Parameter</th><th>Value</th><th>Units</th></tr>")
                var ri = 1
                while (ri <= 3) {
                  if (ri == mentionRow)
                    sb.append(s"<tr><td>«${v.surface}»</td><td>3.2</td><td>L/h</td></tr>")
                  else {
                    val d = nilL(pick(20 + ri, nilL.length))
                    val value = (pick(30 + ri, 90) + 10) / 10.0
                    sb.append(s"<tr><td>$d</td><td>$value</td><td>mg</td></tr>")
                  }
                  ri += 1
                }
                sb.append("</table>").toString
              } else {
                val (surface, ctx) =
                  if (isNil) (nilL(pick(4, nilL.length)), "")
                  else {
                    val v = vsL(pick(6, vsL.length))
                    val s = if ((h(9) >>> 32) < typoThreshold) typo(v.surface, h(10)) else v.surface
                    (s, v.context)
                  }
                val pre = preL(pick(7, preL.length))
                val suf = sufL(pick(8, sufL.length))
                val ctxPart = if (ctx.nonEmpty) s" $ctx" else ""
                val second =
                  if ((h(11) >>> 32) < multiThreshold) {
                    val v2 = plainVariant(vsL, pick(12, vsL.length))
                    val s2 = if ((h(13) >>> 32) < typoThreshold) typo(v2.surface, h(14)) else v2.surface
                    s" and the «$s2» estimate"
                  } else ""
                s"$pre «$surface»$ctxPart$second $suf"
              }
            }
          val ts = new java.sql.Timestamp(1700000000000L + conv * 3600000L + turn * 60000L)
          (convId, turn, role, text, tool, ts)
        }
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** Gold entity of a generated turn's first span, re-derived from
    * [[generate]]'s draws (evaluation only, never the pipeline). */
  private def goldForVariants(vs: IndexedSeq[Variant], seed: Long, conv: Long, turn: Int,
      mentionRate: Double = 0.7, nilRate: Double = 0.1,
      tableRate: Double = 0.0, tdVs: IndexedSeq[Variant] = IndexedSeq.empty,
      safeVs: IndexedSeq[Variant] = IndexedSeq.empty): Option[String] = {
    def h(salt: Long): Long = splitmix(seed, conv, turn, salt)
    def pick(salt: Long, n: Int): Int = ((h(salt) >>> 1) % n).toInt
    val mentionThreshold = (mentionRate * (1L << 32)).toLong
    val nilThreshold = (nilRate * (1L << 32)).toLong
    val tableThreshold = (tableRate * (1L << 32)).toLong
    val tdThreshold = (TableDefaultShare * (1L << 32)).toLong
    if ((h(1) >>> 32) >= mentionThreshold) None
    else if ((h(3) >>> 32) < nilThreshold) Some("Q100")
    else if (tdVs.nonEmpty && safeVs.nonEmpty && (h(15) >>> 32) < tableThreshold) {
      // table turn: the table-default list's paramId is already Q57
      if ((h(16) >>> 32) < tdThreshold) Some(tdVs(pick(17, tdVs.length)).paramId)
      else Some(safeVs(pick(17, safeVs.length)).paramId)
    } else Some(vs(pick(6, vs.length)).paramId)
  }

  /** Span-indexed gold: one entry per embedded `«…»` span of the turn, in
    * span order (element 0 = `goldForVariants`; element 1 exists only for
    * multi-mention turns and is always a context-free entity). Mention ids
    * derive from (conv_id, turn_idx, span_idx), so evaluation joins gold by
    * the same triple. Per-row callers hoist `variants(entries)` (and, with
    * tables, the table-variant lists) out of the row loop, as
    * [[goldLabels]] does. */
  def goldSpansForVariants(vs: IndexedSeq[Variant], seed: Long, conv: Long, turn: Int,
      mentionRate: Double = 0.7, nilRate: Double = 0.1,
      multiRate: Double = 0.0, tableRate: Double = 0.0,
      tdVs: IndexedSeq[Variant] = IndexedSeq.empty,
      safeVs: IndexedSeq[Variant] = IndexedSeq.empty): Seq[String] = {
    def h(salt: Long): Long = splitmix(seed, conv, turn, salt)
    goldForVariants(vs, seed, conv, turn, mentionRate, nilRate,
      tableRate, tdVs, safeVs) match {
      case None => Seq.empty
      case Some(primary) =>
        val isTable = tdVs.nonEmpty && safeVs.nonEmpty &&
          (h(3) >>> 32) >= (nilRate * (1L << 32)).toLong &&
          (h(15) >>> 32) < (tableRate * (1L << 32)).toLong
        val multiThreshold = (multiRate * (1L << 32)).toLong
        if (!isTable && (h(11) >>> 32) < multiThreshold) {
          val idx = ((h(12) >>> 1) % vs.length).toInt
          Seq(primary, plainVariant(vs, idx).paramId)
        } else Seq(primary)
    }
  }

  /** Gold labels `(mention_id, gold)` of a generated corpus's extracted
    * mentions (`Pipeline.extractMentions` columns `mention_id`, `conv_id`,
    * `turn_idx`, `span_idx`), for a corpus generated with this `seed`,
    * `multiRate` and `tableRate` and the default mention and NIL rates.
    * Mentions with no gold span are left out. */
  def goldLabels(mentions: DataFrame, entries: Seq[OntologyEntry], seed: Long,
      multiRate: Double = 0.0, tableRate: Double = 0.0): DataFrame = {
    val vs = variants(entries)
    val tdVs = if (tableRate > 0) tableDefaultVariants(entries) else IndexedSeq.empty[Variant]
    val safeVs = if (tableRate > 0) tableSafeVariants(entries) else IndexedSeq.empty[Variant]
    val goldUdf = udf((convId: String, turn: Int, spanIdx: Int) =>
      goldSpansForVariants(vs, seed, convId.stripPrefix("c").toLong, turn,
        multiRate = multiRate, tableRate = tableRate, tdVs = tdVs, safeVs = safeVs)
        .lift(spanIdx).orNull)
    mentions
      .select(col("mention_id"), goldUdf(col("conv_id"), col("turn_idx"), col("span_idx")).as("gold"))
      .filter(col("gold").isNotNull)
  }
}
