package pkel.ontology

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}

import pkel.model.OntologyEntry
import pkel.text.PkTokenizer

/** Ontology (knowledge-base) loading, mappings, and the exact blocking index.
  *
  * Behavioral port of `/root/reference/pk_el/ontology_preprocessing.py:13-111`
  * and the index build in `/root/reference/pk_el/linkers/exact_linker.py:53-82`.
  * The ontology is tiny (75 entries + NIL): it is loaded driver-side once and
  * broadcast into every join/kernel that needs it.
  */
object Ontology {

  private val jackson = new ObjectMapper()

  /** Parse the synonyms cell: JSON list, else comma-split fallback. */
  def parseSynonyms(raw: String): Seq[String] = {
    if (raw == null) return Seq.empty
    val v = raw.trim
    if (v.isEmpty) Seq.empty
    else if (v.startsWith("[") && v.endsWith("]")) {
      try {
        val node = jackson.readTree(v)
        if (node.isArray) {
          val out = Seq.newBuilder[String]
          node.forEach(n => out += n.asText())
          out.result()
        } else Seq.empty
      } catch { case _: Exception => Seq.empty }
    } else v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Load from the bundled resource (vendored public KB CSV). */
  def load(removeNil: Boolean = true): Seq[OntologyEntry] = {
    val in = getClass.getResourceAsStream("/pkel/pk_kb.csv")
    require(in != null, "bundled ontology resource missing")
    try loadFromReader(new java.io.InputStreamReader(in, "UTF-8"), removeNil)
    finally in.close()
  }

  private def loadFromReader(reader: java.io.Reader, removeNil: Boolean): Seq[OntologyEntry] = {
    val settings = new CsvParserSettings()
    settings.setHeaderExtractionEnabled(true)
    settings.setMaxCharsPerColumn(65536)
    val parser = new CsvParser(settings)
    val rows = parser.parseAllRecords(reader)
    val out = Seq.newBuilder[OntologyEntry]
    rows.forEach { rec =>
      def s(col: String): String = Option(rec.getString(col)).getOrElse("").trim
      val e = OntologyEntry(
        categoryId = s("category_id"),
        parameterCategory = s("parameter_category"),
        parameterId = s("parameter_id"),
        parameterName = s("parameter_name"),
        parameterSynonyms = parseSynonyms(rec.getString("parameter_synonyms")),
        parameterDescription = s("parameter_description"),
        units = s("units"))
      if (!removeNil || (e.parameterId != "Q100" && e.categoryId != "G100")) out += e
    }
    out.result()
  }

  /** param_id → category_id map. */
  def paramToCategory(entries: Seq[OntologyEntry]): Map[String, String] =
    entries.iterator.filter(e => e.parameterId.nonEmpty && e.categoryId.nonEmpty)
      .map(e => e.parameterId -> e.categoryId).toMap

  /** category_id → param ids (insertion order preserved). */
  def categoryToParams(entries: Seq[OntologyEntry]): Map[String, Seq[String]] = {
    val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    entries.foreach(e => m.getOrElseUpdate(e.categoryId, mutable.ArrayBuffer.empty) += e.parameterId)
    m.view.mapValues(_.toSeq).toMap
  }

  /** THE exact blocking index: canonical token-set key → parameter ids, in
    * first-seen order (`exact_linker.py:53-82`). A key maps to >1 id only for
    * genuinely ambiguous surface forms (e.g. t1/2 family, km). Keys are the
    * space-joined sorted-distinct PK tokens of each name/synonym variant. */
  def blockingIndex(entries: Seq[OntologyEntry]): Seq[(String, Seq[String])] = {
    val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    entries.foreach { e =>
      val variants = e.parameterName +: e.parameterSynonyms.filter(_.nonEmpty)
      variants.foreach { name =>
        val key = PkTokenizer.blockingKey(name)
        val ids = m.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        if (!ids.contains(e.parameterId)) ids += e.parameterId
      }
    }
    m.iterator.map { case (k, v) => (k, v.toSeq) }.toSeq
  }

  /** Raw-surface index for typo-tolerant fuzzy linking (graft extension):
    * basic-normalized variant surface → parameter id. Surfaces claimed by
    * more than one entity are dropped (ambiguity is the exact tier's job). */
  def surfaceIndex(entries: Seq[OntologyEntry]): Seq[(String, String)] = {
    val m = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
    entries.foreach { e =>
      (e.parameterName +: e.parameterSynonyms.filter(_.nonEmpty)).foreach { v =>
        val key = pkel.text.BasicNormalizer(v).trim.replaceAll("\\s+", " ")
        if (key.nonEmpty)
          m.getOrElseUpdate(key, mutable.LinkedHashSet.empty) += e.parameterId
      }
    }
    m.iterator.collect { case (k, ids) if ids.size == 1 => (k, ids.head) }.toSeq
  }

  /** Ontology → LLM prompt block (P12, `ontology_preprocessing.py:114-136`);
    * used by the pluggable external-scorer tier. */
  def formatForLlm(entries: Seq[OntologyEntry]): String =
    entries.map { e =>
      val syns = if (e.parameterSynonyms.nonEmpty) e.parameterSynonyms.mkString(" | ") else "N/A"
      s"""[PARAM_NAME] ${e.parameterName}
         |        [DESC] ${if (e.parameterDescription.nonEmpty) e.parameterDescription else "N/A"}
         |        [SYN] $syns
         |        [UNIT] ${if (e.units.nonEmpty) e.units else "N/A"}
         |        [CATEGORY] ${if (e.parameterCategory.nonEmpty) e.parameterCategory else "N/A"}""".stripMargin
    }.mkString("\n\n")

  /** Embedding text feature per entry
    * (`ontology_preprocessing.py:139-171`): `[PARAM] name [SYN] a | b
    * [DESC] … [UNIT] …`, name lowercased as in
    * `prepare_ontology_for_embedding` (`:174-188`). */
  def embeddingFeature(e: OntologyEntry): String = {
    val parts = Seq.newBuilder[String]
    parts += s"[PARAM] ${e.parameterName.toLowerCase.trim}"
    val syn = e.parameterSynonyms.filter(_.nonEmpty).map(_.trim).mkString(" | ")
    if (syn.nonEmpty) parts += s"[SYN] $syn"
    if (e.parameterDescription.nonEmpty) parts += s"[DESC] ${e.parameterDescription.trim}"
    if (e.units.nonEmpty) parts += s"[UNIT] ${e.units.trim}"
    parts.result().mkString(" ")
  }
}
