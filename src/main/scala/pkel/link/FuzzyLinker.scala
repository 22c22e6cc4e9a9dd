package pkel.link

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import pkel.scoring.Similarity

/** Tier 2/3: category-constrained fuzzy scoring of the unlinked residue
  * against the ontology blocking index.
  *
  * Behavioral port of `/root/reference/pk_el/linkers/fuzzy_linker.py:8-186`:
  * token-mode scoring (`fuzzy_token_set_score`), threshold + deterministic
  * top-k (sort by (−score, param_id), dedup by id — `:52-60`), NIL fallback.
  *
  * Spark shape: the index is tiny (~160 keys) so it is closed over and
  * shipped once per executor; scoring runs in a batched `mapPartitions`
  * kernel over the residue — no shuffle, no per-row UDF boxing of the index.
  * A residue row carrying `subsetted_concepts` is scored only against those
  * concepts; a null subset leaves it unconstrained.
  */
object FuzzyLinker {

  final case class IndexEntry(keyTokens: Array[String], paramIds: Array[String])

  def buildKernelIndex(index: Seq[(String, Seq[String])]): Array[IndexEntry] =
    index.map { case (key, ids) =>
      val toks = if (key.isEmpty) Array.empty[String] else key.split(" ")
      IndexEntry(toks, ids.toArray)
    }.toArray

  /** Deterministic top-k for one mention (find_top_k_fuzzy_params_tokens). */
  def topK(tokens: Seq[String], index: Array[IndexEntry], constraint: Set[String],
      k: Int, threshold: Double): Seq[(String, Double)] = {
    val tokenSet = tokens.distinct
    val scored = Seq.newBuilder[(String, Double)]
    var i = 0
    while (i < index.length) {
      val e = index(i)
      val ids = if (constraint == null) e.paramIds else e.paramIds.filter(constraint.contains)
      if (ids.nonEmpty) {
        val score = Similarity.tokenSetScore(tokenSet, e.keyTokens.toSeq, 80.0)
        if (score >= threshold) ids.foreach(id => scored += ((id, score)))
      }
      i += 1
    }
    scored.result()
      .sortBy { case (id, s) => (-s, id) }
      .distinctBy(_._1)
      .take(k)
  }

  /** Typo-tolerant raw-surface pass (graft extension; the reference's
    * token-mode scoring cannot bridge typos because a typo'd token defeats
    * the regex canonicalization entirely). Scores the basic-normalized
    * mention against every unambiguous ontology surface with `indelRatio`;
    * links iff the best score ≥ `threshold` (default 90 — strict enough that
    * short confusable surfaces like cl/clr never cross it).
    * Input columns: `mention` + passthrough. Output: + (y_pred, score,
    * status, tier). */
  def linkRawSurface(spark: SparkSession, residue: DataFrame,
      surfaceIndex: Seq[(String, String)], threshold: Double = 90.0): DataFrame = {
    val index = surfaceIndex.toArray
    val outSchema = StructType(residue.schema.fields.toSeq ++ Seq(
      StructField("y_pred", StringType),
      StructField("score", DoubleType),
      StructField("status", StringType),
      StructField("tier", StringType)))
    val mentionIdx = residue.schema.fieldIndex("mention")
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    residue.mapPartitions { rows =>
      rows.map { row =>
        val mention = if (row.isNullAt(mentionIdx)) "" else row.getString(mentionIdx)
        val norm = pkel.text.BasicNormalizer(mention).trim.replaceAll("\\s+", " ")
        var bestScore = 0.0
        var bestId = "Q100"
        var i = 0
        while (i < index.length) {
          val s = Similarity.indelRatio(norm, index(i)._1)
          if (s > bestScore || (s == bestScore && bestId > index(i)._2)) {
            bestScore = s; bestId = index(i)._2
          }
          i += 1
        }
        val (yPred, status) =
          if (bestScore >= threshold) (bestId, "linked") else ("Q100", "unlinked")
        Row.fromSeq(row.toSeq ++ Seq(yPred, if (bestScore >= threshold) bestScore else 0.0, status, "fuzzy_surface"))
      }
    }(encoder)
  }

  /** Run the fuzzy tier over residue mentions.
    * Input columns: mention_id, label, tokens, subsetted_concepts (nullable).
    * Output: input + (pred_ids, pred_scores, y_pred, score, status, tier). */
  def link(spark: SparkSession, residue: DataFrame, index: Seq[(String, Seq[String])],
      k: Int = 10, matchThreshold: Double = 80.0): DataFrame = {
    val kernelIndex = buildKernelIndex(index)

    val outSchema = StructType(residue.schema.fields.toSeq ++ Seq(
      StructField("pred_ids", ArrayType(StringType)),
      StructField("pred_scores", ArrayType(DoubleType)),
      StructField("y_pred", StringType),
      StructField("score", DoubleType),
      StructField("status", StringType),
      StructField("tier", StringType)))

    val tokensIdx = residue.schema.fieldIndex("tokens")
    val subsetIdx =
      if (residue.schema.fieldNames.contains("subsetted_concepts"))
        residue.schema.fieldIndex("subsetted_concepts")
      else -1

    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    residue.mapPartitions { rows =>
      rows.map { row =>
        val tokens = row.getSeq[String](tokensIdx)
        // constrained even when the subset is empty (⇒ guaranteed NIL), as in
        // the reference (`fuzzy_linker.py:136-142`)
        val constraint =
          if (subsetIdx >= 0 && !row.isNullAt(subsetIdx)) row.getSeq[String](subsetIdx).toSet
          else null
        val top = topK(tokens, kernelIndex, constraint, k, matchThreshold)
        val (yPred, score, status) = top.headOption match {
          case Some((id, s)) if s >= matchThreshold => (id, s, "linked")
          case _ => ("Q100", 0.0, "unlinked")
        }
        Row.fromSeq(row.toSeq ++ Seq(top.map(_._1), top.map(_._2), yPred, score, status, "fuzzy"))
      }
    }(encoder)
  }
}
