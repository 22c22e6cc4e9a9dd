package pkel.link

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import pkel.model.OntologyEntry
import pkel.ontology.Ontology
import pkel.scoring.{Embedder, Similarity}

/** Tier 4: bi-encoder retrieval — cosine similarity between the mention
  * feature embedding and precomputed ontology embeddings, top-k + threshold +
  * category constraint + NIL fallback.
  *
  * Behavioral port of
  * `/root/reference/pk_el/linkers/representation_linkers.py:6-116`. The
  * ontology embedding matrix (75×d) is computed once driver-side and
  * broadcast; per-mention scoring runs in a `mapPartitions` kernel with a
  * bounded top-k selection — no shuffle. The encoder is the deterministic
  * stand-in (`pkel.scoring.Embedder`); swap in any `String => Array[Float]`.
  */
object BiencoderLinker {

  final case class OntologyVec(paramId: String, vec: Array[Float])

  def ontologyMatrix(entries: Seq[OntologyEntry], embedder: Embedder = Embedder.default): Array[OntologyVec] =
    entries.map(e => OntologyVec(e.parameterId, embedder.encode(Ontology.embeddingFeature(e)))).toArray

  /** Top-k by cosine, then threshold+constraint filter, then NIL fallback. */
  def retrieveOne(feature: String, matrix: Array[OntologyVec], embedder: Embedder,
      constraint: Set[String], k: Int, matchThreshold: Double): Seq[(String, Double)] = {
    val q = embedder.encode(feature)
    // bounded selection of top-k by (-score, paramId)
    val scored = new Array[(String, Double)](matrix.length)
    var i = 0
    while (i < matrix.length) {
      scored(i) = (matrix(i).paramId, Similarity.dot(q, matrix(i).vec))
      i += 1
    }
    val top = scored.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
    val filtered = top.filter { case (id, s) =>
      s >= matchThreshold && (constraint == null || constraint.contains(id))
    }
    if (filtered.isEmpty) Seq(("Q100", 0.0)) else filtered
  }

  final case class SweepPoint(threshold: Double, linked: Long, residue: Long, microF1: Double)

  /** Threshold-tuning sweep — behavioral port of
    * `scripts/linking/tuning/tune_biencoder_linker.py:36` (thresholds
    * {0.5…0.9} over the residue, evaluate each, keep the best). One linker
    * run per threshold over the same residue; `label` is the gold column.
    * Returns one point per threshold, in input order. */
  def sweep(spark: SparkSession, residue: DataFrame, entries: Seq[OntologyEntry],
      featureCol: String, thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.75, 0.8, 0.9),
      k: Int = 5, embedder: Embedder = Embedder.default): Seq[SweepPoint] =
    thresholds.map { thr =>
      val out = link(spark, residue, entries, featureCol, k, thr, embedder).cache()
      val linked = out.filter(col("status") === "linked").count()
      val resid = out.filter(col("status") === "unlinked").count()
      val f1 = pkel.eval.Metrics.evaluate(
        out.select(col("label").as("y_true"), col("y_pred"))).micF1
      out.unpersist(blocking = false)
      SweepPoint(thr, linked, resid, f1)
    }

  /** Deterministic best-threshold selection: max micro-F1, ties broken by
    * the LOWER threshold (more recall at equal quality). */
  def bestThreshold(points: Seq[SweepPoint]): SweepPoint =
    points.minBy(p => (-p.microF1, p.threshold))

  /** Run the bi-encoder tier over residue mentions.
    * Input columns: feature column `featureCol` (retrieval text),
    * subsetted_concepts (nullable array; when present, candidates outside a
    * non-null subset are dropped). Output: + (pred_ids, pred_scores,
    * y_pred, score, status, tier). */
  def link(spark: SparkSession, residue: DataFrame, entries: Seq[OntologyEntry],
      featureCol: String, k: Int = 5, matchThreshold: Double = 0.75,
      embedder: Embedder = Embedder.default): DataFrame = {
    val matrix = ontologyMatrix(entries, embedder)

    val outSchema = StructType(residue.schema.fields.toSeq ++ Seq(
      StructField("pred_ids", ArrayType(StringType)),
      StructField("pred_scores", ArrayType(DoubleType)),
      StructField("y_pred", StringType),
      StructField("score", DoubleType),
      StructField("status", StringType),
      StructField("tier", StringType)))

    val featIdx = residue.schema.fieldIndex(featureCol)
    val subsetIdx =
      if (residue.schema.fieldNames.contains("subsetted_concepts"))
        residue.schema.fieldIndex("subsetted_concepts")
      else -1

    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    residue.mapPartitions { rows =>
      rows.map { row =>
        val feature = if (row.isNullAt(featIdx)) "" else row.getString(featIdx)
        val constraint =
          if (subsetIdx >= 0 && !row.isNullAt(subsetIdx)) row.getSeq[String](subsetIdx).toSet
          else null
        val top = retrieveOne(feature, matrix, embedder, constraint, k, matchThreshold)
        val (yPred, score) = top.head
        val status = if (yPred == "Q100") "unlinked" else "linked"
        Row.fromSeq(row.toSeq ++ Seq(top.map(_._1), top.map(_._2), yPred, score, status, "biencoder"))
      }
    }(encoder)
  }
}
