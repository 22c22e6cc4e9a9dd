package pkel.link

import org.apache.spark.sql.functions._

import pkel.SparkSpec
import pkel.blocking.CategoryBlocker
import pkel.eval.Metrics
import pkel.io.MentionReader
import pkel.link.Cascade
import pkel.ontology.Ontology

class CascadeSpec extends SparkSpec {

  lazy val entries = Ontology.load()

  private def keyedFixture(modality: String) =
    ExactLinker.withBlockingKey(MentionReader.readJsonl(spark,
      resourcePath(s"/pkel/data/$modality/test.jsonl"), isTable = modality == "tables"))

  test("category blocking quality on sentence fixtures") {
    val sub = CategoryBlocker.withSubsets(keyedFixture("sentences"), entries)
    val stats = Metrics.evaluateSubsetMatching(spark, sub,
      Ontology.paramToCategory(entries), entries.size).head()
    val total = stats.getAs[Long]("total")
    val matched = stats.getAs[Long]("matched")
    val correctMatched = stats.getAs[Long]("correct_matched")
    val totalNonNil = stats.getAs[Long]("total_non_nil")
    info(s"matched $matched/$total; subset recall (non-NIL) = ${correctMatched.toDouble / totalNonNil}")
    // blocking must keep nearly all true candidates in the block
    assert(correctMatched.toDouble / totalNonNil > 0.9,
      s"subset recall too low: $correctMatched/$totalNonNil")
  }

  test("full cascade on sentence fixtures: micro-F1 and pairwise F1") {
    val preds = Cascade.run(spark, keyedFixture("sentences"), entries).predictions.cache()
    assert(preds.count() == 293, "cascade must emit exactly one prediction per mention")
    assert(preds.select("mention_id").distinct().count() == 293)

    val m = Metrics.evaluate(preds.select(col("label").as("y_true"), col("y_pred")))
    info(f"cascade micro-F1 (all mentions): ${m.micF1}%.4f  macro-F1: ${m.macF1}%.4f")
    preds.groupBy("tier", "status").count().collect().foreach(r => info(r.toString))

    val pw = Metrics.pairwiseF1(preds.select(col("label").as("gold"), col("y_pred").as("pred")))
    info(f"pairwise P=${pw.precision}%.4f R=${pw.recall}%.4f F1=${pw.f1}%.4f (tp=${pw.tp}, pred=${pw.predPairs}, gold=${pw.goldPairs})")
    val pwKey = Metrics.pairwiseF1AtBlockingKey(
      preds.select(col("label").as("gold"), col("blocking_key"), col("y_pred").as("pred")))
    info(f"pairwise@key P=${pwKey.precision}%.4f R=${pwKey.recall}%.4f F1=${pwKey.f1}%.4f (gold=${pwKey.goldPairs})")

    assert(m.micF1 > 0.80, f"cascade micro-F1 regressed: ${m.micF1}%.4f")
    assert(pw.f1 > 0.80, f"pairwise F1 regressed: ${pw.f1}%.4f")
    // Regression floor on the vendored fixtures: the residual same-key errors
    // (e.g. a bare 'Cmax' mention gold-labeled as the ratio Q33; a 't1/2'
    // mention with beta-phase context gold-labeled Q57) are reference-faithful
    // — the reference cascade makes the identical predictions. The ≥0.99
    // north-rule gate is enforced on the transcript pipeline, whose gold
    // labels are exact by construction (TranscriptPipelineSpec).
    assert(pwKey.f1 >= 0.98, f"pairwise F1 at blocking keys regressed: ${pwKey.f1}%.4f")
  }

  test("full cascade on table fixtures") {
    val preds = Cascade.run(spark, keyedFixture("tables"), entries).predictions.cache()
    assert(preds.count() == 275)
    val m = Metrics.evaluate(preds.select(col("label").as("y_true"), col("y_pred")))
    val pw = Metrics.pairwiseF1(preds.select(col("label").as("gold"), col("y_pred").as("pred")))
    info(f"tables cascade micro-F1: ${m.micF1}%.4f pairwise F1: ${pw.f1}%.4f")
    assert(m.micF1 > 0.80, f"tables micro-F1 regressed: ${m.micF1}%.4f")
  }

  test("fuzzy tier: deterministic tie-break ordering") {
    val index = Ontology.blockingIndex(entries)
    val kernel = FuzzyLinker.buildKernelIndex(index)
    val top = FuzzyLinker.topK(Seq("cl"), kernel, null, 10, 50.0)
    // ordering must be (-score, param_id)
    val sorted = top.sortBy { case (id, s) => (-s, id) }
    assert(top == sorted, s"tie-break violated: $top")
    // repeated invocations identical
    assert(top == FuzzyLinker.topK(Seq("cl"), kernel, null, 10, 50.0))
  }

  test("cascade input contract: un-keyed mentions fail the require") {
    val raw = MentionReader.readJsonl(spark, resourcePath("/pkel/data/sentences/test.jsonl"), isTable = false)
    val e = intercept[IllegalArgumentException](Cascade.run(spark, raw, entries))
    assert(e.getMessage.contains("mention, tokens, blocking_key"), e.getMessage)
  }

  test("per-mention cascade output is pinned by an order-independent digest") {
    // bit_xor of a per-row hash: independent of partitioning and row order,
    // sensitive to any change of one mention's prediction, tier, status or
    // score. The values are the cascade's output before the cascade took
    // keyed input and built retrieval features for the bi-encoder residue
    // only; both changes keep every row identical.
    def digest(modality: String): (Long, Long) = {
      val r = Cascade.run(spark, keyedFixture(modality), entries).predictions
        .agg(count(lit(1)), expr("bit_xor(xxhash64(mention_id, y_pred, tier, status, score))"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    assert(digest("sentences") == ((293L, 8510626364730370385L)))
    assert(digest("tables") == ((275L, -9035217638421210057L)))
  }
}
