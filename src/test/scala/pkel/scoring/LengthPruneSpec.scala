package pkel.scoring

import org.apache.spark.sql.functions._
import pkel.SparkSpec
import pkel.blocking.{PairDropMetrics, PairGen}

/** Pins the length-bound candidate prune (`PairScorer.lengthBound`):
  *
  *  - SOUNDNESS of the bound itself: for any two strings,
  *    indelRatio(a,b) ≤ 200·min(|a|,|b|)/(|a|+|b|) (LCS ≤ min length), so
  *    the relational bound column really is an upper bound on key_sim;
  *  - INVARIANCE: pruned scoring emits a subset of unpruned scoring, every
  *    dropped pair scores strictly below the threshold, and the edge set
  *    (score ≥ θ) — hence the clusters — is identical;
  *  - NO SILENT CAP: every dropped pair is counted into PairDropMetrics.
  */
class LengthPruneSpec extends SparkSpec {

  import spark.implicits._

  private val theta = 0.90
  private val w = PairScorer.Weights()

  test("indelRatio is bounded by 200*min/(sum) for random strings") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefg /12"
    def randStr(): String =
      (0 until rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 2000).foreach { _ =>
      val a = randStr(); val b = randStr()
      val total = a.length + b.length
      val bound = if (total == 0) 100.0 else 200.0 * math.min(a.length, b.length) / total
      val r = Similarity.indelRatio(a, b)
      assert(r <= bound + 1e-9, s"indelRatio($a, $b) = $r > bound $bound")
    }
  }

  /** Corpus engineered so MinHash-LSH emits cross-key pairs with BOTH small
    * and large key-length gaps: high token overlap (bands collide) but one
    * key family carries a long extra token (length ratio > 1.5 → prunable
    * at θ = 0.9 with default weights). */
  private lazy val corpus = {
    val rows =
      (1L to 40L).map(i => (i, "aa bb cc dd ee", s"surface A $i")) ++
        (41L to 80L).map(i => (i, "aa bb cc dd ee ff", s"surface B $i")) ++
        (81L to 120L).map(i =>
          (i, "aa bb cc dd ee zzzzzzzzzzzzzzzzzzzzzzzz", s"surface C $i"))
    rows.toDF("mention_id", "blocking_key", "mention")
      .withColumn("tokens", split(col("blocking_key"), " "))
  }

  private val cfg = PairGen.Config(targetBucketSize = 16)

  private def scoredRows(minScore: Option[Double], drops: PairDropMetrics = PairDropMetrics(spark)) =
    PairScorer.scoreCandidates(corpus, cfg, w, minScore = minScore, drops = drops)
      .select(col("src"), col("dst"), (col("score") * 1e6).cast("long").as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("pruned scoring = unpruned minus provably-sub-threshold pairs; edges invariant") {
    val unpruned = scoredRows(None)
    val drops = PairDropMetrics(spark)
    val pruned = scoredRows(Some(theta), drops)

    assert(pruned.subsetOf(unpruned), "prune must never add or rescore pairs")
    val dropped = unpruned -- pruned
    assert(dropped.nonEmpty,
      "corpus must exercise the prune (long-key family should generate prunable LSH pairs)")
    val thetaQ = (theta * 1e6).toLong
    dropped.foreach { case (s, d, q) =>
      assert(q < thetaQ, s"pruned pair ($s,$d) scored $q >= theta — unsound bound")
    }
    // identical edge sets → identical connected components → identical clusters
    val edgesUnpruned = unpruned.filter(_._3 >= thetaQ).map(t => (t._1, t._2))
    val edgesPruned = pruned.filter(_._3 >= thetaQ).map(t => (t._1, t._2))
    assert(edgesUnpruned == edgesPruned, "edge set must be prune-invariant")
    // every drop is counted
    assert(drops.prunedPairs.value == dropped.size.toLong,
      s"counter must equal dropped pairs: ${drops.counters} vs ${dropped.size}")
  }

  test("lengthBound column upper-bounds the kernel score on every scored pair") {
    // scorePairs keeps key_a/key_b on its output rows, so the bound column
    // evaluates directly against the kernel's score on the same row
    val checked = PairScorer.scorePairs(PairGen.candidatePairsWithFeatures(corpus, cfg), w)
      .withColumn("bound", PairScorer.lengthBound(w))
      .filter(col("score") > col("bound") + lit(1e-9))
    assert(checked.count() == 0, s"score exceeded bound: ${checked.take(3).toSeq}")
  }
}
