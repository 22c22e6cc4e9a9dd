package pkel.scoring

import org.apache.spark.sql.functions._
import pkel.SparkSpec
import pkel.blocking.PairGen

/** Pins the kernel-fused bucket scoring path (`scoreCandidates`) to the
  * relational reference path (`scorePairs` over exploded candidate pairs),
  * and the bucket kernel to its one-key-per-bucket contract. */
class PairScorerSpec extends SparkSpec {

  import spark.implicits._

  private def keyedDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("mention_id", "blocking_key", "mention")
      .withColumn("tokens", split(col("blocking_key"), " "))

  private val corpus = keyedDf(
    (1L to 300L).map { i =>
      val key = i % 5 match {
        case 0 => "auc inf"; case 1 => "cl"; case 2 => "auc ss"
        case 3 => "t1/2"; case _ => "vd ss"
      }
      (i, key, s"surface ${key.toUpperCase} $i")
    })

  // every surface distinct: the kernel's per-partition memos never hit
  private val unique = keyedDf((1L to 120L).map(i => (i, "cl", s"unique-surface-$i")))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("src"), col("dst"), (col("score") * 1e6).cast("long").as("score_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("scoreCandidates == scorePairs over candidatePairsWithFeatures (pair set + scores)") {
    val cfg = PairGen.Config(adaptiveSalt = true, targetBucketSize = 16)
    val scored = PairScorer.scoreCandidates(corpus, cfg)
    assert(scored.columns.toSeq == Seq("src", "dst", "key_sim", "jw_sim", "cos_sim", "score"),
      "lean output must carry ids and scores only")
    val viaKernel = rowsOf(scored)
    val viaRows = rowsOf(PairScorer.scorePairs(PairGen.candidatePairsWithFeatures(corpus, cfg)))
    assert(viaKernel == viaRows,
      s"kernel-only: ${(viaKernel -- viaRows).take(5)}; rows-only: ${(viaRows -- viaKernel).take(5)}")
    assert(viaKernel.nonEmpty)
  }

  test("scoreCandidates rows are invariant to shuffle-partition count") {
    val cfg = PairGen.Config(adaptiveSalt = true, targetBucketSize = 16)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = rowsOf(PairScorer.scoreCandidates(corpus.repartition(3), cfg))
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      val b = rowsOf(PairScorer.scoreCandidates(corpus.repartition(11), cfg))
      assert(a == b, "pair set + scores must not depend on physical layout")
      assert(a.nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("unique-surface corpus (memo-miss regime): vec path scores each mention once") {
    // every surface distinct -> the embedding and surface-pair memos never
    // hit; the kernel must still match the relational path and emit each
    // unordered mention pair exactly once
    val cfg = PairGen.Config(adaptiveSalt = false, saltBuckets = 2)
    val scored = PairScorer.scoreCandidates(unique, cfg)
      .select(col("src"), col("dst"), (col("score") * 1e6).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaRows = rowsOf(PairScorer.scorePairs(PairGen.candidatePairsWithFeatures(unique, cfg)))
    assert(scored.toSet == viaRows,
      s"kernel-only: ${(scored.toSet -- viaRows).take(5)}; rows-only: ${(viaRows -- scored.toSet).take(5)}")
    val pairs = scored.map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }
    assert(pairs.distinct.size == pairs.size, "a mention pair was scored more than once")
    assert(pairs.forall { case (a, b) => a != b }, "self pair emitted")
    assert(pairs.flatMap { case (a, b) => Seq(a, b) }.toSet == (1L to 120L).toSet,
      "every mention must be scored")
  }

  test("bucket kernel fails the task on a mixed-key or empty-key bucket") {
    def bucket(members: (Long, String, String)*) =
      members.toDF("mention_id", "blocking_key", "mention")
        .agg(collect_list(struct(col("mention_id"), col("blocking_key"), col("mention"))).as("ms"))
    def rejects(members: (Long, String, String)*): Boolean = {
      val e = intercept[org.apache.spark.SparkException](
        PairScorer.scoreBuckets(bucket(members: _*)).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("one non-empty blocking key")))
    }
    assert(PairScorer.scoreBuckets(bucket((3L, "cl", "x"), (1L, "cl", "y"), (2L, "cl", "x")))
      .count() == 3)
    assert(rejects((1L, "cl", "x"), (2L, "auc inf", "y")), "mixed-key bucket must fail")
    assert(rejects((1L, "", "x"), (2L, "", "y")), "empty-key bucket must fail")
    assert(rejects((1L, "cl", "x"), (2L, null, "y")), "null-key member must fail")
  }
}
