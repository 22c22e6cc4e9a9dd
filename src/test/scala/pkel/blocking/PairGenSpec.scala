package pkel.blocking

import org.apache.spark.sql.functions._

import pkel.SparkSpec
import pkel.cluster.ConnectedComponents

class PairGenSpec extends SparkSpec {

  import spark.implicits._

  private def mentionsDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("mention_id", "blocking_key", "mention")
      .withColumn("tokens", split(col("blocking_key"), " "))

  private def componentsOf(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    ConnectedComponents.run(spark, pairs.select("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("same-key mentions are always transitively connected, at any salt") {
    val rows = (1L to 200L).map(i => (i, if (i % 3 == 0) "auc inf" else "cl", s"m$i"))
    val df = mentionsDf(rows)
    Seq(
      PairGen.Config(targetBucketSize = Int.MaxValue), // unsalted
      PairGen.Config(targetBucketSize = 5),
      PairGen.Config(targetBucketSize = 64)
    ).foreach { cfg =>
      val comps = componentsOf(PairGen.candidatePairs(df, cfg))
      val byKey = rows.groupBy(_._2).values.toSeq
      byKey.foreach { group =>
        val ids = group.map(_._1)
        val roots = ids.map(comps.getOrElse(_, -1L)).distinct
        assert(roots.size == 1, s"cfg=$cfg split key group: $roots")
      }
    }
  }

  test("adaptive salting caps pair production on hot keys") {
    val hot = (1L to 2000L).map(i => (i, "t1/2", s"m$i"))
    val cfgAll = PairGen.Config(targetBucketSize = Int.MaxValue) // unsalted
    val cfgSalted = PairGen.Config(targetBucketSize = 32)
    val nAll = PairGen.candidatePairs(mentionsDf(hot), cfgAll).count()
    val nSalted = PairGen.candidatePairs(mentionsDf(hot), cfgSalted).count()
    info(s"all-pairs=$nAll salted=$nSalted")
    assert(nAll == 2000L * 1999 / 2)
    assert(nSalted < nAll / 10, "salting must collapse quadratic hot-key pair counts")
    // connectivity preserved
    val comps = componentsOf(PairGen.candidatePairs(mentionsDf(hot), cfgSalted))
    assert(comps.values.toSet.size == 1)
  }

  test("pairs carry correct features for both sides") {
    val df = mentionsDf(Seq((1L, "cl", "CL"), (2L, "cl", "clearance"), (3L, "auc", "AUC")))
    val pairs = PairGen.candidatePairsWithFeatures(df, PairGen.Config(targetBucketSize = Int.MaxValue))
      .collect()
    val p = pairs.find(r => r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(p.isDefined, s"missing (2,1) pair in ${pairs.mkString(",")}")
    assert(p.get.getString(2) == "cl" && p.get.getString(3) == "cl")
    assert(p.get.getString(4) == "clearance" && p.get.getString(5) == "CL")
  }

  private lazy val degenerate = (1L to 12L).map(i =>
    (i, s"auc inf ss pad$i", s"m$i")).toDF("mention_id", "blocking_key", "mention")
    .withColumn("tokens", split(lit("auc inf ss"), " ")) // shared token set

  private lazy val cleanPair = mentionsDf(Seq((1L, "cl a", "x"), (2L, "cl b", "y")))

  test("LSH oversize-bucket drop is counted, never silent") {
    // 12 DISTINCT blocking keys sharing one token set → identical minhash
    // signatures → every band buckets all 12 reps together; maxBucketSize=5
    // drops those buckets wholesale (the scale guard under test). The
    // all-dropped case is the adversarial one: AQE rewrites the emptied join
    // to EmptyRelation, which is exactly why the counter rides accumulators
    // and not a CollectMetrics node (see PairDropMetrics scaladoc).
    val cfg = PairGen.Config(maxBucketSize = 5)
    val d = PairDropMetrics(spark)
    val n = PairGen.lshPairs(degenerate, cfg, d).count()
    info(s"lsh pairs=$n drops=${d.counters}")
    assert(n == 0, "oversized buckets must be dropped wholesale")
    assert(!d.totalBuckets.isZero, "drop counters missing")
    assert(d.droppedBuckets.value >= 1, s"expected dropped buckets, got ${d.counters}")
    assert(d.droppedMembers.value >= 12L, s"expected >= 12 dropped members, got ${d.counters}")
    assert(d.totalBuckets.value >= d.droppedBuckets.value)
    // and a clean run reports zero drops but counts its buckets
    val clean = PairDropMetrics(spark)
    PairGen.lshPairs(cleanPair, cfg, clean).count()
    assert(clean.droppedBuckets.value == 0L && clean.totalBuckets.value > 0L,
      s"clean run should count buckets with zero drops: ${clean.counters}")
  }

  test("drop counters belong to the call: two calls in one job never mix their counts") {
    val cfg = PairGen.Config(maxBucketSize = 5)
    val dirty = PairDropMetrics(spark)
    val clean = PairDropMetrics(spark)
    PairGen.lshPairs(degenerate, cfg, dirty)
      .unionByName(PairGen.lshPairs(cleanPair, cfg, clean))
      .count()
    assert(dirty.droppedBuckets.value >= 1 && dirty.droppedMembers.value >= 12L,
      s"the degenerate call's drops: ${dirty.counters}")
    assert(clean.droppedBuckets.value == 0L && clean.droppedMembers.value == 0L,
      s"the clean call recorded another call's drops: ${clean.counters}")
    assert(clean.totalBuckets.value > 0L, s"the clean call's buckets: ${clean.counters}")
    assert(clean.prunedPairs.isZero && dirty.prunedPairs.isZero)
  }

  test("LSH connects near-duplicate keys via representatives") {
    // two keys with high token overlap → same band with high probability
    val df = mentionsDf(Seq(
      (1L, "auc inf ss t mrt", "a"), (2L, "auc inf ss t mrt", "b"),
      (3L, "auc inf ss t mrt extra", "c")))
    val pairs = PairGen.lshPairs(df, PairGen.Config())
    // reps are 1 (key1) and 3 (key2); at least one band must bucket them
    val got = pairs.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((3L, 1L)), s"expected rep pair (3,1), got $got")
  }
}
