package pkel.blocking

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Candidate-pair generation: salted token-sorted blocking keys + MinHash-LSH
  * band buckets (BASELINE.json north_star).
  *
  * Scale posture:
  * - pair production is the quadratic danger zone; every blocking key is
  *   salted ADAPTIVELY — salt_n = ceil(key_n / targetBucketSize), uncapped —
  *   so every bucket holds ≈ `targetBucketSize` members and per-key pair
  *   cost is O(n·target), not O(n²), at any skew; a star over bucket
  *   representatives (every rep → the key's min-id rep) keeps each key's
  *   mentions transitively connected at graph diameter 2, so clusters are
  *   salt-invariant and the connected-components fixpoint contracts in O(1)
  *   rounds. A test that wants one bucket per key sets
  *   `targetBucketSize = Int.MaxValue` (salt_n = 1 for every key);
  * - production scoring (`PairScorer.scoreCandidates`) never materializes
  *   salted pairs as rows: one window pass on `blocking_key` (key frequency)
  *   and one `groupBy(bucket_key)` build the [[saltedBucketTable]] of
  *   (mention_id, blocking_key) members, and the bucket kernel enumerates
  *   each bucket's pairs in place. The rep star reads a second [[annotated]]
  *   in the same plan, so the blocking_key exchange runs once and is
  *   reused. Neither reads a surface: same-key pairs score 1.0. The relational
  *   [[candidatePairsWithFeatures]] — the kernel's spec oracle — enumerates
  *   the same pairs with a streaming bucket self-join;
  * - MinHash-LSH runs over *distinct* blocking keys (one representative
  *   mention per key): all mentions of a key share one token set, so banding
  *   them individually would replicate every hot key's block once per band.
  *   Degenerate (oversized) LSH buckets are dropped wholesale, counted into
  *   the call's own [[PairDropMetrics]];
  * - the one scoring feature carried through LSH pairs (and the oracle's
  *   pairs) is the raw `mention` surface; the scorer embeds it through its
  *   per-task `SurfaceSims` cache;
  * - duplicate pairs across generators are tolerated downstream (CC dedupes
  *   edges; scoring is idempotent) — no global distinct shuffle.
  */
object PairGen {

  final case class Config(
      maxBucketSize: Int = 1000,     // LSH buckets above this are dropped
      targetBucketSize: Int = 64)    // salted buckets: aim C(target,2) pairs each

  /** MinHash signature length and LSH band count (4 rows per band). */
  private val MinhashFunctions = 32
  private val LshBands = 8

  /** MinHash signature of a token set: k seeded min-hashes. */
  def minhash(tokens: Seq[String], k: Int): Array[Int] = {
    val sig = Array.fill(k)(Int.MaxValue)
    tokens.foreach { t =>
      var i = 0
      while (i < k) {
        val h = MurmurHash3.stringHash(t, 0x2545F491 + i * 0x9E3779B9)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** LSH band hashes of a signature: `bands` values, each hashing k/bands rows. */
  def bandHashes(sig: Array[Int], bands: Int): Array[Long] = {
    val rows = math.max(1, sig.length / bands)
    Array.tabulate(bands) { b =>
      var h = 1125899906842597L
      var i = b * rows
      val end = math.min(sig.length, (b + 1) * rows)
      while (i < end) { h = 31 * h + sig(i); i += 1 }
      (b.toLong << 56) ^ (h & 0x00FFFFFFFFFFFFFFL)
    }
  }

  private val minhashUdf = udf((tokens: Seq[String], k: Int, bands: Int) =>
    bandHashes(minhash(Option(tokens).getOrElse(Seq.empty), k), bands))

  /** Bucket-member columns: the pair endpoints' ids, keys and the one
    * scoring feature, the raw mention surface. */
  private val memberCols = Seq("mention_id", "blocking_key", "mention")

  /** All (src>dst) pairs within each bucket as a streaming self-join on
    * `bucket_key`: O(members) memory per bucket at any bucket size. `buckets`
    * columns: bucket_key, mention_id, blocking_key, mention. With `drops`,
    * buckets above `maxBucketSize` are dropped and counted into it. */
  private def pairsInBucketsJoin(buckets: DataFrame, maxBucketSize: Int,
      drops: Option[PairDropMetrics]): DataFrame = {
    val (boundedA, boundedB) = drops match {
      case None => (buckets, buckets)
      case Some(m) =>
        // the filter over the bucket-count aggregate (computed anyway)
        // counts what it discards. Only the a-side carries the counting
        // UDF — the self-join's b-side applies the plain predicate, so each
        // bucket is counted exactly once per executed plan. The UDF is
        // nondeterministic so Catalyst never duplicates or collapses it; it
        // runs over O(buckets) count rows, never over pair rows.
        val counts = buckets.groupBy("bucket_key").agg(count(lit(1)).as("bucket_n"))
        val (total, dropped, members) = (m.totalBuckets, m.droppedBuckets, m.droppedMembers)
        val keepCounting = udf { (n: Long) =>
          total.add(1L)
          if (n > maxBucketSize) { dropped.add(1L); members.add(n); false }
          else true
        }.asNondeterministic()
        (buckets.join(counts.filter(keepCounting(col("bucket_n"))), "bucket_key"),
          buckets.join(counts.filter(col("bucket_n") <= maxBucketSize), "bucket_key"))
    }
    val a = boundedA.select(col("bucket_key"), col("mention_id").as("src"),
      col("blocking_key").as("key_a"), col("mention").as("mention_a"))
    val b = boundedB.select(col("bucket_key"), col("mention_id").as("dst"),
      col("blocking_key").as("key_b"), col("mention").as("mention_b"))
    a.join(b, Seq("bucket_key"))
      .filter(col("src") > col("dst"))
      .select("src", "dst", "key_a", "key_b", "mention_a", "mention_b")
  }

  /** Per-key annotation in a single exchange on blocking_key: key frequency
    * (salt factor) via an unordered count window. The downstream
    * per-(key,salt) rep aggregation and the rep-star window reuse this
    * partitioning — no further key-side exchange. A plan that reads it
    * twice (the bucket table and the rep star) runs the exchange once: the
    * second read is a ReusedExchange. */
  def annotated(mentions: DataFrame, cfg: Config = Config()): DataFrame = {
    // project EARLY (guide §2.3): at most (mention_id, blocking_key, mention)
    // ride the key exchange + count window, and only the relational oracle
    // reads `mention` — in `PairScorer.scoreCandidates` Catalyst prunes it,
    // so the exchange carries (mention_id, blocking_key). The tokens array —
    // the fattest input column, consumed solely by the LSH path's key-rep
    // aggregate, which runs on the raw mentions — previously paid this
    // shuffle + the window sort + the bucket collect_list partials for
    // nothing (measured ~90 MB exchange at the 1M-conv probe).
    val keyed = mentions
      .select(memberCols.map(col): _*)
      .filter(col("blocking_key") =!= "")
    keyed
      .withColumn("key_n", count(lit(1)).over(Window.partitionBy("blocking_key")))
      // LONG and uncapped: at 10^12 mentions a degenerate key can need more
      // than Int.MaxValue salts, and any cap would re-grow its buckets to
      // key_n / cap members
      .withColumn("salt_n",
        greatest(ceil(col("key_n") / cfg.targetBucketSize), lit(1)).cast("long"))
      .withColumn("salt", pmod(xxhash64(col("mention_id")), col("salt_n")))
      .withColumn("bucket_key", concat_ws("#", col("blocking_key"), col("salt")))
  }

  /** Salted intra-bucket pairs + representative star across the salt
    * buckets of each key (salt-invariant transitivity). The self-join streams
    * each bucket, so an unsalted test bucket of thousands of members never
    * becomes one array value. */
  private def saltedPairs(annotated: DataFrame, cfg: Config): DataFrame = {
    val buckets = annotated.select(("bucket_key" +: memberCols).map(col): _*)
    pairsInBucketsJoin(buckets, cfg.maxBucketSize, drops = None)
      .unionByName(repStarPairs(annotated))
  }

  /** Representative STAR pairs across the salt buckets of each key: every
    * bucket rep (min mention_id of its bucket) pairs with the key's anchor
    * rep (global min mention_id of the key). Same pair count as the former
    * salt-ascending lag-CHAIN (salt_n − 1 per key) and the same
    * connectivity, but graph diameter 2 instead of salt_n — connected
    * components over a chain needs O(log salt_n) star rounds to contract
    * (measured: a 3M-conv corpus whose hottest keys salt into ~10^4 buckets
    * took 11 CC iterations, the fixpoint 59% of the job wall), while the
    * star shape contracts in O(1) rounds at ANY key skew. */
  private[pkel] def repStarPairs(annotated: DataFrame): DataFrame = {
    val reps = annotated.groupBy("blocking_key", "salt")
      .agg(min("mention_id").as("rep"),
        min_by(col("mention"), col("mention_id")).as("rep_mention"))
    // one window over the key's reps (O(salt_n) rows per key, re-using the
    // blocking_key partitioning): the anchor is the min-id rep, its mention
    // selected by min_by on the same ordering
    val wKey = Window.partitionBy("blocking_key")
    // rep > anchor_rep for every non-anchor bucket (the anchor is the min),
    // so src/dst orientation is fixed without a greatest/least shuffle
    reps
      .withColumn("anchor_rep", min("rep").over(wKey))
      .withColumn("anchor_mention", min_by(col("rep_mention"), col("rep")).over(wKey))
      .filter(col("rep") =!= col("anchor_rep"))
      .select(
        col("rep").as("src"),
        col("anchor_rep").as("dst"),
        col("blocking_key").as("key_a"), col("blocking_key").as("key_b"),
        col("rep_mention").as("mention_a"), col("anchor_mention").as("mention_b"))
  }

  /** MinHash-LSH pairs over *distinct* canonical token sets: one
    * representative per blocking key (rep = min mention_id, computed by a
    * map-side-combined aggregation — output is O(distinct keys), never
    * O(mentions)). Input columns: mention_id, blocking_key, tokens, mention.
    * Oversized buckets are dropped and counted into `drops`. */
  def lshPairs(mentions: DataFrame, cfg: Config = Config(),
      drops: PairDropMetrics = PairDropMetrics()): DataFrame = {
    val keyReps = mentions
      .filter(col("blocking_key") =!= "" && size(col("tokens")) > 0)
      .groupBy("blocking_key")
      .agg(min("mention_id").as("mention_id"),
        min_by(col("tokens"), col("mention_id")).as("tokens"),
        min_by(col("mention"), col("mention_id")).as("mention"))
    val banded = keyReps
      .select(col("mention_id"), col("blocking_key"), col("mention"),
        explode(minhashUdf(col("tokens"), lit(MinhashFunctions), lit(LshBands))).as("band"))
      .withColumn("bucket_key", col("band").cast("string"))
      .select(("bucket_key" +: memberCols).map(col): _*)
    // LSH buckets run up to maxBucketSize (default 1000) members; the
    // self-join streams their pairs in O(n) memory
    pairsInBucketsJoin(banded, cfg.maxBucketSize, Some(drops))
      // same key pair recurs across bands; rep set is small
      .dropDuplicates("src", "dst")
  }

  /** Union of both generators, WITH scoring features on every pair; the
    * per-key annotation pass is shared so the mention table is exchanged on
    * blocking_key exactly once. Columns: src, dst, key_a, key_b, mention_a,
    * mention_b. */
  def candidatePairsWithFeatures(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    saltedPairs(annotated(mentions, cfg), cfg)
      .unionByName(lshPairs(mentions, cfg))

  /** Bare (src, dst) pair ids. */
  def candidatePairs(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    candidatePairsWithFeatures(mentions, cfg).select("src", "dst")

  /** Salted bucket-member table for kernel-fused scoring
    * (`PairScorer.scoreBuckets`): one row per salted bucket with ≥ 2
    * members, each member a struct of (mention_id, blocking_key). Every
    * bucket holds exactly one non-empty blocking key, so its pairs score
    * 1.0 and no surface rides the key exchange or the bucket shuffle. Pair
    * enumeration happens inside the scoring kernel, so the quadratic pair
    * stream is never materialized as a relational intermediate. */
  def saltedBucketTable(mentions: DataFrame, cfg: Config = Config()): DataFrame = {
    val member = struct(col("mention_id"), col("blocking_key"))
    // group on the COMPOSITE bucket key string, not (blocking_key, salt):
    // the latter would satisfy its distribution with the count window's
    // by-key partitioning and keep every bucket of a hot key in one task —
    // pair emission for that key would serialize. The deliberate second
    // exchange redistributes buckets so the quadratic work is balanced.
    annotated(mentions, cfg)
      .groupBy("bucket_key")
      .agg(collect_list(member).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select("ms")
  }
}
