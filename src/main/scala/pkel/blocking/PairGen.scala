package pkel.blocking

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Candidate-pair generation: salted token-sorted blocking keys + MinHash-LSH
  * band buckets (BASELINE.json north_star).
  *
  * Scale posture:
  * - pair production is the quadratic danger zone; hot blocking keys are
  *   salted ADAPTIVELY — salt factor ∝ key frequency — so every bucket holds
  *   ≈ `targetBucketSize` members and per-key pair cost is O(n·target), not
  *   O(n²); a star over bucket representatives (every rep → the key's
  *   min-id rep) keeps each key's mentions transitively connected at graph
  *   diameter 2, so clusters are salt-invariant and the connected-components
  *   fixpoint contracts in O(1) rounds at any skew;
  * - the whole generator costs TWO data-scale shuffles: one window pass on
  *   `blocking_key` (per-key frequency for salting + per-key representative
  *   for LSH, in the same exchange) and one `groupBy(bucket_key)` whose
  *   collect_list feeds an index-pair explosion — pairs are born in the
  *   final stage with both sides' scoring features attached, so the scoring
  *   kernel pipelines on the explode output and pair rows NEVER shuffle;
  * - MinHash-LSH runs over *distinct* blocking keys (one representative
  *   mention per key): all mentions of a key share one token set, so banding
  *   them individually would replicate every hot key's block once per band.
  *   Degenerate (oversized) LSH buckets are dropped wholesale;
  * - the one scoring feature carried through pairs is the raw `mention`
  *   surface; the scorer embeds it behind a bounded memo;
  * - duplicate pairs across generators are tolerated downstream (CC dedupes
  *   edges; scoring is idempotent) — no global distinct shuffle.
  */
object PairGen {

  final case class Config(
      saltBuckets: Int = 8,          // fixed-salt mode (tests)
      minhashFunctions: Int = 32,
      lshBands: Int = 8,
      maxBucketSize: Int = 1000,
      targetBucketSize: Int = 64,    // adaptive mode: aim C(target,2) pairs/bucket
      /** Optional ceiling on salt_n — UNCAPPED by default: salt_n grows as
        * ceil(key_n / target) without limit, so per-key pair cost stays
        * O(n·target) at ANY skew (a finite cap re-grows buckets to n/cap once
        * a key passes cap×target mentions — the round-4 latent scale-killer).
        * Exists only so tests can pin a cap and observe the re-growth. */
      maxSaltFactor: Int = Int.MaxValue,
      adaptiveSalt: Boolean = true)

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

  /** Self-join formulation: codegen'd but shuffles every bucket row twice. */
  private def pairsInBucketsJoin(buckets: DataFrame, maxBucketSize: Int,
      dropOversized: Boolean): DataFrame = {
    val (boundedA, boundedB) =
      if (!dropOversized) (buckets, buckets)
      else {
        // the oversize drop is no longer silent: the filter over the
        // bucket-count aggregate (computed anyway) counts what it discards
        // into PairDropMetrics' accumulators. Only the a-side carries the
        // counting UDF — the self-join's b-side applies the plain predicate,
        // so each bucket is counted exactly once per executed plan. The UDF
        // is nondeterministic so Catalyst never duplicates or collapses it;
        // it runs over O(buckets) count rows, never over pair rows.
        val counts = buckets.groupBy("bucket_key").agg(count(lit(1)).as("bucket_n"))
        val accs = PairDropMetrics.accsFor(buckets.sparkSession.sparkContext)
        val keepCounting = udf { (n: Long) =>
          accs.total.add(1L)
          if (n > maxBucketSize) { accs.dropped.add(1L); accs.members.add(n); false }
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

  /** All (src>dst) pairs within each bucket via ONE shuffle:
    * `groupBy(bucket_key).collect_list` + index-pair explosion (the self-join
    * formulation shuffled every bucket row twice). Only for buckets whose
    * size adaptive salting bounds, so per-group lists stay small. `buckets`
    * columns: bucket_key, mention_id, blocking_key, mention. */
  private def pairsInBucketsFused(buckets: DataFrame): DataFrame = {
    val member = struct(memberCols.map(col): _*)
    val grouped = buckets.groupBy("bucket_key").agg(collect_list(member).as("ms"))
      .filter(size(col("ms")) >= 2)
    val ms = col("ms")
    // i < j index pairs over the collected list (exactly C(n,2) structs)
    val pairsCol = flatten(transform(sequence(lit(0), size(ms) - 2), i =>
      transform(sequence(i + lit(1), size(ms) - 1), j =>
        struct(element_at(ms, i + lit(1)).as("x"), element_at(ms, j + lit(1)).as("y")))))
    // collect_list order is nondeterministic; orient every pair by mention_id
    // so the emitted rows are parallelism-invariant
    val swap = col("p.x.mention_id") < col("p.y.mention_id")
    def aSide(f: String): Column = when(swap, col(s"p.y.$f")).otherwise(col(s"p.x.$f"))
    def bSide(f: String): Column = when(swap, col(s"p.x.$f")).otherwise(col(s"p.y.$f"))
    grouped.select(explode(pairsCol).as("p"))
      .select(
        aSide("mention_id").as("src"), bSide("mention_id").as("dst"),
        aSide("blocking_key").as("key_a"), bSide("blocking_key").as("key_b"),
        aSide("mention").as("mention_a"), bSide("mention").as("mention_b"))
      .filter(col("src") =!= col("dst"))
  }

  /** Per-key annotation in a single exchange on blocking_key: key frequency
    * (adaptive salt factor) via an unordered count window. The downstream
    * per-(key,salt) rep aggregation and the rep-star window reuse this
    * partitioning — no further key-side exchange. Public so callers fusing
    * both pair generators can share one lineage of it. */
  def annotated(mentions: DataFrame, cfg: Config = Config()): DataFrame = {
    // project EARLY (guide §2.3): only (mention_id, blocking_key, mention)
    // ride the key exchange + count window. The tokens array — the fattest
    // input column, consumed solely by the LSH path's key-rep aggregate,
    // which runs on the raw mentions — previously paid this shuffle + the
    // window sort + the bucket collect_list partials for nothing (measured
    // ~90 MB exchange at the 1M-conv probe, most of it tokens).
    val keyed = mentions
      .select(memberCols.map(col): _*)
      .filter(col("blocking_key") =!= "")
    val withSalt =
      if (cfg.adaptiveSalt)
        keyed.withColumn("key_n", count(lit(1)).over(Window.partitionBy("blocking_key")))
          // LONG salt_n: at 10^12 mentions a degenerate key can need more
          // than Int.MaxValue salts; the cap (default Int.MaxValue ≈ uncapped)
          // only binds when a test pins it
          .withColumn("salt_n",
            least(greatest(ceil(col("key_n") / cfg.targetBucketSize), lit(1)), lit(cfg.maxSaltFactor.toLong))
              .cast("long"))
      else keyed.withColumn("salt_n", lit(cfg.saltBuckets))
    withSalt
      .withColumn("salt", pmod(xxhash64(col("mention_id")), col("salt_n")))
      .withColumn("bucket_key", concat_ws("#", col("blocking_key"), col("salt")))
  }

  /** Salted intra-bucket pairs + representative star across the salt
    * buckets of each key (salt-invariant transitivity). The fused explosion
    * materializes all C(n,2) feature-carrying structs of a bucket as ONE
    * array value, so it is only safe when adaptive salting bounds bucket
    * sizes (≈ targetBucketSize members). Fixed-salt buckets are unbounded (a
    * hot key / saltBuckets can still be huge) — stream them through the
    * self-join, same guard the LSH path applies. */
  private def saltedPairs(annotated: DataFrame, cfg: Config): DataFrame = {
    val buckets = annotated.select(("bucket_key" +: memberCols).map(col): _*)
    val intra =
      if (cfg.adaptiveSalt) pairsInBucketsFused(buckets)
      else pairsInBucketsJoin(buckets, cfg.maxBucketSize, dropOversized = false)
    intra.unionByName(repStarPairs(annotated))
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
  private def repStarPairs(annotated: DataFrame): DataFrame = {
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

  /** MinHash-LSH pairs over per-key representatives (rep = min mention_id,
    * computed by a map-side-combined aggregation — output is O(distinct
    * keys), never O(mentions)). */
  private def lshFromMentions(mentions: DataFrame, cfg: Config): DataFrame = {
    val keyReps = mentions
      .filter(col("blocking_key") =!= "" && size(col("tokens")) > 0)
      .groupBy("blocking_key")
      .agg(min("mention_id").as("mention_id"),
        min_by(col("tokens"), col("mention_id")).as("tokens"),
        min_by(col("mention"), col("mention_id")).as("mention"))
    val banded = keyReps
      .select(col("mention_id"), col("blocking_key"), col("mention"),
        explode(minhashUdf(col("tokens"), lit(cfg.minhashFunctions), lit(cfg.lshBands))).as("band"))
      .withColumn("bucket_key", col("band").cast("string"))
      .select(("bucket_key" +: memberCols).map(col): _*)
    // ALWAYS the streaming self-join here: LSH buckets run up to
    // maxBucketSize (default 1000) members, and the fused explosion would
    // materialize C(1000,2) feature-carrying structs as ONE array value
    // (hundreds of MB against the 2 GB row limit); the join streams the
    // same pairs in O(n) memory. The fused form stays for salted buckets,
    // whose size the adaptive salt bounds near targetBucketSize.
    pairsInBucketsJoin(banded, cfg.maxBucketSize, dropOversized = true)
      // same key pair recurs across bands; rep set is small
      .dropDuplicates("src", "dst")
  }

  /** Blocking-key pairs with (adaptively) salted buckets + representative
    * star. Input columns: mention_id, blocking_key, mention. */
  def blockingKeyPairs(mentions: DataFrame, cfg: Config): DataFrame =
    saltedPairs(annotated(mentions, cfg), cfg)

  /** MinHash-LSH pairs over *distinct* canonical token sets (one
    * representative mention per blocking key).
    * Input columns: mention_id, blocking_key, tokens, mention. */
  def lshPairs(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    lshFromMentions(mentions, cfg)

  /** Union of both generators, WITH scoring features on every pair; the
    * per-key annotation pass is shared so the mention table is exchanged on
    * blocking_key exactly once. Columns: src, dst, key_a, key_b, mention_a,
    * mention_b. */
  def candidatePairsWithFeatures(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    saltedPairs(annotated(mentions, cfg), cfg)
      .unionByName(lshFromMentions(mentions, cfg))

  /** Bare (src, dst) pair ids. */
  def candidatePairs(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    candidatePairsWithFeatures(mentions, cfg).select("src", "dst")

  /** Salted bucket-member table for kernel-fused scoring
    * (`PairScorer.scoreBuckets`): one row per salted bucket with ≥ 2
    * members, each member a struct of (mention_id, blocking_key, mention).
    * Every bucket holds exactly one non-empty blocking key. Pair enumeration
    * happens inside the scoring kernel, so the quadratic pair stream is never
    * materialized as a relational intermediate. */
  def saltedBucketTable(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    saltedBucketTableFromAnnotated(annotated(mentions, cfg))

  /** [[saltedBucketTable]] over an already-annotated table — lets
    * `PairScorer.scoreCandidates` share one lineage of the key exchange +
    * count window between its two physical plans. */
  def saltedBucketTableFromAnnotated(ann: DataFrame): DataFrame = {
    val member = struct(memberCols.map(col): _*)
    // group on the COMPOSITE bucket key string, not (blocking_key, salt):
    // the latter would satisfy its distribution with the count window's
    // by-key partitioning and keep every bucket of a hot key in one task —
    // pair emission for that key would serialize. The deliberate second
    // exchange redistributes buckets so the quadratic work is balanced.
    ann
      .groupBy("bucket_key")
      .agg(collect_list(member).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select("ms")
  }

  /** The sparse complement of the salted bucket table: representative
    * star pairs + MinHash-LSH rep pairs (both O(distinct keys), not
    * O(mentions)), with scoring features attached. The rep-star side reads
    * an already-annotated table; the LSH side aggregates the raw mentions —
    * it needs `tokens`, which [[annotated]] deliberately projects away. */
  def sparsePairsFromAnnotated(ann: DataFrame, mentions: DataFrame,
      cfg: Config = Config()): DataFrame =
    repStarPairs(ann).unionByName(lshFromMentions(mentions, cfg))
}
