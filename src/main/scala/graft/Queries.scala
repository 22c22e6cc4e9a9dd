package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import pkel.ontology.Ontology
import pkel.transcript.TranscriptSynth

/** The driver-facing operator battery (SparkEntry.queries backing).
  *
  * Each query is an idiomatic DataFrame-API expression of one operator family
  * from SURVEY.md §2 or of a training-data-pipeline operator (dedup /
  * similarity / text analysis / multimodal plumbing). SQL-expressible ones
  * have DuckDB oracles in `SparkEntry.oracleSql` with IDENTICAL column names
  * and deterministic ORDER BY. Money/ratio aggregates run over DECIMAL to be
  * bit-stable across engines.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private val streamRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  private def dec(c: Column): Column = c.cast("decimal(18,4)")

  // ---- core relational operators -----------------------------------------

  /** Aggregation with map-side combine; filter + column pruning pushed to scan. */
  def aggPushdown(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dec(sum(dec(col("l_quantity")))).cast("double").as("sum_qty"),
        dec(sum(dec(col("l_extendedprice")))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Broadcast hash join chain: fact ⋈ two small dims (dims explicitly
    * broadcast — at 100 TB the fact side never shuffles for these joins). */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dec(sum(dec(col("o_totalprice")))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  /** Window top-k with deterministic tie-break (rank ≤ k benefits from
    * WindowGroupLimit pushdown in Spark 4). */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }

  /** Anti join: customers with no urgent-priority order ("without orders"
    * was vacuously empty at every test scale — a 0-row anti-join verifies
    * nothing). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Shuffle (sort-merge) join of two fact-scale tables — hinted to `merge`
    * so the plan is the one a 100 TB join would use (no broadcast side); the
    * lineitem side pre-aggregates before the join so the shuffle moves one
    * row per orderkey. */
  def joinShuffle(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 150000)
      .select("o_orderkey", "o_totalprice")
    val li = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(dec(sum(dec(col("l_extendedprice")))).cast("double").as("li_sum"),
        count(lit(1)).as("n_items"))
    o.join(li.hint("merge"), Seq("o_orderkey"))
      .select("o_orderkey", "o_totalprice", "li_sum", "n_items")
      .orderBy("o_orderkey")
  }

  /** Semi join: parts that appear in lineitem. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val li = t(spark, dir, "lineitem").select(col("l_partkey").as("p_partkey"))
    p.join(li, Seq("p_partkey"), "left_semi")
      .select("p_partkey", "p_name", "p_size")
      .orderBy("p_partkey")
  }

  /** Conversation-context analog: lag/lead over a per-user event window
    * (stable ordering via (ts, event_id) tie-break). */
  def convWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .withColumn("turn_rank", row_number().over(w))
      .select("user_id", "event_id", "event_type", "prev_type", "next_type", "turn_rank")
      .orderBy("user_id", "turn_rank")
  }

  /** Global sort + limit with full deterministic tie-break. */
  def limitSort(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(20)

  /** Set operations: big-spender ∪ urgent-order keys minus low-priority —
    * UNION/INTERSECT/EXCEPT distinct semantics (T4). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val big = o.filter(col("o_totalprice") > 200000).select("o_custkey")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val low = o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey")
    big.union(urgent).distinct()
      .except(low.distinct())
      .orderBy("o_custkey")
  }

  /** Hierarchical aggregation via ROLLUP (multi-level agg in one pass). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dec(sum(dec(col("o_totalprice")))).cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"), col("sum_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Exact percentiles per group (sort-based aggregate; both engines use the
    * same p*(n-1) linear interpolation, quantized to basis points). At 100 TB
    * exact percentiles shuffle each group's values once — the approximate
    * path would be a mergeable sketch, but cross-engine verification needs
    * the exact operator. */
  def eventQuantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        floor(col("p50") * 10000).cast("long").as("p50_bp"),
        floor(col("p90") * 10000).cast("long").as("p90_bp"),
        floor(col("p99") * 10000).cast("long").as("p99_bp"),
        col("n"))
      .orderBy("event_type")

  /** Event-time bucketing (streaming-windowed-agg analog in batch). */
  def eventHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dec(sum(dec(col("value")))).cast("double").as("sum_value"))
      .orderBy("hour", "event_type")

  // ---- text analysis over documents --------------------------------------

  /** Token counting: whitespace tokens + BPE-ish word-piece count. */
  def docTokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).as("n_ws_tokens"),
        size(split(col("text"), "[^a-z0-9]+")).as("n_word_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  /** Quality scoring: length, alpha/digit/space ratios, and the stopword
    * ratio (share of word tokens that are English function words — the
    * classic gibberish/boilerplate signal). All ratios are integer basis
    * points; the stopword filter is a codegen'd lambda over the token split,
    * identical in the DuckDB oracle. */
  def docQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        (length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", ""))).as("n_alpha"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"),
        (length(col("text")) - length(regexp_replace(col("text"), "\\s", ""))).as("n_space"),
        expr("size(filter(split(lower(text), '[^a-z]+'), w -> w <> ''))").as("n_words"),
        expr("size(filter(split(lower(text), '[^a-z]+'), w -> w IN " +
          "('the','a','an','and','of','in','to','is','was','for','on','with','as','at','by')))")
          .as("n_stop"))
      .withColumn("alpha_bp", floor(lit(10000) * col("n_alpha") / col("n_chars")).cast("long"))
      .withColumn("digit_bp", floor(lit(10000) * col("n_digit") / col("n_chars")).cast("long"))
      .withColumn("stop_bp",
        floor(lit(10000) * col("n_stop") / greatest(col("n_words"), lit(1))).cast("long"))
      .orderBy("doc_id")

  /** Language-ID heuristic: marker-token hit counts per candidate language,
    * argmax with deterministic tie-break (expressible in plain SQL). */
  def docLangId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "value", "fast"),
      "de" -> Seq("der", "und", "nicht"),
      "fr" -> Seq("le", "et", "pas"),
      "es" -> Seq("el", "y", "no"))
    def hits(ws: Seq[String]): Column =
      ws.map(w => size(split(concat(lit(" "), col("text"), lit(" ")), s"\\s$w\\s")) - 1)
        .reduce(_ + _)
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        hits(markers("en")).as("en_hits"), hits(markers("de")).as("de_hits"),
        hits(markers("fr")).as("fr_hits"), hits(markers("es")).as("es_hits"))
    scored.withColumn("pred_lang",
      when(col("en_hits") >= greatest(col("de_hits"), col("fr_hits"), col("es_hits")), "en")
        .when(col("de_hits") >= greatest(col("fr_hits"), col("es_hits")), "de")
        .when(col("fr_hits") >= col("es_hits"), "fr")
        .otherwise("es"))
      .orderBy("doc_id")
  }

  /** Exact dedup by content hash: canonical representative + dup count. */
  def docDedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("n_dups"))
      .orderBy("canonical_doc")

  /** Document fingerprint: md5 of the normalized text (lowercase, collapsed
    * non-alnum) — the cheap member of the fingerprint family. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("fingerprint"))
      .orderBy("doc_id")

  /** Distinct (doc_id, shingle) rows for the n-gram Jaccard family: word
    * 4-gram shingles hashed to a TWO-BIGINT 120-bit key (md5 hex chars 1-15
    * and 16-30, each 60 bits — both always fit a signed 64-bit value, so the
    * identical `('0x'||substr(md5,…,15))` construction is exact in the
    * DuckDB oracle). 16 fixed-width key bytes through the exchanges instead
    * of a 32-char hex string; and unlike the round-4 single 60-bit key, the
    * birthday bound at ~10^11 distinct shingles (100 TB) is ~10^-14 expected
    * colliding pairs — collision-safe at target scale. ONE md5 per shingle;
    * both halves derive from it after the explode. */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    // shared via the tracked cache: dropstats and jaccard run over the same
    // distinct (doc, shingle) table in one battery pass, so the second query
    // reuses the explode+distinct instead of recomputing it. The word split
    // is hoisted to a per-ROW column before the transform lambda — higher-
    // order functions are interpreted, so a split inside the lambda would
    // re-tokenize the document once per shingle (O(words²) per doc).
    cachedDf(spark, dir, "doc_shingles") {
      t(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(1, greatest(size(w) - 3, 1)), " +
              "i -> md5(concat_ws(' ', slice(w, i, 4))))")).as("sh_md5"))
        .select(col("doc_id"),
          expr("cast(conv(substring(sh_md5, 1, 15), 16, 10) as bigint)").as("sh_hi"),
          expr("cast(conv(substring(sh_md5, 16, 15), 16, 10) as bigint)").as("sh_lo"))
        .distinct()
        // one wave of tasks for downstream map stages (the distinct leaves
        // the cache at full shuffle width); same move as synthMentions
        .coalesce(spark.sparkContext.defaultParallelism)
    }

  /** N-gram Jaccard near-dup pairs: word 4-gram shingles → shingle-equality
    * join → |∩|/|∪| ≥ threshold, over the 120-bit [[docShingles]] keys.
    *
    * Scale guard: shingles whose document frequency exceeds `dfCap` are
    * dropped before the self-join (a stop-word-ish shingle shared by N docs
    * would otherwise fan out N² intersection rows). High-df near-dups are the
    * MinHash path's regime; denominators keep the full per-doc shingle count
    * so dropped shingles only lower recall at the margin, never correctness
    * of the emitted scores. The cap is NOT silent: [[docShingleDropStats]]
    * reports exactly what it discarded, as an oracle-verified battery row. */
  def docShingleJaccard(spark: SparkSession, dir: String, threshold: Double = 0.2,
      dfCap: Int = 100): DataFrame = {
    val shingles = docShingles(spark, dir)
    val counts = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // df cap via a count window: one exchange on the join key (which the
    // self-join needs anyway) instead of a separate aggregate + join back
    val joinable = shingles
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh_hi", "sh_lo")))
      .filter(col("df") <= dfCap)
    val a = joinable.select(col("doc_id").as("doc_a"), col("sh_hi"), col("sh_lo"))
    val b = joinable.select(col("doc_id").as("doc_b"), col("sh_hi"), col("sh_lo"))
    val inter = a.join(b, Seq("sh_hi", "sh_lo"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_shingles").as("n_b")), "doc_b")
      .withColumn("jaccard_bp",
        floor(lit(10000) * col("n_common") / (col("n_a") + col("n_b") - col("n_common"))).cast("long"))
      .filter(col("jaccard_bp") >= (threshold * 10000).toLong)
      .select("doc_a", "doc_b", "n_common", "jaccard_bp")
      .orderBy("doc_a", "doc_b")
  }

  /** Counter row for [[docShingleJaccard]]'s df-cap (the round-4 verdict's
    * "silent cap" finding): ONE summary row quantifying exactly what the cap
    * discarded — distinct shingles dropped, (doc, shingle) occurrence rows
    * dropped, and the dropped occurrence share in basis points. A truncated
    * recall surface that reads as "covered everything" is a lie at 100 TB;
    * this row makes the truncation a first-class, oracle-verified metric. */
  def docShingleDropStats(spark: SparkSession, dir: String, dfCap: Int = 100): DataFrame =
    docShingles(spark, dir)
      .groupBy("sh_hi", "sh_lo").agg(count(lit(1)).as("df"))
      .agg(
        count(lit(1)).as("total_shingles"),
        sum(col("df")).as("total_occurrences"),
        sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("dropped_shingles"),
        sum(when(col("df") > dfCap, col("df")).otherwise(lit(0L))).as("dropped_occurrences"))
      .withColumn("dropped_share_bp",
        floor(lit(10000) * col("dropped_occurrences") /
          greatest(col("total_occurrences"), lit(1L))).cast("long"))

  /** Unsigned 64-bit hash = first 16 hex chars of md5 — chosen over murmur
    * for the battery because it is exactly expressible in the DuckDB oracle
    * (`('0x' || substr(md5(s),1,16))::UBIGINT`), turning the MinHash/SimHash
    * rows-only checks into full hash-verified ones. The hot EL pipeline keeps
    * the cheaper murmur minhash in `pkel.blocking.PairGen`. */
  private def md5Hash64(s: String): Long = pkel.functions.Md5Hash.long64(s)

  private def hex16(v: Long): String = f"$v%016x"

  /** 256-entry byte→2-hex-char table: `f"$b%02x"` per byte allocates a
    * java.util.Formatter and re-parses the format string on every call —
    * measured to dominate the frame-sampling kernel. */
  private val byteHex: Array[String] = Array.tabulate(256)(i => f"$i%02x")

  /** Per-function XOR shifts for the minhash family: h_j(s) = md5_64(s) XOR
    * r_j with r_j = md5_64(j) — ONE md5 per shingle instead of one per
    * (function, shingle); the XOR family preserves the min-hash collision
    * property and is equally expressible in the DuckDB oracle. (The first
    * cut hashed md5("j:shingle") per function — 32× the digests, a measured
    * 40× regression at sf0.1 and a genuine scale-killer at 100 TB.) */
  private val minhashShifts: Array[Long] = Array.tabulate(32)(j => md5Hash64(j.toString))

  /** Distinct fingerprints per language via the KMV sketch aggregate
    * (`pkel.functions.KmvDistinct`, a native TypedImperativeAggregate): O(k)
    * state per group, mergeable partials — the shape a 100 TB distinct-count
    * needs. Deterministic md5 hashing means the DuckDB oracle reproduces the
    * exact estimate (unlike HLL, whose sketch differs per engine). */
  def docKmvDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("fingerprint"))
      .groupBy("lang")
      .agg(pkel.functions.Functions.kmv_distinct(col("fingerprint")).as("approx_distinct"),
        count(lit(1)).as("n"))
      .orderBy("lang")

  /** MinHash-LSH dedup buckets (scale path of near-dup detection): 32
    * XOR-shifted md5 minhashes over word 3-gram shingles, 8 bands of 4, band
    * buckets with ≥2 members. Oracle-verified against the same construction
    * in SQL. */
  /** 32 XOR-shifted md5 minhashes over word 3-gram shingles, as hex16
    * strings in function order — shared by the bucket and pair queries. */
  private val minhashSigsUdf = udf((text: String) => {
    val tokens = Option(text).getOrElse("").toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val shingles = if (tokens.length < 3) Seq(tokens.mkString(" "))
      else tokens.sliding(3).map(_.mkString(" ")).toSeq
    val base = shingles.map(md5Hash64).toArray
    (0 until 32).map { j =>
      val r = minhashShifts(j)
      var best = -1L // unsigned max
      var i = 0
      while (i < base.length) {
        val h = base(i) ^ r
        if (java.lang.Long.compareUnsigned(h, best) < 0) best = h
        i += 1
      }
      hex16(best)
    }
  })

  /** Band keys (8 bands of 4) from the signature array: md5 of the
    * comma-joined hex16 minhashes — identical to the committed oracle. */
  private val minhashBandsExpr =
    expr("transform(sequence(0, 7), b -> md5(concat_ws(',', slice(sigs, b * 4 + 1, 4))))")

  /** Per-doc minhash signature scan, shared by the bucket and pair queries
    * through the tracked cache — the 32-function UDF over every document is
    * the family's dominant cost and was previously paid once per query. */
  private def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    cachedDf(spark, dir, "minhash_sigs") {
      t(spark, dir, "documents")
        .select(col("doc_id"), minhashSigsUdf(col("text")).as("sigs"))
    }

  def docMinhashBuckets(spark: SparkSession, dir: String): DataFrame =
    minhashSigs(spark, dir)
      .select(col("doc_id"), posexplode(minhashBandsExpr).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(collect_set("doc_id").as("doc_set"))
      .filter(size(col("doc_set")) > 1)
      // scalar output columns only: the driver's hash/sort comparator cannot
      // order array cells, so the member list is emitted as a joined string
      .select(col("band"), col("bucket"),
        size(col("doc_set")).as("n_docs"),
        concat_ws(",", array_sort(col("doc_set"))).as("docs"))
      .orderBy("band", "bucket")

  /** MinHash candidate PAIRS with the estimated Jaccard (the step between
    * bucketing and exact verification in an LSH dedup pipeline): band
    * collisions propose pairs, the signature agreement rate estimates
    * Jaccard without touching the documents — at 100 TB this ranks
    * candidates for exact verification at signature cost, never text cost.
    * Bucketed join, oversize buckets excluded via the same >1-member groups
    * the bucket query reports. */
  def docMinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSigs(spark, dir)
    val banded = sigs.select(col("doc_id"), col("sigs"),
      posexplode(minhashBandsExpr).as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("sigs").as("sigs_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("sigs").as("sigs_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("n_equal",
        expr("size(filter(zip_with(sigs_a, sigs_b, (x, y) -> x = y), v -> v))"))
      .withColumn("est_jaccard_bp", floor(lit(10000) * col("n_equal") / 32).cast("long"))
      .select("doc_a", "doc_b", "n_equal", "est_jaccard_bp")
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowed rolling-hash document fingerprint (the MOSS/winnowing shape):
    * normalize → char-gram Rabin-Karp rolling hashes (k=8, base 31, mod
    * 1e9+7, O(n) rolling update — each step subtracts the outgoing char's
    * contribution and shifts in the incoming one) → per-window minima (w=4)
    * → sorted distinct selected fingerprints, digested. Winnowing guarantees
    * any shared substring of length ≥ k+w−1 yields a shared fingerprint, so
    * overlap detection needs only the selected set, not all grams. The
    * DuckDB oracle recomputes the identical values with a list_reduce fold
    * per gram (same arithmetic, O(n·k) — fine at oracle scale). */
  def docWinnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val k = 8
    val w = 4
    val winnow = udf((text: String) => {
      val t = Option(text).getOrElse("").toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      val cs = t.map(_.toLong).toArray
      def fold(from: Int, until: Int): Long = {
        var h = cs(from)
        var i = from + 1
        while (i < until) { h = (h * 31 + cs(i)) % M; i += 1 }
        h
      }
      val grams: Array[Long] =
        if (cs.length == 0) Array.empty
        else if (cs.length < k) Array(fold(0, cs.length))
        else {
          // B = 31^(k-1) mod M: the outgoing char's positional weight
          var b = 1L
          (1 until k).foreach(_ => b = b * 31 % M)
          val out = new Array[Long](cs.length - k + 1)
          out(0) = fold(0, k)
          var i = 1
          while (i < out.length) {
            val dropped = cs(i - 1) * b % M
            out(i) = ((out(i - 1) + M - dropped) % M * 31 + cs(i + k - 1)) % M
            i += 1
          }
          out
        }
      val wins: Array[Long] =
        if (grams.length == 0) Array.empty
        else if (grams.length < w) Array(grams.min)
        else Array.tabulate(grams.length - w + 1)(j => grams.slice(j, j + w).min)
      val sel = wins.distinct.sorted
      (grams.length, sel.length,
        org.apache.commons.codec.digest.DigestUtils.md5Hex(sel.mkString(",")))
    })
    t(spark, dir, "documents")
      .select(col("doc_id"), winnow(col("text")).as("f"))
      .select(col("doc_id"), col("f._1").as("n_grams"), col("f._2").as("n_selected"),
        col("f._3").as("winnow_md5"))
      .orderBy("doc_id")
  }

  /** 64-bit frequency-weighted simhash as a 16-hex string (md5-derived token
    * hashes — the identical construction runs in the DuckDB oracle). */
  private val simhashHexUdf = udf((text: String) => {
    val tokens = Option(text).getOrElse("").toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    tokens.foreach { tk =>
      val h = md5Hash64(tk)
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    hex16(out)
  })

  /** SimHash (64-bit) per document over word features — near-dup by hamming
    * distance downstream. Token hash is md5-derived and the signature is
    * emitted as a 16-hex string, so the identical construction runs in the
    * DuckDB oracle (hash-verified, not rows-only). Every token OCCURRENCE
    * votes ±1 per bit (standard simhash weighting by frequency). */
  /** Per-doc simhash signature scan, shared by the signature and near-dup
    * queries through the tracked cache (same move as [[minhashSigs]]). */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    cachedDf(spark, dir, "simhash_sigs") {
      t(spark, dir, "documents")
        .select(col("doc_id"), simhashHexUdf(col("text")).as("sig"))
    }

  def docSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir)
      .select(col("doc_id"), col("sig").as("simhash_hex"))
      .orderBy("doc_id")

  /** The simhash DOWNSTREAM: near-duplicate pairs by hamming distance. Band
    * blocking, not all-pairs: the 64-bit signature splits into 4 bands of 16
    * bits (4 hex chars); by pigeonhole, any pair within `maxHamming` ≤ 3 bits
    * differs in ≤ 3 bands, so it MUST agree on at least one band — the
    * band-equality join therefore has complete recall for the threshold
    * while scanning only band-bucket collisions (the 100 TB shape; an
    * all-pairs hamming scan is quadratic). Exact hamming is recomputed per
    * candidate via a codegen'd nibble-XOR popcount; duplicates from pairs
    * sharing multiple bands are collapsed. */
  def docSimhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only up to hamming 3")
    val sigs = simhashSigs(spark, dir)
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(expr("transform(sequence(0, 3), b -> substring(sig, b * 4 + 1, 4))"))
        .as(Seq("band", "bkey")))
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bkey"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val hammingExpr = expr(
      "aggregate(sequence(1, 16), 0, (acc, i) -> acc + " +
        "bit_count(cast(conv(substring(sig_a, i, 1), 16, 10) as int) ^ " +
        "cast(conv(substring(sig_b, i, 1), 16, 10) as int)))")
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", hammingExpr)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ---- similarity search over embeddings ---------------------------------

  /** Brute-force cosine top-k: query vectors (vec_id < 10) × all vectors,
    * codegen'd zip_with/aggregate dot product, window top-k. */
  def embedCosineTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cosExpr = expr(
      "aggregate(zip_with(qvec, embedding, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)" +
        " / (sqrt(aggregate(qvec, cast(0.0 AS double), (acc, v) -> acc + cast(v AS double) * cast(v AS double)))" +
        " * sqrt(aggregate(embedding, cast(0.0 AS double), (acc, v) -> acc + cast(v AS double) * cast(v AS double))))")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
    queries.crossJoin(e)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", cosExpr)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .withColumn("cos_bp", floor(col("cos_sim") * 10000).cast("long"))
      .select("query_id", "vec_id", "cos_bp", "rk")
      .orderBy("query_id", "rk")
  }

  /** Per-label embedding stats (vector aggregate via lambda expressions).
    * Each element is floor-quantized to a BIGINT BEFORE any accumulation so
    * the arithmetic is exact and engine-independent (summing doubles first
    * lands on either side of the floor boundary depending on the engine's
    * accumulation order). */
  def embedLabelStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .withColumn("sq_norm_q",
        expr("aggregate(embedding, cast(0 AS bigint), (acc, v) -> acc + " +
          "cast(floor((cast(v AS double) * cast(v AS double)) * 10000.0) AS bigint))"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("sq_norm_q")).as("sum_sq_norm_q"))
      .orderBy("label")

  /** ANN scale path: random-hyperplane LSH bucketing + within-bucket
    * brute-force top-1 neighbor. Oversized buckets (degenerate hyperplane
    * regions) are dropped wholesale before the self-join — without the cap a
    * dense region fans out quadratically at scale, same guard as the MinHash
    * path. The hyperplane sign table is md5-derived so the identical
    * bucketing runs in the DuckDB oracle (hash-verified). */
  /** Random-hyperplane LSH signature: sign(p, i) = +1 iff the first md5 hex
    * digit of "p_i" is even — a fixed pseudo-random ±1 matrix both engines
    * can derive independently. Shared by the ANN top-1 query and the
    * cosine near-dup pair query. */
  private val annPlanes = 12
  private lazy val annSigns: Array[Array[Double]] = Array.tabulate(annPlanes, 64) { (p, i) =>
    val d = Character.digit(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"${p}_$i").charAt(0), 16)
    if ((d & 1) == 0) 1.0 else -1.0
  }
  private lazy val annSigUdf = udf((v: Seq[Float]) => {
    var out = 0
    var p = 0
    while (p < annPlanes) {
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * annSigns(p)(i); i += 1 }
      if (s > 0) out |= (1 << p)
      p += 1
    }
    out
  })

  def embedAnnLsh(spark: SparkSession, dir: String, maxBucket: Int = 256): DataFrame = {
    val sig = annSigUdf
    // ONE signature scan: the UDF-signed table feeds both the bucket-size
    // aggregate and both sides of the self-join, so it is persisted via the
    // tracked cache (round-2's un-persisted e0 recomputed the scan 3× and
    // cost a 4.6× bench regression)
    val e0 = cachedDf(spark, dir, "ann_lsh_sig") {
      t(spark, dir, "embeddings").withColumn("bucket", sig(col("embedding")))
    }
    val small = e0.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket).select("bucket")
    val e = e0.join(broadcast(small), "bucket")
    val a = e.select(col("bucket"), col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val b = e.select(col("bucket"), col("vec_id"), col("embedding"))
    val cosExpr = expr(
      "aggregate(zip_with(qvec, embedding, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
    a.join(b, "bucket")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(cosExpr, 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("query_id", "vec_id", "cos_sim")
      .orderBy("query_id")
  }

  /** Embedding-cosine near-duplicate PAIRS (the dedup-family shape, vs the
    * ANN query's per-query top-1): all pairs within an LSH bucket whose dot
    * product clears `threshold`, emitted once (a < b). Bucketed, never
    * all-pairs — the same capped random-hyperplane blocking as the ANN path,
    * sharing its cached signature scan. The synthetic embedding corpus has
    * no true near-duplicates (max within-bucket cosine ≈ 0.37), so the
    * default threshold is set low enough to exercise the operator's
    * filter/emit path; a production near-dup run would use ~0.95. */
  def embedCosineNearDup(spark: SparkSession, dir: String, threshold: Double = 0.25,
      maxBucket: Int = 256): DataFrame = {
    val e0 = cachedDf(spark, dir, "ann_lsh_sig") {
      t(spark, dir, "embeddings").withColumn("bucket", annSigUdf(col("embedding")))
    }
    val small = e0.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket).select("bucket")
    val e = e0.join(broadcast(small), "bucket")
    val a = e.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val cosExpr = expr(
      "aggregate(zip_with(emb_a, emb_b, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)")
    a.join(b, "bucket")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(cosExpr, 4))
      .filter(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  /** IVF (inverted-file) ANN: deterministic coarse quantizer (seed centroids
    * = first k vectors, 2 Lloyd refinement sweeps in DataFrame aggregations)
    * partitions the corpus into cells; queries probe only their `nprobe`
    * nearest cells. At 100 TB this is the classic two-level layout: the
    * centroid table broadcasts, the corpus scan prunes to probed cells.
    *
    * Centroid means are EXACT: each element is floor-quantized to a 1e-6
    * integer grid before summation (BIGINT sum, then one double division) —
    * a floating `avg` would depend on Spark's partition-order accumulation
    * and make the result run-to-run unstable. The same arithmetic runs in the
    * DuckDB oracle, so the full two-sweep quantizer is hash-verified. */
  def embedIvfTopK(spark: SparkSession, dir: String, k: Int = 16, nprobe: Int = 2,
      topK: Int = 3): DataFrame = {
    val e = t(spark, dir, "embeddings")
    def dot(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length && i < c.length) { s += a(i).toDouble * c(i); i += 1 }
      s
    }
    // coarse quantizer, driver-side refinement over broadcast-size state
    var centroids: Array[Array[Double]] = e.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](e.schema.fieldIndex("embedding")).toArray.map(_.toDouble))
    (1 to 2).foreach { _ =>
      val cb = centroids
      val assign = udf((v: Seq[Float]) => {
        val a = v.toArray
        var best = 0; var bestS = Double.MinValue
        var c = 0
        while (c < cb.length) { val s = dot(a, cb(c)); if (s > bestS) { bestS = s; best = c }; c += 1 }
        best
      })
      // element-wise centroid sums via posexplode + groupBy — k×dim output
      // rows regardless of corpus size (never collects vectors per cell);
      // integer sums make the mean independent of accumulation order
      val sums = e.withColumn("cell", assign(col("embedding")))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(
          sum(floor(col("x").cast("double") * 1000000.0).cast("long")).as("q"),
          count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        // un-quantize after the exact division (empty cells keep their old
        // centroid, so the scale must match across cells)
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3) / 1000000.0
      }
      centroids = next
    }
    val cb = centroids
    val cellsOf = udf((v: Seq[Float], m: Int) => {
      val a = v.toArray
      cb.indices.map(c => (c, dot(a, cb(c)))).sortBy { case (c, s) => (-s, c) }
        .take(m).map(_._1)
    })
    val corpus = e.withColumn("cell", element_at(cellsOf(col("embedding"), lit(1)), 1))
      .select(col("cell"), col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        explode(cellsOf(col("embedding"), lit(nprobe))).as("cell"))
    val cosExpr = expr(
      "aggregate(zip_with(qvec, embedding, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
    queries.join(corpus, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim", round(cosExpr, 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("query_id", "vec_id", "cos_sim", "rk")
      .orderBy("query_id", "rk")
  }

  // ---- multimodal plumbing (binary payload + stubbed decode) -------------

  /** Metadata over opaque binary payloads (text bytes stand in for media;
    * at scale this is the parquet-scan + typed-metadata pattern). */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"))
      .orderBy("doc_id")

  /** Stubbed media decode: batched kernel over binary payloads producing a
    * fixed-width feature vector (byte histogram moments). The decode itself
    * is a deterministic fake — the Spark-side plumbing (binary column in,
    * batch iteration, fixed schema out) is the real pattern. Hash-verified:
    * the byte-histogram arithmetic is integer-exact on both engines. */
  def mmDecodeStub(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("dominant_bin", IntegerType),
      StructField("dominant_bp", LongType),
      StructField("features_md5", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        // STUB: stands in for image/audio decode (real libs unavailable
        // offline). Deterministic 16-bin byte histogram; the feature vector is
        // emitted as scalars (argmax bin, its basis-point mass, and an md5 of
        // the quantized bins) so the driver's comparator can sort/hash rows.
        val hist = new Array[Long](16)
        bytes.foreach(b => hist((b & 0xFF) >> 4) += 1L)
        val n = math.max(1L, bytes.length.toLong)
        val bp = hist.map(h => h * 10000L / n)
        var best = 0
        var i = 1
        while (i < 16) { if (bp(i) > bp(best)) best = i; i += 1 }
        org.apache.spark.sql.Row(id, bytes.length, best, bp(best),
          org.apache.commons.codec.digest.DigestUtils.md5Hex(bp.mkString(",")))
      }
    }(enc)
      .orderBy("doc_id")
  }

  /** State-store partition count for the streaming queries, derived from the
    * INPUT SIZE instead of inherited from the batch session's shuffle width
    * (guide §2.2: fewer, larger partitions): every state partition costs a
    * state-store provider + per-micro-batch delta/snapshot files in the
    * checkpoint, so a 128-wide batch setting charges 128 partitions of
    * checkpoint IO to a table that fits in one. ceil(bytes/maxPartitionBytes)
    * clamped to [1, session shuffle partitions] keeps the setting
    * scale-adaptive — a 100 TB stream hits the session ceiling, a small one
    * doesn't pay width it cannot use. Override: spark.pkel.stream.statePartitions. */
  private def streamStatePartitions(spark: SparkSession, tablePath: String): Int = {
    val conf = spark.conf.getOption("spark.pkel.stream.statePartitions")
    conf.map(_.toInt).getOrElse {
      val hp = new org.apache.hadoop.fs.Path(tablePath)
      val bytes = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
      val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", s"${128L * 1024 * 1024}"))
      val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
      math.min(sessionWidth, math.max(1L, (bytes + maxPart - 1) / maxPart)).toInt
    }
  }

  /** Run `body` with the session's shuffle-partition width temporarily set to
    * `n` (the streaming queries execute EAGERLY inside their builder, so the
    * override is scoped to the stream and restored before return), and with
    * an explicit checkpoint dir on the fast local dir (the default temp
    * checkpoint lands on /tmp-on-disk; offset/commit/state logs are fsync'd
    * per micro-batch, so checkpoint latency is pure overhead at any scale). */
  private def withStreamConf[A](spark: SparkSession, n: Int)(body: String => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // spark.local.dir may be a comma-separated list — take the first entry
    val localDir = spark.conf.get("spark.local.dir", "/tmp").split(",").head.trim
    val ckpt = s"$localDir/pkel-stream-ckpt/${java.util.UUID.randomUUID()}"
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body(ckpt)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      val hp = new org.apache.hadoop.fs.Path(ckpt)
      try hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      catch { case _: Exception => () }
    }
  }

  /** Structured-Streaming exposure: exact dedup as an incremental job —
    * file stream over the documents table → streaming dropDuplicates on the
    * content hash → AvailableNow micro-batches into a memory sink. The
    * result equals the batch dedup's canonical groups, so the DuckDB batch
    * GROUP BY is the oracle for the streaming path (also pinned stream==batch
    * in StreamingSpec). */
  def streamDedupExact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tablePath = s"$dir/documents.parquet"
    val schema = spark.read.parquet(tablePath).schema
    // the file stream source needs a DIRECTORY basePath. Spark-written tables
    // (documents.parquet/ with part files) stream directly; a single-file
    // layout (this repo's testdata) streams its parent with a glob filter —
    // the glob alone would silently list zero files for the directory layout
    val hp = new org.apache.hadoop.fs.Path(tablePath)
    val isDirTable =
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp).isDirectory
    val streamIn =
      if (isDirTable) spark.readStream.schema(schema).parquet(tablePath)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
    // streaming AGGREGATION (min per hash), not dropDuplicates: the dedup
    // state store keeps an arbitrary first-arriving survivor, which flips
    // with partitioning when duplicates span input splits — min is the
    // deterministic canonical representative at any parallelism
    val deduped = streamIn
      .withColumn("content_hash", md5(col("text")))
      .groupBy("content_hash").agg(min("doc_id").as("canonical_doc"))
    // unique per invocation: a reused memory-sink query name would collide
    // when the battery runs twice in one JVM
    val name = s"stream_dedup_${math.abs(dir.hashCode)}_${streamRuns.incrementAndGet()}"
    withStreamConf(spark, streamStatePartitions(spark, tablePath)) { ckpt =>
      val q = deduped.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(120000)
      if (!finished) q.stop()
      require(finished, s"streaming dedup did not finish within 120s ($name)")
    }
    spark.table(name).orderBy("canonical_doc")
  }

  /** Streaming event-time windowed aggregation with a WATERMARK, in APPEND
    * mode — the stateful-streaming shape the dedup query doesn't exercise:
    * only windows the watermark has finalized are emitted, so late data
    * inside the delay would still be aggregated and the state store evicts
    * closed windows (bounded state at any stream length). AvailableNow
    * drains the table as a stream; the final watermark is max(ts) − delay,
    * so the emitted set is exactly the hour windows whose end ≤ that — a
    * batch-expressible predicate the DuckDB oracle re-derives. */
  def streamEventHourly(spark: SparkSession, dir: String,
      delay: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tablePath = s"$dir/events.parquet"
    val schema = spark.read.parquet(tablePath).schema
    val hp = new org.apache.hadoop.fs.Path(tablePath)
    val isDirTable =
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp).isDirectory
    val streamIn =
      if (isDirTable) spark.readStream.schema(schema).parquet(tablePath)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
    val agg = streamIn
      // the parquet ts is TIMESTAMP_NTZ; event-time watermarks require
      // TIMESTAMP (session tz = UTC, so the instant is unchanged)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dec(sum(dec(col("value")))).cast("double").as("sum_value"))
    val name = s"stream_hourly_${math.abs(dir.hashCode)}_${streamRuns.incrementAndGet()}"
    withStreamConf(spark, streamStatePartitions(spark, tablePath)) { ckpt =>
      val q = agg.writeStream
        .outputMode("append") // only watermark-finalized windows are emitted
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(120000)
      if (!finished) q.stop()
      require(finished, s"streaming hourly agg did not finish within 120s ($name)")
    }
    spark.table(name)
      .select(col("w.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Frame-sampling plumbing over opaque media payloads: treat the binary as
    * fixed-width frames, keep every `stride`-th frame, emit per-doc sampled
    * counts + a digest of the sampled bytes. The decode is a stub (bytes ARE
    * the frames); the Spark side — binary in, deterministic sampling, fixed
    * scalar schema out, batched per partition — is the real pattern a video
    * pipeline needs. The digest is md5 over the LOWERCASE HEX of the sampled
    * bytes (not the raw bytes): byte-exact for any payload, and expressible
    * in the DuckDB oracle, whose md5 only accepts strings. Hash-verified. */
  def mmFrameSample(spark: SparkSession, dir: String, frameBytes: Int = 64,
      stride: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_frames", IntegerType),
      StructField("n_sampled", IntegerType),
      StructField("sample_md5", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val nFrames = (bytes.length + frameBytes - 1) / frameBytes
        val hexed = new java.lang.StringBuilder
        var f = 0
        var sampled = 0
        while (f < nFrames) {
          if (f % stride == 0) {
            val from = f * frameBytes
            val until = math.min(from + frameBytes, bytes.length)
            var i = from
            while (i < until) { hexed.append(byteHex(bytes(i) & 0xFF)); i += 1 }
            sampled += 1
          }
          f += 1
        }
        org.apache.spark.sql.Row(r.getLong(0), nFrames, sampled,
          org.apache.commons.codec.digest.DigestUtils.md5Hex(hexed.toString))
      }
    }(enc)
      .orderBy("doc_id")
  }

  /** Resize plumbing over opaque media payloads: deterministic 1-D
    * nearest-neighbor downsample of the byte stream to a FIXED-width
    * thumbnail (`thumbBytes`), the defining property of a resize stage —
    * constant output size regardless of input size. Source index for output
    * position i is floor(i·n/thumbBytes) (integer arithmetic, exactly
    * reproducible in SQL); the thumbnail is emitted as an md5 over its
    * lowercase hex (scalar, comparator-safe). The pixel decode itself is the
    * stub (bytes stand in for pixels); the Spark pattern — binary in, fixed
    * schema out, pure row-local compute that scales embarrassingly — is
    * real. Hash-verified. */
  def mmThumbnail(spark: SparkSession, dir: String, thumbBytes: Int = 32): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("thumb_md5", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val n = bytes.length
        val hexed = new java.lang.StringBuilder(thumbBytes * 2)
        if (n > 0) {
          var i = 0
          while (i < thumbBytes) {
            val src = (i.toLong * n / thumbBytes).toInt
            hexed.append(byteHex(bytes(src) & 0xFF))
            i += 1
          }
        }
        org.apache.spark.sql.Row(r.getLong(0), n,
          org.apache.commons.codec.digest.DigestUtils.md5Hex(hexed.toString))
      }
    }(enc)
      .orderBy("doc_id")
  }

  // ---- entity-linking pipeline exposure (rows-only; deterministic) -------

  /** Numeric scale factor parsed from a testdata dir name (".../sf0.01");
    * substring matching would map sf ≥ 1 to the smallest corpus. */
  def sfOf(dir: String): Double =
    "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)

  /** Conversation count for a scale factor: monotone in sf, floored at `base`. */
  def convsForSf(sf: Double, base: Long): Long =
    math.max(base, (base * 200 * sf).toLong)

  // Per-process caches: every q_el_* query runs over the same deterministic
  // synthetic corpus for a given scale dir — synthesize/link it once per JVM
  // (input prep, not operator work; the persisted mention table is tiny).
  private val synthCache =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[pkel.model.OntologyEntry], DataFrame)]
  private val cascadeCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Tracked per-(session, dir, tag) persists for queries that cache an
    * intermediate DataFrame (exact-linker output, contrastive input, ANN
    * signature scan). Repeated invocations within a session reuse the same
    * persisted plan instead of stacking a fresh persist per call, and
    * `releaseCaches` owns the unpersist — closes the unbounded storage
    * accumulation the round-2 advice flagged. */
  private val persistCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def cachedDf(spark: SparkSession, dir: String, tag: String)(build: => DataFrame): DataFrame =
    persistCache.getOrElseUpdate(cacheKey(spark, dir) + "#" + tag,
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // cache keys include the Spark application id: a persisted DataFrame is
  // bound to its session, and a dir-only key would serve entries from a
  // stopped session to a later one in the same JVM
  private def cacheKey(spark: SparkSession, dir: String): String =
    spark.sparkContext.applicationId + "#" + dir

  /** Drop every q_el_* cache held for `spark` (unpersisting their DataFrames),
    * clear any remaining cached plans (the cascade's internal tier persists are
    * not tracked here), and deregister streaming memory-sink tables. The bench
    * calls this between its warm-up pass and the timed battery so dead warm-up
    * state does not occupy storage memory during the measurements. */
  def releaseCaches(spark: SparkSession): Unit = {
    val prefix = spark.sparkContext.applicationId + "#"
    synthCache.keySet.filter(_.startsWith(prefix)).foreach(
      synthCache.remove(_).foreach(_._2.unpersist(blocking = false)))
    cascadeCache.keySet.filter(_.startsWith(prefix)).foreach(
      cascadeCache.remove(_).foreach(_.unpersist(blocking = false)))
    assignCache.keySet.filter(_.startsWith(prefix)).foreach(
      assignCache.remove(_).foreach(_.unpersist(blocking = false)))
    persistCache.keySet.filter(_.startsWith(prefix)).foreach(
      persistCache.remove(_).foreach(_.unpersist(blocking = false)))
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary &&
        (t.name.startsWith("stream_dedup_") || t.name.startsWith("stream_hourly_")))
      .foreach(t => spark.catalog.dropTempView(t.name))
    // kernel memo hygiene: the JVM-wide surface memos (tokenizer, NIL
    // patterns, embeddings) are dropped so an untimed warm-up pass can never
    // pre-fill kernel results for the timed battery — the timed runs
    // recompute every distinct surface from scratch
    pkel.text.Memo.clearAll()
    // compact the heap while nothing is timed: the dropped caches, streaming
    // state and shuffle buffers otherwise sit in the old generation and are
    // collected DURING the subsequent timed queries — measured 290 s of
    // cumulative task GC (rep 21.6 s vs 4.3 s isolated) in the pair probe's
    // first post-battery rep before this hygiene step. Memory cleanup only;
    // no query state survives it.
    System.gc()
  }

  /** Share of battery mention turns rendered as HTML tables (the gold
    * derivation in `goldAssignments` must mirror this exactly). */
  private val batteryTableRate = 0.08

  private def synthMentions(spark: SparkSession, dir: String) =
    synthCache.getOrElseUpdate(cacheKey(spark, dir), {
      val nConvs = convsForSf(sfOf(dir), base = 100L)
      val entries = Ontology.load()
      // tableRate: a slice of mention turns are tool-extracted HTML tables,
      // so the battery exercises the cascade's table path (P5-P7 features,
      // the exact tier's Q57 table default) — not just sentence mentions
      val transcripts = TranscriptSynth.generate(spark, entries, nConvs, seed = 42L,
        tableRate = batteryTableRate)
      // coalesce before persist: the extractor's window exchange leaves the
      // cache at the full shuffle width (128), so EVERY downstream map stage
      // of every q_el_* query ran 128 ~90-row tasks — task-launch overhead,
      // not compute. defaultParallelism keeps one wave per stage and scales
      // with the cluster, not with a config constant.
      val mentions = pkel.app.Pipeline.extractMentions(transcripts)
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (entries, mentions)
    })

  /** Tier sink writing (mention_id, y_pred, tier, status) per tier under the
    * oracle dump dir — the DuckDB oracle re-derives the cascade union from
    * these instead of trusting the Spark-side union. */
  private def tierDumpSink(base: String): (String, DataFrame) => Unit =
    (tier, df) => df.select("mention_id", "y_pred", "tier", "status")
      .write.mode("overwrite").parquet(s"$base/$tier")

  /** Default-config cascade output, shared by the queries that consume it. */
  private def linkedMentions(spark: SparkSession, dir: String): DataFrame =
    cascadeCache.getOrElseUpdate(cacheKey(spark, dir), {
      val (entries, mentions) = synthMentions(spark, dir)
      val sink = if (shouldDump(dir)) Some(tierDumpSink(oracleDump(dir) + "/cascade")) else None
      pkel.link.Cascade.run(spark, pkel.link.ExactLinker.withBlockingKey(mentions), entries,
        pkel.link.Cascade.Config(tierSink = sink)).predictions
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Side-channel for EL oracle inputs: the Scala-only kernels (tokenizer,
    * regex flags, pair scoring) dump their outputs as parquet so the DuckDB
    * oracle can independently re-run the RELATIONAL part of each operator
    * (the broadcast join + when-cascade; the connected-components fixpoint)
    * on the same machine the driver's comparator runs on. */
  private def oracleDump(dir: String): String = {
    val tag = "sf[0-9.]+".r.findFirstIn(dir).getOrElse("default")
    s"/tmp/graft_oracle/$tag"
  }

  /** The dumps exist solely for the DuckDB oracle, which the driver runs at
    * sf0.01 — writing them at bench scale would charge oracle-only IO to the
    * operator timings, and dumps at any other sf could never feed the oracle
    * anyway (the oracle SQL reads the sf0.01 paths), so there is no override
    * to enable them elsewhere. `Bench` additionally disables dumping outright
    * (`dumpEnabled`): a bench run pointed at sf0.01 would otherwise charge
    * oracle-only parquet IO to the timed query window. */
  private val dumpEnabled = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** Verify leaves dumping on; Bench turns it off for its whole process. */
  def setDumpEnabled(on: Boolean): Unit = dumpEnabled.set(on)

  private[graft] def shouldDump(dir: String): Boolean =
    dumpEnabled.get() && sfOf(dir) == 0.01

  /** Exact linker tier over synthesized transcript mentions. Hash-verified:
    * the blocking join + candidate when-cascade is recomputed by the DuckDB
    * oracle from the dumped keyed-mention table and blocking index (the regex
    * flags are inputs — they are pinned byte-for-byte against the reference
    * by the parity specs, not by this oracle). */
  def elExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (entries, mentions) = synthMentions(spark, dir)
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val index = Ontology.blockingIndex(entries)
    val linked = cachedDf(spark, dir, "el_exact") {
      pkel.link.ExactLinker.link(spark, keyed, index, keepDebug = true)
    }
    if (shouldDump(dir)) {
      val dump = oracleDump(dir) + "/el_exact"
      // dump the RAW context-regex hit flags (one boolean per disambiguation
      // pattern) instead of the resolved disambiguation — the oracle re-runs
      // the km / t1/2 priority logic itself in SQL, so only the regex kernel
      // remains a Spark-computed input (pinned by the reference parity specs)
      val flagsUdf = udf((text: String) => {
        val t = pkel.text.BasicNormalizer(Option(text).getOrElse(""))
        Seq(
          pkel.text.Rx.search(pkel.text.Patterns.RateConstantUnit, t),
          pkel.text.Rx.search(pkel.text.Patterns.EnzymeContext, t),
          pkel.text.Rx.search(pkel.text.Patterns.THalfZContext, t),
          pkel.text.Rx.search(pkel.text.Patterns.THalfBetaContext, t),
          pkel.text.Rx.search(pkel.text.Patterns.THalfGammaContext, t))
      })
      linked
        .withColumn("flags", flagsUdf(col("text")))
        .select(col("mention_id"), col("blocking_key"), col("is_table"), col("is_excluded"),
          element_at(col("flags"), 1).as("rate_hit"),
          element_at(col("flags"), 2).as("enzyme_hit"),
          element_at(col("flags"), 3).as("thz_hit"),
          element_at(col("flags"), 4).as("thb_hit"),
          element_at(col("flags"), 5).as("thg_hit"))
        .write.mode("overwrite").parquet(s"$dump/mentions")
      index.map { case (k, cands) =>
        (k, cands.size, cands.head, cands.contains("Q57"), cands.contains("Q1")) }
        .toDF("blocking_key", "n_candidates", "first_candidate", "has_q57", "has_q1")
        .write.mode("overwrite").parquet(s"$dump/index")
    }
    linked
      .select("mention_id", "blocking_key", "y_pred", "status")
      .orderBy("mention_id")
  }

  /** Full cascade tier/status distribution. Hash-verified: DuckDB re-derives
    * the first-terminal-tier-wins union from the per-tier dumps and must land
    * on the same distribution the Spark-side residue wiring produces. */
  def elCascade(spark: SparkSession, dir: String): DataFrame =
    linkedMentions(spark, dir)
      .groupBy("tier", "status").agg(count(lit(1)).as("n"))
      .orderBy("tier", "status")

  /** Tier-5 prompt linker over the cascade residue with the deterministic
    * offline SubstringScorer — tier/status distribution incl. the prompt
    * tier's three grounding outcomes. Hash-verified via per-tier dumps like
    * the default cascade. */
  def elPromptTier(spark: SparkSession, dir: String): DataFrame = {
    val (entries, mentions) = synthMentions(spark, dir)
    // the default cascade links everything in this corpus (the typo-tolerant
    // surface tier + unconstrained bi-encoder mop up the residue), so the
    // prompt tier would sit idle; tighten the upstream thresholds so real
    // residue flows to tier 5 and all three grounding outcomes are exercised
    val cfg = pkel.link.Cascade.Config(
      fuzzyThreshold = 95.0,
      surfaceThreshold = 101.0, // > 100: surface tier passes everything through
      biencoderThreshold = 1.01, // > cos max: bi-encoder always NIL-falls-back
      promptScorer = Some(new pkel.link.PromptLinker.SubstringScorer(entries)),
      tierSink = if (shouldDump(dir))
        Some(tierDumpSink(oracleDump(dir) + "/prompt_cascade")) else None)
    pkel.link.Cascade.run(spark, pkel.link.ExactLinker.withBlockingKey(mentions), entries, cfg).predictions
      .groupBy("tier", "status").agg(count(lit(1)).as("n"))
      .orderBy("tier", "status")
  }

  /** Contrastive training pairs (positives + same-category hard negatives +
    * random negatives) over cascade-linked mentions, label distribution per
    * pair polarity. Hash-verified: the NIL filter, gold join, same-category /
    * full-ontology negative joins, window sampling and final aggregation are
    * re-run by the DuckDB oracle from dumped inputs; the xxhash64 pick values
    * are dumped as an input table (Spark's xxhash64 has no DuckDB twin). */
  def elContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val entries = synthMentions(spark, dir)._1
    val linked = cachedDf(spark, dir, "contrastive_in") {
      linkedMentions(spark, dir)
        .select(col("mention_id"), col("blocking_key").as("mention"), col("y_pred").as("label"))
    }
    val dim = pkel.train.ContrastivePairs.ontologyDim(spark, entries)
    if (shouldDump(dir)) {
      val base = oracleDump(dir) + "/contrastive"
      linked.select(col("mention_id"), col("mention").as("query"), col("label").as("gold"))
        .write.mode("overwrite").parquet(s"$base/mentions")
      dim.write.mode("overwrite").parquet(s"$base/dim")
      import spark.implicits._
      val tags = Seq("hard", "random").toDF("tag")
      linked.select("mention_id")
        .crossJoin(broadcast(dim.select("parameter_id")))
        .crossJoin(broadcast(tags))
        .withColumn("pick_hash",
          xxhash64(lit(42L), col("tag"), col("mention_id"), col("parameter_id")))
        .write.mode("overwrite").parquet(s"$base/picks")
    }
    pkel.train.ContrastivePairs.generate(spark, linked, entries)
      .groupBy("label").agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("mention_id")).as("n_mentions"))
      .orderBy("label")
  }

  /** Retrieval metrics (A2, `evaluation.py:50-89`): MRR and Recall@k of the
    * fuzzy tier's ranked candidates over the exact-tier residue, as exact
    * integers (reciprocal ranks are summed as floor(1e6/pos) so the mean is
    * engine-stable — a float avg would be partition-order-dependent). The
    * ranked lists come from the spec-pinned fuzzy kernel; the dumped
    * (mention_id, pos) table is the oracle's input and the aggregation is
    * re-run in SQL. */
  def elRetrievalMetrics(spark: SparkSession, dir: String, k: Int = 10,
      threshold: Double = 50.0): DataFrame = {
    val (entries, mentions) = synthMentions(spark, dir)
    val index = Ontology.blockingIndex(entries)
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val exact = cachedDf(spark, dir, "el_exact") {
      pkel.link.ExactLinker.link(spark, keyed, index, keepDebug = true)
    }
    val residue = pkel.blocking.CategoryBlocker.withSubsets(
      exact.filter(col("status").isin(
        pkel.link.ExactLinker.StatusAmbiguous, pkel.link.ExactLinker.StatusUnlinked))
        .drop("y_pred", "status", "tier"), entries)
    val fuzzy = pkel.link.FuzzyLinker.link(spark, residue, index, k, threshold)
    val gold = goldAssignments(spark, dir).select(col("mention_id"), col("gold"))
    val ranked = fuzzy.join(gold, "mention_id")
      .select(col("mention_id"), col("gold"),
        coalesce(array_position(col("pred_ids"), col("gold")), lit(0L)).as("pos"))
    if (shouldDump(dir))
      ranked.write.mode("overwrite").parquet(oracleDump(dir) + "/retrieval")
    ranked.agg(
      count(lit(1)).as("n"),
      sum(when(col("pos") > 0, floor(lit(1000000L) / col("pos")).cast("long")).otherwise(0L))
        .as("sum_recip_micro"),
      sum(when(col("pos") > 0, 1L).otherwise(0L)).as("n_hit"))
      .select(col("n"), col("sum_recip_micro"), col("n_hit"),
        floor(col("sum_recip_micro") / col("n")).cast("long").as("mrr_micro"),
        floor(lit(10000L) * col("n_hit") / col("n")).cast("long").as("recall_bp"))
  }

  /** Misclassification listing (A3, `evaluation.py:92-120` — the reference
    * prints the first `max_errors` y_true≠y_pred rows). Driver-visible with
    * a DETERMINISTIC order (the reference's list order is input order; a
    * distributed limit without a sort is partition-order-dependent, so the
    * battery row orders by mention_id before limiting). Oracle re-derives
    * the filter + order + limit from the dumped assignment table. */
  def elErrors(spark: SparkSession, dir: String, maxErrors: Int = 100): DataFrame =
    goldAssignments(spark, dir)
      .filter(col("gold") =!= col("pred"))
      .select(col("mention_id"), col("gold"), col("pred"))
      .orderBy("mention_id")
      .limit(maxErrors)

  /** Blocking-quality counters (A5, `ontology_preprocessing.py:252-349` —
    * `evaluate_subset_matching`), driver-visible: the stage-2 category
    * blocker runs over every synthesized mention and one conditional-
    * aggregate pass reports match coverage, matched/unmatched correctness,
    * NIL false-positive counts, and the average search-space reduction
    * (integer basis points over an exact sum, not a float avg — engine-
    * stable). The oracle re-runs the whole aggregation from the dumped
    * per-mention flags (the regex subset assignment itself is the
    * Scala-kernel input, pinned by the category-blocking specs). */
  def elBlockingQuality(spark: SparkSession, dir: String): DataFrame = {
    val (entries, mentions) = synthMentions(spark, dir)
    val nOntology = entries.size
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val sub = pkel.blocking.CategoryBlocker.withSubsets(keyed, entries)
    val gold = goldAssignments(spark, dir).select(col("mention_id"), col("gold").as("label"))
    // drop the extractor's empty label column — the gold join provides it
    val rows = sub.drop("label").join(gold, "mention_id").select(
      col("mention_id"), col("label"),
      coalesce(col("subset_matched"), lit(false)).as("matched"),
      coalesce(size(col("subsetted_concepts")), lit(0)).as("n_subset"),
      coalesce(array_contains(col("subsetted_concepts"), col("label")), lit(false)).as("hit"),
      (col("label") === "Q100").as("is_nil"))
    if (shouldDump(dir))
      rows.write.mode("overwrite").parquet(oracleDump(dir) + "/blocking_quality")
    rows.agg(
      count(lit(1)).as("total"),
      sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
      sum(when(!col("matched"), 1L).otherwise(0L)).as("n_unmatched"),
      sum(when(col("matched") && !col("is_nil") && col("hit"), 1L).otherwise(0L)).as("correct_matched"),
      sum(when(!col("matched") && col("is_nil"), 1L).otherwise(0L)).as("correct_unmatched"),
      sum(when(!col("is_nil"), 1L).otherwise(0L)).as("total_non_nil"),
      sum(when(col("is_nil"), 1L).otherwise(0L)).as("total_nil"),
      sum(when(col("is_nil") && col("matched"), 1L).otherwise(0L)).as("nil_with_subset"),
      floor(lit(10000L) *
        sum(when(col("n_subset") > 1, lit(nOntology) - col("n_subset")).otherwise(0L)) /
        (greatest(sum(when(col("n_subset") > 1, 1L).otherwise(0L)), lit(1L)) * lit(nOntology.toLong)))
        .cast("long").as("reduction_bp"))
  }

  /** Multi-span mention extraction, driver-visible: a transcript corpus with
    * 30% multi-mention turns (second «…» spans) → every span extracted with
    * its 0-based span_idx and surface. The DuckDB oracle re-runs the WHOLE
    * extraction independently — `regexp_extract_all(text, '«([^«»]*)»')`
    * over the dumped raw turns — so a first-span-only regression (the
    * round-2 defect) or an off-by-one in the offset scan breaks the hash. */
  def elSpans(spark: SparkSession, dir: String): DataFrame = {
    val entries = synthMentions(spark, dir)._1
    val nConvs = convsForSf(sfOf(dir), base = 100L)
    val transcripts = pkel.transcript.TranscriptSynth.generate(
      spark, entries, nConvs, seed = 99L, multiRate = 0.3)
    if (shouldDump(dir))
      transcripts.filter(col("text").contains("«"))
        .select("conv_id", "turn_idx", "text")
        .write.mode("overwrite").parquet(oracleDump(dir) + "/spans/turns")
    pkel.app.Pipeline.extractMentions(transcripts)
      .select(col("conv_id"), col("turn_idx"), col("span_idx"),
        expr("substring(text, span_start + 1, span_end - span_start)").as("mention"))
      .orderBy("conv_id", "turn_idx", "span_idx")
  }

  /** The north-rule metric itself, oracle-verified: pairwise cluster
    * precision/recall/F1 of the cascade's predictions vs gold labels,
    * globally and restricted to identical blocking keys — computed by
    * cluster-size contingency arithmetic (no pair materialization), and
    * recomputed independently by the DuckDB oracle from the dumped
    * (gold, pred, blocking_key) assignment table. */
  private val assignCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** (mention_id, gold, pred, blocking_key) for the cascade's predictions:
    * gold is re-derived from the synthesizer's deterministic hash (the
    * transcript table itself carries no labels — same wiring as the
    * pipeline's evaluation path). Dumped once for the eval-family oracles. */
  private def goldAssignments(spark: SparkSession, dir: String): DataFrame =
    assignCache.getOrElseUpdate(cacheKey(spark, dir), {
      val (entries, mentions) = synthMentions(spark, dir)
      val goldDf = TranscriptSynth.goldLabels(mentions, entries, seed = 42L,
        tableRate = batteryTableRate)
      val linked = linkedMentions(spark, dir)
        .select(col("mention_id"), col("y_pred").as("pred"), col("blocking_key"))
        .join(goldDf, "mention_id")
        .select(col("mention_id"), col("gold"), col("pred"), col("blocking_key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (shouldDump(dir))
        linked.write.mode("overwrite").parquet(oracleDump(dir) + "/pairwise_assignments")
      linked
    })

  def elPairwiseF1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val linked = goldAssignments(spark, dir)
    // both scopes in ONE grouping-sets job (same arithmetic as the
    // per-scope methods, pinned by MetricsSpec) — the two-call form paid
    // two ~7-stage AQE jobs of almost pure stage latency at battery scale
    val (g, k) = pkel.eval.Metrics.pairwiseF1Both(linked.toDF())
    def bp(x: Double): Long = math.floor(x * 10000).toLong
    Seq(
      ("at_key", k.tp, k.predPairs, k.goldPairs, bp(k.precision), bp(k.recall), bp(k.f1)),
      ("global", g.tp, g.predPairs, g.goldPairs, bp(g.precision), bp(g.recall), bp(g.f1)))
      .toDF("scope", "tp", "pred_pairs", "gold_pairs", "precision_bp", "recall_bp", "f1_bp")
      .orderBy("scope")
  }

  /** Confusion-matrix counts (A6 eval family, `evaluation.py:123-172` minus
    * plotting) of cascade predictions vs synthesizer gold — the oracle
    * re-aggregates the dumped assignment table. */
  def elConfusion(spark: SparkSession, dir: String): DataFrame =
    pkel.eval.Metrics.confusionCounts(
      goldAssignments(spark, dir)
        .select(col("gold").as("y_true"), col("pred").as("y_pred")))

  /** Row-normalized confusion matrix (`evaluation.py:135-147` percent-of-
    * true-row, the step the reference computes before plotting) — integer
    * basis points, independently re-derived by the oracle from the same
    * dumped assignment table. */
  def elConfusionNorm(spark: SparkSession, dir: String): DataFrame =
    pkel.eval.Metrics.confusionNormalized(
      goldAssignments(spark, dir)
        .select(col("gold").as("y_true"), col("pred").as("y_pred")))

  /** Prompt-tier token & cost estimate (`prompt_linker.py:415-496`) over the
    * synthesized mention set at gpt-4o-mini rates: base prompt-scaffold
    * tokens (system prompt + templates + full ontology block) plus a
    * codegen'd regex token count per mention, all-integer nanodollar cost
    * arithmetic. The oracle re-runs the per-mention token count (identical
    * RE2-safe pattern), the aggregation and the price arithmetic from the
    * dumped (mention_id, mention) table + a one-row constants table. */
  def elPromptCost(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (entries, mentions) = synthMentions(spark, dir)
    val model = "gpt-4o-mini"
    val m = mentions.select(col("mention_id"),
      expr("substring(text, span_start + 1, span_end - span_start)").as("mention"))
    if (shouldDump(dir)) {
      val base = oracleDump(dir) + "/prompt_cost"
      m.write.mode("overwrite").parquet(s"$base/mentions")
      val (pRate, cRate) = pkel.link.PromptCost.ratesNanos(model)
      val baseToks = pkel.link.PromptCost.baseTokens(
        pkel.link.PromptLinker.SystemPromptStandard, Ontology.formatForLlm(entries))
      Seq((model, baseToks.toLong, pRate, cRate, 7L))
        .toDF("model", "base_tokens", "prompt_rate_nanos", "completion_rate_nanos",
          "est_completion_tokens")
        .write.mode("overwrite").parquet(s"$base/consts")
    }
    pkel.link.PromptCost.estimate(spark, m, entries, model)
  }

  /** Per-category ontology coverage (A6, `data_exploration.py:8-101`): how
    * many of each category's parameters appear in the gold mentions, and the
    * mention mass per category — a broadcast dim join + two aggregates,
    * re-run by the oracle from the dumped dim + assignments. */
  def elCoverage(spark: SparkSession, dir: String): DataFrame = {
    val entries = synthMentions(spark, dir)._1
    val dim = pkel.train.ContrastivePairs.ontologyDim(spark, entries)
    if (shouldDump(dir))
      dim.write.mode("overwrite").parquet(oracleDump(dir) + "/coverage_dim")
    val catTotals = dim.groupBy("category_id")
      .agg(countDistinct(col("parameter_id")).as("n_params_total"))
    goldAssignments(spark, dir)
      .filter(col("gold") =!= "Q100")
      .join(broadcast(dim.select(col("parameter_id").as("gold"), col("category_id"))), "gold")
      .groupBy("category_id")
      .agg(countDistinct(col("gold")).as("n_params_seen"), count(lit(1)).as("n_mentions"))
      .join(broadcast(catTotals), "category_id")
      .withColumn("coverage_bp",
        floor(lit(10000) * col("n_params_seen") / col("n_params_total")).cast("long"))
      .select("category_id", "n_params_seen", "n_params_total", "coverage_bp", "n_mentions")
      .orderBy("category_id")
  }

  /** Prompt-ablation grid as one driver row per cell
    * (`tune_prompt_linker.py:36-44`: use_cot_prompt × use_examples ×
    * use_context — the reference sweeps one cell per invocation; this runs
    * the whole sentence-mode grid): per-cell grounding-outcome counts from
    * the deterministic offline scorer + the cell's exact token price. The
    * oracle re-derives every row relationally — outcome counts from the
    * dumped per-mention scorer statuses (variant-independent: the offline
    * scorer reads only the Mention line) and prices from dumped per-variant
    * base-token constants + the SAME regex token count over the dumped
    * residue texts. Prompts use the full ontology block so the estimator,
    * the assembled prompts, and the oracle price identical strings. */
  def elPromptVariants(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (entries, mentions) = synthMentions(spark, dir)
    // the exact tier's ambiguous/unlinked residue (the population the
    // reference's prompt ablations tune on: mentions exact linking could not
    // settle), with the mention surface + turn context the prompt assembles
    val index = Ontology.blockingIndex(entries)
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val exact = cachedDf(spark, dir, "el_exact") {
      pkel.link.ExactLinker.link(spark, keyed, index, keepDebug = true)
    }
    val residue = exact.filter(col("status").isin(
      pkel.link.ExactLinker.StatusAmbiguous, pkel.link.ExactLinker.StatusUnlinked))
      .select("mention_id", "mention", "text")
    val grid = pkel.link.PromptLinker.variantGrid(isTable = false)
    val model = "gpt-4o-mini"
    if (shouldDump(dir)) {
      val base = oracleDump(dir) + "/prompt_variants"
      residue.write.mode("overwrite").parquet(s"$base/residue")
      val scored = pkel.link.PromptLinker.linkVariant(spark, residue, entries,
        new pkel.link.PromptLinker.SubstringScorer(entries), grid.head)
      scored.select("mention_id", "status").write.mode("overwrite").parquet(s"$base/statuses")
      val kb = Ontology.formatForLlm(entries)
      val (pRate, cRate) = pkel.link.PromptCost.ratesNanos(model)
      grid.map { v =>
        (v.name, v.useCotPrompt, v.useExamples, v.useContext,
          pkel.link.PromptCost.baseTokensVariant(v, kb).toLong, pRate, cRate, 7L)
      }.toDF("variant", "use_cot", "use_examples", "use_context", "base_tokens",
        "prompt_rate_nanos", "completion_rate_nanos", "est_completion_tokens")
        .write.mode("overwrite").parquet(s"$base/consts")
    }
    pkel.link.PromptLinker.sweepVariants(spark, residue, entries,
      new pkel.link.PromptLinker.SubstringScorer(entries), grid, model)
  }

  /** Combined per-split analysis table (`data_exploration.py:46-101`:
    * `get_single_label_stats` + `generate_analysis_results` side by side —
    * the per-split table the reference prints but never materializes).
    * Splits are a deterministic 3-way hash partition of mentions
    * (train/validation/test-shaped, `pmod(mention_id, 3)` — re-derivable by
    * the oracle from the dumped assignment table). The synthetic NIL
    * category row per split IS `get_single_label_stats(label_id="Q100")`. */
  def elAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val entries = synthMentions(spark, dir)._1
    if (shouldDump(dir))
      pkel.train.ContrastivePairs.ontologyDim(spark, entries)
        .select("parameter_id", "category_id")
        .write.mode("overwrite").parquet(oracleDump(dir) + "/analysis_dim")
    val tagged = goldAssignments(spark, dir)
      .withColumn("split",
        element_at(array(lit("test"), lit("train"), lit("validation")),
          (pmod(col("mention_id"), lit(3)) + 1).cast("int")))
      .select(col("split"), col("gold").as("label"))
    pkel.eval.Metrics.analysisResultsSplit(spark, tagged, entries)
  }

  /** Bi-encoder threshold sweep as one driver row per threshold (K6,
    * `tune_biencoder_linker.py:36`): the retrieval kernel runs ONCE at the
    * loosest threshold with the full in-constraint top-k dumped per mention;
    * every sweep point is then a purely RELATIONAL re-derivation — first
    * rank-ordered candidate with score ≥ t, else NIL — which is exactly what
    * the DuckDB oracle re-runs over the dumped top-k. One kernel pass for
    * the whole curve instead of |thresholds| passes (the shape a 100 TB
    * tuning sweep needs: encode once, sweep relationally). */
  def elBiencoderSweep(spark: SparkSession, dir: String,
      thresholdsBp: Seq[Long] = Seq(5000L, 6000L, 7000L, 7500L, 8000L, 9000L)): DataFrame = {
    import spark.implicits._
    val (entries, mentions) = synthMentions(spark, dir)
    val index = Ontology.blockingIndex(entries)
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val exact = cachedDf(spark, dir, "el_exact") {
      pkel.link.ExactLinker.link(spark, keyed, index, keepDebug = true)
    }
    val residue = pkel.blocking.CategoryBlocker.withSubsets(
      exact.filter(col("status").isin(
        pkel.link.ExactLinker.StatusAmbiguous, pkel.link.ExactLinker.StatusUnlinked))
        .drop("y_pred", "status", "tier"), entries)
    // loosest threshold: the filtered list is top-k ∩ constraint in rank
    // order with non-increasing scores, so score-only prefix filtering
    // reproduces ANY threshold's (y_pred, status) exactly
    val ranked = pkel.link.BiencoderLinker.link(spark, residue, entries,
      featureCol = "mention", k = 5, matchThreshold = -1.0)
      .join(goldAssignments(spark, dir).select(col("mention_id"), col("gold")), "mention_id")
      .select(col("mention_id"), col("gold"), col("pred_ids"), col("pred_scores"))
    if (shouldDump(dir))
      ranked.write.mode("overwrite").parquet(oracleDump(dir) + "/biencoder_topk")
    // the filtered list is rank-ordered with non-increasing scores and the
    // category constraint is threshold-independent, so pred(t) is simply
    // head-if-it-passes: when the top candidate's score misses t, so does
    // every other candidate's
    val curve = ranked
      .crossJoin(broadcast(thresholdsBp.toDF("threshold_bp")))
      .withColumn("pred", when(
        element_at(col("pred_scores"), 1) >= col("threshold_bp") / lit(10000.0) &&
          element_at(col("pred_ids"), 1) =!= "Q100",
        element_at(col("pred_ids"), 1)).otherwise(lit("Q100")))
      .groupBy("threshold_bp")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") =!= "Q100", 1L).otherwise(0L)).as("linked"),
        sum(when(col("pred") === "Q100", 1L).otherwise(0L)).as("residue"),
        sum(when(col("pred") === col("gold"), 1L).otherwise(0L)).as("correct"))
      .withColumn("micro_f1_bp",
        floor(lit(10000) * col("correct") / col("n")).cast("long"))
    curve.orderBy("threshold_bp")
  }

  /** End-to-end clustering: cluster size distribution. Hash-verified: the
    * large-star/small-star fixpoint is cross-checked by the DuckDB oracle,
    * which recomputes min-reachable-id components from the dumped edge list
    * via a recursive transitive closure (feasible at verify scale; the
    * scored edges themselves come from the spec-pinned Scala kernel). */
  def elClusters(spark: SparkSession, dir: String): DataFrame = {
    val (entries, mentions) = synthMentions(spark, dir)
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val scored = pkel.scoring.PairScorer.scoreCandidates(
      keyed.select("mention_id", "blocking_key", "tokens", "mention"))
    val edges = scored.filter(col("score") >= 0.9).select("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (shouldDump(dir))
      edges.write.mode("overwrite").parquet(oracleDump(dir) + "/cluster_edges")
    // the scored pair stream is canonical-distinct by construction (salted
    // intra-bucket pairs are emitted i<j once, rep-star pairs rep>anchor
    // once, LSH pairs cross-key with dropDuplicates + src>dst) — the same
    // property the pipeline's committed edge snapshot vouches — so CC can
    // skip iteration 0's re-canonicalize + localCheckpoint of the full edge
    // set (a wrong vouch costs duplicate round-1 work, never wrong roots)
    val comps = pkel.cluster.ConnectedComponents.run(spark, edges, inputCanonical = true)
    comps.groupBy("root").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  }
}
