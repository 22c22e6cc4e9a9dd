package pkel.scoring

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.pkelbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import pkel.blocking.{PairDropMetrics, PairGen}

/** Batched pairwise scoring kernel (north_star: "batched mapPartitions kernel
  * combining Jaro-Winkler/Levenshtein edit similarity with cosine similarity
  * over broadcast bi-encoder embedding vectors").
  *
  * Two kernels: [[scorePairs]] scores candidate pairs already joined with
  * both sides' features (`key_a/key_b` canonical blocking-key strings,
  * `mention_a/mention_b` raw surface strings), reading jw and cosine through
  * a per-task [[SurfaceSims]] cache (embeddings from `Embedder.encode` on the
  * raw surface); [[scoreBuckets]] enumerates the pairs of the salted
  * bucket-member table in place, as the [[BucketPairs]] generator.
  * [[scoreCandidates]] unions both into one lazy `(src, dst, score)` plan.
  *
  * Combined score = wKey·indel(key_a,key_b)/100 + wJw·JW(mention_a,mention_b)
  * + wCos·max(0, cosine) — the key term carries the reference's
  * canonicalization semantics (equal keys ⇒ same surface family), the
  * JW/cosine terms grade near-duplicates across keys. Identical non-empty
  * keys are the reference's own equality predicate and score 1.0 without
  * reading a surface, so only cross-key pairs pay for JW and cosine.
  */
object PairScorer {

  /** Per-task bound on each [[SurfaceSims]] table (embeddings per surface,
    * (jw, cos) per surface pair). Above ~this many distinct surfaces the
    * cache stops growing and the kernel recomputes per pair. */
  val MemoCap = 200000

  final case class Weights(wKey: Double = 0.5, wJw: Double = 0.2, wCos: Double = 0.3)

  /** The per-task similarity cache of [[scorePairs]]: an embedding per
    * surface and `(jw, cos)` per ORDERED surface pair `(a, b)` — JW of the
    * lower-cased surfaces, dot of their unit embeddings. Each table is
    * bounded at [[MemoCap]] entries: past the cap a miss computes without
    * storing, so an all-unique partition keeps memory flat. */
  private final class SurfaceSims(embedder: Embedder) {
    private val vecs = new java.util.HashMap[String, Array[Float]](1024)
    private val sims = new java.util.HashMap[String, Array[Double]](1024)

    private def cached[V <: AnyRef](m: java.util.HashMap[String, V], k: String)(compute: => V): V = {
      var v = m.get(k)
      if (v == null) {
        v = compute
        if (m.size < MemoCap) m.put(k, v)
      }
      v
    }

    private def vec(s: String): Array[Float] = cached(vecs, s)(embedder.encode(s))

    /** `Array(jw, cos)` of the surface pair (a, b). */
    def apply(a: String, b: String): Array[Double] =
      cached(sims, a + "\u0001" + b)(Array(
        Similarity.jaroWinkler(a.toLowerCase, b.toLowerCase), Similarity.dot(vec(a), vec(b))))
  }

  /** Upper bound on the combined score from key LENGTHS alone (the classic
    * similarity-join length filter, cf. AllPairs/PPJoin): indel similarity is
    * 200·LCS/(|a|+|b|) and LCS ≤ min(|a|,|b|), so for cross-key pairs
    *   score ≤ wKey · 2·min(|ka|,|kb|)/(|ka|+|kb|) + wJw + wCos
    * (jw, cos ≤ 1). Identical NON-EMPTY keys are the kernel's equality
    * shortcut (score = 1.0 exactly); identical empty keys grade with
    * keySim = 1. A pair whose bound is below the edge threshold θ can never
    * become an edge, so it is safe to drop BEFORE the O(|a|·|b|) edit-distance
    * and cosine kernels run — edge sets and clusters are provably invariant
    * (LengthPruneSpec). With θ = 0.9 and default weights this prunes every
    * cross-key pair whose key lengths differ by more than 1.5×. */
  def lengthBound(w: Weights = Weights()): org.apache.spark.sql.Column = {
    val la = length(col("key_a")).cast("double")
    val lb = length(col("key_b")).cast("double")
    when(col("key_a") === col("key_b"),
      when(length(col("key_a")) > 0, lit(1.0)).otherwise(lit(w.wKey + w.wJw + w.wCos)))
      .otherwise(
        lit(w.wKey) * lit(2.0) * least(la, lb) / (la + lb) + lit(w.wJw + w.wCos))
  }

  /** Drop pairs whose [[lengthBound]] sits below `minScore`, counting drops
    * into `pruned` (no silent caps: truncation that emits no counter reads
    * as "covered everything"). The counting UDF is nondeterministic so
    * Catalyst neither duplicates nor collapses it; it evaluates integer
    * length arithmetic only — no edit distance. */
  private def lengthPrune(pairs: DataFrame, w: Weights, minScore: Double,
      pruned: org.apache.spark.util.LongAccumulator): DataFrame = {
    val countDrop = udf { (bound: Double) =>
      val keep = bound >= minScore
      if (!keep) pruned.add(1L)
      keep
    }.asNondeterministic()
    pairs.filter(countDrop(lengthBound(w)))
  }

  /** Score a pair DataFrame with columns (src, dst, key_a, key_b, mention_a,
    * mention_b). Appends (key_sim, jw_sim, cos_sim, score). */
  def scorePairs(pairs: DataFrame, w: Weights = Weights(),
      embedder: Embedder = Embedder.default): DataFrame = {
    val outSchema = StructType(pairs.schema.fields.toSeq ++ simFields)
    val iKeyA = pairs.schema.fieldIndex("key_a")
    val iKeyB = pairs.schema.fieldIndex("key_b")
    val iMenA = pairs.schema.fieldIndex("mention_a")
    val iMenB = pairs.schema.fieldIndex("mention_b")
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    pairs.mapPartitions { rows =>
      val sims = new SurfaceSims(embedder)
      rows.map { r =>
        def s(i: Int): String = if (r.isNullAt(i)) "" else r.getString(i)
        val keyA = s(iKeyA); val keyB = s(iKeyB)
        val surf = sims(s(iMenA), s(iMenB))
        val keySim = Similarity.indelRatio(keyA, keyB) / 100.0
        val jw = surf(0); val cos = surf(1)
        // identical non-empty canonical keys are the reference's own
        // equality predicate (same sorted-dedup token set) ⇒ certain match;
        // otherwise a graded combination for near-duplicates across keys
        val score =
          if (keyA.nonEmpty && keyA == keyB) 1.0
          else w.wKey * keySim + w.wJw * jw + w.wCos * math.max(0.0, cos)
        Row.fromSeq(r.toSeq ++ Seq(keySim, jw, cos, score))
      }
    }(encoder)
  }

  private val simFields = Seq(
    StructField("key_sim", DoubleType), StructField("jw_sim", DoubleType),
    StructField("cos_sim", DoubleType), StructField("score", DoubleType))

  /** The committed pair schema: ids and the combined score. */
  private val leanSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType), StructField("score", DoubleType)))

  /** Kernel-fused scoring over a salted bucket-member table
    * (`PairGen.saltedBucketTable`): pair enumeration runs in one pass over
    * the bucket rows, so the quadratic pair stream is never a relational
    * intermediate (no pair-row shuffle). The kernel is the [[BucketPairs]]
    * generator, so the scored pairs are a `Generate` node in the caller's
    * own lazy plan. */
  def scoreBuckets(buckets: DataFrame): DataFrame =
    buckets.select(Bridge.column(BucketPairs(Bridge.expression(col("ms")))))

  /** The bucket kernel as a Catalyst generator: one bucket's member array
    * (structs of mention_id, blocking_key) in, its `(src, dst, 1.0)` pairs
    * out. Pairs are oriented src > dst by sorting members on descending
    * mention_id, making output rows independent of collect_list order
    * (parallelism-invariant).
    *
    * Every bucket must hold ONE non-empty blocking key — the salted table
    * groups on `key#salt` after dropping empty keys — so every pair scores
    * the constant 1.0 (identical canonical keys are the reference's own
    * equality predicate) and no surface is read. A mixed-key or empty-key
    * bucket fails the task. */
  private case class BucketPairs(child: Expression)
      extends UnaryExpression with Generator with CodegenFallback {

    override def prettyName: String = "bucket_pairs"
    override def elementSchema: StructType = leanSchema

    @transient private lazy val memberSchema =
      child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    @transient private lazy val iId = memberSchema.fieldIndex("mention_id")
    @transient private lazy val iKey = memberSchema.fieldIndex("blocking_key")
    // consumers read or copy each row before asking for the next one
    @transient private lazy val out = new SpecificInternalRow(leanSchema.map(_.dataType))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return Iterator.empty
      val n = arr.numElements()
      val ids = new Array[Long](n)
      var key: UTF8String = null
      var k = 0
      while (k < n) {
        val m = arr.getStruct(k, memberSchema.length)
        val mk = if (m.isNullAt(iKey)) null else m.getUTF8String(iKey)
        require(mk != null && mk.numBytes > 0 && (key == null || key == mk),
          s"bucket kernel needs one non-empty blocking key per bucket, got '$key' and '$mk'")
        key = mk
        ids(k) = m.getLong(iId)
        k += 1
      }
      // sort member indices by descending id so pair (i,j), i<j is (src,dst)
      val order = Array.range(0, n).sortBy(t => -ids(t))

      new scala.collection.AbstractIterator[InternalRow] {
        private var i = 0
        private var j = 1
        private def skipSelfPairs(): Unit = {
          while (i < n - 1 && j < n && ids(order(i)) == ids(order(j))) {
            j += 1
            if (j >= n) { i += 1; j = i + 1 }
          }
        }
        skipSelfPairs()
        override def hasNext: Boolean = i < n - 1 && j < n
        override def next(): InternalRow = {
          val pi = i; val pj = j
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          out.setLong(0, ids(order(pi)))
          out.setLong(1, ids(order(pj)))
          out.setDouble(2, 1.0)
          skipSelfPairs()
          out
        }
      }
    }

    override protected def withNewChildInternal(newChild: Expression): BucketPairs =
      copy(child = newChild)
  }

  /** Full fused candidate scoring, as `(src, dst, score)`: salted buckets
    * through the bucket kernel, rep-star pairs at their known score 1.0,
    * and the cross-key MinHash-LSH pairs through the row kernel. Produces
    * the same pairs and scores as
    * `scorePairs(PairGen.candidatePairsWithFeatures(...))` with one less
    * relational materialization of the quadratic stream. The LSH oversize
    * drop and the length prune count into `drops`, which holds this call's
    * counts only once an action has executed the plan. */
  def scoreCandidates(mentions: DataFrame,
      cfg: PairGen.Config = PairGen.Config(),
      w: Weights = Weights(), embedder: Embedder = Embedder.default,
      minScore: Option[Double] = None,
      drops: PairDropMetrics = PairDropMetrics()): DataFrame = {
    // salted-bucket and rep-star pairs share one non-empty blocking key, so
    // they score 1.0 and read no surface (and their length bound, 1.0, never
    // prunes). Only the cross-key LSH pairs pay the JW + cosine kernel and
    // the `minScore` length-bound prune. Both key-side branches start from
    // the same `annotated` plan, so the planner runs its blocking_key
    // exchange once and the rep-star branch reads it back as a
    // ReusedExchange (PlanAuditSpec).
    val lsh = PairGen.lshPairs(mentions, cfg, drops)
    val kept = minScore.fold(lsh)(t => lengthPrune(lsh, w, t, drops.prunedPairs))
    scoreBuckets(PairGen.saltedBucketTable(mentions, cfg))
      .unionByName(PairGen.repStarPairs(PairGen.annotated(mentions, cfg))
        .select(col("src"), col("dst"), lit(1.0).as("score")))
      .unionByName(scorePairs(kept, w, embedder).select("src", "dst", "score"))
  }
}
