package pkel.scoring

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batched pairwise scoring kernel (north_star: "batched mapPartitions kernel
  * combining Jaro-Winkler/Levenshtein edit similarity with cosine similarity
  * over broadcast bi-encoder embedding vectors").
  *
  * Input: candidate pairs already joined with both sides' features
  * (`key_a/key_b` canonical blocking-key strings, `mention_a/mention_b` raw
  * surface strings), or the salted bucket-member table for the fused bucket
  * kernel. Embeddings come from `Embedder.encode` on the raw surface, behind
  * a bounded per-partition memo.
  *
  * Combined score = wKey·indel(key_a,key_b)/100 + wJw·JW(mention_a,mention_b)
  * + wCos·cosine — the key term carries the reference's canonicalization
  * semantics (equal keys ⇒ same surface family), the JW/cosine terms grade
  * near-duplicates across keys.
  */
object PairScorer {

  /** Per-partition bound on every kernel memo (embeddings per surface, scores
    * per surface/combo pair). Above ~this many distinct surfaces the memos
    * stop growing and the kernel re-encodes per bucket occurrence. */
  val MemoCap = 200000

  final case class Weights(wKey: Double = 0.5, wJw: Double = 0.2, wCos: Double = 0.3)

  def score(keyA: String, keyB: String, mentionA: String, mentionB: String,
      vecA: Array[Float], vecB: Array[Float], w: Weights): (Double, Double, Double, Double) = {
    val keySim = Similarity.indelRatio(keyA, keyB) / 100.0
    val jw = Similarity.jaroWinkler(mentionA.toLowerCase, mentionB.toLowerCase)
    val cos = Similarity.dot(vecA, vecB)
    // identical non-empty canonical keys are the reference's own equality
    // predicate (same sorted-dedup token set) ⇒ certain match; otherwise a
    // graded combination for near-duplicates across keys
    val combined =
      if (keyA.nonEmpty && keyA == keyB) 1.0
      else w.wKey * keySim + w.wJw * jw + w.wCos * math.max(0.0, cos)
    (keySim, jw, cos, combined)
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
    * into [[pkel.blocking.PairDropMetrics]] (no silent caps: truncation that
    * emits no counter reads as "covered everything"). The counting UDF is
    * nondeterministic so Catalyst neither duplicates nor collapses it; it
    * evaluates integer length arithmetic only — no edit distance. */
  private def lengthPrune(pairs: DataFrame, w: Weights, minScore: Double): DataFrame = {
    val acc = pkel.blocking.PairDropMetrics.prunedAcc(pairs.sparkSession.sparkContext)
    val countDrop = udf { (bound: Double) =>
      val keep = bound >= minScore
      if (!keep) acc.add(1L)
      keep
    }.asNondeterministic()
    pairs.filter(countDrop(lengthBound(w)))
  }

  /** Score a pair DataFrame with columns (src, dst, key_a, key_b, mention_a,
    * mention_b). Appends (key_sim, jw_sim, cos_sim, score). `minScore`
    * enables the [[lengthBound]] prune: pairs that provably score below it
    * never reach the kernel. */
  def scorePairs(pairs0: DataFrame, w: Weights = Weights(),
      embedder: Embedder = Embedder.default,
      minScore: Option[Double] = None): DataFrame = {
    val pairs = minScore.map(t => lengthPrune(pairs0, w, t)).getOrElse(pairs0)
    val outSchema = StructType(pairs.schema.fields.toSeq ++ simFields)
    val iKeyA = pairs.schema.fieldIndex("key_a")
    val iKeyB = pairs.schema.fieldIndex("key_b")
    val iMenA = pairs.schema.fieldIndex("mention_a")
    val iMenB = pairs.schema.fieldIndex("mention_b")
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    pairs.mapPartitions { rows =>
      // embeddings per surface, and the full score per
      // (key_a,key_b,mention_a,mention_b) combo — transcript-scale data
      // repeats surface combinations massively, so most pairs are a hash
      // lookup
      val embMemo = new CappedMemo[Array[Float]]
      val comboMemo = new CappedMemo[Array[Double]]
      def embed(s: String): Array[Float] = embMemo(s)(embedder.encode(s))
      rows.map { r =>
        def s(i: Int): String = if (r.isNullAt(i)) "" else r.getString(i)
        val keyA = s(iKeyA); val keyB = s(iKeyB)
        val menA = s(iMenA); val menB = s(iMenB)
        val v = comboMemo(keyA + "\u0001" + keyB + "\u0001" + menA + "\u0001" + menB) {
          val (keySim, jw, cos, combined) = score(keyA, keyB, menA, menB, embed(menA), embed(menB), w)
          Array(keySim, jw, cos, combined)
        }
        Row.fromSeq(r.toSeq ++ Seq(v(0), v(1), v(2), v(3)))
      }
    }(encoder)
  }

  /** Per-partition memo bounded at [[MemoCap]] entries: past the cap a miss
    * computes without storing, so an all-unique partition keeps memory flat. */
  private final class CappedMemo[V <: AnyRef] {
    private val map = new java.util.HashMap[String, V](1024)
    def apply(k: String)(compute: => V): V = {
      var v = map.get(k)
      if (v == null) {
        v = compute
        if (map.size < MemoCap) map.put(k, v)
      }
      v
    }
  }

  private val simFields = Seq(
    StructField("key_sim", DoubleType), StructField("jw_sim", DoubleType),
    StructField("cos_sim", DoubleType), StructField("score", DoubleType))

  private val leanSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)) ++ simFields)

  /** Kernel-fused scoring over a salted bucket-member table
    * (`PairGen.saltedBucketTable`): pair enumeration AND scoring run in one
    * pass over the bucket rows, so the quadratic pair stream is never a
    * relational intermediate (no pair-row shuffle, member payloads decoded
    * once per member). Pairs are oriented src > dst by sorting members on
    * descending mention_id, making output rows independent of collect_list
    * order (parallelism-invariant).
    *
    * Runs at the InternalRow level and emits one reused fixed-width
    * UnsafeRow: zero per-pair allocation (an external-Row encoder boxes ~6
    * values per pair, and at 10^9 pairs that allocation rate serializes wide
    * fan-out). Every bucket must hold ONE non-empty blocking key — the
    * salted table groups on `key#salt` after dropping empty keys — so
    * key_sim and the combined score are the constant 1.0 (identical
    * canonical keys are the reference's own equality predicate) and jw/cos
    * depend only on the SURFACE pair: distinct surfaces are interned per
    * bucket and a d x d sim matrix is scored once (with a cross-bucket
    * memo); each emitted pair is index lookups + six fixed-width writes. A
    * mixed-key or empty-key bucket fails the task. */
  def scoreBuckets(buckets: DataFrame, embedder: Embedder = Embedder.default): DataFrame = {
    val msIdx = buckets.schema.fieldIndex("ms")
    val memberSchema = buckets.schema(msIdx).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val nMemberFields = memberSchema.length
    val iId = memberSchema.fieldIndex("mention_id")
    val iKey = memberSchema.fieldIndex("blocking_key")
    val iMen = memberSchema.fieldIndex("mention")
    val rdd = buckets.queryExecution.toRdd.mapPartitions { iter =>
      val embMemo = new CappedMemo[Array[Float]]
      val surfPairMemo = new CappedMemo[Array[Double]]
      // one reused output row: 8-byte null bitset + 6 fixed-width fields.
      // Downstream operators consume or copy each UnsafeRow before the next
      // one is produced (standard codegen buffer-reuse contract).
      val outBuf = new Array[Byte](8 + 6 * 8)
      val out = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(6)
      out.pointTo(outBuf, outBuf.length)

      iter.flatMap { bucketRow =>
        val arr = bucketRow.getArray(msIdx)
        val n = arr.numElements()
        val ids = new Array[Long](n)
        val mens = new Array[String](n)
        var key: org.apache.spark.unsafe.types.UTF8String = null
        var k = 0
        while (k < n) {
          val m = arr.getStruct(k, nMemberFields)
          val mk = if (m.isNullAt(iKey)) null else m.getUTF8String(iKey)
          require(mk != null && mk.numBytes > 0 && (key == null || key == mk),
            s"bucket kernel needs one non-empty blocking key per bucket, got '$key' and '$mk'")
          key = mk
          ids(k) = m.getLong(iId)
          mens(k) = if (m.isNullAt(iMen)) "" else m.getUTF8String(iMen).toString
          k += 1
        }
        // sort member indices by descending id so pair (i,j), i<j is (src,dst)
        val order = Array.range(0, n).sortBy(t => -ids(t))

        val surfOf = new Array[Int](n)
        val surfMap = new java.util.HashMap[String, Integer](16)
        val surfs = new scala.collection.mutable.ArrayBuffer[String](8)
        val surfVecs = new scala.collection.mutable.ArrayBuffer[Array[Float]](8)
        var t = 0
        while (t < n) {
          val mt = order(t)
          var si = surfMap.get(mens(mt))
          if (si == null) {
            si = Integer.valueOf(surfs.length)
            surfMap.put(mens(mt), si)
            surfs += mens(mt)
            surfVecs += embMemo(mens(mt))(embedder.encode(mens(mt)))
          }
          surfOf(t) = si.intValue()
          t += 1
        }
        val d = surfs.length
        val jwM = Array.ofDim[Double](d, d)
        val cosM = Array.ofDim[Double](d, d)
        var x = 0
        while (x < d) {
          var y = x
          while (y < d) {
            val v = surfPairMemo(surfs(x) + "\u0001" + surfs(y))(Array(
              Similarity.jaroWinkler(surfs(x).toLowerCase, surfs(y).toLowerCase),
              Similarity.dot(surfVecs(x), surfVecs(y))))
            jwM(x)(y) = v(0); jwM(y)(x) = v(0)
            cosM(x)(y) = v(1); cosM(y)(x) = v(1)
            y += 1
          }
          x += 1
        }

        new scala.collection.AbstractIterator[org.apache.spark.sql.catalyst.InternalRow] {
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
          override def next(): org.apache.spark.sql.catalyst.InternalRow = {
            val pi = i; val pj = j
            j += 1
            if (j >= n) { i += 1; j = i + 1 }
            out.setLong(0, ids(order(pi)))
            out.setLong(1, ids(order(pj)))
            out.setDouble(2, 1.0)
            out.setDouble(3, jwM(surfOf(pi))(surfOf(pj)))
            out.setDouble(4, cosM(surfOf(pi))(surfOf(pj)))
            out.setDouble(5, 1.0)
            skipSelfPairs()
            out
          }
        }
      }
    }
    org.apache.spark.sql.pkelbridge.Bridge.internalDf(buckets.sparkSession, rdd, leanSchema)
  }

  /** Full fused candidate scoring: salted buckets through the bucket kernel,
    * the sparse star + LSH pairs through the row kernel. Produces the same
    * pair set as `scorePairs(PairGen.candidatePairsWithFeatures(...))` with
    * one less relational materialization of the quadratic stream. */
  def scoreCandidates(mentions: DataFrame,
      cfg: pkel.blocking.PairGen.Config = pkel.blocking.PairGen.Config(),
      w: Weights = Weights(), embedder: Embedder = Embedder.default,
      minScore: Option[Double] = None): DataFrame = {
    // `minScore` (the length-bound prune) applies to the SPARSE relational
    // path only: salted-bucket and rep-star pairs share one blocking key
    // (bound = 1.0, never prunable), so only the cross-key MinHash-LSH pairs
    // can fall below the bound — and those are exactly the pairs that pay
    // the full JW + cosine kernel on distinct surfaces.
    //
    // The bucket kernel runs at the InternalRow level (toRdd), so its plan
    // and the sparse plan are separate query executions that cannot share
    // exchanges — both used to re-run the scan + key exchange + count
    // window (two identical ~90 MB exchange writes per probe rep, one full
    // extra pass over the mention table at any scale). The annotated
    // lineage is therefore shared via Bridge.shareLineage: one scan + one
    // key-exchange map stage feeds both plans through the same shuffle
    // files, the LogicalRDD keeps the by-key partitioning (so the rep-star
    // window still adds no exchange), and NOTHING is persisted — every
    // invocation builds a fresh lineage and recomputes from the inputs.
    val ann = org.apache.spark.sql.pkelbridge.Bridge.shareLineage(
      pkel.blocking.PairGen.annotated(mentions, cfg))
    val sparse = scorePairs(
      pkel.blocking.PairGen.sparsePairsFromAnnotated(ann, mentions, cfg), w, embedder, minScore)
      .select("src", "dst", "key_sim", "jw_sim", "cos_sim", "score")
    scoreBuckets(pkel.blocking.PairGen.saltedBucketTableFromAnnotated(ann), embedder)
      .unionByName(sparse)
  }
}
