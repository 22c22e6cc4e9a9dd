package pkel.blocking

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** The candidate-recall counters of ONE scoring call (`PairGen.lshPairs` or
  * `PairScorer.scoreCandidates`): what the LSH oversize-bucket drop and the
  * length-bound prune discarded. Degenerate MinHash-LSH buckets larger than
  * `maxBucketSize` are dropped wholesale — the right scale move, but
  * truncation that emits no counter reads as "covered everything". The
  * caller creates the object, passes it to the call and reads it after the
  * action that executed the call's plan; nothing is shared between calls,
  * so two plans (or two pipelines in one JVM) never mix their counts.
  *
  * Why ACCUMULATORS and not `Dataset.observe`: the obvious `CollectMetrics`
  * node over the bucket-count aggregate is removed from the final physical
  * plan by AQE's empty-relation propagation whenever the filter drops EVERY
  * bucket (the join side materializes empty, AQE rewrites the subtree to
  * `EmptyRelation`, and `qe.observedMetrics` finds no node to read) — i.e.
  * the observation disappears precisely in the worst-truncation case it
  * exists to expose. Accumulators ride the tasks that actually executed, so
  * they survive any plan rewrite. The counting filter runs over the
  * O(buckets) count aggregate, so the non-codegen UDF is nowhere near a hot
  * path. A task retry or a re-executed plan recounts (the standard
  * accumulator caveat — these are diagnostics, not billing); the pipeline's
  * scored-stage commit executes the plan exactly once.
  */
final class PairDropMetrics private (sc: SparkContext) {
  val droppedBuckets: LongAccumulator = sc.longAccumulator("pkel.lsh.dropped_buckets")
  val droppedMembers: LongAccumulator = sc.longAccumulator("pkel.lsh.dropped_members")
  val totalBuckets: LongAccumulator = sc.longAccumulator("pkel.lsh.total_buckets")
  /** Cross-key pairs the length-bound prune dropped
    * ([[pkel.scoring.PairScorer.lengthBound]]); 0 when the prune is off. */
  val prunedPairs: LongAccumulator = sc.longAccumulator("pkel.pairs.length_pruned")

  /** The counters as metrics-table rows, in the pipeline's `scored.*` names. */
  def counters: Seq[(String, Long)] = Seq(
    "lsh_dropped_buckets" -> droppedBuckets.value,
    "lsh_dropped_members" -> droppedMembers.value,
    "lsh_total_buckets" -> totalBuckets.value,
    "length_pruned_pairs" -> prunedPairs.value)
}

object PairDropMetrics {
  def apply(spark: SparkSession = SparkSession.active): PairDropMetrics =
    new PairDropMetrics(spark.sparkContext)
}
