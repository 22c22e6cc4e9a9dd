package pkel.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.pkelbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

import pkel.blocking.{PairDropMetrics, PairGen}
import pkel.cluster.ConnectedComponents
import pkel.eval.Metrics
import pkel.io.SnapshotFooters
import pkel.link.{Cascade, ExactLinker}
import pkel.model.OntologyEntry
import pkel.ontology.Ontology
import pkel.scoring.PairScorer

/** The transcript record-linkage pipeline (north rule):
  *
  *   transcripts ─ window-ordered conversations → mention extraction
  *     → normalization/blocking keys → linking cascade (mention→entity)
  *     → candidate pairs (salted blocking keys + MinHash-LSH)
  *     → batched pair scoring (JW + Levenshtein/indel + cosine)
  *     → edges (score ≥ θ) ∪ entity-anchor edges from the cascade
  *     → connected components (one driver union-find over a small edge
  *       snapshot, large-star/small-star beyond it) → clusters
  *     → pairwise-F1 evaluation vs gold labels
  *
  * Entity anchors: a mention linked to ontology entity Qn contributes an edge
  * to virtual node −(n+1); anchors are the minimum ids in their components so
  * CC roots read off the entity directly — the mention→ontology tier and the
  * pair-similarity graph compose in one transitive closure.
  *
  * Every stage commits a parquet snapshot + per-write-task lineage rows via
  * a `StageStore`; a re-run with the same fingerprint resumes from the last
  * committed stage.
  */
object Pipeline {

  /** Every field takes part in the stage fingerprints (`fp` hashes the
    * config's `toString`), so adding, removing or changing one recomputes
    * the stages it fingerprints instead of replaying them. */
  final case class Config(
      /** Salted-bucket and MinHash-LSH candidate generation. */
      pairCfg: PairGen.Config = PairGen.Config(),
      /** θ: a scored residue pair becomes a similarity edge at score ≥ θ. */
      edgeThreshold: Double = 0.90,
      /** Linking-cascade thresholds and the optional prompt tier. */
      cascade: Cascade.Config = Cascade.Config(),
      /** Length-bound prune ([[PairScorer.lengthBound]]): drop cross-key LSH
        * pairs that provably score below `edgeThreshold` BEFORE the JW/cosine
        * kernel. Edges and clusters are invariant (LengthPruneSpec); the
        * Summary's scored-pair count shrinks by exactly the pruned pairs,
        * which land in the metrics table as `length_pruned_pairs`. Off by
        * default so the scored-pair count stays comparable across rounds;
        * turn on when deploying — at 100 TB the cross-key pair list
        * scales with distinct-key pairs and the prune removes the most
        * expensive (most-dissimilar) ones for free. */
      prunePairs: Boolean = false,
      /** Durable-checkpoint cadence inside the CC fixpoint (every k-th
        * iteration writes parquet instead of localCheckpoint). With the
        * round-5 fixpoint shape (star-forest stop, 1–2 rounds typical) the
        * default of 3 means short fixpoints write no durable iterate at all
        * — correct, since a kill then resumes from the committed edges
        * stage for the price of re-running 1–2 cheap rounds. Set 1 when
        * fixpoints run long or to exercise mid-fixpoint resume
        * (tools/kill_resume_bench.sh). */
      ccReliableEvery: Int = 3)

  final case class Summary(
      mentions: Long, pairs: Long, edges: Long, clusters: Long,
      pairwiseF1: Double, pairwisePrecision: Double, pairwiseRecall: Double,
      pairwiseF1AtKey: Double, wallSec: Double)

  private def fp(cfg: Config, extra: String = ""): String =
    (cfg.toString + extra).hashCode.toHexString

  /** Anchor node id for an entity: "Q57" → −58 (strictly below all mention ids). */
  def anchorId(paramId: String): Long = {
    val digits = paramId.dropWhile(!_.isDigit)
    -(digits.toLong + 1L)
  }

  /** All non-empty `«…»` spans of a turn as 0-based (start-after-«,
    * end-at-») character offsets, in text order. A single pass over the
    * string — the reference's data model allows multiple spans per sentence
    * (`data/sentences/test.jsonl` `spans` array), so the extractor must emit
    * every span, not just the first. */
  private val spanOffsetsUdf = udf((text: String) => {
    val t = Option(text).getOrElse("")
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i >= 0 && i < t.length) {
      val s = t.indexOf('«', i)
      if (s < 0) i = -1
      else {
        val e = t.indexOf('»', s + 1)
        if (e < 0) i = -1
        else { if (e > s + 1) out += ((s + 1, e)); i = e + 1 }
      }
    }
    out.result()
  })

  /** Extract mentions from `«mention»` delimiters in transcript turns — ALL
    * spans per turn (posexplode), span-indexed. Emits the canonical mention
    * schema used by the cascade; `mention_id` is a 63-bit hash of the
    * (conv_id, turn_idx, span_idx) triple (see `auditMentionIds` for the
    * collision guard). The conversation window (partitionBy conv_id, orderBy
    * turn_idx) both validates the stable turn ordering invariant and is where
    * turn-level context features would attach (lag/lead). */
  def extractMentions(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    // a turn whose text IS an html table (tool-extracted results) flows down
    // the cascade's table path: is_table drives the exact tier's Q57 default
    // and the [ROW]/[COLUMN] retrieval features; row_idx/col_idx are the
    // mention cell's coordinates in HtmlTable.parse space
    val coordsUdf = udf((text: String, pos: Int) =>
      pkel.features.HtmlTable.coords(Option(text).getOrElse(""), pos))
    transcripts
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("ordering_ok", col("rn") === col("turn_idx"))
      .filter(col("text").contains("«"))
      .select(col("*"), posexplode(spanOffsetsUdf(col("text"))).as(Seq("span_idx", "span")))
      .withColumn("span_start", col("span._1"))
      .withColumn("span_end", col("span._2"))
      .withColumn("mention_id",
        xxhash64(col("conv_id"), col("turn_idx"), col("span_idx")).bitwiseAND(lit(Long.MaxValue)))
      .withColumn("is_table", col("text").startsWith("<table"))
      .withColumn("cell",
        when(col("is_table"), coordsUdf(col("text"), col("span_start"))))
      .select(
        col("mention_id"), col("conv_id"), col("turn_idx"), col("span_idx"), col("ts"),
        col("text"), col("span_start"), col("span_end"),
        col("is_table"),
        when(col("is_table"), col("text")).otherwise(lit("")).as("table_html"),
        lit("").as("caption"), lit("").as("footer"),
        lit("").as("table_id"), lit(-1).as("row"), lit(-1).as("col"),
        coalesce(col("cell._1"), lit(-1)).as("row_idx"),
        coalesce(col("cell._2"), lit(-1)).as("col_idx"),
        lit("").as("label"), col("ordering_ok"))
  }

  /** Fail fast on mention-id hash collisions: 63-bit ids are unique in
    * practice, but at ~10^10 mentions the birthday bound admits a handful of
    * collisions, and a single collision silently merges two clusters in the
    * CC stage. One cheap aggregate (distinct ids vs distinct source triples)
    * turns that silent corruption into a loud stage failure.
    *
    * The pipeline does not call this: it runs the same two countDistincts
    * as [[mentionIdAudit]], the stage-1 commit's `StageStore.Audit`, so a
    * collision vetoes the commit instead of failing after it. This method
    * audits a mention table outside a `StageStore` commit. */
  def auditMentionIds(mentions: DataFrame): Unit = {
    val r = mentions.agg(
      countDistinct(col("mention_id")).as("ids"),
      countDistinct(col("conv_id"), col("turn_idx"), col("span_idx")).as("triples")).head()
    checkMentionIds(r.getLong(0), r.getLong(1))
  }

  private def checkMentionIds(ids: Long, triples: Long): Unit =
    require(ids == triples,
      s"mention_id hash collision: $ids distinct ids for $triples distinct " +
        "(conv_id, turn_idx, span_idx) triples — rerun with a salted id derivation")

  /** The collision audit as a commit-time check: one aggregate over the
    * committed mention snapshot (row layout: rows_total, ids, triples). A
    * collision vetoes the commit before its marker write, so a bad mention
    * table is never resumable. */
  val mentionIdAudit: pkel.io.StageStore.Audit = pkel.io.StageStore.Audit(
    Seq(countDistinct(col("mention_id")).as("ids"),
      countDistinct(col("conv_id"), col("turn_idx"), col("span_idx")).as("triples")),
    r => checkMentionIds(r.getLong(1), r.getLong(2)))

  /** A commit audit that the snapshot holds one row per row of the stage
    * it derives from: `expected` is that stage's row count, read when the
    * commit checks, and the check compares it with the snapshot's footer
    * row count, so it runs no job. `keyed` holds one row per mention
    * (`withBlockingKey` only adds columns), and `linked` one per keyed
    * mention (the cascade's tiers partition their input); stage 8 and the
    * summary's cluster count rely on both. */
  def rowCountAudit(stage: String, per: String, expected: => Long): pkel.io.StageStore.Audit =
    pkel.io.StageStore.Audit(Seq.empty, { r =>
      val (rows, want) = (r.getLong(0), expected)
      require(rows == want, s"$stage holds $rows rows for $want $per")
    })

  /** The `linked` columns a cluster row carries. */
  private val ClusterKeys = Seq("mention_id", "blocking_key", "y_pred", "status")

  /** Stage 8 as a relational plan: each `linked` mention with `is_nil` (the
    * cascade excluded it) and `cluster_id`, its `components` root, or its
    * own id when no edge touches it. The pipeline's driver path builds the
    * same rows in this plan's schema. */
  def assignClusters(linked: DataFrame, components: DataFrame): DataFrame =
    linked.select(ClusterKeys.map(col): _*)
      .join(components.withColumnRenamed("node", "mention_id"), Seq("mention_id"), "left")
      .withColumn("is_nil", col("status") === "excluded")
      .withColumn("cluster_id", coalesce(col("root"), col("mention_id")))
      .drop("root")

  /** Run the full pipeline. `gold` (mention_id, gold) is optional — when
    * present the summary carries pairwise F1 vs gold. */
  def run(spark: SparkSession, transcripts: DataFrame, entries: Seq[OntologyEntry],
      cfg: Config, io: pkel.io.StageStore, gold: Option[DataFrame] = None): (DataFrame, Summary) = {
    val t0 = System.nanoTime()

    // stage 1: mention extraction under stable conversation ordering; the id
    // audit fails the stage on a (birthday-bound) hash collision instead of
    // letting it silently merge clusters downstream — run by the commit,
    // before its marker write, so a bad mention table is never resumable
    val mentions = io.readOrCompute("mentions", fp(cfg, "m"), Some(mentionIdAudit)) {
      extractMentions(transcripts)
    }

    // stage 2: normalization + blocking keys; the commit checks one row per
    // mention against the footers
    val keyed = io.readOrCompute("keyed", fp(cfg, "k"),
        Some(rowCountAudit("keyed", "mentions", SnapshotFooters.rows(mentions)))) {
      ExactLinker.withBlockingKey(mentions)
    }

    // stage 3: linking cascade → entity assignment per mention. The tier
    // outputs the cascade persists serve the commit's write only: they are
    // released once the stage commits (or fails), so no cache outlives the
    // run. The commit checks one row per keyed mention against the footers.
    var cascade: Option[Cascade.Output] = None
    val linked = try io.readOrCompute("linked", fp(cfg, "l"),
        Some(rowCountAudit("linked", "keyed mentions", SnapshotFooters.rows(keyed)))) {
      val out = Cascade.run(spark, keyed, entries, cfg.cascade)
      cascade = Some(out)
      out.predictions
    } finally cascade.foreach(_.release())

    // stages 4+5: candidate pairs (salted blocking keys + MinHash-LSH) fused
    // with batched scoring in one lazy `(src, dst, score)` plan — the
    // bucket kernel enumerates each salted bucket's same-key pairs in place
    // at score 1.0, so no pair row is shuffled; only the cross-key LSH pairs
    // go through the row kernel, with `PairScorer.Weights()`.
    // The LSH oversize-bucket drop and the length prune count what they
    // discard into this run's own counters during the commit's write
    // action; a computed commit appends them to the metrics table, so
    // candidate-recall truncation is a visible counter, never a silent cap.
    // A replayed stage appends nothing (the counters were recorded when it
    // originally computed).
    val drops = PairDropMetrics(spark)
    var scoredComputed = false
    val scored = io.readOrCompute("scored", fp(cfg, "s")) {
      scoredComputed = true
      PairScorer.scoreCandidates(
        keyed.select("mention_id", "blocking_key", "tokens", "mention"), cfg.pairCfg,
        minScore = if (cfg.prunePairs) Some(cfg.edgeThreshold) else None, drops = drops)
    }
    if (scoredComputed) io.appendCounters("scored", drops.counters)

    // stage 6: edge set. Mentions the cascade links to an entity take edges
    // ONLY to their entity anchor (clustering must not override the linker's
    // disambiguation — e.g. 'km' mentions resolved to Q1 vs Q51 share a
    // blocking key but are different entities). Similarity edges (score ≥ θ;
    // identical canonical keys score 1.0) cluster the unlinked residue, so a
    // scored pair survives only when BOTH endpoints are in that residue: two
    // left-semi joins against the unassigned ids. The broadcast is forced:
    // the planner sizes the join from the `linked` scan, not the residue, so
    // at 3M convs (~1.7M residue ids) it would plan shuffle joins and move
    // the ~500M-row ≥θ pair stream twice (~108 s vs ~11 s broadcast,
    // BENCH/PIPELINE_SCALE.md). Broadcast, the pair stream is filtered
    // where it is scanned.
    val anchorUdf = udf((id: String) => anchorId(id))
    val edges = io.readOrCompute("edges", fp(cfg, "e")) {
      val assignedCond = col("y_pred") =!= "Q100" &&
        col("status").isin("linked", "disambiguated", "table_default")
      val anchorEdges = linked.filter(assignedCond)
        .select(col("mention_id").as("src"), anchorUdf(col("y_pred")).as("dst"))
      val unassignedIds = linked
        .filter(!coalesce(assignedCond, lit(false))).select("mention_id")
      scored.filter(col("score") >= cfg.edgeThreshold)
        .join(broadcast(unassignedIds.withColumnRenamed("mention_id", "src")), Seq("src"), "left_semi")
        .join(broadcast(unassignedIds.withColumnRenamed("mention_id", "dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .unionByName(anchorEdges)
    }
    // a bare scan of the committed snapshot, so its footers count it
    val nEdges = SnapshotFooters.rows(edges)

    // stage 7: connected components. An edge snapshot of at most
    // `SmallGraphThreshold` rows (counted by its footers) is collected once,
    // anchor edges included, into one driver union-find. Its `(node, root)`
    // rows are a local relation, which the commit writes on the driver, so
    // the collect is the stage's one job. Negative anchor ids make each
    // anchored star's root its anchor, so the rows equal the split below.
    // The pass also counts the mention nodes and the components, for the
    // summary's cluster count, and keeps the node→root lookup stage 8 uses.
    //
    // A larger edge set runs the distributed fixpoint; its iteration state
    // checkpoints durably under the run's own root so a killed JVM or lost
    // executor mid-fixpoint RESUMES from the last durable iterate, not from
    // a full recompute. The checkpoint dir is scoped by the stage
    // fingerprint: CC resume is only valid against the identical edge set,
    // so a config change can never pick up a stale iterate. A fixpoint that
    // exhausts its budget throws inside the compute thunk, so an unproven
    // root set never commits; the next run resumes from the durable iterate.
    //
    // Either path runs eagerly inside the compute thunk, BEFORE the stage
    // commit's timed write, so its cost lands in the metrics table as
    // counters: cc_iter_NN_wall_ms / _edges (the driver path reports
    // iteration 00 with the sim-edge count), the fixpoint total, and
    // cc_on_driver, the path taken. A resumed stage replays the snapshot and
    // records nothing (the counters were written when it originally computed).
    val ccIterStats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var ccOnDriver: Option[ConnectedComponents.DriverComponents] = None
    val components = io.readOrCompute("components", fp(cfg, "c")) {
      if (nEdges <= ConnectedComponents.SmallGraphThreshold) {
        val t = System.nanoTime()
        val cc = ConnectedComponents.onDriver(spark, edges)
        ccIterStats += ((0, cc.simEdges, (System.nanoTime() - t) / 1000000))
        ccOnDriver = Some(cc)
        cc.rows
      } else {
        // the anchor subgraph needs no fixpoint: anchor edges (dst < 0 —
        // the anchors' id space) attach each cascade-ASSIGNED mention to
        // exactly one anchor, and sim edges exist only between UNASSIGNED
        // mentions (the edge stage's both-endpoint semi-join), so the
        // anchor rows are a star forest rooted at their (negative, hence
        // component-minimal) anchors, node-disjoint from the sim subgraph.
        // Contracting them through every star round would only inflate
        // each round's volume — ~20-90% of all edges depending on the
        // cascade's assignment rate — so the fixpoint runs on the sim
        // subgraph alone and the anchor rows union in as ready-made
        // (node, root) assignments.
        val simEdges = edges.filter(col("dst") >= 0L)
        val anchorRows = edges.filter(col("dst") < 0L)
          .select(col("src").as("node"), col("dst").as("root"))
        val simRoots = ConnectedComponents.run(spark, simEdges,
          checkpointDir = Some(s"${io.root}/_cc_checkpoints/${fp(cfg, "c")}"),
          reliableEvery = cfg.ccReliableEvery,
          onIteration = (it, nEdges, wallMs) => ccIterStats += ((it, nEdges, wallMs)),
          // the committed edges snapshot is canonical-distinct by
          // construction — pair generators emit each unordered pair once
          // (salted intra-bucket i<j; LSH pairs deduped across bands;
          // rep-star pairs cross-bucket) — so CC skips re-canonicalizing and
          // durably re-writing all edges as its iteration 0
          inputCanonical = true)
        simRoots
          .unionByName(anchorRows)
          .unionByName(anchorRows.select(col("root").as("node"), col("root")).distinct())
      }
    }
    if (ccIterStats.nonEmpty)
      io.appendCounters("components",
        ccIterStats.flatMap { case (it, nEdges, wallMs) =>
          Seq(f"cc_iter_$it%02d_wall_ms" -> wallMs, f"cc_iter_$it%02d_edges" -> nEdges)
        }.toSeq ++ Seq("cc_fixpoint_wall_ms" -> ccIterStats.map(_._3).sum,
          "cc_on_driver" -> (if (ccOnDriver.isDefined) 1L else 0L)))

    // stage 8: cluster assignment (singletons = own cluster). Mentions the
    // cascade *excluded* as non-PK (NIL patterns / invalid context) are not
    // entities — they are singletonized for evaluation, mirroring the
    // reference's NIL semantics (NIL never forms a cluster). `linked` holds
    // one row per keyed mention (the cascade's tiers partition their input)
    // and carries its blocking key, so it alone drives the assignment.
    //
    // When this run built `components` on the driver and `linked`'s footers
    // count at most `SmallGraphThreshold` rows, `linked`'s four columns are
    // collected in one job, each mention takes its root from the driver's
    // union-find, and the rows commit as a local relation with the join's
    // schema (analysis only): the commit writes them on the driver, so the
    // stage runs that one job. Every other run takes the join.
    var clustersComputed = false
    var clustersOnDriver = false
    val clusters = io.readOrCompute("clusters", fp(cfg, "cl")) {
      clustersComputed = true
      val assigned = assignClusters(linked, components)
      ccOnDriver match {
        case Some(cc) if SnapshotFooters.rows(linked) <= ConnectedComponents.SmallGraphThreshold =>
          clustersOnDriver = true
          val excluded = UTF8String.fromString("excluded")
          val rows = Bridge.collectInternal(linked.select(ClusterKeys.map(col): _*)).map { r =>
            val id = if (r.isNullAt(0)) null else r.getLong(0)
            val status = r.getUTF8String(3)
            InternalRow(id, r.getUTF8String(1), r.getUTF8String(2), status,
              if (status == null) null else status == excluded,
              if (id == null) null else cc.rootOf(r.getLong(0)))
          }
          Bridge.localFrame(spark, assigned.schema, rows.toSeq)
        case _ => assigned
      }
    }
    if (clustersComputed)
      io.appendCounters("clusters", Seq("on_driver" -> (if (clustersOnDriver) 1L else 0L)))

    // each is a bare scan of a committed snapshot, so its footers count it.
    // When this run built `components` on the driver and `clusters` from
    // it, clusters count without a job: each component has one root and at
    // least one mention, and every other `linked` mention is its own cluster.
    val nMentions = SnapshotFooters.rows(mentions)
    val nPairs = SnapshotFooters.rows(scored)
    val nClusters = ccOnDriver match {
      case Some(cc) if clustersComputed => SnapshotFooters.rows(linked) - cc.mentionNodes + cc.roots
      case _ => clusters.select("cluster_id").distinct().count()
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    val (f1, p, r, f1Key) = gold match {
      case Some(g) =>
        val assign = clusters.join(g, "mention_id")
          .select(col("gold"), col("blocking_key"),
            when(col("is_nil"), concat(lit("nil#"), col("mention_id")))
              .otherwise(col("cluster_id").cast("string")).as("pred"))
        val (pw, pwKey) = Metrics.pairwiseF1Both(assign)
        (pw.f1, pw.precision, pw.recall, pwKey.f1)
      case None => (Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    }

    val summary = Summary(nMentions, nPairs, nEdges, nClusters, f1, p, r, f1Key, wallSec)
    (clusters, summary)
  }
}
