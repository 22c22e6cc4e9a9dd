package pkel.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.pkelbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative large-star / small-star connected components over DataFrames
  * (no RDDs) — the Kiveris et al. "Connected Components in MapReduce and
  * Beyond" recipe (SURVEY.md §2.11).
  *
  * Input: undirected edge list (src: long, dst: long). Output: (node, root)
  * where root = min node id of the component. Each star is ONE exchange —
  * partition the bidirected edges by node and take the per-partition window
  * min — so a full round costs 3 wide exchanges (large star, small star,
  * canonical distinct). A window partition cannot be split by AQE, so one
  * task sorts all of a hub's edges (spills, never OOMs — nothing is collected
  * per node); in the pipeline the rep star bounds a hub's degree near
  * key_n / targetBucketSize plus the bucket size.
  *
  * Every iteration localCheckpoints to truncate lineage. Convergence: the
  * round output is tested directly for being a star forest (the fixpoint
  * shape) — detection costs one cheap aggregate instead of one more full
  * round; (count, xxhash64-xor) signature equality remains as the backstop
  * stop rule. A run that exhausts its iteration budget before the fixpoint
  * throws instead of returning roots that may be non-transitive.
  */
object ConnectedComponents {

  /** Large-star: for every node u (over bidirected edges), connect all
    * strictly-larger neighbors to m(u) = min(N(u) ∪ u), which arrives per
    * row as the window min over u's partition. Output may carry
    * duplicates — the small star's terminal distinct canonicalizes the
    * round, so no exchange is spent deduping here. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val bidir = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    bidir.withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** Small-star: over edges directed large→small (u > v), connect all
    * neighbors (and u itself) to m(u) = min neighbor, as one window exchange
    * + the round's canonical distinct. Rows where v = m carry the self edge
    * (u, m) — min(v) over duplicated input is unchanged, so the large star's
    * duplicates are harmless and collapse in the terminal distinct. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
    dir.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      .select(
        when(col("v") === col("m"), col("u")).otherwise(col("v")).as("src"),
        col("m").as("dst"))
      .distinct()
  }

  /** True iff the canonical edge set is a star forest — every src appears
    * exactly once and no dst is also a src. Since edges are canonical
    * (src > dst), such a set is exactly a forest of depth-1 stars rooted at
    * their component minima, which is the fixpoint of smallStar∘largeStar:
    * testing the round output for this shape detects convergence without
    * paying a full extra round to observe an unchanged signature. */
  private def isStarForest(edges: DataFrame): Boolean = {
    edges.select(col("src").as("n"), lit(1L).as("s"))
      .union(edges.select(col("dst").as("n"), lit(0L).as("s")))
      .groupBy("n").agg(sum("s").as("srcCnt"), count(lit(1)).as("tot"))
      .filter(col("srcCnt") > 1 || (col("srcCnt") === 1 && col("tot") > col("srcCnt")))
      .limit(1).isEmpty
  }

  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges.select(
      greatest(col("src"), col("dst")).as("a"), least(col("src"), col("dst")).as("b"))
      .agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Edge counts at or below this take the driver path ([[onDriver]]):
    * 2M edges collect as ~32 MB of longs. */
  val SmallGraphThreshold: Long = 2000000L

  /** Driver-side union-find with min-root semantics over the edges
    * `(src(i), dst(i))`: the distinct nodes, sorted, and each one's root,
    * the least node of its component. A node is its index in the sorted
    * array, so the parent links are one int array, and attaching the larger
    * root under the smaller keeps each root its component's least node. */
  private def unionFind(src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) = {
    val all = src ++ dst
    java.util.Arrays.sort(all)
    var n = 0
    all.indices.foreach { i => if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 } }
    val nodes = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def findRoot(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { // path halving
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    src.indices.foreach { i =>
      val ra = findRoot(java.util.Arrays.binarySearch(nodes, src(i)))
      val rb = findRoot(java.util.Arrays.binarySearch(nodes, dst(i)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (nodes, Array.tabulate(n)(i => nodes(findRoot(i))))
  }

  /** `(node, root)`, the schema of the rows [[onDriver]] returns. */
  private val RootSchema = StructType(Seq(
    StructField("node", LongType, nullable = false), StructField("root", LongType, nullable = false)))

  /** The components [[onDriver]] found. Ids ≥ 0 are mentions in the
    * pipeline's id space; its entity anchors are negative.
    * @param nodes every node of an edge, ascending
    * @param nodeRoots the root of `nodes(i)` at index `i`
    * @param simEdges edges whose `dst` is ≥ 0 (the pipeline's similarity edges)
    * @param rows `(node, root)` for every node, as a bare local relation */
  final class DriverComponents(val nodes: Array[Long], val nodeRoots: Array[Long],
      val simEdges: Long, val rows: DataFrame) {
    /** Nodes ≥ 0. */
    val mentionNodes: Long = nodes.count(_ >= 0L)
    /** Nodes that are their own root: one per component. */
    val roots: Long = nodes.indices.count(i => nodes(i) == nodeRoots(i))
    /** The root of `node`, or `node` itself when no edge touches it. */
    def rootOf(node: Long): Long = {
      val i = java.util.Arrays.binarySearch(nodes, node)
      if (i >= 0) nodeRoots(i) else node
    }
  }

  /** Components of a small edge set in one driver pass: `edges` (src, dst)
    * is collected in one job and joined by union-find; building `rows` runs
    * no job, and a stage commit writes them on the driver. [[run]] takes
    * this path when its signature counts at most `smallGraphThreshold`
    * edges, the pipeline when the committed edge snapshot's footers count at
    * most [[SmallGraphThreshold]]. */
  def onDriver(spark: SparkSession, edges: DataFrame): DriverComponents = {
    val collected = Bridge.collectInternal(edges.select(col("src").cast("long"), col("dst").cast("long")))
    val src = collected.map(_.getLong(0))
    val dst = collected.map(_.getLong(1))
    val (nodes, nodeRoots) = unionFind(src, dst)
    val rows = Bridge.localFrame(spark, RootSchema,
      nodes.indices.map(i => InternalRow(nodes(i), nodeRoots(i))))
    new DriverComponents(nodes, nodeRoots, dst.count(_ >= 0L), rows)
  }

  /** Run to fixpoint; returns (node, root) for every node appearing in an
    * edge. Singleton nodes (no edges) are their own root — callers union
    * them in.
    *
    * ADAPTIVE execution: when the canonical edge count is at or below
    * `smallGraphThreshold`, the component computation is [[onDriver]] — one
    * driver-side union-find over the collected edges instead of the
    * iterative fixpoint, the same move Spark itself makes when it
    * broadcasts a small join side. The distributed fixpoint pays a
    * per-iteration job floor (two window stars + distinct per round) that
    * dominates wall time on small graphs; at 2M edges the collect is
    * ~32 MB of longs, far below any driver budget, and the result is
    * IDENTICAL (min-reachable-id roots, equality property-tested). Pass
    * `smallGraphThreshold = 0` to force the distributed path.
    *
    * Lineage is truncated every iteration. By default with `localCheckpoint`
    * (executor-memory-resident — fast, but an executor loss mid-job forces a
    * full recompute); pass `checkpointDir` for RELIABLE checkpoints — every
    * `reliableEvery`-th iteration the edge set is written to parquet and
    * re-read, so on a long cluster run the job resumes from durable state
    * instead of dying with a lost executor. Intermediate iterations still
    * use localCheckpoint (cheap) between durable ones.
    *
    * Throws `IllegalStateException` when `maxIterations` fresh rounds pass
    * without reaching the fixpoint; a durable iterate written before the
    * throw stays for the next run to resume from.
    *
    * `onIteration(iteration, canonicalEdges, wallMs)` fires once per
    * materialized edge set — iteration 0 is the initial canonicalization
    * (or the durable-checkpoint read on resume), each subsequent call one
    * star round, so the last iteration it reports is the last star round
    * run (0 when a fresh input takes the small-graph path). The fixpoint's
    * per-iteration jobs run EAGERLY inside this method, so a caller that
    * only times the returned DataFrame's write (the stage-commit pattern)
    * never sees them; the callback is how the pipeline surfaces the
    * fixpoint's true cost into its metrics table. */
  def run(spark: SparkSession, edges0: DataFrame, maxIterations: Int = 50,
      checkpointDir: Option[String] = None, reliableEvery: Int = 3,
      smallGraphThreshold: Long = SmallGraphThreshold,
      onIteration: (Int, Long, Long) => Unit = (_, _, _) => (),
      /** Caller vouches edges0 is ALREADY canonical-distinct (src ≠ dst,
        * each unordered pair exactly once — e.g. a committed pair-stage
        * snapshot): skips iteration 0's canonicalize + re-materialize of the
        * full edge set (a durable write+read of every edge when
        * checkpointDir is set — measured 16 s @32 / 27 s @8 on 69M edges).
        * The star rounds themselves tolerate non-canonical input (bidirection
        * covers both orders; each round ends in a canonical distinct), so a
        * wrong vouch costs duplicate work in round 1, never wrong roots. */
      inputCanonical: Boolean = false): DataFrame = {
    // superseded durable checkpoints are deleted as soon as the next one is
    // fully written, so a run keeps AT MOST ONE edge-set copy on disk (the
    // final checkpoint remains until the caller is done with the returned
    // DataFrame and may remove the directory). Deletion goes through the
    // Hadoop FileSystem of the checkpoint path — correct on HDFS/S3 too.
    var prevDurable: Option[String] = None
    def materialize(df: DataFrame, it: Int): DataFrame = checkpointDir match {
      case Some(dir) if it % reliableEvery == 0 =>
        val p = s"$dir/cc_iter_$it"
        df.write.mode("overwrite").parquet(p)
        val out = spark.read.parquet(p)
        prevDurable.foreach { old =>
          val hp = new org.apache.hadoop.fs.Path(old)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
        }
        prevDurable = Some(p)
        out
      case _ => df.localCheckpoint(true)
    }
    // RESUME: a durable `cc_iter_N` left by a killed run is a star-transformed
    // edge set with the SAME components as the input (every iteration
    // preserves component structure), so the fixpoint restarts from it
    // instead of from iteration 0. Only checkpoints with a _SUCCESS marker
    // count — a write the kill interrupted is invisible, and the previous
    // complete checkpoint (deleted only after its successor is fully written)
    // carries the resume. Callers must scope `checkpointDir` to the edge
    // set's identity (the pipeline keys it by stage fingerprint) so a stale
    // checkpoint from different edges can never be picked up.
    val resumed: Option[(DataFrame, Int)] = checkpointDir.flatMap { dir =>
      val dp = new org.apache.hadoop.fs.Path(dir)
      val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dp)) None
      else {
        val iters = fs.listStatus(dp).toSeq
          .map(_.getPath)
          .filter(p => p.getName.startsWith("cc_iter_") &&
            fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          .map(p => (p.getName.stripPrefix("cc_iter_").toInt, p.toString))
        if (iters.isEmpty) None
        else {
          val (it, p) = iters.maxBy(_._1)
          prevDurable = Some(p)
          Some((spark.read.parquet(p), it))
        }
      }
    }
    val startIt = resumed.map(_._2).getOrElse(0)
    val tInit = System.nanoTime()
    var edges = resumed.map(_._1).getOrElse {
      if (inputCanonical)
        // trusted canonical snapshot: use as-is (lineage is already shallow
        // for a committed stage; no durable iter-0 copy — a kill before the
        // first durable round restarts from the same snapshot anyway)
        edges0.select(col("src").cast("long"), col("dst").cast("long"))
      else materialize(
        edges0.select(col("src").cast("long"), col("dst").cast("long"))
          .filter(col("src") =!= col("dst"))
          .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
          .distinct(), 0)
    }
    var sig = signature(edges)
    onIteration(startIt, sig._1, (System.nanoTime() - tInit) / 1000000)
    if (sig._1 <= smallGraphThreshold) return onDriver(spark, edges).rows
    var converged = false
    // the counter resumes too: the next durable write lands on a FRESH
    // cc_iter_N (overwriting the iterate being read would self-destruct).
    // Prior iterations do NOT count against maxIterations — a resumed run
    // gets the full budget of fresh iterations (otherwise a checkpoint left
    // at/near the budget would exit immediately with a non-fixpoint edge set)
    var it = startIt
    var fresh = 0
    while (!converged && fresh < maxIterations) {
      it += 1
      fresh += 1
      val tIt = System.nanoTime()
      val next = materialize(smallStar(largeStar(edges)), it)
      val nextSig = signature(next)
      // star-forest test first: it fires one full round EARLIER than
      // signature equality (which needs an unchanged round to observe);
      // equality remains the backstop stop rule.
      converged = nextSig == sig || isStarForest(next)
      onIteration(it, nextSig._1, (System.nanoTime() - tIt) / 1000000)
      edges = next
      sig = nextSig
    }
    // a non-fixpoint exit means the roots can be WRONG (multi-hop chains not
    // yet contracted), so none are returned: a caller inside a stage commit
    // commits nothing, and the next run resumes from the last durable iterate
    if (!converged)
      throw new IllegalStateException(
        s"connected components exhausted its budget of $maxIterations iterations " +
          s"without reaching the fixpoint (${sig._1} canonical edges); raise maxIterations")
    // at fixpoint every edge is (node, root)
    val roots = edges.select(col("src").as("node"), col("dst").as("root"))
    // roots themselves
    val selfRoots = edges.select(col("dst").as("node"), col("dst").as("root")).distinct()
    roots.union(selfRoots).groupBy("node").agg(min("root").as("root"))
  }
}
