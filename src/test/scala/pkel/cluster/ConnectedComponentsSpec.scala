package pkel.cluster

import org.apache.spark.sql.DataFrame

import pkel.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  /** Union-find oracle. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def runCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Roots of one `run` and the last iteration its `onIteration` callback
    * reported, which is the number of star rounds run. */
  private def runCounted(cc: ((Int, Long, Long) => Unit) => DataFrame): (DataFrame, Int) = {
    var last = -1
    val roots = cc((it, _, _) => last = it)
    (roots, last)
  }

  test("simple chain and star") {
    assert(runCc(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(runCc(Seq((10L, 5L), (10L, 7L), (10L, 20L))) ==
      Map(5L -> 5L, 7L -> 5L, 10L -> 5L, 20L -> 5L))
  }

  test("two disjoint components with negative anchor ids") {
    val got = runCc(Seq((100L, -58L), (101L, -58L), (200L, 201L)))
    assert(got(100L) == -58L && got(101L) == -58L && got(-58L) == -58L)
    assert(got(200L) == 200L && got(201L) == 200L)
  }

  test("reliable parquet checkpoints produce the identical fixpoint") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val dir = tempDir("cc-ck")
    // threshold 0 forces the distributed fixpoint (the adaptive small-graph
    // path would satisfy this graph driver-side and write no checkpoints)
    val durable = ConnectedComponents.run(spark, edges.toDF("src", "dst"),
      checkpointDir = Some(dir), reliableEvery = 2, smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable == runCc(edges))
    // durable state actually landed on disk, and superseded checkpoints were
    // deleted as the run advanced — at most ONE edge-set copy remains
    val checkpoints = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cc_iter_"))
    assert(checkpoints.length == 1,
      s"expected exactly one surviving checkpoint, got ${checkpoints.map(_.getName).toSeq}")
  }

  test("onIteration surfaces the fixpoint's per-iteration cost and edge counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val roots = ConnectedComponents.run(
      spark, edges.toDF("src", "dst"), smallGraphThreshold = 0L,
      onIteration = (it, n, ms) => stats += ((it, n, ms)))
    // one callback for the initial canonicalization + one per star round
    assert(stats.size >= 2 && stats.map(_._1) == (0 until stats.size))
    assert(stats.forall(_._3 >= 0L))
    // iteration 0 reports the canonical (dedup'd, undirected) edge count
    val canonical = edges.map(e => (math.max(e._1, e._2), math.min(e._1, e._2))).distinct.size
    assert(stats.head._2 == canonical)
    // at fixpoint every edge is (node, root): last reported count = nodes
    // that are not their own root
    val rootMap = roots.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.last._2 == rootMap.count { case (n, r) => n != r })
    assert(rootMap == oracle(edges))
    // the small-graph path never iterates: a single callback for iteration 0
    val small = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    ConnectedComponents.run(spark, edges.toDF("src", "dst"),
      onIteration = (it, n, ms) => small += ((it, n, ms)))
    assert(small.map(_._1) == Seq(0) && small.head._2 == canonical)
  }

  test("kill/resume: a fresh run resumes from the last durable iterate, same roots") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // long chains force several star iterations, so an iteration cap stops
    // strictly before convergence (the simulated kill)
    val edges = (0L until 400L).map(i => (i, i + 1)) ++
      Seq.fill(200)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong)).filter(e => e._1 != e._2)
    val expect = oracle(edges)
    // cold full run (its own dir) for the iteration-count baseline
    val coldDir = tempDir("cc_cold_")
    val (coldDf, coldIters) = runCounted(cb => ConnectedComponents.run(spark, edges.toDF("src", "dst"),
      checkpointDir = Some(coldDir), reliableEvery = 1, smallGraphThreshold = 0L, onIteration = cb))
    val cold = coldDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold == expect)
    assert(coldIters >= 2, s"graph too easy for a resume test ($coldIters iterations)")
    // simulated kill: an exhausted budget refuses to return roots, but the
    // durable cc_iter_1 it wrote before refusing stays for the resume
    val dir = tempDir("cc_resume_")
    val refused = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, edges.toDF("src", "dst"),
        maxIterations = 1, checkpointDir = Some(dir), reliableEvery = 1,
        smallGraphThreshold = 0L)
    }
    assert(refused.getMessage.contains("fixpoint"), refused.getMessage)
    assert(new java.io.File(dir).listFiles().exists(_.getName == "cc_iter_1"),
      "kill simulation left no durable iterate")
    // fresh run, same dir: must pick up cc_iter_1 (total iterations match the
    // cold run's — the first iteration is NOT redone) and match the oracle
    val (resumedDf, totalIters) = runCounted(cb => ConnectedComponents.run(spark,
      edges.toDF("src", "dst"), checkpointDir = Some(dir), reliableEvery = 1,
      smallGraphThreshold = 0L, onIteration = cb))
    val resumed = resumedDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == expect, "resumed run diverged from the oracle")
    assert(totalIters == coldIters,
      s"resume restarted from scratch ($totalIters vs cold $coldIters iterations)")
    // an interrupted (_SUCCESS-less) checkpoint is ignored: corrupt the
    // latest iterate's marker and rerun — the run must fall back cleanly
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cc_iter_"))
    val latest = files.maxBy(_.getName.stripPrefix("cc_iter_").toInt)
    assert(new java.io.File(latest, "_SUCCESS").delete())
    val again = ConnectedComponents.run(spark, edges.toDF("src", "dst"),
      checkpointDir = Some(dir), reliableEvery = 1, smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == expect)
  }

  test("random graphs match union-find oracle on BOTH execution paths") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 60 + rnd.nextInt(60)
      val edges = Seq.fill(n) {
        (rnd.nextInt(40).toLong - 5, rnd.nextInt(40).toLong - 5)
      }.filter(e => e._1 != e._2)
      val expect = oracle(edges)
      // adaptive default → driver-side union-find path
      val small = runCc(edges)
      assert(small == expect, s"trial $trial small-path mismatch\n got=$small\n exp=$expect")
      // threshold 0 → distributed large-star/small-star fixpoint
      val (dist, iters) = runCounted(cb => ConnectedComponents.run(
        spark, edges.toDF("src", "dst"), smallGraphThreshold = 0L, onIteration = cb))
      val distMap = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(iters > 0, "distributed path must actually iterate")
      assert(distMap == expect, s"trial $trial distributed mismatch\n got=$distMap\n exp=$expect")
    }
  }

  test("driver path over anchor stars and sim edges == the split composition, and its counts") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the pipeline's edge snapshot shape: canonical sim edges among mention
    // ids 0..59, and anchor edges attaching mentions 100.. to one negative
    // anchor each, node-disjoint from the sim edges
    val rnd = new scala.util.Random(23)
    def pairs(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    (1 to 4).foreach { trial =>
      val sim = Seq.fill(30 + rnd.nextInt(50))((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2).map(e => (math.max(e._1, e._2), math.min(e._1, e._2))).distinct
      val anchored = (100L until 100L + 20 + rnd.nextInt(60)).map(m => (m, -1L - rnd.nextInt(6)))
      val all = rnd.shuffle(sim ++ anchored)
      val edges = all.toDF("src", "dst")
      val cc = ConnectedComponents.onDriver(spark, edges)
      val driver = pairs(cc.rows)
      assert(driver.distinct.size == driver.size, s"trial $trial: duplicate (node, root) rows")
      // the split composition stage 7 runs above the threshold, on both
      // of the fixpoint's paths
      val anchorRows = edges.filter(col("dst") < 0L).select(col("src").as("node"), col("dst").as("root"))
      for (threshold <- Seq(ConnectedComponents.SmallGraphThreshold, 0L)) {
        val split = pairs(ConnectedComponents.run(spark, edges.filter(col("dst") >= 0L),
            smallGraphThreshold = threshold, inputCanonical = true)
          .unionByName(anchorRows)
          .unionByName(anchorRows.select(col("root").as("node"), col("root")).distinct()))
        assert(split.sorted == driver.sorted, s"trial $trial, threshold $threshold: split differs")
      }
      assert(driver.toMap == oracle(all))
      assert(cc.simEdges == sim.size)
      assert(cc.mentionNodes == all.flatMap(e => Seq(e._1, e._2)).distinct.count(_ >= 0L))
      assert(cc.roots == oracle(all).values.toSet.size)
    }
  }

  test("star-forest early stop: an input that is already a star forest converges in one round") {
    import spark.implicits._
    // two disjoint stars rooted at their minima — the fixpoint shape
    val edges = Seq((5L, 1L), (7L, 1L), (9L, 1L), (20L, 10L), (30L, 10L))
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val df = ConnectedComponents.run(
      spark, edges.toDF("src", "dst"), smallGraphThreshold = 0L,
      onIteration = (it, n, ms) => stats += ((it, n, ms)))
    // round 1 reproduces the star forest; the shape test detects the
    // fixpoint there — no second (verification) round is spent
    assert(stats.map(_._1) == Seq(0, 1), s"expected 1 iteration, got stats=$stats")
    val roots = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots == oracle(edges))
  }

  test("inputCanonical: same roots, and no durable iter-0 copy of the input") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val raw = (0L until 200L).map(i => (i, i + 1)) ++
      Seq.fill(80)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)).filter(e => e._1 != e._2)
    // canonical-distinct form (src > dst, each unordered pair once)
    val canon = raw.map(e => (math.max(e._1, e._2), math.min(e._1, e._2))).distinct
    val expect = oracle(raw)
    val dir = tempDir("cc-canon")
    val (df, iters) = runCounted(cb => ConnectedComponents.run(spark,
      canon.toDF("src", "dst"), checkpointDir = Some(dir), reliableEvery = 3,
      smallGraphThreshold = 0L, onIteration = cb, inputCanonical = true))
    assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    // iteration 0 (the canonicalize + durable re-write of the input) was
    // skipped: no cc_iter_0 directory ever appears
    val names = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).map(_.getName)
    assert(!names.contains("cc_iter_0"), s"iter-0 copy written: ${names.toSeq}")
    assert(iters >= 1)
    // a wrong vouch (duplicates, both orders) still yields correct roots —
    // rounds canonicalize internally; the flag is a performance contract
    val messy = raw ++ raw.map(e => (e._2, e._1))
    val got = ConnectedComponents.run(spark, messy.toDF("src", "dst"),
      smallGraphThreshold = 0L, inputCanonical = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }
}
