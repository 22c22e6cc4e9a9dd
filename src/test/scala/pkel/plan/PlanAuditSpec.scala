package pkel.plan

import pkel.SparkSpec
import pkel.ontology.Ontology

/** Physical-plan audits: the plans the engine promises (SURVEY.md §4) are the
  * plans Catalyst actually produces — filters reach the parquet scan, small
  * dims broadcast, rank-limits push into windows, and the pair kernel
  * scores the salted bucket table without shuffling the pair stream.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val exec = df.queryExecution
    exec.executedPlan.toString + "\n" + exec.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** (skewedPartitions, totalSplitSpecs, planHasSkewFlag) from the final
    * adaptive plan of an executed DataFrame. */
  private def skewSplitStats(df: org.apache.spark.sql.DataFrame): (Int, Int, Boolean) = {
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    val plan = df.queryExecution.executedPlan
    // the skew-handled join lives inside a query stage's sub-plan
    val reads = planNodes(plan).collect { case r: AQEShuffleReadExec => r }
    val skewedReads = reads.filter(_.hasSkewedPartition)
    val splits = reads.map(_.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])).sum
    val flag = plan.toString.split("== Initial Plan ==").head.contains("skew=true")
    (skewedReads.size, splits, flag)
  }

  test("agg pushdown: filter and column pruning reach the parquet scan") {
    val plan = planOf(graft.Queries.aggPushdown(spark, sfDir))
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(l_quantity,10.0)"),
      s"filter not pushed:\n${plan.take(2000)}")
    assert(!plan.contains("l_shipdate"), "unneeded column not pruned from scan")
  }

  test("dim joins broadcast: no shuffle of the fact side") {
    val plan = planOf(graft.Queries.joinBroadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n${plan.take(2000)}")
  }

  test("shuffle join: sort-merge with partial aggregation below the join") {
    val plan = planOf(graft.Queries.joinShuffle(spark, sfDir))
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n${plan.take(2000)}")
    // lineitem pre-aggregates before the join: partial agg (map-side combine)
    // must appear so the join shuffles one row per orderkey, not per lineitem
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"expected partial aggregation below the join:\n${plan.take(2000)}")
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(o_totalprice"),
      s"orders filter not pushed to scan:\n${plan.take(2000)}")
  }

  test("kmv sketch aggregate runs as partial + final (mergeable partials)") {
    val df = graft.Queries.docKmvDistinct(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("kmv_distinct"), s"aggregate missing from plan:\n${plan.take(1500)}")
    // ObjectHashAggregate/SortAggregate with partial_kmv_distinct = the
    // sketch merges across partitions instead of shipping raw values
    assert(plan.contains("partial_kmv_distinct"),
      s"expected partial sketch aggregation:\n${plan.take(2000)}")
  }

  test("window top-k gets a group-limit pushdown") {
    val plan = planOf(graft.Queries.windowTopK(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), s"rank limit not pushed into window:\n${plan.take(2000)}")
  }

  test("exact linker joins the broadcast ontology index") {
    val entries = Ontology.load()
    val index = Ontology.blockingIndex(entries)
    import spark.implicits._
    val mentions = Seq((1L, "the AUC was high", "Q88", 4, 7, false))
      .toDF("mention_id", "text", "label", "span_start", "span_end", "is_table")
    val keyed = pkel.link.ExactLinker.withBlockingKey(mentions)
    val plan = planOf(pkel.link.ExactLinker.link(spark, keyed, index))
    assert(plan.contains("BroadcastHashJoin"), s"index join must broadcast:\n${plan.take(2000)}")
  }

  test("cascade context join broadcasts the bi-encoder residue, not the keyed mentions") {
    // the retrieval feature reads the turn/table context of the cascade's
    // last residue only: the keyed scan (every mention's text and table
    // html) streams through the join and the residue is the build side, so
    // the join never shuffles or broadcasts mention-scale text
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val entries = Ontology.load()
    val root = tempDir("pkel_ctxjoin_")
    pkel.link.ExactLinker.withBlockingKey(pkel.io.MentionReader.readJsonl(spark,
      resourcePath("/pkel/data/sentences/test.jsonl"), isTable = false))
      .write.parquet(s"$root/keyed")
    val preds = pkel.link.Cascade.run(spark, spark.read.parquet(s"$root/keyed"), entries).predictions
    assert(preds.collect().length == 293)
    val plan = preds.queryExecution.executedPlan
    def readsContext(p: SparkPlan): Boolean = planNodes(p).exists {
      case s: FileSourceScanExec => s.output.exists(_.name == "table_html")
      case _ => false
    }
    // (build, streamed) children of every broadcast hash join
    val sides = planNodes(plan).collect { case j: BroadcastHashJoinExec =>
      if (j.buildSide == BuildLeft) (j.left, j.right) else (j.right, j.left)
    }
    assert(sides.exists { case (_, streamed) => readsContext(streamed) },
      s"the keyed context scan must stream through a broadcast join:\n$plan")
    assert(!sides.exists { case (build, _) => readsContext(build) },
      s"the keyed context scan must not be a build side:\n$plan")
  }

  test("bucket-kernel scoring path: one mention-scale exchange, no join, no pair shuffle") {
    import spark.implicits._
    // a parquet source, so the scan's read schema is planned like production
    val root = tempDir("pkel_buckets_")
    (1L to 500L).map(i => (i, if (i % 7 == 0) "auc inf" else "cl", Seq("cl"), s"m$i"))
      .toDF("mention_id", "blocking_key", "tokens", "mention").write.parquet(s"$root/keyed")
    val keyed = spark.read.parquet(s"$root/keyed")
    val buckets = pkel.blocking.PairGen.saltedBucketTable(keyed)
    val bucketPlan = buckets.queryExecution.executedPlan.toString
    val exchanges = bucketPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // exactly TWO exchanges by design: the key-stats window partitions by
    // blocking_key, then the bucket groupBy REDISTRIBUTES on the composite
    // bucket key so a hot key's quadratic pair emission spreads across tasks
    // (grouping on (blocking_key, salt) would reuse the window partitioning
    // and serialize the hot key in one straggler)
    assert(exchanges == 2, s"expected two exchanges (key window + bucket rebalance), got $exchanges:\n$bucketPlan")
    assert(bucketPlan.contains("bucket_key"), s"bucket rebalance missing:\n$bucketPlan")
    assert(!bucketPlan.contains("Join"), s"bucket path must not join:\n$bucketPlan")
    // the kernel is a generator that emits scored pairs directly: it shows
    // as a Generate node, and no exchange sits above it — nothing shuffles
    // the pair stream
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = pkel.scoring.PairScorer.scoreBuckets(buckets).queryExecution.executedPlan
    assert(planNodes(plan).exists(_.isInstanceOf[GenerateExec]), s"kernel must be a Generate node:\n$plan")
    val aboveKernel = planNodes(plan).collect { case e: Exchange => e }
      .filter(e => planNodes(e).exists(_.isInstanceOf[GenerateExec]))
    assert(aboveKernel.isEmpty, s"pair stream must not shuffle:\n$plan")
    // same-key pairs score 1.0 from ids alone: no node of the bucket path,
    // the scan included, reads or carries the surface
    val withSurface = planNodes(plan).filter(_.output.exists(_.name == "mention"))
    assert(withSurface.isEmpty,
      s"bucket path reads the mention surface in ${withSurface.map(_.nodeName).mkString(", ")}")
  }

  test("scoreCandidates is one lazy plan: no job at build time, one key exchange reused") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val keyed = (1L to 600L).map { i =>
      val key = if (i % 3 == 0) "auc inf" else "cl"
      (i, key, key.split(" ").toSeq, s"m${i % 40}")
    }.toDF("mention_id", "blocking_key", "tokens", "mention")
    val cfg = pkel.blocking.PairGen.Config(targetBucketSize = 16)
    var scored: org.apache.spark.sql.DataFrame = null
    val buildJobs = jobsDuring {
      scored = pkel.scoring.PairScorer.scoreCandidates(keyed, cfg)
    }
    assert(buildJobs == 0, s"building the plan ran $buildJobs Spark jobs")
    scored.collect()
    val plan = scored.queryExecution.executedPlan
    // the annotated key window's exchange: hash-partitioned on blocking_key
    // alone over (mention_id, blocking_key) — the bucket and rep-star
    // branches read no surface. The LSH side's key-rep aggregate also
    // partitions on blocking_key, but over partial aggregates with tokens
    // and mention: a different exchange
    def keyWindow(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec =>
        e.output.map(_.name) == Seq("mention_id", "blocking_key") &&
          (e.outputPartitioning match {
            case h: HashPartitioning => h.references.toSeq.map(_.name) == Seq("blocking_key")
            case _ => false
          })
      case _ => false
    }
    val nodes = planNodes(plan)
    val exchanges = nodes.count(keyWindow)
    val reused = nodes.count { case r: ReusedExchangeExec => keyWindow(r.child); case _ => false }
    assert(exchanges == 1 && reused == 1,
      s"expected one key-window exchange and one reuse of it, got $exchanges and $reused:\n$plan")
  }

  test("set-op and rollup filters reach the parquet scan") {
    val p1 = planOf(graft.Queries.setOps(spark, sfDir))
    assert(p1.contains("PushedFilters:") &&
      (p1.contains("GreaterThan(o_totalprice") || p1.contains("EqualTo(o_orderpriority")),
      s"set-op filters not pushed:\n${p1.take(2000)}")
    val p2 = planOf(graft.Queries.rollupAgg(spark, sfDir))
    assert(p2.contains("Expand"), s"rollup should use Expand:\n${p2.take(1500)}")
    assert(!p2.contains("o_comment"), "rollup scan must prune unused columns")
  }

  test("prompt-cost estimate stays in codegen: no UDF on the token-count path") {
    import org.apache.spark.sql.functions._
    val entries = Ontology.load()
    // a parquet-backed source (a local Seq would be constant-folded into a
    // LocalTableScan, hiding the expression we want to audit)
    val mentions = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("mention_id"), col("text").as("mention"))
    val df = pkel.link.PromptCost.estimate(spark, mentions, entries, "gpt-4o-mini")
    val plan = planOf(df)
    // the per-mention token count is built-in regexp_extract_all + size —
    // a Scala UDF here would put the hot path outside whole-stage codegen
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"token counting must not use a UDF:\n${plan.take(2000)}")
    assert(plan.contains("regexp_extract_all"), s"expected regexp token count:\n${plan.take(2000)}")
    // only the two needed columns reach the scan
    assert(plan.contains("ReadSchema") && !plan.contains("lang"),
      "scan must prune to (doc_id, text)")
  }

  test("normalized confusion: the window moves cells, not data rows") {
    import spark.implicits._
    val preds = Seq(("a", "a"), ("a", "b"), ("b", "b")).toDF("y_true", "y_pred")
    val df = pkel.eval.Metrics.confusionNormalized(preds)
    df.collect()
    // audit the FINAL AQE plan only (executedPlan.toString prints the
    // initial plan again below it, double-counting every exchange)
    val full = df.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==").head
    // one hashpartitioning exchange for the (y_true, y_pred) aggregate over
    // the DATA, plus one for the y_true window — but the second one moves
    // only the |classes|^2 confusion CELLS, never data rows; any more would
    // mean the data itself is being shuffled twice
    val dataExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(dataExchanges <= 2, s"window added extra shuffles:\n$plan")
    assert(plan.contains("Window"), s"expected window for row totals:\n$plan")
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying ~50x the bytes of the rest — the exact shape a
      // degenerate blocking key produces at transcript scale. Payloads are
      // per-row md5 hex (incompressible): skew detection reads COMPRESSED
      // shuffle sizes, and a repeated-char pad would lz4 away to nothing
      def pad(i: Int) = org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString) * 4
      val left = ((1 to 20000).map(i => (0L, pad(i))) ++
        (1 to 400).map(i => ((i % 100).toLong + 1, pad(i))))
        .toDF("k", "payload").repartition(8)
      val right = (0 to 100).flatMap(k => (1 to 50).map(i => (k.toLong, i))).toDF("k", "v")
        .repartition(8)
      // aggregate the payload (so pruning cannot drop it before the join
      // shuffle — the padding makes the hot partition big) with a GLOBAL
      // aggregate: a groupBy on the join key would REQUIRE the join's hash
      // partitioning downstream, and AQE declines to split a skewed
      // partition when that would break a required distribution
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("bytes"))
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(finalPlan.contains("SortMergeJoin"), s"expected SMJ:\n${finalPlan.take(1500)}")
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${finalPlan.take(3000)}")
      // object-level verification via the plan walker: the skewed
      // partition was actually split into PartialReducerPartitionSpec reads
      // (the walker must recurse through QueryStageExec leaves to see it)
      val (skewedReads, splits, flagged) = skewSplitStats(joined)
      assert(flagged && skewedReads >= 1 && splits >= 2,
        s"skewSplitStats saw no split: reads=$skewedReads splits=$splits flag=$flagged")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("whole-stage codegen spans cover the relational battery") {
    // AQE finalizes the plan only on execution — run the query first
    val df = graft.Queries.aggPushdown(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the finalized tree
    assert(finalPlan.contains("*("), s"expected codegen stages:\n$finalPlan")
  }
}
