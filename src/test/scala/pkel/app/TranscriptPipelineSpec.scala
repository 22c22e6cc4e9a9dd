package pkel.app

import java.nio.file.Files

import org.apache.spark.sql.functions._

import pkel.SparkSpec
import pkel.blocking.PairGen
import pkel.io.TableIO
import pkel.ontology.Ontology
import pkel.transcript.TranscriptSynth

class TranscriptPipelineSpec extends SparkSpec {

  lazy val entries = Ontology.load()

  private def goldDf(transcripts: org.apache.spark.sql.DataFrame, seed: Long,
      multiRate: Double = 0.0, tableRate: Double = 0.0) = {
    val vs = TranscriptSynth.variants(entries)
    val tdVs = TranscriptSynth.tableDefaultVariants(entries)
    val safeVs = TranscriptSynth.tableSafeVariants(entries)
    val goldUdf = udf((convId: String, turn: Int, spanIdx: Int) =>
      TranscriptSynth.goldSpansForVariants(vs, seed, convId.stripPrefix("c").toLong,
        turn, multiRate = multiRate, tableRate = tableRate,
        tdVs = tdVs, safeVs = safeVs).lift(spanIdx).orNull)
    Pipeline.extractMentions(transcripts)
      .select(col("mention_id"),
        goldUdf(col("conv_id"), col("turn_idx"), col("span_idx")).as("gold"))
      .filter(col("gold").isNotNull)
  }

  test("synthesizer is deterministic and schema-exact") {
    val t1 = TranscriptSynth.generate(spark, entries, nConvs = 50, seed = 42L)
    val t2 = TranscriptSynth.generate(spark, entries, nConvs = 50, seed = 42L).repartition(7)
    assert(t1.schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert(t1.count() == 400)
    // identical content at different parallelism (per-row hash functions)
    val d1 = t1.select("conv_id", "turn_idx", "text").collect().map(_.toString).sorted
    val d2 = t2.select("conv_id", "turn_idx", "text").collect().map(_.toString).sorted
    assert(d1.sameElements(d2))
  }

  test("stable turn ordering invariant: window order matches turn_idx and ts") {
    val t = TranscriptSynth.generate(spark, entries, nConvs = 100, seed = 42L)
    val mentions = Pipeline.extractMentions(t)
    assert(mentions.filter(!col("ordering_ok")).count() == 0)
    // ts strictly increasing per conversation
    val w = org.apache.spark.sql.expressions.Window.partitionBy("conv_id").orderBy("turn_idx")
    val bad = t.withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNotNull && col("ts") <= col("prev_ts"))
    assert(bad.count() == 0)
  }

  test("end-to-end: clusters reach pairwise F1 >= 0.99 vs constructed gold") {
    val seed = 42L
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 400, seed = seed)
    val root = Files.createTempDirectory("pkel_pipe_").toString
    val io = new TableIO(spark, root, "test-run")
    val gold = goldDf(transcripts, seed)
    val (clusters, summary) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), io, Some(gold))

    info(s"summary: $summary")
    assert(summary.mentions > 1000)
    assert(clusters.select("mention_id").distinct().count() == summary.mentions)
    assert(summary.pairwiseF1 >= 0.99, f"global pairwise F1 ${summary.pairwiseF1}%.4f < 0.99")
    assert(summary.pairwiseF1AtKey >= 0.99, f"pairwise F1 at key ${summary.pairwiseF1AtKey}%.4f < 0.99")
  }

  test("multi-span turns: every embedded span is extracted and the F1 gate holds") {
    val seed = 42L
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 300,
      seed = seed, multiRate = 0.3)
    val mentions = Pipeline.extractMentions(transcripts)
    // mention count == embedded «-delimiter count across all turns: the
    // extractor must not silently drop second spans (round-2 verdict defect)
    val embedded = transcripts
      .select((size(split(col("text"), "«")) - 1).as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(mentions.count() == embedded, "extractor dropped spans")
    val multi = mentions.filter(col("span_idx") === 1).count()
    assert(multi > 0, "multiRate=0.3 produced no second spans")
    // span-indexed ids are collision-free
    Pipeline.auditMentionIds(mentions)
    // every extracted span has a gold assignment and the e2e gate is unchanged
    val gold = goldDf(transcripts, seed, multiRate = 0.3)
    assert(gold.count() == mentions.count(), "gold does not cover every span")
    val root = Files.createTempDirectory("pkel_multi_").toString
    val io = new TableIO(spark, root, "multi-run")
    val (_, summary) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), io, Some(gold))
    info(s"multi-span summary: $summary")
    assert(summary.pairwiseF1 >= 0.99, f"global pairwise F1 ${summary.pairwiseF1}%.4f < 0.99")
    assert(summary.pairwiseF1AtKey >= 0.99, f"pairwise F1 at key ${summary.pairwiseF1AtKey}%.4f < 0.99")
  }

  test("mention-id audit detects constructed collisions and passes clean ids") {
    import spark.implicits._
    val clean = Seq((1L, "c1", 0, 0), (2L, "c1", 0, 1), (3L, "c2", 0, 0))
      .toDF("mention_id", "conv_id", "turn_idx", "span_idx")
    Pipeline.auditMentionIds(clean) // no throw
    val collided = Seq((1L, "c1", 0, 0), (1L, "c2", 0, 0))
      .toDF("mention_id", "conv_id", "turn_idx", "span_idx")
    val e = intercept[IllegalArgumentException](Pipeline.auditMentionIds(collided))
    assert(e.getMessage.contains("collision"))
  }

  test("stage-1 audit: adds exactly its own jobs and vetoes bad commits") {
    import spark.implicits._
    val t = TranscriptSynth.generate(spark, entries, nConvs = 40, seed = 5L)
    val mentions = Pipeline.extractMentions(t)
    val rootA = Files.createTempDirectory("pkel_audit_sep_").toString
    val plain = jobsDuring(new TableIO(spark, rootA, "sep").commit("mentions", mentions, "f"))
    val snapshot = new TableIO(spark, rootA, "sep").readOrCompute("mentions", "f")(fail("must replay"))
    val audit = jobsDuring(Pipeline.auditMentionIds(snapshot))
    val rootB = Files.createTempDirectory("pkel_audit_fold_").toString
    val audited = jobsDuring {
      new TableIO(spark, rootB, "fold")
        .commit("mentions", mentions, "f", Some(Pipeline.mentionIdAudit))
    }
    info(s"jobs: commit=$plain audit=$audit audited-commit=$audited")
    assert(audited == plain + audit,
      s"an audited commit should add exactly the audit's jobs ($audited vs $plain + $audit)")
    // a collision vetoes the commit BEFORE the marker write: the stage is not
    // resumable with corrupt ids
    val collided = Seq((1L, "c1", 0, 0), (1L, "c2", 0, 0))
      .toDF("mention_id", "conv_id", "turn_idx", "span_idx")
    val rootC = Files.createTempDirectory("pkel_audit_veto_").toString
    val ioC = new TableIO(spark, rootC, "veto")
    val e = intercept[IllegalArgumentException](
      ioC.commit("mentions", collided, "fx", Some(Pipeline.mentionIdAudit)))
    assert(e.getMessage.contains("collision"))
    assert(!ioC.isCommitted("mentions", "fx"), "vetoed commit must leave no marker")
  }

  test("resume is idempotent: second run replays committed stages byte-identically") {
    val seed = 7L
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 60, seed = seed)
    val root = Files.createTempDirectory("pkel_resume_").toString
    val gold = goldDf(transcripts, seed)
    val io1 = new TableIO(spark, root, "run-1")
    val (c1, s1) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), io1, Some(gold))
    val snap1 = c1.select("mention_id", "cluster_id").collect().map(_.toString).sorted
    // same root: all stages committed → replayed, not recomputed
    val io2 = new TableIO(spark, root, "run-2")
    val (c2, s2) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), io2, Some(gold))
    val snap2 = c2.select("mention_id", "cluster_id").collect().map(_.toString).sorted
    assert(snap1.sameElements(snap2))
    assert(s2.wallSec < s1.wallSec, "resumed run should be faster (no recompute)")
    // the closing counts, read from the snapshots' footers, are the committed
    // tables' counts on both the computing and the replaying run
    val committed = Seq("mentions", "scored", "edges").map(st => spark.read.parquet(s"$root/$st").count())
    for (s <- Seq(s1, s2))
      assert(Seq(s.mentions, s.pairs, s.edges) == committed, s"$s vs committed counts $committed")
    // metrics table has rows for every stage
    val stages = io1.metrics().select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(Set("mentions", "keyed", "linked", "scored", "edges", "components", "clusters")
      .subsetOf(stages), s"missing stage metrics: $stages")
    // the LSH oversize-drop counters are first-class metrics rows (round-4
    // verdict: no silent caps) — written by run-1's compute, NOT re-written
    // by run-2's resume (a replayed stage re-ran nothing, so it recounts
    // nothing)
    assert(Set("scored.lsh_dropped_buckets", "scored.lsh_dropped_members",
      "scored.lsh_total_buckets").subsetOf(stages), s"missing drop counters: $stages")
    val counterRuns = io1.metrics()
      .filter(col("stage") === "scored.lsh_total_buckets")
      .select("run_id").collect().map(_.getString(0)).toSeq
    assert(counterRuns == Seq("run-1"), s"resume must not recount: $counterRuns")
    val totalBuckets = io1.metrics()
      .filter(col("stage") === "scored.lsh_total_buckets")
      .select("rows_out").head().getLong(0)
    assert(totalBuckets > 0L, "counter row should carry the observed bucket count")
  }

  test("table-cell turns flow down the cascade's table path and the F1 gate holds") {
    val seed = 42L
    val tableRate = 0.25
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 300,
      seed = seed, tableRate = tableRate)
    val tableTurns = transcripts.filter(col("text").startsWith("<table"))
    assert(tableTurns.count() > 0, "tableRate=0.25 produced no table turns")
    val mentions = Pipeline.extractMentions(transcripts)
    val tableMentions = mentions.filter(col("is_table"))
    assert(tableMentions.count() == tableTurns.count(),
      "every table turn must yield exactly one table mention")
    // cell coordinates resolve inside the synthesized 4x3 tables: header is
    // parse row 0, the mention cell sits in data rows 1-3, column 0
    val coords = tableMentions.select("row_idx", "col_idx").collect()
    assert(coords.nonEmpty && coords.forall { r =>
      (1 to 3).contains(r.getInt(0)) && r.getInt(1) == 0
    }, s"bad cell coords: ${coords.take(5).mkString(",")}")
    // the exact tier's Q57 table default fires for the ambiguous-surface slice
    val linked = pkel.link.Cascade.run(spark, mentions.drop("ordering_ok"), entries)
    val statuses = linked.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.getOrElse("table_default", 0L) > 0,
      s"no table_default rows in $statuses")
    // table-default mentions predict Q57 — which IS their constructed gold
    val root = Files.createTempDirectory("pkel_table_").toString
    val io = new TableIO(spark, root, "table-run")
    val gold = goldDf(transcripts, seed, tableRate = tableRate)
    assert(gold.count() == mentions.count(), "gold does not cover every mention")
    val (_, summary) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), io, Some(gold))
    info(s"table summary: $summary")
    assert(summary.pairwiseF1 >= 0.99, f"global pairwise F1 ${summary.pairwiseF1}%.4f < 0.99")
    assert(summary.pairwiseF1AtKey >= 0.99, f"pairwise F1 at key ${summary.pairwiseF1AtKey}%.4f < 0.99")
  }

  test("salting changes pair counts but never the clusters") {
    val seed = 13L
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 80, seed = seed)
    val gold = goldDf(transcripts, seed)
    def clustersWith(salt: Int): Map[Long, String] = {
      val root = Files.createTempDirectory(s"pkel_salt${salt}_").toString
      val cfg = Pipeline.Config(pairCfg = PairGen.Config(saltBuckets = salt))
      val io = new TableIO(spark, root, s"salt-$salt")
      val (c, _) = Pipeline.run(spark, transcripts, entries, cfg, io, Some(gold))
      // canonicalize cluster ids by their member sets (min member id)
      val rows = c.select("mention_id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      rows.groupBy(_._2).toSeq.flatMap { case (_, ms) =>
        val label = ms.map(_._1).min.toString
        ms.map(m => m._1 -> label)
      }.toMap
    }
    val unsalted = clustersWith(1)
    val salted = clustersWith(8)
    assert(unsalted == salted, "salting must not change the transitive clusters")
  }

  test("edge stage: broadcast semi-join plan == shuffle anti-join fallback") {
    // The edge stage keeps a ≥θ pair only when NEITHER endpoint is
    // cascade-assigned. broadcastResidueLimit selects between the broadcast
    // semi-join plan (zero shuffle of the pair stream) and the original
    // shuffle anti-joins; the two MUST emit identical edge sets — and the
    // residue limit must not leak into stage fingerprints via toString
    // surprises (each run uses its own root, so both compute fresh).
    val seed = 7L
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 150, seed = seed)
    val gold = goldDf(transcripts, seed)
    def edgesWith(limit: Long): (Set[(Long, Long)], Map[Long, Long]) = {
      val root = Files.createTempDirectory(s"pkel_edges${limit}_").toString
      val cfg = Pipeline.Config(broadcastResidueLimit = limit)
      val io = new TableIO(spark, root, s"edges-$limit")
      val (c, _) = Pipeline.run(spark, transcripts, entries, cfg, io, Some(gold))
      val e = spark.read.parquet(s"$root/edges").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (e, c.select("mention_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)
    }
    val (eBroadcast, cBroadcast) = edgesWith(Long.MaxValue) // force semi-join plan
    val (eAnti, cAnti) = edgesWith(0L)                      // force anti-join fallback
    assert(eBroadcast == eAnti,
      s"edge sets differ: semi-only=${(eBroadcast -- eAnti).take(5)}, " +
        s"anti-only=${(eAnti -- eBroadcast).take(5)}")
    assert(cBroadcast == cAnti, "clusters must be identical across edge plans")
  }

  test("anchor/sim edge subgraphs are node-disjoint (the CC-split precondition)") {
    // Stage 7 runs the CC fixpoint on sim edges only and unions anchor rows
    // in as ready-made (node, root) assignments. That is correct ONLY if no
    // mention appears in both subgraphs: anchor edges (dst < 0) attach
    // cascade-ASSIGNED mentions, sim edges connect UNASSIGNED ones — the
    // edge stage's both-endpoint filter enforces it. Pin the invariant
    // directly on a committed edges snapshot so a future edge-stage change
    // that silently breaks the precondition fails here, not as a subtle
    // clustering drift.
    val seed = 13L
    val transcripts = TranscriptSynth.generate(spark, entries, nConvs = 150, seed = seed)
    val root = Files.createTempDirectory("pkel_ccsplit_").toString
    val io = new TableIO(spark, root, "ccsplit")
    Pipeline.run(spark, transcripts, entries, Pipeline.Config(), io,
      Some(goldDf(transcripts, seed)))
    val edges = spark.read.parquet(s"$root/edges")
    val anchorNodes = edges.filter(col("dst") < 0L).select(col("src").as("n"))
    val simNodes = edges.filter(col("dst") >= 0L)
      .select(col("src").as("n"))
      .union(edges.filter(col("dst") >= 0L).select(col("dst").as("n")))
    assert(anchorNodes.count() > 0 && simNodes.count() > 0,
      "corpus must exercise both subgraphs for the disjointness pin to mean anything")
    val overlap = anchorNodes.intersect(simNodes).count()
    assert(overlap == 0L, s"$overlap mentions appear in BOTH subgraphs")
    // anchors live strictly in the negative id space, mentions in the
    // non-negative one — the other half of the split's correctness
    assert(edges.filter(col("src") < 0L).count() == 0L, "anchor id leaked into src")
  }
}
