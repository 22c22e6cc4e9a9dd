package pkel.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import pkel.ontology.Ontology
import pkel.transcript.TranscriptSynth

/** spark-submit entry point for the transcript record-linkage pipeline
  * (north rule: "runs via spark-submit ... resumes idempotently").
  *
  * {{{
  * spark-submit --class pkel.app.PipelineApp \
  *   --master local[8] target/scala-2.13/<jar> \
  *   --convs 10000 --out /tmp/pkel-run [--input <transcripts.parquet>] [--seed 42]
  * }}}
  *
  * With `--input`, reads an existing transcript table (conv_id, turn_idx,
  * role, text, tool, ts); otherwise synthesizes `--convs` conversations
  * deterministically (then gold labels are known and pairwise F1 is
  * reported). Re-running with the same `--out` resumes from the committed
  * stage snapshots.
  *
  * `--dump-input <path>` materializes the deterministic synthetic corpus as
  * a transcript table at `<path>` and exits — the producer for `--input`
  * runs, so the production shape (read an existing table, no synthesis or
  * gold evaluation in the measured job) can be benchmarked end-to-end.
  */
object PipelineApp {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val out = opts.getOrElse("out", "/tmp/pkel-run")
    val nConvs = opts.getOrElse("convs", "1000").toLong
    val seed = opts.getOrElse("seed", "42").toLong

    val spark = SparkSession.builder()
      .appName("pkel-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val entries = Ontology.load()

    opts.get("dump-input").foreach { path =>
      val multiRate = opts.getOrElse("multi-rate", "0.0").toDouble
      val tableRate = opts.getOrElse("table-rate", "0.0").toDouble
      TranscriptSynth.generate(spark, entries, nConvs, seed = seed,
          multiRate = multiRate, tableRate = tableRate)
        .repartition(128, col("conv_id"))
        .write.mode("overwrite").parquet(path)
      val n = spark.read.parquet(path).count()
      println(s"""{"transcripts":$n,"path":"$path"}""")
      spark.stop()
      sys.exit(0)
    }

    val (transcripts, gold) = opts.get("input") match {
      case Some(path) =>
        (spark.read.parquet(path), None)
      case None =>
        val multiRate = opts.getOrElse("multi-rate", "0.0").toDouble
        val tableRate = opts.getOrElse("table-rate", "0.0").toDouble
        val t = TranscriptSynth.generate(spark, entries, nConvs, seed = seed,
          multiRate = multiRate, tableRate = tableRate)
        val g = TranscriptSynth.goldLabels(Pipeline.extractMentions(t), entries, seed,
          multiRate = multiRate, tableRate = tableRate)
        (t, Some(g))
    }

    // --store snapshot|catalog selects the stage-checkpoint backend — the
    // Iceberg-shaped swap is a config flag, not a code change
    val io = pkel.io.StageStore.forBackend(opts.getOrElse("store", "snapshot"),
      spark, out, s"run-${java.util.UUID.randomUUID().toString.take(8)}")
    val cfg = Pipeline.Config(
      edgeThreshold = opts.getOrElse("edge-threshold", "0.90").toDouble,
      // --prune true: drop cross-key pairs provably below the edge threshold
      // (length bound) before the scoring kernel; clusters are invariant,
      // drops land in the metrics table as length_pruned_pairs
      prunePairs = opts.getOrElse("prune", "false").toBoolean,
      // --cc-reliable-every N: durable-checkpoint cadence in the CC fixpoint
      // (1 = every round durable — used by tools/kill_resume_bench.sh to
      // exercise TRUE mid-fixpoint resume now that fixpoints are 1-2 rounds)
      ccReliableEvery = opts.getOrElse("cc-reliable-every", "3").toInt)
    val (clusters, summary) = Pipeline.run(spark, transcripts, entries, cfg, io, gold)

    println(s"clusters written under $out/clusters; metrics under $out/_metrics")
    println(
      f"""{"mentions":${summary.mentions},"pairs":${summary.pairs},"edges":${summary.edges},"clusters":${summary.clusters},"pairwise_f1":${summary.pairwiseF1}%.4f,"pairwise_f1_at_key":${summary.pairwiseF1AtKey}%.4f,"wall_sec":${summary.wallSec}%.1f}""")
    spark.stop()
  }
}
