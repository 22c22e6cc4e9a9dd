package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.pkelbridge.Bridge

import pkel.app.Pipeline
import pkel.eval.Metrics
import pkel.io.TableIO
import pkel.model.OntologyEntry
import pkel.ontology.Ontology
import pkel.transcript.TranscriptSynth

/** The benchmark JVM. `perfbench/run.py` starts one per invocation:
  *
  *  - `bench`: generate the seeded transcript corpus (untimed), then make a
  *    fresh run of the whole pipeline into `full`, checked against the gold
  *    labels: on `fresh_noisy` it is the timed run, on `resume_cc` the
  *    resume source. Later runs (resumes from `full` on `resume_cc`) repeat
  *    set up → `Pipeline.run` → check, each in a new `SparkSession`, until
  *    `--min-runs` are timed and `--seconds` have passed. `--trace 1` makes
  *    every other later run a traced one. The last run takes a
  *    `graft.Bench.noiseProbe` sample.
  *  - `selftest`: the wrapped store against plain `TableIO` on one corpus,
  *    and the resume layout.
  *
  * Every mode writes one JSON object to `--result`.
  */
object Main {

  private final class Opts(args: Array[String]) {
    private val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def d(k: String): Double = apply(k).toDouble
  }

  /** Generator rates of a corpus; gold labels depend on multi and table. */
  private final case class Corpus(seed: Long, convs: Long, typo: Double, multi: Double, table: Double)
  private def corpusOf(o: Opts) =
    Corpus(o("seed").toLong, o("convs").toLong, o.d("typo"), o.d("multi"), o.d("table"))

  private type Record = scala.collection.mutable.LinkedHashMap[String, Any]
  private def record(): Record = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(sys.error("mode: bench | selftest"))
    val o = new Opts(args.tail)
    val result = record()
    val code =
      try {
        mode match {
          case "bench" => bench(o, result)
          case "selftest" => selftest(o, result)
          case other => sys.error(s"unknown mode $other")
        }
        0
      } catch {
        case e: Throwable =>
          result("ok") = false
          result("error") = e.toString
          e.printStackTrace()
          1
      }
    Files.write(Paths.get(o("result")), Json.obj(result).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** The session `PipelineApp` builds, at an explicit local width, with all
    * scratch space under `--work`. */
  private def session(o: Opts): SparkSession = {
    val work = o("work")
    val spark = SparkSession.builder()
      .master(s"local[${o("cores")}]")
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stages a run killed during connected components has committed. */
  val ResumedStages: Seq[String] = Seq("mentions", "keyed", "linked", "scored", "edges")

  /** Lay out `out` as a run killed during CC leaves it: copies of the
    * committed stages `mentions` through `edges` of the run in `full`. */
  def prepareResume(full: String, out: String): Unit = ResumedStages.foreach { stage =>
    val from = Paths.get(full, stage)
    val to = Paths.get(out, stage)
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  /** What every later run must reproduce: the first run's closing counts
    * and an order-independent digest of its cluster table. */
  private final case class Reference(counts: Seq[Long], digest: (Long, Long))

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.sorted.map(col).toSeq: _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def counts(s: Pipeline.Summary) =
    Seq("mentions" -> s.mentions, "pairs" -> s.pairs, "edges" -> s.edges, "clusters" -> s.clusters)

  private def bench(o: Opts, result: Record): Unit = {
    HeapWatch.install()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val c = corpusOf(o)
    val work = o("work")
    val corpus = s"$work/corpus"
    val full = s"$work/full"
    val resume = o("resume").toBoolean
    val traceMode = o("trace") == "1"
    val pin = o.get("pin").map(_.split(",").map(_.toLong).toSeq)

    // Set-up runs from JVM start to the first Pipeline.run call; the first
    // run uses this session and ontology. Generating the corpus is not
    // set-up.
    val first = session(o)
    val firstEntries = Ontology.load()
    val g0 = System.nanoTime()
    TranscriptSynth.generate(first, firstEntries, c.convs, seed = c.seed, typoRate = c.typo,
        multiRate = c.multi, tableRate = c.table)
      .repartition(o("files").toInt, col("conv_id"))
      .write.mode("overwrite").parquet(corpus)
    val inputsS = (System.nanoTime() - g0) / 1e9
    result("inputs_s") = inputsS

    val runs = scala.collection.mutable.ArrayBuffer.empty[Record]
    result("runs") = runs
    val minRuns = o("min-runs").toInt
    var threw = false
    val t0 = System.nanoTime()
    def count(p: Record => Boolean) = runs.count(r => r("timed") == true && p(r))
    // wall of each run with its set-up and checks; the next run is guessed
    // to take at most twice the longest later run's, or the first run's
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def next = 2 * (if (walls.size > 1) walls.tail.max else walls.headOption.getOrElse(0.0))
    def jvmS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // past the time budget a run is not started, whatever else is missing
    def more(): Boolean = !threw && jvmS + next < o.d("budget-s") &&
      (count(_ => true) < minRuns ||
        (traceMode && (count(_("traced") == true) < 1 || count(r => r("traced") == false && r("cold") == false) < 1)) ||
        (System.nanoTime() - t0) / 1e9 < o.d("seconds"))
    val probes = scala.collection.mutable.ArrayBuffer.empty[Any]
    // the last run takes the noise probe sample after the runs
    def last(spark: SparkSession): Unit = if (!more()) {
      probes += graft.Bench.noiseProbe(spark)
      result("env") = environment(spark)
    }
    def go(spark: => SparkSession, entries: => Seq[OntologyEntry], out: String,
        resumeFrom: Option[String], timed: Boolean, traced: Boolean,
        ref: Option[Reference]): Option[Reference] = {
      val r = record()
      r("timed") = timed
      r("traced") = traced
      r("cold") = runs.isEmpty
      runs += r
      val began = System.nanoTime()
      try Some(oneRun(spark, entries, c, pin, corpus, out, resumeFrom, traced, ref, r, last))
      catch {
        case e: Exception =>
          r("ok") = false
          r("error") = e.toString
          e.printStackTrace()
          threw = true
          None
      }
      finally {
        if (out != full) deleteTree(Paths.get(out))
        walls += (System.nanoTime() - began) / 1e9
      }
    }

    // The first run is fresh, into `full`, and checked against the gold
    // labels; every later run must match it. On fresh_noisy it is the timed
    // run; on resume_cc it is the resume source, and the resumed cluster
    // tables must equal its.
    go(first, firstEntries, full, None, timed = !resume, traced = false, None).foreach { ref =>
      result("setup_s") = (runs.head("started_ms").asInstanceOf[Long] - jvmStartMs) / 1e3 - inputsS
      while (more())
        go(session(o), Ontology.load(), s"$work/out-${runs.size}", if (resume) Some(full) else None,
          timed = true, traced = traceMode && runs.last("traced") == false, Some(ref))
    }
    result("timed_s") = (System.nanoTime() - t0) / 1e9

    if (!result.contains("env")) {
      val spark = session(o)
      probes += graft.Bench.noiseProbe(spark)
      result("env") = environment(spark)
      spark.stop()
    }
    result("probe_s") = probes
    result("ok") = !threw && runs.forall(_("ok") == true)
  }

  /** One run in `spark`, stopped at the end: set up, time `Pipeline.run`,
    * check the output against `ref`, or against the gold labels when there
    * is no `ref` yet (the first run). Fills `r`; returns the run's
    * reference. `last` runs at the end, while the session is still up. */
  private def oneRun(newSession: => SparkSession, loadEntries: => Seq[OntologyEntry], c: Corpus,
      pin: Option[Seq[Long]], corpus: String, out: String, resumeFrom: Option[String],
      traced: Boolean, ref: Option[Reference], r: Record, last: SparkSession => Unit): Reference = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    // set-up: everything `Pipeline.run` takes as arguments
    val s0 = System.nanoTime()
    val spark = newSession
    try {
      val trace = if (traced) Some(new LayerTrace) else None
      trace.foreach(spark.sparkContext.addSparkListener)
      val entries = loadEntries
      val transcripts = spark.read.parquet(corpus)
      resumeFrom.foreach(prepareResume(_, out))
      val table = new TableIO(spark, out, s"bench-${java.util.UUID.randomUUID().toString.take(8)}")
      val store = trace.map(new TracingStore(spark, table, _))
      r("setup_s") = (System.nanoTime() - s0) / 1e9

      HeapWatch.arm()
      trace.foreach(_.start())
      r("started_ms") = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (clusters, summary) =
        Pipeline.run(spark, transcripts, entries, Pipeline.Config(), store.getOrElse(table))
      val pipelineS = (System.nanoTime() - t0) / 1e9
      store.foreach(_.finish())
      trace.foreach(_.mark(LayerTrace.Summary))
      r("pipeline_s") = pipelineS
      val heap = HeapWatch.stop()
      r("retained_heap_mb") = heap.retainedMb
      r("peak_after_gc_mb") = heap.peakAfterGcMb
      r("full_gcs_in_run") = heap.fullGcsInRun
      r ++= counts(summary)

      // everything below is outside the timed region
      val got = Reference(counts(summary).map(_._2), digest(clusters))
      ref match {
        case None =>
          pin.foreach { want =>
            if (got.counts != want) failures += s"counts (mentions,pairs,edges,clusters) ${got.counts} != pinned $want"
          }
          val (f1, f1Key) = pairwiseF1(spark, clusters, entries, c, out)
          r("pairwise_f1") = f1
          r("pairwise_f1_at_key") = f1Key
          if (!(f1 >= 0.99 && f1Key >= 0.99)) failures += f"pairwise F1 $f1%.4f / at-key $f1Key%.4f < 0.99"
        case Some(want) =>
          // same counts and the same cluster table as the checked first run
          if (got.counts != want.counts) failures += s"counts ${got.counts} != the first run's ${want.counts}"
          if (got.digest != want.digest) failures += "cluster table differs from the first run's"
      }

      val runRows = table.metrics().filter(col("run_id") === table.runId)
      val counters = runRows.filter(col("partition_id") === -1).select("stage", "rows_out")
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val committed = runRows.filter(col("partition_id") >= 0).select("stage").distinct()
        .collect().map(_.getString(0)).toSet
      val expected = if (resumeFrom.isDefined) Set("components", "clusters") else LayerTrace.StageLayer.keySet
      if (committed != expected)
        failures += s"run computed stages ${committed.toSeq.sorted}, expected ${expected.toSeq.sorted}"

      trace.foreach { trace =>
        Bridge.waitForListeners(spark)
        LayerTrace.Layers.filter(_ != LayerTrace.Eval).foreach(l => r ++= trace.metrics(l))
        // eval.pairwise: the post-run F1, traced on its own
        trace.timed(LayerTrace.Eval)(pairwiseF1(spark, clusters, entries, c, out))
        Bridge.waitForListeners(spark)
        r ++= trace.metrics(LayerTrace.Eval)
        val scoringS = trace.wallS("scoring.pairs")
        val scoredHere = store.exists(_.computed.contains("scored"))
        r("scoring.pairs.pairs_per_s") = if (scoredHere && scoringS > 0) summary.pairs / scoringS else 0.0
        r("scoring.pairs.edge_yield") =
          if (summary.pairs > 0) summary.edges.toDouble / summary.pairs else 0.0
        r("scoring.pairs.lsh_dropped_members") = counters.getOrElse("scored.lsh_dropped_members", 0L)
        r("link.cascade.assigned_frac") = assignedFrac(spark.read.parquet(s"$out/linked"))
        r("cluster.cc.iterations") =
          counters.keys.count(_.matches("""components\.cc_iter_\d+_wall_ms"""))
        // the stage spans are contiguous, so this reads about 1.0 by construction
        r("trace.coverage") = LayerTrace.RunLayers.map(trace.wallS).sum / pipelineS
        // A check independent of the spans: TableIO times each commit itself
        // and writes the figure to the stage's _COMMIT marker. The io.store
        // span around the commit must hold it, plus the commit's
        // metrics-table append and marker write.
        val excess = store.get.computed.map { stage =>
          stage -> (trace.spanS(LayerTrace.Store, stage) - marker(s"$out/$stage", "wall_ms").toLong / 1e3)
        }
        r("io.store.commit_excess_s") = scala.collection.immutable.ListMap(excess: _*)
        excess.foreach { case (stage, x) =>
          if (x < -0.002 || x > CommitSlackS)
            failures += f"io.store span of the $stage commit differs from its _COMMIT wall_ms by $x%.3f s"
        }
      }
      r("failures") = failures.toSeq
      r("ok") = failures.isEmpty
      if (failures.nonEmpty) System.err.println(s"correctness check failed: ${failures.mkString("; ")}")
      last(spark)
      got
    } finally spark.stop()
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  /** A `key=value` field of a stage directory's `_COMMIT` marker. */
  private def marker(stageDir: String, key: String): String =
    new String(Files.readAllBytes(Paths.get(s"$stageDir/_COMMIT")), StandardCharsets.UTF_8)
      .linesIterator.collectFirst { case l if l.startsWith(s"$key=") => l.drop(key.length + 1) }
      .getOrElse(sys.error(s"no $key in $stageDir/_COMMIT"))

  /** Seconds an io.store commit span may exceed the commit's own wall_ms:
    * the metrics-table append and marker write, 0.25–0.8 s on a quiet host,
    * with room for a slow one. A span that opens late or closes early reads
    * below zero. */
  private val CommitSlackS = 5.0

  /** Global and at-key pairwise F1 of `clusters` against the generator's
    * gold labels, joined on the committed mention table's span triples. */
  private def pairwiseF1(spark: SparkSession, clusters: DataFrame, entries: Seq[OntologyEntry],
      c: Corpus, out: String): (Double, Double) = {
    val vs = TranscriptSynth.variants(entries)
    val tdVs = if (c.table > 0) TranscriptSynth.tableDefaultVariants(entries)
      else IndexedSeq.empty[TranscriptSynth.Variant]
    val safeVs = if (c.table > 0) TranscriptSynth.tableSafeVariants(entries)
      else IndexedSeq.empty[TranscriptSynth.Variant]
    val seed = c.seed
    val goldUdf = udf((convId: String, turn: Int, spanIdx: Int) =>
      TranscriptSynth.goldSpansForVariants(vs, seed, convId.stripPrefix("c").toLong, turn,
        multiRate = c.multi, tableRate = c.table, tdVs = tdVs, safeVs = safeVs).lift(spanIdx).orNull)
    val gold = spark.read.parquet(s"$out/mentions")
      .select(col("mention_id"), goldUdf(col("conv_id"), col("turn_idx"), col("span_idx")).as("gold"))
      .filter(col("gold").isNotNull)
    val assign = clusters.join(gold, "mention_id")
      .select(col("gold"), col("blocking_key"),
        when(col("is_nil"), concat(lit("nil#"), col("mention_id")))
          .otherwise(col("cluster_id").cast("string")).as("pred"))
    val (pw, pwKey) = Metrics.pairwiseF1Both(assign)
    (pw.f1, pwKey.f1)
  }

  /** Share of mentions the cascade assigns to an entity — the condition
    * `Pipeline.run`'s edge stage uses for anchor edges. */
  private def assignedFrac(linked: DataFrame): Double = {
    val assigned = col("y_pred") =!= "Q100" &&
      col("status").isin("linked", "disambiguated", "table_default")
    val r = linked.agg(count(lit(1)), count(when(assigned, 1))).head()
    if (r.getLong(0) > 0) r.getLong(1).toDouble / r.getLong(0) else 0.0
  }

  private def environment(spark: SparkSession): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val heapFlags = rt.getInputArguments.asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use"))
    Map(
      "spark_master" -> spark.sparkContext.master,
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "jvm_flags" -> heapFlags.mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
  }

  /** The wrapped store must commit what `TableIO` commits: one corpus, one
    * pipeline run per store, stage row counts and clusters compared. The
    * resume layout made from the plain run must hold exactly the stages up
    * to edges, so `components` and `clusters` are left to compute. */
  private def selftest(o: Opts, result: scala.collection.mutable.Map[String, Any]): Unit = {
    val c = corpusOf(o)
    val spark = session(o)
    val entries = Ontology.load()
    val work = o("work")
    TranscriptSynth.generate(spark, entries, c.convs, seed = c.seed, typoRate = c.typo,
      multiRate = c.multi, tableRate = c.table).write.mode("overwrite").parquet(s"$work/corpus")
    val transcripts = spark.read.parquet(s"$work/corpus")
    val plain = new TableIO(spark, s"$work/plain", "plain")
    val traced = new TracingStore(spark, new TableIO(spark, s"$work/traced", "traced"), new LayerTrace)
    val (a, _) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), plain)
    val (b, _) = Pipeline.run(spark, transcripts, entries, Pipeline.Config(), traced)
    def rows(root: String): Map[String, Long] =
      LayerTrace.StageLayer.keys.map(stage => stage -> marker(s"$root/$stage", "rows").toLong).toMap
    val (ra, rb) = (rows(s"$work/plain"), rows(s"$work/traced"))
    val clusterDiff = a.exceptAll(b).count() + b.exceptAll(a).count()
    result("stage_rows_tableio") = ra
    result("stage_rows_traced") = rb
    result("traced_computed") = traced.computed
    // the resume layout: the five stages up to edges, each with its marker
    prepareResume(s"$work/plain", s"$work/resume")
    val laidOut = Files.list(Paths.get(s"$work/resume")).iterator().asScala.map(_.getFileName.toString).toSet
    val marked = ResumedStages.forall(stage => Files.exists(Paths.get(s"$work/resume/$stage/_COMMIT")))
    result("resume_layout") = laidOut.toSeq.sorted
    result("ok") = ra == rb && clusterDiff == 0 && traced.computed.toSet == LayerTrace.StageLayer.keySet &&
      laidOut == ResumedStages.toSet && marked
  }
}

/** Minimal JSON writer for the flat result objects. */
private object Json {
  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
