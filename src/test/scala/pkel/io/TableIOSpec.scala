package pkel.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, StringType}

import pkel.SparkSpec

/** One contract, two backends: the snapshot-marker store and the
  * Iceberg-shaped catalog-pointer store must satisfy the identical
  * StageStore behavior (partial-write recovery, committed replay,
  * fingerprint invalidation, footer-backed lineage metrics and schema, job
  * counts) — proving the backend swap is config-only. */
class TableIOSpec extends SparkSpec {

  import spark.implicits._

  /** `recordedRows(root, stage)` reads `rows` from the backend's commit
    * record: the `_COMMIT` marker or the catalog pointer. */
  private def contract(name: String, mk: String => StageStore,
      recordedRows: (String, String) => Long): Unit = {
    test(s"$name: partial output recomputed, committed replayed, fingerprint invalidates") {
      val root = Files.createTempDirectory(s"pkel_${name}_").toString
      val io = mk(root)
      var computes = 0
      def data = { computes += 1; Seq(1, 2, 3).toDF("x") }

      // simulate a killed run: stage dir exists with garbage, no commit record
      Files.createDirectories(Paths.get(s"$root/stage_a"))
      Files.writeString(Paths.get(s"$root/stage_a/part-garbage"), "not parquet")
      val out1 = io.readOrCompute("stage_a", "fp1")(data)
      assert(computes == 1 && out1.count() == 3)

      // committed: replayed without recompute
      val out2 = io.readOrCompute("stage_a", "fp1")(data)
      assert(computes == 1 && out2.count() == 3)

      // changed fingerprint (different params): recomputed
      io.readOrCompute("stage_a", "fp2")(data)
      assert(computes == 2)

      // metrics table has lineage rows for both commits
      val m = io.metrics()
      assert(m.filter(m("stage") === "stage_a").count() >= 2)
    }

    test(s"$name: lineage rows, schema and row count come from the footers") {
      val root = Files.createTempDirectory(s"pkel_${name}_footers_").toString
      val io = mk(root)
      val df = Seq((1L, Seq("a", "b"), Some("x")), (2L, Seq.empty[String], None),
        (3L, Seq("c"), Some("y")), (4L, Seq("d", "e", "f"), None))
        .toDF("id", "tokens", "note").repartition(3)
      val empty = df.limit(0)
      for ((stage, frame, want) <- Seq(("rows", df, 4L), ("empty", empty, 0L))) {
        val out = io.commit(stage, frame, "fp")
        val replayed = io.readOrCompute(stage, "fp")(fail("must replay"))
        val dir = Paths.get(new java.net.URI(out.inputFiles.head)).getParent
        val parts = Files.list(dir).iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
        val lineage = io.metrics().filter(col("stage") === stage && col("partition_id") >= 0)
          .select("partition_id", "rows_out").as[(Int, Long)].collect()
        assert(out.count() == want && replayed.count() == want)
        assert(SnapshotFooters.rows(out) == want && SnapshotFooters.rows(replayed) == want)
        intercept[IllegalArgumentException](SnapshotFooters.rows(out.filter(col("id") > 1L)))
        assert(recordedRows(root, stage) == want, s"$stage: commit record rows")
        assert(lineage.map(_._2).sum == want, s"$stage: lineage rows sum")
        assert(lineage.length == parts && lineage.map(_._1).distinct.length == parts,
          s"$stage: one lineage row per part file (${lineage.toSeq} vs $parts files)")
        assert(out.schema == replayed.schema && out.schema == spark.read.parquet(dir.toString).schema,
          s"$stage: ${out.schema} / ${replayed.schema}")
        assert(out.schema("tokens").dataType == ArrayType(StringType) && out.schema("note").nullable)
      }
    }

    test(s"$name: a commit runs its write and one metrics append, a replay no job") {
      val root = Files.createTempDirectory(s"pkel_${name}_jobs_").toString
      val io = mk(root)
      val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k").groupBy("k").count()
      val write = jobsDuring(df.write.parquet(s"$root/bare"))
      val commit = jobsDuring(io.commit("s", df, "fp"))
      val replay = jobsDuring(io.readOrCompute("s", "fp")(fail("must replay")))
      info(s"jobs: write=$write commit=$commit replay=$replay")
      assert(commit == write + 1, s"commit ran $commit jobs, the bare write $write")
      assert(replay == 0, s"replay ran $replay jobs")
    }
  }

  private def recordLine(text: String, pattern: String): Long =
    pattern.r.findFirstMatchIn(text).map(_.group(1).toLong)
      .getOrElse(fail(s"no rows in commit record: $text"))

  contract("snapshot", root => new TableIO(spark, root, "r1"),
    (root, stage) => recordLine(Files.readString(Paths.get(s"$root/$stage/_COMMIT")), """rows=(\d+)"""))
  contract("catalog", root => new CatalogTableIO(spark, root, "r1"),
    (root, stage) => recordLine(Files.readString(Paths.get(s"$root/_catalog/$stage.json")), """"rows":"(\d+)""""))

  test("backend factory resolves by config name and rejects unknowns") {
    val root = Files.createTempDirectory("pkel_factory_").toString
    assert(StageStore.forBackend("snapshot", spark, root, "r").isInstanceOf[TableIO])
    assert(StageStore.forBackend("catalog", spark, root, "r").isInstanceOf[CatalogTableIO])
    intercept[IllegalArgumentException](StageStore.forBackend("iceberg-someday", spark, root, "r"))
  }

  test("catalog backend keeps superseded snapshots and swaps the pointer atomically") {
    val root = Files.createTempDirectory("pkel_cat_hist_").toString
    val io = new CatalogTableIO(spark, root, "r1")
    io.readOrCompute("s", "fpA")(Seq(1).toDF("x"))
    io.readOrCompute("s", "fpB")(Seq(1, 2).toDF("x"))
    // pointer resolves to the NEW snapshot…
    assert(io.readOrCompute("s", "fpB")(fail("must replay")).count() == 2)
    assert(!io.isCommitted("s", "fpA") || io.isCommitted("s", "fpB"))
    // …while the superseded snapshot's data remains on disk (history retained)
    assert(Files.exists(Paths.get(s"$root/s/snap-fpA")))
    assert(Files.exists(Paths.get(s"$root/s/snap-fpB")))
  }
}
