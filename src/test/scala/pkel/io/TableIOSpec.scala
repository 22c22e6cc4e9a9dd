package pkel.io

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

import pkel.SparkSpec

/** One contract, two backends: the snapshot-marker store and the
  * Iceberg-shaped catalog-pointer store must satisfy the identical
  * StageStore behavior (partial-write recovery, committed replay,
  * fingerprint invalidation, footer-backed lineage metrics and schema, job
  * counts, driver-side commits of local relations and metrics appends) —
  * proving the backend swap is config-only. */
class TableIOSpec extends SparkSpec {

  import spark.implicits._

  /** `recordedRows(root, stage)` reads `rows` from the backend's commit
    * record: the `_COMMIT` marker or the catalog pointer. */
  private def contract(name: String, mk: String => StageStore,
      recordedRows: (String, String) => Long): Unit = {
    test(s"$name: partial output recomputed, committed replayed, fingerprint invalidates") {
      val root = tempDir(s"pkel_${name}_")
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
      val root = tempDir(s"pkel_${name}_footers_")
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

    test(s"$name: footer row counts ignore a record filter on the session's Hadoop conf") {
      val root = tempDir(s"pkel_${name}_filter_")
      val io = mk(root)
      val conf = spark.sparkContext.hadoopConfiguration
      val keys = Seq(ParquetInputFormat.FILTER_PREDICATE, s"${ParquetInputFormat.FILTER_PREDICATE}.human.readable")
      val saved = keys.map(k => k -> Option(conf.get(k)))
      // no row matches, so the row-group statistics filter drops every row group
      ParquetInputFormat.setFilterPredicate(conf, FilterApi.eq(FilterApi.longColumn("id"), java.lang.Long.valueOf(-1L)))
      try {
        val out = io.commit("s", Seq(1L, 2L, 3L, 4L).toDF("id").repartition(2), "fp")
        val replayed = io.readOrCompute("s", "fp")(fail("must replay"))
        assert(SnapshotFooters.rows(out) == 4L && SnapshotFooters.rows(replayed) == 4L)
        assert(recordedRows(root, "s") == 4L, "commit record rows")
      } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
      val lineage = io.metrics().filter(col("stage") === "s" && col("partition_id") >= 0)
        .select("rows_out").as[Long].collect()
      assert(lineage.sum == 4L, s"lineage rows ${lineage.toSeq}")
    }

    test(s"$name: a commit runs its write and one metrics append, a replay no job") {
      val root = tempDir(s"pkel_${name}_jobs_")
      val io = mk(root)
      val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k").groupBy("k").count()
      val write = jobsDuring(df.write.parquet(s"$root/bare"))
      val commit = jobsDuring(io.commit("s", df, "fp"))
      val replay = jobsDuring(io.readOrCompute("s", "fp")(fail("must replay")))
      info(s"jobs: write=$write commit=$commit replay=$replay")
      assert(commit == write, s"commit ran $commit jobs, the bare write $write")
      assert(replay == 0, s"replay ran $replay jobs")
    }

    test(s"$name: a local relation commits on the driver") {
      val root = tempDir(s"pkel_${name}_local_")
      val io = mk(root)
      val schema = StructType.fromDDL("id BIGINT NOT NULL, tokens ARRAY<STRING>, note STRING")
      def local(rows: Row*) = spark.createDataFrame(rows.asJava, schema)
      val df = local(Row(1L, Seq("a", "b"), "x"), Row(2L, Seq.empty[String], null), Row(3L, Seq("c"), "y"))
      // the same rows through a Spark write: its footers' key-value metadata
      // (row schema, writer version) and column codecs
      def footer(dir: String) = {
        val f = Files.list(Paths.get(dir)).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
        try (r.getFileMetaData.getKeyValueMetaData.asScala.toMap,
          r.getRowGroups.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
        finally r.close()
      }
      df.repartition(1).write.parquet(s"$root/spark")
      val sparkFooter = footer(s"$root/spark")
      for ((stage, frame, want) <- Seq(("rows", df, 3L), ("empty", local(), 0L))) {
        // a killed attempt left garbage where either backend writes
        for (dir <- Seq(s"$root/$stage", s"$root/$stage/snap-fp")) {
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(s"$dir/part-00007-garbage-c000.snappy.parquet"), "not parquet")
        }
        var out: DataFrame = null
        val jobs = jobsDuring { out = io.commit(stage, frame, "fp") }
        assert(jobs == 0, s"$stage: the commit ran $jobs jobs")
        val dir = Paths.get(new java.net.URI(out.inputFiles.head)).getParent.toString
        val parts = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq
        assert(parts.size == 1 && parts.head.matches("""part-00000-[0-9a-f-]{36}-c000\.snappy\.parquet"""),
          s"$stage: $parts")
        val footers = SnapshotFooters.read(spark, dir)
        assert(footers.parts == Seq(0 -> want), s"$stage: ${footers.parts}")
        // the footers keep the frame's NOT NULL flags as a Spark write's do;
        // the scan the commit returns reads them nullable, as a plain read does
        assert(footers.schema == schema && out.schema == spark.read.parquet(dir).schema &&
          out.schema == StructType(schema.map(_.copy(nullable = true))),
          s"$stage: footer ${footers.schema}, scan ${out.schema}")
        val (meta, codecs) = footer(dir)
        assert(meta == sparkFooter._1, s"$stage: footer metadata $meta, Spark write ${sparkFooter._1}")
        assert(want == 0 || codecs == sparkFooter._2, s"$stage: codecs $codecs, Spark write ${sparkFooter._2}")
        assert(out.exceptAll(frame).isEmpty && frame.exceptAll(out).isEmpty, s"$stage: rows differ")
        assert(recordedRows(root, stage) == want, s"$stage: commit record rows")
        val lineage = io.metrics().filter(col("stage") === stage && col("partition_id") >= 0)
          .select("partition_id", "rows_out").as[(Int, Long)].collect().toSeq
        assert(lineage == Seq(0 -> want), s"$stage: lineage $lineage")
      }
    }

    test(s"$name: driver-side metrics appends join Spark-written ones, leave no temp file, lose no concurrent append") {
      val root = tempDir(s"pkel_${name}_metrics_")
      val io = mk(root)
      // (a) a metrics file as Spark appended it: a write job, INT96 stamps
      val legacyAt = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")
      Seq((7, 3L, "old", "legacy", 3L, 11L)).toDF("partition_id", "rows_out", "run_id", "stage", "total_rows", "wall_ms")
        .withColumn("committed_at", lit(legacyAt))
        .write.mode("append").parquet(s"$root/_metrics")
      val legacyFile = Files.list(Paths.get(s"$root/_metrics")).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(legacyFile.toUri), spark.sparkContext.hadoopConfiguration))
      try assert(footer.getFileMetaData.getSchema.getColumnDescription(Array("committed_at"))
        .getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT96)
      finally footer.close()

      val t0 = Instant.now().truncatedTo(ChronoUnit.MICROS)
      io.commit("s", Seq(1, 2, 3).toDF("x"), "fp")
      io.appendCounters("s", Seq("c" -> 5L))
      // (c) concurrent appends against one root
      val pool = Executors.newFixedThreadPool(4)
      try (0 until 40).map { i =>
        pool.submit(new Runnable { def run(): Unit = io.appendCounters("t", Seq(s"c$i" -> i.toLong)) })
      }.foreach(_.get())
      finally pool.shutdown()
      val t1 = Instant.now()

      val m = io.metrics()
      assert(m.schema.map(_.dataType) == StageStore.MetricsSchema.map(_.dataType), m.schema)
      val rows = m.collect()
      def stamp(r: org.apache.spark.sql.Row) = r.getTimestamp(6).toInstant
      def values(r: org.apache.spark.sql.Row) =
        (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4), r.getLong(5))
      val legacy = rows.filter(_.getString(3) == "legacy")
      assert(legacy.map(values).toSeq == Seq((7, 3L, "old", "legacy", 3L, 11L)) &&
        stamp(legacy.head) == legacyAt.toInstant)
      val driverRows = rows.filter(_.getString(3) != "legacy")
      assert(driverRows.forall(r => !stamp(r).isBefore(t0) && !stamp(r).isAfter(t1) &&
        r.getString(2) == "r1"), driverRows.toSeq)
      val lineage = driverRows.filter(_.getString(3) == "s")
      assert(lineage.nonEmpty && lineage.map(_.getLong(1)).sum == 3L && lineage.forall(_.getLong(4) == 3L))
      assert(driverRows.filter(_.getString(3) == "s.c").map(values).toSeq == Seq((-1, 5L, "r1", "s.c", 5L, 0L)))
      assert(driverRows.filter(_.getString(3).startsWith("t.")).map(values).sortBy(_._2).toSeq ==
        (0 until 40).map(i => (-1, i.toLong, "r1", s"t.c$i", i.toLong, 0L)))
      // (b) every append renamed its temp file into place
      val left = Files.walk(Paths.get(s"$root/_metrics")).iterator().asScala
        .map(_.getFileName.toString).filter(_.contains(".tmp")).toSeq
      assert(left.isEmpty, s"temp files left: $left")
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
    val root = tempDir("pkel_factory_")
    assert(StageStore.forBackend("snapshot", spark, root, "r").isInstanceOf[TableIO])
    assert(StageStore.forBackend("catalog", spark, root, "r").isInstanceOf[CatalogTableIO])
    intercept[IllegalArgumentException](StageStore.forBackend("iceberg-someday", spark, root, "r"))
  }

  test("catalog backend keeps superseded snapshots and swaps the pointer atomically") {
    val root = tempDir("pkel_cat_hist_")
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
