package pkel.io

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.pkelbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Stage-checkpointed table IO with per-write-task lineage metrics.
  *
  * The north rule asks for Iceberg tables with per-stage checkpoints and an
  * idempotent resume. No Iceberg runtime jar ships in this offline image
  * (SURVEY.md §7.1), so the contract is a trait (`StageStore`) with two
  * interchangeable offline realizations, proving the backend swap is a
  * config decision, not a code change:
  *
  *  - [[TableIO]] — snapshot-marker Parquet: stage dir + `_COMMIT` marker
  *    file; the marker write is the atomic commit point.
  *  - [[CatalogTableIO]] — catalog-pointer Parquet (Iceberg-shaped):
  *    immutable per-fingerprint snapshot directories plus a per-stage
  *    catalog pointer file whose overwrite is the atomic commit point —
  *    the same metadata-pointer-swap shape `iceberg-spark-runtime` uses,
  *    with old snapshots retained on disk.
  *
  * Both run through the Hadoop `FileSystem` resolved from the data path
  * itself — on a cluster the marker/pointer lands on the same HDFS/S3/file
  * scheme as the parquet it guards (driver-local `java.nio` would silently
  * write markers to the driver's disk instead).
  *
  * A commit's only Spark job is its write (plus an [[StageStore.Audit]]'s
  * aggregate when it has one), and a frame that is a bare local relation
  * needs no job at all: the driver already holds its rows and writes them
  * as one part file with Spark's own parquet writer. The row count, the
  * lineage rows and the returned frame's schema come from the parquet
  * footers the write produced ([[SnapshotFooters]]), read on the driver,
  * and the lineage rows go to `_metrics` as one parquet file the driver
  * writes itself. A replay reads the footer schema the same way and runs
  * no job.
  */
trait StageStore {
  protected def spark: SparkSession
  def root: String
  def runId: String

  /** True iff `stage` has a committed snapshot for `fingerprint`. */
  def isCommitted(stage: String, fingerprint: String): Boolean

  /** Location of the committed snapshot for `stage` (impl-specific). */
  protected def committedLocation(stage: String): String

  /** Write `df` as the committed output of `stage` (overwrites any partial
    * previous attempt), record one lineage row per written part file, and
    * return a scan of the snapshot. An optional [[StageStore.Audit]] runs
    * one aggregate over the snapshot and can veto the commit. */
  def commit(stage: String, df: DataFrame, fingerprint: String,
      audit: Option[StageStore.Audit] = None): DataFrame

  /** Idempotent stage execution: replay from the committed snapshot when the
    * fingerprint matches, else compute + commit. Audits run at commit time
    * only — a committed snapshot has already passed its audit. A replay
    * takes its schema from the snapshot's footers and runs no Spark job. */
  final def readOrCompute(stage: String, fingerprint: String,
      audit: Option[StageStore.Audit] = None)(compute: => DataFrame): DataFrame =
    if (isCommitted(stage, fingerprint)) {
      val dir = committedLocation(stage)
      scan(dir, SnapshotFooters.read(spark, dir))
    } else commit(stage, compute, fingerprint, audit)

  private def scan(dir: String, footers: SnapshotFooters): DataFrame =
    spark.read.schema(footers.schema).parquet(dir)

  /** The commit body both backends share, up to their commit point: write
    * `df` to `dir` (a bare local relation on the driver as one
    * `part-00000-*` file, after deleting any partial attempt; any other
    * frame with a Spark write in overwrite mode), read its footers, run the
    * audit (whose `check` throws before the caller's marker/pointer write,
    * so a vetoed stage stays uncommitted and the next run recomputes it),
    * append the lineage rows.
    * Returns the snapshot scan, its row count and the commit's `wall_ms`,
    * which covers the write, the footer read and the audit. */
  protected final def writeSnapshot(stage: String, dir: String, df: DataFrame,
      audit: Option[StageStore.Audit]): (DataFrame, Long, Long) = {
    val t0 = System.nanoTime()
    Bridge.localRows(df) match {
      case Some((schema, rows)) =>
        val p = new Path(dir)
        fs(p).delete(p, true) // what mode("overwrite") does to a partial attempt
        Bridge.writeParquet(spark, schema, rows, dir)
      case None => df.write.mode("overwrite").parquet(dir)
    }
    val footers = SnapshotFooters.read(spark, dir)
    val out = scan(dir, footers)
    audit.foreach { a =>
      a.check(if (a.aggs.isEmpty) Row(footers.rows)
        else out.agg(count(lit(1)).as("rows_total"), a.aggs: _*).head())
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    appendMetrics(footers.parts.map { case (partition, rows) =>
      (partition, rows, stage, footers.rows, wallMs)
    })
    (out, footers.rows, wallMs)
  }

  protected def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected def readSmallFile(p: Path): Option[String] = {
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  protected def writeSmallFile(p: Path, content: String): Unit = {
    val os = fs(p).create(p, true) // overwrite: this write is the atomic point
    try os.write(content.getBytes(StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Append named counter rows to the metrics table (silent-cap visibility:
    * e.g. LSH dropped-bucket counts). Counters share the lineage rows'
    * schema — `stage` = "<stage>.<counter>", `rows_out` = value,
    * `partition_id` = −1 marks a run-level counter — so one parquet schema
    * serves both row kinds and `metrics()` reads them together. Written on
    * the driver like every metrics append: no Spark job. */
  final def appendCounters(stage: String, counters: Seq[(String, Long)]): Unit =
    if (counters.nonEmpty)
      appendMetrics(counters.map { case (name, value) => (-1, value, s"$stage.$name", value, 0L) })

  /** Write `(partition_id, rows_out, stage, total_rows, wall_ms)` rows to
    * the metrics table as one parquet file, on the driver: no DataFrame,
    * Spark job or output committer. `committed_at` is the driver clock. The
    * file is written under a hidden `.part-<uuid>.parquet.tmp` name, which
    * Spark's and DuckDB's readers skip, and renamed into place, so a reader
    * never sees a partial file and concurrent appends never collide. */
  private def appendMetrics(rows: Seq[(Int, Long, String, Long, Long)]): Unit = {
    val dir = new Path(s"$root/_metrics")
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val conf = spark.sparkContext.hadoopConfiguration
    val committedAt = ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now())
    val groups = new SimpleGroupFactory(StageStore.MetricsParquetType)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(StageStore.MetricsParquetType).build()
    try rows.foreach { case (partition, rowsOut, stage, totalRows, wallMs) =>
      w.write(groups.newGroup().append("partition_id", partition).append("rows_out", rowsOut)
        .append("run_id", runId).append("stage", stage).append("total_rows", totalRows)
        .append("wall_ms", wallMs).append("committed_at", committedAt))
    } finally w.close()
    if (!fs(dir).rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"metrics append: rename of $tmp to $name failed")
  }

  def metrics(): DataFrame = spark.read.schema(StageStore.MetricsSchema).parquet(s"$root/_metrics")
}

object StageStore {
  /** The metrics table: one lineage row per part file a stage commit wrote
    * (`partition_id` = the id of the write task that produced it, `rows_out`
    * = its rows, `total_rows` = the stage's rows), plus counter rows with
    * `partition_id` = −1. */
  private[io] val MetricsSchema: StructType = StructType.fromDDL(
    "partition_id INT, rows_out BIGINT, run_id STRING, stage STRING, " +
      "total_rows BIGINT, wall_ms BIGINT, committed_at TIMESTAMP")

  /** [[MetricsSchema]] as the parquet type the driver-side append writes;
    * `committed_at` is UTC microseconds, which Spark reads as TIMESTAMP just
    * like the INT96 stamps of metrics files Spark wrote. */
  private val MetricsParquetType: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 partition_id;
      |  required int64 rows_out;
      |  required binary run_id (STRING);
      |  required binary stage (STRING);
      |  required int64 total_rows;
      |  required int64 wall_ms;
      |  required int64 committed_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Commit-time audit: `aggs` run in one aggregate over the committed
    * snapshot, after `count(lit(1))`; `check` receives the aggregate row
    * with `rows_total` at index 0 followed by `aggs` in order and throws to
    * veto the commit. With no `aggs` no job runs: the row holds only
    * `rows_total`, the snapshot's footer row count. This is how the
    * pipeline's mention-id collision audit keeps a bad mention table from
    * ever being resumable, and how its `keyed` and `linked` row-count
    * audits run free. */
  final case class Audit(aggs: Seq[org.apache.spark.sql.Column], check: Row => Unit)

  /** Config-selected backend — the "Iceberg swap is config-only" seam. */
  def forBackend(backend: String, spark: SparkSession, root: String, runId: String): StageStore =
    backend match {
      case "snapshot" => new TableIO(spark, root, runId)
      case "catalog" => new CatalogTableIO(spark, root, runId)
      case other => throw new IllegalArgumentException(
        s"unknown StageStore backend '$other' (snapshot | catalog)")
    }
}

/** Snapshot-marker backend: a stage directory is committed once its
  * `_COMMIT` marker (fingerprint + row count) exists. */
final class TableIO(protected val spark: SparkSession, val root: String,
    val runId: String) extends StageStore {

  private def stageDir(stage: String) = s"$root/$stage"
  private def markerPath(stage: String) = new Path(s"$root/$stage/_COMMIT")

  override protected def committedLocation(stage: String): String = stageDir(stage)

  def isCommitted(stage: String, fingerprint: String): Boolean =
    readSmallFile(markerPath(stage))
      .exists(_.linesIterator.exists(_ == s"fingerprint=$fingerprint"))

  def commit(stage: String, df: DataFrame, fingerprint: String,
      audit: Option[StageStore.Audit] = None): DataFrame = {
    val (out, rows, wallMs) = writeSnapshot(stage, stageDir(stage), df, audit)
    writeSmallFile(markerPath(stage),
      s"fingerprint=$fingerprint\nrows=$rows\nrun_id=$runId\nwall_ms=$wallMs\n")
    out
  }
}

/** Catalog-pointer backend (Iceberg-shaped): each commit writes an IMMUTABLE
  * snapshot directory `stage/snap-<fingerprint>/` and then atomically
  * overwrites the per-stage pointer file `_catalog/<stage>.json` to name it.
  * Readers resolve through the pointer only, so a partial snapshot write is
  * invisible until the pointer swap — and superseded snapshots stay on disk
  * (time-travel-shaped history, like Iceberg's metadata lineage). */
final class CatalogTableIO(protected val spark: SparkSession, val root: String,
    val runId: String) extends StageStore {

  private def snapDir(stage: String, fingerprint: String) =
    s"$root/$stage/snap-$fingerprint"
  private def pointerPath(stage: String) = new Path(s"$root/_catalog/$stage.json")

  /** Minimal flat JSON (string values only) — no parser dependency. */
  private def toJson(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")

  private def fromJson(s: String): Map[String, String] =
    "\"([^\"]+)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).replace("\\\"", "\"").replace("\\\\", "\\"))
      .toMap

  private def pointer(stage: String): Option[Map[String, String]] =
    readSmallFile(pointerPath(stage)).map(fromJson)

  override protected def committedLocation(stage: String): String =
    pointer(stage).flatMap(_.get("location")).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for stage '$stage'"))

  def isCommitted(stage: String, fingerprint: String): Boolean =
    pointer(stage).exists { p =>
      p.get("fingerprint").contains(fingerprint) &&
        p.get("location").exists(loc => fs(new Path(loc)).exists(new Path(loc)))
    }

  def commit(stage: String, df: DataFrame, fingerprint: String,
      audit: Option[StageStore.Audit] = None): DataFrame = {
    val dir = snapDir(stage, fingerprint)
    val (out, rows, wallMs) = writeSnapshot(stage, dir, df, audit)
    writeSmallFile(pointerPath(stage), toJson(Seq(
      "stage" -> stage, "fingerprint" -> fingerprint, "location" -> dir,
      "rows" -> rows.toString, "run_id" -> runId, "wall_ms" -> wallMs.toString)))
    out
  }
}
