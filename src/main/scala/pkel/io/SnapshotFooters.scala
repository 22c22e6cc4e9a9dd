package pkel.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelationWithTable}
import org.apache.spark.sql.types.{DataType, StructType}

/** A parquet snapshot as its footers describe it: the Spark schema the
  * writer recorded, and `(partition id, rows)` per part file, where the
  * partition id is the `NNNNN` of `part-NNNNN-…`, the id of the write task
  * that produced the file.
  *
  * Read on the driver, one footer per file, so it costs no Spark job: this
  * is what lets a stage commit, a replay and the pipeline's closing counts
  * skip the schema-inference, `count(*)` and group-by jobs a re-read of the
  * snapshot would run. */
final case class SnapshotFooters(schema: StructType, parts: Seq[(Int, Long)]) {
  def rows: Long = parts.map(_._2).sum
}

object SnapshotFooters {
  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  private val PartFile = """part-(\d+)-.*\.parquet""".r

  /** The footers of every `part-*.parquet` file in the snapshot dir `dir`. */
  def read(spark: SparkSession, dir: String): SnapshotFooters = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val files = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .filter(f => PartFile.matches(f.getName)).sortBy(_.getName).toSeq
    of(conf, files, dir)
  }

  /** Row count of `df`, which must be a bare scan of a parquet snapshot
    * (as `StageStore.readOrCompute` returns it), from its files' footers. */
  def rows(df: DataFrame): Long = {
    val location = df.queryExecution.analyzed match {
      case LogicalRelationWithTable(fs: HadoopFsRelation, _) => fs.location
      case p => throw new IllegalArgumentException(
        s"footer row counts need a bare snapshot scan, got:\n${p.treeString}")
    }
    of(df.sparkSession.sparkContext.hadoopConfiguration,
      location.inputFiles.map(f => new Path(new java.net.URI(f))).toSeq,
      location.rootPaths.mkString(", ")).rows
  }

  private def of(conf: Configuration, files: Seq[Path], what: String): SnapshotFooters = {
    require(files.nonEmpty, s"no part-*.parquet files in snapshot $what")
    val footers = files.map { f =>
      val id = f.getName match {
        case PartFile(n) => n.toInt
        case _ => throw new IllegalArgumentException(s"$f is not a part-NNNNN-*.parquet file")
      }
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try (r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey), id, r.getRecordCount)
      finally r.close()
    }
    val schemaJson = footers.head._1
    require(schemaJson != null, s"${files.head} has no $SparkSchemaKey footer entry")
    SnapshotFooters(DataType.fromJson(schemaJson).asInstanceOf[StructType],
      footers.map { case (_, id, n) => (id, n) })
  }
}
