package pkel.io

import org.apache.spark.sql.DataFrame

/** Sinks (S2/S3, `utils.py:7-31`).
  *
  * `writeJsonl` mirrors the reference's line-delimited JSON sink (no
  * forward-slash escaping — Spark's JSON writer doesn't escape `/` either);
  * stage snapshots and the append-mode metrics sink live in [[StageStore]]:
  * one lineage row per part file a stage commit wrote (per write task), read
  * from the parquet footers.
  */
object Sinks {

  /** JSONL sink: one JSON object per line, distributed write. */
  def writeJsonl(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)
}
