package pkel.io

import org.apache.spark.sql.DataFrame

/** Sinks (S2/S3/S6, `utils.py:7-31` + residue checkpoints).
  *
  * `writeJsonl` mirrors the reference's line-delimited JSON sink (no
  * forward-slash escaping — Spark's JSON writer doesn't escape `/` either);
  * residue/error sinks are ordinary overwrite snapshots; the append-mode
  * metrics sink lives in [[StageStore]]: one lineage row per part file a
  * stage commit wrote (per write task), read from the parquet footers.
  */
object Sinks {

  /** JSONL sink: one JSON object per line, distributed write. */
  def writeJsonl(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** Residue sink between cascade tiers (S6): snapshot the unlinked rows so
    * the next tier (or a resumed run) consumes them from disk. */
  def writeResidue(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
