package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import pkel.io.{StageStore, TableIO}

/** A `StageStore` that forwards to the snapshot backend and marks layer
  * boundaries in `trace`. `TableIO` is final, so this wraps it.
  *
  * A computed stage's layer ends when its commit returns. A replayed stage
  * is read by `readOrCompute` right after `committedLocation`, so its layer
  * (and the nested `io.store` span) ends when the next stage starts, or at
  * `finish`. Work `Pipeline.run` does between stages (counters, the closing
  * counts) therefore lands in the following layer.
  */
final class TracingStore(protected val spark: SparkSession, inner: TableIO, trace: LayerTrace)
    extends StageStore {

  def root: String = inner.root
  def runId: String = inner.runId

  private var replaying: Option[String] = None
  private val computedStages = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Stages this store committed, in order; the rest were replayed. */
  def computed: Seq[String] = computedStages.toSeq

  private def endReplay(): Unit = replaying.foreach { stage =>
    trace.close(LayerTrace.Store)
    trace.mark(LayerTrace.StageLayer(stage))
    replaying = None
  }

  def isCommitted(stage: String, fingerprint: String): Boolean = {
    endReplay()
    inner.isCommitted(stage, fingerprint)
  }

  // same layout as TableIO's stage directory
  override protected def committedLocation(stage: String): String = {
    trace.open(LayerTrace.Store, stage)
    replaying = Some(stage)
    s"$root/$stage"
  }

  def commit(stage: String, df: DataFrame, fingerprint: String,
      audit: Option[StageStore.Audit] = None): DataFrame = {
    endReplay()
    val out = trace.timed(LayerTrace.Store, stage)(inner.commit(stage, df, fingerprint, audit))
    computedStages += stage
    trace.mark(LayerTrace.StageLayer(stage))
    out
  }

  /** Close a pending replay; call when `Pipeline.run` returns. */
  def finish(): Unit = endReplay()
}
