package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

/**
 * Eager multi-consumer materialization ("pin") for intermediates that
 * feed several downstream actions or non-reusable exchange shapes.
 *
 * Local mode (the bench/verify session shape) uses eager
 * `localCheckpoint(true)`: a plain `cache()` is lazily filled, and under
 * AQE the consumers' racing query stages each recompute the full
 * upstream DAG before the InMemoryRelation is populated; the
 * checkpoint's severed lineage is irrelevant in-process, where losing an
 * executor is losing the job anyway.
 *
 * Cluster mode keeps the lineage: persist + an eager `count()` (which
 * fully materializes the InMemoryRelation, closing the same AQE race)
 * so an executor loss or dynamic-allocation decommission recomputes the
 * blocks instead of failing every downstream action — Spark's documented
 * `localCheckpoint` caveat.
 *
 * [[Pins.scoped]] releases persisted blocks deterministically once every
 * consuming action has run — on the cluster (persist) path a
 * long-running stream must not wait on the ContextCleaner to free each
 * micro-batch's pin. On the local (checkpoint) path `unpersist()` is a
 * benign no-op (the blocks belong to the checkpointed RDD and are freed
 * when it is GC'd).
 */
object Pins {
  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned(): DataFrame =
      if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint(true)
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
  }

  /** The pins one [[scoped]] body holds. */
  final class Scope private[Pins] {
    private[Pins] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Pins `df` and registers the pin for release when the scope ends. */
    def pin(df: DataFrame): DataFrame = {
      val p = df.pinned()
      held.synchronized(held += p)
      p
    }
  }

  /**
   * Runs `body` with a [[Scope]] and unpins every pin it registered
   * exactly once, after `body` returns or throws — a pin taken before a
   * later step fails is still released. The contract on `body`: every
   * consumer of a scoped pin has finished when it returns, so any
   * concurrent legs reading a pin run through [[Overlap]], which joins
   * them all before returning or rethrowing.
   */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope)
    finally scope.held.synchronized(scope.held.toSeq).foreach(df =>
      try df.unpersist() catch { case scala.util.control.NonFatal(_) => () })
  }

  /**
   * Drives `step` over every micro-batch of `batches` available now and
   * waits for the query to finish: `checkpointLocation` = `ckptDir`,
   * `Trigger.AvailableNow`, and each `foreachBatch` call inside its own
   * [[scoped]] pin scope, so a micro-batch's pins are freed even on a
   * failed trigger (a long-running stream must not wait on the
   * ContextCleaner on the cluster path). `step` gets the scope, the
   * micro-batch and its batch id.
   */
  def eachBatch(batches: DataFrame, ckptDir: String)(
      step: (Scope, DataFrame, Long) => Unit): StreamingQuery = {
    val q = batches.writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        scoped(step(_, batch, batchId)))
      .start()
    q.awaitTermination()
    q
  }
}
