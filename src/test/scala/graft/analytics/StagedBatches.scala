package graft.analytics

import org.apache.spark.sql.DataFrame

/** Ordered micro-batches from a file stream, for the streaming specs. */
object StagedBatches {
  /** Stages `batches` as parquet files with increasing mtimes and returns
    * a factory of streams that deliver batch `i` as micro-batch `i`; a
    * restarted query takes a fresh stream over the same files. */
  def stage(batches: Seq[DataFrame]): () => DataFrame = {
    val input = graft.streaming.Transforms.PathInput(
      graft.entries.AnalyticsEntries.stageOrderedBatches("graft_spec", batches),
      batches.head.schema, maxFilesPerTrigger = Some(1))
    () => input.stream(batches.head.sparkSession)
  }
}
