package graft.streaming

import graft.{Overlap, Pins}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Datalake materialization (SURVEY §2.7 D1/D4/D6): continuous
 * translation of topic logs into partitioned analytical tables with
 * snapshot metadata and expiry.
 *
 * Reference: the record multiplexer consumes batches and routes them to
 * per-output partitioning writers (`datalake/record_multiplexer.h:32`);
 * the default partition spec is hourly on the record timestamp
 * (`datalake/table_definition.cc:57-66`); commits append manifests and
 * snapshots through the catalog (`iceberg/merge_append_action.cc`,
 * `datalake/coordinator/`), and retention expires old snapshots.
 *
 * Spark design: each commit appends hour-partitioned parquet under
 * `data/snapshot_id=N/p_key=...` plus one row of snapshot metadata —
 * Spark's dynamic-partition writer IS the partitioning writer, so the
 * multiplexer reduces to a routed write per output table inside
 * `foreachBatch`. Readers see exactly the surviving-snapshot set
 * (semi-join against the snapshot table, pruned by partition directory),
 * and expiry = metadata delete + physical directory removal — the same
 * two-step the reference's expire_snapshots performs.
 */
object Datalake {

  /** Hourly partition value — the reference's default spec (iceberg
    * `hour(timestamp)` transform, table_definition.cc:57-66). */
  def hourPartition(ts: Column): Column = date_format(ts, "yyyy-MM-dd-HH")

  /** Daily partition value (iceberg `day(timestamp)`). Partition
    * granularity must match data volume: a partition should hold at
    * least a target-file-size of data, or the table devolves into
    * per-directory commit overhead and tiny files. Callers pick the
    * transform; hour is the reference default, day the low-volume choice. */
  def dayPartition(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  /** Month granularity — the coarse end of the same trade-off. */
  def monthPartition(ts: Column): Column = date_format(ts, "yyyy-MM")

  /**
   * D2 default record translation (`datalake/record_translator.h:28-66`):
   * the canonical log row becomes the reference's default Iceberg shape —
   * a `redpanda` system struct (partition, offset, timestamp, headers,
   * key; `table_definition.cc:20-45`) alongside the (possibly
   * schema-decoded) value.
   */
  def translateDefault(log: DataFrame): DataFrame =
    log.select(
      struct(col("partition"), col("offset"), col("timestamp"),
        col("headers"), col("key")).as("redpanda"),
      col("value"))

  private def metaRoot(outPath: String) = s"$outPath/snapshots"
  private def dataPath(outPath: String) = s"$outPath/data"

  /**
   * Crash-atomic snapshot metadata: the full snapshot set is written as a
   * fresh immutable version directory `snapshots/v=N` on every metadata
   * change, and readers use the HIGHEST version whose `_SUCCESS` marker
   * exists — Iceberg's versioned `v{N}.metadata.json` scheme
   * (`iceberg/manifest_io.cc`, catalog commit). A crash mid-write leaves a
   * partial dir without `_SUCCESS` that readers skip; a crash before
   * pruning leaves stale versions that are harmless. There is no window
   * in which the table has no valid metadata (the round-2 delete-then-
   * rename flaw).
   */
  private def latestMetaVersion(spark: SparkSession, outPath: String): Option[(Long, Path)] = {
    val root = new Path(metaRoot(outPath))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("v=") && fs.exists(new Path(st.getPath, "_SUCCESS")))
          Some(name.stripPrefix("v=").toLong -> st.getPath)
        else None
      }
      .sortBy(-_._1).headOption
  }

  /** Snapshot metadata table: (snapshot_id, committed_at_ms, n_rows). */
  def snapshots(spark: SparkSession, outPath: String): DataFrame =
    latestMetaVersion(spark, outPath) match {
      case Some((_, p)) => spark.read.parquet(p.toString)
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long, Long)].toDF("snapshot_id", "committed_at_ms", "n_rows")
    }

  /** Write `rows` as the next metadata version, then prune all but the
    * newest `KeepMetaVersions` versions (reader-safe in any crash order). */
  private val KeepMetaVersions = 3
  private def writeMetaVersion(spark: SparkSession, outPath: String,
      rows: Seq[(Long, Long, Long)]): Unit = {
    import spark.implicits._
    val next = latestMetaVersion(spark, outPath).map(_._1 + 1).getOrElse(1L)
    val dir = new Path(s"${metaRoot(outPath)}/v=$next")
    rows.toDF("snapshot_id", "committed_at_ms", "n_rows")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(metaRoot(outPath))).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(st => st.getPath.getName.stripPrefix("v=").toLong -> st.getPath)
      .sortBy(-_._1).drop(KeepMetaVersions)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  private def snapshotRows(spark: SparkSession, outPath: String): Seq[(Long, Long, Long)] =
    snapshots(spark, outPath).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /**
   * D1/D6 commit: append `df` hour-partitioned under a fresh snapshot id
   * and record the snapshot. Returns the snapshot id.
   *
   * Order is data-then-metadata: rows land under the new snapshot id
   * first and only become visible when the metadata version including the
   * id commits — a crash in between leaves invisible orphan files, never
   * a snapshot pointing at missing data. The row count comes from the
   * footers of the files this commit just wrote (bounded metadata read),
   * not from a separate full pass over `df` before the write.
   */
  def commit(df: DataFrame, tsCol: Column, outPath: String,
      partFn: Column => Column = hourPartition): Long = {
    val spark = df.sparkSession
    val existing = snapshotRows(spark, outPath)
    val snap = existing.map(_._1).maxOption.getOrElse(0L) + 1
    // A crash between the data write and the metadata commit leaves
    // orphan files under this (never-published) snapshot id; a retry
    // reuses the id, so clear any such orphans first — otherwise the
    // appended retry would publish duplicated rows.
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDir = new Path(s"${dataPath(outPath)}/snapshot_id=$snap")
    if (fs.exists(snapDir)) fs.delete(snapDir, true)
    // Cluster rows by target partition before the dynamic-partition
    // write: one task per partition directory instead of every task
    // touching every directory (tasks × dirs tiny files — the classic
    // small-files failure; the reference's partitioning_writer groups
    // rows per partition key for exactly this reason,
    // datalake/partitioning_writer.h).
    df.withColumn("p_key", partFn(tsCol))
      .withColumn("snapshot_id", lit(snap))
      .repartition(col("p_key"))
      .write.mode("append").partitionBy("snapshot_id", "p_key")
      .parquet(dataPath(outPath))
    // Empty input writes no partition directory at all — record n=0.
    val n = if (fs.exists(snapDir)) spark.read.parquet(snapDir.toString).count() else 0L
    writeMetaVersion(spark, outPath,
      existing :+ ((snap, System.currentTimeMillis(), n)))
    snap
  }

  /** Read the table as of the surviving snapshot set. The live ids are
    * bounded metadata (one row per kept snapshot), so they go in as a
    * literal IN predicate on the `snapshot_id` partition directory —
    * a planning-time PartitionFilter that never lists or reads expired
    * -but-not-yet-deleted snapshot directories, where a semi-join would
    * scan every directory's footers first (Iceberg's manifest-list
    * pruning plays this role in the reference, `manifest_io.cc`). */
  def readTable(spark: SparkSession, outPath: String): DataFrame = {
    val live = snapshotRows(spark, outPath).map(_._1)
    spark.read.parquet(dataPath(outPath))
      .where(col("snapshot_id").isin(live: _*))
  }

  /**
   * D6 snapshot expiry: keep the most recent `keepLast` snapshots;
   * delete the metadata rows and the expired data directories
   * (`expireSnapshots` + deleteWhere semantics).
   */
  def expireSnapshots(spark: SparkSession, outPath: String, keepLast: Int): Seq[Long] = {
    val all = snapshots(spark, outPath).orderBy(col("snapshot_id").desc).collect()
    val (keep, expire) = all.splitAt(keepLast)
    if (expire.nonEmpty) {
      val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      expire.foreach { r =>
        fs.delete(new Path(s"${dataPath(outPath)}/snapshot_id=${r.getLong(0)}"), true)
      }
      // Expiry commits a fresh immutable metadata version holding only
      // the surviving snapshots — same crash-atomic path as commit().
      val kept = keep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      writeMetaVersion(spark, outPath, kept)
    }
    expire.map(_.getLong(0)).toSeq
  }

  /**
   * D1 record multiplexer: route every row to its output table and
   * append each output hour-partitioned — the Spark shape of
   * `record_multiplexer.h:32` fan-out to partitioning writers. A null
   * route fails the call before anything is written. Returns (output,
   * rows) per output table, sorted by output.
   */
  def writeMultiplexed(
      batch: DataFrame,
      routeCol: Column,
      tsCol: Column,
      basePath: String,
      partFn: Column => Column = hourPartition): Seq[(String, Long)] =
    multiplex(batch, lit(null).cast("string"), routeCol, tsCol, basePath, partFn)

  /** Dead-letter table directory name under the multiplexer base path. */
  val DlqDir = "_dlq"

  /**
   * D1 invalid-record handling: the reference's multiplexer routes
   * records that fail value-type resolution (`bad_input`), record
   * translation (`translation_error`) or table compatibility
   * (`incompatible_schema`) through `handle_invalid_record`
   * (`datalake/record_multiplexer.cc:69-151,236` — which drops them with
   * a "TODO: dead-letter table?"); here the dead-letter table is real.
   *
   * Classification is one narrow pass of codegen'd expressions over the
   * registry wire envelope (magic byte + int32 schema id — the same
   * accessors as the produce-path validator, `registry/Ingest.scala`):
   *   - bad magic byte            → bad_input          (type_resolver::errc::bad_input)
   *   - schema id not registered  → translation_error  (record_translator::errc::translation_error)
   *   - id registered but not table-compatible → incompatible_schema
   *                                 (table_creator::errc::incompatible_schema)
   * Valid rows take the normal multiplexed write; invalid rows land in
   * `basePath/_dlq` with their intended output and an `error_code`
   * column, partitioned like every other output — accounted, not
   * dropped, and never poisoning the commit. Returns (output, rows)
   * per output table, then the `_dlq` entry when non-empty.
   */
  def writeMultiplexedWithDlq(
      batch: DataFrame,
      routeCol: Column,
      tsCol: Column,
      basePath: String,
      valueCol: Column,
      registered: Seq[Int],
      incompatible: Seq[Int],
      partFn: Column => Column = hourPartition): Seq[(String, Long)] = {
    import graft.registry.Ingest
    val schemaId = when(Ingest.magicOf(valueCol) === lit(Array[Byte](0)), Ingest.schemaIdOf(valueCol))
    val errorCode = when(schemaId.isNull, "bad_input")
      .when(!schemaId.isin(registered: _*), "translation_error")
      .when(schemaId.isin(incompatible: _*), "incompatible_schema")
    multiplex(batch, errorCode, routeCol, tsCol, basePath, partFn)
  }

  /**
   * Both multiplexers: rows with a null `errorCode` go to their route's
   * table, the others to [[DlqDir]]. Every write reads one pin of the
   * routed batch, so the upstream plan (a WASM transform, say) runs once,
   * not once per output. One `p_key` shuffle runs before the pin: each
   * hour then sits in one task, so every write makes one file per
   * partition directory (see commit()) with no shuffle of its own. Counts
   * are observed on the pin and on each write, never aggregated by a job
   * of their own: the outputs present and the DLQ size on the pin, each
   * table's rows on its write.
   */
  private def multiplex(batch: DataFrame, errorCode: Column, routeCol: Column,
      tsCol: Column, basePath: String, partFn: Column => Column): Seq[(String, Long)] = {
    val seen = Observation()
    val valid = col("error_code").isNull
    Pins.scoped { scope =>
      val routed = scope.pin(batch
        .withColumn("error_code", errorCode)
        .withColumn("_output", routeCol)
        .withColumn("p_key", partFn(tsCol))
        .observe(seen, collect_set(when(valid, col("_output"))).as("outputs"),
          count_if(!valid).as("dlq"), count_if(valid && col("_output").isNull).as("unrouted"))
        .repartition(col("p_key")))
      val m = seen.get
      require(m("unrouted") == 0L, s"${m("unrouted")} valid rows have a null route")
      val tables = m("outputs").asInstanceOf[scala.collection.Seq[String]].toSeq.sorted.map(o =>
        o -> routed.where(valid && col("_output") === o).drop("_output", "error_code"))
      val dlq = if (m("dlq") == 0L) Nil else Seq(DlqDir -> routed.where(!valid))
      Overlap.all((tables ++ dlq).map { case (o, rows) =>
        () => o -> appendCounted(rows, s"$basePath/$o")
      })
    }
  }

  /** Append `rows` partitioned by `p_key`; returns the rows written,
    * observed on the write itself. */
  private def appendCounted(rows: DataFrame, path: String): Long = {
    val n = Observation()
    rows.observe(n, count(lit(1)).as("n"))
      .write.mode("append").partitionBy("p_key").parquet(path)
    n.get("n").asInstanceOf[Long]
  }

  /**
   * The multiplexer as it actually runs — continuously: each
   * micro-batch takes one classified pass, appends its valid rows to
   * their output tables and its invalid rows to the dead-letter table
   * (`record_multiplexer.h:32` driven by the datalake sink loop).
   * AvailableNow + checkpoint give the usual restartable semantics.
   */
  def multiplexedDlqSink(stream: DataFrame, routeCol: Column, tsCol: Column,
      basePath: String, ckptDir: String, valueCol: Column,
      registered: Seq[Int], incompatible: Seq[Int],
      partFn: Column => Column = hourPartition)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .queryName(s"multiplex:$basePath")
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeMultiplexedWithDlq(batch, routeCol, tsCol, basePath,
          valueCol, registered, incompatible, partFn)
        ()
      }
      .start()
}
