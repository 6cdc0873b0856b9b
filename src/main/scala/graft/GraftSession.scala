package graft

import org.apache.spark.sql.SparkSession

/** The local session the Verify, Bench and ScaleFixture mains run in. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted
      // to micros in SparkEntry.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Local-path checkpoint I/O without Hadoop's per-op subprocess forks
      // (readlink/chmod/ls via Shell) — the NIO manager delegates back to
      // the default for any non-file: scheme, so nothing changes on a
      // real cluster. See NioCheckpointFileManager scaladoc.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      // The checksum wrapper doubles checkpoint file ops to guard object-
      // store corruption; a local POSIX fs gives those guarantees itself.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Local data-plane writes without the per-file chmod fork (and the
      // .crc sibling files) of Hadoop's default checksummed local FS —
      // see ForklessLocalFileSystem scaladoc. Only registered in local
      // session builders; cluster schemes (hdfs/s3) are untouched.
      .config("spark.hadoop.fs.file.impl",
        "graft.streaming.ForklessLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def cpusFromEnv(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
