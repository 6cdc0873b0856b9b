package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Synthesize a larger scale-factor fixture from an existing one by
 * key-shifted replication — the local stand-in for the driver's
 * generator, used by the scale-probe bench (`BENCH_scale.json`): run
 * the most expensive non-streaming entries at 1× and N× and check the
 * wall-clock ratio stays near the data ratio (a super-linear entry has
 * a plan problem).
 *
 * Copies shift every primary key into a fresh range; document text is
 * perturbed with a copy marker so the N× corpus is near-dup-heavy
 * (realistic for dedup pipelines) rather than degenerate exact 10×
 * duplication.
 *
 * Usage: runMain graft.ScaleFixture <srcDir> <dstDir> <factor>
 */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = GraftSession.local(GraftSession.cpusFromEnv(32))

    def replicate(name: String, shift: DataFrame => (Int => DataFrame)): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val mk = shift(df)
      (0 until factor).map(mk).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name x$factor written")
    }

    replicate("events", df => {
      val maxE = df.agg(max("event_id")).head.getLong(0) + 1
      val maxU = df.agg(max("user_id")).head.getLong(0) + 1
      i => df.withColumn("event_id", col("event_id") + lit(i * maxE))
             .withColumn("user_id", col("user_id") + lit(i * maxU))
    })
    replicate("documents", df => {
      val maxD = df.agg(max("doc_id")).head.getLong(0) + 1
      i =>
        if (i == 0) df
        else df.withColumn("doc_id", col("doc_id") + lit(i * maxD))
          .withColumn("text", concat(col("text"), lit(s" (copy $i)")))
          .withColumn("n_chars", col("n_chars") + lit(s" (copy $i)".length.toLong))
    })
    replicate("embeddings", df => {
      val maxV = df.agg(max("vec_id")).head.getLong(0) + 1
      i => df.withColumn("vec_id", col("vec_id") + lit(i * maxV))
    })
    spark.stop()
  }
}
