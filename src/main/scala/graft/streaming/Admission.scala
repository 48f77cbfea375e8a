package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.AppendCommit

/** [EXT] Streaming corpus ADMISSION — the gate a continuously-ingested
  * training corpus actually runs: exact duplicates drop in the engine's
  * watermarked dedup state, surviving docs probe the persisted MinHash
  * index for near-duplicates of everything already admitted, and the
  * survivors are committed to the output corpus AND appended into the
  * index so the NEXT batch dedups against them. One `foreachBatch`
  * stage; every store mutation is exactly-once under the engine's
  * at-least-once redelivery.
  *
  * Crash/redelivery convergence (the part that is easy to get wrong):
  * the admitted set is derived from the INDEX state, so a redelivered
  * batch must NOT recompute it — the index may already contain the
  * batch (crash after the index append), and the recomputed probe would
  * self-match and admit nothing, silently shrinking the corpus. The
  * admitted set is therefore PINNED by its corpus commit: on
  * redelivery, the sink reads back exactly the files its earlier
  * attempt placed ([[AppendCommit.filesOfBatch]]) and replays the index
  * append from that pinned content, whose content-derived id no-ops if
  * it already landed. Order of commits: corpus first (pins), index
  * second (replay-idempotent).
  *
  * Scale shape: per micro-batch cost is O(batch + bucket collisions) —
  * the probe touches the corpus only through the index
  * ([[graft.operators.Dedup.incrementalNearDups]]); nothing re-shingles
  * admitted history. The watermarked exact-dedup state holds one
  * 8-byte hash per doc inside the watermark, evicted by event time. */
object Admission {

  /** Watermarked streaming pipeline: exact dedup within the watermark
    * (state keyed by the text hash — constant bytes per doc), then the
    * per-batch near-dup admission sink. `stream` needs (ts, doc_id,
    * text); start the returned writer with a checkpoint location. */
  def admit(stream: DataFrame, indexDir: String, admittedDir: String,
      watermarkDelay: String = "30 minutes", minEst: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream
      .withWatermark("ts", watermarkDelay)
      .withColumn("__h", xxhash64(col("text")))
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
      .writeStream
      .foreachBatch(admissionSink(indexDir, admittedDir, minEst))

  /** The per-batch admission stage (usable standalone in tests or in a
    * hand-rolled foreachBatch): within-batch exact dedup (keep-first by
    * doc_id — a safety net when the watermarked stage is not upstream),
    * index probe, pinned corpus commit, index append. */
  def admissionSink(indexDir: String, admittedDir: String,
      minEst: Double = 0.5): (DataFrame, Long) => Unit = { (batch0, id) =>
    val spark = batch0.sparkSession
    val sid = s"stream$id"
    if (!batch0.isEmpty || AppendCommit.isApplied(admittedDir, sid)) {
      if (!AppendCommit.isApplied(admittedDir, sid)) {
        val batch = batch0.toDF()
        // within-batch exact dedup, keep-first by doc_id (deterministic)
        val exact = batch
          .withColumn("__rn", row_number().over(
            Window.partitionBy(xxhash64(col("text")))
              .orderBy(col("doc_id"))))
          .filter(col("__rn") === 1).drop("__rn")
        // near-dup probe against everything admitted so far (an exact
        // cross-batch duplicate outside the watermark estimates 1.0 —
        // caught here too); first-ever batch has no index yet
        val fs = graft.pipeline.Fs.of(indexDir, spark)
        val hasIndex = fs.exists(
          new org.apache.hadoop.fs.Path(s"$indexDir/signatures"))
        val admitted =
          if (!hasIndex) exact
          else {
            val dups = graft.operators.Dedup
              .incrementalNearDups(spark, indexDir,
                exact.select(col("doc_id"), col("text")), minEst)
              .select(col("b").as("doc_id")).distinct()
            exact.join(dups, Seq("doc_id"), "left_anti")
          }
        // corpus commit PINS the admitted set under the micro-batch id
        AppendCommit.appendBatch(spark, admittedDir, sid) { tmp =>
          admitted.write.mode("overwrite").parquet(tmp)
        }
      }
      // read back the PINNED batch (identical on first run and on
      // redelivery, however the index moved in between)
      val pinned = AppendCommit.filesOfBatch(admittedDir, sid)
      if (pinned.nonEmpty) {
        val adm = spark.read.parquet(pinned: _*)
          .select(col("doc_id"), col("text"))
        if (!adm.isEmpty)
          graft.operators.Dedup.foreachBatchIndexSink(indexDir)(adm, id)
      }
    }
    ()
  }

  /** The admitted corpus (every committed batch). */
  def admittedCorpus(spark: org.apache.spark.sql.SparkSession,
      admittedDir: String): DataFrame =
    spark.read.parquet(admittedDir)
}
