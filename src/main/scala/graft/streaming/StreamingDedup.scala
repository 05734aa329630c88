package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.Dedup
import graft.util.FsUtil

/** Streaming near-dedup of an unbounded document stream: a document is
  * kept iff none of its MinHash band buckets was occupied by ANY earlier
  * document (kept or dropped — occupancy is what matters, which makes the
  * policy arrival-order-deterministic and batch-partitioning-invariant).
  * First occurrence wins; `Dedup.firstWinsKeep` is the batch twin (equal
  * output when batches arrive id-ordered — StreamingSpec proves it).
  *
  * State is NOT in the streaming state store: at 100 TB the seen-bucket
  * set is itself table-sized, so it lives as `_SUCCESS`-gated parquet
  * generations under `stateDir` (the same LSM shape as the index's delta
  * generations), appended per micro-batch and unioned at read. Per batch
  * the work is: bands of the batch (narrow), one semi-join against the
  * seen table (hash equijoin on (band, sig) — broadcast-able while seen
  * is small, shuffle equijoin at scale), one per-bucket min + per-doc
  * aggregate for within-batch collisions, one anti-join. Nothing is ever
  * collected to the driver; state growth is Σ distinct new buckets.
  * A production deployment would periodically fold generations into one
  * (exactly `IncrementalIndexer.mergeDeltas`' shape) — append+union keeps
  * this demonstration crash-safe without that machinery: a batch that
  * dies before its generation's `_SUCCESS` re-runs from the checkpoint
  * and overwrites the partial write.
  */
class StreamingDedup(spark: SparkSession, stateDir: String) {

  private val BucketSchema = StructType(Seq(
    StructField("band", LongType),
    StructField("sig", StringType)))

  /** Generations STRICTLY BEFORE `batchId`: a crash-replayed batch must
    * not see its own already-committed generation as "seen" (it would
    * suppress every one of its documents and overwrite the batch's output
    * with zero rows — silent data loss). Ids are parsed numerically;
    * lexicographic name order would misorder gen-10 vs gen-2.
    */
  private[graft] def gens(batchId: Long): Seq[String] = {
    // through FsUtil, so a DFS or object-store stateDir lists too
    val Gen = "gen-(\\d+)".r
    FsUtil.list(stateDir).map(_.getPath.getName)
      .collect { case n @ Gen(id) if id.toLongOption.exists(_ < batchId) =>
        id.toLong -> s"$stateDir/$n" }
      .filter(g => FsUtil.isCommitted(g._2)).sortBy(_._1).map(_._2)
  }

  private def readSeen(batchId: Long): DataFrame = {
    val gs = gens(batchId)
    if (gs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], BucketSchema)
    else spark.read.parquet(gs: _*).select("band", "sig")
  }

  /** Dedup one (id-ordered) batch against all earlier state, append the
    * batch's buckets as a new generation, return the kept rows.
    */
  def dedupBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val bands = Dedup.minhashBands(batch)
      .select(col("doc_id"), col("band").cast("long").as("band"), col("sig"))
      .localCheckpoint() // bands feed three consumers; compute once
    val seenHit = bands
      .join(readSeen(batchId), Seq("band", "sig"), "left_semi")
      .select("doc_id")
    // in-batch stage = the batch twin's own drop rule — ONE definition
    // (Dedup.firstWinsDropIds) so stream and batch can never diverge
    val kept = batch.join(
      seenHit.union(Dedup.firstWinsDropIds(bands)),
      Seq("doc_id"), "left_anti") // anti-join needs no distinct right side
    // occupancy of EVERY batch doc (kept or not) becomes state — dropping
    // a doc must not un-occupy the buckets it collided into
    bands.select("band", "sig").distinct()
      .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/gen-$batchId")
    kept
  }

  /** Start the stream: parquet document files under `inputDir` → deduped
    * rows appended under `outDir`. Batches are deduped in arrival order;
    * `query.processAllAvailable()` drains synchronously in tests.
    */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  def start(inputDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    spark.readStream
      .schema(DocSchema)
      .parquet(inputDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // batch-id-deterministic output path + Overwrite = idempotent
        // replay: a crash between this write and the checkpoint commit
        // re-runs the batch into the SAME directory instead of
        // double-appending (the standard foreachBatch exactly-once shape)
        dedupBatch(batch, id)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch-$id")
        ()
      }
      .start()
}
