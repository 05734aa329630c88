package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Structured Streaming operator semantics: the watermarked windowed
  * aggregation must produce, in complete mode after draining, exactly the
  * batch plan's result over the same input — micro-batch boundaries and
  * state-store round trips must not change a single row.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("watermarked windowed agg: stream (complete mode) == batch") {
    val src = "/root/testdata/sf0.001/events.parquet"
    val schema = spark.read.parquet(src).schema
    // two arrival chunks → at least two micro-batches through the state store
    val dir = TestSpark.tempDir("stream-events")
    val all = spark.read.parquet(src)
    all.filter(org.apache.spark.sql.functions.col("event_id") % 2 === 0)
      .write.mode("append").parquet(dir)
    all.filter(org.apache.spark.sql.functions.col("event_id") % 2 === 1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingOps.windowedEventCounts(stream)
      .writeStream.format("memory").queryName("wm_counts")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    val got = spark.table("wm_counts").collect().map(key).toSet
    val want = StreamingOps.windowedEventCounts(
      spark.read.parquet(dir)).collect().map(key).toSet
    assert(got == want && got.nonEmpty)
  }

  test("StreamingDedup over id-ordered batches == batch firstWinsKeep") {
    import spark.implicits._
    // duplicates WITHIN a batch (1~2), ACROSS batches (0~4, 2~5) and a
    // singleton per batch; near-dups share the full word multiset so
    // every band collides
    val rows = Seq(
      (0L, "shared template alpha beta gamma", "en"),
      (1L, "unique first content here", "en"),
      (2L, "unique first content here", "de"),   // in-batch dup of 1
      (3L, "lonely document number three", "en"),
      (4L, "shared template alpha beta gamma", "fr"), // cross-batch dup of 0
      (5L, "content here unique first", "en"),   // same word set as 1
      (6L, "completely fresh final text", "en"))
    val df = rows.toDF("doc_id", "text", "lang")
    val want = graft.pipeline.Dedup.firstWinsKeep(df)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want == Set(0L, 1L, 3L, 6L)) // sanity: policy drops 2,4,5

    val in = TestSpark.tempDir("sdedup-in")
    val out = TestSpark.tempDir("sdedup-out")
    val chk = TestSpark.tempDir("sdedup-chk")
    val state = TestSpark.tempDir("sdedup-state")
    val sd = new graft.streaming.StreamingDedup(spark, state)
    // batch 1 is fully committed BEFORE start: a trigger firing mid-write
    // could otherwise split ids 0-3 across batches in non-id order and
    // break the id-ordered-arrival precondition (2 would beat 1 into the
    // bucket). Batch 2's docs collide only with batch-1 state, never with
    // each other, so a mid-commit split there cannot change the result.
    df.filter($"doc_id" < 4).write.mode("append").parquet(in)
    val q = sd.start(in, out, chk)
    try {
      q.processAllAvailable() // batch 0: ids 0-3
      df.filter($"doc_id" >= 4).write.mode("append").parquet(in)
      q.processAllAvailable() // ids 4-6 vs persisted state
    } finally q.stop()
    val got = spark.read.parquet(s"$out/batch-*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("StreamingDedup lists committed generations in numeric id order") {
    val state = TestSpark.tempDir("sdedup-gens")
    for (g <- Seq(10, 2, 1, 11)) {
      val d = new java.io.File(s"$state/gen-$g")
      d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile()
    }
    new java.io.File(s"$state/gen-3").mkdirs() // uncommitted: skipped
    val sd = new graft.streaming.StreamingDedup(spark, state)
    assert(sd.gens(11).map(_.split('/').last) == Seq("gen-1", "gen-2", "gen-10"))
  }
}
