package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Streaming shapes: each keyed-state operator must agree with its
  * batch twin when the stream is fully drained. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  test("streaming curate equals the batch curation funnel") {
    val docStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf)
    val q = StreamingOps.streamingCurate(docStream,
        minQuality = 0.45, langs = Seq("en"))
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("curate_stream")
        .select($"doc_id", $"lang_pred", $"n_tokens", $"quality").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      // batch twin: the whole table arrives in one micro-batch, so the
      // within-batch min-id keeper rule makes the two ends identical
      val batch = graft.operators.Corpus.curate(
          Tables.load(spark, sf, "documents"),
          minQuality = 0.45, langs = Seq("en"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup emits one keeper per distinct text") {
    val docStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf)
    val q = StreamingOps.streamingExactDedup(docStream)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream")
        .select($"text_hash", $"doc_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch twin: one keeper (min doc_id) per distinct content hash;
      // the whole table arrives in one micro-batch here, so the
      // within-batch min-id rule makes the two ends identical
      val batch = graft.operators.Dedup.exact(
          Tables.load(spark, sf, "documents"))
        .select($"text_hash", $"keeper_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup: earliest batch wins across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingExactDedup(ms.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("mdedup")
      .outputMode("append").start()
    try {
      // batch 1: two copies of "a" (within-batch min id 5 wins) + "b"
      ms.addData((7L, "a"), (5L, "a"), (9L, "b"))
      q.processAllAvailable()
      // batch 2: a LOWER id for "a" arrives later — the keyed state
      // must ignore it (first emission is final in append mode) while
      // the new content "c" still passes
      ms.addData((1L, "a"), (3L, "c"))
      q.processAllAvailable()
      val keepers = spark.table("mdedup").collect()
        .map(_.getLong(0)).toSet
      assert(keepers == Set(5L, 9L, 3L))
    } finally q.stop()
  }

  test("streaming sessionize: state carries across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = StreamingOps.streamingSessionize(
        ms.toDF.toDF("user_id", "event_id", "ts"), gapSec = 600L)
      .writeStream.format("memory").queryName("msess")
      .outputMode("append").start()
    try {
      // batch 1: session 1 opens (events at 0s, 100s)
      ms.addData((1L, 10L, ts(0L)), (1L, 11L, ts(100L)))
      q.processAllAvailable()
      assert(spark.table("msess").count() == 0, "session still open")
      // batch 2: a 49900s gap closes session 1 and opens session 2
      ms.addData((1L, 12L, ts(50000L)))
      q.processAllAvailable()
      val got = spark.table("msess").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      assert(got.toSeq == Seq((1L, 1L, 2L, 0L, 100000000L)))
    } finally q.stop()
  }

  test("streaming sessionize equals batch sessions minus open tails") {
    import org.apache.spark.sql.expressions.Window
    val stream = StreamingOps.readEventStream(spark, sf)
    val q = StreamingOps.streamingSessionize(stream, gapSec = 21600L)
      .writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // each user's LAST session is still open in the stream state
      val w = Window.partitionBy($"user_id")
      val closedBatch = graft.operators.Sessions.sessionSummary(
          Tables.load(spark, sf, "events"), 21600L)
        .withColumn("_max", max($"session_idx").over(w))
        .filter($"session_idx" < $"_max")
        .select($"user_id", $"session_idx", $"n_events", $"start_us",
          $"end_us")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(streamed == closedBatch && streamed.nonEmpty)
    } finally q.stop()
  }
}
