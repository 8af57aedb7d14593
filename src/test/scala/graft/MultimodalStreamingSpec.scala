package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.streaming.Streams

/** Multimodal plumbing (binary columns, the WAV codec and its decode
  * stage) and Structured Streaming (batch/stream parity for the
  * windowed aggs, the incremental LSH dedup and the sketch cells).
  */
class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Events fixture with ts normalized to NANOS-since-epoch BIGINT
    * whatever the parquet's physical type (timestamp[ns]-as-long or
    * native timestamp[us]) — the streaming paths below feed ts through
    * MemoryStream[Long] tuples, and [[Streams.withEventTime]]'s
    * LongType branch converts back.
    */
  private def eventsNs = {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn(
        "ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  test("multimodal: mediaStats digest matches md5 of the text bytes") {
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val r = Multimodal.mediaStats(docs, "doc_id", "text").head
    assert(r.getAs[String]("digest") == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getAs[Long]("byte_len") == 3 && r.getAs[Long]("first_byte") == 97)
  }

  test("multimodal: WAV codec — roundtrip, extra chunks, odd padding, corrupt → None") {
    import Multimodal.AudioCodec
    val samples = Array[Short](0, 100, -100, 32767, -32768, 7)
    val wav = AudioCodec.encode(samples, 8000)
    assert(wav.length == 44 + samples.length * 2)
    val Some((rate, ch, back)) = AudioCodec.decode(wav)
    assert(rate == 8000 && ch == 1 && back.toSeq == samples.toSeq)

    // tolerate an extra ODD-length chunk between fmt and data (word-
    // aligned skip): splice a 3-byte "LIST" chunk in
    val bb = java.nio.ByteBuffer.allocate(wav.length + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(wav, 0, 36)                       // RIFF..fmt chunk
    bb.put("LIST".getBytes("US-ASCII")).putInt(3)
    bb.put(Array[Byte](1, 2, 3, 0))          // 3 bytes + pad
    bb.put(wav, 36, wav.length - 36)         // data chunk
    val spliced = bb.array()
    System.arraycopy( // fix the RIFF size field for the added bytes
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(36 + 12 + samples.length * 2).array(), 0, spliced, 4, 4)
    val Some((r2, c2, back2)) = AudioCodec.decode(spliced)
    assert(r2 == 8000 && c2 == 1 && back2.toSeq == samples.toSeq)

    // corrupt payloads → None, never a throw or a fake decode
    assert(AudioCodec.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(AudioCodec.decode("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(AudioCodec.decode(wav.take(50)).isEmpty)   // truncated data chunk
    val nonPcm = wav.clone(); nonPcm(20) = 3          // audioFormat = IEEE float
    assert(AudioCodec.decode(nonPcm).isEmpty)
  }

  test("multimodal: synthetic audio decodes to the closed-form stats") {
    val docs = Seq((7L, "x"), (14L, "y")).toDF("doc_id", "text")
    val feats = Multimodal.decodeAudioFeatures(
      Multimodal.synthAudioRecords(docs, "doc_id")).collect().sortBy(_.id)
    for (f <- feats) {
      val n = (40 + f.id % 25).toInt
      val expected = Array.tabulate(n)(i =>
        ((f.id * 2654435761L + i * 40503L) % 65536L - 32768L).toInt)
      assert(f.sampleRate == 8000 && f.channels == 1 && f.nSamples == n)
      assert(f.byteLen == 44 + 2 * n)
      assert(f.sumSq == expected.map(v => v.toLong * v).sum)
      assert(f.peak == expected.map(math.abs).max)
    }
  }

  test("streaming: incremental LSH dedup — stream equals batch when no bucket caps") {
    // Two micro-batches of documents with planted near-dups (within a
    // batch, across batches, and exact copies); under a cap no bucket
    // reaches, the accumulated stream output must equal the one-shot
    // batch LSH self-join on the full corpus — the batch≡stream parity
    // contract for the sink.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val b1 = Seq(
      1L -> base,
      2L -> base.replace("lazy", "sleepy"),          // near-dup of 1
      3L -> "completely unrelated text about spark catalyst optimizer rules here",
      4L -> base)                                    // exact dup of 1
    val b2 = Seq(
      5L -> base.replace("quick", "rapid"),          // near-dup across batches
      6L -> "completely unrelated text about spark catalyst optimizer rules here",
      7L -> "nothing shares shingles with this one at all not even close truly")
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val expected = graft.ops.Dedup.minhashLshCandidates(
        all, "doc_id", col("text"), n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.contains((1L, 4L))) // exact dups always collide

    val stream = MemoryStream[(Long, String)](spark)
    val out = Streams.incrementalLshCandidates(
      stream.toDF().toDF("doc_id", "text"), "doc_id", col("text"),
      n = 3, k = 8, bands = 4, maxBucketSize = 100L)
    val q = out.writeStream.format("memory").queryName("lsh_out")
      .outputMode("update").start()
    try {
      stream.addData(b1)
      q.processAllAvailable()
      val afterB1 = spark.table("lsh_out")
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (corpus, new)
      // batch-1 pairs = the batch self-join over b1 alone
      val expB1 = graft.ops.Dedup.minhashLshCandidates(
          b1.toDF("doc_id", "text"), "doc_id", col("text"), n = 3, k = 8, bands = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB1 == expB1)

      stream.addData(b2)
      q.processAllAvailable()
      val afterB2 = spark.table("lsh_out")
        .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      assert(afterB2 == expected)
      // batch-2's new pairs decompose into cross(B2, B1) + within-B2
      val cross = graft.ops.Dedup.minhashLshCandidatesCross(
          graft.ops.Dedup.shingleSets(b2.toDF("doc_id", "text"), "doc_id", col("text"), 3),
          graft.ops.Dedup.shingleSets(b1.toDF("doc_id", "text"), "doc_id", col("text"), 3),
          k = 8, bands = 4)
        .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val withinB2 = graft.ops.Dedup.minhashLshCandidates(
          b2.toDF("doc_id", "text"), "doc_id", col("text"), n = 3, k = 8, bands = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB2 -- afterB1.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
        == cross ++ withinB2)
    } finally q.stop()
  }

  test("streaming: incremental LSH dedup — hot bucket censors from the cap onward") {
    // Four exact copies, cap 2: the first two members pair; the third
    // arrival crosses the cap and tombstones every bucket they share,
    // so docs 3 and 4 emit nothing — the stream-side f² guard. (Batch
    // would retroactively drop the (1,2) pair; divergence documented
    // on the operator.)
    val txt = "identical documents explode lsh buckets when the corpus degenerates badly"
    val stream = MemoryStream[(Long, String)](spark)
    val out = Streams.incrementalLshCandidates(
      stream.toDF().toDF("doc_id", "text"), "doc_id", col("text"),
      n = 3, k = 8, bands = 4, maxBucketSize = 2L)
    val q = out.writeStream.format("memory").queryName("lsh_hot")
      .outputMode("update").start()
    try {
      stream.addData(Seq(1L -> txt, 2L -> txt))
      q.processAllAvailable()
      stream.addData(Seq(3L -> txt))
      q.processAllAvailable()
      stream.addData(Seq(4L -> txt))
      q.processAllAvailable()
      val got = spark.table("lsh_hot")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((2L, 1L))) // id_new=2 paired with corpus id 1; 3,4 censored
    } finally q.stop()
  }

  test("streaming: windowed counts — stream result equals batch result") {
    val batchDf = eventsNs
    val expected = Streams.windowedCounts(batchDf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val stream = MemoryStream[(Long, Long, String)](spark)
    val streamDf = stream.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.windowedCounts(streamDf)
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      val rows = batchDf.select("ts", "user_id", "event_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      stream.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("win_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming: hopping windows — stream result equals batch result") {
    def hopping(df: org.apache.spark.sql.DataFrame) = {
      val timed = Streams.withEventTime(df)
      val w = if (timed.isStreaming) timed.withWatermark("event_time", "2 hours") else timed
      w.groupBy(window(col("event_time"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    }
    val batchDf = eventsNs
    val expected = hopping(batchDf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // every event must appear in exactly 4 windows
    assert(expected.toSeq.map(_._3).sum == batchDf.count() * 4)

    val stream = MemoryStream[(Long, Long, String)](spark)
    val q = hopping(stream.toDF().toDF("ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("hop_out").outputMode("complete").start()
    try {
      stream.addData(batchDf.select("ts", "user_id", "event_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("hop_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming: count-min sketch cells — incremental stream equals batch") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").limit(2000)
    val expected = graft.ops.Sketches.cmsCells(toks, col("tok"), 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

    val stream = MemoryStream[String](spark)
    val q = graft.ops.Sketches.cmsCells(stream.toDF().toDF("tok"), col("tok"), 4, 64)
      .writeStream.format("memory").queryName("cms_out").outputMode("complete").start()
    try {
      // three arbitrary chunks: the sketch is a sum, so the final
      // state must be chunking-invariant (mergeability, live)
      val all = toks.collect().map(_.getString(0))
      all.grouped(700).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.table("cms_out")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming: bloom index — incremental stream equals batch") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select((col("o_orderkey") % 8).as("file"), col("o_custkey"))
    val expected = graft.ops.Sketches.bloomIndex(o, col("file"), col("o_custkey"), 1024, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val stream = MemoryStream[(Long, Long)](spark)
    val sdf = stream.toDF().toDF("file", "o_custkey")
    val q = graft.ops.Sketches.bloomIndex(sdf, col("file"), col("o_custkey"), 1024, 3)
      .writeStream.format("memory").queryName("bloom_out").outputMode("complete").start()
    try {
      val rows = o.collect().map(r => (r.getLong(0), r.getLong(1)))
      rows.grouped(600).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.table("bloom_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected)
    } finally q.stop()
  }
}
