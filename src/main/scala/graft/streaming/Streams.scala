package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (an extension — the reference is
  * batch-only, SURVEY.md §2.10). Transform functions are defined
  * against plain DataFrames so the SAME code runs batch or streaming:
  * `spark.read` → finite result, `spark.readStream` → incremental
  * result with watermark-driven state eviction.
  */
object Streams {

  /** Normalize the event-time column to a proper TIMESTAMP whatever
    * the fixture's physical type: NANOS-since-epoch BIGINT (parquet
    * timestamp[ns] read with nanosAsLong) or a native parquet
    * timestamp (µs, possibly NTZ — wall time is UTC by the session
    * contract, so the cast is the identity instant).
    */
  def withEventTime(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div`, not `/`: long/int goes through DOUBLE and nanos-since-epoch
        // (~1.7e18) exceeds the 2^53 mantissa — silent microsecond drift.
        events.withColumn("event_time", timestamp_micros(expr(s"$tsCol div 1000")))
      case _ =>
        events.withColumn("event_time", col(tsCol).cast("timestamp"))
    }

  /** Tumbling-window counts per event type. On a stream, the watermark
    * bounds state: windows older than the watermark are finalized and
    * evicted — without it a 100 TB/day stream accumulates state
    * forever.
    */
  def windowedCounts(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val timed = withEventTime(events)
    val maybeWatermarked =
      if (timed.isStreaming) timed.withWatermark("event_time", watermark) else timed
    maybeWatermarked
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
  }

  final case class LshCandidate(id_new: Long, id_corpus: Long)
  final case class LshBucketState(ids: Array[Long], hot: Boolean)

  /** STREAMING incremental MinHash-LSH dedup: near-dup candidate pairs
    * of each arriving document against the ACCUMULATED corpus — the
    * continuous form of [[graft.ops.Dedup.minhashLshCandidatesCross]]
    * (daily batch × standing corpus), for ingest that cannot wait for
    * a daily run. Input: a streaming frame with an id and a text
    * column; output: `(id_new, id_corpus)` updates, where `id_corpus`
    * is any earlier-arrived (or same-batch, smaller-id) member
    * sharing an LSH band bucket.
    *
    * Shape: the same map-only signature/band kernels as the batch path
    * ([[graft.ops.Dedup.bandedDigests]]) → `groupByKey((band,
    * digest))` → `flatMapGroupsWithState`, state = the bucket's member
    * ids. State is partitioned on the band-bucket key (cardinality
    * grows with the corpus — no hot executor), each bucket's state is
    * bounded by `maxBucketSize`, and the state store (RocksDB at
    * production scale) holds exactly the corpus's inverted band index
    * — the same bytes a batch rerun would rebuild per day.
    *
    * Hot-bucket cap semantics (the one place stream and batch CANNOT
    * agree): the batch anti-join drops an over-full bucket and ALL its
    * pairs retroactively; a stream cannot retract emitted pairs, so a
    * bucket that GROWS past `maxBucketSize` stops emitting and
    * accepting from that point on (state shrinks to a tombstone) —
    * pairs emitted while it was small stand. Equal results AS A SET
    * whenever no bucket exceeds the cap (asserted by spec); both
    * censor the f² explosion.
    *
    * Output multiplicity: rows are per-(band, digest) — a pair whose
    * documents share several band buckets is emitted once PER SHARED
    * BUCKET (a near-dup agreeing on all `bands` bands arrives `bands`
    * times), unlike the batch path, which applies `.distinct()`.
    * Cross-band dedup inside the stream would need a second stateful
    * shuffle keyed by the pair; instead, dedup downstream (the sink's
    * `.dropDuplicates("id_new", "id_corpus")` per micro-batch, or a
    * distinct over the accumulated table). Per-batch row counts are
    * correspondingly inflated vs distinct-pair counts.
    *
    * Replay semantics: within a batch, ids pair in ascending order
    * (id_new > id_corpus), so results are arrival-then-id
    * deterministic. A micro-batch replayed against ROLLED-BACK state
    * (the failure-recovery case — state store restored to the
    * pre-batch version) re-emits identically. A duplicate id arriving
    * against COMMITTED state is silently skipped — `filterNot
    * (st.ids.contains)` drops it, so it emits nothing and state does
    * not grow. At-least-once delivery overall: dedup downstream if
    * exactly-once pair rows matter.
    */
  def incrementalLshCandidates(
      docs: DataFrame, idCol: String, text: org.apache.spark.sql.Column,
      n: Int, k: Int, bands: Int, maxBucketSize: Long): Dataset[LshCandidate] = {
    require(maxBucketSize > 0, s"maxBucketSize must be positive, got $maxBucketSize")
    import docs.sparkSession.implicits._
    val sets = graft.ops.Dedup.shingleSets(docs, idCol, text, n)
    val buckets = graft.ops.Dedup.bandedDigests(sets, k, bands)
      .select(col("band").cast("int"), col("digest"), col("id").cast("long"))
      .as[(Int, String, Long)]
    buckets
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[LshBucketState, LshCandidate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[(Int, String, Long)],
            state: GroupState[LshBucketState]) =>
          val st = state.getOption.getOrElse(LshBucketState(Array.empty, hot = false))
          if (st.hot) { rows.foreach(_ => ()); Iterator.empty }
          else {
            // Ascending id order makes same-batch pairing deterministic;
            // ids already in state (micro-batch replay) are skipped.
            val newIds = rows.map(_._3).toArray.distinct
              .filterNot(st.ids.contains).sorted
            val out = Vector.newBuilder[LshCandidate]
            var members = st.ids
            var hot = false
            var i = 0
            while (i < newIds.length && !hot) {
              val nid = newIds(i)
              if (members.length >= maxBucketSize) hot = true
              else {
                members.foreach(m => out += LshCandidate(nid, m))
                members = members :+ nid
              }
              i += 1
            }
            state.update(
              if (hot) LshBucketState(Array.empty, hot = true)
              else LshBucketState(members, hot = false))
            out.result().iterator
          }
      }
  }
}
