package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query ([[SparkEntry.registry]]): the DataFrame
  * program over the parquet tables of an sf directory, the DuckDB SQL
  * that must return the same rows, and the per-query facts the specs
  * and probes read. The oracle is a required field, so a query without
  * one does not compile.
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
    oracleSql: String, tags: QueryTag*) {
  def sweepExcluded: Option[String] = tags.collectFirst { case QueryTag.SweepExcluded(why) => why }
}

sealed trait QueryTag

object QueryTag {

  /** The first stage does heavy PER-ROW compute on a fact scan
    * (tokenize / shingle / hash / decode) — the shape the sf1 v8
    * single-file layout serialized (q_bloom_index 224.4 s → 2.0 s
    * once parallel). ParallelismSpec asserts each tagged query carries
    * a `RepartitionOperation` guard in its logical plan against an
    * under-parallel single-file dir; tag new compute-heavy fact
    * queries and the spec enforces the guard.
    *
    * Later members: round-14 negative-control sweep finds (real
    * per-row kernels the r12 hand-audit missed): rolling-hash CDC,
    * the window chunker, and the WAV-decode+DFT pipeline (q_cdc_chunks,
    * q_chunk_text, q_audio_tone); round-15: the byte-gram builder
    * (sequence-driven substr fan-out) caught by the sweep on first
    * registration — the control working (q_span_bytes).
    */
  case object HeavyScan extends QueryTag

  /** An adjudicated exception to the round-14 negative-control sweep
    * (ParallelismSpec): the plan contains a heavy-kernel signature
    * over an unguarded scan where the guard was DELIBERATELY omitted,
    * for the measured or structural `reason`. Tagging a query with
    * this instead of [[HeavyScan]] is an explicit audited decision,
    * not a forgotten guard.
    */
  final case class HeavyScanAdjudicated(reason: String) extends QueryTag

  /** Left out of `Measure sweep`: `reason` is the query's contract and
    * where its scale evidence lives. The deliberately quadratic
    * pair-contract queries grow pairs ∝ replicas² under
    * fixed-cardinality keys, 20B+ pairs at ×100, and the `rung` probe
    * already covers them and the true-sf10 dedup flagships. Excluded
    * rank slots are backfilled from the next-ranked queries, and the
    * list is emitted so a skip is loud.
    */
  final case class SweepExcluded(reason: String) extends QueryTag
}
