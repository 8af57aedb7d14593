package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bulk ETL surface (reference: scratch.R:142-156): TSV → hive-
  * partitioned parquet and parquet-directory table registration, the
  * NCVR voter-file workflow.
  */
object Etl {

  /** Streaming TSV scan (reference: `open_dataset(format='tsv')`,
    * scratch.R:143,148). Header + schema inference off by default at
    * scale — pass an explicit schema for 100 TB inputs.
    */
  def readTsv(spark: SparkSession, path: String, schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.option("sep", "\t").option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  /** Hive-partitioned parquet write (reference: `group_by(municipality_desc)
    * |> write_dataset`, scratch.R:145-151). Partition count = distinct
    * partition-key values; callers with skewed keys should repartition
    * on (key, salt) first.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String], selectCols: Seq[String] = Nil): Unit = {
    val projected = if (selectCols.nonEmpty) df.selectExpr(selectCols: _*) else df
    projected.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)
  }

  /** Parquet-directory scan with automatic partition discovery
    * (reference: read_parquet over a partition glob, scratch.R:155-156).
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** DYNAMIC partition overwrite: replaces ONLY the hive partitions
    * present in `df`, leaving every other partition untouched — the
    * idempotent re-run primitive of a partitioned 100 TB pipeline
    * (re-process one day/shard without rewriting, or losing, the
    * rest). Plain `mode("overwrite")` + `partitionBy` is STATIC: it
    * truncates the whole table first. The mode is set as a per-write
    * option so no session-level config leaks into other writers.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Range-sorted parquet layout for data-skipping: global range
    * partition on `sortCol` into `nFiles` files + a sort within each,
    * so per-file (and per-row-group) min/max footer stats are DISJOINT
    * ranges. A later range/point filter on `sortCol` then skips
    * everything else at the reader level — the poor man's clustered
    * index, and the difference between scanning 100 TB and scanning
    * one file. The one-time cost is the range-exchange (sampled
    * boundaries, skew-tolerant); worth it for any layout read many
    * times.
    */
  def writeRangeSorted(df: DataFrame, path: String, sortCol: String, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, df(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Z-ordered (Morton-interleaved) multi-column layout: the
    * data-skipping generalization of [[writeRangeSorted]] to MORE
    * THAN ONE predicate column. Each column is normalized to a
    * `bitsPerCol`-bit rank against its global min/max (one tiny agg),
    * the ranks are bit-interleaved into a single z-value, and files
    * are range-partitioned + sorted on it — so every file covers a
    * small HYPER-RECTANGLE of the value space and a conjunctive
    * range predicate on ANY subset of the z-columns prunes most
    * files via parquet min/max footers. A single-column sort gives
    * perfect pruning on that column and NONE on the others; z-order
    * trades a bit of the first for coverage of all.
    *
    * The z-value is a pure codegen'd bit expression (shift/and/or
    * terms), used only for layout and dropped before the write — the
    * stored data is byte-identical to the input rows. Null or
    * degenerate (min==max) values rank 0. At 100 TB this runs as one
    * range-exchange over the sampled z-value, the same cost as any
    * global sort-write.
    */
  def writeZOrdered(
      df: DataFrame, path: String, cols: Seq[String], nFiles: Int,
      bitsPerCol: Int = 16): Unit = {
    require(cols.size >= 2, "z-order needs at least two columns")
    require(cols.size * bitsPerCol <= 62,
      s"${cols.size} cols x $bitsPerCol bits exceeds a signed long")
    val aggCols = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val mm = df.agg(aggCols.head, aggCols.tail: _*).head()
    val maxCode = (1L << bitsPerCol) - 1
    val codes = cols.zipWithIndex.map { case (c, j) =>
      if (mm.isNullAt(2 * j)) lit(0L) // all-null column
      else {
        val (mn, mx) = (mm.getDouble(2 * j), mm.getDouble(2 * j + 1))
        if (mx <= mn) lit(0L)
        else least(lit(maxCode), greatest(lit(0L),
          ((coalesce(col(c).cast("double"), lit(mn)) - mn) / (mx - mn) * maxCode)
            .cast("long")))
      }
    }
    val k = cols.size
    val z = (0 until bitsPerCol).flatMap { i =>
      codes.zipWithIndex.map { case (code, j) =>
        shiftleft(shiftright(code, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Schema-evolution scan: merge the footers of every file under
    * `path` into one superset schema (columns added by later writers
    * read as null in older files). Footer merging is a file-listing
    * cost, not a data cost — but it reads one footer per file, so at
    * 100 TB turn it ON only for tables that actually evolved (the
    * default parquet read takes one file's schema for free).
    */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * `targetFiles` files. The bane of long-lived corpora — every
    * incremental append leaves file counts growing until listing +
    * per-file open dominates scan time. `coalesce` merges WITHOUT a
    * shuffle (each output task concatenates whole input partitions);
    * set `rebalance = true` to pay one round-robin shuffle when the
    * inputs are so skewed that concatenation would leave uneven
    * files. Data is byte-identical either way.
    *
    * Hive-partitioned input MUST pass `partitionCols`: the layout is
    * then preserved (`targetFiles` becomes files PER PARTITION — one
    * hash shuffle on the partition columns, full parallelism across
    * partitions, each output task writes whole partition dirs).
    * Without `partitionCols` a partitioned input is REFUSED rather
    * than silently flattened — a flat rewrite would read partition
    * dirs as data columns and destroy both the layout and every
    * downstream partition-pruned scan.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int, rebalance: Boolean = false,
      partitionCols: Seq[String] = Nil): Unit = {
    val looksPartitioned = Option(new java.io.File(inPath).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.contains("=")))
    require(partitionCols.nonEmpty || !looksPartitioned,
      s"$inPath is hive-partitioned; pass partitionCols to preserve the layout " +
        "(a flat compact would silently destroy partition pruning)")
    val df = spark.read.parquet(inPath)
    if (partitionCols.isEmpty) {
      val sized = if (rebalance) df.repartition(targetFiles) else df.coalesce(targetFiles)
      sized.write.mode("overwrite").parquet(outPath)
    } else {
      val parts = partitionCols.map(col)
      // Hash-cluster rows so each hive partition lands in at most
      // `targetFiles` write tasks (exactly 1 when targetFiles == 1);
      // the deterministic row-hash salt splits big partitions without
      // a nondeterministic round-robin.
      val sized =
        if (targetFiles <= 1) df.repartition(parts: _*)
        else df.repartition(
          parts :+ pmod(hash(df.columns.map(col): _*), lit(targetFiles)): _*)
      sized.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outPath)
    }
  }

  /** Partition-scoped upsert into a hive-partitioned table: only the
    * partitions PRESENT IN `updates` are read (broadcast semi join on
    * the partition columns — dynamic partition pruning keeps untouched
    * partitions out of the scan), merged with the updates by key, and
    * dynamic-overwritten; sibling partitions are never read or
    * rewritten. This is the 100 TB maintenance shape: merging a day's
    * corrections rewrites one day's partitions, not the table.
    *
    * CONTRACT: a key's partition value must be stable across the merge
    * (or its old partition must also appear in `updates`) — a key that
    * silently moves partitions would leave its old copy behind.
    * `updates` is taken as given: duplicate keys WITHIN the update
    * batch are written as-is (dedupe upstream if last-writer-wins is
    * wanted; a SQL MERGE would raise instead).
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partitionCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsertPartitioned needs key columns")
    require(partitionCols.nonEmpty, "upsertPartitioned needs partition columns")
    val current = spark.read.parquet(path)
    val touchedParts = updates.select(partitionCols.map(col): _*).distinct()
    val touched = current.join(broadcast(touchedParts), partitionCols, "left_semi")
    val survivors = touched.join(
      updates.select(keyCols.map(col): _*), keyCols, "left_anti")
    survivors.unionByName(updates.select(current.columns.map(col): _*))
      .localCheckpoint(true)
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
  }

  /** ORC write — the second columnar interchange format a complete
    * engine speaks (warehouse handoffs and Hive-era lakes are ORC;
    * Spark's reader/writer is native, same predicate-pushdown +
    * column-pruning story as parquet). Fidelity is proven by
    * q_orc_roundtrip: parquet → ORC → read → aggregate must equal the
    * oracle's direct aggregation over the source parquet.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** ORC scan. Pass an explicit schema at scale (same contract as
    * [[readTsv]]/[[readJsonl]]); without one the footer schema is
    * used (no data scan — ORC self-describes, unlike JSONL).
    */
  def readOrc(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema.fold(spark.read.orc(path))(s => spark.read.schema(s).orc(path))

  /** Persist a standing-corpus shingle-frequency snapshot — the
    * `(shingle, df)` table from
    * [[graft.ops.Dedup.shingleDocFrequencies]] — as parquet. This is
    * the cross-RUN half of the prefix-Jaccard amortization: the
    * full-postings frequency agg (the dominant fixed cost at 100 TB)
    * is paid once per corpus REFRESH and read back here per dedup
    * RUN. Types are pinned on write (string shingle, long df) so the
    * read side's schema assertion can never trip on an upstream
    * widening.
    */
  def writeShingleFrequencies(freq: DataFrame, path: String): Unit =
    freq.select(col("shingle").cast("string").as("shingle"),
        col("df").cast("long").as("df"))
      .write.mode("overwrite").parquet(path)

  /** Read a [[writeShingleFrequencies]] snapshot back, schema
    * ASSERTED (not inferred-and-hoped): a drifted snapshot — renamed
    * column, widened type, an extra column from a future writer —
    * fails loudly here instead of surfacing as silent ranking skew in
    * the prefix filter. The returned frame feeds
    * [[graft.ops.Dedup.ngramJaccardPairsPrefixFromShingles]]'s
    * `standingFreq` directly.
    */
  def readShingleFrequencies(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val expected = Seq("shingle" -> "string", "df" -> "bigint")
    val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    require(actual.sorted == expected.sorted,
      s"readShingleFrequencies: snapshot at $path has schema " +
        s"${actual.mkString(", ")} — expected ${expected.mkString(", ")} " +
        "(was it written by writeShingleFrequencies?)")
    df.select(col("shingle"), col("df"))
  }

  /** Per-row 60-bit content digest for audit checksums: the first 15
    * hex digits of md5 over the row's columns joined with U+0001
    * (NULLs → a U+0002 marker so NULL ≠ empty string and the join
    * never skips a position). Aggregated with `bit_xor`, the table
    * checksum is ORDER-INDEPENDENT and can never overflow — any
    * engine/layout/partitioning computes the same value (DuckDB
    * mirror: `bit_xor(CAST(('0x' || substr(md5(concat_ws(chr(1),
    * ...)), 1, 15)) AS BIGINT))`, see q_write_audit's oracle). Same
    * md5-prefix trick as [[graft.ops.Sampling.hashBucket]]. Only
    * string/integer columns digest portably across engines — float
    * formatting differs; cast or round floats upstream.
    */
  def rowDigest(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*)), 1, 15), 16, 10)
      .cast("long")

  /** `(n_rows, checksum)` audit summary of `df` over `cols` — one
    * map-side-combined hash-agg job ending in a 1-row reduce (xor and
    * count are both partial-aggregable, so the exchange moves one row
    * per partition).
    */
  def auditSummary(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(rowDigest(cols.map(col)).as(auditDigestSqlName))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr(s"bit_xor($auditDigestSqlName)"), lit(0L)).as("checksum"))

  private val auditDigestSqlName = "__audit_digest"

  /** Write-audit-publish: write `df` as parquet, then READ THE FILES
    * BACK and record `(rows, checksum)` of what is actually on disk
    * into `_AUDIT.json` next to the data (underscore-prefixed —
    * invisible to parquet scans, like `_SUCCESS`). Auditing the
    * read-back (not the in-memory frame) is the point: it certifies
    * the durable bytes, catching lost/truncated/double-written files.
    * `cols` defaults to every column in deterministic name order.
    */
  def writeAudited(df: DataFrame, path: String, cols: Seq[String] = Nil): Unit = {
    df.write.mode("overwrite").parquet(path)
    val back = df.sparkSession.read.parquet(path)
    val useCols = if (cols.nonEmpty) cols else back.columns.sorted.toSeq
    // The manifest's flat JSON encoder has no escaping — refuse names
    // it cannot round-trip rather than verifying the wrong column set.
    require(useCols.forall(c => !c.contains(",") && !c.contains("\"") && !c.contains("\\")),
      s"audited column names must not contain ',', '\"', or '\\': $useCols")
    val row = auditSummary(back, useCols).head()
    val json = s"""{"rows":${row.getLong(0)},"checksum":${row.getLong(1)},""" +
      s""""cols":[${useCols.map(c => "\"" + c + "\"").mkString(",")}]}"""
    // Manifest IO goes through the Hadoop filesystem of the DATA path,
    // so audited tables work on any URI scheme the parquet write
    // honors (a java.nio write would silently drop the manifest onto
    // the driver's local disk for hdfs://-style paths).
    val hPath = new org.apache.hadoop.fs.Path(path, "_AUDIT.json")
    val fs = hPath.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val out = fs.create(hPath, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read an audited table and VERIFY it: recompute the checksum over
    * the manifest's column list and fail loudly on any divergence
    * (row loss, duplication, or corruption since the audit). Returns
    * the verified frame. The verify pass is one scan — skip it on
    * hot paths and run it as the acceptance gate after copies /
    * compactions / migrations.
    */
  def readAudited(spark: SparkSession, path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path, "_AUDIT.json")
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(hPath)
    val raw =
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in: java.io.InputStream),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    def field(name: String): String =
      (s""""$name":(-?\\d+)""").r.findFirstMatchIn(raw).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"malformed _AUDIT.json at $path: missing numeric field '$name' in: $raw"))
    val rows = field("rows").toLong
    val checksum = field("checksum").toLong
    val cols = """"cols":\[([^\]]*)\]""".r.findFirstMatchIn(raw).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"malformed _AUDIT.json at $path: missing cols list in: $raw"))
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    val df = spark.read.parquet(path)
    val got = auditSummary(df, cols).head()
    require(got.getLong(0) == rows && got.getLong(1) == checksum,
      s"audit mismatch at $path: manifest (rows=$rows, checksum=$checksum), " +
        s"found (rows=${got.getLong(0)}, checksum=${got.getLong(1)})")
    df
  }

  /** Names of data files already processed according to the
    * `_LEDGER.json` manifest at `path` (empty when no ledger exists
    * yet). Underscore-prefixed like `_SUCCESS`/`_AUDIT.json`, so
    * parquet scans never see it; IO goes through the data path's
    * Hadoop filesystem (the [[writeAudited]] URI contract).
    */
  def processedFiles(spark: SparkSession, path: String): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path, "_LEDGER.json")
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) Seq.empty
    else {
      val in = fs.open(hPath)
      val raw =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in: java.io.InputStream),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      """"files":\[([^\]]*)\]""".r.findFirstMatchIn(raw).map(_.group(1)).getOrElse(
          throw new IllegalArgumentException(
            s"malformed _LEDGER.json at $path: missing files list in: $raw"))
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    }
  }

  /** Incremental ingest over a grow-only directory — the
    * each-run-processes-only-new-files pattern every recurring corpus
    * job needs (daily crawl drops, CDC dumps, log shippers) without a
    * table format: returns `(frame over UNPROCESSED data files, their
    * file names)`. Call [[commitProcessed]] with those names AFTER the
    * downstream write succeeds — commit-after-success makes a crashed
    * run reprocess its batch instead of silently dropping it
    * (at-least-once, the recoverable direction).
    *
    * Files are identified by NAME within the directory (writers never
    * reuse part-file names — Spark appends fresh UUIDs per task), and
    * only plain data files count: `_`/`.`-prefixed members (ledger,
    * audit, `_SUCCESS`, hidden temporaries) are invisible, and
    * subdirectories are refused loudly — a hive-partitioned layout
    * needs per-partition ledgers, not a silent flat listing. When
    * nothing is new the frame is the table's own empty projection, so
    * downstream code needs no special case. The listing is one
    * filesystem call on the driver — O(files), never O(rows) — and
    * that O(files) is BOUNDED: a grow-only directory at 100 TB is
    * millions of part files, and an unbounded flat listing + ledger
    * would OOM the driver long after the design stopped making sense.
    * `maxFiles` (default 100k ≈ a few MB of names) is enforced with
    * the same loud-refusal discipline as the subdirectory check: past
    * it, compact processed files ([[compact]]) and reset the ledger,
    * or shard into per-partition directories with one ledger each.
    */
  def readIncremental(spark: SparkSession, path: String,
      maxFiles: Int = 100000): (DataFrame, Seq[String]) = {
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(dir).toSeq
    val subdirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    require(subdirs.isEmpty,
      s"readIncremental expects a flat file directory; found subdirectories $subdirs " +
        s"under $path — run per partition directory with one ledger each")
    val dataFiles = entries.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    require(dataFiles.size <= maxFiles,
      s"readIncremental: $path holds ${dataFiles.size} data files > maxFiles=$maxFiles — " +
        "the flat driver-side listing/ledger is past its design envelope; compact processed " +
        "files (Etl.compact) and reset the ledger, or shard into per-partition directories " +
        "with one ledger each")
    val done = processedFiles(spark, path).toSet
    val fresh = dataFiles.filterNot(done).sorted
    val df =
      if (fresh.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(fresh.map(n => new org.apache.hadoop.fs.Path(dir, n).toString): _*)
    (df, fresh)
  }

  /** Mark `files` as processed in `path`'s `_LEDGER.json` (union with
    * the existing ledger; idempotent under replay). The flat encoder
    * refuses names it cannot round-trip — same contract as the audit
    * manifest's column list. The merged ledger is bounded by the same
    * `maxFiles` ceiling as [[readIncremental]]'s listing — the guard
    * raises BEFORE an unbounded ledger is written, not after the
    * driver chokes re-reading it.
    */
  def commitProcessed(spark: SparkSession, path: String, files: Seq[String],
      maxFiles: Int = 100000): Unit = {
    require(files.forall(f => !f.contains(",") && !f.contains("\"") && !f.contains("\\")),
      s"ledger file names must not contain ',', '\"', or '\\': $files")
    val all = (processedFiles(spark, path) ++ files).distinct.sorted
    require(all.size <= maxFiles,
      s"commitProcessed: merged ledger at $path would hold ${all.size} names > maxFiles=$maxFiles — " +
        "compact processed files (Etl.compact) and reset the ledger, or shard into " +
        "per-partition directories with one ledger each")
    val json = s"""{"files":[${all.map(f => "\"" + f + "\"").mkString(",")}]}"""
    val hPath = new org.apache.hadoop.fs.Path(path, "_LEDGER.json")
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(hPath, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Per-partition incremental ingest — the SHARDED form of
    * [[readIncremental]] that the flat guard's refusal message
    * prescribes for hive-partitioned grow-only tables: one
    * `_LEDGER.json` per leaf `col=value` directory, so every listing
    * and ledger stays bounded by ITS partition rather than the whole
    * table. The driver loop is over partition DIRECTORIES (bounded by
    * the partition key's cardinality — dates, shards — not by file
    * count); `maxFiles` bounds each leaf exactly as in
    * [[readIncremental]].
    *
    * Returns `(frame over every partition's unprocessed files with
    * the partition column restored as a STRING column, per-partition
    * fresh names for [[commitProcessedPartitioned]])`. The fresh map
    * is keyed by the RAW encoded value exactly as it appears in the
    * directory name (`4-NOT%20SPECIFIED`, not `4-NOT SPECIFIED`) so
    * the commit path can reconstruct the directory byte-for-byte —
    * re-encoding through a URL codec is lossy (Java URLEncoder writes
    * `+` where Spark's hive layout wrote `%20`, silently committing
    * the ledger into a rogue new directory). Only the restored COLUMN
    * value is decoded. When nothing anywhere is new, the frame is the
    * empty projection with the same schema.
    */
  def readIncrementalPartitioned(spark: SparkSession, path: String,
      partitionCol: String, maxFiles: Int = 100000)
      : (DataFrame, Map[String, Seq[String]]) = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted
    require(parts.nonEmpty,
      s"readIncrementalPartitioned: no $partitionCol=value subdirectories under $path — " +
        "use readIncremental for flat directories")
    require(parts.forall(_.startsWith(partitionCol + "=")),
      s"readIncrementalPartitioned: expected only $partitionCol=value subdirectories, found " +
        parts.filterNot(_.startsWith(partitionCol + "=")).mkString(", "))
    val perPart = parts.map { p =>
      val rawValue = p.substring(partitionCol.length + 1)
      val colValue = java.net.URLDecoder.decode(rawValue, "UTF-8")
      val (df, fresh) = readIncremental(spark, s"$path/$p", maxFiles)
      (rawValue, df.withColumn(partitionCol, lit(colValue)), fresh)
    }
    val union = perPart.map(_._2).reduce(_ unionByName _)
    (union, perPart.collect { case (v, _, fresh) if fresh.nonEmpty => v -> fresh }.toMap)
  }

  /** Commit each partition's processed files to ITS own ledger —
    * the write side of [[readIncrementalPartitioned]]; idempotent per
    * partition like [[commitProcessed]]. `files` is keyed by the RAW
    * encoded directory value the read returned — used verbatim, never
    * re-encoded (see [[readIncrementalPartitioned]]).
    */
  def commitProcessedPartitioned(spark: SparkSession, path: String,
      partitionCol: String, files: Map[String, Seq[String]],
      maxFiles: Int = 100000): Unit =
    files.toSeq.sortBy(_._1).foreach { case (rawValue, names) =>
      commitProcessed(spark, s"$path/$partitionCol=$rawValue", names, maxFiles)
    }

  /** JSON-lines write — the lingua franca of training-data corpora. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSON-lines scan. Schema inference reads the data twice — pass an
    * explicit schema for 100 TB inputs (same contract as [[readTsv]]).
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema.fold(spark.read.json(path))(s => spark.read.schema(s).json(path))

  /** Bucketed (+ optionally sorted) external parquet table: the
    * co-located-join storage layout. Two tables bucketed by their join
    * key into the SAME bucket count join with NO exchange on either
    * side — at 100 TB that deletes the dominant shuffle of every
    * repeated fact-to-fact join (plan evidence:
    * docs/EXPLAIN_bucketed_r03.txt). Sorting within buckets
    * additionally removes the sort-merge join's per-task sort.
    *
    * Bucketed tables must go through the catalog (`saveAsTable`);
    * `path` keeps the data external at an explicit location.
    */
  def writeBucketed(
      df: DataFrame, name: String, path: String,
      bucketCol: String, nBuckets: Int, sortCol: Option[String] = None): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$name`")
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path).bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(name)
  }

  /** Read a bucketed table back through the catalog (the bucket
    * metadata lives there — a plain parquet read of the same files
    * would lose the co-location guarantee).
    */
  def readBucketed(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

  /** DuckDB mirror of [[rowDigest]] over SQL fragments. */
  def rowDigestSql(cols: Seq[String]): String =
    "CAST(('0x' || substr(md5(concat_ws(chr(1), " +
      cols.map(c => s"coalesce(CAST($c AS VARCHAR), chr(2))").mkString(", ") +
      ")), 1, 15)) AS BIGINT)"

  /** Corpus snapshot diff — dataset versioning's core question ("what
    * changed between yesterday's corpus and today's?") answered
    * without comparing content bytes across the wire: each side
    * reduces to (key, 60-bit [[rowDigest]] of the content columns),
    * one full-outer hash join on the key classifies every row as
    * added / removed / changed / same. Content columns never shuffle;
    * the join moves two longs per row.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff needs at least one content column")
    val o = oldDf.select(col(keyCol).as(keyCol), rowDigest(contentCols.map(col)).as("__d_old"))
    val n = newDf.select(col(keyCol).as(keyCol), rowDigest(contentCols.map(col)).as("__d_new"))
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("__d_old").isNull, lit("added"))
          .when(col("__d_new").isNull, lit("removed"))
          .when(col("__d_old") === col("__d_new"), lit("same"))
          .otherwise(lit("changed")))
      .select(col(keyCol), col("status"))
  }

  /** Per-file min/max/count layout report — the clustering-quality
    * diagnostic behind data skipping: range-sorted layouts prune
    * because each file's `[min, max]` key envelope is NARROW and
    * DISJOINT ([[writeRangeSorted]]); this reads the envelopes back
    * from the actual files, so "is this table still well-clustered or
    * does it need a re-sort/compaction?" is a query, not a guess.
    * Returns one row per data file: `(n_rows, min_key, max_key)` —
    * file identity is deliberately NOT in the output (part-file names
    * carry run-specific ids; the stats multiset is the stable part).
    *
    * Map-side only: `input_file_name()` grouping aggregates each
    * file's rows where they are scanned; one small shuffle of
    * file-count rows.
    */
  def fileStats(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"))
      .drop("__file")
}
