package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata, never decoded inside
  * the relational plan. Decode / feature-extraction runs as a batched
  * `mapPartitions` stage over the typed Dataset — the Scala analogue
  * of a vectorized Python `mapInPandas` stage: one iterator per
  * partition, library handles per-record work, output is a typed
  * schema Catalyst can keep optimizing after.
  *
  * Image payloads decode through the JDK's built-in `javax.imageio`
  * ([[dhashBytes]]; PNG/BMP/GIF/JPEG readers ship with every JDK, zero
  * added dependencies), audio through [[AudioCodec]]'s WAV reader and
  * video through [[VideoCodec]]'s frame container. The relational
  * side of a payload column is oracle-tested via [[mediaStats]].
  */
object Multimodal {

  /** One media record: payload + typed metadata. */
  final case class MediaRecord(id: Long, media: Array[Byte], mime: String, meta: Map[String, String])

  /** Relational stats over the binary column — stays in the codegen'd
    * plan (no decode): byte length, digest, first-byte. Oracle-checked
    * (DuckDB md5 is VARCHAR-only, so the digest is computed over the
    * identical UTF-8 bytes on both sides).
    */
  def mediaStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol).cast("binary")).cast("long").as("byte_len"),
      md5(col(textCol).cast("binary")).as("digest"),
      ascii(col(textCol).substr(1, 1)).cast("long").as("first_byte"))

  /** Decoded audio features: header fields + exact integer signal
    * stats (a float RMS would be merge-order-dependent; `sumSq` and
    * `peak` are not).
    */
  final case class AudioFeatures(
      id: Long, byteLen: Int, sampleRate: Int, channels: Int,
      nSamples: Int, sumSq: Long, peak: Int)

  /** Real RIFF/WAV codec in pure JVM (no added dependencies): `encode`
    * writes canonical 44-byte-header 16-bit little-endian PCM;
    * `decode` walks the chunk list (tolerating extra chunks such as
    * LIST/INFO), returns None for anything that is not integral-PCM
    * WAV — callers surface a sentinel row, never a silent drop.
    */
  object AudioCodec {
    def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits per sample
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }

    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      if (payload.length < 12) return None
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag4(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      if (tag4() != "RIFF") return None
      bb.getInt // declared riff size; trust actual buffer bounds instead
      if (tag4() != "WAVE") return None
      var rate, channels, bits = -1
      var data: Array[Short] = null
      while (bb.remaining >= 8) {
        val id = tag4(); val len = bb.getInt
        if (len < 0 || len > bb.remaining) return None
        val next = bb.position() + len + (len & 1) // chunks are word-aligned
        id match {
          case "fmt " =>
            if (len < 16 || bb.getShort != 1) return None // integral PCM only
            channels = bb.getShort
            rate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            bits = bb.getShort
          case "data" =>
            if (bits != 16) return None // fmt must precede data; 16-bit only
            data = new Array[Short](len / 2)
            var i = 0; while (i < data.length) { data(i) = bb.getShort; i += 1 }
          case _ => // skip LIST/INFO/etc.
        }
        bb.position(math.min(next, bb.limit()))
      }
      if (rate <= 0 || channels <= 0 || data == null) None
      else Some((rate, channels, data))
    }
  }

  /** Fixture-path audio synthesis: a deterministic pseudo-random PCM
    * signal per id — `s_i = (id·2654435761 + i·40503) mod 65536 −
    * 32768`, `n = 40 + id mod 25` samples at 8 kHz — ENCODED INTO REAL
    * WAV BYTES in the engine. Because the sample formula is pure
    * integer arithmetic, an oracle can recompute the decoded stats
    * from first principles: equality proves the encode → decode
    * roundtrip bit-exact through the binary column.
    */
  // All four synth*Records generators are OPAQUE typed maps doing the
  // heavy per-row work (codec encode, BMP synthesis) on top of a bare
  // id projection — at bench scale that projection reads as 1 scan
  // partition and the whole media synthesis ran single-task (round-16
  // profile: q_image_clusters carried a 1.46 s 1-task stage; guide
  // §2.5). `Parallelism.ensure` repartitions ONLY the id column when
  // the scan is narrower than the session parallelism, and no-ops on
  // real multi-file inputs.
  def synthAudioRecords(df: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.util.Parallelism.ensure(
      df.select(col(idCol).cast("long").as("id"))).as[Long].map { id =>
      val n = (40 + id % 25).toInt
      val samples = Array.tabulate(n) { i =>
        ((id * 2654435761L + i * 40503L) % 65536L - 32768L).toShort
      }
      MediaRecord(id, AudioCodec.encode(samples, 8000), "audio/wav",
        Map("codec" -> "pcm_s16le"))
    }
  }

  /** Batched audio decode stage — one `mapPartitions` pass:
    * per-partition iterator, typed output, corrupt payloads → visible
    * `(-1, …)` sentinel.
    */
  def decodeAudioFeatures(records: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    implicit val enc = Encoders.product[AudioFeatures]
    records.mapPartitions { it =>
      it.map { r =>
        AudioCodec.decode(r.media) match {
          case Some((rate, ch, samples)) =>
            var sumSq = 0L; var peak = 0; var i = 0
            while (i < samples.length) {
              val s = samples(i).toInt
              sumSq += s.toLong * s
              val a = math.abs(s)
              if (a > peak) peak = a
              i += 1
            }
            AudioFeatures(r.id, r.media.length, rate, ch, samples.length, sumSq, peak)
          case None =>
            AudioFeatures(r.id, r.media.length, -1, -1, 0, 0L, 0)
        }
      }
    }
  }

  /** Scaled 64-point cosine table `round(1024·cos(2πj/64))` — ONE set
    * of Scala-computed integer literals shared by the synthesizer,
    * the analyzer, and the DuckDB oracle (the ndcgGains discipline:
    * no cross-libm trig anywhere in the data path). `sin` is the
    * same table shifted by 48 (cos(x − π/2) = sin(x)). */
  val CosTable64: Seq[Long] =
    (0 until 64).map(j => math.round(1024.0 * math.cos(2.0 * math.Pi * j / 64)))

  /** [[CosTable64]] as a SQL list literal. */
  def cosTable64Sql: String = CosTable64.mkString("[", ", ", "]")

  /** Fixture-path TONE synthesis: doc `id` carries a pure tone at DFT
    * bin `k = 1 + id mod 8` of the 64-sample grid — `s_i =
    * CosTable64[(k·i) mod 64]`, 128 samples (two full grid periods)
    * at 8 kHz, ENCODED INTO REAL WAV BYTES. Pure integer arithmetic,
    * so an oracle can rebuild every sample analytically and the
    * decoded DFT must match bit-exactly.
    */
  def synthToneRecords(df: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    val tab = CosTable64.toArray
    graft.util.Parallelism.ensure(
      df.select(col(idCol).cast("long").as("id"))).as[Long].map { id =>
      val k = (1 + id % 8).toInt
      val samples = Array.tabulate(128)(i => tab((k * i) % 64).toShort)
      MediaRecord(id, AudioCodec.encode(samples, 8000), "audio/wav",
        Map("codec" -> "pcm_s16le"))
    }
  }

  /** Batched decode to RELATIONAL samples `(id, pos, sample)` — the
    * bridge from the binary column to engine-side signal math
    * ([[decodeAudioFeatures]]'s mapPartitions shape; corrupt →
    * one visible `(id, -1, 0)` sentinel row, never a silent drop).
    */
  def decodeAudioSamples(records: Dataset[MediaRecord]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        AudioCodec.decode(r.media) match {
          case Some((_, _, samples)) =>
            samples.iterator.zipWithIndex.map { case (s, i) =>
              (r.id, i.toLong, s.toLong)
            }
          case None => Iterator((r.id, -1L, 0L))
        }
      }
    }.toDF("id", "pos", "sample")
  }

  // ---- image perceptual hashing (dHash) -----------------------------

  /** Perceptual hash record: two 32-bit half-words (the
    * [[Similarity.signWord]] layout — xor/popcount-safe in every
    * engine) of the 64-bit difference hash. */
  final case class ImageHash(id: Long, width: Int, height: Int, d0: Long, d1: Long)

  /** Synth image geometry: 36×32 so the 9×8 dHash grid tiles it in
    * exact 4×4 blocks (integer block means, no resampling filter). */
  val SynthW = 36
  val SynthH = 32

  /** Per-(base, block) texture offset — md5-derived (the repo's
    * hex-prefix arithmetic, reproducible in any engine) so DIFFERENT
    * bases get INDEPENDENT block patterns: a plain affine-in-(x,y)
    * base leaks through dHash (adjacent-block deltas are constant →
    * every base hashes alike, measured cross-base distance min 0);
    * md5 texture puts cross-base distances at ≥ 20 bits while
    * same-base variants stay ≤ 5.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def blockHash(base: Long, bx: Int, by: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s"$base:$bx:$by".getBytes("UTF-8"))
    // First 15 hex chars of the digest = the big-endian first-8-byte
    // word shifted right 4 bits (unsigned) — identical to the old
    // parseLong(hex.substring(0, 15), 16) without the string round-trip.
    var w = 0L
    var i = 0
    while (i < 8) { w = (w << 8) | (d(i) & 0xffL); i += 1 }
    ((w >>> 4) % 256).toInt
  }

  /** Write the synthetic image as a REAL 24-bit BMP (54-byte header,
    * bottom-up BGR rows, 4-byte row padding) — pure JVM, so the
    * engine-side payload is genuine image bytes that `javax.imageio`
    * must decode correctly for the hash to match the oracle's
    * analytic pixels.
    *
    * Each gray value is PURE INTEGER arithmetic, so an oracle can
    * recompute it analytically: a gradient over a per-block md5
    * texture keyed by `id div 10` (ids sharing a base are PERCEPTUAL
    * NEAR-DUPLICATES) plus a sparse per-variant brightness flip keyed
    * by `id mod 10` (≈ 1% of pixels inverted — visible to an
    * exact-dup hash, mostly invisible to dHash, which is the point of
    * perceptual hashing). `ProfilingMultimodalSpec.synthGray` is the
    * per-pixel reference.
    */
  def synthBmp(id: Long): Array[Byte] = {
    val (w, h) = (SynthW, SynthH)
    val rowBytes = (w * 3 + 3) / 4 * 4
    val dataSize = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // One md5 per 4×4 block (9×8 = 72 per image), not one per pixel:
    // the per-pixel form recomputed each block's hash 16× and was the
    // dominant cost of the whole image/video fixture tier.
    val blocks = Array.tabulate(h / 4, w / 4)((by, bx) => blockHash(id / 10, bx, by))
    val variant = (id % 10).toInt
    var y = h - 1
    while (y >= 0) { // bottom-up row order, as positive-height BMP requires
      var x = 0
      while (x < w) {
        val g0 = (x * 7 + y * 13 + blocks(y / 4)(x / 4)) % 256
        val g = (if ((x + y * w) % 97 == variant) (g0 + 128) % 256 else g0).toByte
        buf.put(g).put(g).put(g)
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Synthetic image records over an id column — the image-fixture
    * path ([[synthAudioRecords]]' sibling). */
  def synthImageRecords(df: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.util.Parallelism.ensure(
      df.select(col(idCol).cast("long").as("id"))).as[Long].map { id =>
      MediaRecord(id, synthBmp(id), "image/bmp", Map("codec" -> "bmp24"))
    }
  }

  /** dHash (difference hash) of a decoded image: integer luma per
    * pixel (BT.601 weights 299/587/114 over 1000), exact 4×4 block-mean
    * downsample to a 9×8 grid (floor division — no float filter), and
    * bit `r·8 + c` set iff `mean(r,c) > mean(r,c+1)`. The standard
    * near-duplicate image fingerprint: brightness/contrast shifts
    * preserve the gradient SIGNS, so near-dups land within small
    * Hamming distance ([[Similarity.hammingNearDupPairs]] consumes
    * these half-words directly).
    *
    * Decode failures yield the visible `(-1, -1, 0, 0)` sentinel.
    * Requires width divisible by 9 and height by 8 (exact tiling —
    * the deterministic-resample contract; general sizes would need a
    * resampling filter whose rounding no oracle could mirror).
    */
  def imageDhash(records: Dataset[MediaRecord]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    records.mapPartitions { it =>
      it.map { r =>
        val (w0, h0, d0, d1) = dhashBytes(r.media)
        ImageHash(r.id, w0, h0, d0, d1)
      }
    }
  }

  /** The dHash kernel over raw image bytes — shared by [[imageDhash]]
    * and [[videoFrameHashes]]; decode failure or non-tiling geometry
    * → the `(-1, -1, 0, 0)` sentinel. */
  def dhashBytes(payload: Array[Byte]): (Int, Int, Long, Long) = {
    {
      {
        // In memory: ImageIO's default disk cache spools an InputStream
        // to a temp file. `read` closes the stream unless no reader fits.
        val in = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        val img =
          try javax.imageio.ImageIO.read(in)
          catch { case _: java.io.IOException => null }
          finally try in.close() catch { case _: java.io.IOException => () }
        if (img == null || img.getWidth % 9 != 0 || img.getHeight % 8 != 0)
          (-1, -1, 0L, 0L)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val (bw, bh) = (w / 9, h / 8)
          val means = Array.ofDim[Long](8, 9)
          var br = 0
          while (br < 8) {
            var bc = 0
            while (bc < 9) {
              var s = 0L
              var yy = br * bh
              while (yy < (br + 1) * bh) {
                var xx = bc * bw
                while (xx < (bc + 1) * bw) {
                  val rgb = img.getRGB(xx, yy)
                  s += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                    (rgb & 0xff) * 114) / 1000
                  xx += 1
                }
                yy += 1
              }
              means(br)(bc) = s / (bw.toLong * bh)
              bc += 1
            }
            br += 1
          }
          var d0 = 0L; var d1 = 0L
          var bit = 0
          while (bit < 64) {
            val (rr, cc) = (bit / 8, bit % 8)
            if (means(rr)(cc) > means(rr)(cc + 1)) {
              if (bit < 32) d0 |= 1L << bit else d1 |= 1L << (bit - 32)
            }
            bit += 1
          }
          (w, h, d0, d1)
        }
      }
    }
  }

  // ---- video: frame container + sampled frame hashing ----------------

  /** Minimal length-prefixed frame container (`GVID` magic, int32
    * frame count, then `int32 length + bytes` per frame) — the
    * video-as-binary-column shape: the payload stays ONE opaque cell,
    * decode walks it without ever materializing more than a frame.
    * `decode` returns None on bad magic/truncation — callers surface
    * a sentinel row, never a silent drop (the [[AudioCodec]]
    * contract).
    */
  object VideoCodec {
    def encode(frames: Array[Array[Byte]]): Array[Byte] = {
      val total = 8 + frames.map(_.length + 4).sum
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GVID".getBytes("US-ASCII")).putInt(frames.length)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }

    def decode(payload: Array[Byte]): Option[Array[Array[Byte]]] = {
      if (payload.length < 8) return None
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4); bb.get(magic)
      if (new String(magic, "US-ASCII") != "GVID") return None
      val n = bb.getInt
      if (n < 0 || n > (1 << 20)) return None
      val out = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        if (bb.remaining < 4) return None
        val len = bb.getInt
        if (len < 0 || bb.remaining < len) return None
        val f = new Array[Byte](len); bb.get(f)
        out(i) = f
        i += 1
      }
      Some(out)
    }
  }

  /** Fixture-path video synthesis: video `id` carries `4 + id mod 5`
    * BMP frames, frame `f` drawn by the SAME analytic pixel formula
    * as the image fixture with frame key `id·10 + f` — so every
    * frame of a video shares the video's md5 block texture (base
    * `id`, since key div 10 = id for f < 10) and differs only by the
    * sparse per-variant flip: consecutive frames are perceptual
    * near-duplicates, exactly like real video.
    */
  def synthVideoRecords(df: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.util.Parallelism.ensure(
      df.select(col(idCol).cast("long").as("id"))).as[Long].map { id =>
      val n = (4 + id % 5).toInt
      val frames = Array.tabulate(n)(f => synthBmp(id * 10 + f))
      MediaRecord(id, VideoCodec.encode(frames), "video/gvid",
        Map("codec" -> "gvid-bmp24"))
    }
  }

  /** Sampled frame hashes `(id, frame_idx, width, height, d0, d1)`:
    * decode the container, keep every `stride`-th frame, dHash each
    * through the [[dhashBytes]] kernel — the standard video
    * near-duplicate fingerprint (frame-sampled perceptual hashes;
    * pairs then go through [[graft.ops.Similarity.hammingNearDupPairsSig]]
    * like still images). Corrupt container → one `(id, -1, …)`
    * sentinel row.
    */
  def videoFrameHashes(records: Dataset[MediaRecord], stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = records.sparkSession
    import spark.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        VideoCodec.decode(r.media) match {
          case Some(frames) =>
            frames.iterator.zipWithIndex
              .filter { case (_, f) => f % stride == 0 }
              .map { case (bytes, f) =>
                val (w, h, d0, d1) = dhashBytes(bytes)
                (r.id, f.toLong, w, h, d0, d1)
              }
          case None => Iterator((r.id, -1L, -1, -1, 0L, 0L))
        }
      }
    }.toDF("id", "frame_idx", "width", "height", "d0", "d1")
  }
}
