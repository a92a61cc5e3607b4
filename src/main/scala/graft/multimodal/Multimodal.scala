package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** A record carrying an opaque binary media payload plus typed metadata —
  * the multimodal-column pattern: media stays an opaque `binary` column,
  * decode/feature-extraction runs partition-wise over typed batches. */
case class MediaRecord(doc_id: Long, payload: Array[Byte])

/** Decoded (stubbed) media metadata. */
case class MediaMeta(doc_id: Long, byte_len: Long, width: Long, height: Long, fmt: String)

/** Multimodal-column plumbing for the training-data-pipeline superset.
  *
  * Real image/audio codecs are not available in this container, so the
  * "decode" is a clearly-marked deterministic fake derived from the payload
  * byte length. Two implementations of the same contract:
  *
  *  - [[mediaMeta]] — the verified query: the stub is pure column
  *    arithmetic over `length(binary)` so the whole pipeline stays inside
  *    whole-stage codegen (and is oracle-checkable byte-for-byte; both
  *    sides measure UTF-8 **bytes**, not characters, so non-ASCII text is
  *    safe).
  *  - [[decodeTyped]] — the partition-wise typed-batch path (the JVM analog
  *    of an Arrow-batched decode UDF) kept for real decoders that need
  *    imperative per-record work (PNG IHDR / JPEG SOF0 header parses,
  *    frame sampling, resizing). Exercised in the test suite; swapping the
  *    stub body for a real codec changes no plan shape.
  */
object Multimodal {

  /** STUB decode arithmetic (single source of truth for both paths). */
  private def stubWidth(n: Column): Column = lit(64L) + n % 577L
  private def stubHeight(n: Column): Column = lit(64L) + (n * 31L) % 417L
  private def stubFmt(n: Column): Column =
    when(n % 3 === 0, "png").when(n % 3 === 1, "jpg").otherwise("webp")

  /** STUB decode, typed form (mirrors the column form exactly). */
  def decodeStub(payload: Array[Byte]): MediaMeta0 = {
    val n = payload.length.toLong
    val fmt = (n % 3) match {
      case 0 => "png"
      case 1 => "jpg"
      case _ => "webp"
    }
    MediaMeta0(n, 64L + n % 577L, 64L + (n * 31L) % 417L, fmt)
  }

  case class MediaMeta0(byte_len: Long, width: Long, height: Long, fmt: String)

  /** Embedding-model stub geometry: output dimensions and the serving
    * batch size (the max records per model invocation). */
  val EmbedDim = 16
  val EmbedBatch = 32

  /** Per-doc embedding output: payload byte length and the component
    * checksum (the oracle-able projection of the vector). */
  case class EmbedOut(doc_id: Long, byte_len: Long, checksum: Long)

  /** STUB embedding "model": a deterministic integer vector from the
    * payload byte length — stands in for the real encoder invocation
    * (single source of truth with the oracle's arithmetic). */
  def embedStub(byteLen: Long): Array[Long] =
    Array.tabulate(EmbedDim)(k => (byteLen * 31 + k * 17) % 97)

  /** The batched-inference core: partition-wise, records grouped into
    * [[EmbedBatch]]-sized batches, ONE "model call" per batch over the
    * whole batch (the vectorized-inference boundary — a real encoder
    * amortizes weights-load and kernel launch across the batch exactly
    * here). `onBatch` is the instrumentation hook the spec uses to
    * count invocations and batch sizes; production passes nothing. */
  private[multimodal] def embedPartitions(
      media: Dataset[MediaRecord],
      onBatch: Int => Unit = _ => ()): Dataset[EmbedOut] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(EmbedBatch).flatMap { batch =>
        onBatch(batch.size)
        val embs = batch.map(r => embedStub(r.payload.length.toLong))
        batch.lazyZip(embs).map { (r, e) =>
          EmbedOut(r.doc_id, r.payload.length.toLong, e.sum)
        }
      }
    }
  }

  /** Batched embedding inference over the opaque media column — the
    * feature-extraction pass of a multimodal training pipeline, with the
    * REAL serving plumbing in the registered path: typed records flow
    * through `mapPartitions`, batch into fixed-size model calls, and
    * come back as doc-keyed vectors (checksummed here so the result is
    * oracle-able; the full `Array[Long]` is one field away). Batch
    * membership depends on physical partitioning, so only
    * partition-INDEPENDENT outputs are emitted — the per-batch shape
    * contract (every batch ≤ [[EmbedBatch]], full batches until the
    * partition tail, ceil(rows/batch) model calls) is pinned in
    * MultimodalSpec via the instrumentation hook. At 100 TB this is the
    * GPU-fleet shape: partitions sized to the accelerator's memory,
    * batches to its throughput knee, and the stub body swaps for the
    * real encoder without touching the plan. */
  def mediaEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      // null media carry nothing to embed: skipped on BOTH sides (the
      // oracle filters text IS NOT NULL), never a typed-path NPE
      .filter(col("payload").isNotNull)
      .as[MediaRecord]
    embedPartitions(media).toDF().orderBy("doc_id")
  }

  /** documents.text cast to a binary payload column → per-media metadata,
    * all column expressions (whole-stage codegen, no JVM object round-trip). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    val n = length(col("text").cast("binary")).cast("long")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), n.as("byte_len"),
        stubWidth(n).as("width"), stubHeight(n).as("height"),
        stubFmt(n).as("fmt"))
      .orderBy("doc_id")
  }

  /** Partition-wise typed decode (for genuinely imperative codecs). Not in
    * the verified query path — see class doc. */
  def decodeTyped(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val m = decodeStub(r.payload)
        MediaMeta(r.doc_id, m.byte_len, m.width, m.height, m.fmt)
      }
    }
  }

  /** REAL container-header parse — not a stub: PNG IHDR and JPEG SOFn
    * width/height straight from header bytes. PNG: 8-byte signature, then
    * the IHDR chunk carries big-endian u32 width/height at offsets 16/20.
    * JPEG: walk the FF-marker segment chain from SOI past APPn/DQT/DHT to
    * the first start-of-frame marker (C0–CF minus DHT C4 / JPG C8 / DAC
    * CC), whose payload is precision(1) height(2) width(2) big-endian.
    * Returns None for payloads that are neither — callers fall back to
    * the stub, so text-as-bytes fixtures keep working unchanged. */
  def parseImageHeader(p: Array[Byte]): Option[MediaMeta0] = {
    def u8(i: Int): Int = p(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length >= 24 && pngSig.indices.forall(i => u8(i) == pngSig(i)) &&
        new String(p, 12, 4, "US-ASCII") == "IHDR")
      Some(MediaMeta0(p.length.toLong, u32(16), u32(20), "png"))
    else if (p.length >= 2 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var out: Option[MediaMeta0] = None
      var halt = false
      // minimal bound: a marker is 2 bytes; length/SOF payload bounds are
      // checked where they are actually read, so short non-SOF tails don't
      // silently abort the walk
      while (!halt && out.isEmpty && i + 1 < p.length) {
        if (u8(i) != 0xff) halt = true
        else {
          // the spec allows any number of 0xFF fill bytes before the marker
          while (i + 1 < p.length && u8(i + 1) == 0xff) i += 1
          if (i + 1 >= p.length) halt = true
          else {
            val marker = u8(i + 1)
            // standalone markers (no length field): TEM, RSTn, repeated SOI
            if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0xd8) i += 2
            // SOS starts the entropy-coded stream and EOI ends the file;
            // SOF always precedes SOS, so reaching either means no frame
            else if (marker == 0xda || marker == 0xd9) halt = true
            else if (i + 3 >= p.length) halt = true
            else {
              val len = u16(i + 2)
              if (len < 2) halt = true
              else if (marker >= 0xc0 && marker <= 0xcf &&
                  marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
                if (i + 8 < p.length)
                  out = Some(MediaMeta0(p.length.toLong,
                    u16(i + 7).toLong, u16(i + 5).toLong, "jpg"))
                else halt = true
              } else i += 2 + len
            }
          }
        }
      }
      out
    } else None
  }

  /** Typed decode with the real header parse, stub as fallback for opaque
    * payloads — the genuine-codec form of [[decodeTyped]]; identical
    * mapPartitions plan shape, so swapping it in changes nothing upstream. */
  def decodeHeaders(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val m = parseImageHeader(r.payload).getOrElse(decodeStub(r.payload))
        MediaMeta(r.doc_id, m.byte_len, m.width, m.height, m.fmt)
      }
    }
  }

  /** Deterministic image-header synthesis for [[mediaHeaders]]: doc_id
    * mod 3 picks the container — 0 → a structurally valid PNG signature +
    * IHDR chunk (plus variable trailing padding, proving the parser reads
    * the header, not the tail), 1 → a JPEG whose SOF0 sits BEHIND an APP0
    * and a variable-length COM segment (proving the marker walk actually
    * skips segments), 2 → an opaque non-image payload (proving the stub
    * fallback). Dimensions and lengths are pure doc_id arithmetic, so the
    * DuckDB oracle reproduces the expected parse without any bytes. */
  def synthesizeHeader(id: Long): Array[Byte] = {
    val w = (1L + id % 1000L).toInt
    val h = (1L + (id * 7L) % 800L).toInt
    (id % 3L) match {
      case 0L =>
        val pad = (id % 17L).toInt
        val b = java.nio.ByteBuffer.allocate(33 + pad)     // big-endian
        b.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        b.putInt(13).put("IHDR".getBytes("US-ASCII"))
        b.putInt(w).putInt(h)
        b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        b.putInt(0xdeadbeef)                               // CRC, unchecked
        b.array()                                          // + pad zero bytes
      case 1L =>
        val pad = (id % 13L).toInt
        val b = java.nio.ByteBuffer.allocate(37 + pad)
        b.put(0xff.toByte).put(0xd8.toByte)                // SOI
        b.put(0xff.toByte).put(0xe0.toByte).putShort(16)   // APP0, len 16
        b.put("JFIF\u0000".getBytes("US-ASCII")).position(b.position() + 9)
        b.put(0xff.toByte).put(0xfe.toByte)                // COM, variable len
        b.putShort((2 + pad).toShort).position(b.position() + pad)
        b.put(0xff.toByte).put(0xc0.toByte).putShort(11)   // SOF0
        b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
        b.put(1.toByte).put(1.toByte).put(0x11.toByte).put(0.toByte)
        b.array()
      case _ =>
        Array.fill((10L + id % 29L).toInt)('A'.toByte)     // matches no magic
    }
  }

  /** Shared decode pipeline of the header surface: synthesize the
    * deterministic container payload per doc, parse it back through the
    * real byte-walk (stub fallback for the opaque third). ONE source for
    * [[mediaHeaders]] and [[mediaHeaderCensus]] — MultimodalSpec asserts
    * the census equals this rolled up, and sharing the pipeline makes
    * that equality structural, not coincidental. */
  private def decodedHeaders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .map(id => MediaRecord(id, synthesizeHeader(id)))
    decodeHeaders(media).toDF()
  }

  def mediaHeaders(spark: SparkSession, dir: String): DataFrame =
    decodedHeaders(spark, dir).orderBy("doc_id")

  /** Format x width-bucket census over the REAL header decode — the
    * corpus-profile report a multimodal training pipeline runs first
    * ("what formats and resolutions am I holding?"). Same decode path as
    * [[mediaHeaders]] (synthesize → [[decodeHeaders]] byte walk → stub
    * fallback), then a grouped rollup: row counts, dimension extrema, and
    * byte totals per (fmt, floor(width/100)). The oracle re-derives every
    * cell from the synthesis arithmetic, so a parser that misreads a
    * single header shifts a bucket count and hash-mismatches. Scale
    * shape: one mapPartitions decode (the codec boundary) feeding a
    * partial-agg groupBy on a low-cardinality key — map-side combine
    * collapses the shuffle to ~|fmt x buckets| rows per partition
    * regardless of corpus size. */
  def mediaHeaderCensus(spark: SparkSession, dir: String): DataFrame = {
    decodedHeaders(spark, dir)
      .groupBy(col("fmt"), floor(col("width") / lit(100)).as("w_bucket"))
      .agg(count(lit(1)).as("n"),
        min("width").as("min_w"), max("width").as("max_w"),
        min("height").as("min_h"), max("height").as("max_h"),
        sum("byte_len").as("bytes"))
      .orderBy("fmt", "w_bucket")
  }

  /** Frame-sampling plumbing: each payload yields one row per fixed-stride
    * "frame" (stub boundaries every FrameStep bytes — a real video decoder
    * would emit keyframe offsets here). The generator shape (posexplode of
    * a per-record offset sequence) is exactly what a real frame sampler
    * compiles to; only the boundary arithmetic is stubbed. */
  val FrameStep = 100L

  def mediaFrames(spark: SparkSession, dir: String): DataFrame = {
    val n = length(col("text").cast("binary")).cast("long")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), n.as("byte_len"))
      .filter(col("byte_len") > 0)
      .select(col("doc_id"), col("byte_len"),
        posexplode(expr(s"sequence(0L, byte_len - 1, ${FrameStep}L)")))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        col("col").as("offset"),
        least(lit(FrameStep), col("byte_len") - col("col")).as("frame_len"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Resize planning: fit each (stub-decoded) image into TargetPx² while
    * preserving aspect ratio — the dimension arithmetic every real resize
    * kernel needs, as exact column expressions (the pixel transform itself
    * would live in the typed-decode path next to the codec). */
  val TargetPx = 224L

  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    val n = length(col("text").cast("binary")).cast("long")
    val w = stubWidth(n)
    val h = stubHeight(n)
    val scale = least(lit(TargetPx) / w.cast("double"), lit(TargetPx) / h.cast("double"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), w.as("width"), h.as("height"),
        greatest(lit(1L), floor(w.cast("double") * scale).cast("long")).as("out_w"),
        greatest(lit(1L), floor(h.cast("double") * scale).cast("long")).as("out_h"))
      .orderBy("doc_id")
  }

  /** Content-hash media dedup: the same-bytes-same-asset decision every
    * multimodal pipeline runs before decode (hashing is cheap; decoding
    * a duplicate is not). Digest over the OPAQUE binary payload — no
    * decode needed — one window shuffle on the digest; the canonical
    * copy is the min doc_id of each content group. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("content_hash")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .orderBy("doc_id")
  }

  /** Sample count for the average hash; 48 bits keeps every shifted bit
    * and the bit-sum comfortably inside BIGINT. */
  val AhashBits = 48

  /** Perceptual-hash (aHash) fingerprint over the media payload: sample
    * [[AhashBits]] evenly-spaced values, threshold each against the
    * sample mean, pack the bits — near-identical assets land on equal or
    * Hamming-close hashes, unlike [[mediaDedup]]'s exact digest. With a
    * real decoder the samples would be downscaled pixel luma; here they
    * are code points of the text-as-payload fixture (clearly-marked stub
    * input, real fingerprint arithmetic — swapping the sampler for a
    * codec changes nothing downstream). All-integer: positions are exact
    * integer division, the mean test is `v·N >= Σv` (no division), the
    * pack is shifted-bit sums — engine-identical by construction. One
    * scan + one hash-partitioned window for the collision count. */
  /** (doc_id, ahash) via the native kernel — shared by the fingerprint
    * table and the banded pair emitter. */
  private def ahashFrame(spark: SparkSession, dir: String): DataFrame = {
    val hashCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.AHash(
        org.apache.spark.sql.GraftBridge.expression(col("text")), AhashBits))
    Tables(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), hashCol.as("ahash"))
  }

  def mediaAhash(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ahash")
    ahashFrame(spark, dir)
      .withColumn("n_same", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Scene-boundary threshold: a cut is a consecutive-frame Hamming
    * distance strictly above half the [[AhashBits]] fingerprint — the
    * distance two UNRELATED frames sit near, so smooth continuations
    * (near-identical fingerprints) stay below it by a wide margin. */
  val SceneCutHamming: Int = AhashBits / 2

  /** Scene-cut detection over the frame stream — the shot-segmentation
    * pass of a video pipeline: each [[FrameStep]]-byte frame of the
    * payload gets the 48-bit average-hash fingerprint (same native
    * kernel as [[mediaAhash]], here over the frame SLICE), consecutive
    * frames within an asset compare by Hamming distance (`bit_count`
    * of the XOR, exact integers), and a boundary fires where the
    * distance exceeds [[SceneCutHamming]]. Per asset: frame count, cut
    * count, and the largest jump. Plan: one scan + posexplode linear in
    * payload bytes, the lag window partitions by asset (per-asset frame
    * counts are bounded, so no window ever sees more than one asset's
    * frames), one grouped aggregate — no joins at all. With a real
    * decoder the fingerprint input would be downscaled luma per frame;
    * the stub slices the text-as-payload fixture, arithmetic unchanged. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    // frame layout in CHARACTERS, not bytes: the fingerprint samples
    // code points (substring + the kernel's code-point walk), so a
    // byte-offset grid would desynchronize slicing from sampling on any
    // non-ASCII payload (a real decoder's byte offsets live at the
    // codec boundary, before this text-as-payload stub)
    val frames = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("char_len"))
      .filter(col("char_len") > 0)
      .select(col("doc_id"), col("text"),
        posexplode(expr(s"sequence(0L, char_len - 1, ${FrameStep}L)")))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        expr(s"substring(text, cast(col + 1 as int), ${FrameStep.toInt})")
          .as("frame"))
    val hashCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.AHash(
        org.apache.spark.sql.GraftBridge.expression(col("frame")), AhashBits))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frames.select(col("doc_id"), col("frame_idx"), hashCol.as("fh"))
      .withColumn("prev", lag("fh", 1).over(w))
      .withColumn("hamming", expr("cast(bit_count(fh ^ prev) as int)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("hamming") > SceneCutHamming, 1L).otherwise(0L))
          .as("n_cuts"),
        max("hamming").as("max_hamming"))
      .orderBy("doc_id")
  }

  /** DCT perceptual hash (pHash) over the media payload — the
    * frequency-domain sibling of [[mediaAhash]]: 64 samples arranged as
    * an 8×8 grid, 2-D DCT on the fixed-point integer basis
    * ([[graft.functions.PHashConsts.Dct]] — rounded once in Scala and
    * interpolated verbatim into the oracle, so both engines transform
    * with the identical basis and the whole pipeline is exact BIGINT),
    * 63 AC coefficients thresholded strictly above their median. pHash
    * survives uniform brightness/contrast shifts that move every aHash
    * sample; with a real decoder the grid would be the 8×8 downscale of
    * luma — same stub-sampler posture as [[mediaAhash]], same native
    * codegen'd kernel shape: one scan, |docs| rows, NO exchange before
    * the collision window. */
  /** (doc_id, phash) via the native kernel — shared by the fingerprint
    * table and the banded pair emitter. */
  private def phashFrame(spark: SparkSession, dir: String): DataFrame = {
    val hashCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.PHash64(
        org.apache.spark.sql.GraftBridge.expression(col("text"))))
    Tables(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), hashCol.as("phash"))
  }

  def mediaPhash(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    phashFrame(spark, dir)
      .withColumn("n_same", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** [[mediaAhashPairs]] over the DCT hash: 4×16-bit banding of the
    * 63-bit pHash (the top band carries 15 meaningful bits) — the same
    * pigeonhole guarantee for Hamming ≤ 3 and the same bounded-bucket
    * candidate generation, over the brightness/contrast-robust
    * fingerprint instead of the sample-domain one. */
  def mediaPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    bandedHashPairs(phashFrame(spark, dir), "phash", 4, 16)
  }

  /** Asset CLUSTERS over the pHash near-dup pairs — the grouping step a
    * multimodal curation pipeline runs after the pairwise sweep (pairs
    * say "these two look alike"; dedup budgets and keep-one decisions
    * need the transitive cluster): connected components over
    * [[mediaPhashPairs]]' candidate edges via the dedup family's
    * min-label-propagation + pointer-jumping engine (shared code —
    * `graft.dedup.Dedup.componentClusters` — so cross-family cluster
    * semantics cannot drift). Per cluster: the representative (min
    * asset id) and member count. Same 100 TB posture as
    * dedup_components: edges are banded/bucket-capped, the loop carries
    * node-sized labels with per-round localCheckpoint. */
  def phashComponents(spark: SparkSession, dir: String): DataFrame = {
    graft.dedup.Dedup.componentClusters(
        mediaPhashPairs(spark, dir)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("rep"), col("n_docs").as("n_assets"))
      .orderBy("rep")
  }

  /** Perceptual near-dup candidate PAIRS: 4×12-bit banding of the aHash —
    * pigeonhole-complete for Hamming ≤ 3 (any two hashes within 3 bits
    * agree on at least one of 4 bands) — with the dedup family's
    * 2..MaxBucket size cap applied BEFORE the self-join, so candidate
    * generation is an equi-join over bounded buckets, never a corpus
    * self-product (same asymptotics remedy as `dedup_simhash_pairs`,
    * same documented recall trade on mega-buckets). This is the
    * image-near-dup sweep of a multimodal curation pipeline, runnable
    * before any decode. */
  def mediaAhashPairs(spark: SparkSession, dir: String): DataFrame = {
    bandedHashPairs(ahashFrame(spark, dir), "ahash", 4, 12)
  }

  /** Banded Hamming-candidate sweep shared by [[mediaAhashPairs]] and
    * [[mediaPhashPairs]]: explode `bands` keys of `bandBits` bits each
    * from `hcol`, cap buckets to 2..MaxBucket BEFORE the self-join
    * (bounded-bucket equi-join candidates, never a corpus self-product),
    * confirm by exact Hamming distance. */
  private def bandedHashPairs(frame: DataFrame, hcol: String,
      bands: Int, bandBits: Int): DataFrame = {
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        expr(s"($hcol div ${1L << (bandBits * b)}) % ${1L << bandBits}").as("key")))
    val banded = frame.select(col("doc_id"), col(hcol),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col(hcol),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // one-pass bounded bucket→pairs (graft.dedup.Dedup.bucketPairs): the
    // count + members land in ONE aggregation pass and pair expansion is
    // local, instead of count→filter→join-back→self-join re-evaluating
    // the fingerprint scan per reference (r17 optimization)
    graft.dedup.Dedup.bucketPairs(banded, Seq("band", "key"),
        col("doc_id"), col(hcol))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(a_c1 ^ b_c1)").as("hamming"))
      .filter(col("hamming") <= graft.dedup.Dedup.MaxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** HOF spelling of [[mediaAhash]]'s kernel — the portable spec, pinned
    * bit-identical to the native expression in MultimodalSpec (winnow
    * precedent: one codegen'd per-row kernel call vs a 48-lambda
    * transform/aggregate chain). */
  def mediaAhashSpec(spark: SparkSession, dir: String): DataFrame = {
    val n = AhashBits
    Tables(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        expr(s"transform(sequence(0, ${n - 1}), j -> " +
          s"ascii(substring(text, CAST(1 + ((length(text) - 1) * j) DIV ${n - 1} AS INT), 1)))")
          .as("v"))
      .select(col("doc_id"), col("v"),
        expr("aggregate(v, 0L, (a, x) -> a + CAST(x AS BIGINT))").as("sv"))
      .select(col("doc_id"),
        expr(s"aggregate(transform(sequence(0, ${n - 1}), j -> " +
          s"IF(CAST(v[j] AS BIGINT) * $n >= sv, shiftleft(1L, j), 0L)), " +
          "0L, (a, x) -> a + x)").as("ahash"))
      .orderBy("doc_id")
  }

  /** Query-set selector for the pHash nearest-image search: one probe
    * image every 250 ids. */
  val PhashQueryMod = 250L

  /** Nearest-image search: for each probe image, the 3 corpus images
    * with the smallest pHash Hamming distance — "find visually similar
    * images" as a fingerprint-domain k-NN, no decode needed. The probe
    * set is tiny and broadcast against the corpus fingerprint scan (the
    * similarity family's bounded 1×N product), and the per-probe ranking
    * runs through the bounded-heap TopKPerGroup operator — at most
    * |probes|·3 rows cross the exchange, never a sorted corpus
    * partition per probe. */
  def mediaPhashTopK(spark: SparkSession, dir: String): DataFrame = {
    val ph = phashFrame(spark, dir)
    val q = ph.filter(col("doc_id") % PhashQueryMod === 1L)
      .select(col("doc_id").as("qid"), col("phash").as("qhash"))
    val scored = ph.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        expr("CAST(bit_count(phash ^ qhash) AS INT)").as("hamming"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("hamming", true), ("doc_id", true)), 3)
      .orderBy("qid", "rn")
  }

  /** pHash search against the PERSISTED fingerprint index — the fourth
    * family on the [[graft.similarity.IndexStore]] protocol (ANN,
    * tokenizer, dedup, now perceptual hashes): the 64-bit fingerprint
    * table is computed once per sf dir and stored; serving pays only
    * the broadcast query join + Hamming ranking over the stored codes —
    * at 100 TB the decode+DCT fingerprint pass over raw media is the
    * expensive half, and no production image-dedup system re-runs it
    * per query. Row-for-row [[mediaPhashTopK]] (spec-pinned); the
    * oracle reads the SAME artifact via read_parquet. */
  def mediaPhashServed(spark: SparkSession, dir: String): DataFrame = {
    val ph = graft.similarity.IndexStore.ensure(spark, dir, "phash_index")(
      phashFrame(spark, dir))
    val q = ph.filter(col("doc_id") % PhashQueryMod === 1L)
      .select(col("doc_id").as("qid"), col("phash").as("qhash"))
    val scored = ph.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        expr("CAST(bit_count(phash ^ qhash) AS INT)").as("hamming"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("hamming", true), ("doc_id", true)), 3)
      .orderBy("qid", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash_topk" -> (mediaPhashTopK _),
    "mm_phash_served" -> (mediaPhashServed _),
    "mm_embed_stub" -> (mediaEmbed _),
    "mm_headers" -> (mediaHeaders _),
    "mm_header_census" -> (mediaHeaderCensus _),
    "mm_ahash" -> (mediaAhash _),
    "mm_phash" -> (mediaPhash _),
    "mm_phash_pairs" -> (mediaPhashPairs _),
    "mm_phash_components" -> (phashComponents _),
    "mm_ahash_pairs" -> (mediaAhashPairs _),
    "mm_meta" -> (mediaMeta _),
    "mm_frames" -> (mediaFrames _),
    "mm_scene_cuts" -> (sceneCuts _),
    "mm_resize" -> (mediaResize _),
    "mm_dedup" -> (mediaDedup _))

  /** pHash candidate-pair CTE prefix ending in `pp(doc_a, doc_b,
    * hamming)` — the banded/bucket-capped sweep, shared by the pair
    * report and the cluster (components) oracle. Defined lazily: it
    * interpolates [[phashCtes]], which is declared below. */
  private lazy val phashPairCtes: String =
    s"""$phashCtes,
       |banded AS (
       |  SELECT doc_id, phash, b AS band,
       |    (phash // CAST(pow(2, 16 * b) AS BIGINT)) % 65536 AS key
       |  FROM ph, UNNEST(range(0, 4)) t(b)),
       |small AS (
       |  SELECT band, key FROM banded GROUP BY band, key
       |  HAVING count(*) BETWEEN 2 AND ${graft.dedup.Dedup.MaxBucket}),
       |capped AS (SELECT b.* FROM banded b JOIN small USING (band, key)),
       |pp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= ${graft.dedup.Dedup.MaxHamming})""".stripMargin

  /** aHash oracle prefix ending in `h(doc_id, ahash)` — length() counts
    * CHARACTERS in both engines and ascii() returns the code point of
    * the first character in both, so the spelling is non-ASCII safe.
    * Shared by the fingerprint and pair oracles. */
  private val ahashCtes: String =
    s"""s AS (
       |  SELECT doc_id, j,
       |    ascii(substr(text,
       |      CAST(1 + ((length(text) - 1) * j) // ${AhashBits - 1} AS INTEGER), 1)) AS v
       |  FROM documents, UNNEST(range(0, $AhashBits)) t(j)
       |  WHERE length(text) > 0),
       |m AS (SELECT doc_id, j, v, sum(v) OVER (PARTITION BY doc_id) AS sv FROM s),
       |h AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v * $AhashBits >= sv
       |                  THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash
       |  FROM m GROUP BY doc_id)""".stripMargin

  /** DuckDB spelling of the pHash table as a CTE prefix ending in
    * `ph(doc_id, phash)` — the integer DCT basis interpolated verbatim
    * from [[graft.functions.PHashConsts.Dct]]; shared by the mm_phash
    * and mm_phash_pairs oracles. */
  private val phashCtes: String = {
    import graft.functions.PHashConsts.{Dct, Grid, Samples}
    val basisRows = (for (u <- 0 until Grid; x <- 0 until Grid)
      yield s"($u, $x, ${Dct(u)(x)})").mkString(",\n|    ")
    s"""basis(u, x, cv) AS (VALUES
       |    $basisRows),
       |px AS (
       |  SELECT doc_id, k,
       |    ascii(substr(text,
       |      CAST(1 + ((length(text) - 1) * k) // ${Samples - 1} AS INTEGER), 1)) AS p
       |  FROM documents, UNNEST(range(0, $Samples)) t(k)
       |  WHERE length(text) > 0),
       |f AS (
       |  SELECT doc_id, cu.u AS u, cv.u AS v,
       |    CAST(sum(cu.cv * cv.cv * px.p) AS BIGINT) AS fval
       |  FROM px
       |  JOIN basis cu ON cu.x = px.k // $Grid
       |  JOIN basis cv ON cv.x = px.k % $Grid
       |  GROUP BY doc_id, cu.u, cv.u),
       |ac AS (
       |  SELECT doc_id, u * $Grid + v AS k, fval FROM f
       |  WHERE NOT (u = 0 AND v = 0)),
       |med AS (
       |  SELECT doc_id, fval AS m FROM (
       |    SELECT doc_id, fval,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY fval) AS rn
       |    FROM ac) WHERE rn = ${(Samples - 1) / 2 + 1}),
       |ph AS (
       |  SELECT ac.doc_id,
       |    CAST(sum(CASE WHEN ac.fval > med.m
       |      THEN CAST(pow(2, ac.k - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
       |  FROM ac JOIN med USING (doc_id) GROUP BY ac.doc_id)""".stripMargin
  }

  /** Oracle mirrors the stub arithmetic; DuckDB strlen counts UTF-8 bytes
    * (= Spark length over the binary cast), so non-ASCII text matches. */
  // a DEF, not a val: serve-query oracles embed IndexStore.duckdbScan,
  // which resolves the artifact symlink to its current immutable version.
  // That resolution must happen when oracle_sql.json is WRITTEN (after
  // every build/republish in the run), not at object-init time — a val
  // freezes the pre-rebuild version, which the GC grace window still
  // keeps on disk, and the oracle silently compares a stale artifact.
  def oracles: Map[String, String] = Map(
    "mm_embed_stub" ->
      s"""WITH d AS (SELECT doc_id, strlen(text) AS byte_len FROM documents
         |           WHERE text IS NOT NULL),
         |e AS (
         |  SELECT doc_id, byte_len, (byte_len * 31 + 17 * t.i) % 97 AS c
         |  FROM d, range(0, $EmbedDim) t(i))
         |SELECT doc_id, byte_len, CAST(sum(c) AS BIGINT) AS checksum
         |FROM e GROUP BY doc_id, byte_len ORDER BY doc_id""".stripMargin,
    "mm_phash_topk" ->
      s"""WITH $phashCtes,
         |q AS (SELECT doc_id AS qid, phash AS qhash FROM ph
         |      WHERE doc_id % $PhashQueryMod = 1),
         |s AS (
         |  SELECT qid, ph.doc_id,
         |    CAST(bit_count(xor(phash, qhash)) AS INTEGER) AS hamming
         |  FROM ph, q WHERE ph.doc_id <> qid),
         |r AS (
         |  SELECT qid, doc_id, hamming,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY hamming ASC, doc_id ASC) AS rn
         |  FROM s)
         |SELECT qid, doc_id, hamming, rn FROM r
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "mm_phash_served" ->
      s"""WITH ph AS (
         |  SELECT doc_id, phash
         |  FROM ${graft.similarity.IndexStore.duckdbScan("phash_index")}),
         |q AS (SELECT doc_id AS qid, phash AS qhash FROM ph
         |      WHERE doc_id % $PhashQueryMod = 1),
         |s AS (
         |  SELECT qid, ph.doc_id,
         |    CAST(bit_count(xor(phash, qhash)) AS INTEGER) AS hamming
         |  FROM ph, q WHERE ph.doc_id <> qid),
         |r AS (
         |  SELECT qid, doc_id, hamming,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY hamming ASC, doc_id ASC) AS rn
         |  FROM s)
         |SELECT qid, doc_id, hamming, rn FROM r
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // every field re-derived from the synthesis arithmetic: PNG ids parse
    // IHDR w/h, JPEG ids parse SOF0 behind the segment walk, opaque ids
    // fall back to the stub formulas over their synthetic length
    "mm_headers" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 33 + doc_id % 17
        |    WHEN 1 THEN 37 + doc_id % 13
        |    ELSE 10 + doc_id % 29 END AS BIGINT) AS byte_len,
        |  CAST(CASE doc_id % 3
        |    WHEN 2 THEN 64 + (10 + doc_id % 29) % 577
        |    ELSE 1 + doc_id % 1000 END AS BIGINT) AS width,
        |  CAST(CASE doc_id % 3
        |    WHEN 2 THEN 64 + ((10 + doc_id % 29) * 31) % 417
        |    ELSE 1 + (doc_id * 7) % 800 END AS BIGINT) AS height,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
        |    ELSE CASE (10 + doc_id % 29) % 3
        |      WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END
        |  END AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the census oracle rolls the same per-doc arithmetic up by
    // (fmt, floor(width/100)): one wrong header parse shifts a cell
    "mm_header_census" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(CASE doc_id % 3
        |      WHEN 0 THEN 33 + doc_id % 17
        |      WHEN 1 THEN 37 + doc_id % 13
        |      ELSE 10 + doc_id % 29 END AS BIGINT) AS byte_len,
        |    CAST(CASE doc_id % 3
        |      WHEN 2 THEN 64 + (10 + doc_id % 29) % 577
        |      ELSE 1 + doc_id % 1000 END AS BIGINT) AS width,
        |    CAST(CASE doc_id % 3
        |      WHEN 2 THEN 64 + ((10 + doc_id % 29) * 31) % 417
        |      ELSE 1 + (doc_id * 7) % 800 END AS BIGINT) AS height,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
        |      ELSE CASE (10 + doc_id % 29) % 3
        |        WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END
        |    END AS fmt
        |  FROM documents)
        |SELECT fmt, CAST(floor(width / 100.0) AS BIGINT) AS w_bucket,
        |  count(*) AS n, min(width) AS min_w, max(width) AS max_w,
        |  min(height) AS min_h, max(height) AS max_h,
        |  CAST(sum(byte_len) AS BIGINT) AS bytes
        |FROM h GROUP BY fmt, w_bucket ORDER BY fmt, w_bucket""".stripMargin,
    "mm_ahash" ->
      s"""WITH $ahashCtes
         |SELECT doc_id, ahash,
         |       count(*) OVER (PARTITION BY ahash) AS n_same
         |FROM h ORDER BY doc_id""".stripMargin,
    "mm_phash" ->
      s"""WITH $phashCtes
         |SELECT doc_id, phash,
         |       count(*) OVER (PARTITION BY phash) AS n_same
         |FROM ph ORDER BY doc_id""".stripMargin,
    "mm_phash_pairs" ->
      s"""WITH $phashPairCtes
         |SELECT doc_a, doc_b, hamming FROM pp
         |ORDER BY doc_a, doc_b""".stripMargin,
    "mm_phash_components" ->
      s"""WITH RECURSIVE $phashPairCtes,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pp
         |  UNION ALL SELECT doc_b, doc_a FROM pp),
         |nodes AS (SELECT DISTINCT src AS doc FROM edges),
         |reach AS (
         |  SELECT doc, doc AS root FROM nodes
         |  UNION
         |  SELECT e.dst AS doc, r.root FROM reach r JOIN edges e ON e.src = r.doc)
         |SELECT root AS rep, count(*) AS n_assets
         |FROM (SELECT doc, min(root) AS root FROM reach GROUP BY doc)
         |GROUP BY root ORDER BY rep""".stripMargin,
    "mm_ahash_pairs" ->
      s"""WITH $ahashCtes,
         |banded AS (
         |  SELECT doc_id, ahash, b AS band,
         |    (ahash // CAST(pow(2, 12 * b) AS BIGINT)) % 4096 AS key
         |  FROM h, UNNEST(range(0, 4)) t(b)),
         |small AS (
         |  SELECT band, key FROM banded GROUP BY band, key
         |  HAVING count(*) BETWEEN 2 AND ${graft.dedup.Dedup.MaxBucket}),
         |capped AS (SELECT b.* FROM banded b JOIN small USING (band, key))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM capped a JOIN capped b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= ${graft.dedup.Dedup.MaxHamming}
         |ORDER BY doc_a, doc_b""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS byte_len,
        |  64 + CAST(strlen(text) AS BIGINT) % 577 AS width,
        |  64 + (CAST(strlen(text) AS BIGINT) * 31) % 417 AS height,
        |  CASE CAST(strlen(text) AS BIGINT) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_dedup" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  count(*) OVER (PARTITION BY md5(text)) AS n_copies,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_scene_cuts" ->
      s"""WITH f AS (
         |  SELECT doc_id, text, CAST(o AS BIGINT) // ${FrameStep} AS frame_idx,
         |    CAST(o AS BIGINT) AS off,
         |    least(${FrameStep}, strlen(text) - o) AS flen
         |  FROM documents,
         |       UNNEST(generate_series(0, strlen(text) - 1, ${FrameStep})) t(o)
         |  WHERE strlen(text) > 0),
         |s AS (
         |  SELECT doc_id, frame_idx, j,
         |    ascii(substr(text,
         |      CAST(off + 1 + ((flen - 1) * j) // ${AhashBits - 1} AS INTEGER), 1)) AS v
         |  FROM f, UNNEST(range(0, $AhashBits)) t(j)),
         |m AS (SELECT doc_id, frame_idx, j, v,
         |        sum(v) OVER (PARTITION BY doc_id, frame_idx) AS sv FROM s),
         |h AS (
         |  SELECT doc_id, frame_idx,
         |    CAST(sum(CASE WHEN v * $AhashBits >= sv
         |                  THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS fh
         |  FROM m GROUP BY doc_id, frame_idx),
         |l AS (SELECT doc_id, fh,
         |        lag(fh) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pv FROM h),
         |a AS (
         |  SELECT doc_id, count(*) AS n_frames,
         |    CAST(sum(CASE WHEN bit_count(xor(fh, pv)) > $SceneCutHamming
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |    max(CAST(bit_count(xor(fh, pv)) AS INTEGER)) AS max_hamming
         |  FROM l GROUP BY doc_id)
         |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames, n_cuts, max_hamming
         |FROM a ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      s"""SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
         |       k * ${FrameStep} AS offset,
         |       least(${FrameStep}, strlen(text) - k * ${FrameStep}) AS frame_len
         |FROM documents,
         |     UNNEST(range(0, (strlen(text) - 1) // ${FrameStep} + 1)) t(k)
         |WHERE strlen(text) > 0
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    64 + CAST(strlen(text) AS BIGINT) % 577 AS width,
         |    64 + (CAST(strlen(text) AS BIGINT) * 31) % 417 AS height
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, width, height,
         |    least(${TargetPx} / CAST(width AS DOUBLE), ${TargetPx} / CAST(height AS DOUBLE)) AS scale
         |  FROM m)
         |SELECT doc_id, width, height,
         |  greatest(1, CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)) AS out_w,
         |  greatest(1, CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)) AS out_h
         |FROM s ORDER BY doc_id""".stripMargin)
}
