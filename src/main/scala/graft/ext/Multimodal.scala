package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-item media metadata produced by the stubbed decoder. */
case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long, height: Long,
                     channels: Int)

/** Multimodal-column plumbing — treat media as opaque `binary` columns
  * with typed metadata, decode via partition-wise batch processing.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * clearly-marked deterministic FAKE standing in for a real decoder
  * (e.g. JNI/javacv): it derives "dimensions" arithmetically from the
  * byte length. Everything around it — binary column, typed Dataset,
  * mapPartitions batch shape, schema of the result — is the real
  * production plumbing a decoder would drop into.
  */
object Multimodal {

  /** STUB decoder: replace with a real codec. Deterministic arithmetic on
    * the payload length so the DuckDB oracle can reproduce it. */
  private def decodeStub(id: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    MediaMeta(id, n, (n * 7 + 13) % 640, (n * 11 + 17) % 480, 3)
  }

  /** Binary ingestion + partition-wise "decode": text bytes play the role
    * of an opaque media payload (testdata has no binary column). The
    * mapPartitions boundary is where a real decoder would batch-process;
    * partitioning and schema survive a real-codec swap unchanged. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeStub(id, bytes) })
      .toDF()
  }

  /** Pure-plan variant of the metadata extraction (no mapPartitions):
    * binary functions only — stays inside whole-stage codegen. */
  def mediaMetaPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .select(col("doc_id"), col("n_bytes"),
              ((col("n_bytes") * 7 + 13) % 640).as("width"),
              ((col("n_bytes") * 11 + 17) % 480).as("height"),
              lit(3).as("channels"))

  /** Frame size and stride of [[frameSample]]. */
  private[graft] val FrameBytes = 128
  private[graft] val FrameStride = 4

  /** One sampled "frame" per FrameBytes chunk, keeping every FrameStride-th
    * — the frame-sample batch shape: mapPartitions emits MULTIPLE typed
    * rows per input item (a real video decoder slots in at the same
    * seam). */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
        (0 until nFrames by FrameStride).iterator.map { i =>
          val off = i * FrameBytes
          val len = math.min(FrameBytes, bytes.length - off)
          (id, i.toLong, off.toLong, len.toLong)
        }
      })
      .toDF("doc_id", "frame_idx", "frame_off", "frame_len")
  }

  /** Feature extraction over the opaque payload — a REAL computation,
    * not a stub: a 16-bin high-nibble byte histogram per item, the
    * codec-free feature a filtering pipeline can always compute
    * (magic-byte / entropy-ish screening). Same mapPartitions batch seam
    * as the decoder; emits long-form (doc_id, bucket, cnt). Both sides
    * are genuinely byte-based: the oracle walks hex(encode(text)) — the
    * UTF-8 bytes — so the check holds for any corpus, not just ASCII. */
  def byteHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val counts = new Array[Long](16)
        bytes.foreach(b => counts((b & 0xff) >> 4) += 1)
        counts.iterator.zipWithIndex
          .collect { case (c, bucket) if c > 0 => (id, bucket, c) }
      })
      .toDF("doc_id", "bucket", "cnt")
  }

  /** [[histNearDup]]'s L1 threshold in bytes (also its length-band
    * width) and its per-band candidate cap. */
  private[graft] val HistTau = 20L
  private[graft] val HistBandCap = 256

  /** Media near-dup by byte-histogram distance — the cheap signature
    * tier BETWEEN byte-identical dedup ([[mediaDedup]], exact only)
    * and content-defined chunking ([[cdcPairs]], byte-shift robust but
    * chunk-granular): two payloads whose FULL 256-bin byte histograms
    * sit within L1 ≤ τ are near-identical byte mixtures — re-encodes,
    * tiny patches, metadata edits. (The 16-bin nibble histogram of
    * [[byteHistogram]] is NOT discriminative enough here — measured:
    * 65% of length-band candidates pass τ=20 at 16 bins vs 0.3% at
    * 256.) Candidate generation is a BANDED LENGTH JOIN (the
    * join_band_bucket shape, never all pairs): |len_a − len_b| ≤
    * Σ|h_a − h_b| = L1 ≤ τ, so blocking on length bands of width τ
    * (probe side fans to bands −1/0/+1, build side keys its own band —
    * each pair matches exactly once) is LOSSLESS for the final
    * threshold. The L1 stage is one row per candidate: each doc carries
    * its DENSE 256-long histogram array and the distance is the native
    * codegen'd [[graft.functions.ArrayL1]] primitive — the first cut
    * (explode both signatures to (pair, bucket, ±cnt) rows, aggregate
    * twice) shuffled |candidates|×|bins| rows and measured 81 s at
    * sf0.1 on a length-concentrated corpus (10⁶ band candidates);
    * the array form runs the identical million candidates in seconds
    * with NO per-pair shuffle (the ArrayDot-over-HOF rule applied to
    * integer signatures).
    *
    * HOT-BAND GUARDRAIL: this synthetic corpus concentrates ALL its
    * documents onto ~27 length bands, so band occupancy — and with it
    * the candidate count — grows LINEARLY with the corpus (measured
    * 28 / 245 / 2450 docs in the largest band at sf0.01/0.1/1 →
    * quadratic pairs, 224 s at sf1 uncapped). Per the dedup family's
    * bucket-cap rule, each band keeps its first `cap` = 256 docs in
    * the content-independent saltOrd order (a deterministic unbiased
    * sample, the shingleGroups truncation precedent), bounding pairs
    * at |bands|·3·cap² at ANY corpus size; truncation is OBSERVABLE
    * via the `graft_bucket_cap_band` metric ([[CapMetrics]] WARN-logs
    * firings — the remediation is a narrower τ or a signature screen
    * like dedup_minhash_lsh first). The cap does not bite below
    * occupancy 256 (sf0.01 and sf0.1 results are exactly the uncapped
    * ones, and the oracle builds the same cap CTE). τ = [[HistTau]]
    * bytes is band width AND threshold on both engines. */
  def histNearDup(spark: SparkSession, dir: String, tau: Long = HistTau): DataFrame =
    histNearDupOf(spark, Tables.documents(spark, dir), tau)

  /** [[histNearDup]] over any (doc_id, text) frame — standalone so the
    * spec can drive the band cap on a crafted hot-band fixture. */
  private[graft] def histNearDupOf(spark: SparkSession, docs: DataFrame,
                                   tau: Long = HistTau,
                                   cap: Int = HistBandCap): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val h = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val counts = new Array[Long](256)
        bytes.foreach(b => counts(b & 0xff) += 1)
        (id, bytes.length.toLong, counts)
      })
      .toDF("doc_id", "len", "hist")
    val wCap = Window.partitionBy("band")
      .orderBy(Similarity.saltOrd(col("doc_id")).asc, col("doc_id").asc)
    val len = h.select(col("doc_id"), col("len"))
      .withColumn("band", expr(s"len div $tau"))
      .withColumn("rnb", row_number().over(wCap))
      .observe(s"graft_bucket_cap_band_${BandCapSeq.incrementAndGet()}",
        coalesce(sum(when(col("rnb") > cap, 1L).otherwise(0L)), lit(0L))
          .as("rows_truncated"),
        coalesce(max(col("rnb")), lit(0)).as("max_bucket_rows"))
      .filter(col("rnb") <= cap).drop("rnb")
    val probe = len.select(col("doc_id").as("a_id"), col("len").as("len_a"),
      explode(array(col("band") - 1, col("band"), col("band") + 1)).as("bk"))
    val build = len.select(col("doc_id").as("b_id"), col("len").as("len_b"),
      col("band").as("bk"))
    probe.join(build, Seq("bk"))
      .filter(col("a_id") < col("b_id") &&
              abs(col("len_a") - col("len_b")) <= tau)
      .select("a_id", "b_id", "len_a", "len_b")
      .join(h.select(col("doc_id").as("a_id"), col("hist").as("ha")),
            Seq("a_id"))
      .join(h.select(col("doc_id").as("b_id"), col("hist").as("hb")),
            Seq("b_id"))
      .withColumn("l1", graft.functions.ArrayL1.col(col("ha"), col("hb")))
      .filter(col("l1") <= tau)
      .select("a_id", "b_id", "len_a", "len_b", "l1")
      .orderBy("a_id", "b_id")
  }

  /** Monotone id for band-cap metric names — uniqueness within a plan
    * (the Similarity.CapSeq rule). */
  private val BandCapSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Resize stage (pure plan): fit the decoded dimensions into 224×224
    * preserving aspect ratio — the geometry a real resampler would apply;
    * integer-exact across engines via double-multiply + floor. */
  def resizeMeta(spark: SparkSession, dir: String): DataFrame = {
    val longest = greatest(col("width"), col("height"), lit(1L))
    mediaMetaPlan(spark, dir)
      .select(col("doc_id"), col("width"), col("height"),
              floor(col("width") * 224.0 / longest).cast("long").as("out_w"),
              floor(col("height") * 224.0 / longest).cast("long").as("out_h"))
  }

  /** Content-digest media dedup — the standard FIRST step of a media
    * pipeline: drop byte-identical payloads BEFORE any decode spend
    * (decoding is the expensive stage; a 100 TB crawl is full of
    * re-hosted copies of the same bytes). Groups on md5 of the BINARY
    * payload, so the exchange carries 16-byte digests, never payloads —
    * the same digest-group/min-survivor shape as `Dedup.exact`
    * (deliberately: this is exact dedup entered through the binary
    * column; keep the two expressions in lockstep with their oracles).
    * Oracle note: DuckDB's md5 takes
    * VARCHAR only, so the oracle hashes `text`; payload IS the UTF-8
    * encoding of `text` and the corpus is ASCII (TestdataAsciiSpec
    * enforces it), so both engines hash identical bytes. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .groupBy(md5(col("payload")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
           max(octet_length(col("payload"))).cast("long").as("n_bytes"))
      .select("fp", "keep_id", "n_copies", "n_bytes")

  /** Fixed-block chunk size for [[mediaChunkDedup]] — small against the
    * test corpus (docs ≤ ~550 bytes → 1-5 chunks) so the operator's
    * pair/threshold behavior is exercised; a production media store
    * would use 64 KiB-class blocks, changing only this constant. */
  private[graft] val ChunkBytes = 128

  /** Max media items a chunk digest may appear in before it is dropped
    * from candidate generation — the [[Dedup.MaxShingleDf]] rule at byte
    * grain (an all-zeros padding block shared by M items would otherwise
    * generate M² candidate pairs and carries no dedup signal). */
  private[graft] val MaxChunkDf = 100

  /** Chunk-digest near-dup over the binary payload — the
    * backup/dedupe-system shape (fixed-block content chunking): split
    * each payload into [[ChunkBytes]]-byte blocks, digest each block,
    * and flag pairs sharing ≥ 50% of the smaller side's DISTINCT chunk
    * digests. Catches what [[mediaDedup]]'s whole-payload digest cannot:
    * the same bytes re-hosted with an appended trailer / prepended
    * header-block edit (as long as edits are block-aligned; content-
    * defined chunking is the variable-boundary refinement, same plan
    * shape). Scale: candidates come from an inverted chunk-digest index
    * (one shuffle, [[graft.functions.BoundedCollectSet]]-capped posting
    * lists, in-plan suffix pairing — the proven `Dedup.shingleGroups`
    * machinery at byte grain), never payload×payload; the exchange
    * carries 16-byte digests only. Exact integer containment confirm. */
  def mediaChunkDedup(spark: SparkSession, dir: String): DataFrame =
    mediaChunkDedupOf(Tables.documents(spark, dir))

  private[graft] def mediaChunkDedupOf(docs: DataFrame): DataFrame = {
    // distinct (doc, chunk-digest): set semantics, like shingle sets
    val ch = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (greatest(octet_length(payload), 1) - 1) div $ChunkBytes), " +
        s"i -> md5(substring(payload, i * $ChunkBytes + 1, $ChunkBytes)))")).as("d"))
      .distinct()
    chunkPairsOf(ch)
  }

  /** Containment-pair stage over ANY distinct (doc_id, chunk-digest d)
    * frame — the inverted-index / DF-cap / in-plan-pair machinery shared
    * by [[mediaChunkDedupOf]] (fixed blocks) and [[cdcPairs]] (CDC
    * chunks); flags pairs sharing ≥ 50% of the smaller side's digests. */
  private[graft] def chunkPairsOf(ch: DataFrame): DataFrame = {
    val bounded = udaf(new graft.functions.BoundedCollectSet(MaxChunkDf),
                       org.apache.spark.sql.Encoders.scalaLong)
    val grp = ch.groupBy("d").agg(bounded(col("doc_id")).as("ids"))
      .filter(col("ids").isNotNull) // null = hot digest over the DF cap
    // capped long-form frame: sizes and pairs both derive from it, so the
    // cap applies to sets AND candidates consistently (the ngram rule)
    val chr = grp.select(col("d"), explode(col("ids")).as("doc_id"))
    val sz = chr.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = grp
      .select(explode(graft.functions.SuffixPairs.col(col("ids"))).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sz.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .filter(col("inter") * 2 >= least(col("sz_a"), col("sz_b")))
      .select("a_id", "b_id", "inter", "sz_a", "sz_b")
  }

  /** CDC hash constants — window/base/mod feed [[graft.functions.CdcBoundaries]]
    * (hash-identical to PolyHashMod per window; base 131 matches the
    * text-hash family); divisor 32 ⇒ ~32-char average chunks against
    * the 48-553-char test corpus (~9 chunks/doc — boundary behavior
    * actually exercised). A production store would use a 48-64 KiB
    * target, changing only the divisor. The oracle's per-window
    * list_reduce reads these vals. */
  private[graft] val CdcWindow = 16
  private[graft] val CdcBase = 131L
  private[graft] val CdcMod = 1000003L
  private[graft] val CdcDiv = 32L

  /** Content-defined chunks of every document: boundaries from the
    * rolling-hash Expression, ends = in-content boundaries + document
    * end, chunk k = (end_{k-1}, end_k]. Shared base for
    * [[cdcChunkDedup]] and MmCdcSpec's shift-resistance proof. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val bs = graft.functions.CdcBoundaries.col(
      col("text"), CdcWindow, CdcBase, CdcMod, CdcDiv)
    // a boundary AT the end merges into the final chunk end — filter
    // + append keeps the array sorted on both engines (list_distinct
    // order is unspecified in DuckDB, so neither side uses it)
    val ends = concat(filter(bs, x => x < len), array(len))
    docs.select(col("doc_id"), col("text"), ends.as("ends"))
      .select(col("doc_id"), col("text"), col("ends"), posexplode(col("ends")))
      .select(col("doc_id"), col("pos").as("seq"),
        col("text").substr(
          when(col("pos") === 0, lit(1))
            .otherwise(element_at(col("ends"), col("pos")) + 1),
          col("col") - (when(col("pos") === 0, lit(1))
            .otherwise(element_at(col("ends"), col("pos")) + 1)) + 1
        ).as("chunk"))
  }

  /** Content-defined-chunk dedup report — the variable-boundary
    * refinement [[mediaChunkDedup]]'s doc promises: boundaries depend
    * on local content (rsync/LBFS), so a prepended header or an
    * inserted span shifts chunk POSITIONS but preserves every later
    * chunk's bytes and digest — the shifted-duplicate class fixed-size
    * blocking structurally misses (MmCdcSpec proves both directions).
    * Output = every chunk digest occurring ≥ 2 times with its spread
    * (n_docs), occurrence count, min-doc survivor, and chunk length.
    * Scale: one O(n) codegen pass per doc for boundaries, then
    * digest-grouped aggregation — the exchange carries 16-byte digests
    * + counts, never text; same shape as [[mediaDedup]] at chunk
    * grain. */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir))
      .groupBy(md5(encode(col("chunk"), "UTF-8")).as("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occ"),
           min(col("doc_id")).as("keep_id"),
           max(length(col("chunk"))).cast("long").as("chunk_len"))
      .filter(col("n_occ") >= 2)
      .select("fp", "n_docs", "n_occ", "keep_id", "chunk_len")

  /** CDC containment pairs — [[mediaChunkDedup]]'s pair detection on
    * CONTENT-DEFINED chunks: the pair (a, b) survives when they share
    * ≥ 50% of the smaller side's distinct CDC chunk digests. Because
    * boundaries are content-defined, a prepended header or inserted
    * span leaves later chunks byte-identical, so shifted near-copies
    * that fixed blocking scores at 0% overlap score near-100% here —
    * the shift-robust pair detector (MmCdcSpec proves the chunk-level
    * property; this lifts it to pairs). Same scale shape as the fixed-
    * block variant: inverted digest index, DF cap, BoundedCollectSet,
    * in-plan pairing — shared via [[chunkPairsOf]]. */
  def cdcPairs(spark: SparkSession, dir: String): DataFrame =
    cdcPairsOfForTest(Tables.documents(spark, dir))

  private[graft] def cdcPairsOfForTest(docs: DataFrame): DataFrame =
    chunkPairsOf(
      cdcChunksOf(docs)
        .select(col("doc_id"), md5(encode(col("chunk"), "UTF-8")).as("d"))
        .distinct())

  // ---- real (codec-free) image-header parsing — round-9 verdict item 7:
  // past the decodeStub, an actual byte-level parser for the two magic
  // formats a filtering pipeline can always sniff without a codec.

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
    ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** REAL header parser (not a stub): PNG IHDR width/height (big-endian
    * 32-bit at offsets 16/20 after the 8-byte signature + chunk header)
    * or JPEG SOFn width/height (marker walk from SOI, skipping variable-
    * length segments by their declared big-endian lengths until a
    * start-of-frame marker 0xC0–0xCF excluding C4/C8/CC). Reads header
    * bytes only — O(1) per item regardless of payload size, the property
    * that makes dimension screening free at 100 TB. */
  private[graft] def parseImageDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b.length >= 24 && PngSig.indices.forall(i => b(i) == PngSig(i)) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(("png", be32(b, 16), be32(b, 20)))
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 8 < b.length && (b(p) & 0xff) == 0xff) {
        val m = b(p + 1) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return Some(("jpeg", be16(b, p + 7), be16(b, p + 5)))
        p += 2 + be16(b, p + 2)
      }
      None
    } else None
  }

  /** Fixture builders — a VALID minimal PNG prefix (real CRC32 over the
    * IHDR chunk) and a JPEG header with APP0 + a variable-length COM
    * segment (so the parser's marker walk crosses real skippable
    * segments). The ground-truth construction the oracle restates, per
    * the dedup_url pattern. */
  private[graft] def pngFixture(w: Int, h: Int): Array[Byte] = {
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write("IHDR".getBytes("US-ASCII"))
    def w32(v: Int): Unit = { ihdr.write(v >>> 24); ihdr.write((v >>> 16) & 0xff)
                              ihdr.write((v >>> 8) & 0xff); ihdr.write(v & 0xff) }
    w32(w); w32(h)
    ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    val chunk = ihdr.toByteArray
    val crc = new java.util.zip.CRC32(); crc.update(chunk)
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    out.write(0); out.write(0); out.write(0); out.write(13) // data length
    out.write(chunk)
    val c = crc.getValue
    out.write(((c >>> 24) & 0xff).toInt); out.write(((c >>> 16) & 0xff).toInt)
    out.write(((c >>> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    out.toByteArray
  }

  private[graft] def jpegFixture(w: Int, h: Int, comment: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b2(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    b2(0xffd8)                                   // SOI
    b2(0xffe0); b2(16)                           // APP0, len 16
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1)                   // version 1.1
    out.write(0); b2(1); b2(1)                   // units, densities
    out.write(0); out.write(0)                   // thumbnail 0×0
    val cb = comment.getBytes("US-ASCII")
    b2(0xfffe); b2(2 + cb.length); out.write(cb) // COM (variable length)
    b2(0xffc0); b2(17)                           // SOF0 baseline, len 17
    out.write(8); b2(h); b2(w); out.write(3)     // precision, dims, 3 comps
    for (i <- 1 to 3) { out.write(i); out.write(0x11); out.write(0) }
    out.toByteArray
  }

  /** Real dimension extraction through the decoder batch seam: build
    * each doc's deterministic image fixture (even doc_id → PNG, odd →
    * JPEG with a doc-dependent COM length), then PARSE the bytes with
    * [[parseImageDims]] — the parser knows only the public formats, not
    * the construction. Oracle restates (format, width, height, n_bytes)
    * from the fixture arithmetic: w = 16 + id mod 1024, h = 16 + 7·id
    * mod 768, PNG = 33 bytes, JPEG = 46 + digits(id) bytes. */
  def imageDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (16 + id % 1024).toInt
        val h = (16 + (id * 7) % 768).toInt
        val payload =
          if (id % 2 == 0) pngFixture(w, h)
          else jpegFixture(w, h, "doc" + id)
        val (fmt, pw, ph) = parseImageDims(payload)
          .getOrElse(sys.error(s"unparseable fixture for doc $id"))
        (id, fmt, pw.toLong, ph.toLong, payload.length.toLong)
      })
      .toDF("doc_id", "format", "width", "height", "n_bytes")
      .orderBy("doc_id")
  }

  /** `strings`-tool extraction over binary payloads — the classic
    * forensic/ingest pass that pulls human-readable runs out of opaque
    * media (EXIF makers, embedded XMP, codec markers): decode the
    * binary column, extract printable-letter runs ≥ 6 chars, rank the
    * global top-20 by (count desc, run asc). The decode→regexp chain
    * stays whole-stage-codegen (binary in, no UDF); the ranking window
    * is single-partition BY DESIGN over the vocab-bounded run frame
    * (the text_ngram_coverage precedent — counts aggregate first, the
    * window sees only distinct runs). Oracle reads `text` directly
    * where Spark round-trips through bytes — equal under the
    * ASCII-corpus invariant (TestdataAsciiSpec, the mm_dedup_media
    * rule). */
  def stringsExtract(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runs = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(decode(payload, 'UTF-8'), " +
                     "'[A-Za-z]{6,}', 0)")).as("s"))
    val w = Window.orderBy(col("cnt").desc, col("s").asc)
    runs.groupBy("s")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("n_docs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select("rn", "s", "cnt", "n_docs")
      .orderBy("rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_strings_extract" -> stringsExtract _,
    "mm_cdc_chunks"      -> cdcChunkDedup _,
    "mm_cdc_pairs"       -> cdcPairs _,
    "mm_image_dims"      -> imageDims _,
    "mm_media_meta"      -> mediaMeta _,
    "mm_media_meta_plan" -> mediaMetaPlan _,
    "mm_frame_sample"    -> frameSample _,
    "mm_byte_histogram"  -> byteHistogram _,
    "mm_hist_near_dup"   -> ((s, d) => histNearDup(s, d)),
    "mm_dedup_media"     -> mediaDedup _,
    "mm_dedup_chunks"    -> mediaChunkDedup _,
    "mm_resize_meta"     -> resizeMeta _)
}
