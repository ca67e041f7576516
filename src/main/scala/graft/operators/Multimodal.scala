package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2.l): media as opaque `binary`
  * columns with typed metadata, processed by batch-shaped per-partition
  * decoders.
  *
  * The fixtures carry no media blobs, so the binary payloads are built
  * from document bytes — but everything downstream is the real
  * production shape: a binary payload column, per-frame slicing with
  * ordinary expressions, metadata checksums that an ANSI-SQL oracle can
  * recompute byte-for-byte (payloads here are ASCII, so DuckDB's varchar
  * md5 hashes the identical bytes), and a `mapPartitions` feature
  * extractor running a REAL public codec ([[PpmDecoder]], the netpbm P6
  * format) over valid images framed from those bytes.
  *
  * Scale notes: payloads stay columnar parquet binary (never strings in
  * flight); frame explosion is bounded (ceil(len/64) frames); the decode
  * stub is per-partition so a real codec would amortize model/codec init
  * across a partition, the exact pattern `mapInPandas`/`mapPartitions`
  * batch UDFs use on a cluster.
  */
object Multimodal {

  /** Documents with a synthetic binary payload column (the fixture set has
    * no media blobs; text bytes stand in — the engine-side plumbing is
    * identical). */
  private def withPayload(df: DataFrame): DataFrame =
    df.withColumn("payload", col("text").cast("binary"))

  /** Typed metadata over the binary column: byte length, content digest,
    * frame count (64-byte frames). */
  def binaryMetadata(spark: SparkSession, dir: String): DataFrame =
    withPayload(Tables(spark, dir).documents)
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        ceil(octet_length(col("payload")) / lit(64.0)).cast("long").as("n_frames"))
      .orderBy(col("doc_id"))

  /** Stride-2 downsample of the payload — the deterministic stand-in for
    * image resize (the container has no codecs; a real pipeline swaps the
    * stride expression for a decode→resize→encode batch UDF, the
    * surrounding plumbing is unchanged). Regex `(.).` keeps the first
    * byte of every pair (odd-length tail byte retained unmatched) — a
    * codegen'd per-row expression both engines evaluate identically on
    * ASCII payloads, so the output digests are exactly oracle-checkable. */
  def resizePayload(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        regexp_replace(col("text"), "(.).", "$1").as("resized"))
      .select(col("doc_id"), col("n_bytes"),
        octet_length(col("resized")).cast("long").as("resized_bytes"),
        md5(col("resized")).as("resized_md5"))
      .orderBy(col("doc_id"))

  /** Frame sampling: slice the payload into 64-byte frames (posexplode over
    * a computed frame index range), checksum each frame — the batch shape
    * of video frame extraction. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    withPayload(Tables(spark, dir).documents)
      .select(col("doc_id"), col("payload"),
        posexplode(sequence(lit(0),
          ceil(octet_length(col("payload")) / lit(64.0)).cast("int") - lit(1)))
          .as(Seq("frame_idx", "frame_no")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(substr(col("payload"), col("frame_idx") * lit(64) + lit(1), lit(64)))
          .as("frame_md5"),
        least(octet_length(col("payload")) - col("frame_idx") * lit(64), lit(64))
          .cast("long").as("frame_len"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Video temporal-signature near-dup (q217) — the sequence-level
    * dedup rung of the multimodal tier: each payload becomes its
    * ORDERED sequence of 64-byte-frame digests (the [[frameSample]]
    * framing), and near-duplicate videos are found by the DIRECTED
    * containment join over frame-3-gram temporal shingles — a clip cut
    * from a longer video, or a video extended with an intro/outro, has
    * containment ≈ 1 in the containing direction while whole-set
    * Jaccard dilutes (exactly q199's argument, one level up: the
    * "words" are frame digests, so matches require the same frames in
    * the same ORDER — shuffled frames share no 3-gram). Composition:
    * the frame-digest text feeds [[Dedup.containmentJoinFrom]] with
    * n = 3 unchanged — cap, sentinel report, ppm semantics and scale
    * shape all inherited. Payloads gated to byte-transparent (ASCII)
    * rows on both engines (the q187/q201 rule); videos shorter than 3
    * frames have no shingles and no row. */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame =
    videoNearDupFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text-as-payload) relation. */
  private[graft] def videoNearDupFrom(docs: DataFrame): DataFrame = {
    val nf = ceil(octet_length(col("payload")) / lit(64.0)).cast("int")
    val frames = withPayload(docs)
      .filter(expr("octet_length(text) = length(text)"))
      .select(col("doc_id"),
        concat_ws(" ", when(nf > lit(0),
          transform(sequence(lit(0), nf - lit(1)),
            i => md5(substr(col("payload"), i * lit(64) + lit(1),
              lit(64))))).otherwise(array().cast("array<string>")))
          .as("text"))
    graft.operators.Dedup.containmentJoinFrom(frames, n = 3)
  }

  /** Bytes per perceptual video frame (q245): one 8×8-pixel RGB frame
    * = 8·8·3 bytes — mirrored in the oracle's frame arithmetic. */
  private[graft] val VideoFrameBytes = 192

  /** Perceptual video near-dup (q245) — q217's missing half: q217
    * matches temporal copies on EXACT frame digests, so a RE-ENCODED
    * video (the common real case — every pixel nudged by codec noise)
    * defeats it even though every frame is visually identical. This
    * rung swaps the frame word from md5(frame bytes) to the frame's
    * PERCEPTUAL hash — [[PpmDecoder.aHash]]'s 8×8 grid applied to each
    * [[VideoFrameBytes]]-byte frame (an 8×8 P6 image: cell = pixel
    * gray (r+g+b)/3 floor, bit = gray > the frame's floor-mean; the
    * per-frame hash is BIT-EQUAL to aHash on the P6-framed frame
    * bytes, pinned in the spec) — and then runs the SAME temporal
    * 3-gram containment funnel ([[graft.operators.Dedup
    * .containmentJoinFrom]]): cap, sentinel report, ppm semantics and
    * scale shape all inherited. Codec noise that moves grays without
    * crossing the frame's own mean leaves every hash — and therefore
    * every temporal shingle — unchanged, so the re-encoded clip still
    * matches; shuffled frames still share no 3-gram (the q217
    * argument). Hash computation is one per-partition JVM pass over
    * the payload scan (the mapPartitions codec pattern); videos
    * shorter than 3 frames have no shingles and no row.
    *
    * Scale shape: linear frame-hash map + q199's bucketed containment
    * funnel (gram-keyed shuffle, hot-gram cap + report) — no new scale
    * terms over q217. */
  def videoPerceptualNearDup(spark: SparkSession, dir: String): DataFrame =
    videoPerceptualNearDupFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text-as-payload) relation. */
  private[graft] def videoPerceptualNearDupFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val F = VideoFrameBytes
    val frames = withPayload(docs)
      .filter(expr("octet_length(text) = length(text)"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val nf = p.length / F
        val sb = new StringBuilder(nf * 65)
        var f = 0
        while (f < nf) {
          val off = f * F
          val g = new Array[Long](64)
          var k = 0
          while (k < 64) {
            g(k) = ((p(off + 3 * k) & 0xff) + (p(off + 3 * k + 1) & 0xff) +
              (p(off + 3 * k + 2) & 0xff)) / 3
            k += 1
          }
          val mean = g.sum / 64
          if (f > 0) sb.append(' ')
          var i = 0
          while (i < 64) {
            sb.append(if (g(i) > mean) '1' else '0'); i += 1
          }
          f += 1
        }
        (id, sb.toString)
      })
      .toDF("doc_id", "text")
    graft.operators.Dedup.containmentJoinFrom(frames, n = 3)
  }

  /** A real public codec: binary netpbm PPM, "P6" variant (the netpbm
    * format spec — magic `P6`, whitespace-and-`#`-comment separated ASCII
    * width/height/maxval, exactly one whitespace byte, then a
    * width×height×3 RGB byte raster). Parse-with-fallback: anything
    * short of a complete valid image (wrong magic, missing dimensions,
    * maxval out of the 1-byte range, truncated raster, zero pixels)
    * decodes to None rather than throwing — the production contract for
    * corrupt media rows. */
  object PpmDecoder {
    final case class Features(doc_id: Long, width: Long, height: Long,
        maxval: Long, r_mean: Double, g_mean: Double, b_mean: Double)

    /** Header parse shared by [[decode]] and [[aHash]]: returns
      * (width, height, maxval, raster offset) or None on any malformed
      * or truncated header/raster. */
    private def parseHeader(p: Array[Byte]): Option[(Long, Long, Long, Int)] = {
      var i = 0
      def isWs(b: Byte): Boolean =
        b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b
      def skipWsAndComments(): Unit = {
        var go = true
        while (go) {
          if (i < p.length && isWs(p(i))) i += 1
          else if (i < p.length && p(i) == '#') {
            while (i < p.length && p(i) != '\n') i += 1
          } else go = false
        }
      }
      def readAsciiInt(): Long = {
        skipWsAndComments()
        val s = i
        var v = 0L
        while (i < p.length && p(i) >= '0' && p(i) <= '9' && v <= Int.MaxValue) {
          v = v * 10 + (p(i) - '0'); i += 1
        }
        if (i == s) -1L else v
      }
      if (p.length < 2 || p(0) != 'P' || p(1) != '6') return None
      i = 2
      val w = readAsciiInt(); val h = readAsciiInt(); val mv = readAsciiInt()
      if (w <= 0 || h <= 0 || mv <= 0 || mv > 255) return None
      i += 1 // the single whitespace byte between header and raster
      if (i + w * h * 3 > p.length) return None
      Some((w, h, mv, i))
    }

    def decode(id: Long, p: Array[Byte]): Option[Features] =
      parseHeader(p).map { case (w, h, mv, off) =>
        val n = w * h
        var sr = 0L; var sg = 0L; var sb = 0L
        var k = 0
        while (k < n) {
          sr += p(off + 3 * k) & 0xff
          sg += p(off + 3 * k + 1) & 0xff
          sb += p(off + 3 * k + 2) & 0xff
          k += 1
        }
        Features(id, w, h, mv,
          sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
      }

    /** Average-hash (aHash) perceptual fingerprint: the image is
      * block-averaged onto an 8×8 grid of integer grayscale cells
      * (gray = (R+G+B)/3, both divisions floor — bit-stable), each cell
      * set to 1 iff it exceeds the 64-cell floor mean; emitted BOTH as
      * a 64-char '0'/'1' string (q187's group/presentation key — its
      * lexicographic order is the UNSIGNED numeric order, which the
      * signed long would scramble) and as the same bits packed into one
      * long, first cell = bit 63 (q188's hamming representation: XOR +
      * bit_count is codegen'd and allocation-free where the string
      * compare split two 64-element arrays per candidate pair; the
      * sign bit is irrelevant to XOR/popcount). Needs ≥ 8 rows and
      * ≥ 8 columns to resize onto the grid — smaller images fall out
      * through the None branch like corrupt rows. */
    def aHash(id: Long, p: Array[Byte]): Option[(Long, String, Long)] =
      parseHeader(p).flatMap { case (w, h, _, off) =>
        if (w < 8 || h < 8) None
        else {
          val cells = new Array[Long](64)
          var j = 0
          while (j < 8) {
            val r0 = (j * h / 8).toInt; val r1 = ((j + 1) * h / 8).toInt
            var c = 0
            while (c < 8) {
              val c0 = (c * w / 8).toInt; val c1 = ((c + 1) * w / 8).toInt
              var s = 0L
              var r = r0
              while (r < r1) {
                var cc = c0
                while (cc < c1) {
                  val b = off + 3 * (r * w.toInt + cc)
                  s += ((p(b) & 0xff) + (p(b + 1) & 0xff) +
                    (p(b + 2) & 0xff)) / 3
                  cc += 1
                }
                r += 1
              }
              cells(j * 8 + c) = s / ((r1 - r0).toLong * (c1 - c0))
              c += 1
            }
            j += 1
          }
          val mean = cells.sum / 64
          val bits = cells.map(v => v > mean)
          Some((id, bits.map(b => if (b) '1' else '0').mkString,
            bits.foldLeft(0L)((acc, b) => (acc << 1) | (if (b) 1L else 0L))))
        }
      }
  }

  /** Per-partition batch image decode over the binary column — the
    * `mapPartitions` pattern (codec init once per partition, then a
    * streamed batch of rows), now running the real [[PpmDecoder]].
    *
    * The fixtures have no media files, so each document is FRAMED as a
    * valid 8-pixel-wide P6 image over its own bytes (height =
    * ⌊bytes/24⌋ rows of 8 RGB pixels; the header is genuine ASCII
    * netpbm). The decoder then does the honest work — header parse,
    * raster bounds check, per-channel statistics — and documents too
    * short for even one pixel row fall out through the None branch,
    * exercising the corrupt-row fallback. The oracle replays the same
    * framing + channel math from the raw text bytes. */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("h", floor(octet_length(col("text")) / lit(24)).cast("int"))
      .select(col("doc_id"),
        concat(lit("P6\n8 "), col("h").cast("string"), lit("\n255\n"),
          col("text").substr(lit(1), col("h") * lit(24)))
          .cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real codecs initialize here, once per partition
        rows.flatMap { case (id, payload) => PpmDecoder.decode(id, payload) }
      }
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("maxval"),
        round(col("r_mean"), 4).as("r_mean"),
        round(col("g_mean"), 4).as("g_mean"),
        round(col("b_mean"), 4).as("b_mean"))
      .orderBy(col("doc_id"))
  }

  /** Perceptual-hash image dedup groups (q187) — the image-side sibling
    * of the text exact-dedup tier: every (framed) image is fingerprinted
    * with the classic average-hash ([[PpmDecoder.aHash]]: 8×8
    * block-average grid, bit = cell > mean — all floor-integer, so the
    * hash is bit-stable), then grouped on the exact hash with the
    * keep-lowest-id rule. Visually-identical-after-downscale images
    * (recompressions, minor crops at the block scale) share a hash;
    * the hamming-neighborhood tier would band the hash like q43's
    * simhash — the grouping here is the hamming-0 rung every image
    * pipeline runs first.
    *
    * Scale shape: decode + hash is one per-partition map pass over the
    * payload scan (codec init amortized — the mapPartitions pattern);
    * the group is one 64-byte-key aggregate, map-side combinable.
    * Images under 8×8 fall out via the corrupt-row branch like q53. */
  def imagePhashGroups(spark: SparkSession, dir: String): DataFrame =
    imagePhashes(spark, dir)
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy(col("phash"))

  /** The (doc_id, phash) fingerprint relation shared by q187 (exact
    * groups) and q188 (hamming funnel). The framing treats `text` as a
    * byte-transparent pixel payload, so it REQUIRES one byte per
    * character (octet_length = char_length ⟺ pure ASCII): a multi-byte
    * character would make the char-based substr, the byte-based height
    * and the UTF-8 binary cast disagree with each other and with the
    * oracle's per-character ascii() replay. Non-byte-transparent docs
    * fall out of the image tier exactly like undersized ones (the
    * oracle mirrors the same strlen = length guard). */
  private[graft] def imagePhashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .filter(octet_length(col("text")) === length(col("text")))
      .withColumn("h", floor(octet_length(col("text")) / lit(24)).cast("int"))
      .filter(col("h") >= 8)
      .select(col("doc_id"),
        concat(lit("P6\n8 "), col("h").cast("string"), lit("\n255\n"),
          col("text").substr(lit(1), col("h") * lit(24)))
          .cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) => PpmDecoder.aHash(id, payload) }
      }
      .toDF("doc_id", "phash", "phash64")
      .transform(GraftCache.persisted("Multimodal.phash", _))
  }

  /** Banding geometry and caps for q188 — mirrored literally in the
    * oracle SQL; keep the two in sync. 8 bands of 8 bits with τ = 7
    * give ZERO false negatives by pigeonhole: two hashes within
    * hamming 7 differ in at most 7 bands, so at least one band is
    * bit-identical and generates the candidate. */
  private[graft] val PhashBands   = 8
  private[graft] val PhashTau     = 7
  private[graft] val PhashBandCap = 64

  /** Image near-dup funnel (q188) — the hamming tier above q187's
    * exact groups, built exactly like the q42 text funnel: band the
    * 64-bit hash into [[PhashBands]] 8-bit bands, equi-join on
    * (band_idx, band_val) for candidates, verify with the exact
    * hamming distance (1 ≤ hamming ≤ [[PhashTau]] — the 0 rung IS
    * q187), and exclude + REPORT bands over [[PhashBandCap]] members
    * (a corpus of near-black images makes the all-zeros band hot; the
    * guard keeps pair generation bounded while the exact-hash tier
    * still collapses the identical mass). Pigeonhole makes the funnel
    * exact at τ=7 — zero false negatives among in-play bands — so the
    * pair list carries a full oracle.
    *
    * Scale shape: band-keyed self-join (shuffle on two long keys,
    * fan-out bounded by cap²), DISTINCT pair dedup, per-pair popcount
    * verify (`bit_count(pa ^ pb)` — one codegen'd instruction, no
    * per-pair allocation); the skipped-band summary rides every row
    * broadcast. The oracle keeps the bit-string formulation: the
    * 8-char substring bands partition identically to the byte bands
    * (bijection) and char-diff count equals popcount, so the pair
    * lists are equal by construction. */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame =
    imageNearDupFrom(imagePhashes(spark, dir))

  /** Same, over an arbitrary (doc_id, phash) relation — the pigeonhole
    * exactness spec feeds constructed hashes. Everything past the
    * input projection runs on the PACKED long (`phash64`, derived from
    * the bit string once per input row when the caller supplies only
    * strings): band values are shiftright+mask (8-byte join keys
    * instead of 10-byte strings) and the hamming verify is
    * `bit_count(pa ^ pb)` — codegen'd, zero allocation — where the
    * string formulation split two 64-char strings and zip_with-compared
    * 64 element pairs per candidate (the round-17 verdict's hot
    * constant on the slowest bench row). */
  private[graft] def imageNearDupFrom(ph: DataFrame): DataFrame = {
    val ph64 =
      if (ph.columns.contains("phash64")) ph.select(col("doc_id"), col("phash64"))
      else ph.select(col("doc_id"),
        // '' split keeps a trailing empty token on some engines —
        // filter before folding so only real bit chars shift. A hash
        // that is not exactly 64 '0'/'1' chars would fold into a
        // MISALIGNED long (bands and hamming silently diverge from the
        // string semantics), so the fallback fails fast instead.
        when(length(col("phash")) === 64 && !col("phash").rlike("[^01]"),
          expr("""aggregate(filter(split(phash, ''), c -> c != ''), 0L,
                  (acc, c) -> shiftleft(acc, 1) | if(c = '1', 1L, 0L))"""))
          .otherwise(raise_error(concat(
            lit("phash fallback expects exactly 64 '0'/'1' chars, got: "),
            col("phash"))))
          .as("phash64"))
    val bands = ph64.select(col("doc_id"), col("phash64"),
        explode(sequence(lit(0), lit(PhashBands - 1))).as("band_idx"))
      .withColumn("band_val",
        expr("shiftright(phash64, (7 - band_idx) * 8) & 255"))
    val hot = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > PhashBandCap)
    val skipped = hot.agg(
      count(lit(1)).as("n_skipped_bands"),
      coalesce(sum(col("bsz")), lit(0L)).as("n_skipped_rows"))
    val inPlay = bands.join(hot.select(col("band_idx"), col("band_val")),
      Seq("band_idx", "band_val"), "left_anti")
    val cand = inPlay.alias("a").join(inPlay.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        col("a.phash64").as("pa"), col("b.phash64").as("pb"))
      .distinct()
    val pairs = cand
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
      .filter(col("hamming") >= 1 && col("hamming") <= PhashTau)
      .select(col("ia"), col("ib"), col("hamming"))
    // when NO pair verifies (e.g. every band over-cap — exactly the
    // case the cap exists for) the summary is emitted as one sentinel
    // row with null pair columns instead of being silently lost; the
    // oracle mirrors the same rule.
    val sentinel = skipped.join(pairs.limit(1), lit(true), "left_anti")
      .select(lit(null).cast("long").as("ia"),
        lit(null).cast("long").as("ib"),
        lit(null).cast("long").as("hamming"),
        col("n_skipped_bands"), col("n_skipped_rows"))
    pairs
      .crossJoin(broadcast(skipped))
      .unionByName(sentinel)
      .orderBy(col("ia"), col("ib"))
  }

  /** Samples per analysis frame for the audio tier (q201) — 64 16-bit
    * samples = 128 payload bytes; mirrored literally in the oracle. */
  private[graft] val AudioFrameSamples = 64

  /** Audio feature extraction (q201) — the AUDIO rung of the multimodal
    * family (images have the real P6 codec + aHash; this is the PCM
    * analogue): interpret the binary payload as 16-bit little-endian
    * PCM samples, remove the DC offset (the integer mean sample — the
    * standard first step before any energy feature), then per
    * [[AudioFrameSamples]]-sample frame compute the centered energy
    * Σ(s−dc)² and report per document: sample/frame counts, the DC
    * offset, the mean-crossing count (zero crossings after DC removal —
    * the classic voiced/unvoiced discriminator), and the peak frame
    * (argmax energy, lowest-frame tie-break — where a loudness-based
    * clip selector would cut). Fixture payloads are document bytes
    * (ASCII — byte-transparent on both engines, the q187/q188 gate,
    * enforced by the same octet_length = length filter); a real
    * pipeline swaps the framing for a decoder batch UDF and keeps
    * everything downstream.
    *
    * All arithmetic is integer (samples ≤ 2¹⁶, centered squares ≤ 2³²,
    * frame sums ≤ 2³⁸ — no overflow, no float) so the features carry a
    * full DuckDB oracle.
    *
    * Scale shape: ONE projection pass — the sample array, DC fold,
    * crossing count, and per-frame energies are higher-order functions
    * that never leave the row; no shuffle until the presentation sort.
    * Payload-length-bounded per-row cost, trivially linear. */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame =
    audioEnergyFrom(Tables(spark, dir).documents)

  /** Shared PCM framing for the audio tier (q201/q238): 16-bit LE
    * samples, the DC offset, and per-[[AudioFrameSamples]]-frame
    * centered energies — all higher-order functions that never leave
    * the row.
    *
    * The sample array and its sum are materialized ONCE per row
    * through a Generate (explode-of-one-struct) barrier, with the
    * array decoded a single time inside the struct builder (bound to a
    * lambda variable so the sum reads the decoded array rather than
    * re-running the substring transform). Without the barrier,
    * projection collapse inlines the substring-built array into every
    * lambda that mentions it and the DC aggregate into every
    * per-sample step — interpreted re-evaluation QUADRATIC in samples
    * (measured: one task grinding 8+ minutes over 5k docs; seconds
    * with the barrier). Downstream lambdas then reference `smp`/`dc`
    * as plain attributes, so every later re-reference costs O(ns)
    * array reads, never a substring re-scan. */
  private def audioFrames(docs: DataFrame): DataFrame = {
    val F = AudioFrameSamples
    docs
      .filter(octet_length(col("text")) === length(col("text")))
      .withColumn("ns", (octet_length(col("text")) / lit(2)).cast("int"))
      .filter(col("ns") >= F)
      // the substring decode runs ONCE: the sample array is bound to
      // the lambda variable `arr` (runtime-bound — projection collapse
      // cannot inline through it), and both struct fields read it
      .select(col("doc_id"), col("ns"), explode(expr(
        """transform(array(
          |    transform(sequence(1, ns), i ->
          |      CAST(ascii(substring(text, 2 * i - 1, 1))
          |        + 256 * ascii(substring(text, 2 * i, 1)) AS BIGINT))),
          |  arr -> named_struct(
          |    'smp', arr,
          |    'ssum', aggregate(arr, CAST(0 AS BIGINT),
          |      (a, x) -> a + x)))""".stripMargin))
        .as("av"))
      .withColumn("smp", col("av.smp"))
      .withColumn("dc", expr("av.ssum div ns"))
      .drop("av")
      .withColumn("fe", expr(
        s"""transform(sequence(0, ns div $F - 1), f ->
           |  aggregate(slice(smp, f * $F + 1, $F), CAST(0 AS BIGINT),
           |    (a, x) -> a + (x - dc) * (x - dc)))""".stripMargin))
  }

  /** Same, over an arbitrary (doc_id, text-as-payload) corpus. */
  private[graft] def audioEnergyFrom(docs: DataFrame): DataFrame = {
    val F = AudioFrameSamples
    audioFrames(docs)
      .withColumn("zero_crossings", expr(
        """CAST(size(filter(
          |  zip_with(slice(smp, 1, ns - 1), slice(smp, 2, ns - 1),
          |    (a, b) -> (a - dc) * (b - dc)),
          |  p -> p < 0)) AS BIGINT)""".stripMargin))
      .select(col("doc_id"),
        col("ns").cast("long").as("n_samples"),
        expr(s"CAST(ns div $F AS BIGINT)").as("n_frames"),
        col("dc").as("dc_offset"),
        col("zero_crossings"),
        expr("CAST(array_position(fe, array_max(fe)) - 1 AS BIGINT)")
          .as("peak_frame"),
        expr("array_max(fe)").as("peak_energy"))
      .orderBy(col("doc_id"))
  }

  /** Energy-threshold activity segmentation (q238) — the VAD/clip-cut
    * rung an audio-data pipeline runs after q201's framing: silence
    * and noise-floor spans carry no training value, so ingest cuts
    * each recording to its ACTIVE segments before transcription or
    * feature extraction. A frame is active when its centered energy
    * exceeds the document's own mean frame energy (a per-document
    * integer — no tuned constant, deterministic on any corpus);
    * segments are maximal runs of consecutive active frames, emitted
    * with (start, end, length, energy mass) and a per-document segment
    * index. A document whose frames are all equal-energy has no frame
    * above its mean and emits NO rows (a constant tone is all silence
    * or all signal — either way there is nothing to cut).
    *
    * All arithmetic is integer (the q201 envelope), and the
    * gaps-and-islands grouping key (frame − per-doc rank) is exact, so
    * the whole segmentation carries a DuckDB oracle.
    *
    * Scale shape: the framing is q201's single projection pass; the
    * explode is bounded by payload_len/128 frames per row; the islands
    * windows partition by doc_id (never global), and the final
    * relation is segment-count-scale. At 100 TB every stage is one
    * doc-keyed shuffle of frame rows — linear in audio mass. */
  def audioSegments(spark: SparkSession, dir: String): DataFrame =
    audioSegmentsFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text-as-payload) corpus. */
  private[graft] def audioSegmentsFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = audioFrames(docs)
      .withColumn("mean_e", expr(
        "aggregate(fe, CAST(0 AS BIGINT), (a, x) -> a + x) div size(fe)"))
      .select(col("doc_id"), col("mean_e"),
        posexplode(col("fe")).as(Seq("frame", "e")))
      .filter(col("e") > col("mean_e"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))
    fr.withColumn("isl", col("frame") - row_number().over(wd))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("frame")).cast("long").as("start_frame"),
        max(col("frame")).cast("long").as("end_frame"),
        count(lit(1)).as("n_active_frames"),
        sum(col("e")).as("seg_energy"))
      .withColumn("seg_idx", row_number().over(ws).cast("long"))
      .select(col("doc_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_active_frames"), col("seg_energy"))
      .orderBy(col("doc_id"), col("seg_idx"))
  }
}
