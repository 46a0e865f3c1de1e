package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed partition-wise in batches.
  *
  * The Spark-side machinery here — schema, partitioning, batch shape,
  * feature extraction pipeline — is real and tested. The IMAGE decode
  * path is real since round 6: [[MediaCodec.decodeImage]] runs
  * `javax.imageio` (JDK-public, PNG/JPEG/GIF/BMP, no external deps)
  * and yields pixel dimensions, channel count, and a
  * resolution-independent luminance histogram;
  * [[MediaCodec.resizeImage]] is a real pixel rescale + PNG re-encode.
  * Payloads that are NOT decodable images (the synthetic testdata's
  * UTF-8 stand-ins, and any audio/video bytes — this container ships
  * no audio/video codecs) fall back to the clearly-marked
  * deterministic STUBs, which keeps the q37/q88 byte-accounting
  * oracles exact while the real path is pinned by the planted-PNG
  * fixtures in OperatorsSpec.
  *
  * Scale shape: media blobs never shuffle — every stage below is a
  * map-only pass (mapPartitions batches ≙ Arrow-batch UDF shape), and
  * downstream analytics shuffle only the small extracted features.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata traveling together. */
  case class MediaRow(media_id: Long, media_type: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** Extracted features: fixed-size embedding + decode stats. For a
    * payload the real codec decoded, (width, height, channels) are the
    * DECODED pixel facts and `decoded` is true; otherwise they echo the
    * declared metadata with channels 0. */
  case class MediaFeatures(media_id: Long, media_type: String,
                           n_bytes: Long, decoded: Boolean,
                           width: Int, height: Int, channels: Int,
                           feature: Array[Float])

  object MediaCodec {
    // keep ImageIO off its disk scratch-file cache: decode must stay
    // purely in-memory inside executor threads
    javax.imageio.ImageIO.setUseCache(false)

    /** REAL image decode — `javax.imageio.ImageIO.read` sniffs the
      * payload's magic bytes against the JDK's registered readers
      * (PNG/JPEG/GIF/BMP/WBMP/TIFF) and decodes to pixels. Returns
      * None for anything that is not a decodable image: non-image
      * bytes fail the format sniff in microseconds (no reader claims
      * them), so probing every payload is cheap, and a corrupt header
      * that defeats the sniff surfaces as a caught IIOException. */
    def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }

    /** REAL feature extraction from decoded pixels: a 16-bin luminance
      * histogram (Rec.601 luma weights), normalized by pixel count —
      * deterministic and resolution-independent, the classic cheap
      * image fingerprint. */
    def imageFeature(img: java.awt.image.BufferedImage): Array[Float] = {
      val out = new Array[Float](16)
      val w = img.getWidth
      val h = img.getHeight
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 +
            ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
          out(lum >> 4) += 1f
          x += 1
        }
        y += 1
      }
      val n = math.max(1, w * h)
      out.map(_ / n)
    }

    /** REAL resize: scale to fit `maxDim` on the longer edge
      * (never upscale), redraw, re-encode PNG. None if the payload is
      * not a decodable image. */
    def resizeImage(payload: Array[Byte], maxDim: Int): Option[Array[Byte]] =
      decodeImage(payload).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
        val nw = math.max(1, math.round(w * scale).toInt)
        val nh = math.max(1, math.round(h * scale).toInt)
        val dst = new java.awt.image.BufferedImage(
          nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = dst.createGraphics()
        try g2.drawImage(
          img.getScaledInstance(nw, nh, java.awt.Image.SCALE_SMOOTH), 0, 0, null)
        finally g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        bos.toByteArray
      }

    /** STUB fallback: deterministic fake "decode + feature extract"
      * for payloads the real codec can't read (non-image bytes; audio/
      * video — no codec in this container). Derives a stable 16-dim
      * pseudo-feature from the payload bytes so the pipeline is
      * end-to-end testable. Deterministic: same bytes → same features.
      */
    def decodeStub(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](16)
      var i = 0
      while (i < payload.length) {
        out(i % 16) += (payload(i) & 0xFF) / 255.0f
        i += 1
      }
      val n = math.max(1, payload.length / 16)
      out.map(_ / n)
    }

    /** STUB: "resize" — a real impl would rescale pixels; the stub
      * truncates the payload deterministically preserving the batch
      * plumbing. */
    def resizeStub(payload: Array[Byte], maxBytes: Int): Array[Byte] =
      payload.take(maxBytes)

    /** STUB: frame sampling — every nth chunk of the payload stands in
      * for every nth video frame. */
    def frameSampleStub(payload: Array[Byte], chunk: Int, every: Int): Array[Array[Byte]] =
      payload.grouped(chunk).zipWithIndex.collect {
        case (c, i) if i % every == 0 => c
      }.toArray
  }

  /** A perceptual-hash row: the 9×8 luminance grid travels WITH the
    * 64-bit dHash so the grid→hash mapping is externally replayable —
    * the q88 byte-accounting trick applied to image fingerprints: the
    * oracle recomputes the hash from the emitted grid bit-for-bit,
    * while the grid's provenance (real pixel decode) is pinned by the
    * planted-PNG fixtures in OperatorsSpec. */
  case class PhashRow(media_id: Long, decoded: Boolean,
                      grid: Array[Long], dhash: Long)

  object Phash {
    /** REAL 9×8 luminance grid from decoded pixels: cell (r,c) = mean
      * Rec.601 luma (0..255) over its pixel block — the classic dHash
      * downscale step, done as an exact block mean instead of a
      * resampling filter so it is bit-deterministic across JVMs. */
    def lumaGrid(img: java.awt.image.BufferedImage): Array[Long] = {
      val sum = new Array[Long](72)
      val cnt = new Array[Long](72)
      val w = img.getWidth
      val h = img.getHeight
      var y = 0
      while (y < h) {
        val r = y * 8 / h
        var x = 0
        while (x < w) {
          val c = x * 9 / w
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 +
            ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
          sum(r * 9 + c) += lum
          cnt(r * 9 + c) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(72)(i => if (cnt(i) == 0) 0L else sum(i) / cnt(i))
    }

    /** STUB grid for payloads the codec can't decode (the testdata's
      * UTF-8 stand-ins): a token-hash histogram — 72 bins over a
      * portable ×31 byte hash of each whitespace token, scaled to a
      * per-mille-ish fixed point by token count. Deliberately
      * order-insensitive, the textual analog of a luminance histogram:
      * the corpus' near-dups are word-shuffles of the same multiset,
      * and measured on sf0.01 they land at Hamming ≤ 3 of each other
      * (identical multisets at 0) while the blocking buckets stay
      * non-degenerate (max 16-bit-chunk bucket ≈ 265 of 500 docs). */
    def gridStub(payload: Array[Byte]): Array[Long] = {
      val text = new String(payload, java.nio.charset.StandardCharsets.UTF_8).trim
      val toks: Array[String] = if (text.isEmpty) Array.empty else text.split("\\s+")
      val cnt = new Array[Long](72)
      var i = 0
      while (i < toks.length) {
        val bs = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var hsh = 0L
        var j = 0
        while (j < bs.length) { hsh = (hsh * 31 + (bs(j) & 0xFF)) & 0xFFFFFFFFL; j += 1 }
        cnt((hsh % 72).toInt) += 1
        i += 1
      }
      val n = math.max(1, toks.length)
      cnt.map(c => c * 4096L / n)
    }

    /** dHash from the 9-wide × 8-tall grid: bit r*8+c is set iff
      * grid(r,c) > grid(r,c+1) — 8 adjacent-brightness comparisons per
      * row, 64 bits total (bit 63 is the sign bit of the Long; the
      * DuckDB replay handles it as the −2^63 literal). */
    def dhashFromGrid(g: Array[Long]): Long = {
      var hsh = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (g(r * 9 + c) > g(r * 9 + c + 1)) hsh |= (1L << (r * 8 + c))
          c += 1
        }
        r += 1
      }
      hsh
    }
  }

  /** Perceptual-hash extraction — map-only over the media scan, same
    * batch shape as [[extractFeatures]]: real pixel dHash where the
    * payload decodes, the deterministic token-histogram stub otherwise.
    * Only (id, 72-long grid, 64-bit hash) leave the scan — blobs never
    * shuffle, and downstream near-dup pairing operates on 8-byte
    * signatures alone. */
  def phashTable(media: Dataset[MediaRow]): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaCodec.decodeImage(r.payload) match {
          case Some(img) =>
            val g = Phash.lumaGrid(img)
            PhashRow(r.media_id, decoded = true, g, Phash.dhashFromGrid(g))
          case None =>
            val g = Phash.gridStub(r.payload)
            PhashRow(r.media_id, decoded = false, g, Phash.dhashFromGrid(g))
        }
      }
    }
  }

  /** Build a synthetic media table from the documents table: payload =
    * UTF-8 bytes standing in for an encoded image; metadata derived
    * deterministically. (The driver testdata has no binary column, so
    * the pipeline manufactures one — the schema is the point.)
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFrom(spark.read.parquet(s"$dir/documents.parquet"))

  /** The same synthetic-media projection over ANY documents frame —
    * batch or streaming (the streaming perceptual rung feeds a
    * `readStream` here; the projection is map-only, so it is legal in
    * a streaming plan). */
  def mediaFrom(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (pmod(col("doc_id"), lit(1024)) + 64).cast("int").as("width"),
        (pmod(col("doc_id"), lit(768)) + 64).cast("int").as("height"),
        when(pmod(col("doc_id"), lit(3)) === 1, lit(16000)).otherwise(lit(0)).as("sample_rate"))
      .as[MediaRow]
  }

  /** Partition-wise feature extraction: the Scala analog of an
    * Arrow-batched decode UDF. Each partition streams its rows through
    * the codec — real `javax.imageio` decode where the payload is a
    * decodable image (pixel dims + channels + luminance histogram),
    * stub fallback otherwise — constant memory, no shuffle, linear
    * scale-out.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaCodec.decodeImage(r.payload) match {
          case Some(img) =>
            MediaFeatures(r.media_id, r.media_type, r.payload.length.toLong,
              decoded = true, img.getWidth, img.getHeight,
              img.getRaster.getNumBands, MediaCodec.imageFeature(img))
          case None =>
            MediaFeatures(r.media_id, r.media_type, r.payload.length.toLong,
              decoded = false, r.width, r.height, 0,
              MediaCodec.decodeStub(r.payload))
        }
      }
    }
  }

  /** A transcoded media row: old/new payload sizes travel with the new
    * payload so accounting needs no second pass over the blobs. */
  case class TranscodedMedia(media_id: Long, media_type: String,
                             n_in: Long, n_out: Long, payload: Array[Byte])

  /** Type-dispatched transcode pass — the resize / frame-sample stage
    * of an ingest pipeline: image payloads that really decode are
    * pixel-resized and PNG re-encoded ([[MediaCodec.resizeImage]],
    * `imgMaxDim` bounds the longer edge); undecodable image stand-ins
    * fall back to the deterministic byte-truncation stub (first 256
    * bytes — what the q88 oracle reproduces from STRLEN); videos are
    * frame-sampled (every 2nd 64-byte "frame" — no video codec in
    * this container), audio passes through. Same
    * partition-wise batch shape as [[extractFeatures]]: map-only over
    * the scan, blobs never shuffle.
    */
  def transcode(media: Dataset[MediaRow],
                imgMaxDim: Int = 64): Dataset[TranscodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val out = r.media_type match {
          case "image" => MediaCodec.resizeImage(r.payload, imgMaxDim)
            .getOrElse(MediaCodec.resizeStub(r.payload, 256))
          case "video" => MediaCodec.frameSampleStub(r.payload, 64, 2)
            .flatten
          case _ => r.payload
        }
        TranscodedMedia(r.media_id, r.media_type,
          r.payload.length.toLong, out.length.toLong, out)
      }
    }
  }

  /** One sampled video frame: position metadata travels WITH the frame
    * payload so downstream stages (per-frame decode, dedup, ANN) need
    * no second pass over the source blob. */
  case class FrameRow(media_id: Long, chunk_idx: Long, off: Long,
                      frame: Array[Byte])

  /** FRAME SAMPLING — the per-video explode of an ingest pipeline:
    * every `every`-th `chunk`-byte "frame" of each video payload
    * ([[MediaCodec.frameSampleStub]]; no video codec in this
    * container — the stub stands in for the decoder while the Spark
    * plumbing is real) becomes its own row with (chunk_idx, byte
    * offset, payload). Map-only flatMap over the scan: frames are
    * born in the partition that read the blob and never shuffle; the
    * fan-out is bounded by payload_bytes / chunk per row, so the
    * stage scales linearly with corpus bytes — the same shape a real
    * ffmpeg-in-`mapPartitions` decoder would have at 100 TB.
    */
  def frameSamples(media: Dataset[MediaRow], chunk: Int = 64,
                   every: Int = 2): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.filter(_.media_type == "video").mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.frameSampleStub(r.payload, chunk, every)
          .iterator.zipWithIndex.map { case (f, j) =>
            val ci = j.toLong * every
            FrameRow(r.media_id, ci, ci * chunk, f)
          }
      }
    }
  }

  /** Per-video shot-boundary summary: frame grid size, cut count,
    * first cut index, and the maximum inter-frame distance seen. */
  case class ShotSummary(media_id: Long, n_frames: Long, n_cuts: Long,
                         first_cut: Long, max_d: Long)

  /** SHOT-BOUNDARY detection — the temporal-segmentation rung for the
    * video modality (q220 explodes frames; this finds where scenes
    * CHANGE): per frame a 16-bin byte histogram (high nibble b>>4 —
    * the stand-in for a luma histogram; a real decoder drops into the
    * same loop), a CUT between consecutive frames iff the L1
    * histogram distance ≥ `threshold`. The classic histogram-
    * difference detector (Zhang et al. 1993) on the stub frame grid
    * (`chunk`-byte payload chunks as frames, q220's convention); the
    * tail frame is shorter, so its histogram mass differs — a cut
    * there is legitimate (content ended), not an artifact.
    *
    * The whole detector runs INSIDE the scan pass (map-only over the
    * payload — frames of one video are consecutive local bytes, so
    * no window/shuffle is ever needed): blobs never leave the scan,
    * output is 5 int64s per video, exactly replayable cross-engine.
    */
  def shotBoundaries(media: Dataset[MediaRow], chunk: Int = 64,
                     threshold: Long = 48L): Dataset[ShotSummary] = {
    import media.sparkSession.implicits._
    media.filter(_.media_type == "video").map { r =>
      val frames = r.payload.grouped(chunk).toArray
      val hists = frames.map { f =>
        val h = new Array[Long](16)
        var i = 0
        while (i < f.length) { h((f(i) & 0xFF) >> 4) += 1; i += 1 }
        h
      }
      var cuts = 0L; var firstCut = -1L; var maxD = 0L
      var i = 0
      while (i < hists.length - 1) {
        var d = 0L; var j = 0
        while (j < 16) { d += math.abs(hists(i)(j) - hists(i + 1)(j)); j += 1 }
        if (d > maxD) maxD = d
        if (d >= threshold) { cuts += 1; if (firstCut < 0) firstCut = i + 1 }
        i += 1
      }
      ShotSummary(r.media_id, frames.length.toLong, cuts, firstCut, maxD)
    }
  }

  /** One fixed-width audio analysis window: exact integer energy
    * (sum of squared centered samples) so downstream gating (silence
    * trim, VAD-ish selection) is engine-portable. */
  case class AudioWindow(media_id: Long, win_idx: Long, n_bytes: Long,
                         ss: Long)

  /** AUDIO windowed energy — the feature-extract rung for the audio
    * modality (images decode via [[extractFeatures]], videos explode
    * via [[frameSamples]]; audio was passthrough-only): each payload
    * is cut into `win`-byte windows and every window gets its exact
    * integer energy Σ(b−128)², treating bytes as unsigned 8-bit
    * samples (a real PCM decoder drops into the same loop shape; no
    * audio codec in this container). Energy is the primitive under
    * silence trimming, voice-activity gating, and clip-level quality
    * scores.
    *
    * Map-only flatMap over the scan — windows are born where the blob
    * was read and never shuffle; all-integer output, so any
    * aggregation on top is exactly replayable cross-engine.
    */
  def audioWindows(media: Dataset[MediaRow], win: Int = 32): Dataset[AudioWindow] = {
    import media.sparkSession.implicits._
    media.filter(_.media_type == "audio").mapPartitions { rows =>
      rows.flatMap { r =>
        r.payload.grouped(win).zipWithIndex.map { case (w, i) =>
          var ss = 0L
          var j = 0
          while (j < w.length) {
            val s = (w(j) & 0xFF) - 128
            ss += s.toLong * s
            j += 1
          }
          AudioWindow(r.media_id, i.toLong, w.length.toLong, ss)
        }
      }
    }
  }

  /** UTTERANCE SEGMENTATION over the [[audioWindows]] energy grid —
    * the VAD rung above raw window energies: windows at/above
    * `threshold` are speech-active, and active windows whose gap is
    * ≤ `gap` silent windows merge into one utterance (the lag/cumsum
    * run merge, same machinery as the repeated-extent and shared-run
    * merges — here over the ACTIVE windows only, so the window
    * function sees anchors, never the full grid). Returns one row per
    * utterance: (media_id, utt, start_win, end_win, n_active,
    * energy) — all exact int64, replayable cross-engine.
    *
    * Scale shape: [[audioWindows]] is a map-only flatMap (blobs never
    * shuffle); the merge shuffles only the active (media_id, win_idx,
    * ss) longs, partitioned by media.
    */
  def audioUtterances(media: Dataset[MediaRow], win: Int = 32,
                      threshold: Long = 40000L, gap: Int = 0): DataFrame = {
    val byMedia = Window.partitionBy(col("media_id")).orderBy(asc("win_idx"))
    audioWindows(media, win).toDF()
      .filter(col("ss") >= lit(threshold))
      .withColumn("brk",
        when(col("win_idx") - lag(col("win_idx"), 1).over(byMedia)
          <= lit(gap + 1L), 0L).otherwise(1L))
      .withColumn("utt", sum(col("brk")).over(
        byMedia.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("media_id"), col("utt"))
      .agg(min(col("win_idx")).as("start_win"),
        max(col("win_idx")).as("end_win"),
        count(lit(1)).as("n_active"),
        sum(col("ss")).as("energy"))
  }

  /** Byte accounting of the transcode pass per media type — the
    * before/after sizes are pure functions of the payload length and
    * the (deterministic) stub policies, so a DuckDB oracle reproduces
    * them exactly from STRLEN(text): the gate proves the type
    * dispatch, chunk arithmetic, and batch plumbing — not the codec.
    */
  def transcodeStats(spark: SparkSession, dir: String): DataFrame =
    transcode(mediaTable(spark, dir)).toDF()
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_in")).as("bytes_in"),
        sum(col("n_out")).as("bytes_out"))
      .orderBy(asc("media_type"))

  /** AUDIO CONSTELLATION FINGERPRINTS — the landmark-hash rung of the
    * audio family (Wang 2003 / Shazam, adapted to the 1-D energy
    * grid this container can compute; a real FFT front-end drops into
    * the same shape with (freq, time) peaks instead of time-only):
    *
    *   1. peaks: energy-grid local maxima ([[audioWindows]] `ss`
    *      strictly above BOTH neighbours, at/above 40000 —
    *      boundary windows can't anchor, so the peak set is invariant
    *      to trailing-silence padding),
    *   2. bands: peak strength quantized by integer shift
    *      (`least(ss >> 12, 255)` — exact in any engine,
    *      robust to small amplitude jitter),
    *   3. landmarks: each peak pairs with its next `fanout` peaks
    *      within `maxDt` windows; the (band₁, band₂, Δt) triple packs
    *      into one int64 fingerprint `fp = b₁·2¹⁶ + b₂·2⁸ + Δt`.
    *
    * Returns (media_id, t, fp) — t is the anchor window index, kept so
    * the matcher can offset-vote.
    *
    * Scale shape: [[audioWindows]] is a map-only flatMap (blobs never
    * shuffle); both window passes run over the PEAK frame (3 longs per
    * active window — a tiny fraction of the grid); the fanout explode
    * is bounded by construction (≤ `fanout` rows per peak), and the
    * lead columns are window-materialized BEFORE the Generate, so
    * nothing expensive re-evaluates per element (PERF lesson 12).
    */
  def audioLandmarks(media: Dataset[MediaRow], win: Int = 32,
                     fanout: Int = 3, maxDt: Long = 16L): DataFrame = {
    val byMedia = Window.partitionBy(col("media_id")).orderBy(asc("win_idx"))
    val peaks = audioWindows(media, win).toDF()
      .withColumn("pv", lag(col("ss"), 1).over(byMedia))
      .withColumn("nx", lead(col("ss"), 1).over(byMedia))
      .filter(col("ss") >= lit(40000L) &&
        col("pv").isNotNull && col("nx").isNotNull &&
        col("ss") > col("pv") && col("ss") > col("nx"))
      .select(col("media_id"), col("win_idx").as("t"),
        least(shiftright(col("ss"), 12), lit(255L)).as("band"))
    val byPeak = Window.partitionBy(col("media_id")).orderBy(asc("t"))
    val withLeads = peaks.select(col("media_id"), col("t"), col("band"),
      array((1 to fanout).map(k =>
        struct(lead(col("t"), k).over(byPeak).as("t2"),
          lead(col("band"), k).over(byPeak).as("b2"))): _*).as("ls"))
    withLeads
      .select(col("media_id"), col("t"), col("band"),
        explode(col("ls")).as("l"))
      .filter(col("l.t2").isNotNull && col("l.t2") - col("t") <= lit(maxDt))
      .select(col("media_id"), col("t"),
        (col("band") * lit(65536L) + col("l.b2") * lit(256L) +
          (col("l.t2") - col("t"))).as("fp"))
  }

  /** AUDIO FINGERPRINT MATCHING — the audio near-dup rung (images have
    * dHash q210/q211, text has MinHash q31; audio matches on shared
    * [[audioLandmarks]] constellations): clips sharing enough landmark
    * fingerprints AT A CONSISTENT TIME OFFSET are the same recording
    * (possibly trimmed/shifted). The offset-histogram vote is what
    * makes the landmark scheme robust: random hash collisions scatter
    * across offsets, true matches pile onto one.
    *
    *   - inverted index on `fp`, with overfull postings dropped
    *     (`maxDf` distinct clips per fingerprint — the q228 posting-cap
    *     discipline: a fingerprint shared by half the corpus is
    *     boilerplate, not evidence, and UNCAPPED postings are the
    *     classic quadratic blowup at 100 TB),
    *   - candidate pairs via the fp equi-join (never all-pairs),
    *   - per (pair, offset) vote counts partial-aggregate, and the
    *     per-pair best offset is the lesson-17 `max(struct)` argmax
    *     (votes desc, offset asc) — no data-sized sort window.
    *
    * Returns (media_a, media_b, t_off, votes, n_shared) for pairs with
    * `votes ≥ minVotes`; `n_shared` is the total landmark matches
    * across ALL offsets (the denominator a precision gate reads).
    */
  def audioFingerprintMatches(media: Dataset[MediaRow], win: Int = 32,
                              fanout: Int = 3, maxDt: Long = 16L,
                              minVotes: Long = 4L, maxDf: Int = 50): DataFrame = {
    val lm = audioLandmarks(media, win, fanout, maxDt)
    val keptFp = lm.groupBy(col("fp"))
      .agg(countDistinct(col("media_id")).as("df"))
      .filter(col("df") <= lit(maxDf))
      .select(col("fp"))
    val kept = lm.join(keptFp, Seq("fp"))
    val votes = kept.select(col("fp"), col("media_id").as("media_a"), col("t").as("ta"))
      .join(kept.select(col("fp"), col("media_id").as("media_b"), col("t").as("tb")),
        Seq("fp"))
      .filter(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"),
        (col("ta") - col("tb")).as("t_off"))
      .agg(count(lit(1)).as("votes"))
    votes
      .groupBy(col("media_a"), col("media_b"))
      .agg(max(struct(col("votes").as("v"), (-col("t_off")).as("no"))).as("m"),
        sum(col("votes")).as("n_shared"))
      .filter(col("m.v") >= lit(minVotes))
      .select(col("media_a"), col("media_b"), (-col("m.no")).as("t_off"),
        col("m.v").as("votes"), col("n_shared"))
  }

  /** End-to-end multimodal pipeline: manufacture media → batch decode →
    * per-type feature statistics. Only the 16-float features reach the
    * aggregate — payloads stay in their scan partitions.
    */
  def featureStats(spark: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(mediaTable(spark, dir))
    feats.toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        aggregate(col("feature"), lit(0.0), (s, x) => s + x.cast("double")).as("feat_sum"))
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("n_bytes")).as("min_bytes"),
        max(col("n_bytes")).as("max_bytes"))
      .orderBy(asc("media_type"))
  }
}
