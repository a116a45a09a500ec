package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column handling (north star; SURVEY.md §2.4): media as
  * opaque `binary` payloads + typed metadata, with decode/feature-extract
  * as batched per-partition transforms.
  *
  * The fixture corpus has no real media (`payload` is the utf-8 byte
  * encoding of documents.text), but the decode step is REAL for images:
  * ImageIO (JDK-built-in) decodes PNG/JPEG/GIF/BMP payloads into true
  * dimensions + luminance features (proved on generated PNGs in
  * MultimodalSpec), and REAL for PCM WAV audio: javax.sound.sampled
  * (JDK-built-in) parses the RIFF container back to samples (the
  * audio_energy / audio_fingerprint queries run that path end to
  * end). Payloads no codec claims fall back to a clearly marked
  * deterministic stub, which is what the fixture's text-byte payloads
  * and the video modality exercise. Around the decoder is the Spark
  * plumbing this operator family needs at 100 TB:
  *  - binary column + metadata struct schema,
  *  - mapPartitions with an iterator (batch-shaped: one decoder init per
  *    partition, not per row — the same shape a Pandas-UDF/mapInPandas or
  *    JNI decoder needs),
  *  - feature vectors as array<float> ready for the SimSearchOps path.
  *
  * The synthetic near-dup corpus behind the perceptual dedup queries has
  * three modalities — image, audio and video — and each is declared ONCE
  * as a [[Modality]] value ([[Image]], [[Audio]], [[Video]]): its name
  * (artifact and file-tree path), render step, decoder, file layout,
  * pair step, score column and dup rule. The dedup queries, their
  * file-tree twins, the keep-lists, the consensus queries and
  * flow.CorpusFlow's image stage all read those pieces from there.
  */
object MultimodalOps extends graft.QueryModule {

  /** Payload + metadata projection: modality from source, byte length,
    * content hash. Fully oracle-checkable (byte-exact in both engines). */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        encode($"text", "UTF-8").as("payload"),
        when($"source" === "src0", "image")
          .when($"source" === "src1", "audio")
          .when($"source" === "src2", "video")
          .otherwise("text").as("modality"),
        $"lang")
      .select($"doc_id", $"modality", $"lang",
        length($"payload").as("n_bytes"),
        sha2($"payload", 256).as("content_sha256"))
      .orderBy($"doc_id")
  }

  final case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, modality: String, width: Int,
                                 height: Int, n_frames: Int,
                                 resized_w: Int, resized_h: Int,
                                 sampled_frames: Array[Int], feat: Array[Float])

  /** Batched decode + feature extraction. The decode step is REAL for
    * image payloads — `decodeImage` goes through the JDK's ImageIO
    * (PNG/JPEG/GIF/BMP; magic-byte sniff first, so non-media payloads
    * skip the codec) and emits true width/height plus an 8-band mean-
    * luminance feature. Payloads no codec claims (the synthetic fixture's
    * utf-8 text bytes; audio/video, which the JDK cannot decode) fall
    * back to `decodeStub`, the clearly-marked deterministic fake — so the
    * declared query is stable on the fixture while MultimodalSpec proves
    * the real path on generated PNGs. The mapPartitions shape (one
    * decoder configuration per partition, iterator in/out) is exactly
    * what a JNI/ffmpeg codec needs at 100 TB. */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows: Dataset[MediaRow] = graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        when($"source" === "src0", "image").otherwise("text").as("modality"),
        encode($"text", "UTF-8").as("payload"))
      .as[MediaRow]
    featuresOf(rows)
      .select($"doc_id", $"modality", $"width", $"height", $"n_frames",
        $"resized_w", $"resized_h", size($"sampled_frames").as("n_sampled"),
        round(element_at($"feat", 1), 6).as("feat0"))
      .orderBy($"doc_id")
  }

  /** Core decode pipeline over any media rows (spec entry). */
  private[llm] def featuresOf(rows: Dataset[MediaRow]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      // per-partition decoder setup: no disk-backed ImageIO cache
      javax.imageio.ImageIO.setUseCache(false)
      it.map(m => decodeImage(m).getOrElse(decodeStub(m)))
    }.toDF()
  }

  private def looksLikeImage(p: Array[Byte]): Boolean =
    p.length > 8 && (
      (p(0) == 0x89.toByte && p(1) == 'P') ||      // PNG
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte) || // JPEG
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F') ||  // GIF
      (p(0) == 'B' && p(1) == 'M'))                   // BMP

  /** REAL image decode via the JDK's ImageIO: true dimensions,
    * aspect-preserving 224 resize plan, and an 8-dim feature = mean
    * luminance (ITU-R 601 weights) of 8 equal vertical bands in [0,1].
    * Returns None when no installed codec claims the payload. */
  private def decodeImage(m: MediaRow): Option[MediaFeatures] = {
    if (!looksLikeImage(m.payload)) None
    else Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(m.payload))).map { img =>
      val (w, ht) = (img.getWidth, img.getHeight)
      val bands = 8
      val feat = Array.tabulate(bands) { b =>
        val x0 = w * b / bands
        val x1 = math.max(x0 + 1, w * (b + 1) / bands)
        var sum = 0.0
        var n = 0
        var y = 0
        while (y < ht) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000.0
            n += 1; x += 1
          }
          y += 1
        }
        (sum / n / 255.0).toFloat
      }
      val scale = 224.0 / math.max(w, ht)
      MediaFeatures(m.doc_id, m.modality,
        width = w, height = ht, n_frames = 1,
        resized_w = math.max(1, math.round(w * scale).toInt),
        resized_h = math.max(1, math.round(ht * scale).toInt),
        sampled_frames = Array(0), feat = feat)
    }
  }

  /** STUB decoder — deterministic fake, NOT a real codec; the fallback
    * for payloads no installed codec claims (non-media bytes and video
    * in this JDK-only container; PCM WAV audio has a REAL decode path
    * via [[audioBandEnergies]]). Shapes the same decode/resize/
    * frame-sample contract as the real path: resize = aspect-preserving
    * fit into 224x224; frame-sample = uniform stride down to <=16. */
  private def decodeStub(m: MediaRow): MediaFeatures = {
    val h = m.payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
    val feat = Array.tabulate(8)(i =>
      (((h >>> (i * 8)) & 0xff).toFloat - 128f) / 128f)
    val w = 64 + (math.abs(h) % 1024).toInt
    val ht = 64 + (math.abs(h >>> 10) % 1024).toInt
    val frames = if (m.modality == "image") 1
      else 1 + (math.abs(h >>> 20) % 300).toInt
    // resize: fit longest edge to 224, preserve aspect
    val scale = 224.0 / math.max(w, ht)
    // frame sampling: uniform stride to at most 16 frames
    val stride = math.max(1, frames / 16)
    MediaFeatures(m.doc_id, m.modality,
      width = w, height = ht, n_frames = frames,
      resized_w = math.max(1, math.round(w * scale).toInt),
      resized_h = math.max(1, math.round(ht * scale).toInt),
      sampled_frames = (0 until frames by stride).take(16).toArray,
      feat = feat)
  }

  /** The at-scale multimodal INGEST path: production media lives as one
    * FILE PER OBJECT on shared storage (the object-store layout a 100 TB
    * pipeline actually reads), not as a parquet column. Spark's built-in
    * binaryFile source turns a directory tree into (path, modTime,
    * length, content) rows with one split per file. The fixture payloads
    * are materialized ONCE per corpus as a content-keyed file tree
    * (doc_<id>.bin, written by [[ensureTree]]), then ingested through
    * format("binaryFile") with a pathGlobFilter. Doc identity is
    * recovered from the file name and the projection matches
    * [[mediaMeta]]'s byte accounting — the oracle is the same projection
    * derived from the TABLE, so the row goes red if ingest drops,
    * duplicates, or corrupts one payload byte. 1-in-20 slice keeps the
    * file count proportionate to what the operator demonstrates (ingest
    * fidelity, not bulk throughput). */
  def mediaIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ensureTree(mediaDir("files"), sfDir,
      graft.Tables.documents(spark, sfDir)
        .filter($"doc_id" % 20 === 0 && $"text".isNotNull)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]) { case (id, bytes) => Seq(s"doc_$id.bin" -> bytes) }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(path)
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        $"length".as("n_bytes"),
        sha2($"content", 256).as("content_sha256"))
      .orderBy($"doc_id")
  }

  /** The per-cell luminance of the synthetic image corpus: a
    * multiply-shift mixer (Knuth constant) over the injective cell
    * index base·65599 + r·499 + c·31, int64-safe (mod 2¹⁶ before the
    * big multiply) and built ONLY from %, xor, and shifts so the
    * DuckDB twin derives the SAME pixel values without a codec. A
    * plain additive congruential grid is NOT enough here: it gives
    * every doc a constant-shifted copy of one pattern, whose dHashes
    * collide en masse (measured: 63 k "pairs" over 500 docs). */
  private[llm] def gridLum(base: Long, r: Int, c: Int): Int = {
    val x = base * 65599L + r * 499L + c * 31L
    val x1 = (x ^ (x >> 7)) % 65536L
    ((((x1 * 2654435761L) % 4294967296L) >> 16) % 256L).toInt
  }

  /** Renders one 9×8 grayscale PNG per (doc, base, perturb, flat)
    * row from [[gridLum]]; perturbed rows shift ONE cell (3,4) by
    * +8 mod 256 — the planted near-duplicate — and flat rows render
    * the CONSTANT 128 image (the pathological "blank thumbnail"
    * population that floods one LSH bucket). Gray pixels make the
    * ITU-601 luminance exact: (299+587+114)/1000 of the same byte. */
  private[llm] def renderGridPng(base: Long, perturb: Boolean,
                                 flat: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        var lum = if (flat) 128 else gridLum(base, r, c)
        if (!flat && perturb && r == 3 && c == 4) lum = (lum + 8) % 256
        img.setRGB(c, r, (lum << 16) | (lum << 8) | lum)
        c += 1
      }
      r += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** dHash of a decoded 9×8 image as 4 LSH bands of 16 bits: bit
    * (r, c) is set iff lum(r,c) < lum(r,c+1) (horizontal difference
    * hash, Krawetz 2013), row r's 8 bits pack into a byte, and band
    * k = rows 2k (low byte) + 2k+1 (high byte). */
  private[llm] def dhashBands(img: java.awt.image.BufferedImage): Array[Long] = {
    Array.tabulate(4) { k =>
      var v = 0L
      var rr = 0
      while (rr < 2) {
        val r = k * 2 + rr
        var c = 0
        while (c < 8) {
          if ((img.getRGB(c, r) & 0xff) < (img.getRGB(c + 1, r) & 0xff))
            v |= 1L << (rr * 8 + c)
          c += 1
        }
        rr += 1
      }
      v
    }
  }

  /** The PNG decoder of the image and video modalities: REAL ImageIO
    * decode of one payload, then its [[dhashBands]]; `what` names the
    * payload in the undecodable-bytes error. */
  private def pngBands(bytes: Array[Byte], what: => String): Array[Long] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"undecodable $what")
    dhashBands(img)
  }

  /** Hot-bucket cap for the Hamming-band join: band buckets larger
    * than this are dropped from candidate generation (both engines).
    * The flat-image population (every blank thumbnail hashes to the
    * SAME bands) would otherwise contribute C(n,2) degenerate pairs —
    * the exact failure mode the shingle df-cutoff guards against on
    * text. A real near-dup loses candidacy only if ALL FOUR of its
    * bands are hot, which requires four independent 16-bit
    * collisions with mass populations. */
  private val BAND_CAP = 8L

  /** The directory of the media artifact or file tree `name` under the
    * artifact root. */
  private def mediaDir(name: String): String = s"graft_media_$name/"

  /** Content-keyed path of the media artifact or file tree `name`
    * (documents.parquet is the source every media fixture derives
    * from, so its (length, mtime) keys them all). */
  private[llm] def mediaArtifactPath(name: String, sfDir: String): String =
    graft.Artifacts.path(mediaDir(name), sfDir, Docs, "v1")

  /** The source every media artifact is keyed on. */
  private val Docs = "documents.parquet"

  /** The doc → (base, isdup, isflat) role frame every synthetic
    * modality shares: dup docs (doc_id ≡ 1 mod 10) replay their
    * predecessor perturbed; flat docs (doc_id ≡ 24 mod 40 — always ≡ 4
    * mod 10, so never a dup nor a dup's base) are the hot-bucket
    * flood population. */
  private[llm] def mediaRoles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        when($"doc_id" % 10 === 1, $"doc_id" - 1).otherwise($"doc_id")
          .as("base"),
        ($"doc_id" % 10 === 1).as("isdup"),
        ($"doc_id" % 40 === 24).as("isflat"))
  }

  /** One payload per role row, rendered by `render(base, isdup,
    * isflat)` in one narrow mapPartitions pass (codec init per
    * partition): the (doc_id, payload) rows of the image and audio
    * modalities. */
  private def renderPayloads(roles: DataFrame)(
      render: (Long, Boolean, Boolean) => Array[Byte]): DataFrame = {
    import roles.sparkSession.implicits._
    roles.as[(Long, Long, Boolean, Boolean)].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (docId, base, isdup, isflat) =>
        (docId, render(base, isdup, isflat))
      }
    }.toDF("doc_id", "payload")
  }

  /** dHash the binary PNG column back through the REAL ImageIO path:
    * the image modality's decoder, for rendered, file-tree and
    * streamed payloads alike. */
  private def hashPngPayloads(png: DataFrame): DataFrame = {
    import png.sparkSession.implicits._
    png.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (docId, bytes) =>
          val b = pngBands(bytes, s"PNG for doc $docId")
          (docId, b(0), b(1), b(2), b(3))
        }
      }.toDF("doc_id", "s0", "s1", "s2", "s3")
  }

  /** Full Hamming distance of two [doc_id, s0, s1, s2, s3] members —
    * the score of [[phashPairsFromHashed]]'s [[BucketPairs.scored]]. */
  private val hamming = (a: Seq[Long], b: Seq[Long]) => {
    var h = 0L
    var k = 1
    while (k <= 4) {
      h += java.lang.Long.bitCount(a(k) ^ b(k))
      k += 1
    }
    h
  }

  /** Band → cap → per-bucket pair emission with in-place Hamming
    * scoring over a hashed frame — NO threshold, so every consumer
    * (dedup cutoff, threshold curve, keep-list, consensus) reads the
    * same candidate set. Buckets over [[BAND_CAP]] drop; the rest emit
    * their pairs MAP-side with the full Hamming distance computed from
    * the carried 4×16-bit hash ([[BucketPairs.underCap]], scored mode),
    * so nothing ever joins back to the hash table. A pair colliding in
    * several bands carries the same Hamming everywhere; min() is that
    * value. */
  private[llm] def phashPairsFromHashed(hashed: DataFrame): DataFrame = {
    import hashed.sparkSession.implicits._
    val bands = hashed
      .select($"doc_id", $"s0", $"s1", $"s2", $"s3",
        posexplode(array($"s0", $"s1", $"s2", $"s3")))
      .toDF("doc_id", "s0", "s1", "s2", "s3", "band", "v")
    BucketPairs.underCap(bands, Seq("band", "v"),
        array($"doc_id", $"s0", $"s1", $"s2", $"s3"), BAND_CAP,
        BucketPairs.scored(hamming))
      .groupBy($"a".as("doc_a"), $"b".as("doc_b"))
      .agg(min($"score").as("hamming"))
  }

  /** Per-sample value of the synthetic audio corpus: the [[gridLum]]
    * mixer over the sample index (16-bit signed), with three roles
    * mirrored from the image corpus — dup docs (doc_id ≡ 1 mod 10)
    * replay their predecessor's waveform with window 3 (samples
    * 384..511) shifted by +1 (a one-window near-duplicate), and flat
    * docs (doc_id ≡ 24 mod 40) are pure SILENCE, the hot-bucket
    * population. Pure %/xor/shift arithmetic — the DuckDB twin
    * derives the SAME samples without a codec. */
  private[llm] def audioSample(base: Long, i: Int, perturb: Boolean,
                               flat: Boolean): Int = {
    if (flat) 0
    else {
      val x = base * 65599L + i * 9973L
      var x1 = (x ^ (x >> 7)) % 65536L
      if (perturb && i >= 384 && i < 512) x1 = (x1 + 1L) % 65536L
      (x1 - 32768L).toInt
    }
  }

  /** Renders one 1024-sample 16-bit PCM mono WAV (8 kHz) from
    * [[audioSample]] — a REAL RIFF container the JDK's AudioSystem
    * parses back. */
  private[llm] def renderWav(base: Long, perturb: Boolean,
                             flat: Boolean): Array[Byte] = {
    val n = 1024
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(16000) // rate, byte rate
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    var i = 0
    while (i < n) {
      bb.putShort(audioSample(base, i, perturb, flat).toShort)
      i += 1
    }
    bb.array()
  }

  /** Decodes a WAV payload through the REAL javax.sound.sampled path
    * and returns the 8 per-band energies Σ s² over 128-sample bands —
    * exact int64 (|s| ≤ 32768 ⇒ Σ ≤ 2³⁷). */
  private[llm] def audioBandEnergies(bytes: Array[Byte]): Array[Long] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
      !fmt.isBigEndian, s"unexpected decoded format: $fmt")
    val data = in.readAllBytes()
    val energies = new Array[Long](8)
    var i = 0
    while (i * 2 + 1 < data.length) {
      val s = ((data(i * 2) & 0xff) | (data(i * 2 + 1) << 8)).toShort.toLong
      energies(i / 128) += s * s
      i += 1
    }
    energies
  }

  /** The audio modality's decoder: REAL AudioSystem decode of the
    * (doc_id, payload) WAV rows, 8 exact band energies per doc. */
  private def energyOf(wav: DataFrame): DataFrame = {
    import wav.sparkSession.implicits._
    wav.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (docId, bytes) =>
        val e = audioBandEnergies(bytes)
        (docId, e(0), e(1), e(2), e(3), e(4), e(5), e(6), e(7))
      }
    }.toDF("doc_id", "e0", "e1", "e2", "e3", "e4", "e5", "e6", "e7")
  }

  /** An energy frame as (doc_id, band, energy) rows. */
  private def energyBands(frame: DataFrame): DataFrame = {
    import frame.sparkSession.implicits._
    frame.select($"doc_id", posexplode(
        array($"e0", $"e1", $"e2", $"e3", $"e4", $"e5", $"e6", $"e7")))
      .toDF("doc_id", "band", "energy")
  }

  /** Unthresholded audio candidate pairs: (band, exact energy) bucket
    * join under the hot-bucket cap, scored by the NUMBER of equal
    * bands. */
  private def audioPairsFromEnergy(frame: DataFrame): DataFrame = {
    import frame.sparkSession.implicits._
    BucketPairs.underCap(energyBands(frame), Seq("band", "energy"), $"doc_id", BAND_CAP)
      .groupBy($"a".as("doc_a"), $"b".as("doc_b"))
      .agg(count(lit(1)).as("n_equal_bands"))
  }

  /** Frame f of a video doc: the grid of base·131+f, the dup replay
    * perturbing frame 4 only. */
  private def videoFrame(base: Long, f: Int, isdup: Boolean,
                         isflat: Boolean): Array[Byte] =
    renderGridPng(base * 131L + f, isdup && f == 4, isflat)

  /** Video render: the frame-table column (one array<binary> of 8 REAL
    * PNG frames per doc — the multimodal COLUMN shape), then the
    * uniform stride-2 frame sampling to (doc_id, pos, payload) rows. */
  private def renderFrames(roles: DataFrame): DataFrame = {
    import roles.sparkSession.implicits._
    roles.as[(Long, Long, Boolean, Boolean)].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (docId, base, isdup, isflat) =>
        (docId, Array.tabulate(8)(videoFrame(base, _, isdup, isflat)))
      }
    }.toDF("doc_id", "frames")
      .select($"doc_id", posexplode($"frames")).toDF("doc_id", "pos", "payload")
      .filter($"pos" % 2 === 0) // uniform stride-2 frame sampling
  }

  /** The video modality's decoder: per-frame ImageIO decode + dHash of
    * the sampled (doc_id, pos, payload) rows. */
  private def hashFrames(frames: DataFrame): DataFrame = {
    import frames.sparkSession.implicits._
    frames.as[(Long, Int, Array[Byte])].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (docId, pos, bytes) =>
        val b = pngBands(bytes, s"frame $pos of doc $docId")
        (docId, pos, b(0), b(1), b(2), b(3))
      }
    }.toDF("doc_id", "pos", "s0", "s1", "s2", "s3")
  }

  /** (position, full hash) bucket join under the hot-bucket cap over
    * a per-frame hash frame, scored by the number of exactly-equal
    * sampled frames. */
  private def videoPairsFromHashed(hashed: DataFrame): DataFrame = {
    import hashed.sparkSession.implicits._
    BucketPairs.underCap(
        hashed, Seq("pos", "s0", "s1", "s2", "s3"), $"doc_id", BAND_CAP)
      .groupBy($"a".as("doc_a"), $"b".as("doc_b"))
      .agg(count(lit(1)).as("n_frames_equal"))
  }

  /** The 20% corpus slice the video-files twin materializes (both
    * sides of planted pairs (x00, x01) and (x10, x11) stay in-slice).
    * The flat flood population — ≡24 mod 40 — is only PARTIALLY
    * excluded: of its mod-200 residues {24, 64, 104, 144, 184} exactly
    * one (104 → doc_id % 100 = 4) lands under 20, so a fifth of the
    * flood is in-slice and the hot-bucket cap census still engages in
    * the files twin — consistently on both sides, because
    * videoFramehashOracleOn mirrors the same slice predicate before
    * its own cap CTE. */
  private val VIDEO_FILES_SLICE = "doc_id % 100 < 20"

  /** One media modality, declared once: every image, audio and video
    * query, file tree, artifact, keep-list and consensus below reads
    * its codec, layout and dup rule from here.
    *  - `name` keys the build-once artifact ([[artifact]],
    *    `graft_media_<name>/`) and the file tree (`files`);
    *  - `ext` and `framed` are the tree's layout — one
    *    `doc_<id>.<ext>` object per doc, or `doc_<id>_f<pos>.<ext>` per
    *    sampled frame — and `slice` the docs it holds; `objects` renders
    *    one doc's (name suffix, bytes) objects from its (base, isdup,
    *    isflat) role;
    *  - `render` turns role rows into (doc_id[, pos], payload) rows and
    *    `decode` is the codec pass over them, rendered or read from the
    *    tree alike;
    *  - `decodedDir` is the artifact subdir that keeps the decoded frame
    *    (video keeps only its pairs);
    *  - `pairsOf` bands a decoded frame into unthresholded candidate
    *    pairs (doc_a, doc_b, `score`), and `dup` is the dup call on
    *    them. */
  private[graft] final case class Modality(
      name: String, ext: String, framed: Boolean, slice: Option[Column],
      objects: (Long, Boolean, Boolean) => Seq[(String, Array[Byte])],
      render: DataFrame => DataFrame, decode: DataFrame => DataFrame,
      decodedDir: Option[String], pairsOf: DataFrame => DataFrame,
      score: String, dup: Column) {
    def files: String = mediaDir(name + "files")
    def decodeRendered(roles: DataFrame): DataFrame = decode(render(roles))
  }

  /** dHash ≤ 6 of 64 bits. */
  private[graft] val Image = Modality("image", "png", framed = false, None,
    (base, isdup, isflat) => Seq("" -> renderGridPng(base, isdup, isflat)),
    renderPayloads(_)(renderGridPng(_, _, _)), hashPngPayloads, Some("hashed"),
    phashPairsFromHashed, "hamming", col("hamming") <= 6)

  /** ≥ 6 of 8 band energies equal (the planted one-window perturbation
    * leaves exactly 7). */
  private[graft] val Audio = Modality("audio", "wav", framed = false, None,
    (base, isdup, isflat) => Seq("" -> renderWav(base, isdup, isflat)),
    renderPayloads(_)(renderWav), energyOf, Some("energy"),
    audioPairsFromEnergy, "n_equal_bands", col("n_equal_bands") >= 6)

  /** ≥ 3 of 4 sampled frame hashes exactly equal (the planted
    * perturbation breaks only frame 4); the tree holds the ffmpeg
    * frame-dump layout — frames extracted upstream AT the sampling
    * rate — over [[VIDEO_FILES_SLICE]]. */
  private[graft] val Video = Modality("video", "png", framed = true,
    Some(expr(VIDEO_FILES_SLICE)),
    (base, isdup, isflat) =>
      Seq(0, 2, 4, 6).map(f => s"_f$f" -> videoFrame(base, f, isdup, isflat)),
    renderFrames, hashFrames, None,
    videoPairsFromHashed, "n_frames_equal", col("n_frames_equal") >= 3)

  private val Media = Seq(Image, Audio, Video)

  /** `m`'s artifact: its decoded corpus (when `decodedDir` keeps it) and
    * unthresholded scored pairs, persisted ONCE per fixture generation
    * (the LPA build-once pattern: without it the codec render + decode
    * pass re-runs inside EVERY consumer, and the consensus query pays
    * all three modalities' passes a second time). */
  private def artifact(m: Modality, spark: SparkSession, sfDir: String): String =
    graft.Artifacts.ensure(mediaDir(m.name), sfDir, Docs, "v1") { tmp =>
      val decoded = m.decodeRendered(mediaRoles(spark, sfDir))
      m.pairsOf(m.decodedDir match {
        case Some(dir) =>
          val kept = decoded.localCheckpoint()
          kept.write.parquet(s"$tmp/$dir")
          kept
        case None => pinDecoded(decoded)
      }).write.parquet(s"$tmp/pairs")
    }

  /** `m`'s kept decoded frame, from the artifact. */
  private[llm] def decodedFrame(m: Modality, spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${artifact(m, spark, sfDir)}/${m.decodedDir.get}")

  /** `m`'s unthresholded scored pairs, from the artifact. */
  private def pairs(m: Modality, spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${artifact(m, spark, sfDir)}/pairs")

  /** `m`'s dup pairs: the scored pairs its dup rule calls. */
  private[graft] def dupPairs(m: Modality, spark: SparkSession, sfDir: String): DataFrame =
    pairs(m, spark, sfDir).filter(m.dup)

  /** The dedup report over `scored` pairs: the dup call, then
    * (doc_a, doc_b, score, planted) in pair order. */
  private def dupReport(m: Modality, scored: DataFrame): DataFrame =
    scored.filter(m.dup)
      .select(col("doc_a"), col("doc_b"), col(m.score),
        (col("doc_b") === col("doc_a") + 1 && col("doc_b") % 10 === 1).as("planted"))
      .orderBy(col("doc_a"), col("doc_b"))

  private def dedup(m: Modality, spark: SparkSession, sfDir: String): DataFrame =
    dupReport(m, pairs(m, spark, sfDir))

  /** Pin a decoded frame the pair step reads twice (bucket census +
    * capped join probe): without it the codec pass runs as two
    * independent subtrees (two Scan binaryFile branches in the plan),
    * and at corpus scale the doubled object-store
    * pass dominates everything downstream. coalesce to one partition per
    * core first: the binaryFile scan of N tiny objects yields ~N/32
    * near-empty splits (openCostInBytes charges 4 MB per ~2 KB file),
    * and the collapse makes the single decode pass run in core-sized
    * tasks and the checkpoint store core-count blocks (measured on the
    * audio twin: sf0.1 2.9→2.2 s, sf1 25.1→12.7 s vs the unpinned
    * double-scan shape). */
  private def pinDecoded(decoded: DataFrame): DataFrame =
    decoded.coalesce(decoded.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()

  /** A FILE TREE (one object per asset on shared storage — how a real
    * 100 TB multimodal corpus arrives, not as a parquet column),
    * materialized once per fixture generation under the Target
    * discipline (atomic publish + stale sweep): each of `rows` writes
    * its (file name, bytes) `objects` executor-side via
    * foreachPartition — no driver collect. */
  private def ensureTree[T](tree: String, sfDir: String, rows: => Dataset[T])(
      objects: T => Seq[(String, Array[Byte])]): String =
    graft.Artifacts.ensure(tree, sfDir, Docs, "v1") { tmp =>
      rows.foreachPartition { (it: Iterator[T]) =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        it.foreach(objects(_).foreach { case (name, bytes) =>
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/$name"), bytes)
        })
      }
    }

  /** `tree` in `m`'s layout, holding the docs of `slice`. */
  private def ensureFiles(m: Modality, spark: SparkSession, sfDir: String,
                          tree: String, slice: Option[Column]): String = {
    import spark.implicits._
    val (objects, ext) = (m.objects, m.ext)
    ensureTree(tree, sfDir, slice.foldLeft(mediaRoles(spark, sfDir))(_.filter(_))
        .as[(Long, Long, Boolean, Boolean)]) { case (id, base, isdup, isflat) =>
      objects(base, isdup, isflat).map { case (sfx, bytes) => s"doc_$id$sfx.$ext" -> bytes }
    }
  }

  private[llm] def filesPath(m: Modality, sfDir: String): String =
    graft.Artifacts.path(m.files, sfDir, Docs, "v1")

  /** (doc_id[, pos], payload) rows of a binaryFile scan over a tree in
    * `m`'s layout: doc identity — and a frame's position — recovered
    * from the file name. */
  private def fileRows(m: Modality, files: DataFrame): DataFrame = {
    val frame = if (m.framed) "_f\\d+" else ""
    files.select(Seq(regexp_extract(col("path"), s"doc_(\\d+)$frame\\.${m.ext}$$", 1)
        .cast("long").as("doc_id")) ++
      (if (m.framed) Seq(regexp_extract(col("path"), s"_f(\\d+)\\.${m.ext}$$", 1)
        .cast("int").as("pos")) else Nil) :+
      col("content").as("payload"): _*)
  }

  /** `m`'s decoded frame sourced from its FILE TREE through Spark's
    * built-in binaryFile reader (one split per file) — the production
    * ingest shape feeding the SAME decoder as the rendered artifact.
    * ImageFilesParitySpec pins the two frames identical. */
  private[llm] def decodedFromFiles(m: Modality, spark: SparkSession,
                                    sfDir: String): DataFrame =
    m.decode(fileRows(m, spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.${m.ext}")
      .load(ensureFiles(m, spark, sfDir, m.files, m.slice))))

  /** `m`'s dedup driven END TO END from its file tree: the decoded
    * frame is pinned ([[pinDecoded]]) so the tree is listed, read and
    * decoded once, then banded and called exactly like the artifact. */
  private def dedupFiles(m: Modality, spark: SparkSession, sfDir: String): DataFrame =
    dupReport(m, m.pairsOf(pinDecoded(decodedFromFiles(m, spark, sfDir))))

  /** q_dedup_image_phash — perceptual near-duplicate detection for
    * IMAGES: the dHash difference hash (Krawetz 2013; the standard
    * cheap perceptual hash) + Hamming-band LSH candidate pairing —
    * the image-pipeline twin of MinHash-LSH that a multimodal 100 TB
    * corpus needs (crop-resistant "same picture, re-encoded" dedup,
    * where exact byte dedup sees nothing). The pipeline is REAL end
    * to end on the Spark side: each doc renders a deterministic
    * grayscale PNG ([[renderGridPng]] — docs with doc_id ≡ 1 (mod
    * 10) render their predecessor's image with one cell perturbed,
    * the planted near-dups), the bytes are DECODED BACK through
    * ImageIO (the actual codec path), and the 64-bit dHash is read
    * off the decoded pixels as 4×16-bit bands. Candidates come from
    * band-equality buckets (≤2 flipped bits can break at most 2 of 4
    * bands — a planted pair always shares ≥2), full Hamming distance
    * is Σ bit_count(xor) over the 4 bands, threshold ≤ 6. The DuckDB
    * twin derives the SAME pixel grid from the closed-form luminance
    * (no codec needed), so a green row proves the whole render →
    * PNG-encode → ImageIO-decode → luminance → hash → band-join →
    * Hamming chain lossless and correct — not just the SQL half.
    *
    * Scale: hashing is one narrow mapPartitions pass (codec init per
    * partition, no shuffle); the hash frame is pinned once and feeds
    * bands + both pair legs. Banding is the MinHash-LSH discipline —
    * never all-pairs: candidates are equi-join buckets on (band,
    * 16-bit value); expected bucket collision rate is n²·4/65536
    * random pairs, and the [[BAND_CAP]] hot-bucket cap (exercised by
    * the flat-thumbnail population, doc_id ≡ 24 mod 40) bounds the
    * quadratic term exactly like the shingle df-cutoff. The Hamming
    * scoring join touches candidate pairs only. */
  def imagePhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    dedup(Image, spark, sfDir)

  /** q_dedup_image_phash_files — the image near-dup pipeline driven
    * END TO END from a real files table: the corpus is written once as
    * one PNG object per doc (the object-store layout of a production
    * multimodal corpus — the reference's whole premise is
    * filesystem-target pipelines, 00_training_pipeline.py:26-27),
    * ingested through format("binaryFile") with a pathGlobFilter, each
    * payload decoded through the REAL ImageIO path, and the identical
    * banded dHash dedup runs on the file-sourced hashes. Shares
    * q_dedup_image_phash's closed-form oracle — a green row therefore
    * proves the write → list → binaryFile-read → decode → hash chain
    * byte-equivalent to the render-sourced artifact, i.e. files→dedup
    * works end to end.
    * Scale: binaryFile gives one split per file with ordinary executor
    * parallelism (a 100 TB tree shards by directory prefix); hashing
    * stays a narrow mapPartitions pass (codec init per partition),
    * then the capped band join — nothing here is corpus-sized beyond
    * the one file scan dedup must pay. */
  def imagePhashDedupFiles(spark: SparkSession, sfDir: String): DataFrame =
    dedupFiles(Image, spark, sfDir)

  /** q_dedup_image_threshold_curve — dup-rate-vs-threshold sweep for
    * the image pipeline (the q_dedup_threshold_curve discipline on
    * the Hamming axis): for each cutoff θ ∈ 0..8, how many candidate
    * pairs collapse and how many documents they touch — the readout
    * that picks the production Hamming threshold before a destructive
    * dedup run. ONE scored-pair computation (checkpointed), a
    * broadcast 9-row θ dim crossed against it — never 9 re-scans;
    * zero-pair cutoffs stay as rows via the dim-side left join. */
  def imagePhashThresholdCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = pairs(Image, spark, sfDir) // artifact parquet — already materialized
    val thetas = spark.range(0, 9).select($"id".as("theta"))
    val nPairs = broadcast(thetas)
      .join(scored, $"hamming" <= $"theta", "left")
      .groupBy($"theta").agg(count($"doc_a").as("n_pairs"))
    val docsSide = scored.select($"doc_a".as("d"), $"hamming")
      .unionAll(scored.select($"doc_b".as("d"), $"hamming"))
    val nDocs = broadcast(thetas)
      .join(docsSide, $"hamming" <= $"theta", "left")
      .groupBy($"theta").agg(countDistinct($"d").as("n_docs_linked"))
    nPairs.join(nDocs, Seq("theta")).orderBy($"theta")
  }

  /** q_multimodal_audio_energy — banded energy profile of a REAL
    * audio decode: each doc renders a deterministic 1024-sample
    * 16-bit PCM WAV ([[renderWav]]), the bytes go back through the
    * JDK's javax.sound.sampled (an actual RIFF/PCM codec — this
    * corrects the earlier stub-only claim for audio), and the readout
    * is the 8 per-band energies Σ s² as exact int64. The DuckDB twin
    * derives the SAME samples closed-form, so a green row proves the
    * render → WAV-encode → AudioSystem-decode → energy chain lossless
    * — the audio twin of the image phash codec proof. Scale: one
    * narrow mapPartitions pass per stage, no shuffle before the final
    * sort. */
  def audioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    energyBands(decodedFrame(Audio, spark, sfDir)).orderBy($"doc_id", $"band")
  }

  /** q_dedup_audio_fingerprint — near-duplicate AUDIO detection via
    * banded-energy LSH (the Hamming-band discipline on the audio
    * axis): docs bucket by each (band, exact energy) pair, the
    * hot-bucket cap (≤[[BAND_CAP]], exercised by the silence
    * population — every silent clip has the all-zero profile) drops
    * flooded buckets BEFORE pair generation, candidates score by the
    * NUMBER of equal bands, and ≥6 of 8 equal bands is the dup call.
    * All-integer end to end — the oracle mirrors the whole chain from
    * the closed-form samples. Scale: same argument as the image
    * banding — bucket join never all-pairs, cap bounds the
    * degenerate-population quadratic. */
  def audioFingerprintDedup(spark: SparkSession, sfDir: String): DataFrame =
    dedup(Audio, spark, sfDir)

  /** q_dedup_audio_fingerprint_files — the audio near-dup pipeline
    * driven from a real files table (the q_dedup_image_phash_files
    * discipline on the audio axis, proving the files→dedup shape
    * generalizes across modalities): one WAV object per doc on disk,
    * binaryFile ingest with doc identity from the file name, REAL
    * javax.sound decode of the file-sourced bytes, then the identical
    * banded-energy dedup. Shares q_dedup_audio_fingerprint's
    * closed-form oracle — green proves the write → list →
    * binaryFile-read → RIFF-decode → energy chain byte-equivalent to
    * the render-sourced artifact. */
  def audioFingerprintDedupFiles(spark: SparkSession, sfDir: String): DataFrame =
    dedupFiles(Audio, spark, sfDir)

  /** q_dedup_video_framehash — near-duplicate VIDEO detection over
    * pre-extracted frames, completing the modality triad (image
    * phash / audio fingerprint / this). The JDK has no video codec
    * and the scaladoc says so honestly — but production video dedup
    * does not decode video in Spark either: frames are extracted
    * upstream (ffmpeg et al.) and the engine processes a FRAME TABLE.
    * That shape is real here: each doc carries its 8 frames as an
    * `array<binary>` column of REAL PNGs (frame f renders the grid of
    * base·131+f; dup docs replay their predecessor's frames with
    * frame 4 cell-perturbed; flat docs are 8 constant images — the
    * test-pattern flood), frame sampling is the uniform stride-2 cut
    * (positions 0,2,4,6 of 8 — the decodeStub contract made
    * load-bearing), each sampled frame decodes back through ImageIO
    * and hashes via [[dhashBands]], and two videos are near-dups when
    * ≥3 of 4 sampled frame hashes are EXACTLY equal. Candidates come
    * from bucket equality on (position, full hash) under the
    * [[BAND_CAP]] hot-bucket cap — never all-pairs; the flat
    * population floods one bucket per position and is dropped before
    * pair generation. The DuckDB twin derives every frame grid
    * closed-form, so green proves the render → encode → sample →
    * decode → hash → bucket → overlap chain. Scale: frames explode
    * corpus×8 rows map-side, sampling cuts half before any shuffle;
    * the 8-PNG-per-doc decode — the triad's most expensive codec pass
    * — runs once per fixture generation, in the artifact build. */
  def videoFramehashDedup(spark: SparkSession, sfDir: String): DataFrame =
    dedup(Video, spark, sfDir)

  /** q_dedup_video_framehash_files — the video near-dup pipeline
    * driven from a real FRAME-FILES table, completing the files→dedup
    * triad (image/audio/this): production video dedup never decodes
    * video in Spark — frames land as one PNG object per (video,
    * sampled position) (the ffmpeg dump layout), and the engine
    * ingests the directory through binaryFile, recovers (doc, pos)
    * from the file name, ImageIO-decodes each frame, and runs the
    * identical (position, hash) capped bucket join. Runs on a 20%
    * corpus slice (both planted-pair roles survive; the bucket census
    * — and so the cap — is over the on-disk population, and the
    * oracle mirrors the same slice). Green at both scales proves the
    * frame-dump → list → read → decode → hash → bucket → overlap
    * chain end to end. Scale: one split per frame file; the slice is
    * a demo bound, not a scale crutch — the full-corpus cost is the
    * column-shaped twin ×(files-scan constant). */
  def videoFramehashDedupFiles(spark: SparkSession, sfDir: String): DataFrame =
    dedupFiles(Video, spark, sfDir)

  /** The held-out "today's batch" of the incremental image-dedup
    * drill: doc_id % 100 picked so the fold-in exercises all three
    * pair directions — 41 (a batch REPLAY whose base …40 lives in the
    * index), 60 (a batch doc whose replay …61 lives in the index), and
    * 80+81 (a replay pair arriving WHOLLY inside the batch). */
  private[llm] val INCR_BATCH: Seq[Long] = Seq(41L, 60L, 80L, 81L)

  private def isBatch: Column = pmod(col("doc_id"), lit(100L)).isin(INCR_BATCH: _*)

  private val ImageIncrBase = mediaDir("image_incr")
  private[llm] def imageIncrBasePath(sfDir: String): String =
    graft.Artifacts.path(ImageIncrBase, sfDir, Docs, "v1")

  /** q_dedup_incremental_phash — BATCH-ADD to a persisted perceptual
    * image index (the q_dedup_incremental_minhash / incremental-IVF
    * contract on the image axis): the BASE generation hashes 96% of
    * the corpus once — render → PNG-encode → ImageIO-decode → dHash —
    * and persists the hash frame as a content-keyed artifact
    * (yesterday's index). Today's batch ([[INCR_BATCH]]) folds in with
    * BATCH-ONLY codec work: only the arriving docs are rendered and
    * decoded, their bands join the index's bands (the hot-bucket cap
    * counts base+batch members, so a bucket flooded across
    * generations still caps), candidates = batch-vs-index plus
    * in-batch, and Hamming scoring reads hashes — never pixels — from
    * both generations. The output is exactly the full-corpus pair set
    * RESTRICTED to pairs touching the batch (what "new near-dups did
    * today's delivery introduce?" means), so the oracle is the same
    * closed-form pipeline with a batch-membership predicate — a green
    * row proves the incremental fold-in finds precisely what a full
    * recompute would, in all three directions (batch-replay-of-base,
    * base-replay-of-batch, in-batch pair).
    *
    * Scale: the add costs |batch| codec passes + one band join against
    * the index — at 100 TB a daily media drop dedups in minutes while
    * the base petabytes stay cold (the minhash band-index economics);
    * IncrementalPhashSpec pins base-files-read-not-rebuilt and parity
    * with the full pipeline. */
  def imagePhashDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    // the add: today's batch is the ONLY codec work of this run
    val batchHashed = Image.decodeRendered(mediaRoles(spark, sfDir).filter(isBatch))
      .localCheckpoint()
    incrementalPhashPairs(spark, sfDir, batchHashed)
  }

  /** Fold an already-hashed batch frame into the persisted base index
    * — shared by the batch add ([[imagePhashDedupIncremental]]) and
    * the STREAMING ingest twin ([[streamMediaIncremental]]), which
    * differ only in how the batch hashes were produced. */
  private def incrementalPhashPairs(spark: SparkSession, sfDir: String,
                                    batchHashed: DataFrame): DataFrame = {
    import spark.implicits._
    val basePath = graft.Artifacts.ensure(ImageIncrBase, sfDir, Docs, "v1") { tmp =>
      Image.decodeRendered(mediaRoles(spark, sfDir).filter(!isBatch))
        .write.parquet(s"$tmp/hashed")
    }
    val baseHashed = spark.read.parquet(s"$basePath/hashed")
    def bandsOf(df: DataFrame) = df
      .select($"doc_id", posexplode(array($"s0", $"s1", $"s2", $"s3")))
      .toDF("doc_id", "band", "v")
    val baseBands = bandsOf(baseHashed)
    val batchBands = bandsOf(batchHashed)
    // the cap counts BOTH generations — identical to the full-corpus
    // bucket census, so incremental and full agree on kept buckets
    val ok = baseBands.select($"band", $"v")
      .unionAll(batchBands.select($"band", $"v"))
      .groupBy($"band", $"v").agg(count(lit(1)).as("n"))
      .filter($"n" <= BAND_CAP).select($"band", $"v")
    val keptBase = baseBands.join(ok, Seq("band", "v"))
    val keptBatch = batchBands.join(ok, Seq("band", "v"))
    val crossGen = keptBatch.as("x").join(keptBase.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val inBatch = keptBatch.as("x").join(keptBatch.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = crossGen.unionAll(inBatch).distinct()
    val allHashed = baseHashed.unionByName(batchHashed)
    dupReport(Image, cand
      .join(allHashed.select($"doc_id".as("doc_a"), $"s0".as("a0"),
        $"s1".as("a1"), $"s2".as("a2"), $"s3".as("a3")), Seq("doc_a"))
      .join(allHashed.select($"doc_id".as("doc_b"), $"s0".as("b0"),
        $"s1".as("b1"), $"s2".as("b2"), $"s3".as("b3")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        expr("cast(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
          "bit_count(a2 ^ b2) + bit_count(a3 ^ b3) as bigint)")
          .as("hamming")))
  }

  /** The arriving batch as a FILE TREE (one PNG per batch doc) — what
    * the streaming ingest watches. */
  private val StreamBatchFiles = mediaDir("streambatch")
  private[llm] def streamBatchFilesPath(sfDir: String): String =
    graft.Artifacts.path(StreamBatchFiles, sfDir, Docs, "v1")

  /** q_stream_media_dedup — STREAMING multimodal ingest closing the
    * production loop: media objects land on storage continuously, a
    * binaryFile readStream watches the drop directory, each
    * micro-batch decodes + hashes IN-FLIGHT (the codec pass runs
    * inside the streaming plan), hashes commit to an exactly-once
    * parquet sink (file-source → file-sink, the fault-tolerant
    * contract), and the committed hash table folds into the persisted
    * perceptual index exactly like the batch add. Driven to
    * completion with Trigger.AvailableNow, the result is BY
    * CONSTRUCTION the same fold-in as q_dedup_incremental_phash — so
    * it shares that query's closed-form oracle, and a green row
    * proves the whole stream-ingest chain (watch → read → in-flight
    * decode/hash → exactly-once commit → index fold-in) equals a
    * batch recompute. Scale: the stream only ever touches arriving
    * files; state is the sink's commit log; the index read is the
    * warm-artifact economics of the batch twin. */
  def streamMediaIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val src = ensureFiles(Image, spark, sfDir, StreamBatchFiles, Some(isBatch))
    // run-local sink + checkpoint: the ingest DEMO re-streams per run
    // (a few hundred files); the exactly-once contract under restart
    // is pinned separately by the tx/restart streaming specs
    val runDir = java.nio.file.Files.createTempDirectory("graft_stream_media")
      .toString
    // the binaryFile source's FIXED schema, stated explicitly: the
    // streaming file-source API requires a schema up front (no
    // inference at stream start)
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    // the in-flight codec pass: the image decoder, running inside the
    // streaming plan
    val hashedStream = Image.decode(fileRows(Image,
      spark.readStream.format("binaryFile").schema(binSchema)
        .option("pathGlobFilter", s"*.${Image.ext}").load(src)))
    graft.streaming.StreamOps.drain(spark, hashedStream.writeStream
      .format("parquet")
      .option("path", s"$runDir/hashes")
      .option("checkpointLocation", s"$runDir/ckpt"))
    // materialize the committed hashes EAGERLY (a batch-sized frame —
    // a few hundred 5-long rows) so the run-local sink + checkpoint can
    // be deleted NOW instead of leaking one temp tree per invocation
    // (r16 advisor finding: this query is in the registered map, so
    // bench/verify loops grew tmpdir steadily). localCheckpoint blocks
    // are non-replicated executor state — acceptable here for the same
    // reason the sink was run-local: this is the per-run ingest demo,
    // and a lost block restarts the query, not correctness.
    try {
      val batchHashed =
        spark.read.parquet(s"$runDir/hashes").localCheckpoint()
      incrementalPhashPairs(spark, sfDir, batchHashed)
    } finally
      graft.sources.TxManifest.deleteRecursively(
        java.nio.file.Paths.get(runDir))
  }

  /** Keep-list tail: connected components over the `links` (a_id,
    * b_id) graph via [[DedupOps.propagateMinLabel]] (fixpoint-checked
    * with the star-contraction fallback); keep = each component's min
    * doc plus every unlinked doc of `docs`. */
  private def keepMins(links: DataFrame, docs: => DataFrame): DataFrame = {
    val comps = DedupOps.propagateMinLabel(links)
      .toDF("doc_id", "component_id")
    docs
      .join(comps, Seq("doc_id"), "left")
      .withColumn("component_id", coalesce(col("component_id"), col("doc_id")))
      .filter(col("doc_id") === col("component_id"))
      .select(col("doc_id"), col("component_id"))
      .orderBy(col("doc_id"))
  }

  /** q_dedup_image_keep_list — the destructive half of the image
    * dedup: connected components over the ≤6-Hamming pair graph (the
    * same min-label propagation the text keep-list runs), keep = each
    * component's min doc plus every unlinked doc. Completes pairs →
    * clusters → keep on the image axis; the oracle closes the same
    * graph with WITH RECURSIVE over the closed-form pair CTEs. Scale:
    * the pair graph is the capped candidate output (tiny relative to
    * the corpus); the keep-list join is doc-keyed. */
  def imageKeepList(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    keepMins(dupPairs(Image, spark, sfDir)
        .select($"doc_a".as("a_id"), $"doc_b".as("b_id")),
      graft.Tables.documents(spark, sfDir).select($"doc_id"))
  }

  /** q_multimodal_keep_list — the DESTRUCTIVE half of the cross-modal
    * consensus: the ≥2-modality drop policy the contingency table
    * ([[dedupConsensus]]) calibrates, APPLIED. A pair of documents is a
    * CONFIRMED duplicate link only when at least two of the three
    * perceptual detectors (each modality's `dup` call) flag the SAME
    * pair — the standard precision lever for destructive multimodal
    * dedup: a single-modality collision (e.g. a random 16-bit image
    * band coincidence) stays in the corpus, a replayed asset (which
    * its image, audio AND video tracks all recognize) is collapsed to
    * its min-id representative. Connected components over the
    * confirmed pair graph via the same min-label propagation every
    * keep-list runs; keep = each component's min doc + every
    * unconfirmed doc. The oracle rebuilds all three modality pair sets
    * closed-form and closes the confirmed graph WITH RECURSIVE. Scale:
    * three already-capped artifact pair frames, one pair-keyed count,
    * and a component pass over the confirmed subgraph (≤ the
    * planted-dup population) — nothing corpus-sized shuffles. */
  def multimodalKeepList(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id")
    val Seq(img, aud, vid) =
      Media.map(dupPairs(_, spark, sfDir).select($"doc_a", $"doc_b"))
    consensusKeepFromPairs(docs, img, aud, vid)
  }

  /** The ≥2-of-3 consensus keep rule over explicit pair frames (each
    * already thresholded and distinct per modality) — split out so the
    * planted drill (MultimodalKeepListSpec) can drive it on
    * constructed graphs: a single-modality link must survive, a
    * multi-modality replay must collapse. */
  private[llm] def consensusKeepFromPairs(docs: DataFrame, img: DataFrame,
                                          aud: DataFrame, vid: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val confirmed = img.unionAll(aud).unionAll(vid)
      .groupBy($"doc_a", $"doc_b")
      // each modality's pair frame is distinct by construction, so the
      // plain count IS the number of agreeing modalities
      .agg(count(lit(1)).as("n_modalities"))
      .filter($"n_modalities" >= 2)
      .select($"doc_a".as("a_id"), $"doc_b".as("b_id"))
    keepMins(confirmed, docs)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_meta" -> (mediaMeta _),
    "q_multimodal_features" -> (mediaFeatures _),
    "q_multimodal_ingest_files" -> (mediaIngest _),
    "q_dedup_image_phash" -> (imagePhashDedup _),
    "q_dedup_image_threshold_curve" -> (imagePhashThresholdCurve _),
    "q_multimodal_audio_energy" -> (audioEnergy _),
    "q_dedup_audio_fingerprint" -> (audioFingerprintDedup _),
    "q_dedup_video_framehash" -> (videoFramehashDedup _),
    "q_dedup_image_keep_list" -> (imageKeepList _),
    "q_multimodal_dedup_consensus" -> (dedupConsensus _),
    "q_multimodal_keep_list" -> (multimodalKeepList _),
    "q_dedup_image_phash_files" -> (imagePhashDedupFiles _),
    "q_dedup_incremental_phash" -> (imagePhashDedupIncremental _),
    "q_dedup_audio_fingerprint_files" -> (audioFingerprintDedupFiles _),
    "q_dedup_video_framehash_files" -> (videoFramehashDedupFiles _),
    "q_stream_media_dedup" -> (streamMediaIncremental _))

  /** q_multimodal_dedup_consensus — cross-modal agreement of the three
    * perceptual dedup detectors: per doc, is it dup-LINKED (member of
    * any near-dup pair, either side) by image phash, audio
    * fingerprint, and/or video frame-hash — aggregated to one 8-cell
    * contingency readout. Modality agreement is the standard precision
    * lever for destructive multimodal dedup (drop only what ≥2
    * modalities flag; route single-modality flags to review), and the
    * contingency table IS the calibration readout for that policy: on
    * this corpus the planted replays flag in all three modalities
    * while the handful of random image band collisions flag in exactly
    * one. Scale: three already-capped pair frames READ FROM the
    * build-once modality artifacts (tiny relative to the corpus; the
    * r15 shape re-derived all three codec passes inline — the suite's
    * most expensive query, retired by the artifact), three doc-keyed
    * semi-joins, one 8-row aggregate. */
  def dedupConsensus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // a modality's dup-linked docs, flagged l<initial>
    def linked(m: Modality): DataFrame = {
      val pairs = dedup(m, spark, sfDir)
      pairs.select($"doc_a".as("doc_id"))
        .unionAll(pairs.select($"doc_b".as("doc_id")))
        .distinct().withColumn(s"l${m.name.head}", lit(true))
    }
    val flags = Media.map(m => col(s"linked_${m.name}"))
    Media.foldLeft(graft.Tables.documents(spark, sfDir).select($"doc_id"))(
        (docs, m) => docs.join(linked(m), Seq("doc_id"), "left"))
      .select($"doc_id" +: Media.map(m => coalesce(col(s"l${m.name.head}"),
        lit(false)).as(s"linked_${m.name}")): _*)
      .groupBy(flags: _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(flags: _*)
  }

  /** Shared CTE block of the two audio twins: ids (dup + silence
    * roles), the mixer samples, and exact per-band energies. */
  private def audioSqlCtes: String =
    """WITH ids AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
      |         ELSE doc_id END AS BIGINT) AS base,
      |    doc_id % 10 = 1 AS isdup,
      |    doc_id % 40 = 24 AS isflat
      |  FROM documents),
      |samp AS (
      |  SELECT doc_id, i // 128 AS band,
      |    CASE WHEN isflat THEN 0
      |      ELSE (CASE WHEN isdup AND i >= 384 AND i < 512
      |              THEN (xor(x, x >> 7) % 65536 + 1) % 65536
      |              ELSE xor(x, x >> 7) % 65536 END) - 32768
      |    END AS s
      |  FROM (SELECT doc_id, isdup, isflat, i,
      |      base * 65599 + i * 9973 AS x
      |    FROM ids
      |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS i
      |                FROM range(0, 1024)) ii)),
      |energy AS (
      |  SELECT doc_id, band, CAST(SUM(s * s) AS BIGINT) AS energy
      |  FROM samp GROUP BY 1, 2)""".stripMargin

  /** Shared CTE block of the two image-phash twins: ids (dup + flat
    * roles), the mixer grid, dHash row bytes, 16-bit bands, per-doc
    * band columns, the ≤[[BAND_CAP]] bucket filter, candidate pairs,
    * and Hamming-scored pairs. */
  private def imagePhashSqlCtes: String =
    """WITH ids AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
      |         ELSE doc_id END AS BIGINT) AS base,
      |    doc_id % 10 = 1 AS isdup,
      |    doc_id % 40 = 24 AS isflat
      |  FROM documents),
      |mix AS (
      |  SELECT doc_id, r, c, isdup, isflat,
      |    xor(x, x >> 7) % 65536 AS x1
      |  FROM (SELECT doc_id, r, c, isdup, isflat,
      |      base * 65599 + r * 499 + c * 31 AS x
      |    FROM ids
      |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS r
      |                FROM range(0, 8)) rr
      |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS c
      |                FROM range(0, 9)) cc)),
      |cells AS (
      |  SELECT doc_id, r, c,
      |    CASE WHEN isflat THEN 128
      |      WHEN isdup AND r = 3 AND c = 4
      |      THEN ((((x1 * 2654435761) % 4294967296) >> 16) % 256
      |            + 8) % 256
      |      ELSE (((x1 * 2654435761) % 4294967296) >> 16) % 256
      |    END AS lum
      |  FROM mix),
      |rowbytes AS (
      |  SELECT a.doc_id, a.r,
      |    CAST(SUM(CASE WHEN a.lum < b.lum THEN 1 << a.c ELSE 0 END)
      |      AS BIGINT) AS rv
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8
      |  GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, r // 2 AS band,
      |    CAST(SUM(rv * CASE WHEN r % 2 = 1 THEN 256 ELSE 1 END)
      |      AS BIGINT) AS v
      |  FROM rowbytes GROUP BY 1, 2),
      |h AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN band = 0 THEN v END) AS s0,
      |    MAX(CASE WHEN band = 1 THEN v END) AS s1,
      |    MAX(CASE WHEN band = 2 THEN v END) AS s2,
      |    MAX(CASE WHEN band = 3 THEN v END) AS s3
      |  FROM bands GROUP BY 1),
      |kept AS (
      |  SELECT b.* FROM bands b
      |  JOIN (SELECT band, v FROM bands GROUP BY band, v
      |        HAVING COUNT(*) <= 8) ok USING (band, v)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM kept x JOIN kept y
      |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id),
      |scored AS (
      |  SELECT doc_a, doc_b,
      |    CAST(bit_count(xor(ha.s0, hb.s0)) +
      |         bit_count(xor(ha.s1, hb.s1)) +
      |         bit_count(xor(ha.s2, hb.s2)) +
      |         bit_count(xor(ha.s3, hb.s3)) AS BIGINT) AS hamming
      |  FROM cand
      |  JOIN h ha ON cand.doc_a = ha.doc_id
      |  JOIN h hb ON cand.doc_b = hb.doc_id)""".stripMargin

  private lazy val imagePhashOracle: String =
    s"""$imagePhashSqlCtes
      |SELECT doc_a, doc_b, hamming,
      |  (doc_b = doc_a + 1 AND doc_b % 10 = 1) AS planted
      |FROM scored WHERE hamming <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  private lazy val videoFramehashOracle: String = videoFramehashOracleOn("")

  /** The video twin over an optional corpus slice (`where` is a full
    * `WHERE ...` clause or empty): the files twin runs on a 20% slice
    * so its bucket census — and hence the cap — is computed over the
    * POPULATION ACTUALLY ON DISK, which is what the oracle must
    * mirror. */
  private def videoFramehashOracleOn(where: String): String =
    s"""WITH ids AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
      |         ELSE doc_id END AS BIGINT) AS base,
      |    doc_id % 10 = 1 AS isdup,
      |    doc_id % 40 = 24 AS isflat
      |  FROM documents $where),
      |mix AS (
      |  SELECT doc_id, f, r, c, isdup, isflat,
      |    xor(x, x >> 7) % 65536 AS x1
      |  FROM (SELECT doc_id, f, r, c, isdup, isflat,
      |      (base * 131 + f) * 65599 + r * 499 + c * 31 AS x
      |    FROM ids
      |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS f
      |                FROM range(0, 8) WHERE range % 2 = 0) ff
      |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS r
      |                FROM range(0, 8)) rr
      |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS c
      |                FROM range(0, 9)) cc)),
      |cells AS (
      |  SELECT doc_id, f, r, c,
      |    CASE WHEN isflat THEN 128
      |      WHEN isdup AND f = 4 AND r = 3 AND c = 4
      |      THEN ((((x1 * 2654435761) % 4294967296) >> 16) % 256
      |            + 8) % 256
      |      ELSE (((x1 * 2654435761) % 4294967296) >> 16) % 256
      |    END AS lum
      |  FROM mix),
      |rowbytes AS (
      |  SELECT a.doc_id, a.f, a.r,
      |    CAST(SUM(CASE WHEN a.lum < b.lum THEN 1 << a.c ELSE 0 END)
      |      AS BIGINT) AS rv
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.f = b.f AND a.r = b.r
      |    AND b.c = a.c + 1
      |  WHERE a.c < 8
      |  GROUP BY 1, 2, 3),
      |fbands AS (
      |  SELECT doc_id, f, r // 2 AS band,
      |    CAST(SUM(rv * CASE WHEN r % 2 = 1 THEN 256 ELSE 1 END)
      |      AS BIGINT) AS v
      |  FROM rowbytes GROUP BY 1, 2, 3),
      |h AS (
      |  SELECT doc_id, f AS pos,
      |    MAX(CASE WHEN band = 0 THEN v END) AS s0,
      |    MAX(CASE WHEN band = 1 THEN v END) AS s1,
      |    MAX(CASE WHEN band = 2 THEN v END) AS s2,
      |    MAX(CASE WHEN band = 3 THEN v END) AS s3
      |  FROM fbands GROUP BY 1, 2),
      |kept AS (
      |  SELECT h.* FROM h
      |  JOIN (SELECT pos, s0, s1, s2, s3 FROM h
      |        GROUP BY pos, s0, s1, s2, s3
      |        HAVING COUNT(*) <= 8) ok
      |    USING (pos, s0, s1, s2, s3)),
      |pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_frames_equal
      |  FROM kept x JOIN kept y
      |    ON x.pos = y.pos AND x.s0 = y.s0 AND x.s1 = y.s1
      |    AND x.s2 = y.s2 AND x.s3 = y.s3
      |    AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_frames_equal,
      |  (doc_b = doc_a + 1 AND doc_b % 10 = 1) AS planted
      |FROM pairs WHERE n_frames_equal >= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  private lazy val audioFingerprintOracle: String =
    s"""$audioSqlCtes,
      |kept AS (
      |  SELECT e.* FROM energy e
      |  JOIN (SELECT band, energy FROM energy GROUP BY band, energy
      |        HAVING COUNT(*) <= 8) ok USING (band, energy)),
      |pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_equal_bands
      |  FROM kept x JOIN kept y
      |    ON x.band = y.band AND x.energy = y.energy
      |    AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_equal_bands,
      |  (doc_b = doc_a + 1 AND doc_b % 10 = 1) AS planted
      |FROM pairs WHERE n_equal_bands >= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN source = 'src0' THEN 'image'
        |       WHEN source = 'src1' THEN 'audio'
        |       WHEN source = 'src2' THEN 'video'
        |       ELSE 'text' END AS modality,
        |  lang,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  sha256(text) AS content_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the codec-free twin: the SAME pixel grid from the closed-form
    // luminance, the same banding, cap, and Hamming set logic —
    // equality proves the Spark side's codec roundtrip lossless
    "q_dedup_image_phash" -> imagePhashOracle,
    // the SAME closed-form twin: the files path must reproduce the
    // render-sourced result byte-for-byte, so one oracle serves both —
    // green proves write → binaryFile-read → decode → hash parity
    "q_dedup_image_phash_files" -> imagePhashOracle,
    // the full closed-form pipeline RESTRICTED to pairs touching the
    // held-out batch: equality proves the incremental fold-in finds
    // precisely what a full recompute would
    "q_dedup_incremental_phash" ->
      s"""$imagePhashSqlCtes
        |SELECT doc_a, doc_b, hamming,
        |  (doc_b = doc_a + 1 AND doc_b % 10 = 1) AS planted
        |FROM scored WHERE hamming <= 6
        |  AND (doc_a % 100 IN (41, 60, 80, 81)
        |    OR doc_b % 100 IN (41, 60, 80, 81))
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the streaming ingest is BY CONSTRUCTION the same fold-in as the
    // batch add — the twin oracle proves watch → in-flight hash →
    // exactly-once commit → fold-in equals a batch recompute
    "q_stream_media_dedup" ->
      s"""$imagePhashSqlCtes
        |SELECT doc_a, doc_b, hamming,
        |  (doc_b = doc_a + 1 AND doc_b % 10 = 1) AS planted
        |FROM scored WHERE hamming <= 6
        |  AND (doc_a % 100 IN (41, 60, 80, 81)
        |    OR doc_b % 100 IN (41, 60, 80, 81))
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_image_threshold_curve" ->
      s"""$imagePhashSqlCtes,
        |thetas AS (SELECT CAST(range AS BIGINT) AS theta
        |           FROM range(0, 9)),
        |np AS (
        |  SELECT theta, CAST(COUNT(p.doc_a) AS BIGINT) AS n_pairs
        |  FROM thetas t LEFT JOIN scored p ON p.hamming <= t.theta
        |  GROUP BY 1),
        |nd AS (
        |  SELECT theta, CAST(COUNT(DISTINCT e.d) AS BIGINT)
        |    AS n_docs_linked
        |  FROM thetas t LEFT JOIN (
        |    SELECT doc_a AS d, hamming FROM scored
        |    UNION ALL SELECT doc_b, hamming FROM scored) e
        |    ON e.hamming <= t.theta
        |  GROUP BY 1)
        |SELECT theta, n_pairs, n_docs_linked
        |FROM np JOIN nd USING (theta) ORDER BY theta""".stripMargin,
    // each modality's full twin nests as a subquery; the consensus is
    // pure set logic over their pair outputs
    "q_multimodal_dedup_consensus" ->
      s"""WITH img AS (SELECT doc_a, doc_b FROM ($imagePhashOracle) iq),
        |aud AS (SELECT doc_a, doc_b FROM ($audioFingerprintOracle) aq),
        |vid AS (SELECT doc_a, doc_b FROM ($videoFramehashOracle) vq),
        |li AS (SELECT DISTINCT d FROM (
        |  SELECT doc_a AS d FROM img UNION ALL SELECT doc_b FROM img)),
        |la AS (SELECT DISTINCT d FROM (
        |  SELECT doc_a AS d FROM aud UNION ALL SELECT doc_b FROM aud)),
        |lv AS (SELECT DISTINCT d FROM (
        |  SELECT doc_a AS d FROM vid UNION ALL SELECT doc_b FROM vid))
        |SELECT
        |  li.d IS NOT NULL AS linked_image,
        |  la.d IS NOT NULL AS linked_audio,
        |  lv.d IS NOT NULL AS linked_video,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents doc
        |LEFT JOIN li ON doc.doc_id = li.d
        |LEFT JOIN la ON doc.doc_id = la.d
        |LEFT JOIN lv ON doc.doc_id = lv.d
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the recursive closure of the same closed-form pair graph
    "q_dedup_image_keep_list" ->
      s"""${imagePhashSqlCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |nearpairs AS (
        |  SELECT doc_a AS a_id, doc_b AS b_id FROM scored
        |  WHERE hamming <= 6),
        |edges(src, dst) AS (
        |  SELECT a_id, b_id FROM nearpairs
        |  UNION ALL SELECT b_id, a_id FROM nearpairs),
        |reach(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
        |comps AS (
        |  SELECT id AS doc_id, MIN(comp) AS component_id
        |  FROM reach GROUP BY id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(coalesce(c.component_id, d.doc_id) AS BIGINT)
        |    AS component_id
        |FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
        |WHERE c.component_id IS NULL OR d.doc_id = c.component_id
        |ORDER BY d.doc_id""".stripMargin,
    // the ≥2-of-3 policy APPLIED: all three modality twins nest as
    // subqueries, pairs confirmed by ≥2 close recursively, keep = each
    // component's min + every unconfirmed doc
    "q_multimodal_keep_list" ->
      s"""WITH RECURSIVE
        |img AS (SELECT doc_a, doc_b FROM ($imagePhashOracle) iq),
        |aud AS (SELECT doc_a, doc_b FROM ($audioFingerprintOracle) aq),
        |vid AS (SELECT doc_a, doc_b FROM ($videoFramehashOracle) vq),
        |confirmed AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT doc_a, doc_b, COUNT(*) AS nm FROM (
        |      SELECT doc_a, doc_b FROM img
        |      UNION ALL SELECT doc_a, doc_b FROM aud
        |      UNION ALL SELECT doc_a, doc_b FROM vid) u
        |    GROUP BY 1, 2) g
        |  WHERE nm >= 2),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM confirmed
        |  UNION ALL SELECT doc_b, doc_a FROM confirmed),
        |reach(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
        |comps AS (
        |  SELECT id AS doc_id, MIN(comp) AS component_id
        |  FROM reach GROUP BY id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(coalesce(c.component_id, d.doc_id) AS BIGINT)
        |    AS component_id
        |FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
        |WHERE c.component_id IS NULL OR d.doc_id = c.component_id
        |ORDER BY d.doc_id""".stripMargin,
    // the codec-free video twin: every frame grid closed-form — the
    // same mixer keyed by base*131+f, sampled positions 0/2/4/6,
    // per-frame dHash, capped bucket join, >=3-of-4 overlap
    "q_dedup_video_framehash" -> videoFramehashOracle,
    // the slice-scoped twin of the frame-files ingest: census and cap
    // over the on-disk population (see videoFramehashOracleOn)
    "q_dedup_video_framehash_files" ->
      videoFramehashOracleOn("WHERE doc_id % 100 < 20"),
    // the codec-free audio twin: the SAME samples closed-form — green
    // proves the WAV render -> AudioSystem decode -> energy chain
    "q_multimodal_audio_energy" ->
      s"""$audioSqlCtes
        |SELECT doc_id, band, energy
        |FROM energy ORDER BY doc_id, band""".stripMargin,
    "q_dedup_audio_fingerprint" -> audioFingerprintOracle,
    // the SAME closed-form twin: the files path must reproduce the
    // render-sourced result byte-for-byte (the image-files discipline)
    "q_dedup_audio_fingerprint_files" -> audioFingerprintOracle,
    // the table-derived truth of the file-tree ingest: same slice, same
    // byte accounting — lossless ingest means equality
    "q_multimodal_ingest_files" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  sha256(text) AS content_sha256
        |FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin)
}
