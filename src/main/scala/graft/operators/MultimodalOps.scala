package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payload columns with
  * typed metadata, decoded/feature-extracted in distributed batches.
  *
  * Two decoders behind the same row type: [[decodeImage]] is a REAL
  * image codec (`javax.imageio`, JDK-built-in — PNG/JPEG/BMP/GIF);
  * `decodeStub` is a clearly-marked DETERMINISTIC FAKE (arithmetic on
  * the raw bytes) used where payloads aren't images (the fixture's
  * text-as-binary oracle query) and for audio/video, whose codecs this
  * container lacks. Everything around them is the real production shape:
  *  - payloads are `BinaryType` columns (exactly how parquet stores
  *    image/audio blobs at 100 TB), carried next to typed metadata;
  *  - decode runs per-PARTITION via `mapPartitions`, the Scala
  *    equivalent of `mapInPandas`: one decoder instance per task, rows
  *    streamed through it in batches, output schema declared up front;
  *  - swapping the stub for a real codec changes ONE function, not the
  *    plumbing. At scale, partition count controls decoder parallelism
  *    and memory (one in-flight batch per core).
  */
object MultimodalOps {

  /** LOUD doc-id parse from a media-lake filename (q45 convention,
    * r17 access/cast sweep): a *.png whose name does not carry the id
    * makes regexp_extract return '' — under the ANSI session default
    * the CAST then dies as an opaque CAST_INVALID_INPUT, and non-ANSI
    * it would ride in as NULL and silently vanish on the downstream
    * join (the data-loss class). Name the query and the file instead;
    * a NON-empty match is (\d+) — all digits — so the cast itself
    * cannot throw on format (only on a >int64 id, which is loud too).
    */
  private[graft] def pngDocId(path: Column, query: String): Column = {
    val idStr = regexp_extract(path, "img_(\\d+)\\.png$", 1)
    when(idStr =!= "", idStr.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$query: filename does not carry a doc id: "), path)).cast("long"))
  }

  /** Output row of the fake decoder. */
  final case class DecodedMedia(
      doc_id: Long,
      n_bytes: Long,
      width: Long,
      height: Long,
      channels: Long,
      feat: Array[Double], // 4-bin byte histogram, normalized
  )

  /** DETERMINISTIC STUB — stands in for e.g. JPEG decode + resize +
    * embed. Derives pseudo image dimensions from the payload hash and a
    * 4-bin byte histogram as the "feature vector". Replace the body
    * with a real codec (javax.imageio / ffmpeg bindings) to productionize;
    * the signature and the surrounding plumbing stay unchanged.
    */
  /** One MD5 engine per thread (digest() resets it after each use):
    * the stub/chunk/frame paths hash per ROW or finer, and a JCA
    * provider lookup per call is exactly the per-row init cost the
    * surrounding mapPartitions comments promise to avoid (same pattern
    * as functions/MinhashMins).
    */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def decodeStub(docId: Long, payload: Array[Byte]): DecodedMedia = {
    val md = md5Local.get().digest(payload)
    val h = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
    val hist = new Array[Double](4)
    payload.foreach(b => hist((b & 0xff) / 64) += 1.0)
    val n = math.max(payload.length, 1)
    DecodedMedia(
      doc_id = docId,
      n_bytes = payload.length.toLong,
      width = 64L + h % 577,
      height = 64L + (h / 577) % 433,
      channels = 3L,
      feat = hist.map(_ / n), // raw ratio — same ints / same divide on
      // both engines ⇒ bit-identical doubles, no rounding games
    )
  }

  /** REAL codec path — `javax.imageio` ships in the JDK, so image
    * payloads (PNG/JPEG/BMP/GIF) decode for real: true width/height,
    * color-component count, and a 4-bin luminance histogram as the
    * feature vector. Undecodable payloads return None (a corrupt blob
    * must drop the row, not kill the 100 TB job).
    *
    * Same output row as [[decodeStub]] — the two decoders are
    * interchangeable behind [[decodeMedia]]/[[decodeImageMedia]]; the
    * stub remains for the text-payload oracle query (q33), this one for
    * genuine image bytes.
    */
  def decodeImage(docId: Long, payload: Array[Byte]): Option[DecodedMedia] = {
    val img =
      if (payload == null) null
      else
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        // NonFatal, not just IOException: JDK codecs throw
        // runtime exceptions (AIOOBE, NegativeArraySize, IAE) on
        // truncated/crafted payloads — any of them must drop the row,
        // not fail the task
        catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val hist = new Array[Double](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          // integer Rec.601 luma — deterministic across JVMs
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(lum / 64) += 1.0
          x += 1
        }
        y += 1
      }
      val n = math.max(w * h, 1)
      Some(DecodedMedia(
        doc_id = docId,
        n_bytes = payload.length.toLong,
        width = w.toLong,
        height = h.toLong,
        channels = img.getColorModel.getNumComponents.toLong,
        feat = hist.map(_ / n),
      ))
    }
  }

  /** [[decodeMedia]]'s plumbing with the REAL image decoder: corrupt
    * payloads are dropped (flatMap), decoder setup (disabling ImageIO's
    * temp-file cache) happens once per partition.
    */
  def decodeImageMedia(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-task decoder init: in-memory decode, no temp-file churn
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, bytes) => decodeImage(id, bytes) }
      }
      .toDF()
  }

  /** Deterministic synthetic PNG for the q33d gate: `w × h`, row `y`
    * filled with the gray level `(docId + 17·y) mod 256`. Gray pixels
    * make the decoder's integer Rec.601 luma EXACTLY the gray value
    * (v·(299+587+114)/1000 = v), so the luminance histogram is pure
    * doc_id arithmetic an SQL oracle can re-derive — while the bytes
    * on disk are a genuine PNG stream only a real codec can read.
    * PNG is lossless for opaque RGB, so the round trip is exact.
    */
  def syntheticPng(docId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val v = ((docId + 17L * y) % 256).toInt
      val rgb = (v << 16) | (v << 8) | v
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** q33d's scratch dir (parquet with a real-PNG BINARY column). */
  private[operators] lazy val pngDir: String = Relational.roundtripDir("png_media")

  /** q206's scratch dir (variant-PNG corpus for perceptual-hash dedup). */
  private[operators] lazy val phashDir: String = Relational.roundtripDir("phash_media")

  /** One perceptual-hash row. */
  final case class PHashRow(doc_id: Long, dhash: Long)

  /** Deterministic variant PNG for the q206 gate: 8×16, pixel
    * (x, ys) = the md5-derived gray of ("ph:", seed, ys, x) where
    * seed = doc_id div 4 — each group of 4 consecutive doc_ids shares
    * a pseudo-random base image (md5 grays, so DISTINCT seeds hash
    * independently — a linear gray ramp would correlate every seed's
    * hash and blow up the band buckets) — and variant v = doc_id mod 4
    * > 0 overrides source row 2v with the "phv:" namespace. The
    * override sits on an EVEN row (the ones the 8×8 nearest-neighbor
    * resample actually samples), so a variant differs from its base in
    * exactly one resized row — a genuine near-duplicate image under
    * the difference hash below.
    */
  def syntheticVariantPng(docId: Long): Array[Byte] = {
    val seed = docId / 4
    val v = docId % 4
    val md = java.security.MessageDigest.getInstance("MD5")
    def gray(ns: String, ys: Int, x: Int): Int = {
      val hex = md.digest(s"$ns:$seed:$ys:$x".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      Integer.parseInt(hex, 16)
    }
    val img = new java.awt.image.BufferedImage(
      8, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var ys = 0
    while (ys < 16) {
      var x = 0
      while (x < 8) {
        val g =
          if (v > 0 && ys == 2 * v) gray("phv", ys, x) else gray("ph", ys, x)
        img.setRGB(x, ys, (g << 16) | (g << 8) | g)
        x += 1
      }
      ys += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode → 8×8 nearest-neighbor resample → 56-bit vertical
    * DIFFERENCE hash (dHash, the perceptual-hash family): bit
    * (x, y) = lum(x, y) > lum(x, y+1) over the resized grid — 8 bits ×
    * 7 row-pairs, bits 0..55 only, so the hash stays a positive BIGINT
    * on both engines (no sign-bit gymnastics). Row-local comparisons
    * (unlike aHash's global mean) keep a localized image edit's
    * hamming damage bounded: one changed resized row flips at most the
    * two adjacent row-pair bands. Corrupt payloads drop the row, like
    * every real-decode path here.
    */
  def dhash56(docId: Long, payload: Array[Byte]): Option[PHashRow] = {
    val img =
      if (payload == null) null
      else
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val lum = Array.ofDim[Int](8, 8)
      var y = 0
      while (y < 8) {
        val sy = y * h / 8
        var x = 0
        while (x < 8) {
          val sx = x * w / 8
          val rgb = img.getRGB(sx, sy)
          lum(y)(x) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          x += 1
        }
        y += 1
      }
      var hash = 0L
      y = 0
      while (y < 7) {
        var x = 0
        while (x < 8) {
          if (lum(y)(x) > lum(y + 1)(x)) hash |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      Some(PHashRow(docId, hash))
    }
  }

  /** Deterministic synthetic JPEG for the q33e gate: a UNIFORM gray
    * image at level `bin·64 + 16 + (docId mod 32)` where
    * `bin = docId mod 4`. The gray level sits ≥ 16 luma units from
    * both edges of its 64-wide luminance bin, so JPEG's lossy round
    * trip (±1–2 on a uniform field) can never move a pixel across a
    * bin boundary — that margin IS the stated tolerance band of the
    * oracle contract: dims/channels gate exactly, the histogram gates
    * as "every decoded pixel still lands in the constructed bin".
    */
  def syntheticJpeg(docId: Long, w: Int, h: Int): Array[Byte] = {
    val v = ((docId % 4) * 64 + 16 + docId % 32).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (v << 16) | (v << 8) | v
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** q33e's scratch dir (parquet with a real-JPEG BINARY column). */
  private[operators] lazy val jpegDir: String = Relational.roundtripDir("jpeg_media")

  /** The real plumbing: binary column in, typed rows out, one decoder
    * per partition (mapPartitions ≈ mapInPandas batch shape).
    */
  def decodeMedia(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init happens HERE (codec handles, model
        // weights, ...) — once per task, not once per row.
        // NULL payload drops its row (the real-decoder contract) —
        // digesting a null array would NPE the task 4× and abort the job
        rows.flatMap { case (id, bytes) =>
          if (bytes == null) None else Some(decodeStub(id, bytes))
        }
      }
      .toDF()
  }

  /** Frame/chunk sampling: split each payload into fixed-size chunks
    * (the audio-frame / video-keyframe batch shape), one decoder pass
    * per partition. Chunk features are the same deterministic stub.
    */
  def chunkMedia(spark: SparkSession, media: DataFrame, chunkBytes: Int): DataFrame = {
    import spark.implicits._
    media
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.empty // null blob drops its row, never the task
          else bytes.grouped(chunkBytes).zipWithIndex.map { case (chunk, idx) =>
            val md = md5Local.get().digest(chunk)
            (id, idx.toLong, chunk.length.toLong, md.map("%02x".format(_)).mkString)
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "n_bytes", "chunk_md5")
  }

  /** Frame sampling: treat the payload as a sequence of fixed-size
    * frames and keep every `stride`-th one — the video keyframe-
    * extraction shape (a real pipeline samples I-frames; here frames
    * are fixed-width byte windows so the sampling arithmetic, schema
    * and partition behavior are the real thing while the codec stays
    * out of the container). Sampling happens INSIDE the flatMap —
    * skipped frames are never materialized, so a stride of 30 reads
    * 1/30th of the decode cost, exactly like real frame sampling.
    */
  def sampleFrames(
      spark: SparkSession, media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    import spark.implicits._
    media
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.empty // null blob drops its row, never the task
          else {
            val nFrames = (bytes.length + frameBytes - 1) / frameBytes
            Iterator.range(0, nFrames, stride).map { i =>
              val frame = java.util.Arrays.copyOfRange(
                bytes, i * frameBytes, math.min((i + 1) * frameBytes, bytes.length))
              val md = md5Local.get().digest(frame)
              (id, i.toLong, frame.length.toLong, md.map("%02x".format(_)).mkString)
            }
          }
        }
      }
      .toDF("doc_id", "frame_idx", "n_bytes", "frame_md5")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      // IMAGE near-dup dedup via perceptual hashing — the multimodal
      // twin of q29's text SimHash banding, over GENUINE codec work:
      // a variant-PNG corpus (each 4-doc group shares a base image;
      // variants carry a one-row edit) is written through parquet
      // BINARY, read back, real-decoded, resampled 8×8, and difference-
      // hashed (dhash56); pairs come from the q29 banded self-join
      // (7 bands × 8 bits) + hamming ≤ 16 verification. The one-row
      // edits are band-aligned by construction (≤2 of 7 bands differ
      // per edit, ≥3 bands always shared), so banding is lossless here
      // and the oracle — which re-derives every hash from the
      // construction arithmetic and runs the same banded join — gates
      // the pairs exactly. At 100 TB: hashing is scan-stage decode
      // work; the join is candidates-only, the q27/q29 scale story.
      "q206_image_phash_dedup",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map(id => (id, syntheticVariantPng(id)))
          }
          .toDF("doc_id", "payload")
        val path = s"$phashDir/${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        val hashes = s.read.schema(media.schema).parquet(path)
          .select(col("doc_id").cast("long"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            javax.imageio.ImageIO.setUseCache(false)
            rows.flatMap { case (id, b) => dhash56(id, b) }
          }
          .toDF().localCheckpoint()
        val bands = hashes
          .select(col("doc_id"), col("dhash"), explode(expr("sequence(0, 6)")).as("b"))
          .withColumn("bv", expr("shiftright(dhash, 8 * b) & 255"))
        bands.as("a")
          .join(
            bands.as("b"),
            col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.dhash").as("ha"), col("b.dhash").as("hb"))
          .distinct()
          .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
          .filter(col("hamming") <= 16)
          .select("da", "db", "hamming")
      },
      Some(
        "WITH d AS (SELECT doc_id, doc_id // 4 AS seed, doc_id % 4 AS v FROM documents), " +
          // resized pixel (x, y): source row 2y (nearest neighbor on
          // the 8x16 construction); variant v overrides source row
          // 2v = resized row v via the "phv" md5 namespace
          "px AS (SELECT doc_id, x, y, CAST(('0x' || substr(md5(" +
          "(CASE WHEN v > 0 AND y = v THEN 'phv' ELSE 'ph' END) || ':' || " +
          "CAST(seed AS VARCHAR) || ':' || CAST(2 * y AS VARCHAR) || ':' || " +
          "CAST(x AS VARCHAR)), 1, 2))::BIGINT AS BIGINT) AS lum " +
          "FROM d, unnest(range(0, 8)) AS ux(x), unnest(range(0, 8)) AS uy(y)), " +
          "bits AS (SELECT a.doc_id, a.y * 8 + a.x AS i, " +
          "CASE WHEN a.lum > b.lum THEN 1 ELSE 0 END AS bit " +
          "FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.x = b.x AND b.y = a.y + 1 " +
          "WHERE a.y < 7), " +
          "hash AS (SELECT doc_id, CAST(SUM(bit * (1::BIGINT << i)) AS BIGINT) AS dhash " +
          "FROM bits GROUP BY doc_id), " +
          "bands AS (SELECT doc_id, dhash, b, (dhash >> (8 * b)) & 255 AS bv " +
          "FROM hash, unnest(range(0, 7)) AS u(b)), " +
          "cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db, a.dhash ha, b.dhash hb " +
          "FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id) " +
          "SELECT da, db, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming " +
          "FROM cand WHERE bit_count(xor(ha, hb)) <= 16"),
    ),
    QuerySpec(
      "q33b_multimodal_chunks",
      (s, dir) => {
        val media = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        chunkMedia(s, media, 128)
      },
      // ASCII text (asserted per-scale by BoundaryMarginSpec) ⇒ byte
      // slicing == substr; md5 per chunk
      Some(
        "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, " +
          "CAST(length(substr(text, CAST(i * 128 + 1 AS INT), 128)) AS BIGINT) AS n_bytes, " +
          "md5(substr(text, CAST(i * 128 + 1 AS INT), 128)) AS chunk_md5 " +
          "FROM documents, unnest(range(0, CAST(ceil(length(text) / 128.0) AS BIGINT))) AS u(i)"),
    ),
    QuerySpec(
      // Every-4th-frame sampling over 64-byte frames — the keyframe-
      // extraction plumbing (see sampleFrames). The oracle re-slices
      // the same byte windows with substr and strides the frame index
      // by 4, so frame boundaries, lengths, and hashes are all gated.
      // Same latent fixture assumption as q33b: Spark slices BYTES of
      // the payload while the oracle's substr slices CHARACTERS of the
      // text — equal only because the fixture text is pure ASCII
      // (asserted per-scale by BoundaryMarginSpec; DuckDB 1.0.0 has no
      // blob substring); a multi-byte character would shift frame
      // boundaries. Real media payloads are born binary, so only the
      // text-as-payload oracle trick carries the assumption.
      "q33c_frame_sample",
      (s, dir) => {
        val media = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        sampleFrames(s, media, 64, 4)
      },
      Some(
        "SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, " +
          "CAST(length(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT) AS n_bytes, " +
          "md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5 " +
          "FROM documents, unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 4)) AS u(i)"),
    ),
    QuerySpec(
      // The REAL image decoder, oracle-gated: per document, synthesize
      // a genuine PNG whose dimensions and gray-row pattern are pure
      // doc_id arithmetic (syntheticPng), write the payloads through
      // parquet as a BINARY column (the q60/q73 write-then-read
      // pattern — what lands on disk is a real PNG stream), read them
      // back, and decode with javax.imageio via decodeImageMedia. The
      // oracle re-derives width/height/channels/luminance-histogram
      // from the same arithmetic over `documents` — so a codec that
      // mis-sizes, drops a row, or mis-reads a pixel breaks the hash.
      "q33d_image_decode",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false) // in-memory encode
            it.map { id =>
              val w = (8 + id % 24).toInt
              val h = (8 + (id * 7) % 16).toInt
              (id, syntheticPng(id, w, h))
            }
          }
          .toDF("doc_id", "payload")
        val path = s"$pngDir/${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        decodeImageMedia(s, s.read.parquet(path))
          .select(
            col("doc_id"), col("width"), col("height"), col("channels"),
            element_at(col("feat"), 1).as("feat_bin0"),
            element_at(col("feat"), 2).as("feat_bin1"),
            element_at(col("feat"), 3).as("feat_bin2"),
            element_at(col("feat"), 4).as("feat_bin3"))
      },
      // the construction arithmetic, re-derived: row y is the gray
      // level (doc_id + 17y) % 256, every pixel of the row lands in
      // luma bin gray // 64, so bin b holds w pixels per matching row;
      // ratios divide the same exact integers both engines hold.
      Some(
        "WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, " +
          "8 + (doc_id * 7) % 16 AS h FROM documents), " +
          "rows_ AS (SELECT doc_id, w, h, " +
          "((doc_id + 17 * y) % 256) // 64 AS bin " +
          "FROM d, unnest(range(0, h)) AS u(y)), " +
          "c AS (SELECT doc_id, w, h, " +
          "SUM(CASE WHEN bin = 0 THEN w ELSE 0 END) AS b0, " +
          "SUM(CASE WHEN bin = 1 THEN w ELSE 0 END) AS b1, " +
          "SUM(CASE WHEN bin = 2 THEN w ELSE 0 END) AS b2, " +
          "SUM(CASE WHEN bin = 3 THEN w ELSE 0 END) AS b3 " +
          "FROM rows_ GROUP BY doc_id, w, h) " +
          "SELECT doc_id, CAST(w AS BIGINT) AS width, " +
          "CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, " +
          "CAST(b0 AS DOUBLE) / (w * h) AS feat_bin0, " +
          "CAST(b1 AS DOUBLE) / (w * h) AS feat_bin1, " +
          "CAST(b2 AS DOUBLE) / (w * h) AS feat_bin2, " +
          "CAST(b3 AS DOUBLE) / (w * h) AS feat_bin3 FROM c"),
    ),
    QuerySpec(
      // Lossy-codec gate: genuine JPEG streams (huffman + DCT decode,
      // not a stub) through the same real-decoder plumbing as q33d.
      // Exact fields (width/height/channels) gate bit-for-bit; the
      // lossy histogram gates through the tolerance contract built
      // into the fixture (see syntheticJpeg): dom_bin = the argmax of
      // the DECODED histogram must be the constructed bin, and
      // hist_in_band = 1 iff every decoded pixel stayed inside it.
      // The oracle states the contract (all flags 1) — a codec drift
      // larger than the ±16-luma margin breaks the hash.
      "q33e_jpeg_decode",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false) // in-memory encode
            it.map { id =>
              val w = (8 + id % 24).toInt
              val h = (8 + (id * 7) % 16).toInt
              (id, syntheticJpeg(id, w, h))
            }
          }
          .toDF("doc_id", "payload")
        val path = s"$jpegDir/${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        decodeImageMedia(s, s.read.parquet(path))
          .select(
            col("doc_id"), col("width"), col("height"), col("channels"),
            (array_position(col("feat"), array_max(col("feat"))) - 1)
              .cast("bigint").as("dom_bin"),
            (element_at(col("feat"), (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
              === lit(1.0d)).cast("bigint").as("hist_in_band"))
      },
      Some(
        "SELECT doc_id, CAST(8 + doc_id % 24 AS BIGINT) AS width, " +
          "CAST(8 + (doc_id * 7) % 16 AS BIGINT) AS height, " +
          "CAST(3 AS BIGINT) AS channels, " +
          "CAST(doc_id % 4 AS BIGINT) AS dom_bin, " +
          "CAST(1 AS BIGINT) AS hist_in_band FROM documents"),
    ),
    QuerySpec(
      "q33_multimodal_decode",
      (s, dir) => {
        // fixture has no blob column — treat the utf8 text bytes as the
        // opaque payload; the plumbing neither knows nor cares
        val media = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        decodeMedia(s, media)
          .select(
            col("doc_id"), col("n_bytes"), col("width"), col("height"),
            col("channels"), element_at(col("feat"), 2).as("feat_bin1"))
      },
      // oracle re-derives the stub's arithmetic in SQL. The fixture
      // text is pure ASCII (verified), so byte i == char i and
      // md5(text) == md5 of the utf8 payload — DuckDB's md5 only takes
      // VARCHAR. Bin 1 of the histogram = bytes 64..127.
      Some(
        "WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, " +
          "('0x' || substr(md5(text), 1, 8))::BIGINT AS hv, text FROM documents), " +
          "f AS (SELECT doc_id, n_bytes, 64 + hv % 577 AS width, " +
          "64 + (hv // 577) % 433 AS height, " +
          "(SELECT COUNT(*) FROM unnest(range(1, n_bytes + 1)) AS u(i) " +
          " WHERE ord(text[i:i]) // 64 = 1) AS bin1 FROM h) " +
          "SELECT doc_id, n_bytes, width, height, CAST(3 AS BIGINT) AS channels, " +
          // GREATEST(. ,1): the stub divides by max(len, 1), so an
          // empty payload must yield 0.0 here too, not NaN
          "CAST(bin1 AS DOUBLE) / GREATEST(n_bytes, 1) AS feat_bin1 FROM f"),
    ),
    QuerySpec(
      // File-per-record media ingest through Spark's `binaryFile`
      // source — how images actually ENTER a lake (object-store
      // listing → (path, length, content) rows), complementing q33d's
      // already-in-parquet form. A bounded 600-file corpus of the same
      // synthesized PNGs is materialized as individual .png files; the
      // read path lists the directory, globs *.png, parses doc_id out
      // of the file NAME, cross-checks the source's length metadata
      // against the content it delivered (len_match, oracle-pinned
      // true), and runs the same real `javax.imageio` decode. At scale
      // the listing parallelizes over the store and decode stays a
      // per-task mapPartitions — no shuffle anywhere in this plan.
      "q33f_binaryfile_ingest",
      (s, dir) => {
        import s.implicits._
        val base = Relational.datasetKey(dir)
        val fdir = new java.io.File(s"$pngDir/${base}_files")
        // (re)materialize the file corpus deterministically
        if (fdir.exists()) fdir.listFiles().foreach(_.delete()) else fdir.mkdirs()
        javax.imageio.ImageIO.setUseCache(false)
        val fpath = fdir.getAbsolutePath
        Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
          .filter(_ < 600L)
          .foreachPartition { (it: Iterator[Long]) =>
            // executor-side file materialization (single-node local FS
            // here; the object store at scale) — fixture-lake
            // scaffolding, not the measured operator
            javax.imageio.ImageIO.setUseCache(false)
            it.foreach { id =>
              val w = (8 + id % 24).toInt
              val h = (8 + (id * 7) % 16).toInt
              val f = new java.io.FileOutputStream(new java.io.File(fpath, s"img_$id.png"))
              try f.write(syntheticPng(id, w, h)) finally f.close()
            }
          }
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .load(fdir.getAbsolutePath)
          .select(
            pngDocId(col("path"), "q33f_binaryfile_ingest").as("doc_id"),
            col("length"),
            col("content").as("payload"))
        decodeImageMedia(s, media.select("doc_id", "payload"))
          .join(media.select(col("doc_id"), col("length"), octet_length(col("payload")).as("blen")), "doc_id")
          .select(
            col("doc_id"), col("width"), col("height"), col("channels"),
            (col("length") === col("blen")).as("len_match"),
            element_at(col("feat"), 1).as("feat_bin0"),
            element_at(col("feat"), 4).as("feat_bin3"))
      },
      Some(
        "WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, " +
          "8 + (doc_id * 7) % 16 AS h FROM documents WHERE doc_id < 600), " +
          "rows_ AS (SELECT doc_id, w, h, " +
          "((doc_id + 17 * y) % 256) // 64 AS bin " +
          "FROM d, unnest(range(0, h)) AS u(y)), " +
          "c AS (SELECT doc_id, w, h, " +
          "SUM(CASE WHEN bin = 0 THEN w ELSE 0 END) AS b0, " +
          "SUM(CASE WHEN bin = 3 THEN w ELSE 0 END) AS b3 " +
          "FROM rows_ GROUP BY doc_id, w, h) " +
          "SELECT doc_id, CAST(w AS BIGINT) AS width, " +
          "CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, " +
          "true AS len_match, " +
          "CAST(b0 AS DOUBLE) / (w * h) AS feat_bin0, " +
          "CAST(b3 AS DOUBLE) / (w * h) AS feat_bin3 FROM c"),
    ),
    QuerySpec(
      // REAL image resize — the decode → RESIZE → re-measure pipeline
      // stage (thumbnailing / model-input normalization): q33d's
      // genuine PNGs are decoded, nearest-neighbor-resampled to 8×8,
      // and the luma histogram of the RESIZED pixels is gated. The
      // oracle re-derives it in closed form: resized row y samples
      // source row floor(y·h/8), whose gray is (doc_id + 17·sy) % 256,
      // contributing 8 pixels to bin gray/64. Same mapPartitions
      // shape; reuses q33d's written media parquet (scratch reuse, not
      // a data dependency — the file is (re)written by this query too
      // so it gates standalone).
      "q33h_image_resize",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map { id =>
              val w = (8 + id % 24).toInt
              val h = (8 + (id * 7) % 16).toInt
              (id, syntheticPng(id, w, h))
            }
          }
          .toDF("doc_id", "payload")
        val path = s"$pngDir/resize_${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .select(col("doc_id").cast("long"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            javax.imageio.ImageIO.setUseCache(false)
            rows.flatMap { case (id, bytes) => resizeImage(id, bytes, 8, 8) }
          }
          .toDF()
      },
      Some(
        "WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, " +
          "8 + (doc_id * 7) % 16 AS h FROM documents), " +
          "rows_ AS (SELECT doc_id, ((doc_id + 17 * ((y * h) // 8)) % 256) // 64 AS bin " +
          "FROM d, unnest(range(0, 8)) AS u(y)) " +
          "SELECT doc_id, CAST(8 AS BIGINT) AS rw, CAST(8 AS BIGINT) AS rh, " +
          "CAST(SUM(CASE WHEN bin = 0 THEN 8 ELSE 0 END) AS BIGINT) AS rbin0, " +
          "CAST(SUM(CASE WHEN bin = 1 THEN 8 ELSE 0 END) AS BIGINT) AS rbin1, " +
          "CAST(SUM(CASE WHEN bin = 2 THEN 8 ELSE 0 END) AS BIGINT) AS rbin2, " +
          "CAST(SUM(CASE WHEN bin = 3 THEN 8 ELSE 0 END) AS BIGINT) AS rbin3 " +
          "FROM rows_ GROUP BY doc_id"),
    ),
    QuerySpec(
      // REAL video-container path — completes the modality triple:
      // genuine length-prefixed PNG frame streams in parquet BINARY,
      // walked by an actual container parser that SEEKS past skipped
      // frames (decode cost ∝ sampled frames, I/O ∝ container bytes —
      // the frame-sampling economics q33c models now measured over
      // real codec work). Every 2nd frame is ImageIO-decoded and its
      // luma histogram gated against the construction arithmetic.
      "q33i_video_frames",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map(id => (id, syntheticVideo(id)))
          }
          .toDF("doc_id", "payload")
        val path = s"$pngDir/video_${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .select(col("doc_id").cast("long"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            javax.imageio.ImageIO.setUseCache(false)
            rows.flatMap { case (id, bytes) => sampleVideoFrames(id, bytes, 2) }
          }
          .toDF()
      },
      Some(
        "WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS n FROM documents), " +
          "f AS (SELECT doc_id, n, fi FROM d, unnest(range(0, n)) AS u(fi) " +
          "WHERE fi % 2 = 0), " +
          "r AS (SELECT doc_id, n, fi, ((doc_id + fi + 17 * y) % 256) // 64 AS bin " +
          "FROM f, unnest(range(0, 8)) AS v(y)) " +
          "SELECT doc_id, CAST(fi AS BIGINT) AS fidx, CAST(n AS BIGINT) AS n_frames, " +
          "CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height, " +
          "CAST(SUM(CASE WHEN bin = 0 THEN 8 ELSE 0 END) AS BIGINT) AS vbin0, " +
          "CAST(SUM(CASE WHEN bin = 1 THEN 8 ELSE 0 END) AS BIGINT) AS vbin1, " +
          "CAST(SUM(CASE WHEN bin = 2 THEN 8 ELSE 0 END) AS BIGINT) AS vbin2, " +
          "CAST(SUM(CASE WHEN bin = 3 THEN 8 ELSE 0 END) AS BIGINT) AS vbin3 " +
          "FROM r GROUP BY doc_id, fi, n"),
    ),
    QuerySpec(
      // REAL audio codec path — q33d's pattern for the audio modality:
      // genuine RIFF/WAVE PCM16 bytes in a parquet BINARY column,
      // decoded by an actual chunk-walking WAV parser (fmt /data
      // chunks, word alignment, sign-extended little-endian samples),
      // with per-clip features (peak, RMS, zero-crossing count) whose
      // expected values an SQL oracle re-derives from the synthesis
      // arithmetic. The clip is a square wave with even period
      // p = 4 + 2·(doc_id mod 4) and amplitude 1000 + (doc_id mod
      // 100)·10, so peak = rms = amp exactly (every sample is ±amp;
      // amp² · n is exact in double) and zero crossings =
      // ⌊(n−1)/(p/2)⌋ in closed form. Same mapPartitions shape as the
      // image path — per-task decode, corrupt payloads drop the row.
      "q33g_audio_decode",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids.map(id => (id, syntheticWav(id))).toDF("doc_id", "payload")
        val path = s"$wavDir/${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .select(col("doc_id").cast("long"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, bytes) => decodeWav(id, bytes) })
          .toDF()
      },
      Some(
        "SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, " +
          "CAST(64 + doc_id % 64 AS BIGINT) AS n_samples, " +
          "CAST(1000 + (doc_id % 100) * 10 AS BIGINT) AS peak, " +
          "CAST(1000 + (doc_id % 100) * 10 AS DOUBLE) AS rms, " +
          "CAST((64 + doc_id % 64 - 1) // (2 + doc_id % 4) AS BIGINT) AS zero_crossings " +
          "FROM documents"),
    ),
    QuerySpec(
      // Frame-level audio features — the windowed analysis shape
      // (loudness/VAD frames) every audio pipeline runs after decode:
      // REAL WAV bytes → chunk-walking decode → non-overlapping
      // 16-sample frames → per-frame peak + RMS. The clip is a
      // sawtooth (see syntheticWavRamp) so every frame's stats differ
      // and the oracle re-derives them from the synthesis arithmetic
      // per (doc, frame) — gating the framing boundaries AND the
      // decode. Same mapPartitions shape as q33g; frames explode
      // inside the task, so the exchange only ever carries frame rows.
      "q33j_audio_frames",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = ids.map(id => (id, syntheticWavRamp(id))).toDF("doc_id", "payload")
        val path = s"$wavDir/ramp_${Relational.datasetKey(dir)}"
        media.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .select(col("doc_id").cast("long"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, bytes) => audioFrames(id, bytes, 16) })
          .toDF()
          .withColumn("rms", round(col("rms"), 6))
      },
      Some(
        "WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents), " +
          "s AS (SELECT doc_id, i, ((doc_id + 3 * i) % 2001) - 1000 AS sv " +
          "FROM d, unnest(range(0, n)) AS u(i)) " +
          "SELECT doc_id, CAST(i // 16 AS BIGINT) AS fidx, " +
          "CAST(COUNT(*) AS BIGINT) AS n_samples, " +
          "CAST(MAX(ABS(sv)) AS BIGINT) AS peak, " +
          "round(sqrt(SUM(CAST(sv * sv AS DOUBLE)) / COUNT(*)), 6) AS rms " +
          "FROM s GROUP BY doc_id, i // 16"),
    ),
  )

  /** One resized image: output dims + luma histogram of the RESIZED
    * pixels (counts, not ratios — 64 pixels exactly).
    */
  final case class ResizedMedia(
      doc_id: Long, rw: Long, rh: Long,
      rbin0: Long, rbin1: Long, rbin2: Long, rbin3: Long)

  /** Real decode → nearest-neighbor resize to `rw`×`rh` → luma
    * histogram of the RESIZED image. Nearest-neighbor (src pixel
    * (x·w/rw, y·h/rh), integer floor) is the deterministic kernel —
    * bilinear would be real too but its blended pixels have no exact
    * closed form for an SQL oracle; the resize loop itself is the same
    * work either way. Corrupt payloads drop the row.
    */
  def resizeImage(docId: Long, payload: Array[Byte], rw: Int, rh: Int): Option[ResizedMedia] = {
    val img =
      if (payload == null) null
      else
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val hist = new Array[Long](4)
      var y = 0
      while (y < rh) {
        val sy = y * h / rh
        var x = 0
        while (x < rw) {
          val sx = x * w / rw
          val rgb = img.getRGB(sx, sy)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(lum / 64) += 1L
          x += 1
        }
        y += 1
      }
      Some(ResizedMedia(docId, rw.toLong, rh.toLong, hist(0), hist(1), hist(2), hist(3)))
    }
  }

  /** One sampled video frame: container facts + per-frame luma bins. */
  final case class VideoFrame(
      doc_id: Long, fidx: Long, n_frames: Long,
      width: Long, height: Long,
      vbin0: Long, vbin1: Long, vbin2: Long, vbin3: Long)

  /** Deterministic synthetic video container for the q33i gate: magic
    * "GVID", LE32 frame count, then length-prefixed REAL PNG frames —
    * frame f is `syntheticPng(docId + f, 8, 8)`, so every sampled
    * frame's luma histogram has a closed form. A real container in the
    * only sense that matters for the pipeline: frame boundaries exist
    * only in the byte stream and must be walked to be found.
    */
  def syntheticVideo(docId: Long): Array[Byte] = {
    val n = (4 + docId % 5).toInt
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >>> 24) & 0xff)
    }
    bos.write("GVID".getBytes("US-ASCII")); le32(n)
    var f = 0
    while (f < n) {
      val png = syntheticPng(docId + f, 8, 8)
      le32(png.length); bos.write(png, 0, png.length)
      f += 1
    }
    bos.toByteArray
  }

  /** Container walk + strided frame sampling + REAL per-frame decode:
    * only every `stride`-th frame's bytes reach the codec — skipped
    * frames are seeked past by their length prefix and never decoded,
    * which is the point of frame sampling at 100 TB (decode cost
    * scales with SAMPLED frames, I/O with container bytes). Malformed
    * containers or frames yield no rows for the bad part, never throw.
    */
  def sampleVideoFrames(
      docId: Long, payload: Array[Byte], stride: Int): Iterator[VideoFrame] = {
    // builder OUTSIDE the try: an unexpected throw mid-walk must still
    // return the frames already decoded — "no rows for the BAD part",
    // not "a bad frame erases the good ones"
    val out = Seq.newBuilder[VideoFrame]
    try {
      if (payload == null || payload.length < 8) return Iterator.empty
      def le32(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
        ((payload(o + 2) & 0xff) << 16) | ((payload(o + 3) & 0xff) << 24)
      if (new String(payload, 0, 4, "US-ASCII") != "GVID") return Iterator.empty
      val n = le32(4)
      var off = 8
      var f = 0
      while (f < n && off + 4 <= payload.length) {
        val len = le32(off); off += 4
        // overflow-safe form: `off + len > payload.length` wraps
        // negative for a crafted len near Int.MaxValue and would let
        // the walk run off the container
        if (len < 0 || len > payload.length - off) return out.result().iterator
        if (f % stride == 0) {
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(payload, off, len))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null) {
            val (w, h) = (img.getWidth, img.getHeight)
            val hist = new Array[Long](4)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                  (rgb & 0xff) * 114) / 1000
                hist(lum / 64) += 1L
                x += 1
              }
              y += 1
            }
            out += VideoFrame(docId, f.toLong, n.toLong, w.toLong, h.toLong,
              hist(0), hist(1), hist(2), hist(3))
          }
        }
        off += len
        f += 1
      }
      out.result().iterator
    } catch { case scala.util.control.NonFatal(_) => out.result().iterator }
  }

  /** One decoded audio clip: header facts + scan features. */
  final case class DecodedAudio(
      doc_id: Long, sample_rate: Long, n_samples: Long,
      peak: Long, rms: Double, zero_crossings: Long)

  /** q33g's scratch dir (parquet with a real-WAV BINARY column). */
  private[operators] lazy val wavDir: String = Relational.roundtripDir("wav_media")

  /** Deterministic synthetic WAV for the q33g gate: PCM16 mono 8 kHz,
    * n = 64 + (docId mod 64) samples of a ±amp square wave with even
    * period p = 4 + 2·(docId mod 4), amp = 1000 + (docId mod 100)·10.
    * The byte stream is a genuine RIFF container (fmt + data chunks,
    * little-endian) — only a real parser can read it back.
    */
  def syntheticWav(docId: Long): Array[Byte] = {
    val n = (64 + docId % 64).toInt
    val p = (4 + 2 * (docId % 4)).toInt
    val amp = (1000 + (docId % 100) * 10).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val sv = if (i % p < p / 2) amp else -amp
      data(2 * i) = (sv & 0xff).toByte
      data(2 * i + 1) = ((sv >> 8) & 0xff).toByte
      i += 1
    }
    pcm16Wav(data)
  }

  /** The ONE place the synthetic RIFF/WAVE container format lives:
    * PCM16 mono 8 kHz header + the given sample bytes. Both synthetic
    * generators (square wave and ramp) wrap through here — two verbatim
    * copies of the header block would let a future header fix apply to
    * one and silently diverge the other.
    */
  private def pcm16Wav(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >>> 24) & 0xff)
    }
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    bos.write("RIFF".getBytes("US-ASCII")); le32(36 + data.length)
    bos.write("WAVE".getBytes("US-ASCII"))
    bos.write("fmt ".getBytes("US-ASCII")); le32(16)
    le16(1); le16(1); le32(8000); le32(8000 * 2); le16(2); le16(16)
    bos.write("data".getBytes("US-ASCII")); le32(data.length)
    bos.write(data, 0, data.length)
    bos.toByteArray
  }

  /** Real WAV decode: RIFF sanity, chunk walk (word-aligned) for
    * `fmt ` and `data`, then a single pass over the sign-extended
    * int16 samples for peak / RMS / zero crossings. Any malformed
    * payload (bad magic, non-PCM16-mono, truncated data) returns None
    * — a corrupt blob drops its row, never the task.
    */
  /** RIFF/WAVE chunk walk → (sample_rate, PCM16 samples). None for
    * anything that isn't well-formed PCM16 mono with a sane data chunk.
    */
  def wavSamples(payload: Array[Byte]): Option[(Int, Array[Int])] = {
    try {
      if (payload == null || payload.length < 12) return None
      def le32(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
        ((payload(o + 2) & 0xff) << 16) | ((payload(o + 3) & 0xff) << 24)
      def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      def tag(o: Int): String = new String(payload, o, 4, "US-ASCII")
      if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var off = 12
      var rate = -1; var bits = -1; var ch = -1
      var dataOff = -1; var dataLen = -1
      while (off + 8 <= payload.length) {
        val id = tag(off); val sz = le32(off + 4)
        // a negative chunk size (crafted/corrupt LE32) would make the
        // offset increment zero (sz = -8/-9) or walk backwards —
        // 8 + (-8) + 0 spins this loop FOREVER and no catch can save
        // a hang; reject instead (drop the row, never the task)
        if (sz < 0) return None
        if (id == "fmt " && off + 24 <= payload.length) {
          ch = le16(off + 10); rate = le32(off + 12); bits = le16(off + 22)
        } else if (id == "data") { dataOff = off + 8; dataLen = sz }
        off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      if (rate <= 0 || bits != 16 || ch != 1 || dataOff < 0 ||
        dataOff + dataLen > payload.length) return None
      val n = dataLen / 2
      if (n == 0) return None
      val samples = new Array[Int](n)
      var i = 0
      while (i < n) {
        val lo = payload(dataOff + 2 * i) & 0xff
        val hi: Int = payload(dataOff + 2 * i + 1) // signed byte → sign-extends
        samples(i) = (hi << 8) | lo
        i += 1
      }
      Some((rate, samples))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def decodeWav(docId: Long, payload: Array[Byte]): Option[DecodedAudio] =
    wavSamples(payload).map { case (rate, samples) =>
      val n = samples.length
      var i = 0; var peak = 0L; var sumSq = 0.0; var zc = 0L; var prevSign = 0
      while (i < n) {
        val sv = samples(i)
        val a = math.abs(sv.toLong)
        if (a > peak) peak = a
        sumSq += sv.toDouble * sv
        val sign = if (sv > 0) 1 else if (sv < 0) -1 else prevSign
        if (prevSign != 0 && sign != prevSign) zc += 1
        prevSign = sign
        i += 1
      }
      DecodedAudio(
        doc_id = docId, sample_rate = rate.toLong, n_samples = n.toLong,
        peak = peak, rms = math.sqrt(sumSq / n), zero_crossings = zc)
    }

  /** One fixed-width analysis frame of a decoded clip. */
  final case class AudioFrame(
      doc_id: Long, fidx: Long, n_samples: Long, peak: Long, rms: Double)

  /** Deterministic ramp-signal WAV for the q33j frame gate: same
    * PCM16 mono 8 kHz container as `syntheticWav`, but sample i is
    * ((docId + 3i) mod 2001) − 1000 — a sawtooth whose per-frame RMS
    * and peak genuinely vary frame to frame, so the windowing (not
    * just the decode) is what the oracle checks. The square wave
    * would give every frame the same RMS and gate nothing.
    */
  def syntheticWavRamp(docId: Long): Array[Byte] = {
    val n = (64 + docId % 64).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val sv = ((docId + 3L * i) % 2001L - 1000L).toInt
      data(2 * i) = (sv & 0xff).toByte
      data(2 * i + 1) = ((sv >> 8) & 0xff).toByte
      i += 1
    }
    pcm16Wav(data)
  }

  /** Decode + fixed-width framing: peak and RMS per `frame`-sample
    * window (last frame partial). Malformed payloads yield no rows.
    */
  def audioFrames(docId: Long, payload: Array[Byte], frame: Int): Iterator[AudioFrame] =
    wavSamples(payload) match {
      case None => Iterator.empty
      case Some((_, samples)) =>
        samples.grouped(frame).zipWithIndex.map { case (w, fi) =>
          var peak = 0L; var sumSq = 0.0
          var i = 0
          while (i < w.length) {
            val a = math.abs(w(i).toLong)
            if (a > peak) peak = a
            sumSq += w(i).toDouble * w(i)
            i += 1
          }
          AudioFrame(docId, fi.toLong, w.length.toLong, peak,
            math.sqrt(sumSq / w.length))
        }
    }
}
