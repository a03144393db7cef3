package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables

/** Multimodal column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, batch-decoded per partition.
  *
  * The pattern at 100 TB: parquet stores (id, binary payload,
  * metadata struct); decode/resize/feature-extract runs as a
  * partition-batched function (Scala mapPartitions here; mapInPandas
  * from PySpark) so per-batch init (codec contexts, model weights)
  * amortizes across rows, and partitioning controls batch shape.
  *
  * The decode path is REAL: payloads are genuine PNG/BMP files
  * (written by `javax.imageio`, which ships in the JDK) and the
  * decoder parses them back with `ImageIO` — format sniffing, frame
  * count, dimensions, raster reads and a true nearest-neighbor
  * resize (`AffineTransformOp`). Payload parameters (dims, fill
  * color) derive from doc_id by fixed formulas, so a DuckDB oracle
  * recomputes every decoded value without an image library — any
  * decode/resize mistake breaks oracle parity. Non-image payloads
  * take the documented opaque fallback branch (the reference's
  * opaque-bytea handling: PsqlParser.py dump path treats unknown
  * binary as pass-through).
  */
object MultimodalOps {

  /** Payload formulas — shared verbatim by the generator, the spec
    * and the DuckDB oracle. One in ten payloads is non-image bytes
    * (exercises the fallback); one in five is a MULTI-FRAME TIFF
    * (the JDK TIFF plugin writes real multi-image files, so frame
    * enumeration and sampling run against genuine frames); one in
    * three of the rest is BMP. */
  def widthFor(id: Long): Int = (8 + (id * 7) % 56).toInt
  def heightFor(id: Long): Int = (8 + (id * 11) % 40).toInt
  def redFor(id: Long): Int = ((id * 37) % 256).toInt
  def greenFor(id: Long): Int = ((id * 59) % 256).toInt
  def blueFor(id: Long): Int = ((id * 83) % 256).toInt
  def isOpaque(id: Long): Boolean = id % 10 == 7
  def fmtFor(id: Long): String =
    if (isOpaque(id)) "opaque"
    else if (id % 5 == 4) "tiff"
    else if (id % 3 == 0) "bmp" else "png"
  def framesFor(id: Long): Int =
    if (isOpaque(id)) 0 else if (fmtFor(id) == "tiff") (2 + id % 3).toInt else 1

  /** Per-frame channel offset: frame i of a multi-frame payload is
    * filled with (chan + 29·i) % 256 — frame 0 keeps the base color
    * (so px_sum and the resize statistics are frame-0 formulas), and
    * every later frame differs, which makes the cross-frame sampled
    * checksum pin the EXACT sampled index set: a decoder that re-read
    * frame 0 n times would no longer match the oracle. */
  def frameChan(base: Int, frame: Int): Int = (base + 29 * frame) % 256
  def frameRgbSum(id: Long, frame: Int): Long =
    frameChan(redFor(id), frame) + frameChan(greenFor(id), frame) +
      frameChan(blueFor(id), frame)

  private def solidImage(id: Long, frame: Int = 0): BufferedImage = {
    val img = new BufferedImage(widthFor(id), heightFor(id),
      BufferedImage.TYPE_INT_RGB)
    val rgb = (frameChan(redFor(id), frame) << 16) |
      (frameChan(greenFor(id), frame) << 8) | frameChan(blueFor(id), frame)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    img
  }

  /** Deterministic real media bytes: a solid-color WxH image encoded
    * as an actual PNG/BMP file — or a real multi-frame TIFF via the
    * writer's sequence API — or raw text bytes for the opaque branch.
    * Solid fill keeps every decoded statistic formula-computable
    * while the byte stream stays a real codec product. */
  def payloadFor(id: Long): Array[Byte] =
    if (isOpaque(id)) s"opaque payload $id not an image".getBytes("UTF-8")
    else {
      val out = new ByteArrayOutputStream()
      if (fmtFor(id) == "tiff") {
        val w = ImageIO.getImageWritersByFormatName("tiff").next()
        val ios = ImageIO.createImageOutputStream(out)
        try {
          w.setOutput(ios)
          w.prepareWriteSequence(null)
          (0 until framesFor(id)).foreach { i =>
            w.writeToSequence(new javax.imageio.IIOImage(solidImage(id, i), null, null), null)
          }
          w.endWriteSequence()
        } finally { w.dispose(); ios.close() }
      } else ImageIO.write(solidImage(id), fmtFor(id), out)
      out.toByteArray
    }

  case class MediaRow(doc_id: Long, payload: Array[Byte],
      n_bytes: Int, magic_hex: String, payload_crc: Long)

  /** Pixel checksum = Σ(R+G+B) over the raster, read in bulk (one
    * getRGB scan, not a call per pixel — the per-pixel form costs
    * ~100M boundary crossings per 5k images at the 224 box). */
  private def sumRGB(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sum = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      i += 1
    }
    sum
  }

  /** Decoded media riding BETWEEN pipeline stages inside one
    * partition pass — carries the live raster, so it never crosses an
    * encoder boundary (decode → resize chain in a single
    * mapPartitions, no re-shuffle between media stages). */
  private case class Decoded(doc_id: Long, n_bytes: Int, magic_hex: String,
      payload_crc: Long, width: Int, height: Int, n_frames: Int,
      fmt: String, px_sum: Long, sampled: Seq[Int], sampled_px_sum: Long,
      img: Option[BufferedImage])

  /** Real partition-batched decode: ImageIO format sniffing + frame
    * count + first-frame raster read, pixel checksum = sum of R+G+B
    * over the raster. Payloads no reader claims fall to the opaque
    * branch (-1 dims, 0 frames) instead of failing the batch.
    *
    * `checksums = false` is the pruned path for consumers that never
    * emit a pixel sum (mm_patches tiles its own subregions,
    * mm_channel_stats folds its own channel sums, mm_binary_meta and
    * mm_aspect_buckets emit no sums at all): mapPartitions is opaque
    * to Catalyst, so column pruning must be done BY HAND here (guide
    * §5) — the raster still decodes for real (dims/frames stay
    * measured, not derived), only the unread checksum scans drop. */
  private def decode(rows: Iterator[MediaRow],
      checksums: Boolean = true): Iterator[Decoded] = {
    // per-partition init lives here (ImageIO scans its reader
    // registry once per JVM; codec contexts/model weights in general)
    rows.map { r =>
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(r.payload))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext)
          Decoded(r.doc_id, r.n_bytes, r.magic_hex, r.payload_crc,
            -1, -1, 0, "opaque", -1L, Nil, -1L, None)
        else {
          val rd = readers.next()
          rd.setInput(iis)
          // the JDK TIFF reader reports "tif"; normalize to the
          // generator/oracle spelling
          val fmt = rd.getFormatName.toLowerCase match {
            case "tif" => "tiff"
            case f => f
          }
          val nFrames = rd.getNumImages(true)
          val img = rd.read(0)
          // uniform frame sampling reads each sampled frame's RASTER
          // (not just its index) while the reader session is open —
          // the cross-frame checksum proves every sampled frame
          // decoded, and is still a formula product for the oracle.
          // Sampled index 0 IS the frame already in hand: reuse its
          // raster sum instead of re-reading frame 0 through the
          // codec (r14 — one decode + one raster scan saved per
          // image, identical sums by determinism of sumRGB)
          val nSample = math.min(nFrames, 4)
          val sampled = 0 until nSample map { i => i * nFrames / nSample }
          val px0 = if (checksums) sumRGB(img) else -1L
          val sampledSum =
            if (checksums)
              sampled.map(i => if (i == 0) px0 else sumRGB(rd.read(i))).sum
            else -1L
          rd.dispose()
          Decoded(r.doc_id, r.n_bytes, r.magic_hex, r.payload_crc,
            img.getWidth, img.getHeight, nFrames, fmt, px0,
            sampled, sampledSum, Some(img))
        }
      } finally iis.close()
    }
  }

  /** sampled_frames is a comma-joined string (not Seq[Int]) so the
    * driver's pandas canonicalizer can sort/hash the output — raw
    * array cells crash its row ordering. */
  case class ProcessedRow(doc_id: Long, n_bytes: Int, magic_hex: String,
      payload_crc: Long, width: Int, height: Int, n_frames: Int,
      fmt: String, px_sum: Long, sampled_px_sum: Long, out_width: Int,
      out_height: Int, out_px_sum: Long, sampled_frames: String,
      decoder: String)

  /** Real resize + uniform frame sampling: nearest-neighbor raster
    * scale into an aspect-preserving 224 box (long edge = 224),
    * out_px_sum re-read from the SCALED raster — proof the transform
    * materialized, not just arithmetic on dims. ≤ 4 frames sampled
    * uniformly (single-frame stills sample frame 0). */
  private def resizeAndSample(rows: Iterator[Decoded]): Iterator[ProcessedRow] =
    rows.map {
      case d if d.img.isEmpty =>
        ProcessedRow(d.doc_id, d.n_bytes, d.magic_hex, d.payload_crc,
          d.width, d.height, d.n_frames, d.fmt, d.px_sum,
          sampled_px_sum = -1L, out_width = -1, out_height = -1,
          out_px_sum = -1L, sampled_frames = "", decoder = "opaque")
      case d =>
        val src = d.img.get
        // floor(x+0.5) rounding: bit-identical in Spark and DuckDB,
        // unlike round() (SURVEY §4)
        val scale = 224.0 / math.max(d.width, d.height)
        val ow = math.max(1, math.floor(d.width * scale + 0.5).toInt)
        val oh = math.max(1, math.floor(d.height * scale + 0.5).toInt)
        val dst = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
        g.drawImage(src, 0, 0, ow, oh, null)
        g.dispose()
        val sum = sumRGB(dst)
        ProcessedRow(d.doc_id, d.n_bytes, d.magic_hex, d.payload_crc,
          d.width, d.height, d.n_frames, d.fmt, d.px_sum,
          d.sampled_px_sum, ow, oh, sum, d.sampled.mkString(","),
          decoder = s"imageio:${d.fmt}+resize224+sample4")
    }

  /** The full media pipeline over the documents id domain: generate
    * real payloads, extract binary metadata columnar-side, then
    * decode + resize + frame-sample in ONE partition pass. */
  /** Real payload generation over the documents id domain. The
    * documents scan is one thin parquet split, but codec work is
    * CPU-bound per row — spread ids across the session's parallelism
    * BEFORE generate/decode (at scale: repartition by payload bytes
    * per task, same principle). */
  private def mediaRows(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .as[Long]
      .map(id => (id, payloadFor(id)))
      .toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("int").as("n_bytes"),
        hex(substring(col("payload"), 1, 4)).as("magic_hex"),
        crc32(col("payload")).as("payload_crc"))
      .as[MediaRow]
  }

  private def processed(s: SparkSession, dir: String): Dataset[ProcessedRow] = {
    import s.implicits._
    // partition count controls decode batch shape; at scale set this
    // from payload-bytes-per-task, not row count
    mediaRows(s, dir).mapPartitions(it => resizeAndSample(decode(it)))
  }

  /** Decoded raster DIMS only — the hand-pruned pipeline for
    * mm_aspect_buckets, which consumes nothing but (doc_id, width,
    * height): the raster still decodes for real (dims stay measured
    * from the frame, the mm discipline), but the checksum scans, the
    * 224-box resize and its output-raster sum — none of which reach
    * this key's output — are dropped (r14, guide §5: mapPartitions
    * is opaque to Catalyst, so pruning is manual). */
  private def decodedDims(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaRows(s, dir)
      .mapPartitions(it => decode(it, checksums = false)
        .map(d => (d.doc_id, d.width, d.height)))
      .toDF("doc_id", "width", "height")
  }

  /** Audio geometry: 16-bit PCM payloads framed the standard
    * speech-pipeline way (400-sample windows, 160-sample hop — 25 ms
    * / 10 ms at 16 kHz). Sample i of doc d is a formula, so the
    * oracle recomputes every frame feature with no audio library
    * while the Spark side round-trips REAL bytes. */
  val audioBase = 4000
  val audioSpan = 4000
  def audioSamplesFor(id: Long): Int =
    (audioBase + (id * 13) % audioSpan).toInt
  def audioSampleAt(id: Long, i: Long): Int =
    (((id * 31 + i * 17) % 65536) - 32768).toInt
  val audioFrame = 400
  val audioHop = 160

  /** Little-endian int16 PCM bytes for doc `id` — the audio twin of
    * payloadFor. */
  def audioPayloadFor(id: Long): Array[Byte] = {
    val n = audioSamplesFor(id)
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSampleAt(id, i)
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  case class AudioFrameRow(doc_id: Long, n_samples: Int, frame_idx: Int,
      energy: Long, peak: Int)

  /** Audio frame feature extraction — the third modality beside image
    * decode and the embedding join: every payload PARSED back from its
    * bytes (LE int16 PCM), cut into overlapping frames, per-frame
    * energy (Σ sample²) and peak amplitude in exact integers. The
    * decode is genuine byte plumbing; the features are
    * formula-recomputable, so the whole path is oracle-checked
    * (mm_decode's design applied to audio). A real pipeline swaps the
    * synthetic samples for a codec call in the SAME per-partition
    * pass — schema, framing, and shuffle shape unchanged.
    *
    * Scale shape: generate + parse + frame in ONE partition pass over
    * the id-spread frame (codec work is per-row CPU; the repartition
    * is the mm_* spread rule); output is frames-per-doc rows, no
    * joins, no aggregate, no corpus shuffle. */
  def mmAudioFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .as[Long]
      .map(id => (id, audioPayloadFor(id)))
      .toDF("doc_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val n = bytes.length / 2
        val samples = new Array[Int](n)
        var i = 0
        while (i < n) {
          samples(i) =
            ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
          i += 1
        }
        val nFrames = (n - audioFrame) / audioHop + 1
        (0 until nFrames).iterator.map { f =>
          var e = 0L
          var peak = 0
          var j = f * audioHop
          val end = j + audioFrame
          while (j < end) {
            val v = samples(j)
            e += v.toLong * v
            val a = if (v < 0) -v else v
            if (a > peak) peak = a
            j += 1
          }
          AudioFrameRow(id, n, f, e, peak)
        }
      }.toDF()
  }

  val mmAudioFramesSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CAST($audioBase + (doc_id * 13) % $audioSpan AS INTEGER)
       |      AS n_samples
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n_samples, CAST(t.f AS INTEGER) AS frame_idx
       |  FROM p,
       |    unnest(range(0, (n_samples - $audioFrame) // $audioHop + 1))
       |      AS t(f)),
       |v AS (
       |  SELECT doc_id, n_samples, frame_idx,
       |    (doc_id * 31 + (frame_idx * $audioHop + i.i) * 17) % 65536
       |      - 32768 AS v
       |  FROM f, unnest(range(0, $audioFrame)) AS i(i))
       |SELECT doc_id, n_samples, frame_idx,
       |  CAST(SUM(v * v) AS BIGINT) AS energy,
       |  CAST(MAX(ABS(v)) AS INTEGER) AS peak
       |FROM v GROUP BY doc_id, n_samples, frame_idx""".stripMargin

  private[graft] def mediaMetaDir(dir: String): String =
    s"/tmp/graft_media_meta_${graft.Tables.sfTag(dir)}"

  /** Publish the binary payloads once per corpus fingerprint (the
    * dedup_lsh_eval / minhashPublish discipline): the codec bytes are
    * the one thing no SQL engine can re-derive, so they become a
    * durable artifact the ORACLE reads back — byte length and format
    * magic are then recomputed by DuckDB from the published BLOBs
    * (octet_length / hex-prefix), turning the codec-product columns
    * into independently measured values instead of trusted ones.
    * payload_crc rides in the artifact (DuckDB has no CRC32); the
    * suite closes that last column by recomputing CRC32 from the
    * published bytes driver-side (MultimodalSpec). */
  private[graft] def mediaMetaPublish(s: SparkSession, dir: String): String = {
    val outDir = mediaMetaDir(dir)
    val tag = graft.operators.ScaleJoins.corpusTag(dir, Seq("documents"))
    graft.Artifacts.publish(outDir, Some(tag)) {
      mediaRows(s, dir).toDF()
        .select("doc_id", "payload", "payload_crc")
        .write.mode("overwrite").parquet(s"$outDir/payloads")
    }
    outDir
  }

  /** Binary payload + metadata extraction + partition-batched decode
    * — [T]→[O] in r12: the payloads publish once per corpus and the
    * oracle replays the meta audit FROM the artifact (byte counts and
    * magic measured by DuckDB on the published BLOBs, geometry and
    * sampling recomputed from the id formulas); the suite still
    * asserts the decode round-trip and re-verifies the carried CRC.
    *
    * The decode CONSUMES the published artifact rather than
    * re-generating payloads: per-document codec encode dominates this
    * key's cost, so generating once for the publish and again for the
    * decode would double the cold-path wall time — and reading the
    * artifact back means the bytes the engine decodes are literally
    * the bytes the oracle measures. Repartition before the decode:
    * the artifact is small enough to coalesce into one split, which
    * would single-thread the CPU-bound codec stage. */
  def mmBinaryMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val published = mediaMetaPublish(s, dir)
    s.read.parquet(s"$published/payloads")
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("int").as("n_bytes"),
        hex(substring(col("payload"), 1, 4)).as("magic_hex"),
        col("payload_crc"))
      .as[MediaRow]
      // hand-pruned pipeline (r14, guide §5): this key emits byte
      // facts, measured dims/frames and the declared resize GEOMETRY
      // — never a pixel sum — so the checksum scans and the physical
      // 224-box raster render are dead work here. The decode is still
      // real (dims/frames measured off the decoded frame); out dims
      // use the same floor(x+0.5) arithmetic resizeAndSample applies
      // to the real render, so every emitted value is unchanged. The
      // materialized-resize PROOF (out_px_sum) is mm_decode's
      // contract, not this key's.
      .mapPartitions(it => decode(it, checksums = false).map {
        case d if d.img.isEmpty =>
          ProcessedRow(d.doc_id, d.n_bytes, d.magic_hex, d.payload_crc,
            d.width, d.height, d.n_frames, d.fmt, d.px_sum,
            sampled_px_sum = -1L, out_width = -1, out_height = -1,
            out_px_sum = -1L, sampled_frames = "", decoder = "opaque")
        case d =>
          val scale = 224.0 / math.max(d.width, d.height)
          val ow = math.max(1, math.floor(d.width * scale + 0.5).toInt)
          val oh = math.max(1, math.floor(d.height * scale + 0.5).toInt)
          ProcessedRow(d.doc_id, d.n_bytes, d.magic_hex, d.payload_crc,
            d.width, d.height, d.n_frames, d.fmt, d.px_sum,
            sampled_px_sum = -1L, out_width = ow, out_height = oh,
            out_px_sum = -1L, sampled_frames = d.sampled.mkString(","),
            decoder = s"imageio:${d.fmt}+resize224+sample4")
      })
      .toDF()
      .select("doc_id", "n_bytes", "magic_hex", "payload_crc",
        "width", "height", "n_frames", "out_width", "out_height",
        "sampled_frames", "decoder")
  }

  /** Shared formula-geometry CTE chain (f: dims/frames/format from
    * the id formulas; r: the 224-box resize) — ONE copy of the text
    * so mm_decode and mm_binary_meta can never drift on what the
    * generator produces (§4 mirrored-tree discipline). */
  private val geomCte: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    doc_id % 10 = 7 AS opaque,
      |    CAST(8 + (doc_id * 7) % 56 AS INT) AS w,
      |    CAST(8 + (doc_id * 11) % 40 AS INT) AS h,
      |    (doc_id * 37) % 256 AS fr,
      |    (doc_id * 59) % 256 AS fg,
      |    (doc_id * 83) % 256 AS fb,
      |    (doc_id * 37) % 256 + (doc_id * 59) % 256 + (doc_id * 83) % 256 AS rgb,
      |    CASE WHEN doc_id % 10 = 7 THEN 0
      |         WHEN doc_id % 5 = 4 THEN CAST(2 + doc_id % 3 AS INT)
      |         ELSE 1 END AS nf,
      |    CASE WHEN doc_id % 10 = 7 THEN 'opaque'
      |         WHEN doc_id % 5 = 4 THEN 'tiff'
      |         WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt
      |  FROM documents),
      |r AS (
      |  SELECT *,
      |    greatest(1, CAST(floor(w * (224.0 / greatest(w, h)) + 0.5) AS INT)) AS ow,
      |    greatest(1, CAST(floor(h * (224.0 / greatest(w, h)) + 0.5) AS INT)) AS oh
      |  FROM f)""".stripMargin

  val mmBinaryMetaSql: String =
    s"""$geomCte,
       |p AS (
       |  SELECT doc_id, payload, payload_crc
       |  FROM read_parquet('/tmp/graft_media_meta___SFTAG__/payloads/*.parquet'))
       |SELECT r.doc_id,
       |  CAST(octet_length(p.payload) AS INTEGER) AS n_bytes,
       |  hex(p.payload)[1:8] AS magic_hex,
       |  p.payload_crc,
       |  CAST(CASE WHEN opaque THEN -1 ELSE w END AS INTEGER) AS width,
       |  CAST(CASE WHEN opaque THEN -1 ELSE h END AS INTEGER) AS height,
       |  nf AS n_frames,
       |  CAST(CASE WHEN opaque THEN -1 ELSE ow END AS INTEGER) AS out_width,
       |  CAST(CASE WHEN opaque THEN -1 ELSE oh END AS INTEGER) AS out_height,
       |  CASE WHEN opaque THEN ''
       |       ELSE array_to_string(list_transform(range(0, least(nf, 4)),
       |              i -> CAST((i * nf) // least(nf, 4) AS VARCHAR)), ',')
       |  END AS sampled_frames,
       |  CASE WHEN opaque THEN 'opaque'
       |       ELSE 'imageio:' || fmt || '+resize224+sample4' END AS decoder
       |FROM r JOIN p USING (doc_id)""".stripMargin

  /** Oracle-checked decode: every emitted value is recomputed by
    * DuckDB from the payload formulas — real ImageIO decode + real
    * raster resize on the Spark side, pure arithmetic on the oracle
    * side. Solid fill makes both pixel checksums exact products:
    * px_sum = w·h·(r+g+b), out_px_sum = ow·oh·(r+g+b), and the
    * per-frame fill offsets make sampled_px_sum the sum over the
    * exact sampled frame indices. */
  def mmDecode(s: SparkSession, dir: String): DataFrame =
    // no orderBy: the compare harness sorts rows canonically, and a
    // range sort here would re-execute the codec pipeline for
    // partition-boundary sampling
    processed(s, dir).toDF()
      .select("doc_id", "width", "height", "n_frames", "fmt",
        "px_sum", "sampled_px_sum", "out_width", "out_height", "out_px_sum")

  val mmDecodeSql: String =
    s"""$geomCte
      |SELECT doc_id,
      |  CASE WHEN opaque THEN -1 ELSE w END AS width,
      |  CASE WHEN opaque THEN -1 ELSE h END AS height,
      |  nf AS n_frames,
      |  fmt,
      |  CASE WHEN opaque THEN -1 ELSE w * h * rgb END AS px_sum,
      |  CASE WHEN opaque THEN -1
      |       WHEN doc_id % 5 = 4 THEN w * h * (
      |         rgb
      |         + (fr + 29) % 256 + (fg + 29) % 256 + (fb + 29) % 256
      |         + CASE WHEN 2 + doc_id % 3 >= 3
      |             THEN (fr + 58) % 256 + (fg + 58) % 256 + (fb + 58) % 256
      |             ELSE 0 END
      |         + CASE WHEN 2 + doc_id % 3 >= 4
      |             THEN (fr + 87) % 256 + (fg + 87) % 256 + (fb + 87) % 256
      |             ELSE 0 END)
      |       ELSE w * h * rgb END AS sampled_px_sum,
      |  CAST(CASE WHEN opaque THEN -1 ELSE ow END AS INTEGER) AS out_width,
      |  CAST(CASE WHEN opaque THEN -1 ELSE oh END AS INTEGER) AS out_height,
      |  CASE WHEN opaque THEN -1 ELSE ow * oh * rgb END AS out_px_sum
      |FROM r ORDER BY doc_id""".stripMargin

  /** Media ↔ embedding fusion manifest: each document's binary
    * metadata joined to its vector row — the per-sample record a
    * multimodal training pipeline materializes (payload locator +
    * integrity fields + embedding stats). doc_id and vec_id share a
    * domain in the fixture, standing in for the media↔embedding key.
    * Every field here is SQL-expressible (unlike the codec-byte
    * fields), so this join is oracle-checked end-to-end. */
  def mmEmbedFusion(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val media = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("int").as("n_bytes"),
        hex(substring(col("payload"), 1, 4)).as("magic_hex"))
    val vecs = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), size(col("embedding")).as("dim"),
        sqrt(dotD(col("embedding"), col("embedding"))).as("nrm"))
    media.join(vecs, media("doc_id") === vecs("vec_id"))
      .select(col("doc_id"), col("n_bytes"), col("magic_hex"),
        col("dim"), col("nrm"))
      .orderBy("doc_id")
  }

  /** DuckDB slices the first 4 CHARS where Spark slices 4 BYTES —
    * equal because the fixture corpus is pure ASCII (asserted: zero
    * rows with octet_length(encode(text)) <> length(text)). */
  val mmEmbedFusionSql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  hex(encode(substr(text, 1, 4))) AS magic_hex,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |FROM documents JOIN embeddings ON vec_id = doc_id
      |ORDER BY doc_id""".stripMargin

  /** Patch grid side for the ViT-style tiling. */
  val patchSize = 16

  case class PatchRow(doc_id: Long, width: Int, height: Int, n_px: Int,
      n_py: Int, n_patches: Int, weighted_px_sum: Long)

  /** ViT-style patch tiling over the DECODED raster — the image
    * preprocessing every vision-language training pipeline runs
    * (image → fixed-size patch grid → per-patch tensors): the image
    * splits into 16×16 patches (ragged edges keep their true
    * smaller size, the ViT padding decision made explicit), and each
    * patch's pixel sum is read from ITS OWN subregion raster read.
    * The output checksum weights each patch by its 1-based row-major
    * index, so a tiler that read patches in the wrong order, merged
    * edge patches, or re-read patch 0 n times cannot match the
    * oracle — the same index-pinning trick mm_decode's frame
    * sampling uses. Solid-fill fixtures keep every per-patch sum a
    * formula, so the oracle rebuilds the full grid in SQL from
    * doc_id alone while the Spark side exercises a real decoder and
    * real subregion reads.
    *
    * Scale shape: identical to mm_decode — id-spread before per-row
    * codec work, one partition pass, O(1) output per image. */
  def mmPatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def tile(rows: Iterator[Decoded]): Iterator[PatchRow] = rows.map {
      case d if d.img.isEmpty =>
        PatchRow(d.doc_id, -1, -1, 0, 0, 0, -1L)
      case d =>
        val img = d.img.get
        val w = img.getWidth; val h = img.getHeight
        val npx = (w + patchSize - 1) / patchSize
        val npy = (h + patchSize - 1) / patchSize
        var sum = 0L
        var py = 0
        while (py < npy) {
          var px = 0
          while (px < npx) {
            val pw = math.min(patchSize, w - px * patchSize)
            val ph = math.min(patchSize, h - py * patchSize)
            val pix = img.getRGB(px * patchSize, py * patchSize,
              pw, ph, null, 0, pw)
            var s0 = 0L; var i = 0
            while (i < pix.length) {
              val p = pix(i)
              s0 += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              i += 1
            }
            sum += (py.toLong * npx + px + 1) * s0
            px += 1
          }
          py += 1
        }
        PatchRow(d.doc_id, w, h, npx, npy, npx * npy, sum)
    }
    // checksums=false: the tiler reads every patch subregion itself —
    // decode's whole-raster and sampled-frame sums are never emitted
    mediaRows(s, dir)
      .mapPartitions(it => tile(decode(it, checksums = false))).toDF()
  }

  val mmPatchesSql: String =
    s"""WITH g AS (
       |  SELECT doc_id AS id,
       |    CAST(8 + (doc_id * 7) % 56 AS INT) AS w,
       |    CAST(8 + (doc_id * 11) % 40 AS INT) AS h,
       |    (doc_id * 37) % 256 + (doc_id * 59) % 256
       |      + (doc_id * 83) % 256 AS rgb,
       |    doc_id % 10 = 7 AS opaque
       |  FROM documents),
       |op AS (
       |  SELECT id AS doc_id, -1 AS width, -1 AS height, 0 AS n_px,
       |    0 AS n_py, 0 AS n_patches, CAST(-1 AS BIGINT)
       |      AS weighted_px_sum
       |  FROM g WHERE opaque),
       |im AS (
       |  SELECT id, w, h, rgb, (w + ${patchSize - 1}) // $patchSize AS npx,
       |    (h + ${patchSize - 1}) // $patchSize AS npy
       |  FROM g WHERE NOT opaque),
       |p AS (
       |  SELECT id, w, h, rgb, npx, npy,
       |    (y * npx + x + 1)
       |      * rgb
       |      * LEAST($patchSize, w - $patchSize * x)
       |      * LEAST($patchSize, h - $patchSize * y) AS wsum
       |  FROM im, unnest(range(npx)) AS tx(x), unnest(range(npy)) AS ty(y)),
       |img_rows AS (
       |  SELECT id AS doc_id, MIN(w) AS width, MIN(h) AS height,
       |    CAST(MIN(npx) AS INT) AS n_px, CAST(MIN(npy) AS INT) AS n_py,
       |    CAST(MIN(npx * npy) AS INT) AS n_patches,
       |    CAST(SUM(wsum) AS BIGINT) AS weighted_px_sum
       |  FROM p GROUP BY id)
       |SELECT * FROM img_rows UNION ALL SELECT * FROM op""".stripMargin

  /** Re-upload family width for mm_dedup: every [[mmDupFamily]]
    * consecutive doc ids share one payload. */
  val mmDupFamily = 7

  /** Content-hash dedup of binary media — THE multimodal dedup
    * primitive (image/audio re-uploads are byte-identical far more
    * often than text is; every media corpus dedups by content hash
    * before any perceptual pass): sha256 over REAL encoded payloads,
    * one family row per distinct blob with the canonical (min) doc
    * and the duplicate count. Re-uploads are synthesized by sharing
    * one payload across each run of 7 consecutive ids — so the
    * family structure is pure id arithmetic the DuckDB oracle states
    * WITHOUT decoding bytes (mm_decode's formula-oracle discipline),
    * while the Spark side proves real bytes hash into exactly those
    * families (an encoder nondeterminism or hash collision breaks
    * parity loud). The blob carries an 8-byte family-id trailer (the
    * metadata tag a real upload carries in EXIF/ID3): the synthetic
    * pixel formulas are PERIODIC (lcm 3840 in the family id), so
    * past ~27k docs two far-apart families would alias byte-for-byte
    * and the hash dedup would — correctly! — merge what the id
    * oracle counts apart (the sf1 sweep caught exactly that); real
    * corpora get global distinctness from content, the fixture gets
    * it from the tag.
    *
    * Scale shape: payload generation spreads across the session's
    * parallelism; sha256 is per-row scan-side work; ONE hash
    * aggregate at blob grain with map-side combine (dedup_exact's
    * shape with a binary payload). */
  def mmDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // codec work at FAMILY grain, not document grain (r14, guide §2.3
    // partial aggregation): payloads are byte-identical across each
    // 7-id run by construction, yet this key ran one ImageIO encode
    // per DOCUMENT. Folding docs to families first is map-side
    // combinable and cuts encodes 7×; at 100 TB the encode count
    // follows distinct blobs, not corpus rows. Grouping by the
    // per-family sha256 afterwards is EXACTLY the old semantics: two
    // families colliding in sha256 merge with min/sum here precisely
    // as their doc rows merged under groupBy(h) before.
    val fams = Tables.load(s, dir, "documents")
      .select(col("doc_id"), expr(s"doc_id div $mmDupFamily").as("fam"))
      .groupBy("fam")
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_docs"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .as[(Long, Long, Long)]
      .map { case (fam, repDoc, nDocs) =>
        (repDoc, nDocs, payloadFor(fam) ++
          java.nio.ByteBuffer.allocate(8).putLong(fam).array())
      }
      .toDF("rep_doc", "n_docs", "payload")
    fams
      .select(col("rep_doc"), col("n_docs"),
        sha2(col("payload"), 256).as("h"))
      .groupBy("h")
      .agg(min(col("rep_doc")).as("rep_doc"), sum(col("n_docs")).as("n_docs"))
      .select(col("rep_doc"), col("n_docs"))
      .orderBy("rep_doc")
  }

  val mmDedupSql: String =
    s"""SELECT CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM documents GROUP BY doc_id // $mmDupFamily
       |ORDER BY rep_doc""".stripMargin

  /** Target shard size in bytes — the WebDataset-style training-input
    * dial; shard sizes vary around it by at most one blob. */
  val shardBudget = 262144L

  /** Size-budgeted media sharding with a manifest — how a multimodal
    * corpus becomes sequential training input (WebDataset/tar-shard
    * style): blobs stream in stable id order and cut into ~256 KB
    * shards; blobs are ATOMIC (start-addressed: each blob lands in
    * the shard its start offset addresses, so shard sizes vary by at
    * most one blob around the budget — never a split payload). The
    * manifest is what the training loader actually consumes: per
    * shard, item count, real byte size, and the id span for random
    * access.
    *
    * The Spark side measures REAL generated payload bytes (the mm_*
    * round-trip discipline); byte sizes are formula-derived
    * (2·samples(id)), so the oracle recomputes the whole sharding
    * without touching a payload.
    *
    * Scale shape: the byte prefix-scan is packFrame's distributed
    * discipline — range partition by id, per-partition window,
    * O(partitions) driver offsets — never a single-partition window;
    * integer `div` on longs (exact at any corpus size, unlike IEEE
    * division); ONE shard-grain manifest aggregate. */
  def mmPackShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nRange = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sizes = Tables.load(s, dir, "documents").select(col("doc_id"))
      .repartition(nRange).as[Long]
      .map(id => (id, audioPayloadFor(id).length.toLong))
      .toDF("doc_id", "n_bytes")
    val (scanned, _) = graft.plans.GlobalRank.withExclusiveSum(
      s, sizes, Seq(col("doc_id")), col("n_bytes"), "start")
    scanned
      .withColumn("shard_id", expr(s"start div $shardBudget"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard_id")
  }

  val mmPackShardsSql: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    2 * ($audioBase + (doc_id * 13) % $audioSpan) AS n_bytes
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_bytes,
       |    SUM(n_bytes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |      - n_bytes AS start
       |  FROM b),
       |s AS (
       |  SELECT doc_id, n_bytes, start // $shardBudget AS shard_id
       |  FROM c)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_items,
       |  CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** Images per training batch in the aspect bucketer. */
  val aspectBatch = 16

  /** Aspect-ratio ladder: per-mille width/height UPPER bounds and
    * the bucket names they select (the SDXL-style resolution-bucket
    * ladder every large-scale vision trainer runs: batches must be
    * shape-homogeneous, so images group by nearest aspect class). */
  val aspectBounds: Seq[Long] = Seq(625L, 875L, 1143L, 1600L)
  val aspectNames: Seq[String] =
    Seq("tall", "portrait", "square", "landscape", "wide")

  /** Aspect-ratio bucketing + fixed-size batch assembly over the
    * DECODED raster dims — the step between decode and the data
    * loader in every large-scale vision-language trainer: batches
    * must be shape-homogeneous, so images are classed by aspect
    * ratio (integer per-mille thresholds — no float ratios), ordered
    * stably by id within their class, and packed into
    * [[aspectBatch]]-image batches, with the trailing partial batch
    * flagged (the drop_last decision made explicit). Opaque
    * (undecodable) payloads are excluded — exactly what a real
    * loader does after a failed decode.
    *
    * The mm discipline: Spark classes REAL decoded dimensions (the
    * full ImageIO parse), while dims are doc_id formulas, so the
    * DuckDB oracle rebuilds every bucket, batch id and slot with no
    * image library — a decoder that misreads dims lands in the
    * wrong bucket and breaks parity loud.
    *
    * Scale shape: the per-bucket dense numbering delegates to
    * [[graft.plans.GlobalRank.withSegmentedCount]] (range partition
    * on (bucket, id), per-partition window, O(partitions × buckets)
    * driver offsets added back — never a 5-reducer global window);
    * batch arithmetic is integer `div`/`%` on longs. */
  def mmAspectBuckets(s: SparkSession, dir: String): DataFrame = {
    val bidx = aspectBounds.zipWithIndex.foldRight(
      lit(aspectBounds.length): org.apache.spark.sql.Column) {
      case ((bound, i), rest) => when(col("r") < bound, i).otherwise(rest)
    }
    val dims = decodedDims(s, dir)
      .filter(col("width") > 0)
      .withColumn("r", expr("(width * 1000) div height"))
      .withColumn("bidx", bidx)
    val (numbered, bucketTotals) = graft.plans.GlobalRank
      .withSegmentedCount(s, dims, col("bidx"), aspectNames.length,
        Seq(col("doc_id")), "rn")
    numbered
      .withColumn("cnt",
        element_at(typedlit(bucketTotals), col("bidx") + 1))
      .select(col("doc_id"), col("width"), col("height"),
        element_at(typedlit(aspectNames), col("bidx") + 1).as("bucket"),
        expr(s"rn div $aspectBatch").as("batch_id"),
        (col("rn") % aspectBatch).as("slot"),
        (expr(s"rn div $aspectBatch") <
          expr(s"cnt div $aspectBatch")).as("is_full"))
      .orderBy("doc_id")
  }

  val mmAspectBucketsSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(8 + (doc_id * 7) % 56 AS INT) AS width,
       |    CAST(8 + (doc_id * 11) % 40 AS INT) AS height
       |  FROM documents WHERE doc_id % 10 <> 7),
       |b AS (
       |  SELECT doc_id, width, height,
       |    CASE WHEN (width * 1000) // height < ${aspectBounds(0)}
       |           THEN '${aspectNames(0)}'
       |         WHEN (width * 1000) // height < ${aspectBounds(1)}
       |           THEN '${aspectNames(1)}'
       |         WHEN (width * 1000) // height < ${aspectBounds(2)}
       |           THEN '${aspectNames(2)}'
       |         WHEN (width * 1000) // height < ${aspectBounds(3)}
       |           THEN '${aspectNames(3)}'
       |         ELSE '${aspectNames(4)}' END AS bucket
       |  FROM f),
       |rn AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
       |      AS rn,
       |    COUNT(*) OVER (PARTITION BY bucket) AS cnt
       |  FROM b)
       |SELECT doc_id, width, height, bucket,
       |  CAST(rn // $aspectBatch AS BIGINT) AS batch_id,
       |  CAST(rn % $aspectBatch AS BIGINT) AS slot,
       |  rn // $aspectBatch < cnt // $aspectBatch AS is_full
       |FROM rn ORDER BY doc_id""".stripMargin

  /** Population std from the exact channel sums, shared verbatim by
    * both engines: sqrt(E[x²] − E[x]²). */
  private val channelStdTree: String =
    """sqrt(CAST(c_sumsq AS DOUBLE) / CAST(n_pixels AS DOUBLE)
      |  - (CAST(c_sum AS DOUBLE) / CAST(n_pixels AS DOUBLE))
      |    * (CAST(c_sum AS DOUBLE) / CAST(n_pixels AS DOUBLE)))"""
      .stripMargin

  /** Per-channel normalization constants over the DECODED corpus —
    * the dataset-statistics pass every vision trainer runs before
    * epoch one (the mean/std triples baked into every preprocessing
    * config, e.g. ImageNet's 0.485/0.456/0.406): global per-channel
    * pixel mean and population std computed from exact integer sums
    * over every decoded raster. Undecodable payloads are excluded —
    * exactly what the real pass does.
    *
    * The mm discipline: Spark reads REAL rasters (the full ImageIO
    * decode, per-pixel channel extraction in the same partition pass
    * — the raster never crosses a stage boundary), while fills are
    * doc_id formulas so the oracle recomputes every sum with no
    * image library; a decoder that misreads a channel breaks parity.
    *
    * Scale shape: per-image channel sums are per-row codec work
    * (CPU-bound, linear, embarrassingly parallel); ONE map-side-
    * combined global aggregate of 8 DECIMAL sums; the 3-channel
    * output is a stack projection of that single row. */
  def mmChannelStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // checksums=false: this pass folds its own per-channel sums from
    // the raster — decode's R+G+B checksums are never emitted
    val perImage = mediaRows(s, dir)
      .mapPartitions(it => decode(it, checksums = false).flatMap { d =>
        d.img.map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var sr = 0L; var sg = 0L; var sb = 0L
          var srr = 0L; var sgg = 0L; var sbb = 0L
          var i = 0
          while (i < px.length) {
            val r = (px(i) >> 16) & 0xff
            val g = (px(i) >> 8) & 0xff
            val b = px(i) & 0xff
            sr += r; sg += g; sb += b
            srr += r.toLong * r; sgg += g.toLong * g; sbb += b.toLong * b
            i += 1
          }
          (d.doc_id, px.length.toLong, sr, sg, sb, srr, sgg, sbb)
        }
      })
      .toDF("doc_id", "n_px", "sr", "sg", "sb", "srr", "sgg", "sbb")
    def dsum(c: String) =
      sum(col(c).cast(DecimalType(38, 0))).cast(LongType).as(s"t_$c")
    val agg = perImage.agg(count(lit(1)).as("n_images"),
      dsum("n_px"), dsum("sr"), dsum("sg"), dsum("sb"),
      dsum("srr"), dsum("sgg"), dsum("sbb"))
    agg.select(col("n_images"), col("t_n_px").as("n_pixels"), expr(
        "stack(3, 'r', t_sr, t_srr, 'g', t_sg, t_sgg, 'b', t_sb, t_sbb)" +
          " as (channel, c_sum, c_sumsq)"))
      .select(col("channel"), col("n_images"), col("n_pixels"),
        col("c_sum"), col("c_sumsq"),
        expr("(c_sum * 1000) div n_pixels").as("mean_milli"),
        expr(channelStdTree).as("std"))
      .orderBy("channel")
  }

  val mmChannelStatsSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(8 + (doc_id * 7) % 56 AS BIGINT)
       |      * CAST(8 + (doc_id * 11) % 40 AS BIGINT) AS npx,
       |    (doc_id * 37) % 256 AS r,
       |    (doc_id * 59) % 256 AS g,
       |    (doc_id * 83) % 256 AS b
       |  FROM documents WHERE doc_id % 10 <> 7),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
       |    CAST(SUM(npx) AS BIGINT) AS n_pixels,
       |    CAST(SUM(npx * r) AS BIGINT) AS sr,
       |    CAST(SUM(npx * g) AS BIGINT) AS sg,
       |    CAST(SUM(npx * b) AS BIGINT) AS sb,
       |    CAST(SUM(npx * r * r) AS BIGINT) AS srr,
       |    CAST(SUM(npx * g * g) AS BIGINT) AS sgg,
       |    CAST(SUM(npx * b * b) AS BIGINT) AS sbb
       |  FROM f),
       |x AS (
       |  SELECT 'r' AS channel, n_images, n_pixels,
       |    sr AS c_sum, srr AS c_sumsq FROM a
       |  UNION ALL SELECT 'g', n_images, n_pixels, sg, sgg FROM a
       |  UNION ALL SELECT 'b', n_images, n_pixels, sb, sbb FROM a)
       |SELECT channel, n_images, n_pixels, c_sum, c_sumsq,
       |  (c_sum * 1000) // n_pixels AS mean_milli,
       |  $channelStdTree AS std
       |FROM x ORDER BY channel""".stripMargin

  // ---- mm_scene_cuts: video scene segmentation over real frames ----

  /** Video-payload formulas (shared by the generator, the spec, and
    * the DuckDB oracle — the payloadFor discipline applied to a
    * frame SEQUENCE with scene structure): every doc is a small
    * multi-frame TIFF whose fill color changes only at scene
    * boundaries. */
  def vWidthFor(id: Long): Int = (8 + (id * 5) % 24).toInt
  def vHeightFor(id: Long): Int = (8 + (id * 3) % 16).toInt
  def vFramesFor(id: Long): Int = (4 + id % 3).toInt
  def vSceneLenFor(id: Long): Int = (2 + id % 2).toInt
  def vSceneOf(id: Long, frame: Int): Int = frame / vSceneLenFor(id)

  /** Real multi-frame TIFF "video": frame f is a solid fill of
    * frameChan(base, scene(f)) per channel — constant within a scene,
    * stepped at scene boundaries. */
  def videoPayloadFor(id: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      (0 until vFramesFor(id)).foreach { f =>
        val sc = vSceneOf(id, f)
        val img = new BufferedImage(vWidthFor(id), vHeightFor(id),
          BufferedImage.TYPE_INT_RGB)
        val rgb = (frameChan(redFor(id), sc) << 16) |
          (frameChan(greenFor(id), sc) << 8) | frameChan(blueFor(id), sc)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      w.endWriteSequence()
    } finally { w.dispose(); ios.close() }
    out.toByteArray
  }

  case class SceneCutRow(doc_id: Long, frame_idx: Long, score: Long,
      n_frames: Long)

  /** Scene-cut detection — the video curation primitive (shot
    * segmentation before frame sampling: training pipelines sample
    * per SCENE, not per fixed stride, or motion-less footage floods
    * the batch): decode every frame of a real multi-frame container,
    * compute exact per-frame mean color, and emit a cut wherever the
    * mean steps (score = Σ_channel |Δmean|, solid scenes make the
    * means exact integers so the threshold is crisp in both engines).
    *
    * The decode is REAL (ImageIO TIFF reader walks every frame's
    * raster); the scene structure is formula-derived, so the DuckDB
    * oracle recomputes every cut and score with no video library —
    * a decoder that skipped frames, re-read frame 0, or averaged
    * rasters wrongly breaks parity (mm_decode's design, applied to
    * the temporal axis).
    *
    * Scale shape: generate + decode + cut-detect in ONE partition
    * pass over the id-spread frame (the mm_* spread rule); per-doc
    * state is one previous frame's means — frames of one video are
    * always partition-local, so scene detection needs NO shuffle at
    * any corpus size (contrast a window over exploded frame rows:
    * a doc-keyed exchange of every frame's stats). Output is
    * cuts-per-doc rows only. */
  def mmSceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .as[Long]
      .map(id => (id, videoPayloadFor(id)))
      .toDF("doc_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val iis = ImageIO.createImageInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val rd = ImageIO.getImageReaders(iis).next()
          rd.setInput(iis)
          val n = rd.getNumImages(true)
          var prev: (Long, Long, Long) = null
          val cuts = (0 until n).flatMap { f =>
            val img = rd.read(f)
            val px = img.getRGB(0, 0, img.getWidth, img.getHeight,
              null, 0, img.getWidth)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var i = 0
            while (i < px.length) {
              val p = px(i)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              i += 1
            }
            val np = px.length.toLong
            val cur = (sr / np, sg / np, sb / np)
            val out = if (prev != null) {
              val score = math.abs(cur._1 - prev._1) +
                math.abs(cur._2 - prev._2) + math.abs(cur._3 - prev._3)
              if (score > 0) Some(SceneCutRow(id, f.toLong, score, n.toLong))
              else None
            } else None
            prev = cur
            out
          }
          rd.dispose()
          cuts
        } finally iis.close()
      }
      .toDF()
  }

  val mmSceneCutsSql: String =
    """WITH f AS (
      |  SELECT doc_id, gs.g AS frame_idx, 2 + doc_id % 2 AS s,
      |    (doc_id * 37) % 256 AS r, (doc_id * 59) % 256 AS g2,
      |    (doc_id * 83) % 256 AS b, 4 + doc_id % 3 AS n_frames
      |  FROM documents CROSS JOIN generate_series(1, 5) AS gs(g)
      |  WHERE gs.g < 4 + doc_id % 3)
      |SELECT doc_id, frame_idx,
      |  abs((r + 29 * (frame_idx // s)) % 256
      |      - (r + 29 * (frame_idx // s - 1)) % 256)
      |  + abs((g2 + 29 * (frame_idx // s)) % 256
      |      - (g2 + 29 * (frame_idx // s - 1)) % 256)
      |  + abs((b + 29 * (frame_idx // s)) % 256
      |      - (b + 29 * (frame_idx // s - 1)) % 256) AS score,
      |  n_frames
      |FROM f WHERE frame_idx % s = 0""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_scene_cuts" -> (mmSceneCuts _),
    "mm_channel_stats" -> (mmChannelStats _),
    "mm_aspect_buckets" -> (mmAspectBuckets _),
    "mm_pack_shards" -> (mmPackShards _),
    "mm_dedup" -> (mmDedup _),
    "mm_binary_meta" -> (mmBinaryMeta _),
    "mm_decode" -> (mmDecode _),
    "mm_audio_frames" -> (mmAudioFrames _),
    "mm_patches" -> (mmPatches _),
    "mm_embed_fusion" -> (mmEmbedFusion _))

  val oracles: Map[String, String] = Map(
    "mm_scene_cuts" -> mmSceneCutsSql,
    "mm_channel_stats" -> mmChannelStatsSql,
    "mm_aspect_buckets" -> mmAspectBucketsSql,
    "mm_pack_shards" -> mmPackShardsSql,
    "mm_dedup" -> mmDedupSql,
    "mm_decode" -> mmDecodeSql,
    "mm_audio_frames" -> mmAudioFramesSql,
    "mm_patches" -> mmPatchesSql,
    "mm_embed_fusion" -> mmEmbedFusionSql,
    // [T]→[O] r12: the meta audit replays from the published payload
    // artifact (octet_length/hex measured on the BLOBs by DuckDB)
    "mm_binary_meta" -> mmBinaryMetaSql)
}
