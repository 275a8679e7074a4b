package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decoded-media metadata row (the stable schema downstream operators
  * partition/filter on, independent of the decoder implementation). */
case class MediaMeta(
    doc_id: Long, n_bytes: Long, width: Int, height: Int,
    channels: Int, format: String)

/** Per-image decoded pixel statistics (exact integer sums — no float
  * drift between engines). */
case class PpmStats(
    doc_id: Long, width: Long, height: Long,
    sum_r: Long, sum_g: Long, sum_b: Long)

/** One sampled frame's decoded statistics (the video analog of
  * [[PpmStats]], keyed by frame index within the container). */
case class FrameStats(
    doc_id: Long, frame_idx: Long, width: Long, height: Long,
    sum_r: Long, sum_g: Long, sum_b: Long)

/** One audio chunk's exact statistics (the audio analog, keyed by
  * chunk index): sample count + exact integer energy Σ s². */
case class AudioChunk(
    doc_id: Long, chunk_idx: Long, n_samples: Long, energy: Long)

/** Multimodal-column plumbing (north star): image/audio/video travel as
  * opaque `BinaryType` columns; decode/feature-extract runs as typed
  * per-partition batch work so any decoder drops in without touching
  * the plan shape.
  *
  * The decoder is REAL for raw Netpbm P6 (PPM) images — [[decodePpm]]
  * parses the ASCII header and the RGB pixel plane, and [[resizeHalf]]
  * produces an actual nearest-neighbor downsampled P6 payload. Only
  * compressed codecs (JPEG/MP4/...) remain stubbed ([[decodeStub]]),
  * because no codec libraries exist in this environment.
  *
  * Scale notes: decode is embarrassingly parallel map work; the binary
  * column should be the LAST projected column (parquet stores it fine,
  * but column pruning means metadata-only queries never read the bytes).
  */
object Multimodal {

  /** Deterministic P6 fixture: pixel (x, y, c) of image `id` has value
    * `(id*9349 + y*193 + x*17 + c*71) % 256`, dims `(id%8+4, id%5+3)`.
    * Pure arithmetic, so the DuckDB oracle recomputes every statistic
    * WITHOUT decoding — a hash match on the decoded stats proves the
    * whole encode→parse→decode chain bit-exact. */
  def syntheticPpm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = (id % 8 + 4).toInt; val h = (id % 5 + 3).toInt
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = new Array[Byte](w * h * 3)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < 3) {
            px(i) = ((id * 9349 + y * 193 + x * 17 + c * 71) % 256).toByte
            i += 1; c += 1
          }
          x += 1
        }
        y += 1
      }
      (id, header ++ px)
    }.toDF("doc_id", "media")
  }

  /** Minimal Netpbm P6 header scan from `from`: returns (width, height,
    * maxval, pixel-data offset — absolute). Canonical whitespace-
    * separated header form. */
  private def parseP6Header(bytes: Array[Byte], from: Int = 0): (Int, Int, Int, Int) = {
    var i = from
    def skipWs(): Unit =
      while (i < bytes.length && Character.isWhitespace(bytes(i))) i += 1
    def token(): String = {
      skipWs(); val s = i
      while (i < bytes.length && !Character.isWhitespace(bytes(i))) i += 1
      new String(bytes, s, i - s, "US-ASCII")
    }
    require(token() == "P6", "not a P6 ppm payload")
    val w = token().toInt; val h = token().toInt; val mx = token().toInt
    i += 1 // exactly one whitespace byte separates maxval from pixel data
    (w, h, mx, i)
  }

  /** Materialize the synthetic P6 payloads as individual `.ppm` FILES
    * (once per session × sf, `_SUCCESS`-guarded like the other fixture
    * writes): the raw-file half of the multimodal ingest story, so
    * `binaryFile` reads exercise a real files→bytes→decode chain.
    * Capped at 2000 images so the file count stays flat across scale
    * factors (the per-file cost of a files-source is the point being
    * tested, not stressed). Executor-side writes — local-FS harness
    * idiom, same caveat as `Sources.partitionedOrdersDf`. */
  def ppmFileDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = graft.api.scratchPath(s"ppm_${graft.api.slug(d)}_" +
      graft.api.contentFingerprint(s"$d/documents.parquet"))
    // atomic publish (buildOnce): a concurrent binaryFile reader can
    // never list a partially-written image set
    graft.api.buildOnce(dir, marker = Some("_SUCCESS")) { tmp =>
      syntheticPpm(graft.api.tbl(s, d, "documents").filter(col("doc_id") < 2000))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, f"img_${r.getLong(0)}%05d.ppm"),
              r.getAs[Array[Byte]](1))
          }
        }
      new java.io.File(tmp, "_SUCCESS").createNewFile()
      ()
    }
  }

  /** REAL decode: media(doc_id LONG, media BINARY) → parsed dimensions +
    * exact per-channel pixel sums. Typed mapPartitions batch work — a
    * production decoder for other formats drops into the same loop. */
  def decodePpm(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, mx, off) = parseP6Header(bytes)
          // validate BEFORE the pixel loop: a 16-bit maxval would be
          // silently misdecoded, truncation would throw an opaque AIOOBE
          // mid-loop, and a hostile w*h*3 overflowing Int would make the
          // loop a silent no-op (negative end) — fail with the facts
          val need = off.toLong + w.toLong * h.toLong * 3L
          require(mx == 255, s"unsupported P6 maxval $mx (8-bit only)")
          require(w > 0 && h > 0 && need <= bytes.length,
            s"malformed P6 payload: ${w}x$h needs $need bytes, got ${bytes.length}")
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = off
          val end = off + w * h * 3
          while (i < end) {
            sr += bytes(i) & 0xff
            sg += bytes(i + 1) & 0xff
            sb += bytes(i + 2) & 0xff
            i += 3
          }
          PpmStats(id, w.toLong, h.toLong, sr, sg, sb)
        }
      }
      .toDF()
  }

  /** REAL resize: nearest-neighbor half downsample — output pixel
    * (x, y) = source pixel (2x, 2y), dims ceil(w/2) × ceil(h/2) — built
    * as an actual new P6 payload, so [[decodePpm]] can re-verify it. */
  def resizeHalf(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, _, off) = parseP6Header(bytes)
          val (rw, rh) = ((w + 1) / 2, (h + 1) / 2)
          val header = s"P6\n$rw $rh\n255\n".getBytes("US-ASCII")
          val out = new Array[Byte](rw * rh * 3)
          var i = 0
          var y = 0
          while (y < rh) {
            var x = 0
            while (x < rw) {
              val src = off + ((2 * y) * w + 2 * x) * 3
              out(i) = bytes(src); out(i + 1) = bytes(src + 1); out(i + 2) = bytes(src + 2)
              i += 3; x += 1
            }
            y += 1
          }
          (id, header ++ out)
        }
      }.toDF("doc_id", "media")
  }

  /** Deterministic multi-frame fixture — the video analog of
    * [[syntheticPpm]]: doc `id` is a container of `id % 6 + 2` raw P6
    * frames back-to-back (the concatenated-Netpbm animation form), all
    * frames `(id%8+4) × (id%5+3)`, frame `f`'s pixel `(x, y, c)` =
    * `(id*9349 + f*389 + y*193 + x*17 + c*71) % 256`. Pure arithmetic,
    * so the oracle recomputes any sampled frame's statistics without
    * touching bytes. */
  def syntheticVideo(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = (id % 8 + 4).toInt; val h = (id % 5 + 3).toInt
      val frames = (id % 6 + 2).toInt
      val out = new java.io.ByteArrayOutputStream()
      var f = 0
      while (f < frames) {
        out.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
        val px = new Array[Byte](w * h * 3)
        var i = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < 3) {
              px(i) = ((id * 9349 + f * 389 + y * 193 + x * 17 + c * 71) % 256).toByte
              i += 1; c += 1
            }
            x += 1
          }
          y += 1
        }
        out.write(px)
        f += 1
      }
      (id, out.toByteArray)
    }.toDF("doc_id", "media")
  }

  /** REAL frame sampling: keep every `k`-th frame of a multi-frame P6
    * container and decode ONLY those — unsampled frames are skipped by
    * arithmetic (offset += w·h·3), never read, which is the property
    * that matters when a production container holds thousands of
    * frames and the sampler wants 1%. Same typed mapPartitions shape
    * as [[decodePpm]]; a real demuxer (MP4 atoms instead of P6
    * headers) drops into the identical loop. */
  def sampleFrames(media: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"sample stride must be >= 1: $k")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val out = scala.collection.mutable.ListBuffer[FrameStats]()
          var off = 0
          var f = 0
          while (off < bytes.length) {
            val (w, h, mx, px) = parseP6Header(bytes, off)
            require(mx == 255, s"unsupported P6 maxval $mx (8-bit only)")
            val end = px + w * h * 3
            require(w > 0 && h > 0 && end <= bytes.length,
              s"malformed frame $f: ${w}x$h needs $end bytes, got ${bytes.length}")
            if (f % k == 0) {
              var (sr, sg, sb) = (0L, 0L, 0L)
              var i = px
              while (i < end) {
                sr += bytes(i) & 0xff
                sg += bytes(i + 1) & 0xff
                sb += bytes(i + 2) & 0xff
                i += 3
              }
              out += FrameStats(id, f.toLong, w.toLong, h.toLong, sr, sg, sb)
            }
            off = end
            f += 1
          }
          out
        }
      }
      .toDF()
  }

  /** Deterministic PCM audio fixture — the audio leg of the multimodal
    * triad: doc `id` is a canonical 44-byte-header RIFF/WAVE payload
    * (PCM, mono, 16-bit little-endian, 8000 Hz declared) carrying
    * `id % 5000 + 2000` samples, sample `i` = `(id*7919 + i*31) % 4096
    * − 2048`. Pure integer arithmetic, so any chunk statistic is
    * recomputable without touching bytes. */
  def syntheticWav(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val n = (id % 5000 + 2000).toInt
      val dataBytes = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1)        // PCM, mono
        .putInt(8000).putInt(16000)     // sample rate, byte rate
        .putShort(2).putShort(16)       // block align, bits/sample
        .put("data".getBytes("US-ASCII")).putInt(dataBytes)
      var i = 0
      while (i < n) {
        bb.putShort(((id * 7919 + i * 31) % 4096 - 2048).toShort)
        i += 1
      }
      (id, bb.array())
    }.toDF("doc_id", "media")
  }

  /** One audio chunk's exact statistics: sample count and the exact
    * integer energy Σ s² — no float, no window function drift. */
  private def parseWavHeader(bytes: Array[Byte]): Int = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE payload")
    require(bb.getShort(20) == 1 && bb.getShort(22) == 1 && bb.getShort(34) == 16,
      "only PCM mono 16-bit supported")
    val dataLen = bb.getInt(40)
    require(44 + dataLen <= bytes.length, s"truncated data chunk: $dataLen")
    dataLen / 2
  }

  /** REAL audio chunking: split each WAV's sample stream into fixed
    * `chunkSamples` windows (the feature-extraction frames an audio
    * pipeline feeds downstream) and emit per-chunk EXACT integer
    * statistics — count and energy Σ s² (fits a BIGINT by orders of
    * magnitude: 2¹¹-bounded samples, thousands per chunk). Same typed
    * mapPartitions shape as the image/video decoders; a real codec
    * (MP3/FLAC demux) drops into the identical loop. */
  def chunkWav(media: DataFrame, chunkSamples: Int): DataFrame = {
    require(chunkSamples >= 1, s"chunk size must be >= 1: $chunkSamples")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = parseWavHeader(bytes)
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (0 until (n + chunkSamples - 1) / chunkSamples).map { c =>
            val lo = c * chunkSamples
            val hi = math.min(lo + chunkSamples, n)
            var e = 0L
            var i = lo
            while (i < hi) {
              val s = bb.getShort(44 + 2 * i).toLong
              e += s * s
              i += 1
            }
            AudioChunk(id, c.toLong, (hi - lo).toLong, e)
          }
        }
      }
      .toDF()
  }

  /** media(doc_id LONG, media BINARY) → per-item decoded metadata for
    * formats WITHOUT an in-environment decoder (compressed codecs).
    * Swap the body for a real decoder (libjpeg/ffmpeg/...) to go live;
    * the raw-format path above shows the identical plumbing live. */
  def decodeStub(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition batch: a real implementation would init the
        // decoder once here and stream the partition through it.
        it.map { case (id, bytes) =>
          val n = bytes.length.toLong // stub: dims derived from payload size
          MediaMeta(id, n, (n % 640 + 1).toInt, (n * 31 % 480 + 1).toInt, 3, "fake/raw")
        }
      }
      .toDF()
  }
}
