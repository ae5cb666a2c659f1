package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2.10 / builder brief):
  * image/audio/video payloads modeled as opaque `binary` columns with
  * typed metadata. IMAGE decode is REAL since round 10 — the JDK's
  * `javax.imageio` readers (PNG/JPEG/BMP/GIF) need no external codec
  * libraries ([[Multimodal.decodeImages]], exactness-tested on planted
  * encoded fixtures) — and so is AUDIO decode for uncompressed
  * WAV/AIFF 16-bit PCM via `javax.sound.sampled`
  * ([[Multimodal.decodeAudio]], sample-exact on planted fixtures).
  * Compressed audio (MP3/AAC) and video containers have no JDK
  * decoder, so those decode steps remain a clearly-marked
  * DETERMINISTIC STUB — and either way the Spark-side plumbing
  * (binary schema, batch-iterator processing, partition-parallel
  * decode, typed output schema) is real and tested.
  *
  * Scale: decode runs in `mapPartitions` — one iterator per partition,
  * the Scala analogue of `mapInPandas` batch processing: codec state is
  * amortized per partition, rows stream through without materializing
  * the partition, and parallelism is the file-split count.
  */
object Multimodal {
  import Tables._

  // ImageIO defaults to DISK-backed stream caches: every
  // encode/decode of an in-memory byte array creates and deletes a
  // temp file (FileCacheImage{Input,Output}Stream). With 32 tasks ×
  // thousands of tiles per bench run that tmpfs churn made the decode
  // tier bimodal (mm_phash_pairs warm runs measured 5.0 s vs 1.7 s
  // within one session, round 18). All payloads here are
  // already in memory, so the memory-cache mode is strictly better —
  // decoded bytes are identical. The object initializer runs in every
  // JVM that deserializes a closure referencing these helpers, so
  // executors get it too.
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed input/output rows for the stub decoder. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int, height: Int,
      n_frames: Int, format: String)
  /** Output row of the REAL image decoder ([[decodeImages]]). */
  final case class ImageMeta(doc_id: Long, ok: Boolean, format: String,
      width: Int, height: Int, avg_luma: Double)
  /** One decoded frame of a multi-frame container ([[decodeFrames]]). */
  final case class FrameMeta(doc_id: Long, frame_idx: Int,
      width: Int, height: Int, avg_luma: Double)
  /** Output row of the DCT perceptual hash ([[phashImages]]). */
  final case class PhashRow(doc_id: Long, ok: Boolean, format: String,
      phash: Long)

  /** Container sniff from magic bytes — codec-free, exact. */
  private[graft] def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ') "avi"
    else "unknown"

  /** Output row of the REAL audio decoder ([[decodeAudio]]). */
  final case class AudioMeta(doc_id: Long, ok: Boolean, format: String,
      sample_rate: Int, channels: Int, bits: Int, n_frames: Long,
      rms: Double, peak: Double)

  /** REAL audio decode for WAV/PCM — `javax.sound.sampled` ships IN
    * THE JDK (WAV/AIFF/AU parsers, signed-PCM decode; no external
    * codec libraries), the audio analogue of [[decodeImages]]: per
    * payload emit the stream parameters and the two features an
    * audio-curation filter thresholds on — RMS level and absolute
    * peak, both over samples normalized to [−1, 1). 16-bit signed PCM
    * (the dominant WAV layout) is decoded sample-exactly with explicit
    * endianness from the container header; µ-law and A-law payloads
    * (G.711 telephony WAV, format codes 7/6 — round 11) are expanded
    * to 16-bit PCM through the JDK's own `AudioSystem` codec
    * conversion before the same sample loop, so telephony corpora
    * decode for real instead of reporting ok=false. Other encodings
    * report their parameters with ok=false rather than guessing.
    * Undecodable or truncated payloads also yield ok=false rows — the
    * poisoned-blob contract again; a bad byte string must never kill
    * the partition. Compressed codecs (MP3/AAC/Opus) have no JDK
    * decoder and stay behind the declared stub. Sample-exactness is
    * contract-tested on planted AudioSystem-written fixtures
    * (AudioDecodeSpec): a constant-amplitude signal round-trips
    * rms == peak == amp/32768 bit-exactly, a sine hits A/√2 to 1e-3;
    * the G.711 paths recover a planted constant within the codec's
    * log-quantization error and report the container's original 8-bit
    * sample size.
    *
    * Same mapPartitions batch shape as the image path: decoder state
    * amortizes per partition, rows stream through, parallelism is the
    * file-split count. */
  private[graft] def decodeAudio(docs: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      rows.map { r =>
        var ais: javax.sound.sampled.AudioInputStream = null
        var pcm: javax.sound.sampled.AudioInputStream = null
        try {
          import javax.sound.sampled.{AudioFormat, AudioSystem}
          ais = AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val srcFmt = ais.getFormat
          val srcBits = srcFmt.getSampleSizeInBits
          val ch = srcFmt.getChannels
          val g711 = srcFmt.getEncoding == AudioFormat.Encoding.ULAW ||
            srcFmt.getEncoding == AudioFormat.Encoding.ALAW
          // µ-law/A-law expand losslessly to 16-bit PCM via the JDK's
          // own codec provider; everything downstream sees PCM16
          pcm =
            if (g711)
              AudioSystem.getAudioInputStream(
                new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
                  srcFmt.getSampleRate, 16, ch, 2 * ch,
                  srcFmt.getSampleRate, false), ais)
            else ais
          val fmt = pcm.getFormat
          val pcm16 = fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16
          if (!pcm16)
            AudioMeta(r.doc_id, ok = false, sniffFormat(r.payload),
              srcFmt.getSampleRate.toInt, ch, srcBits, 0L, 0.0, 0.0)
          else {
            val bits = srcBits // report the container's sample size
            val data = pcm.readAllBytes()
            val nSamples = data.length / 2
            var i = 0
            var sumSq = 0.0
            var peak = 0.0
            while (i + 1 < data.length) {
              val s =
                if (fmt.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
              val v = s / 32768.0
              sumSq += v * v
              val a = math.abs(v)
              if (a > peak) peak = a
              i += 2
            }
            AudioMeta(r.doc_id, ok = true, sniffFormat(r.payload),
              fmt.getSampleRate.toInt, ch, bits,
              if (ch > 0) nSamples.toLong / ch else 0L,
              if (nSamples > 0) math.sqrt(sumSq / nSamples) else 0.0, peak)
          }
        } catch {
          case _: Exception =>
            AudioMeta(r.doc_id, ok = false, sniffFormat(r.payload), 0, 0, 0, 0L,
              0.0, 0.0)
        } finally {
          if (pcm != null) try pcm.close() catch { case _: Exception => () }
          if (ais != null) try ais.close() catch { case _: Exception => () }
        }
      }
    }
  }

  /** REAL image decode — `javax.imageio` ships IN THE JDK (PNG, JPEG,
    * BMP, GIF, WBMP readers; no external codec libraries), so the
    * decode step itself is no longer environment-bound for images.
    * Same mapPartitions batch contract as the declared stub: reader
    * state amortizes per partition, rows stream through, parallelism
    * is the file-split count; per row emit dimensions and mean
    * BT.601 luminance (the cheap brightness feature a filtering
    * pipeline thresholds on). Non-image payloads (or truncated bytes)
    * yield ok=false rows rather than failing the partition — at lake
    * scale a poisoned blob must never kill the job. Exactness is
    * contract-tested on planted ImageIO-encoded fixtures
    * (ImageDecodeSpec): lossless formats (PNG/BMP) round-trip
    * dimensions AND per-pixel luminance bit-exactly. Video: GIF
    * frames ([[decodeFrames]]) and MJPEG-in-AVI ([[decodeAviFrames]],
    * round 11) decode for real; only codecs with no JDK decoder
    * (MP3/AAC/H.264…) remain behind `mm_decode_stub`. */
  private[graft] def decodeImages(docs: Dataset[MediaRow]): Dataset[ImageMeta] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      rows.map { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null) ImageMeta(r.doc_id, ok = false, sniffFormat(r.payload), 0, 0, 0.0)
          else {
            val w = img.getWidth
            val h = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            ImageMeta(r.doc_id, ok = true, sniffFormat(r.payload), w, h,
              sum / (w.toLong * h))
          }
        } catch {
          case _: Exception =>
            ImageMeta(r.doc_id, ok = false, sniffFormat(r.payload), 0, 0, 0.0)
        }
      }
    }
  }

  /** Output row of the audio fingerprint ([[fingerprintAudio]]). */
  final case class AudioFpRow(doc_id: Long, ok: Boolean, format: String,
      n_frames: Long, dominant_bin: Int, fp: Long)

  /** Constellation-style AUDIO fingerprint over the real WAV/AIFF
    * decode path — the audio analogue of [[phashImages]]: content
    * keys that survive level changes, for near-duplicate detection in
    * audio corpora where byte hashing breaks on re-encode or gain.
    *
    * Per payload: 16-bit PCM → mono (channel average) → 64-sample
    * frames at hop 32 → 32-bin DFT magnitude (plain double loops,
    * fixed order) → per-frame PEAK BIN (argmax of ‖X_k‖², ties to the
    * lower bin — scale-invariant, so gain changes cannot move it) →
    * fingerprint = the peak-bin sequence folded through h·31 + bin
    * (the Shazam constellation collapsed to its time-ordered spine).
    * dominant_bin is the modal peak bin (the track's carrier pitch
    * class at this resolution).
    *
    * Contracts (AudioDecodeSpec): an amplitude-scaled copy fingerprints
    * IDENTICALLY (argmax invariance); a different tone lands in a
    * different bin/fingerprint; non-PCM or junk payloads report
    * ok = false. Pairing at corpus scale joins on `fp` (exact) or on
    * per-frame (bin, next-bin) pairs for fuzzy overlap — both
    * bucketed, no all-pairs. */
  private[graft] def fingerprintAudio(docs: Dataset[MediaRow]): Dataset[AudioFpRow] = {
    import docs.sparkSession.implicits._
    val N = 64
    val H = 32
    val Bins = 32
    docs.mapPartitions { rows =>
      // DFT basis shared across the partition's batch
      val cosT = Array.tabulate(Bins, N)((k, n) =>
        math.cos(-2.0 * math.Pi * k * n / N))
      val sinT = Array.tabulate(Bins, N)((k, n) =>
        math.sin(-2.0 * math.Pi * k * n / N))
      rows.map { r =>
        var ais: javax.sound.sampled.AudioInputStream = null
        try {
          ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val fmt = ais.getFormat
          val pcm16 = fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16 && fmt.getChannels >= 1
          if (!pcm16) AudioFpRow(r.doc_id, ok = false, sniffFormat(r.payload), 0L, -1, 0L)
          else {
            val data = ais.readAllBytes()
            val ch = fmt.getChannels
            val nMono = data.length / 2 / ch
            val mono = new Array[Double](nMono)
            var i = 0
            while (i < nMono) {
              var acc = 0.0
              var c = 0
              while (c < ch) {
                val off = (i * ch + c) * 2
                val s =
                  if (fmt.isBigEndian)
                    ((data(off) << 8) | (data(off + 1) & 0xff)).toShort
                  else ((data(off + 1) << 8) | (data(off) & 0xff)).toShort
                acc += s / 32768.0
                c += 1
              }
              mono(i) = acc / ch
              i += 1
            }
            var fp = 0L
            var frames = 0L
            val binCnt = new Array[Long](Bins)
            var start = 0
            while (start + N <= nMono) {
              var bestK = 0
              var bestMag = -1.0
              var k = 1 // skip DC — it carries offset, not pitch
              while (k < Bins) {
                var re = 0.0
                var im = 0.0
                var n = 0
                while (n < N) {
                  re += mono(start + n) * cosT(k)(n)
                  im += mono(start + n) * sinT(k)(n)
                  n += 1
                }
                val mag = re * re + im * im
                if (mag > bestMag) { bestMag = mag; bestK = k }
                k += 1
              }
              fp = fp * 31L + bestK
              binCnt(bestK) += 1
              frames += 1
              start += H
            }
            var dom = -1
            var domCnt = -1L
            var b = 0
            while (b < Bins) {
              if (binCnt(b) > domCnt) { domCnt = binCnt(b); dom = b }
              b += 1
            }
            AudioFpRow(r.doc_id, ok = frames > 0, sniffFormat(r.payload),
              frames, if (frames > 0) dom else -1, fp)
          }
        } catch {
          case _: Exception =>
            AudioFpRow(r.doc_id, ok = false, sniffFormat(r.payload), 0L, -1, 0L)
        } finally {
          if (ais != null) try ais.close() catch { case _: Exception => () }
        }
      }
    }
  }

  /** DCT perceptual hash (pHash) over the REAL image-decode path — the
    * content-level near-duplicate key for image corpora, where
    * [[Multimodal]]'s byte-level simhash (`mm_simhash`) breaks the
    * moment a payload is re-encoded: pHash survives format conversion,
    * brightness shifts (AC coefficients are invariant to a constant
    * offset — only DC moves, and DC is excluded), and re-scaling
    * (everything is hashed through a fixed 32×32 box-filter resample).
    *
    * Pipeline per payload: ImageIO decode → 32×32 luminance by EXACT
    * box-filter averaging (no AWT scaler — platform-independent pure
    * math) → 2-D DCT-II → the 8×8 low-frequency block minus DC,
    * thresholded against its own mean → 64-bit hash. Bit k=8u+v set
    * iff F(u,v) > mean. All double arithmetic in fixed loop order —
    * bit-reproducible across executors and platforms.
    *
    * Undecodable payloads report ok=false, hash 0 (the poisoned-blob
    * contract shared with [[decodeImages]]). Pairing at corpus scale
    * reuses the pigeonhole banding `mm_simhash_pairs` established —
    * the hash is the drop-in key. Contracts in ImageDecodeSpec:
    * brightness-shift exact-equality, cross-resolution equality on an
    * aligned pattern, edit locality, and distinct-structure distance. */
  private[graft] def phashImages(docs: Dataset[MediaRow]): Dataset[PhashRow] = {
    import docs.sparkSession.implicits._
    val N = 32
    docs.mapPartitions { rows =>
      // DCT basis shared across the partition's batch (amortized init)
      val cosT = Array.tabulate(8, N)((u, x) =>
        math.cos(math.Pi * (2 * x + 1) * u / (2.0 * N)))
      rows.map { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null) PhashRow(r.doc_id, ok = false, sniffFormat(r.payload), 0L)
          else {
            val w = img.getWidth
            val h = img.getHeight
            val lum = Array.ofDim[Double](N, N)
            var ty = 0
            while (ty < N) {
              val y0 = (ty.toLong * h / N).toInt
              val y1 = math.min(h, math.max(y0 + 1, ((ty + 1).toLong * h / N).toInt))
              var tx = 0
              while (tx < N) {
                val x0 = (tx.toLong * w / N).toInt
                val x1 = math.min(w, math.max(x0 + 1, ((tx + 1).toLong * w / N).toInt))
                var sum = 0.0
                var y = y0
                while (y < y1) {
                  var x = x0
                  while (x < x1) {
                    val rgb = img.getRGB(x, y)
                    sum += 0.299 * ((rgb >> 16) & 0xff) +
                      0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                    x += 1
                  }
                  y += 1
                }
                lum(ty)(tx) = sum / ((y1 - y0).toLong * (x1 - x0))
                tx += 1
              }
              ty += 1
            }
            // 8×8 low-frequency DCT-II block,
            // F(u,v) = Σ_y Σ_x lum·cos_u(x)·cos_v(y); the α(u)α(v)
            // normalization is dropped — a fixed basis reweighting
            // applied identically to every image, so hashes stay
            // comparable (and brightness still moves only F(0,0))
            val coef = Array.ofDim[Double](8, 8)
            var v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                var s = 0.0
                var y = 0
                while (y < N) {
                  var rowAcc = 0.0
                  var x = 0
                  while (x < N) { rowAcc += lum(y)(x) * cosT(u)(x); x += 1 }
                  s += rowAcc * cosT(v)(y)
                  y += 1
                }
                coef(v)(u) = s
                u += 1
              }
              v += 1
            }
            var mean = 0.0
            var i = 1
            while (i < 64) { mean += coef(i / 8)(i % 8); i += 1 }
            mean /= 63.0
            var hash = 0L
            i = 1
            while (i < 64) {
              if (coef(i / 8)(i % 8) > mean) hash |= (1L << i)
              i += 1
            }
            PhashRow(r.doc_id, ok = true, sniffFormat(r.payload), hash)
          }
        } catch {
          case _: Exception =>
            PhashRow(r.doc_id, ok = false, sniffFormat(r.payload), 0L)
        }
      }
    }
  }

  /** REAL multi-frame decode for containers the JDK can demux
    * (animated GIF): one output row per frame with its mean luminance —
    * the distributed half of `mm_frame_sample` made real. The ImageIO
    * reader is obtained once per payload and frames stream out of
    * `getNumImages`/`read(i)`; undecodable payloads contribute zero
    * rows (flatMap semantics — the poisoned-blob contract again).
    * Frame-exactness is contract-tested on a planted animated GIF
    * (solid-color frames survive GIF palette quantization bit-exactly;
    * ImageDecodeSpec). */
  private[graft] def decodeFrames(docs: Dataset[MediaRow]): Dataset[FrameMeta] = {
    import docs.sparkSession.implicits._
    docs.flatMap { r =>
      // the ImageInputStream is disk-backed by default (FileCache) —
      // close it and dispose the reader in finally, or every poisoned
      // blob (valid header, corrupt frames) leaks an fd + temp file
      var iis: javax.imageio.stream.ImageInputStream = null
      var reader: javax.imageio.ImageReader = null
      try {
        iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Iterator.empty
        else {
          reader = readers.next()
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          // materialize before the finally closes the reader
          (0 until n).map { i =>
            val img = reader.read(i)
            val w = img.getWidth
            val h = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            FrameMeta(r.doc_id, i, w, h, sum / (w.toLong * h))
          }.iterator
        }
      } catch {
        case _: Exception => Iterator.empty
      } finally {
        if (reader != null) try reader.dispose() catch { case _: Exception => () }
        if (iis != null) try iis.close() catch { case _: Exception => () }
      }
    }
  }

  /** MJPEG-in-AVI demux (round 11) — the one video container the JDK
    * can fully decode end-to-end: an AVI file is a RIFF chunk tree,
    * and Motion-JPEG stores every frame as a COMPLETE JPEG inside a
    * '00dc'/'00db' movi chunk, so a plain bounds-checked RIFF walk
    * plus the existing imageio JPEG path ([[decodeImages]]) yields
    * real per-frame rows — no external codec. Poisoned-blob contract:
    * truncated payloads, lying chunk sizes, or non-JPEG frame chunks
    * stop the walk / skip the frame, never the task; non-AVI payloads
    * yield no rows. Same flatMap batch shape as [[decodeFrames]];
    * frame work is bounded by chunk count, parallelism by the file
    * splits. Contract-tested on a hand-assembled AVI of
    * ImageIO-encoded solid-color JPEG frames (ImageDecodeSpec). */
  private[graft] def decodeAviFrames(docs: Dataset[MediaRow]): Dataset[FrameMeta] = {
    import docs.sparkSession.implicits._
    docs.flatMap { r =>
      // demux shares the frame decode's defensive posture: a payload
      // that defeats the walk's own bounds checks yields no rows,
      // never a task failure
      val frames =
        try demuxMjpegAvi(r.payload) catch { case _: Exception => Seq.empty[Array[Byte]] }
      frames.zipWithIndex.flatMap { case (jpeg, i) =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(jpeg))
          if (img == null) None
          else {
            val w = img.getWidth
            val h = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            Some(FrameMeta(r.doc_id, i, w, h, sum / (w.toLong * h)))
          }
        } catch { case _: Exception => None }
      }
    }
  }

  /** The RIFF walk behind [[decodeAviFrames]]: collect the payloads of
    * '00dc'/'00db' chunks (compressed/uncompressed video frames) that
    * start with the JPEG SOI marker, anywhere under a RIFF-AVI tree.
    * All offsets are validated against the buffer — a lying size field
    * terminates the walk instead of reading out of bounds. The descent
    * is iterative with an explicit continuation stack: a crafted AVI
    * can nest LIST chunks at ~12 bytes per level, so recursive descent
    * would StackOverflow (an Error, outside the Exception contract) on
    * a ~1 MB blob — the stack keeps depth O(1) in JVM frames while
    * preserving the in-order frame sequence. */
  private[graft] def demuxMjpegAvi(b: Array[Byte]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ') {
      var o = 12
      var end = math.min(b.length.toLong, 8L + u32(4)).toInt
      // (resume-offset, resume-end) continuations of enclosing levels
      var stack: List[(Int, Int)] = Nil
      var more = true
      while (more) {
        var ok = true
        while (ok && o + 8 <= end) {
          val id = new String(b, o, 4, "ISO-8859-1")
          val size = u32(o + 4)
          val data = o + 8
          if (size > end - data) ok = false // lying/truncated size → stop this level
          else {
            val sz = size.toInt
            val next = data + sz + (sz & 1) // RIFF chunks are word-aligned
            if (id == "LIST" && sz >= 4) {
              stack = (next, end) :: stack // resume here after the subtree
              o = data + 4
              end = data + sz
            } else {
              if ((id == "00dc" || id == "00db") && sz >= 2 &&
                (b(data) & 0xff) == 0xff && (b(data + 1) & 0xff) == 0xd8)
                out += java.util.Arrays.copyOfRange(b, data, data + sz)
              o = next
            }
          }
        }
        stack match {
          case (ro, re) :: rest => o = ro; end = re; stack = rest
          case Nil              => more = false
        }
      }
    }
    out.toSeq
  }

  /** EMBEDDING-DISTRIBUTION drift screen (round 11) — the vector-space
    * sibling of `profile_distribution_drift`: before trusting a new
    * corpus snapshot (or a re-embedded corpus), compare the
    * per-DIMENSION value distributions of two slices (here an md5
    * half-split standing in for snapshot A/B) and rank dimensions by
    * total-variation distance over a 16-bin histogram. TV instead of
    * PSI/KL deliberately: those need `ln`, the one primitive with no
    * cross-engine bit guarantee (the corpus_dsir_select precedent);
    * TV over Laplace-smoothed 1e-9-quantized bin frequencies is an
    * exact integer sum, so the whole screen is oracle-checked.
    * The metric is precisely "TV over OBSERVED bins": a (dim, bin)
    * pair with zero mass on both sides never enters the grouped
    * relation, so its smoothed contribution |1/(t_a+16) − 1/(t_b+16)|
    * (nonzero when the side totals differ) is omitted — both engines
    * omit it identically, so parity holds, but a dimension with many
    * empty bins has its TV very slightly understated relative to a
    * densified 16-bin grid. Accepted: empty-both-sides bins carry no
    * drift evidence, and the omitted term is ≤ 16·|t_a−t_b|/(t_a·t_b),
    * vanishing as the slices balance. Per-dim ranges come from exact
    * global min/max, with a degenerate (hi == lo) dimension pinned to
    * bin 0.
    *
    * Scale: the corpus collapses to a (dim, bin) relation — ≤ 64×16
    * metadata rows — via one combinable hash-agg over posexploded
    * values; ranges are 64 rows broadcast back; nothing quadratic,
    * no window over data. */
  private def mmEmbedDrift(spark: SparkSession, dir: String): DataFrame = {
    val b = 16
    val base = fanout(embeddings(spark, dir))
      .select(
        (conv(substring(md5(concat(lit("dr:"), col("vec_id").cast(StringType))),
          1, 8), 16, 10).cast(LongType) % 2).as("side"),
        col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val vals = base.select(col("side"), posexplode(col("e")).as(Seq("dim", "x")))
    val rng = vals.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val binned = vals.join(broadcast(rng), "dim")
      .select(col("side"), col("dim"),
        when(col("hi") > col("lo"),
          least(lit(b - 1.0),
            floor((col("x") - col("lo")) / (col("hi") - col("lo")) * b)))
          .otherwise(lit(0.0)).cast(LongType).as("bin"))
    val cnt = binned.groupBy(col("dim"), col("bin")).agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_b"))
    // side totals are dimension-independent (every vector contributes
    // one value per dimension) — one scalar row, broadcast
    val tot = base.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("t_a"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("t_b"))
    def q9(n: Column, d: Column): Column =
      floor(n.cast("double") / d.cast("double") * lit(1000000000.0) + lit(0.5))
        .cast(LongType)
    cnt.crossJoin(broadcast(tot))
      .select(col("dim"),
        abs(q9(col("n_a") + 1L, col("t_a") + b) -
          q9(col("n_b") + 1L, col("t_b") + b)).as("d_q"))
      .groupBy(col("dim"))
      .agg(sum(col("d_q")).as("tv_q"))
      .select(col("dim").cast(LongType).as("dim"),
        (col("tv_q").cast("double") / lit(1000000000.0) / lit(2.0)).as("tv"))
      .orderBy(col("tv").desc, col("dim"))
  }

  /** Binary metadata extraction — oracle-checked (byte length + hex
    * prefix are codec-independent). */
  private def mmBinaryMeta(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(
        col("doc_id"),
        col("text").cast(BinaryType).as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        lower(hex(substring(col("payload"), 1, 8))).as("prefix_hex"))
      .orderBy(col("doc_id"))

  /** STUB decode: a real implementation would parse the container
    * header (e.g. PNG IHDR / WAV fmt chunk) and decode frames here;
    * this environment has no media libraries, so dimensions are derived
    * deterministically from the payload bytes. The mapPartitions batch
    * shape, schemas, and partition parallelism are the real contract.
    */
  private def mmDecodeStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val in = documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .as[MediaRow]
    in.mapPartitions { rows =>
      // per-partition "codec" init would go here (amortized, like
      // mapInPandas batch setup)
      rows.map { r =>
        val h = java.util.Arrays.hashCode(r.payload).toLong & 0x7fffffffL // STUB
        MediaMeta(
          doc_id = r.doc_id,
          n_bytes = r.payload.length.toLong,
          width = (64 + h % 1856).toInt,          // STUB: fake dims
          height = (64 + (h / 1856) % 1016).toInt, // STUB
          n_frames = (1 + h % 30).toInt,           // STUB
          format = if (r.payload.nonEmpty && (r.payload(0) & 1) == 0) "img" else "aud") // STUB
      }
    }.toDF()
      .orderBy(col("doc_id"))
  }

  /** Frame sampling: from each decoded clip (stub metadata), emit every
    * k-th frame index with a per-frame fingerprint — the video
    * frame-extraction shape (explode bounded by n_frames, never by
    * payload size). Deterministic but codec-stubbed ⇒ rows-only. */
  private def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    mmDecodeStub(spark, dir)
      .filter(col("format") === "img")
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(k))).as("frame_idx"))
      .withColumn("frame_key", concat_ws(":", col("doc_id"), col("frame_idx")))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Cross-modal join: text metadata ⋈ embedding vectors on shared ids
    * — the "align every modality of a sample" primitive a multimodal
    * training pipeline runs before packing examples. Per-row vector
    * math only (codegen'd dot_product for the L2 norm) — no shuffle
    * beyond the id join, which at scale co-locates when both modality
    * tables are bucketed by id (see join_bucketed). */
  private def mmTextEmbedJoin(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
    documents(spark, dir)
      .join(vecs, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("e")).cast(LongType).as("dim"),
        graft.Parity.r6(sqrt(expr("dot_product(e, e)"))).as("l2_norm"))
  }

  /** Inference batch scheduling: assign payloads to byte-capped batches
    * per modality stream (lang stands in for the modality key) — the
    * GPU-feeding shape: each batch holds consecutive items whose
    * cumulative size stays near the 64 KiB cap (greedy offset / cap
    * assignment, the streaming analogue of bin packing). One window
    * pass per modality partition; batch ids derive from exact integer
    * byte offsets ⇒ oracle-checked. At scale the partition key is the
    * real modality column and the cap is the accelerator's batch
    * memory. */
  private def mmBatchSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 65536L
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        length(col("text").cast(BinaryType)).cast(LongType).as("n_bytes"))
      .withColumn("off", sum(col("n_bytes")).over(w) - col("n_bytes"))
      .groupBy(col("lang"), floor(col("off") / cap).cast(LongType).as("batch_id"))
      .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("batch_bytes"))
      .orderBy(col("lang"), col("batch_id"))
  }

  /** Int8 embedding quantization — the serving-side storage cut (4×
    * under float32, 32× if the floats were doubles): per-DIMENSION
    * min/max ranges (64 metadata rows, one posexplode hash-agg with
    * map-side combine) broadcast back over the corpus, each element
    * snapped to its 0–255 code with the floor(+0.5) parity formula.
    * Output is the code manifest (first 4 codes + an md5 fingerprint of
    * the full code vector) plus the per-vector reconstruction MSE,
    * computed through the SAME sequential dot-product primitive as the
    * similarity family ⇒ bitwise cross-engine, oracle-checked.
    *
    * Scale: stats are per-dimension (constant rows at any corpus size);
    * the quantize pass is one broadcast join + per-row arithmetic; the
    * per-vector regroup shuffles (vec_id, dim) pairs once. */
  private def mmEmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.fanout(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val dims = v.select(posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val code = floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255 + 0.5)
      .cast(LongType)
    v.select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "x")))
      .join(broadcast(dims), "pos")
      .withColumn("code", code)
      .withColumn("deq", col("mn") + col("code") * (col("mx") - col("mn")) / 255)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(
        struct(col("pos"), col("x"), col("code"), col("deq")))).as("s"))
      .select(col("vec_id"),
        element_at(col("s"), 1).getField("code").as("code0"),
        element_at(col("s"), 2).getField("code").as("code1"),
        element_at(col("s"), 3).getField("code").as("code2"),
        element_at(col("s"), 4).getField("code").as("code3"),
        md5(concat_ws(",",
          transform(col("s"), t => t.getField("code").cast(StringType))))
          .as("codes_md5"),
        transform(col("s"), t => t.getField("x") - t.getField("deq")).as("err"))
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"), col("code3"),
        col("codes_md5"),
        Parity.r6(expr("dot_product(err, err)") / 64).as("recon_mse"))
      .orderBy(col("vec_id"))
  }

  /** Unordered fingerprint core — shared by the standalone query
    * (which adds the presentation sort) and the pairs join (which must
    * NOT inherit it: a sort below a self-join drags two full range
    * exchanges of every fingerprint into the plan for nothing). */
  private def mmSimhashCore(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .select(col("doc_id"), explode(expr("rolling_hash(payload, 4)")).as("h"))
      .groupBy(col("doc_id"))
      .agg(expr("simhash_agg(h)").as("simhash"))
  }

  /** Codec-free PERCEPTUAL fingerprint of the binary payload: 64-bit
    * SimHash over the payload's byte-level 4-gram rolling hashes — the
    * near-dup signature for media blobs that exact hashing (dedup_exact
    * on md5) structurally misses: re-muxed / metadata-patched / few-byte
    * -edited payloads share almost all byte shingles, so their
    * fingerprints land within a small Hamming ball, while a real codec
    * is never needed. (A production image pipeline would simhash
    * DECODED perceptual features instead; the byte-shingle form is the
    * codec-free lower rung that already catches container-level dups,
    * and the banding machinery downstream is identical.)
    *
    * Window = 4 bytes (the text twin uses token 3-grams): a k-byte
    * window means a 1-byte edit rewrites exactly k shingles, so
    * locality degrades linearly in k; at the short-payload end of the
    * corpus (hundreds of bytes) k=8 perturbed enough of the shingle
    * multiset to flip 4+ fingerprint bits (measured planted recovery
    * 3/10 at ball 3), while k=4 keeps planted single-byte edits at
    * measured Hamming 0–3 — 10/10 inside the pairs join's ball 3
    * (InvariantSpec planted contract, floor 7 with headroom).
    *
    * Scale: rolling_hash is one codegen'd O(n_bytes) pass per row;
    * explode + simhash_agg map-side-combine to ONE 64-counter buffer
    * per doc per partition, so the shuffle carries fingerprint partials,
    * never byte shingles. Spark-only hash bits ⇒ no oracle; the
    * pigeonhole recovery guarantee is planted-fixture-tested
    * (InvariantSpec). */
  private def mmSimhash(spark: SparkSession, dir: String): DataFrame =
    mmSimhashCore(spark, dir).orderBy(col("doc_id"))

  /** Perceptual near-dup PAIRS for the multimodal column via the same
    * pigeonhole banding join as dedup_simhash_pairs: 4×16-bit blocks —
    * Hamming ≤ 3 forces ≥ 1 identical block, so candidates come from
    * (block_idx, block) equi-joins (never all-pairs), then exact
    * bit_count(xor) confirms. The 4-byte shingle window upstream makes
    * ball 3 sufficient: planted single-byte edits measure Hamming 0–3
    * (10/10 recovered; the old 8-byte window needed 4+ bits and missed
    * 7/10). The ball deliberately stays TIGHT — text corpora share so
    * many byte 4-grams that fingerprints correlate across unrelated
    * docs (measured at sf0.1: 2.8k pairs at ball 3 vs 230k at ball 7,
    * i.e. a wide ball floods the output with boilerplate pairs AND
    * explodes the 8-bit-band candidate volume Σc² on skewed buckets).
    * 16-bit bands keep buckets ~n/65536 — equi-join-bounded at lake
    * scale. Extends the dedup family to binary payloads per the north
    * star: byte shingles → simhash → banding. */
  private def mmSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the fingerprints once: the sig-level shape below
    // references them five times (distinct sigs, two cross expansions,
    // the same-sig self-join), and the byte-shingle fingerprint pass
    // is the expensive O(corpus bytes) part — recomputing it per
    // reference measured 2.6× slower at sf1. The relation is n×16
    // bytes, trivially memory-resident at any executor count.
    val sim = mmSimhashCore(spark, dir).localCheckpoint()
    bandedHammingPairs(sim, ball = 3)
  }

  /** SIGNATURE-level pigeonhole banding join (round 13, factored out
    * round 16 so the pHash pair family reuses it verbatim): the banding
    * self-join used to run over per-DOC blocks, streaming Σ bucket²
    * over doc-buckets through a global distinct() — the 10× rehearsal's
    * second decade measured 5.6e9 candidate rows for 3.6e8 output pairs
    * (α 1.58). Identical fingerprints are common (exact dups + short
    * payloads: sf10 measured 500k docs → 173k distinct sigs), so
    * band-join the DISTINCT signatures instead (Σc² over sig-buckets,
    * ~8× smaller and shrinking relative to doc-level as dup mass
    * grows), confirm Hamming ≤ ball once per signature pair, and only
    * then expand to doc pairs: same-sig groups emit their pairs
    * directly (Hamming 0); cross-sig candidates expand via two sig→doc
    * equi-joins. The pair SET equals the naive doc-level join's — the
    * pigeonhole guarantee is a property of the signatures.
    *
    * `sim` must carry (doc_id, simhash) and be materialized by the
    * caller (it is referenced five times). The 4×16-bit block split
    * guarantees recall only for ball ≤ 3 (Hamming ≤ 3 cannot touch all
    * four blocks); callers wanting a wider ball must re-derive bands. */
  private def bandedHammingPairs(sim: DataFrame, ball: Int): DataFrame = {
    require(ball <= 3, s"4x16-bit bands only guarantee recall for ball <= 3, got $ball")
    val sigs = sim.select(col("simhash")).distinct()
    val blocks = sigs.select(col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("block_idx", "block")))
    val sigPairs = blocks.as("a").join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
        col("a.block") === col("b.block") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= ball)
      .distinct()
    val cross = sigPairs
      .join(sim.as("da"), col("sa") === col("da.simhash"))
      .join(sim.as("db"), col("sb") === col("db.simhash"))
      .select(
        least(col("da.doc_id"), col("db.doc_id")).as("doc_a"),
        greatest(col("da.doc_id"), col("db.doc_id")).as("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType).as("hamming"))
    val same = sim.as("x").join(sim.as("y"),
        col("x.simhash") === col("y.simhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    cross.union(same).orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Deterministic 32×32 grayscale render of a byte string — the
    * planted-fixture image synthesis behind [[mmPhashPairs]] (this
    * container ships no image corpus, so the decodable payloads are
    * derived from the documents table, the same discipline as
    * mm_simhash's text-bytes-as-payload). Pixel (y,x) carries byte
    * (32y+x) mod len scaled into [0, 199] — headroom below 255 so the
    * planted +16 brightness shift never clips (clipping would break
    * pHash's exact brightness invariance). Pure integer math, identical
    * on every executor. */
  private[graft] def renderTile(bytes: Array[Byte], shift: Int = 0,
      permute: Boolean = false): java.awt.image.BufferedImage = {
    val n = 32
    val img = new java.awt.image.BufferedImage(n, n,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val len = math.max(1, bytes.length)
    var y = 0
    while (y < n) {
      var x = 0
      while (x < n) {
        val i = y * n + x
        // permute=true re-tiles the SAME bytes in a different order
        // (multiplicative index shuffle) — same histogram, different
        // structure: the negative fixture for the pairing contract
        val j = if (permute) (i * 541 + 17) % (n * n) else i
        val b = if (bytes.length == 0) 0 else bytes(j % len) & 0xff
        val g = math.min(255, b * 200 / 256 + shift)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** In-memory ImageIO encode (PNG/BMP are both lossless JDK writers). */
  private[graft] def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** The deterministic media corpus behind [[mmPhashPairs]], factored
    * out (round 17) so the streaming twin's parity spec feeds the
    * IDENTICAL payload stream: text bytes rendered to PNG, every 97th
    * doc planting a brightness-shifted BMP re-encode (doc_id + 10⁹). */
  private[graft] def phashMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = Option(text).getOrElse("").getBytes("UTF-8")
          val base = MediaRow(id, encodeImage(renderTile(bytes), "png"))
          if (id % 97 == 0)
            Seq(base, MediaRow(id + 1000000000L,
              encodeImage(renderTile(bytes, shift = 16), "bmp")))
          else Seq(base)
        }
      }
  }

  /** Perceptual near-dup PAIRS over the REAL image path (round 16,
    * r15 VERDICT task 4) — the corpus-scale pairing [[phashImages]]'
    * scaladoc promised: payloads → pHash → the SAME signature-level
    * pigeonhole banding as mm_simhash_pairs ([[bandedHammingPairs]]),
    * never all-pairs. Payloads are deterministic [[renderTile]] PNGs of
    * each document's text bytes; every 97th doc additionally plants a
    * RE-ENCODED copy (doc_id + 10⁹): +16 brightness, BMP instead of
    * PNG — the format-conversion + brightness-shift near-dup that
    * byte-level mm_simhash structurally misses and pHash is exactly
    * invariant to (AC coefficients exclude DC; render keeps pixels
    * ≤ 215 so the shift never clips). The planted contract lives in
    * InvariantSpec: every decodable planted copy pairs with its source
    * at Hamming 0, and a tile-PERMUTED render (same byte histogram,
    * different structure) does NOT pair at ball 3.
    *
    * Scale: render + encode + decode + pHash are one O(1)-per-doc
    * mapPartitions pass (no shuffle); pairing cost is Σc² over DISTINCT
    * signature band-buckets + |output| — the mm_simhash_pairs shape,
    * measured α 0.07 at decade 3 on that family. The DCT is float ⇒
    * no_oracle by design (the simhash precedent); the banding stage is
    * the oracle-checked machinery it shares with mm_simhash_pairs. */
  private def mmPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val media = phashMedia(spark, dir)
    // materialized for the five references inside the banding join —
    // the mm_simhash_pairs discipline; n×16 bytes of (id, hash)
    val sim = phashImages(media).filter(col("ok"))
      .select(col("doc_id"), col("phash").as("simhash"))
      .toDF().localCheckpoint()
    bandedHammingPairs(sim, ball = 3)
  }

  /** DuckDB re-derivation of [[mmSimhashCore]] up to a CTE
    * `sgn(doc_id, fu, simhash)`: byte 4-gram window hashes via the
    * HUGEINT wrapping-mod-2⁶⁴ recipe ([[graft.Parity.wrappedPowers]]),
    * then the SimHashAgg vote as 64 exact bit-count sums (bit j of
    * the fingerprint is set iff `2·count_set(j) > n`, which is the
    * aggregate's `Σ(2·bit−1) > 0`), packed unsigned (`fu`) and
    * re-signed to Spark's Long (`simhash`). Shared by the mm_simhash
    * and mm_simhash_pairs oracles. */
  private lazy val simhashFingerprintSql: String = {
    val terms = Parity.wrappedPowers(1000003L, 4).zipWithIndex
      .map { case (c, j) => Parity.hashTerm("hx", j, c) }
      .mkString("\n     + ")
    def pow2(j: Int): String = java.lang.Long.toUnsignedString(1L << j)
    val bitSums = (0 until 64).map { j =>
      s"   CAST(sum(CAST((hu // CAST('${pow2(j)}' AS HUGEINT)) % 2 AS BIGINT)) AS BIGINT) AS s$j"
    }.mkString(",\n")
    val packTerms = (0 until 64).map { j =>
      s"   CASE WHEN 2 * s$j > n THEN CAST('${pow2(j)}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n   + ")
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |   CAST(octet_length(encode(text)) AS BIGINT) AS len
       |  FROM documents),
       | w AS (
       |  SELECT doc_id,
       |   ($terms) % 18446744073709551616 AS hu
       |  FROM d, unnest(generate_series(1, len - 3)) AS t(i)
       |  WHERE len >= 4),
       | g AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |$bitSums
       |  FROM w GROUP BY 1),
       | f AS (
       |  SELECT doc_id,
       |  ($packTerms) AS fu
       |  FROM g),
       | sgn AS (
       |  SELECT doc_id, fu,
       |   CAST(CASE WHEN fu >= 9223372036854775808
       |     THEN fu - 18446744073709551616 ELSE fu END AS BIGINT) AS simhash
       |  FROM f)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mm_embed_quantize", Some(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | x AS (
        |  SELECT vec_id, i AS pos, e[i] AS x
        |  FROM v, unnest(generate_series(1, len(e))) AS t(i)),
        | dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY pos),
        | qx AS (
        |  SELECT vec_id, pos, x,
        |   floor((x - mn) / (mx - mn) * 255 + 0.5) AS code,
        |   mn + floor((x - mn) / (mx - mn) * 255 + 0.5) * (mx - mn) / 255 AS deq
        |  FROM x JOIN dims USING (pos)),
        | agg AS (
        |  SELECT vec_id,
        |   list(code ORDER BY pos) AS codes,
        |   list(x - deq ORDER BY pos) AS err
        |  FROM qx GROUP BY vec_id)
        |SELECT vec_id,
        | CAST(codes[1] AS BIGINT) AS code0, CAST(codes[2] AS BIGINT) AS code1,
        | CAST(codes[3] AS BIGINT) AS code2, CAST(codes[4] AS BIGINT) AS code3,
        | md5(array_to_string(
        |   list_transform(codes, c -> CAST(CAST(c AS BIGINT) AS VARCHAR)), ','))
        |   AS codes_md5,
        | floor(list_inner_product(err, err) / 64 * 1000000 + 0.5) / 1000000
        |   AS recon_mse
        |FROM agg ORDER BY vec_id""".stripMargin),
      mmEmbedQuantize),

    QueryDef("mm_text_embed_join", Some(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT doc_id, lang, source,
        | CAST(len(e) AS BIGINT) AS dim,
        | floor(sqrt(list_inner_product(e, e)) * 1000000 + 0.5) / 1000000 AS l2_norm
        |FROM documents JOIN v ON doc_id = vec_id""".stripMargin), mmTextEmbedJoin),

    QueryDef("mm_binary_meta", Some(
      """SELECT doc_id,
        | octet_length(encode(text)) AS n_bytes,
        | lower(substr(hex(encode(text)), 1, 16)) AS prefix_hex
        |FROM documents ORDER BY doc_id""".stripMargin), mmBinaryMeta),

    QueryDef("mm_batch_schedule", Some(
      """WITH b AS (
        |  SELECT doc_id, lang, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        | o AS (
        |  SELECT lang, n_bytes,
        |   sum(n_bytes) OVER (PARTITION BY lang ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes AS off
        |  FROM b)
        |SELECT lang, CAST(floor(off / 65536) AS BIGINT) AS batch_id,
        | count(*) AS n_items, CAST(sum(n_bytes) AS BIGINT) AS batch_bytes
        |FROM o GROUP BY lang, batch_id ORDER BY lang, batch_id""".stripMargin),
      mmBatchSchedule),

    QueryDef("mm_embed_drift", Some(
      """WITH base AS (
        |  SELECT CAST(('0x' || substr(md5('dr:' || CAST(vec_id AS VARCHAR)),
        |    1, 8)) AS BIGINT) % 2 AS side,
        |   CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        | vals AS (
        |  SELECT side, t.i - 1 AS dim, e[t.i] AS x
        |  FROM base, generate_series(1, 64) AS t(i)),
        | rng AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM vals GROUP BY 1),
        | binned AS (
        |  SELECT v.side, v.dim,
        |   CAST(CASE WHEN r.hi > r.lo
        |     THEN least(15.0, floor((v.x - r.lo) / (r.hi - r.lo) * 16))
        |     ELSE 0.0 END AS BIGINT) AS bin
        |  FROM vals v JOIN rng r ON v.dim = r.dim),
        | cnt AS (
        |  SELECT dim, bin,
        |   CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM binned GROUP BY 1, 2),
        | tot AS (
        |  SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
        |   CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t_b
        |  FROM base),
        | d AS (
        |  SELECT dim,
        |   abs(CAST(floor(CAST(n_a + 1 AS DOUBLE) / CAST(t_a + 16 AS DOUBLE)
        |       * 1000000000.0 + 0.5) AS BIGINT)
        |     - CAST(floor(CAST(n_b + 1 AS DOUBLE) / CAST(t_b + 16 AS DOUBLE)
        |       * 1000000000.0 + 0.5) AS BIGINT)) AS d_q
        |  FROM cnt, tot)
        |SELECT CAST(dim AS BIGINT) AS dim,
        | CAST(sum(d_q) AS DOUBLE) / 1000000000.0 / 2.0 AS tv
        |FROM d GROUP BY dim ORDER BY tv DESC, dim""".stripMargin),
      mmEmbedDrift),

    QueryDef("mm_decode_stub", None, mmDecodeStub),
    QueryDef("mm_frame_sample", None, mmFrameSample),
    // Full oracles since round 12: the byte-4-gram rolling hashes
    // re-derive through the HUGEINT wrapping-mod-2^64 recipe
    // (Parity.wrappedPowers), the SimHashAgg vote is 64 exact-integer
    // bit sums (bit j set iff 2*count_set > n), and the fingerprint
    // re-signs from unsigned HUGEINT to Spark's Long.
    QueryDef("mm_simhash",
      Some(simhashFingerprintSql +
        "\nSELECT doc_id, simhash FROM sgn ORDER BY doc_id"),
      mmSimhash),
    QueryDef("mm_simhash_pairs",
      Some(simhashFingerprintSql + s"""
        |, blk AS (
        |  SELECT doc_id, simhash,
        |   CAST(t.b AS INT) AS block_idx,
        |   CAST((fu // (CASE t.b WHEN 0 THEN CAST(1 AS HUGEINT)
        |     WHEN 1 THEN 65536 WHEN 2 THEN 4294967296
        |     ELSE 281474976710656 END)) % 65536 AS BIGINT) AS block
        |  FROM sgn, generate_series(0, 3) AS t(b)),
        | p AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM blk a JOIN blk b
        |   ON a.block_idx = b.block_idx AND a.block = b.block
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM p
        |WHERE hamming <= 3
        |ORDER BY hamming, doc_a, doc_b""".stripMargin),
      mmSimhashPairs),
    // pHash near-dup pairs: the DCT is float ⇒ no_oracle by design
    // (the mm_simhash precedent: Spark-native hash bits, the shared
    // banding machinery is oracle-checked on mm_simhash_pairs and the
    // planted recovery contract lives in InvariantSpec).
    QueryDef("mm_phash_pairs", None, mmPhashPairs)
  )
}
