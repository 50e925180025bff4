package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing (north-star extension): media payloads
 * travel as opaque `binary` columns with typed metadata; decode /
 * feature-extract run per-partition so a real codec (absent from this
 * container — the decode below is a clearly-marked deterministic STUB)
 * drops in without touching the schema, partitioning, or batch shape.
 *
 * Scale notes: the typed `mapPartitions` boundary is where a JNI/native
 * decoder would amortize per-batch init; payloads never pass through the
 * driver; downstream columns are plain longs so Catalyst prunes the
 * (huge) binary column immediately after feature extraction.
 */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: every read/write
  // creates, fills and deletes a temp file under java.io.tmpdir — a
  // per-image filesystem round-trip that serializes concurrent decoders
  // on the tmpfs inode lock (profiled on l128: 32-way decode taskTime
  // 50-97 s vs 2.5 s single-threaded, wall WORSE than one core). The
  // payloads here are in-memory byte arrays bounded by the ingest
  // contract, so the memory-backed cache is strictly better at any
  // scale. Object-init runs once per executor JVM.
  javax.imageio.ImageIO.setUseCache(false)

  /** An opaque media payload + id — the ingest schema. */
  final case class MediaFile(doc_id: Long, payload: Array[Byte])

  /** Extracted metadata — all derivable arithmetic in the stub. */
  final case class MediaMeta(doc_id: Long, byte_len: Long, width: Long,
                             height: Long, n_frames: Long, n_sampled: Long)

  /**
   * STUB decode: a real implementation would parse container headers /
   * decode frames here. The stub derives deterministic pseudo-metadata
   * from the byte length only, so the Spark-side plumbing (schema,
   * encoders, partition-wise batching) is real and oracle-checkable.
   */
  def decodeStub(m: MediaFile): MediaMeta = {
    val bl = m.payload.length.toLong
    val frames = bl / 100 + 1
    MediaMeta(m.doc_id, bl,
      width = 64 + bl % 512,
      height = 64 + (bl * 31) % 512,
      n_frames = frames,
      n_sampled = (frames + 9) / 10)
  }

  /** Typed decode pipeline: binary-in, metadata-out, per-partition. */
  def extractMeta(files: Dataset[MediaFile]): Dataset[MediaMeta] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map(decodeStub))
  }

  /** The payload as an image, or null when ImageIO cannot read it.
    * NonFatal, not just IOException: the JDK codecs throw runtime
    * exceptions (ArrayIndexOutOfBounds, NegativeArraySize, …) on
    * truncated/crafted payloads, and those must also be data here. */
  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    catch { case scala.util.control.NonFatal(_) => null }

  /**
   * REAL image decode for the formats the JDK ships codecs for
   * (PNG/BMP/GIF/JPEG via `javax.imageio` — no native library needed):
   * parses the actual pixel dimensions. Payloads ImageIO cannot read
   * (video containers, raw text bytes) fall back to [[decodeStub]], so
   * the video path stays a clearly-marked stub while images are genuine.
   * Static images are one frame; decode failure is data, not an error —
   * a corrupt payload in a 100 TB corpus must not kill the stage.
   */
  def decodeImage(m: MediaFile): MediaMeta = {
    val img = readImage(m.payload)
    if (img == null) decodeStub(m)
    else MediaMeta(m.doc_id, m.payload.length.toLong,
      width = img.getWidth.toLong, height = img.getHeight.toLong,
      n_frames = 1L, n_sampled = 1L)
  }

  /** [[extractMeta]] with the real image decoder at the same
    * `mapPartitions` boundary — identical schema, partitioning, and batch
    * shape, so swapping decoders is invisible to the rest of the plan. */
  def extractMetaImages(files: Dataset[MediaFile]): Dataset[MediaMeta] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map(decodeImage))
  }

  /** Per-image perceptual hash row: `decoded` = false when ImageIO
    * cannot read the payload (dhash then 0 — such rows must be
    * FILTERED before near-dup pairing, never matched on the sentinel). */
  final case class ImageHash(doc_id: Long, decoded: Boolean, dhash: Long)

  /**
   * dHash — the 9×8 difference hash (the standard perceptual
   * image-dedup signature): grayscale the decoded pixels, area-average
   * them onto a 9-wide × 8-tall grid, and set bit (row·8 + col) when
   * the cell right of (row, col) is strictly brighter. 64 bits, robust
   * to rescaling/recompression, and ready for the SAME banded-Hamming
   * pair machinery the text path uses (l40's 64-bit geometry).
   *
   * Determinism contract (the fixture oracle depends on it): luma =
   * ⌊(299·R + 587·G + 114·B)/1000⌋ per pixel (integer), cell =
   * ⌊Σluma/n⌋ over the floor-partitioned pixel ranges
   * [c·w/9, (c+1)·w/9) × [r·h/8, (r+1)·h/8) — no float resampling, no
   * AWT `Graphics2D` scaling (whose interpolation is
   * implementation-dependent). Gray pixels (R=G=B=v) have luma exactly
   * v, so constructed fixtures are hand-derivable.
   */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val grid = Array.ofDim[Long](8, 9)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9
        val x1 = math.max(x0 + 1, (c + 1) * w / 9)
        val y0 = r * h / 8
        val y1 = math.max(y0 + 1, (r + 1) * h / 8)
        var sum = 0L
        var n = 0L
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            val rgb = img.getRGB(x, y)
            sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)) / 1000L
            n += 1
            x += 1
          }
          y += 1
        }
        grid(r)(c) = if (n == 0) 0L else sum / n
        c += 1
      }
      r += 1
    }
    var hash = 0L
    r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r)(c + 1) > grid(r)(c)) hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Per-partition dHash extraction at the same ImageIO boundary as
    * [[extractMetaImages]] — binary in, (id, decoded, hash) out; the
    * huge payload column prunes away immediately after. */
  def imageDHash(files: Dataset[MediaFile]): Dataset[ImageHash] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map { m =>
      val img = readImage(m.payload)
      if (img == null) ImageHash(m.doc_id, decoded = false, 0L)
      else ImageHash(m.doc_id, decoded = true, dHash64(img))
    })
  }

  /** One decode pass producing BOTH readouts (dimensions + perceptual
    * hash) — what a real curation pipeline extracts per image, without
    * decoding the payload twice. */
  final case class ImageProfile(doc_id: Long, width: Long, height: Long,
                                decoded: Boolean, dhash: Long)

  /** [[extractMetaImages]] ∘ [[imageDHash]] in a single ImageIO decode
    * per payload at the same `mapPartitions` boundary; undecodable
    * payloads report (0, 0, false, 0) — no stub arithmetic here, the
    * profile feeds dedup filters that must see an explicit miss. */
  def imageProfiles(files: Dataset[MediaFile]): Dataset[ImageProfile] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map { m =>
      val img = readImage(m.payload)
      if (img == null) ImageProfile(m.doc_id, 0L, 0L, decoded = false, 0L)
      else ImageProfile(m.doc_id, img.getWidth.toLong, img.getHeight.toLong,
        decoded = true, dHash64(img))
    })
  }

  /** Perceptual image near-dup pairs: dHash each decodable payload,
    * then banded Hamming ≤ `maxHamming` pairs via the l40 64-bit
    * machinery ([[Dedup.hammingPairs64]]) — pigeonhole-complete for
    * maxHamming ≤ 3, never all-pairs; undecodable payloads are
    * excluded (their sentinel hash must not collide into a bucket).
    * Output: (a_id, b_id, hamming). */
  def imageNearDups(files: Dataset[MediaFile], maxHamming: Int = 3,
                    maxBucketSize: Int = Int.MaxValue): DataFrame =
    Dedup.hammingPairs64(
      imageDHash(files).toDF().filter(col("decoded")),
      "doc_id", "dhash", maxHamming, maxBucketSize)

  /** Per-audio perceptual hash row ([[ImageHash]]'s audio twin). */
  final case class AudioHash(doc_id: Long, decoded: Boolean, ahash: Long)

  /**
   * Audio difference hash over 16-bit WAV PCM — [[dHash64]]'s audio
   * twin: walk the RIFF chunks to the `fmt `/`data` pair, take channel
   * 0's samples, area-average their ABSOLUTE amplitude onto 65
   * floor-partitioned windows (the amplitude-envelope downsample — the
   * part of a fingerprint that survives re-encoding and level-preserving
   * edits), and set bit w when window w+1 is strictly louder than
   * window w. 64 bits, integer arithmetic throughout (per-window mean
   * = ⌊Σ|s|/n⌋), so constructed fixtures have hand-derivable hashes
   * exactly as l78's ramps. Only canonical 16-bit PCM hashes
   * (`None` otherwise — compressed or exotic layouts belong to a real
   * codec at the same boundary); malformed payloads are data, never
   * errors.
   */
  def audioAHash64(b: Array[Byte]): Option[Long] = {
    try {
      if (b.length < 44 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WAVE")
        return None
      var off = 12
      var channels = -1L
      var bits = -1L
      var align = -1L
      var dataOff = -1
      var dataSize = -1L
      while (off + 8 <= b.length) {
        val id = fourcc(b, off)
        val sz = le32(b, off + 4)
        val payloadEnd = off + 8 + sz
        if (sz < 0 || payloadEnd > b.length) return None
        if (id == "fmt " && sz >= 16) {
          channels = le16(b, off + 8 + 2)
          align = le16(b, off + 8 + 12)
          bits = le16(b, off + 8 + 14)
        }
        if (id == "data") { dataOff = off + 8; dataSize = sz }
        off = (payloadEnd + (sz % 2)).toInt
      }
      if (bits != 16 || channels < 1 || align != 2 * channels ||
          dataOff < 0 || dataSize < align) return None
      val frames = (dataSize / align).toInt
      if (frames < 2) return None
      def sample(f: Int): Long = {
        val o = dataOff + f * align.toInt // channel 0 = first in the frame
        val v = ((b(o) & 0xff) | (b(o + 1) << 8)).toShort.toLong
        math.abs(v)
      }
      val win = new Array[Long](65)
      var w = 0
      while (w < 65) {
        val f0 = w * frames / 65
        val f1 = math.max(f0 + 1, (w + 1) * frames / 65)
        var sum = 0L
        var n = 0L
        var f = f0
        while (f < f1 && f < frames) { sum += sample(f); n += 1; f += 1 }
        win(w) = if (n == 0) 0L else sum / n
        w += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (win(i + 1) > win(i)) hash |= 1L << i
        i += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-partition audio-hash extraction at the media decode boundary
    * (binary in, (id, decoded, hash) out). */
  def audioDHash(files: Dataset[MediaFile]): Dataset[AudioHash] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map { m =>
      audioAHash64(m.payload) match {
        case Some(h) => AudioHash(m.doc_id, decoded = true, h)
        case None => AudioHash(m.doc_id, decoded = false, 0L)
      }
    })
  }

  /** Audio near-dup pairs: banded Hamming over the envelope hashes via
    * [[Dedup.hammingPairs64]] (pigeonhole-complete for maxHamming ≤ 3,
    * never all-pairs); undecodable payloads excluded. */
  def audioNearDups(files: Dataset[MediaFile], maxHamming: Int = 3,
                    maxBucketSize: Int = Int.MaxValue): DataFrame =
    Dedup.hammingPairs64(
      audioDHash(files).toDF().filter(col("decoded")),
      "doc_id", "ahash", maxHamming, maxBucketSize)

  /** Video metadata — real values for MP4 payloads, stub-derived for
    * everything else. Kept a separate case class from [[MediaMeta]] so
    * the declared metadata query's schema (and its oracle) is untouched. */
  final case class VideoMeta(doc_id: Long, byte_len: Long, width: Long,
                             height: Long, n_frames: Long, duration_ms: Long,
                             container: String)

  /** Big-endian readers over the payload, bounds-unchecked (callers
    * bound-check before reading). */
  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
    ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)
  private def boxType(b: Array[Byte], off: Int): String =
    new String(b, off + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** All child boxes of `[start, end)` with type `typ`, as payload
    * (start, end) offsets. ISO BMFF box = [size:4][type:4][payload];
    * size 1 = 64-bit largesize follows, size 0 = to end of enclosure.
    * Malformed sizes terminate the walk instead of throwing — a crafted
    * payload in a 100 TB corpus must not kill the stage. */
  private def childBoxes(b: Array[Byte], start: Int, end: Int, typ: String): List[(Int, Int)] = {
    var off = start
    val out = List.newBuilder[(Int, Int)]
    while (off + 8 <= end) {
      val size32 = be32(b, off)
      val (payloadStart, boxEnd) =
        if (size32 == 1L && off + 16 <= end) {
          val ls = be64(b, off + 8)
          (off + 16, if (ls < 16 || ls > end - off) end + 1 else off + ls.toInt)
        }
        else if (size32 == 0L) (off + 8, end)
        else (off + 8, if (size32 < 8 || size32 > end - off) end + 1 else off + size32.toInt)
      if (boxEnd > end) off = end // malformed: stop
      else {
        if (boxType(b, off) == typ) out += ((payloadStart, boxEnd))
        off = boxEnd
      }
    }
    out.result()
  }
  private def firstBox(b: Array[Byte], start: Int, end: Int, path: String*): Option[(Int, Int)] =
    path.foldLeft(Option((start, end))) { (acc, typ) =>
      acc.flatMap { case (s, e) => childBoxes(b, s, e, typ).headOption }
    }

  /**
   * REAL MP4 (ISO BMFF) container metadata — no codec needed, the
   * header boxes carry it: duration from `moov/mvhd`
   * (duration ÷ timescale), display dimensions from the video track's
   * `tkhd` (16.16 fixed point; the video track is the one with nonzero
   * dimensions), frame count from that track's
   * `mdia/minf/stbl/stsz` sample count. Returns None for payloads that
   * are not ISO BMFF or carry no video track — [[decodeVideo]] then
   * falls back to the stub, exactly as [[decodeImage]] does for
   * non-image bytes. (AVI and MKV/WebM have their own parsers,
   * [[parseAviMeta]] and [[parseMkvMeta]]; anything else takes the stub
   * fallback, tagged by the `container` column.)
   */
  def parseMp4Meta(m: MediaFile): Option[VideoMeta] = {
    val b = m.payload
    try {
      firstBox(b, 0, b.length, "moov").flatMap { case (ms, me) =>
        val durationMs = firstBox(b, ms, me, "mvhd").flatMap { case (ps, pe) =>
          val v = if (pe > ps) b(ps).toInt else -1
          // v0: ver/flags 4, created 4, modified 4, timescale 4, duration 4
          // v1: ver/flags 4, created 8, modified 8, timescale 4, duration 8
          if (v == 0 && ps + 20 <= pe) {
            val ts = be32(b, ps + 12)
            if (ts > 0) Some(be32(b, ps + 16) * 1000L / ts) else None
          } else if (v == 1 && ps + 32 <= pe) {
            val ts = be32(b, ps + 20)
            if (ts > 0) Some(be64(b, ps + 24) * 1000L / ts) else None
          } else None
        }
        val video = childBoxes(b, ms, me, "trak").flatMap { case (ts, te) =>
          firstBox(b, ts, te, "tkhd").flatMap { case (ps, pe) =>
            val v = if (pe > ps) b(ps).toInt else -1
            // width/height close the box: 36-byte matrix precedes them;
            // v1's three 64-bit times shift everything by 12
            val wOff = if (v == 1) ps + 88 else ps + 76
            if (v >= 0 && wOff + 8 <= pe) {
              val w = be32(b, wOff) >> 16 // 16.16 fixed point
              val h = be32(b, wOff + 4) >> 16
              if (w > 0 && h > 0) {
                val frames = firstBox(b, ts, te, "mdia", "minf", "stbl", "stsz")
                  .collect { case (ss, se) if ss + 12 <= se => be32(b, ss + 8) }
                Some((w, h, frames.getOrElse(0L)))
              } else None
            } else None
          }
        }.headOption
        video.map { case (w, h, frames) =>
          VideoMeta(m.doc_id, b.length.toLong, w, h,
            n_frames = math.max(frames, 1L),
            duration_ms = durationMs.getOrElse(0L), container = "mp4")
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Little-endian readers for RIFF containers. */
  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
    ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /**
   * REAL AVI (RIFF) container metadata: the `avih` main header carries
   * everything — µs/frame (offset 0), total frames (16), width (32),
   * height (36). The chunk walk mirrors [[parseMp4Meta]]'s box walk
   * (RIFF chunk = [fourcc][size:4 LE][payload], LIST chunks nest with a
   * 4-byte list type first); malformed sizes end the walk. Returns None
   * for non-AVI payloads.
   */
  def parseAviMeta(m: MediaFile): Option[VideoMeta] = {
    val b = m.payload
    try {
      if (b.length < 12 ||
          new String(b, 0, 4, java.nio.charset.StandardCharsets.ISO_8859_1) != "RIFF" ||
          new String(b, 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1) != "AVI ")
        return None
      // find the avih chunk: walk top-level chunks from offset 12,
      // descending into LIST chunks (list type occupies payload[0..4))
      def findAvih(start: Int, end: Int, depth: Int): Option[Int] = {
        var off = start
        while (off + 8 <= end && depth < 8) {
          val fourcc = new String(b, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
          val size = le32(b, off + 4)
          if (size < 0 || size > end - off - 8) return None // malformed: stop
          val payloadStart = off + 8
          if (fourcc == "avih") return Some(payloadStart)
          if (fourcc == "LIST") {
            val hit = findAvih(payloadStart + 4, payloadStart + size.toInt, depth + 1)
            if (hit.isDefined) return hit
          }
          off = payloadStart + size.toInt + (size.toInt & 1) // chunks pad to even
        }
        None
      }
      findAvih(12, b.length, 0).flatMap { ps =>
        if (ps + 40 > b.length) None
        else {
          val usPerFrame = le32(b, ps)
          val frames = le32(b, ps + 16)
          val w = le32(b, ps + 32)
          val h = le32(b, ps + 36)
          if (w > 0 && h > 0)
            Some(VideoMeta(m.doc_id, b.length.toLong, w, h,
              n_frames = math.max(frames, 1L),
              duration_ms = frames * usPerFrame / 1000L, container = "avi"))
          else None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** EBML varint at `off`: length from the first byte's leading zeros
    * (1–8 bytes). Returns (value, lengthInBytes); `keepMarker` keeps the
    * marker bit (element IDs conventionally include it, sizes strip it).
    * Returns None on truncation or a zero first byte (invalid). */
  private def ebmlVint(b: Array[Byte], off: Int, keepMarker: Boolean): Option[(Long, Int)] = {
    if (off >= b.length) return None
    val b0 = b(off) & 0xff
    if (b0 == 0) return None
    val len = Integer.numberOfLeadingZeros(b0) - 23 // 1 for 0x80, 8 for 0x01
    if (off + len > b.length) return None
    var v = (if (keepMarker) b0 else b0 & (0xff >> len)).toLong
    (1 until len).foreach(i => v = (v << 8) | (b(off + i) & 0xffL))
    Some((v, len))
  }

  /** All child EBML elements of `[start, end)` with the given id, as
    * payload (start, end) offsets. An all-ones size means "to end of
    * enclosure" (EBML unknown-size, as MP4's size 0); malformed sizes
    * end the walk. */
  private def ebmlChildren(b: Array[Byte], start: Int, end: Int, id: Long): List[(Int, Int)] = {
    var off = start
    val out = List.newBuilder[(Int, Int)]
    var ok = true
    while (ok && off < end) {
      (for {
        (elId, idLen) <- ebmlVint(b, off, keepMarker = true)
        (size, szLen) <- ebmlVint(b, off + idLen, keepMarker = false)
      } yield (elId, idLen, size, szLen)) match {
        case Some((elId, idLen, size, szLen)) =>
          val ps = off + idLen + szLen
          val unknown = size == (1L << (7 * szLen)) - 1
          val pe = if (unknown) end else ps + size.toInt
          if (!unknown && (size < 0 || size > end - ps)) ok = false
          else {
            if (elId == id) out += ((ps, pe))
            off = pe
          }
        case None => ok = false
      }
    }
    out.result()
  }

  /** Bounded Cluster scan for the MKV frame count: Matroska carries no
    * frame count in its headers, but each frame is one SimpleBlock (or a
    * BlockGroup wrapping a Block) inside a Cluster — counting those
    * element HEADERS (the size fields let the walk skip every payload
    * byte) recovers it without decoding anything. `budget` caps the
    * total Cluster payload bytes the walk may traverse; a file whose
    * clusters exceed it returns None and the caller reports the honest
    * "unknown" (n_frames = 1) rather than an undercount. Lacing (several
    * frames packed in one block) is not unpacked — this counts blocks,
    * the same figure `mkvinfo` reports per cluster. */
  private def mkvFrameCount(b: Array[Byte], segStart: Int, segEnd: Int,
                            budget: Int): Option[Long] = {
    var walked = 0L
    var count = 0L
    val clusters = ebmlChildren(b, segStart, segEnd, 0x1F43B675L)
    val it = clusters.iterator
    while (it.hasNext) {
      val (cs, ce) = it.next()
      walked += (ce - cs).toLong
      if (walked > budget) return None
      // one level down: count SimpleBlock (0xA3) / BlockGroup (0xA0)
      var off = cs
      var ok = true
      while (ok && off < ce) {
        (for {
          (elId, idLen) <- ebmlVint(b, off, keepMarker = true)
          (size, szLen) <- ebmlVint(b, off + idLen, keepMarker = false)
        } yield (elId, idLen, size, szLen)) match {
          case Some((elId, idLen, size, szLen)) =>
            val ps = off + idLen + szLen
            val unknown = size == (1L << (7 * szLen)) - 1
            val pe = if (unknown) ce else ps + size.toInt
            if (!unknown && (size < 0 || size > ce - ps)) ok = false
            else {
              if (elId == 0xA3L || elId == 0xA0L) count += 1
              off = pe
            }
          case None => ok = false
        }
      }
    }
    Some(count)
  }

  private def ebmlUint(b: Array[Byte], ps: Int, pe: Int): Long =
    (ps until math.min(pe, ps + 8)).foldLeft(0L)((v, i) => (v << 8) | (b(i) & 0xffL))

  private def ebmlFloat(b: Array[Byte], ps: Int, pe: Int): Double = (pe - ps) match {
    case 4 => java.lang.Float.intBitsToFloat(ebmlUint(b, ps, pe).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(ebmlUint(b, ps, pe))
    case _ => 0.0
  }

  /**
   * REAL MKV/WebM (EBML) container metadata: duration from
   * `Segment/Info` (Duration ticks × TimestampScale ns, default scale
   * 1 ms/tick), dimensions from the first video `TrackEntry`'s
   * `Video/PixelWidth+PixelHeight`. The EBML walk mirrors the MP4 box
   * walk (unknown-size elements run to the enclosure end, malformed
   * sizes end the walk). Matroska headers carry NO frame count — it is
   * recovered by [[mkvFrameCount]]'s bounded Cluster scan (block
   * headers only, never payload bytes); when the scan's byte budget is
   * exceeded, or the file carries no Clusters at all (header-only
   * payloads), `n_frames` falls back to 1: honestly unknown beats an
   * undercount. Returns None for non-EBML payloads or ones without a
   * video track.
   */
  def parseMkvMeta(m: MediaFile): Option[VideoMeta] = {
    val b = m.payload
    try {
      if (ebmlChildren(b, 0, b.length, 0x1A45DFA3L).isEmpty) return None
      ebmlChildren(b, 0, b.length, 0x18538067L).headOption.flatMap { case (ss, se) =>
        val durationMs = ebmlChildren(b, ss, se, 0x1549A966L).headOption.map { case (is, ie) =>
          val scaleNs = ebmlChildren(b, is, ie, 0x2AD7B1L).headOption
            .map { case (ps, pe) => ebmlUint(b, ps, pe) }.getOrElse(1000000L)
          val ticks = ebmlChildren(b, is, ie, 0x4489L).headOption
            .map { case (ps, pe) => ebmlFloat(b, ps, pe) }.getOrElse(0.0)
          (ticks * scaleNs / 1e6).toLong
        }.getOrElse(0L)
        val video = ebmlChildren(b, ss, se, 0x1654AE6BL).flatMap { case (ts, te) =>
          ebmlChildren(b, ts, te, 0xAEL).flatMap { case (es, ee) =>
            ebmlChildren(b, es, ee, 0xE0L).map { case (vs, ve) =>
              val w = ebmlChildren(b, vs, ve, 0xB0L).headOption
                .map { case (ps, pe) => ebmlUint(b, ps, pe) }.getOrElse(0L)
              val h = ebmlChildren(b, vs, ve, 0xBAL).headOption
                .map { case (ps, pe) => ebmlUint(b, ps, pe) }.getOrElse(0L)
              (w, h)
            }
          }
        }.find { case (w, h) => w > 0 && h > 0 }
        video.map { case (w, h) =>
          val frames = mkvFrameCount(b, ss, se, budget = 8 << 20).getOrElse(0L)
          VideoMeta(m.doc_id, b.length.toLong, w, h,
            n_frames = math.max(frames, 1L),
            duration_ms = durationMs, container = "mkv")
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Video decode with the same fallback contract as [[decodeImage]]:
    * real MP4 (ISO BMFF), AVI (RIFF), or MKV/WebM (EBML) header parse,
    * deterministic stub otherwise (tagged `container = "stub"`; stub
    * duration assumes the stub's 25 fps make-believe). */
  def decodeVideo(m: MediaFile): VideoMeta =
    parseMp4Meta(m).orElse(parseAviMeta(m)).orElse(parseMkvMeta(m)).getOrElse {
      val s = decodeStub(m)
      VideoMeta(s.doc_id, s.byte_len, s.width, s.height, s.n_frames,
        duration_ms = s.n_frames * 40L, container = "stub")
    }

  /** [[extractMeta]]'s video twin at the same `mapPartitions` boundary:
    * identical partitioning and batch shape, binary never touches the
    * driver. */
  def extractMetaVideo(files: Dataset[MediaFile]): Dataset[VideoMeta] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map(decodeVideo))
  }

  // ---------------------------------------------------------------- audio

  /** Audio container metadata. `bits_per_sample` is 0 for lossy formats
    * (no fixed PCM width exists); `container` tags the decode path
    * ("wav"/"flac"/"mp3"/"stub"). */
  final case class AudioMeta(doc_id: Long, byte_len: Long, n_channels: Long,
                             sample_rate: Long, bits_per_sample: Long,
                             n_samples: Long, duration_ms: Long,
                             container: String)

  private def le16(b: Array[Byte], off: Int): Long =
    ((b(off + 1) & 0xffL) << 8) | (b(off) & 0xffL)
  /** 4 ASCII bytes AT `off` (RIFF/FLAC magic convention — unlike
    * [[boxType]], which reads the type AFTER an ISO BMFF size field). */
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** WAV (RIFF/WAVE, the raw-PCM interchange format): walk the chunk
    * list for `fmt ` (channels, sample rate, bits, block align) and
    * `data` (payload size → sample count). Header walk only — PCM bytes
    * are never read. */
  def parseWavMeta(m: MediaFile): Option[AudioMeta] = {
    val b = m.payload
    try {
      if (b.length < 44 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WAVE")
        return None
      var off = 12
      var fmt: Option[(Long, Long, Long, Long)] = None // ch, rate, bits, align
      var dataSize = -1L
      while (off + 8 <= b.length) {
        val id = fourcc(b, off)
        val sz = le32(b, off + 4)
        val payloadEnd = off + 8 + sz
        if (sz < 0 || payloadEnd > b.length) return buildWav(m, fmt, dataSize)
        if (id == "fmt " && sz >= 16)
          fmt = Some((le16(b, off + 8 + 2), le32(b, off + 8 + 4),
            le16(b, off + 8 + 14), le16(b, off + 8 + 12)))
        if (id == "data") dataSize = sz
        off = (payloadEnd + (sz % 2)).toInt // chunks pad to even
      }
      buildWav(m, fmt, dataSize)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def buildWav(m: MediaFile, fmt: Option[(Long, Long, Long, Long)],
                       dataSize: Long): Option[AudioMeta] =
    fmt.collect { case (ch, rate, bits, align)
        if ch > 0 && rate > 0 && align > 0 && dataSize >= 0 =>
      val n = dataSize / align
      AudioMeta(m.doc_id, m.payload.length.toLong, ch, rate, bits, n,
        n * 1000L / rate, "wav")
    }

  /** FLAC: the mandatory first STREAMINFO metadata block (34 bytes after
    * the 4-byte `fLaC` magic and 4-byte block header) carries sample
    * rate (20 bits), channels−1 (3), bits-per-sample−1 (5), and total
    * samples (36) in one big-endian packed field. */
  def parseFlacMeta(m: MediaFile): Option[AudioMeta] = {
    val b = m.payload
    try {
      if (b.length < 8 + 34 || fourcc(b, 0) != "fLaC") return None
      val blockType = b(4) & 0x7f
      val blockLen = ((b(5) & 0xffL) << 16) | ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
      if (blockType != 0 || blockLen < 34) return None
      val packed = be64(b, 8 + 10) // skip block/frame-size fields
      val rate = (packed >>> 44) & 0xfffffL
      val ch = ((packed >>> 41) & 0x7L) + 1
      val bits = ((packed >>> 36) & 0x1fL) + 1
      val n = packed & 0xfffffffffL
      if (rate == 0) None
      else Some(AudioMeta(m.doc_id, b.length.toLong, ch, rate, bits, n,
        n * 1000L / rate, "flac"))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private val Mp3Bitrates = // MPEG-1 Layer III, kbit/s (0 = free, 15 = bad)
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3Rates = Array(44100L, 48000L, 32000L, 0L)

  /** MP3 (MPEG-1 Layer III): locate the first frame sync in the leading
    * 4 KiB (skipping any ID3v2 prefix byte-by-byte) and read channel
    * mode, sample rate, and bitrate from its 4-byte header. Duration is
    * the CBR estimate bytes·8/bitrate — exact for constant-bitrate
    * files, approximate for VBR (an exact count needs a full frame walk);
    * `n_samples` derives from that estimate. `bits_per_sample` = 0:
    * lossy audio has no PCM width. */
  def parseMp3Meta(m: MediaFile): Option[AudioMeta] = {
    val b = m.payload
    try {
      val limit = math.min(b.length - 4, 4096)
      var off = 0
      while (off < limit) {
        if ((b(off) & 0xff) == 0xff && (b(off + 1) & 0xfe) == 0xfa) {
          // sync + MPEG-1 (bits 19-20 = 11) + Layer III (bits 17-18 = 01)
          val kbps = Mp3Bitrates((b(off + 2) & 0xf0) >> 4)
          val rate = Mp3Rates((b(off + 2) & 0x0c) >> 2)
          val ch = if (((b(off + 3) & 0xc0) >> 6) == 3) 1L else 2L
          if (kbps > 0 && rate > 0) {
            val durMs = b.length.toLong * 8 / kbps
            return Some(AudioMeta(m.doc_id, b.length.toLong, ch, rate, 0L,
              durMs * rate / 1000L, durMs, "mp3"))
          }
          return None
        }
        off += 1
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Audio decode with the [[decodeVideo]] fallback contract: real
    * WAV/FLAC/MP3 header parse, deterministic stub otherwise (tagged
    * `container = "stub"`; the stub pretends one 16-bit mono sample per
    * payload byte at a byte-length-derived rate). */
  def decodeAudio(m: MediaFile): AudioMeta =
    parseWavMeta(m).orElse(parseFlacMeta(m)).orElse(parseMp3Meta(m)).getOrElse {
      val bl = m.payload.length.toLong
      val rate = 8000L + (bl * 7) % 40000L
      AudioMeta(m.doc_id, bl, 1L + bl % 2, rate, 16L, bl,
        bl * 1000L / rate, "stub")
    }

  /** [[extractMeta]]'s audio twin at the same `mapPartitions` boundary. */
  def extractMetaAudio(files: Dataset[MediaFile]): Dataset[AudioMeta] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map(decodeAudio))
  }

  /** Demo source: treat document text bytes as the media payload. */
  def filesFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaFile] = {
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaFile]
  }

  /** One sampled frame reference (media id, frame index). */
  final case class FrameRef(doc_id: Long, frame_idx: Long)

  /** A decoded-and-resized frame. `container` carries [[decodeVideo]]'s
    * provenance tag ("mp4"/"avi"/"mkv"/"stub") so a consumer can tell a
    * true-aspect resize from a stub-derived one; the PIXEL payload is the
    * one remaining stub (first 16 bytes stand in for the buffer a real
    * codec would emit — this container ships no video codec). */
  final case class ResizedFrame(doc_id: Long, frame_idx: Long,
                                width: Long, height: Long, container: String,
                                payload: Array[Byte])

  /**
   * Frame sampling: every `every`-th frame per media item, 1→N via the
   * declarative `explode(sequence(...))` — stays in the relational plan
   * (codegen, no UDF) because frame *selection* is pure arithmetic; only
   * decode needs imperative code.
   */
  def sampleFrames(metas: Dataset[MediaMeta], every: Int): Dataset[FrameRef] = {
    import metas.sparkSession.implicits._
    metas.toDF()
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(every.toLong))).as("frame_idx"))
      .as[FrameRef]
  }

  /**
   * Frame resize: joins the sampled frames back to the payloads and
   * derives output dimensions per partition. Dimensions come from the
   * REAL container parse ([[decodeVideo]] — MP4/AVI/MKV header walk)
   * whenever the payload parses, so a frame sampled from a real MP4 is
   * scaled to its true aspect; unparseable payloads use the stub's
   * pseudo-dimensions, and the `container` tag on every output row says
   * which happened. Only the PIXEL step is still a stub (payload = first
   * 16 bytes — no codec in this container); the join is the real
   * plumbing: frame refs shuffle to the payload's partitioning, and a
   * native decoder drops into `mapPartitions` unchanged.
   */
  def resizeFrames(files: Dataset[MediaFile], frames: Dataset[FrameRef],
                   maxW: Long, maxH: Long): Dataset[ResizedFrame] = {
    import files.sparkSession.implicits._
    files.joinWith(frames, files("doc_id") === frames("doc_id"))
      .mapPartitions(_.map { case (f, fr) =>
        val meta = decodeVideo(f)
        val scale = math.min(maxW.toDouble / meta.width, maxH.toDouble / meta.height)
        ResizedFrame(f.doc_id, fr.frame_idx,
          math.max(1, (meta.width * scale).toLong),
          math.max(1, (meta.height * scale).toLong),
          meta.container,
          f.payload.take(16))
      })
  }

  // ------------------------------------------------------------------ pdf

  /** PDF document metadata (ISO 32000 — the other big training-data
    * container next to WARC): `version` from the `%PDF-x.y` header,
    * `n_pages` = the largest `/Count` of any `/Type /Pages` dictionary
    * (the root page-tree node carries the document total; 0 when no
    * page tree is visible), `encrypted` = `/Encrypt` appears inside
    * the LAST `trailer` keyword's balanced `<< … >>` dictionary OR
    * inside a `/Type /XRef` cross-reference-stream dictionary (the
    * PDF 1.5+ form, whose dict is plaintext even in compressed
    * files) — both dict-bounded, so a content stream or post-trailer
    * appendix merely mentioning the token does not flag, `has_eof` =
    * `%%EOF` appears
    * in the final 1 KiB (the ISO end-of-file marker — absent on
    * truncated downloads). `container` tags the decode path
    * ("pdf"/"stub").
    *
    * PDF 1.5+ compressed layouts resolve too: the object walk expands
    * `/Type /ObjStm` object streams (ISO 32000 §7.5.7), so page trees
    * packed into compressed object streams still yield their `/Count`,
    * and `/Encrypt` inside an ObjStm-carried trailer-equivalent dict is
    * seen by the per-dict check. Encryption and EOF integrity (the
    * curation gates) are detected in every layout. */
  final case class PdfMeta(doc_id: Long, byte_len: Long, version: String,
                           n_pages: Long, encrypted: Boolean,
                           has_eof: Boolean, container: String)

  private val PdfHeader = "^%PDF-([0-9]+\\.[0-9]+)".r
  private val PdfPagesCount =
    ("(?s)/Type\\s*/Pages[^>]*?/Count\\s+([0-9]+)|" +
      "/Count\\s+([0-9]+)[^>]*?/Type\\s*/Pages").r
  private val PdfXrefEncrypt =
    ("(?s)/Type\\s*/XRef[^>]*?/Encrypt|" +
      "/Encrypt[^>]*?/Type\\s*/XRef").r

  /** Header/trailer walk over the byte string decoded ISO-8859-1 (byte-
    * preserving — stream payloads pass through untouched). Never parses
    * object streams: like the WAV/FLAC walks, this reads STRUCTURE, not
    * content — the encryption checks are bounded to the trailer dict
    * and to per-object dictionaries (PdfText's /Length-bounded object
    * walk), so stream CONTENTS carrying the tokens never flag. Corrupt
    * structure degrades, never throws (the decode contract): an absurd
    * digit run clamps at 18 digits — still far past any real page
    * count — instead of overflowing the parse. */
  def parsePdfMeta(m: MediaFile): Option[PdfMeta] = {
    val s = new String(m.payload, java.nio.charset.StandardCharsets.ISO_8859_1)
    PdfHeader.findFirstMatchIn(s).map { h =>
      // one dict-only object walk serves BOTH the page count and the
      // XRef-encryption check — /Count is read per page-tree DICT, not
      // over the whole byte string, so a content stream whose text
      // mentions a page-tree dictionary (an l121-wrapped document
      // discussing PDF internals) cannot inflate n_pages
      val objDicts =
        PdfText.parseObjects(s, withStreams = false).valuesIterator
          .map(_.dict).toVector
      val pages = objDicts.iterator.flatMap(PdfPagesCount.findAllMatchIn)
        .map { mm =>
          Option(mm.group(1)).getOrElse(mm.group(2)).take(18).toLong
        }.foldLeft(0L)(math.max)
      val tail = s.substring(math.max(0, s.length - 1024))
      // /Encrypt counts only INSIDE the last trailer's balanced
      // << … >> dictionary — content appended after the final trailer
      // (incremental updates) or a stream carrying the word 'trailer'
      // must not false-positive; the /Type /XRef form is already
      // dict-bounded by its regex.
      val lastTrailer = s.lastIndexOf("trailer")
      val trailerEnc = lastTrailer >= 0 && {
        val dictStart = s.indexOf("<<", lastTrailer)
        dictStart >= 0 && {
          val (dict, _) = PdfText.balancedDict(s, dictStart)
          dict.contains("/Encrypt")
        }
      }
      // the /Type /XRef form is tested per OBJECT DICTIONARY (the
      // object walk excludes stream payloads by /Length), so a content
      // stream CARRYING the token sequence — e.g. a document whose
      // text discusses PDF internals, wrapped by l121's synthetic
      // round trip — cannot flag encryption either; the regex scan is
      // gated on a cheap substring test since virtually no document
      // carries the token at all
      val enc = trailerEnc || (s.contains("/Encrypt") &&
        objDicts.exists(d => PdfXrefEncrypt.findFirstIn(d).isDefined))
      PdfMeta(m.doc_id, m.payload.length.toLong, h.group(1), pages,
        encrypted = enc,
        has_eof = tail.contains("%%EOF"), container = "pdf")
    }
  }

  /** PDF decode with the same deterministic stub fallback discipline as
    * [[decodeAudio]]: a payload without the `%PDF-` magic reports
    * byte-length-derived pseudo-metadata tagged "stub" (malformed input
    * is DATA, never an exception — at crawl scale some of everything is
    * corrupt). */
  def decodePdf(m: MediaFile): PdfMeta =
    parsePdfMeta(m).getOrElse {
      val bl = m.payload.length.toLong
      PdfMeta(m.doc_id, bl, "", 1L + bl % 9L,
        encrypted = false, has_eof = false, container = "stub")
    }

  /** [[extractMeta]]'s PDF twin at the same `mapPartitions` boundary. */
  def extractMetaPdf(files: Dataset[MediaFile]): Dataset[PdfMeta] = {
    import files.sparkSession.implicits._
    files.mapPartitions(_.map(decodePdf))
  }
}
