package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads decoded and
  * feature-extracted per partition.
  *
  * The decode is REAL: [[MediaCodecs]] parses BMP/PPM/WAV containers
  * byte-for-byte (header walk, row padding, RIFF chunk list) — no
  * external codec libraries needed. The fixture tables carry no binary
  * media column, so [[synthesizeMedia]] builds deterministic payloads
  * whose container facts (dimensions, channels, frame counts, pixel/
  * sample byte streams) are closed-form functions of the document id —
  * which is exactly what lets q30's driver oracle pin every decoded
  * feature hash-exactly: the oracle recomputes the closed forms, and
  * they only match if the encoder AND decoder both honor the container
  * format (a decoder that e.g. averaged BMP padding bytes diverges).
  *
  * At scale the decode is a narrow per-partition pass — one iterator
  * at a time, no shuffle, no driver involvement.
  */
object Multimodal {

  /** Typed row for the decode stage: the payload is opaque; `format`
    * is caller metadata that the decoder deliberately ignores (magic
    * bytes win — see [[MediaCodecs.decode]]).
    */
  case class MediaRow(media_id: Long, payload: Array[Byte], format: String)

  /** Decoded container features per media item. Images: sample_rate=0,
    * n_frames=0, duration_sec=0, mean_val = mean pixel byte. Audio:
    * width=height=0, mean_val = mean signed sample.
    */
  case class MediaFeatures(
      media_id: Long, format: String, n_bytes: Long,
      width: Int, height: Int, channels: Int, sample_rate: Int,
      n_frames: Long, duration_sec: Double, mean_val: Double)

  /** Synthesis formulas — shared with the oracle SQL of EVERY media
    * query that states them as closed forms over doc_id: q30
    * (features), q118 (resample means), q119 (gate inputs). Change
    * these and all three oracle blocks in PipelineQueries.oracleSql
    * together.
    */
  def synthWidth(id: Long): Int = ((id % 8) * 3 + 5).toInt
  def synthHeight(id: Long): Int = ((id % 6) * 3 + 4).toInt
  def synthChannels(id: Long): Int = (1 + id % 2).toInt
  def synthFrames(id: Long): Long = (id % 40) * 5 + 40
  val SynthSampleRate = 8000

  /** One deterministic payload per id: id%3 picks the container.
    * Pixel byte k is (31k+7+id) mod 256; PCM sample k is
    * (37k+11+id) mod 2001 − 1000.
    */
  def synthesizePayload(id: Long): (Array[Byte], String) = (id % 3) match {
    case 0 =>
      (MediaCodecs.encodeBmp(synthWidth(id), synthHeight(id),
        k => ((k * 31 + 7 + id) % 256).toInt), "bmp")
    case 1 =>
      (MediaCodecs.encodePpm(synthWidth(id), synthHeight(id),
        k => ((k * 31 + 7 + id) % 256).toInt), "ppm")
    case _ =>
      (MediaCodecs.encodeWav(synthChannels(id), SynthSampleRate, synthFrames(id),
        k => ((k * 37 + 11 + id) % 2001 - 1000).toInt), "wav")
  }

  /** Documents → media rows with real encoded payloads. A typed map —
    * byte building is genuinely imperative — and a narrow one: payload
    * synthesis stands in for reading a binary column off parquet.
    */
  def synthesizeMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(col(idCol).cast("long")).as(Encoders.scalaLong).map { id =>
      val (payload, fmt) = synthesizePayload(id)
      MediaRow(id, payload, fmt)
    }
  }

  /** Documents → PNG media rows (JDK `javax.imageio` codec): the same
    * raster closed form ((31k+7+id) mod 256 at logical byte k, same
    * [[synthWidth]]/[[synthHeight]]) as the byte-parsed containers,
    * encoded through the real-world web-corpus format. PNG is
    * lossless, so q121's oracle replays the decoded features exactly —
    * the q30/q118 pattern extended to a container the engine does NOT
    * parse itself (the JDK's codec is the independent implementation
    * our logical raster convention is proven against).
    */
  def synthesizePngMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(col(idCol).cast("long")).as(Encoders.scalaLong).map { id =>
      MediaRow(id, MediaCodecs.encodePng(synthWidth(id), synthHeight(id),
        k => ((k * 31 + 7 + id) % 256).toInt), "png")
    }
  }

  /** Decode features for one payload via the real codec. */
  def decodeFeatures(id: Long, payload: Array[Byte]): MediaFeatures = {
    val d = MediaCodecs.decode(payload)
    MediaFeatures(id, d.format, payload.length.toLong,
      d.width, d.height, d.channels, d.sampleRate, d.nFrames,
      if (d.sampleRate > 0) d.nFrames.toDouble / d.sampleRate else 0.0,
      d.meanVal)
  }

  /** Row-iterator decode: one pass per partition, no per-row JVM/SQL
    * boundary crossings beyond the encoder's.
    */
  def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map(r => decodeFeatures(r.media_id, r.payload))

  /** Feature-extraction pipeline: documents → synthesized payloads →
    * per-partition codec decode → features DataFrame. Narrow end-to-end.
    */
  def extractFeatures(docs: DataFrame, idCol: String): DataFrame =
    synthesizeMedia(docs, idCol)
      .mapPartitions(decodeBatch _)(Encoders.product[MediaFeatures]).toDF()

  /** Per-media perceptual hash row: `phash` is the grid²-bit average
    * hash for images, null for audio (no raster to hash).
    */
  case class MediaHash(media_id: Long, format: String, phash: Option[Long])

  /** Documents → synthesized payloads → per-partition perceptual
    * hashing ([[MediaCodecs.aHashBits]]): the image-dedup feature
    * stage. Narrow end-to-end (no shuffle); format comes from magic
    * bytes, never caller metadata. grid 8 (64-bit) for real images;
    * the fixture rasters (w,h ≥ 4) force grid 4 in q76.
    */
  def perceptualHashes(docs: DataFrame, idCol: String,
      grid: Int = 8): DataFrame =
    synthesizeMedia(docs, idCol).mapPartitions { rows =>
      rows.map { r =>
        MediaHash(r.media_id,
          MediaCodecs.sniffFormat(r.payload).getOrElse("unknown"),
          MediaCodecs.aHashBits(r.payload, grid))
      }
    }(Encoders.product[MediaHash]).toDF()

  /** Per-media audio fingerprint row: `afp` is the nCells-bit energy
    * fingerprint for audio, null for images (no PCM stream).
    */
  case class AudioFp(media_id: Long, format: String, afp: Option[Long])

  /** Documents → synthesized payloads → per-partition audio
    * fingerprinting ([[MediaCodecs.audioFingerprintBits]]): the
    * audio-dedup feature stage, the WAV counterpart of
    * [[perceptualHashes]]. Narrow end-to-end; format from magic
    * bytes. 64 cells for real streams; the fixture streams (n ≥ 40)
    * force 32 in q77.
    */
  def audioFingerprints(docs: DataFrame, idCol: String,
      nCells: Int = 64): DataFrame =
    synthesizeMedia(docs, idCol).mapPartitions { rows =>
      rows.map { r =>
        AudioFp(r.media_id,
          MediaCodecs.sniffFormat(r.payload).getOrElse("unknown"),
          MediaCodecs.audioFingerprintBits(r.payload, nCells))
      }
    }(Encoders.product[AudioFp]).toDF()

  /** REAL resize stage (replaced the former metadata-only stub):
    * every IMAGE payload nearest-neighbor-resampled to `tw`×`th` and
    * re-encoded as binary PPM ([[MediaCodecs.resizeImage]] — pure
    * integer source mapping, oracle-replayable byte for byte); audio
    * and undecodable payloads pass through untouched with
    * `resized = false`. Same narrow per-partition shape as the decode
    * stage: no shuffle, no driver involvement.
    */
  def resizeMedia(media: Dataset[MediaRow], tw: Int, th: Int): Dataset[ResizedRow] = {
    // A bad TARGET size is a caller bug, not a corrupt payload: fail
    // the job up front rather than letting the per-row quarantine
    // catch silently turn the whole stage into a pass-through.
    require(tw > 0 && th > 0,
      s"resizeMedia: target size must be positive, got ${tw}x${th}")
    implicit val enc = Encoders.product[ResizedRow]
    media.mapPartitions(_.map { r =>
      // a payload that SNIFFS as an image but fails header/raster
      // validation (truncated, 32-bpp, corrupt dims) quarantines as
      // unresized pass-through — the documented contract; a corrupt
      // row must not kill the stage (resizeImage itself stays strict
      // for direct callers)
      val resized =
        try MediaCodecs.resizeImage(r.payload, tw, th)
        catch { case _: IllegalArgumentException => None }
      resized match {
        case Some(p) => ResizedRow(r.media_id, p, "ppm", resized = true)
        case None => ResizedRow(r.media_id, r.payload, r.format, resized = false)
      }
    })
  }

  /** Resize-stage output: resized images carry the re-encoded PPM
    * payload; pass-through rows keep their original bytes.
    */
  case class ResizedRow(media_id: Long, payload: Array[Byte],
      format: String, resized: Boolean)
}
