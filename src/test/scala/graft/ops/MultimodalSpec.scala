package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.Encoders

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (0L, "bmp doc"), (1L, "ppm doc"), (2L, "wav doc"), (3L, "bmp again")
  ).toDF("doc_id", "text")

  test("synthesizeMedia: payloads are real containers, format matches id%3") {
    val m = Multimodal.synthesizeMedia(docs, "doc_id").collect().sortBy(_.media_id)
    assert(m.map(_.format).toSeq == Seq("bmp", "ppm", "wav", "bmp"))
    // each payload decodes via magic bytes alone and agrees with the
    // synthesis formulas
    m.foreach { r =>
      val d = MediaCodecs.decode(r.payload)
      assert(d.format == r.format)
      if (d.format != "wav") {
        assert(d.width == Multimodal.synthWidth(r.media_id))
        assert(d.height == Multimodal.synthHeight(r.media_id))
      } else {
        assert(d.channels == Multimodal.synthChannels(r.media_id))
        assert(d.nFrames == Multimodal.synthFrames(r.media_id))
        assert(d.sampleRate == Multimodal.SynthSampleRate)
      }
    }
  }

  test("extractFeatures: decoded features match the closed forms") {
    val f = Multimodal.extractFeatures(docs, "doc_id").orderBy("media_id").collect()
    assert(f.length == 4)
    val bmp = f(0)
    val (w, h) = (Multimodal.synthWidth(0), Multimodal.synthHeight(0))
    assert(bmp.getAs[Int]("width") == w && bmp.getAs[Int]("height") == h)
    assert(bmp.getAs[Long]("n_bytes") == 54L + h * MediaCodecs.bmpRowSize(w))
    val expectedMean =
      (0L until 3L * w * h).map(k => ((k * 31 + 7 + 0) % 256).toDouble).sum / (3 * w * h)
    assert(math.abs(bmp.getAs[Double]("mean_val") - expectedMean) < 1e-12)
    val wav = f(2)
    assert(wav.getAs[Int]("sample_rate") == 8000)
    assert(wav.getAs[Long]("n_frames") == Multimodal.synthFrames(2))
    assert(wav.getAs[Double]("duration_sec") == Multimodal.synthFrames(2).toDouble / 8000)
    assert(wav.getAs[Int]("width") == 0 && wav.getAs[Int]("height") == 0)
  }

  test("resizeMedia: real nearest-neighbor resample, closed-form exact; audio passes through") {
    val tw = 4; val th = 3
    val out = Multimodal.resizeMedia(
      Multimodal.synthesizeMedia(docs, "doc_id"), tw, th)
      .collect().sortBy(_.media_id)
    // images (id % 3 <= 1) resized to PPM at target dims with every
    // byte equal to the nearest-neighbor map of the synth formula
    for (r <- out.filter(_.media_id % 3 <= 1)) {
      assert(r.resized && r.format == "ppm")
      val d = graft.ops.MediaCodecs.decode(r.payload)
      assert(d.width == tw && d.height == th)
      val (w, h) = (Multimodal.synthWidth(r.media_id),
        Multimodal.synthHeight(r.media_id))
      val expected = (0 until 3 * tw * th).map { k =>
        val c = k % 3; val x = (k / 3) % tw; val y = k / (3 * tw)
        val kk = ((y.toLong * h / th) * w + (x.toLong * w / tw)) * 3 + c
        ((kk * 31 + 7 + r.media_id) % 256).toDouble
      }
      assert(d.meanVal == expected.sum / expected.size)
    }
    // audio (id % 3 == 2): untouched bytes, resized = false
    for (r <- out.filter(_.media_id % 3 == 2)) {
      assert(!r.resized && r.format == "wav")
      assert(r.payload.toSeq ==
        Multimodal.synthesizePayload(r.media_id)._1.toSeq)
    }
    // a payload that SNIFFS as an image but has a corrupt header
    // must quarantine as unresized pass-through, not kill the stage
    val corrupt = "BMgarbage-not-a-real-header".getBytes("US-ASCII")
    val bad = Seq(Multimodal.MediaRow(99L, corrupt, "bmp")).toDS()
    val q = Multimodal.resizeMedia(bad, tw, th).collect().head
    assert(!q.resized && q.payload.toSeq == corrupt.toSeq)
  }
}
