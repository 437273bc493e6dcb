package graft.operators

import graft.SparkSpec
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO}

/** The REAL video tier: multi-frame animated-GIF decode through the
  * same batched mapPartitions plumbing as mm3's synthetic frame
  * sampler — fixtures encoded in-test through the JVM's own GIF
  * sequence writer, so the asserted frame counts, geometries, and mean
  * intensities are exact decoded-raster facts.
  */
class MultimodalVideoSpec extends SparkSpec {

  import Multimodal.{MediaRow, sampleVideoFrames}

  /** An animated GIF of solid-gray frames with the given values. */
  private def animatedGif(w: Int, h: Int, frameValues: Seq[Int]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameValues.foreach { v =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try { g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h) }
        finally g.dispose()
        writer.writeToSequence(new IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  private def media(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, b) => MediaRow(id, "video", b, b.length) }.toDS()
  }

  test("stride sampling over a real multi-frame GIF: exact frames and intensities") {
    // 6 frames of distinct solid grays; stride 2 keeps frames 0, 2, 4
    val values = Seq(10, 60, 110, 160, 210, 250)
    val gif = animatedGif(8, 6, values)
    val frames = sampleVideoFrames(media(1L -> gif), stride = 2, batchSize = 1)
      .collect().sortBy(_.frame_no)
    assert(frames.map(_.frame_no).toSeq === Seq(0, 2, 4))
    assert(frames.forall(f => f.width === 8 && f.height === 6))
    // a solid (v,v,v) frame's mean over resolved RGB is exactly v
    assert(frames.map(_.mean_intensity).toSeq === Seq(10.0, 110.0, 210.0))
  }

  test("stride 1 keeps every frame; per-doc frame counts are independent") {
    val gifA = animatedGif(4, 4, Seq(20, 40))
    val gifB = animatedGif(4, 4, Seq(30, 50, 70, 90))
    val byDoc = sampleVideoFrames(media(1L -> gifA, 2L -> gifB), stride = 1)
      .collect().groupBy(_.doc_id)
    assert(byDoc(1L).length === 2)
    assert(byDoc(2L).length === 4)
    assert(byDoc(2L).sortBy(_.frame_no).map(_.mean_intensity).toSeq ===
      Seq(30.0, 50.0, 70.0, 90.0))
  }

  test("a non-video payload fails loudly, not silently") {
    val e = intercept[Exception] {
      sampleVideoFrames(media(9L -> Array[Byte](1, 2, 3)), stride = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("no image reader")))
  }
}
