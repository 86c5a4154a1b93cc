package graft.codec

import java.util.Arrays

import org.scalatest.funsuite.AnyFunSuite

import graft.parity.RefSemantics
import graft.synth.SynthImages

/** The codec's per-frame kernels against the straight-line reference,
  * bit for bit: the area resize at integer and fractional ratios, and the
  * fused per-row pipeline against the composition of its own kernels. */
class ImageCodecSpec extends AnyFunSuite {

  private val Sizes = Seq(32, 28, 24, 20, 17)

  private def hwcToChw(src: Array[Array[Array[Float]]]): Array[Float] = {
    val h = src.length
    val w = src(0).length
    Array.tabulate(3 * h * w) { i => src(i % (h * w) / w)(i % w)(i / (h * w)) }
  }

  private def randomHwc(seed: Long, h: Int, w: Int): Array[Array[Array[Float]]] = {
    val r = new java.util.Random(seed)
    Array.fill(h, w, 3)(r.nextFloat())
  }

  test("resizeArea == RefSemantics.resize bit for bit, 64 -> 32/28/24/20/17 and a non-square source") {
    val square = randomHwc(7L, 64, 64)
    val cases = Sizes.map(o => (square, o, o)) :+ ((randomHwc(8L, 48, 64), 17, 20))
    cases.foreach { case (src, outH, outW) =>
      val h = src.length
      val w = src(0).length
      val got = ImageCodec.resizeArea(hwcToChw(src), h, w, outH, outW)
      val want = hwcToChw(RefSemantics.resize(src, outH, outW))
      assert(Arrays.equals(got, want), s"${h}x$w -> ${outH}x$outW differs")
    }
  }

  test("pipeline == featureHead . normalize . centerCrop . resizeArea . decode bit for bit (png and jpg)") {
    val frames = for (e <- 0 until 4; t <- Seq(0L, 7L, 63L, 150L) if SynthImages.framePresent(e, t, 256))
      yield (SynthImages.fmtOf(e, t), SynthImages.encode(e, t))
    assert(frames.map(_._1).toSet == Set("png", "jpg"), "fixture must hold both formats")
    for ((fmt, bytes) <- frames; r <- Sizes) {
      val crop = r * 7 / 8
      val img = ImageCodec.decodeImage(bytes)
      // the layout the fused raster resize reads: it, not the generic
      // fallback, is what this compares
      assert(img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR, s"$fmt decodes to type ${img.getType}")
      val (h, w) = (img.getHeight, img.getWidth)
      val want = ImageCodec.featureHead(
        ImageCodec.normalize(
          ImageCodec.centerCrop(ImageCodec.resizeArea(ImageCodec.decode(bytes), h, w, r, r), r, r, crop),
          crop * crop, ImageCodec.ImagenetMean, ImageCodec.ImagenetStd),
        crop)
      val got = ImageCodec.pipeline(bytes, r, crop)
      assert(Arrays.equals(got, want), s"$fmt resize $r crop $crop differs")
    }
  }
}
