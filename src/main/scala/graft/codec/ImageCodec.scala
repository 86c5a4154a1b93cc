package graft.codec

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Image decode → resize → center-crop → normalize → feature, fused.
  *
  * Spark-native re-expression of the reference's per-frame transform chain
  * `T.Resize ∘ CenterCrop ∘ ToTensor ∘ Normalize` +  backbone inference
  * (`frame_features/extract_features.py:92-98`,
  * `frame_features/generate_frame_features.py:88-93`,
  * `segment_features/multimodal_segment_feature_extractor.py:25-35`). The
  * whole chain is ONE Scala UDF so each row is decoded and traversed once —
  * the reference's `T.Compose` fusion — and no intermediate pixel array ever
  * crosses an operator boundary (at 10^12 rows a materialized float CHW
  * tensor per row would dominate shuffle volume).
  *
  * Decoder: `javax.imageio` (jpg/png) — the only codec in a zero-egress JVM.
  * Resize: area-box resample (each destination pixel = mean of the source
  * box it covers) — ONE documented resize used identically on the engine and
  * the parity oracle (`graft.parity.RefSemantics`), per SURVEY.md §7.5.2.
  * Model inference is out of engine scope (SURVEY.md §2.9): the deterministic
  * feature head is per-channel 4×4 block means + per-channel mean/std — 54
  * floats — so parity is checkable without torch while the dataflow around
  * it (decode, window, join) is real.
  *
  * All functions are deterministic and null-safe (bad bytes → null, the
  * engine's row-level fault tolerance; mirrors the reference's per-frame
  * try/except at `generate_frame_features.py:123-124`).
  */
object ImageCodec {

  // ImageIO defaults to a DISK-backed stream cache: every decode creates and
  // deletes a temp file, which serializes 32 decode threads on the
  // filesystem (observed: local[32] slower than local[8]). Memory-cached
  // streams restore linear scaling.
  ImageIO.setUseCache(false)

  /** ImageNet normalization constants used by every RGB backbone in the
    * reference (`extract_features.py:96-97`). */
  val ImagenetMean: Array[Float] = Array(0.485f, 0.456f, 0.406f)
  val ImagenetStd: Array[Float] = Array(0.229f, 0.224f, 0.225f)

  final val GridN = 4
  /** feature width: 3 channels × (4×4 block means) + 3×(mean,std). */
  final val FeatureDim: Int = 3 * GridN * GridN + 6

  // ---- pure scalar kernels (shared by UDFs and tests) ----

  // Per-thread cached ImageReaders: ImageIO.read performs a synchronized
  // registry lookup per call, which serializes 32 decode threads. Readers
  // are not thread-safe, so cache one per (thread, format); format is
  // sniffed from magic bytes (FF D8 = JPEG, 89 50 = PNG).
  private val readerCache =
    ThreadLocal.withInitial[java.util.HashMap[String, javax.imageio.ImageReader]](() =>
      new java.util.HashMap[String, javax.imageio.ImageReader]())

  private def readerFor(fmt: String): javax.imageio.ImageReader = {
    val cache = readerCache.get()
    var r = cache.get(fmt)
    if (r == null) {
      r = ImageIO.getImageReadersByFormatName(fmt).next()
      cache.put(fmt, r)
    }
    r
  }

  /** Decode to a BufferedImage via the per-thread reader; null on failure. */
  def decodeImage(bytes: Array[Byte]): BufferedImage = {
    if (bytes == null || bytes.length < 4) return null
    val fmt =
      if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) "jpeg"
      else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') "png"
      else return null
    try {
      val reader = readerFor(fmt)
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, true, true)
        reader.read(0)
      } finally iis.close()
    } catch { case _: Exception => null }
  }

  /** Decode encoded bytes to (CHW float pixels in [0,1], w, h);
    * null on failure — row-level fault tolerance. */
  def decodeWithDims(bytes: Array[Byte]): (Array[Float], Int, Int) = {
    val img = decodeImage(bytes)
    if (img == null) return null
    (toChw(img), img.getWidth, img.getHeight)
  }

  def decode(bytes: Array[Byte]): Array[Float] = {
    val d = decodeWithDims(bytes)
    if (d == null) null else d._1
  }

  // Reusable per-thread buffers for the whole decode→feature chain: at
  // 10^4..10^5 decodes/sec/host the ~200KB of per-row intermediates would
  // otherwise make the job GC-bound (observed 20x stalls at local[32]).
  private final class Scratch {
    var px: Array[Int] = new Array[Int](0)
    var chw: Array[Float] = new Array[Float](0)
    var resized: Array[Float] = new Array[Float](0)
    var cropped: Array[Float] = new Array[Float](0)
    // the last (in, out) spans of rows (0) and columns (1): every frame of
    // a table has one size
    private val axisSpans = new Array[Spans](2)
    def ints(n: Int): Array[Int] = { if (px.length < n) px = new Array[Int](n); px }
    def chwBuf(n: Int): Array[Float] = { if (chw.length < n) chw = new Array[Float](n); chw }
    def resizedBuf(n: Int): Array[Float] = { if (resized.length < n) resized = new Array[Float](n); resized }
    def croppedBuf(n: Int): Array[Float] = { if (cropped.length < n) cropped = new Array[Float](n); cropped }
    def spans(axis: Int, n: Int, outN: Int): Spans = {
      val sp = axisSpans(axis)
      if (sp != null && sp.n == n && sp.outN == outN) sp
      else { axisSpans(axis) = new Spans(n, outN); axisSpans(axis) }
    }
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** `(b & 0xff) / 255f` for every byte value: the decoded [0,1] pixel. */
  private val UnitByte: Array[Float] = Array.tabulate(256)(_ / 255.0f)

  /** One axis of an area resize from `n` source to `outN` destination
    * pixels: destination `o` covers source indices `first(o)` until
    * `first(o) + len(o)` with weights `wt(at(o))`, `wt(at(o) + 1)`, … —
    * the fraction of each source pixel inside `[o·n/outN, (o+1)·n/outN)`.
    * Computed once per size pair, so the per-pixel loop only reads them. */
  private final class Spans(val n: Int, val outN: Int) {
    val first = new Array[Int](outN)
    val len = new Array[Int](outN)
    val at = new Array[Int](outN)
    val wt: Array[Double] = {
      val s = n.toDouble / outN
      val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
      var o = 0
      while (o < outN) {
        val lo = o * s
        val hi = (o + 1) * s
        val end = math.min(math.ceil(hi).toInt, n)
        first(o) = math.floor(lo).toInt
        len(o) = end - first(o)
        at(o) = buf.length
        var i = first(o)
        while (i < end) { buf += math.min(hi, i + 1.0) - math.max(lo, i.toDouble); i += 1 }
        o += 1
      }
      buf.toArray
    }
  }

  private def toChwInto(img: BufferedImage, out: Array[Float]): Unit = {
    val w = img.getWidth
    val h = img.getHeight
    val hw = h * w
    val px = scratch.get().ints(hw)
    img.getRGB(0, 0, w, h, px, 0, w)
    var i = 0
    while (i < hw) {
      val rgb = px(i)
      out(i) = UnitByte((rgb >> 16) & 0xff)
      out(hw + i) = UnitByte((rgb >> 8) & 0xff)
      out(2 * hw + i) = UnitByte(rgb & 0xff)
      i += 1
    }
  }

  private def toChw(img: BufferedImage): Array[Float] = {
    val out = new Array[Float](3 * img.getHeight * img.getWidth)
    toChwInto(img, out)
    out
  }

  /** Area-box resample of a CHW image to (outH, outW): destination pixel =
    * mean of the (fractionally weighted) source box it covers. Equivalent to
    * PIL's antialiased box/area resize; chosen over naive bilinear so
    * downscales don't alias (SURVEY.md §7.5.2). */
  def resizeArea(chw: Array[Float], h: Int, w: Int, outH: Int, outW: Int): Array[Float] = {
    if (chw == null) return null
    val out = new Array[Float](3 * outH * outW)
    resizeAreaInto(chw, h, w, outH, outW, out)
    out
  }

  private[codec] def resizeAreaInto(
      chw: Array[Float], h: Int, w: Int, outH: Int, outW: Int, out: Array[Float]): Unit = {
    val sc = scratch.get()
    val ys = sc.spans(0, h, outH)
    val xs = sc.spans(1, w, outW)
    var c = 0
    while (c < 3) {
      val off = c * h * w
      val ooff = c * outH * outW
      var oy = 0
      while (oy < outH) {
        val y0 = ys.first(oy)
        val ny = ys.len(oy)
        val yat = ys.at(oy)
        var ox = 0
        while (ox < outW) {
          val x0 = xs.first(ox)
          val nx = xs.len(ox)
          val xat = xs.at(ox)
          var acc = 0.0
          var area = 0.0
          var j = 0
          while (j < ny) {
            val wy = ys.wt(yat + j)
            val row = off + (y0 + j) * w + x0
            var i = 0
            while (i < nx) {
              val wx = xs.wt(xat + i)
              acc += chw(row + i) * wy * wx
              area += wy * wx
              i += 1
            }
            j += 1
          }
          out(ooff + oy * outW + ox) = (acc / area).toFloat
          ox += 1
        }
        oy += 1
      }
      c += 1
    }
  }

  /** Center crop CHW (h,w) to (c,c) — `T.CenterCrop`. */
  def centerCrop(chw: Array[Float], h: Int, w: Int, crop: Int): Array[Float] = {
    if (chw == null) return null
    val out = new Array[Float](3 * crop * crop)
    centerCropInto(chw, h, w, crop, out)
    out
  }

  private[codec] def centerCropInto(
      chw: Array[Float], h: Int, w: Int, crop: Int, out: Array[Float]): Unit = {
    require(crop <= h && crop <= w, s"crop $crop > image ${h}x$w")
    val dy = (h - crop) / 2
    val dx = (w - crop) / 2
    var c = 0
    while (c < 3) {
      var y = 0
      while (y < crop) {
        var x = 0
        while (x < crop) {
          out(c * crop * crop + y * crop + x) = chw(c * h * w + (y + dy) * w + (x + dx))
          x += 1
        }
        y += 1
      }
      c += 1
    }
  }

  /** Per-channel (x - mean) / std — `T.Normalize`. */
  def normalize(chw: Array[Float], hw: Int, mean: Array[Float], std: Array[Float]): Array[Float] = {
    if (chw == null) return null
    val out = new Array[Float](chw.length)
    normalizeInto(chw, hw, mean, std, out)
    out
  }

  /** In-place-safe normalize (out may alias chw). */
  private[codec] def normalizeInto(
      chw: Array[Float], hw: Int, mean: Array[Float], std: Array[Float], out: Array[Float]): Unit = {
    var c = 0
    while (c < 3) {
      var i = 0
      while (i < hw) {
        out(c * hw + i) = (chw(c * hw + i) - mean(c)) / std(c)
        i += 1
      }
      c += 1
    }
  }

  /** RGB→L grayscale, ITU-R 601-2 luma — the reference's `convert("L")`
    * (`multimodal_segment_feature_extractor.py:65-66`). */
  def grayscale(chw: Array[Float], hw: Int): Array[Float] = {
    if (chw == null) return null
    val out = new Array[Float](hw)
    var i = 0
    while (i < hw) {
      out(i) = 0.299f * chw(i) + 0.587f * chw(hw + i) + 0.114f * chw(2 * hw + i)
      i += 1
    }
    out
  }

  /** Depth-style clamp + scale (`omnivore_transforms.py:43-63`):
    * clamp to [minV, maxV] then divide by maxV. */
  def clampScale(v: Array[Float], minV: Float, maxV: Float): Array[Float] = {
    if (v == null) return null
    v.map(x => math.min(math.max(x, minV), maxV) / maxV)
  }

  /** Deterministic feature head over a normalized CHW square crop:
    * per-channel GridN×GridN block means, then per-channel mean and std. */
  def featureHead(chw: Array[Float], crop: Int): Array[Float] = {
    if (chw == null) return null
    val out = new Array[Float](FeatureDim)
    val hw = crop * crop
    var c = 0
    while (c < 3) {
      var sum = 0.0
      var sumSq = 0.0
      var gy = 0
      while (gy < GridN) {
        var gx = 0
        while (gx < GridN) {
          val y0 = gy * crop / GridN
          val y1 = (gy + 1) * crop / GridN
          val x0 = gx * crop / GridN
          val x1 = (gx + 1) * crop / GridN
          var acc = 0.0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { acc += chw(c * hw + y * crop + x); x += 1 }
            y += 1
          }
          out(c * GridN * GridN + gy * GridN + gx) = (acc / ((y1 - y0) * (x1 - x0))).toFloat
          gx += 1
        }
        gy += 1
      }
      var i = 0
      while (i < hw) { val v = chw(c * hw + i); sum += v; sumSq += v * v; i += 1 }
      val m = sum / hw
      out(3 * GridN * GridN + c) = m.toFloat
      out(3 * GridN * GridN + 3 + c) = math.sqrt(math.max(0.0, sumSq / hw - m * m)).toFloat
      c += 1
    }
    out
  }

  /** The fused per-row pipeline: decode → area-resize(resizeTo) →
    * centerCrop(cropTo) → ImageNet-normalize → feature head. */
  def pipeline(bytes: Array[Byte], resizeTo: Int, cropTo: Int): Array[Float] = {
    val img = decodeImage(bytes)
    if (img == null) return null
    val sc = scratch.get()
    val h = img.getHeight
    val w = img.getWidth
    val resized = sc.resizedBuf(3 * resizeTo * resizeTo)
    // fused decode→resize straight off the raster when the layout allows it
    // (skips a 2×48KB float CHW round-trip per row — the decode stage is
    // memory-bandwidth-bound at high thread counts); bit-identical math.
    if (!resizeAreaFromRaster(img, resizeTo, resizeTo, resized)) {
      val chw = sc.chwBuf(3 * h * w)
      toChwInto(img, chw)
      resizeAreaInto(chw, h, w, resizeTo, resizeTo, resized)
    }
    val cropped = sc.croppedBuf(3 * cropTo * cropTo)
    centerCropInto(resized, resizeTo, resizeTo, cropTo, cropped)
    // normalize in place on the cropped scratch (cropped is not reused after)
    normalizeInto(cropped, cropTo * cropTo, ImagenetMean, ImagenetStd, cropped)
    featureHead(cropped, cropTo) // allocates only the 54-float result
  }

  /** Area-resize reading pixel values directly from a TYPE_3BYTE_BGR raster
    * (the layout both our JPEG and PNG readers produce). Exactly the
    * resizeAreaInto loop with `chw(…)` replaced by the raster byte's
    * [[UnitByte]] value — identical float values, so the output is bit-
    * identical to the pure kernels. Returns false when the layout differs
    * (caller falls back to the generic path). */
  private def resizeAreaFromRaster(
      img: BufferedImage, outH: Int, outW: Int, out: Array[Float]): Boolean = {
    if (img.getType != BufferedImage.TYPE_3BYTE_BGR) return false
    val raster = img.getRaster
    val sm = raster.getSampleModel match {
      case m: java.awt.image.PixelInterleavedSampleModel => m
      case _ => return false
    }
    val buf = raster.getDataBuffer match {
      case b: java.awt.image.DataBufferByte => b.getData
      case _ => return false
    }
    if (sm.getPixelStride != 3) return false
    val stride = sm.getScanlineStride
    val sc = scratch.get()
    val ys = sc.spans(0, img.getHeight, outH)
    val xs = sc.spans(1, img.getWidth, outW)
    var c = 0
    while (c < 3) {
      val boff = 2 - c // BGR byte order: R at +2, G at +1, B at +0
      val ooff = c * outH * outW
      var oy = 0
      while (oy < outH) {
        val y0 = ys.first(oy)
        val ny = ys.len(oy)
        val yat = ys.at(oy)
        var ox = 0
        while (ox < outW) {
          val x0 = xs.first(ox)
          val nx = xs.len(ox)
          val xat = xs.at(ox)
          var acc = 0.0
          var area = 0.0
          var j = 0
          while (j < ny) {
            val wy = ys.wt(yat + j)
            val row = (y0 + j) * stride + x0 * 3 + boff
            var i = 0
            while (i < nx) {
              val wx = xs.wt(xat + i)
              val v = UnitByte(buf(row + i * 3) & 0xff)
              acc += v * wy * wx
              area += wy * wx
              i += 1
            }
            j += 1
          }
          out(ooff + oy * outW + ox) = (acc / area).toFloat
          ox += 1
        }
        oy += 1
      }
      c += 1
    }
    true
  }

  // ---- UDF surface ----

  /** Fused decode→resize→crop→normalize→feature UDF (the hot path).
    * Usage: `df.withColumn("vec", imageFeatures(lit(32), lit(28))($"bytes"))`. */
  def imageFeatures(resizeTo: Int, cropTo: Int): UserDefinedFunction =
    udf((bytes: Array[Byte]) => Option(pipeline(bytes, resizeTo, cropTo)).map(_.toSeq))

  def imageFeaturesCol(bytes: Column, resizeTo: Int, cropTo: Int): Column =
    imageFeatures(resizeTo, cropTo)(bytes)

  /** ITU-R 601-2 luma over a CHW-planar numeric array column — the
    * oracle-checkable double-math form of the float kernel [[grayscale]]
    * (P8; reference `multimodal_segment_feature_extractor.py:65-66`). Pure
    * column algebra: stays inside whole-stage codegen, no UDF boundary. */
  def lumaCol(chw: Column, hw: Int): Column = {
    import org.apache.spark.sql.functions._
    transform(
      sequence(lit(0), lit(hw - 1)),
      i =>
        lit(0.299) * element_at(chw, i + 1) +
          lit(0.587) * element_at(chw, i + 1 + hw) +
          lit(0.114) * element_at(chw, i + 1 + 2 * hw))
  }

  /** The float [[clampScale]] kernel as a UDF (P11; reference
    * `omnivore_transforms.py:43-63`). With a power-of-two `maxV` the divide
    * is exact in float32, so results are bit-identical to any engine's
    * double math — the oracle-checkable configuration. */
  def clampScaleUdf(minV: Float, maxV: Float): UserDefinedFunction =
    udf((v: Seq[Float]) =>
      Option(v).map(s => clampScale(s.toArray, minV, maxV).toSeq))
}
