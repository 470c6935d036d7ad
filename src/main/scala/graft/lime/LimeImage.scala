package graft.lime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LIME image explanations (Ribeiro et al. 2016 §3; public reference
  * `marcotcr/lime` lime_image.py): mask superpixels, score the
  * black box on the perturbed image, fit a kernel-weighted ridge on
  * the binary mask features, report the top superpixels.
  *
  * Harness adaptation, per the multimodal mandate: the container has
  * no image codecs, so the DECODE step is the pluggable seam — the
  * same contract as LlmData.MmDecoder. Images arrive as opaque binary
  * payloads + metadata; the default decoder parses a little-endian
  * float32 stream into a √n×√n grayscale pixel grid, and `f32leRgb`
  * reads interleaved RGB triplets (real parses of the storage bytes —
  * swapping in JPEG means implementing the same
  * `Array[Byte] => Array[Double]` signature, not touching the
  * operator). Segmentation is its own pluggable seam (`Segmenter`):
  * the default is a fixed 2×2 block grid (content-free,
  * deterministic), and `slic()` provides REAL content-adaptive
  * superpixels — a deterministic SLIC (Achanta et al. TPAMI 2012)
  * implementation, the standard stand-in for quickshift; segment ids
  * play the role of the public implementation's segment mask;
  * multi-channel images mask per channel (see explainImage).
  *
  * The black box is the same stand-in style as LimeText's: a logistic
  * over hash-signed pixel sums. Masking superpixel s replaces its
  * pixels with s's own mean (the public `hide_color=None` rule), so a
  * sample's score folds to Σ_s [keep_s ? c_s : m_s] with c_s / m_s
  * precomputed per image in the one decode pass — pixels are never
  * touched again.
  *
  * Everything is deterministic: counter-hash Bernoulli masks (Rng.u01
  * over (seed, image, sample, superpixel)) and driver-free hash signs.
  * Each image row folds its samples in-row ([[MaskFold]], as LimeText
  * does): no samples × superpixels rows, no shuffle. No oracle (no
  * portable SQL RNG) — LimeSpec grades determinism, schema,
  * planted-signal recovery and a local RidgeAggregator recompute.
  */
object LimeImage {

  import Lime.LimeConfig

  /** Deterministic per-pixel sign of the stand-in black box (public
    * to the spec, which recomputes ground-truth superpixel effects).
    */
  def pixelSign(p: Int): Double =
    if ((((p.toLong * 0x9E3779B97F4A7C15L) >>> 33) & 1L) == 0L) 1.0 else -1.0

  /** Default decoder: little-endian IEEE-754 float32 stream → pixel
    * array (the F32LE storage-bytes parse; fails fast on misaligned
    * payloads like LlmData.MmDecoder.F32LE).
    */
  val f32le: Array[Byte] => Array[Double] = { payload =>
    require(payload.length % 4 == 0,
      s"lime_image f32le: payload of ${payload.length} bytes is not a " +
        "whole number of float32 words — corrupt or misaligned blob")
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(payload.length / 4)(bb.getFloat.toDouble)
  }

  /** Interleaved-RGB decoder (RGBRGB… little-endian float32 triplets)
    * → flat channel-interleaved array. Same `Array[Byte] =>
    * Array[Double]` seam as `f32le` — a JPEG/PNG decoder plugs in by
    * implementing the signature and emitting the same interleave.
    * Fails fast unless the payload is whole 12-byte pixels.
    */
  val f32leRgb: Array[Byte] => Array[Double] = { payload =>
    require(payload.length % 12 == 0,
      s"lime_image f32leRgb: payload of ${payload.length} bytes is not a " +
        "whole number of RGB float32 triplets — corrupt or misaligned blob")
    f32le(payload)
  }

  /** Segmentation seam: (flat channel-interleaved values, side,
    * channels) → per-pixel segment labels in [0, nSeg), renumbered in
    * raster order of first occurrence. The same pluggable contract as
    * the decode seam — quickshift/felzenszwalb plug in by implementing
    * the signature.
    */
  type Segmenter = (Array[Double], Int, Int) => Array[Int]

  /** Fixed-grid segment of pixel p in a side×side image, 2×2 blocks. */
  private def segOf(p: Int, side: Int): Int =
    (p / side / 2) * (side / 2) + (p % side / 2)

  /** The default segmenter: the fixed 2×2 block grid (content-free,
    * deterministic, already raster-numbered). */
  val gridSegment: Segmenter = { (x, side, channels) =>
    require(side % 2 == 0,
      s"lime_image grid segmentation: side $side is not even")
    Array.tabulate(x.length / channels)(p => segOf(p, side))
  }

  /** SLIC superpixels (Achanta et al., "SLIC Superpixels Compared to
    * State-of-the-Art Superpixel Methods", TPAMI 2012) — the REAL
    * content-adaptive segmentation for the seam, fully deterministic:
    *
    *  - ⌊√k⌋² cluster centers initialized on a regular grid (the
    *    paper's S-spaced seeding; the lowest-gradient 3×3 perturbation
    *    is omitted — it exists to dodge seeding ON an edge, matters
    *    only for photographic gradients, and omitting it keeps the
    *    seeding content-free and exactly reproducible),
    *  - `iters` assignment/update rounds: each pixel joins the
    *    nearest center within a 2S×2S window under the paper's
    *    D² = d_color² + (d_xy/S)²·m² metric (m = compactness; ties →
    *    smaller center index, strict <), centers refit to their
    *    cluster's mean color/position (empty cluster keeps its seed —
    *    no RNG re-seeding),
    *  - the paper's connectivity post-process: 4-connected components
    *    of the label map, any component smaller than S²/4 merged into
    *    the adjacent component that precedes it in raster order, final
    *    labels renumbered by first raster occurrence.
    *
    * Multi-channel distance sums over the channel values (gray = 1-d
    * color). Runs per image inside the decode pass — executor-side
    * pure function, no driver state, no RNG anywhere.
    */
  def slicLabels(x: Array[Double], side: Int, channels: Int,
      k: Int, iters: Int = 10, compactness: Double = 10.0): Array[Int] = {
    val nPixels = x.length / channels
    require(side * side == nPixels,
      s"lime_image slic: $nPixels pixels is not a $side-sided square")
    val gridDim = math.max(1, math.sqrt(k.toDouble).toInt)
    val nCent = gridDim * gridDim
    val s = side.toDouble / gridDim // seed spacing (the paper's S)
    // center state: position + per-channel color
    val cy = new Array[Double](nCent); val cx = new Array[Double](nCent)
    val cc = Array.ofDim[Double](nCent, channels)
    var ci = 0
    while (ci < nCent) {
      val gy = ci / gridDim; val gx = ci % gridDim
      val py = math.min(side - 1, ((gy + 0.5) * s).toInt)
      val px = math.min(side - 1, ((gx + 0.5) * s).toInt)
      cy(ci) = py; cx(ci) = px
      var c = 0
      while (c < channels) { cc(ci)(c) = x((py * side + px) * channels + c); c += 1 }
      ci += 1
    }
    val label = Array.fill(nPixels)(-1)
    val best = Array.fill(nPixels)(Double.MaxValue)
    val invS2 = (compactness * compactness) / (s * s)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(best, Double.MaxValue)
      java.util.Arrays.fill(label, -1)
      ci = 0
      while (ci < nCent) {
        val y0 = math.max(0, (cy(ci) - 2 * s).toInt)
        val y1 = math.min(side - 1, (cy(ci) + 2 * s).toInt)
        val x0 = math.max(0, (cx(ci) - 2 * s).toInt)
        val x1 = math.min(side - 1, (cx(ci) + 2 * s).toInt)
        var py = y0
        while (py <= y1) {
          var px = x0
          while (px <= x1) {
            val p = py * side + px
            var dc = 0.0
            var c = 0
            while (c < channels) {
              val d = x(p * channels + c) - cc(ci)(c); dc += d * d; c += 1
            }
            val dy = py - cy(ci); val dx = px - cx(ci)
            val d2 = dc + (dy * dy + dx * dx) * invS2
            // strict < : ties keep the earlier (smaller-index) center
            if (d2 < best(p)) { best(p) = d2; label(p) = ci }
            px += 1
          }
          py += 1
        }
        ci += 1
      }
      // a pixel outside every center's 2S window (possible only with
      // degenerate k) falls back to its seed-grid cell
      var p = 0
      while (p < nPixels) {
        if (label(p) < 0) {
          val gy = math.min(gridDim - 1, (p / side / s).toInt)
          val gx = math.min(gridDim - 1, (p % side / s).toInt)
          label(p) = gy * gridDim + gx
        }
        p += 1
      }
      // refit centers to cluster means (exact running sums; iteration
      // order is pixel raster order — deterministic)
      val ny = new Array[Double](nCent); val nx = new Array[Double](nCent)
      val ncol = Array.ofDim[Double](nCent, channels)
      val cnt = new Array[Int](nCent)
      p = 0
      while (p < nPixels) {
        val l = label(p)
        ny(l) += p / side; nx(l) += p % side; cnt(l) += 1
        var c = 0
        while (c < channels) { ncol(l)(c) += x(p * channels + c); c += 1 }
        p += 1
      }
      ci = 0
      while (ci < nCent) {
        if (cnt(ci) > 0) {
          cy(ci) = ny(ci) / cnt(ci); cx(ci) = nx(ci) / cnt(ci)
          var c = 0
          while (c < channels) { cc(ci)(c) = ncol(ci)(c) / cnt(ci); c += 1 }
        } // empty: keep the previous center — deterministic, no reseed
        ci += 1
      }
      it += 1
    }
    enforceConnectivity(label, side, math.max(1, ((s * s) / 4).toInt))
  }

  /** The paper's post-process: 4-connected components of the label
    * map; a component smaller than `minSize` merges into the adjacent
    * component preceding it in raster order (the left/top neighbor of
    * its first pixel — deterministic); labels renumber by first
    * raster occurrence.
    */
  private def enforceConnectivity(label: Array[Int], side: Int,
      minSize: Int): Array[Int] = {
    val n = label.length
    val comp = Array.fill(n)(-1)
    // final label per component; merged components chase to their
    // survivor through this array (paths are short: a merge target is
    // always an earlier component)
    val mergedInto = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stack = new java.util.ArrayDeque[Int]()
    var p0 = 0
    while (p0 < n) {
      if (comp(p0) < 0) {
        val id = mergedInto.length
        mergedInto += id
        var size = 0
        stack.push(p0)
        comp(p0) = id
        while (!stack.isEmpty) {
          val p = stack.pop()
          size += 1
          val py = p / side; val px = p % side
          var d = 0
          while (d < 4) {
            val (qy, qx) = d match {
              case 0 => (py - 1, px); case 1 => (py + 1, px)
              case 2 => (py, px - 1); case _ => (py, px + 1)
            }
            if (qy >= 0 && qy < side && qx >= 0 && qx < side) {
              val q = qy * side + qx
              if (comp(q) < 0 && label(q) == label(p0)) {
                comp(q) = id; stack.push(q)
              }
            }
            d += 1
          }
        }
        if (size < minSize && id > 0) {
          // the raster-preceding adjacent component: left neighbor of
          // the first pixel if it exists, else the top neighbor (one
          // of the two exists for every component after the first —
          // its first pixel in raster order has a visited predecessor)
          val py = p0 / side; val px = p0 % side
          val prev =
            if (px > 0) comp(p0 - 1)
            else comp(p0 - side)
          var t = prev
          while (mergedInto(t) != t) t = mergedInto(t)
          mergedInto(id) = t
        }
      }
      p0 += 1
    }
    // renumber surviving components by first raster occurrence
    val finalOf = new java.util.HashMap[Int, Int]()
    val out = new Array[Int](n)
    var p = 0
    while (p < n) {
      var t = comp(p)
      while (mergedInto(t) != t) t = mergedInto(t)
      if (!finalOf.containsKey(t)) finalOf.put(t, finalOf.size)
      out(p) = finalOf.get(t)
      p += 1
    }
    out
  }

  /** SLIC as a pluggable Segmenter (the seam explainImage consumes). */
  def slic(k: Int, iters: Int = 10, compactness: Double = 10.0): Segmenter =
    (x, side, channels) => slicLabels(x, side, channels, k, iters, compactness)

  /** images: (doc_id bigint, payload binary). Output: per image the
    * top-k superpixels by |ridge weight| with intercept/r2/local_pred
    * — the lime_explain_text schema with `spix` in place of `word`.
    * Two images with one doc_id fail at build with
    * [[Lime.InvalidInstancesException]].
    *
    * `channels` declares the decoder's interleave (1 = grayscale,
    * 3 = RGB): segmentation stays SPATIAL (all channels of a pixel
    * share its superpixel — the public segmentation contract), and
    * masking hides a superpixel by replacing each pixel-channel with
    * the segment's PER-CHANNEL mean — the multi-channel reading of
    * the public `hide_color=None` rule (lime_image.py computes the
    * fudged image per channel). With channels = 1 every formula
    * reduces bit-identically to the grayscale path.
    */
  def explainImage(
      images: DataFrame,
      cfg: LimeConfig = LimeConfig(nSamples = 128, kFeatures = 5,
        kernelWidth = Some(25.0)),
      decode: Array[Byte] => Array[Double] = f32le,
      channels: Int = 1,
      segment: Segmenter = gridSegment): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._

    // ONE decode pass: pixels → per-superpixel kept/masked
    // contributions (c_s = Σ sign·x over s's flat elements; m_s =
    // Σ_channel mean_{s,c} · Σ sign over s's channel-c elements), one
    // row per image. Pixel count never appears downstream. The
    // segmentation runs in-row on the decoded values (grid by default;
    // slic() for real content-adaptive superpixels — both deterministic).
    val perImage = images.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val x = decode(payload)
        require(x.length % channels == 0,
          s"lime_image: ${x.length} values is not a whole number of " +
            s"$channels-channel pixels")
        val nPixels = x.length / channels
        val side = math.sqrt(nPixels.toDouble).toInt
        require(side * side == nPixels,
          s"lime_image: $nPixels pixels is not a square grid")
        // a zero-byte payload contributes no segments and no rows —
        // the pre-seam behavior (nSeg was 0); without the guard
        // labels.max would throw a message-free empty.max
        if (nPixels == 0) None
        else Some {
          val labels = segment(x, side, channels)
          val nSeg = labels.max + 1
          val cs = new Array[Double](nSeg)
          val sumSign = Array.ofDim[Double](nSeg, channels)
          val sumX = Array.ofDim[Double](nSeg, channels)
          val cnt = Array.ofDim[Int](nSeg, channels)
          for (f <- x.indices) {
            val p = f / channels; val c = f % channels
            val s = labels(p)
            cs(s) += pixelSign(f) * x(f)
            sumSign(s)(c) += pixelSign(f)
            sumX(s)(c) += x(f)
            cnt(s)(c) += 1
          }
          val masked = Array.tabulate(nSeg) { s =>
            (0 until channels).map(c => sumX(s)(c) / cnt(s)(c) * sumSign(s)(c)).sum
          }
          (id, cs, masked, x.length)
        }
      }
      // n_vals is the FLAT element count (pixels × channels) — named
      // so because the sigmoid normalization is over flat elements, not
      // pixels; for grayscale the two coincide
      .toDF("doc_id", "c_kept", "c_masked", "n_vals")
    // superpixels are tagged by index: the fold's row has no words
    Lime.explainMasks[Int](perImage,
      struct(lit(null).cast("array<string>"), col("c_kept"), col("c_masked"), col("n_vals")),
      sequence(lit(0), size(col("c_kept")) - 1), "spix", cfg)
  }
}
