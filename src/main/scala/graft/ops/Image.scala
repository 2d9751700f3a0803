package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GenSnap

/** Pixel-domain operators over the LIVE decode path (Multimodal.
  * decodeJpegGray32) — the reference's remaining image surface, now that
  * a real codec (javax.imageio) backs S4:
  *
  *  - S5 blur preprocess: GaussianBlur(5×5, σ=0) + medianBlur(5) —
  *    /root/reference/kmeans_clustering/image_classification.py:123-124.
  *    cv2 with σ≤0 and ksize=5 uses the FIXED binomial kernel
  *    [1,4,6,4,1]/16 (separable), mirrored here exactly; borders use
  *    cv2's defaults (reflect-101 for Gaussian, replicate for median).
  *  - F3 contour features: threshold(127) → external contours →
  *    [perimeter, area, solidity, extent, equivalent_diameter, angle]
  *    (image_classification.py:242-287). The reference hardcodes
  *    angle = 3.14/2 (:278) and its solidity divides by a hull INDEX
  *    array (a bug in dead code); here: 8-connected foreground
  *    components with pixel-count area, exposed-edge perimeter, and a
  *    well-defined convex-hull solidity (monotone chain + shoelace).
  *  - F5 GLCM texture: Haralick co-occurrence features
  *    (image_classification.py:312-334 — mahotas.haralick). The full
  *    13-feature Haralick set over a symmetrized 8-level GLCM × 4
  *    directions (the mahotas shape: 4 rows of 13).
  *
  * JPEG decode is not DuckDB-expressible → the img_* queries are
  * rows-only driver checks, each cross-checked against a local
  * single-image run of the same kernel in ImageSpec. The ORACLE-checked
  * forms of S5/F5 run over the embeddings 8×8 grid (vec_blur,
  * vec_glcm_texture below), the same pattern vec_edge_energy uses for
  * F4 — bit-identical in DuckDB.
  *
  * Scale notes: every kernel is a narrow per-row map over one image
  * cell (mapPartitions over binaryFile row-groups — no shuffle); the
  * vec_* forms are per-row HOF folds in whole-stage codegen, and the
  * relational GLCM shape would shuffle only (level-pair, count) rows.
  */
object Image {

  import Tables._
  import graft.ops.Vector.{seqSum, sqlSeqSum, sqlVec, vec}

  // ── pure kernels (also exercised locally in ImageSpec) ──────────────

  /** Separable binomial blur, cv2 GaussianBlur(ksize=5, σ=0) weights
    * [1,4,6,4,1]/16, reflect-101 border (cv2 default). */
  def gaussianBlur5(img: Array[Double], w: Int, h: Int): Array[Double] = {
    val k = Array(1.0, 4.0, 6.0, 4.0, 1.0).map(_ / 16.0)
    def reflect(i: Int, n: Int): Int = // BORDER_REFLECT_101: dcb|abcd|cba
      if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
    val tmp = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = 0.0; var t = -2
        while (t <= 2) { s += k(t + 2) * img(y * w + reflect(x + t, w)); t += 1 }
        tmp(y * w + x) = s; x += 1
      }
      y += 1
    }
    val out = new Array[Double](w * h)
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = 0.0; var t = -2
        while (t <= 2) { s += k(t + 2) * tmp(reflect(y + t, h) * w + x); t += 1 }
        out(y * w + x) = s; x += 1
      }
      y += 1
    }
    out
  }

  /** 5×5 median filter, replicate border (cv2 medianBlur default). */
  def medianBlur5(img: Array[Double], w: Int, h: Int): Array[Double] = {
    def clamp(i: Int, n: Int): Int = if (i < 0) 0 else if (i >= n) n - 1 else i
    val out = new Array[Double](w * h)
    val window = new Array[Double](25)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var n = 0; var dy = -2
        while (dy <= 2) {
          var dx = -2
          while (dx <= 2) {
            window(n) = img(clamp(y + dy, h) * w + clamp(x + dx, w)); n += 1; dx += 1
          }
          dy += 1
        }
        val sorted = window.sorted
        out(y * w + x) = sorted(12); x += 1
      }
      y += 1
    }
    out
  }

  /** Binary threshold: > 127 → 255 else 0 (cv2.threshold(img,127,255)). */
  def threshold127(img: Array[Double]): Array[Boolean] = img.map(_ > 127.0)

  final case class Contour(perimeter: Double, area: Double, solidity: Double,
                           extent: Double, equivalent_diameter: Double, angle: Double)

  /** Twice the area of the convex hull of integer points — monotone
    * chain + integer shoelace, exact in Long (no rounding anywhere).
    * Degenerate inputs (<3 distinct points, collinear) → 0. */
  def hullTwiceArea(pts: Seq[(Int, Int)]): Long = {
    val s = pts.distinct.sorted
    if (s.size < 3) return 0L
    def cross(o: (Int, Int), a: (Int, Int), b: (Int, Int)): Long =
      (a._1 - o._1).toLong * (b._2 - o._2) - (a._2 - o._2).toLong * (b._1 - o._1)
    def half(ps: Seq[(Int, Int)]): List[(Int, Int)] =
      ps.foldLeft(List.empty[(Int, Int)]) { (acc, p) =>
        var a = acc
        while (a.size >= 2 && cross(a(1), a.head, p) <= 0) a = a.tail
        p :: a
      }
    val hull = (half(s).reverse.tail ++ half(s.reverse).reverse.tail).toIndexedSeq
    math.abs(hull.indices.map { j =>
      val a = hull(j); val b = hull((j + 1) % hull.size)
      a._1.toLong * b._2 - b._1.toLong * a._2
    }.sum)
  }

  /** External contour features over 8-connected foreground components.
    * area = pixel count; perimeter = exposed 4-neighbor edges; solidity
    * = area / convex-hull area of pixel centers (0 if degenerate);
    * extent = area / bounding-box area; angle = 3.14/2 exactly as the
    * reference hardcodes. Components returned largest-area-first,
    * ties by top-left pixel. */
  def contourFeatures(bin: Array[Boolean], w: Int, h: Int): Seq[Contour] = {
    val comp = Array.fill(w * h)(-1)
    var nComp = 0
    var i = 0
    while (i < w * h) {
      if (bin(i) && comp(i) < 0) {
        var stack = List(i); comp(i) = nComp
        while (stack.nonEmpty) {
          val p = stack.head; stack = stack.tail
          val (py, px) = (p / w, p % w)
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              val (ny, nx) = (py + dy, px + dx)
              if (ny >= 0 && ny < h && nx >= 0 && nx < w) {
                val q = ny * w + nx
                if (bin(q) && comp(q) < 0) { comp(q) = nComp; stack = q :: stack }
              }
              dx += 1
            }
            dy += 1
          }
        }
        nComp += 1
      }
      i += 1
    }
    def hullArea(pts: Seq[(Int, Int)]): Double = hullTwiceArea(pts) / 2.0
    // one O(w·h) pass groups pixels by component — NOT a rescan of the
    // whole image per component (quadratic for speckled thresholds)
    val ptsByComp = Array.fill(nComp)(List.newBuilder[(Int, Int)])
    var p = 0
    while (p < w * h) {
      if (comp(p) >= 0) ptsByComp(comp(p)) += ((p % w, p / w))
      p += 1
    }
    (0 until nComp).map { c =>
      val pts = ptsByComp(c).result()
      val area = pts.size.toDouble
      var perim = 0
      pts.foreach { case (x, y) =>
        Seq((x - 1, y), (x + 1, y), (x, y - 1), (x, y + 1)).foreach { case (nx, ny) =>
          if (nx < 0 || nx >= w || ny < 0 || ny >= h || !bin(ny * w + nx)) perim += 1
        }
      }
      val (xs, ys) = (pts.map(_._1), pts.map(_._2))
      val rectArea = ((xs.max - xs.min + 1) * (ys.max - ys.min + 1)).toDouble
      val ha = hullArea(pts)
      Contour(
        perimeter = perim.toDouble,
        area = area,
        solidity = if (ha > 0) area / ha else 0.0,
        extent = area / rectArea,
        equivalent_diameter = math.sqrt(4.0 * area / math.Pi),
        angle = 3.14 / 2)
    }.sortBy(c => (-c.area, -c.perimeter))
  }

  /** All 13 Haralick (1973) texture features for one direction — the
    * feature SET the reference's declared surface exposes
    * (mahotas.haralick via image_classification.py:312-334). Three of
    * the formulas intentionally follow the 1973 paper's textbook
    * definitions rather than mahotas' exact implementation quirks:
    * sum_variance here is the weighted variance of p_{x+y} about
    * sum_average (mahotas computes it about sum_entropy, the paper's
    * own transcription quirk), diff_variance is the weighted variance
    * of p_{|x−y|} (mahotas takes np.var of the vector), and levels are
    * 0-indexed (mahotas' 1-indexing shifts sum_average by 2). Both
    * engines here agree bit-for-bit with EACH OTHER — the oracle and
    * fixture pin these definitions, not mahotas' outputs. */
  final case class Haralick(
      contrast: Double, energy: Double, homogeneity: Double, entropy: Double,
      correlation: Double, variance: Double, sum_average: Double,
      sum_variance: Double, sum_entropy: Double, diff_variance: Double,
      diff_entropy: Double, imc1: Double, imc2: Double)

  /** GLCM features for one direction (dy, dx): 8-level quantization of
    * 0..255 over a SYMMETRIZED co-occurrence matrix — each pixel pair is
    * counted in both orders, matching mahotas.haralick's symmetric GLCM
    * (so px == py and the correlation denominator is simply σx²).
    * Returns the full 13-feature Haralick set; homogeneity is the
    * inverse difference moment Σ p/(1+(i−j)²) and all entropies use the
    * natural log. Degenerate guards: a constant image has σ² = 0 →
    * correlation = 0, and HX = 0 → imc1 = 0 (mahotas yields NaN there;
    * a defined 0 keeps the distributed output orderable). */
  def glcm(img: Array[Double], w: Int, h: Int, dy: Int, dx: Int): Haralick = {
    val levels = 8
    def lvl(v: Double): Int = math.min((v / 256.0 * levels).toInt, levels - 1)
    val counts = Array.ofDim[Long](levels, levels)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (ny, nx) = (y + dy, x + dx)
        if (ny >= 0 && ny < h && nx >= 0 && nx < w) {
          val (a, b) = (lvl(img(y * w + x)), lvl(img(ny * w + nx)))
          counts(a)(b) += 1
          counts(b)(a) += 1
          total += 2
        }
        x += 1
      }
      y += 1
    }
    // marginals: px(i) (= py(i) by symmetry), p_{x+y}(k), p_{|x−y|}(k)
    val px = new Array[Double](levels)
    val ps = new Array[Double](2 * levels - 1)
    val pd = new Array[Double](levels)
    var contrast = 0.0; var energy = 0.0; var homog = 0.0; var entropy = 0.0
    var sAB = 0.0; var hxy1 = 0.0
    var a = 0
    while (a < levels) {
      var b = 0
      while (b < levels) {
        val p = counts(a)(b).toDouble / total
        px(a) += p; ps(a + b) += p; pd(math.abs(a - b)) += p
        if (p > 0) {
          contrast += (a - b) * (a - b) * p
          energy += p * p
          homog += p / (1 + (a - b) * (a - b))
          entropy -= p * math.log(p)
          sAB += a * b * p
        }
        b += 1
      }
      a += 1
    }
    var mu = 0.0; var hx = 0.0
    a = 0
    while (a < levels) {
      mu += a * px(a)
      if (px(a) > 0) hx -= px(a) * math.log(px(a))
      a += 1
    }
    var variance = 0.0
    a = 0
    while (a < levels) { variance += (a - mu) * (a - mu) * px(a); a += 1 }
    // HXY1/HXY2 need px(i)·py(j) over the full matrix (py = px)
    var hxy2 = 0.0
    a = 0
    while (a < levels) {
      var b = 0
      while (b < levels) {
        val q = px(a) * px(b)
        if (q > 0) {
          hxy2 -= q * math.log(q)
          if (counts(a)(b) > 0) hxy1 -= counts(a)(b).toDouble / total * math.log(q)
        }
        b += 1
      }
      a += 1
    }
    var sumAvg = 0.0; var sumEnt = 0.0
    var k = 0
    while (k < 2 * levels - 1) {
      sumAvg += k * ps(k)
      if (ps(k) > 0) sumEnt -= ps(k) * math.log(ps(k))
      k += 1
    }
    var sumVar = 0.0
    k = 0
    while (k < 2 * levels - 1) { sumVar += (k - sumAvg) * (k - sumAvg) * ps(k); k += 1 }
    var dMean = 0.0; var diffEnt = 0.0
    k = 0
    while (k < levels) {
      dMean += k * pd(k)
      if (pd(k) > 0) diffEnt -= pd(k) * math.log(pd(k))
      k += 1
    }
    var diffVar = 0.0
    k = 0
    while (k < levels) { diffVar += (k - dMean) * (k - dMean) * pd(k); k += 1 }
    val corr = if (variance > 0) (sAB - mu * mu) / variance else 0.0
    val imc1 = if (hx > 0) (entropy - hxy1) / hx else 0.0
    val imc2 = math.sqrt(math.max(0.0, 1.0 - math.exp(-2.0 * (hxy2 - entropy))))
    Haralick(contrast, energy, homog, entropy, corr, variance, sumAvg,
      sumVar, sumEnt, diffVar, diffEnt, imc1, imc2)
  }

  /** The 4 Haralick directions (offset 1). */
  val Directions: Seq[(String, Int, Int)] =
    Seq(("d0", 0, 1), ("d45", -1, 1), ("d90", -1, 0), ("d135", -1, -1))

  final case class GridContour(comp: Int, area: Long, perimeter: Long,
                               extent: Double, eq_diameter: Double,
                               solidity: Double)

  /** Per-row contour kernel for `vec_contours`: threshold the 64-dim
    * vector at its median ((srt[31]+srt[32])/2, 0-indexed), flood-fill
    * 8-connected components over the 8×8 grid in scan order (the seed of
    * each component is therefore its MINIMUM row-major index — exactly
    * the min-label fixpoint the DuckDB recursive-CTE oracle computes),
    * and emit per-component area, exposed-4-edge perimeter, bbox extent,
    * equivalent diameter and convex-hull solidity. Solidity is exact:
    * the hull area of the cell-center points is computed as an INTEGER
    * hull840 = 840·A (shoelace 2A × 420 here; the oracle reproduces the
    * same integer with a different algorithm — a scaled trapezoid sum
    * over the hull's upper/lower envelopes, where scaling by
    * 420 = lcm(1..7) keeps every chord interpolation integral), then
    * solidity = (area·840)/hull840 — one double division on both
    * engines. Degenerate hulls (point/line components) → solidity 0, the
    * same convention as the live contourFeatures kernel. All other
    * doubles derive from exact integers in fixed operation order, so
    * every column is bit-identical across engines. */
  def gridContours(g: Array[Double]): Seq[GridContour] = {
    val srt = g.sorted
    val med = (srt(31) + srt(32)) / 2.0
    val on = g.map(_ > med)
    val comp = Array.fill(64)(-1)
    val out = Seq.newBuilder[GridContour]
    var seed = 0
    while (seed < 64) {
      if (on(seed) && comp(seed) < 0) {
        var stack = List(seed); comp(seed) = seed
        var area = 0L; var perim = 0L
        var cells = List.empty[Int]
        var minr = 7; var maxr = 0; var minc = 7; var maxc = 0
        while (stack.nonEmpty) {
          val p = stack.head; stack = stack.tail
          val (pr, pc) = (p / 8, p % 8)
          area += 1
          cells = p :: cells
          if (pr < minr) minr = pr; if (pr > maxr) maxr = pr
          if (pc < minc) minc = pc; if (pc > maxc) maxc = pc
          // exposed 4-edges: out-of-bounds or off neighbor
          perim += Seq((pr - 1, pc), (pr + 1, pc), (pr, pc - 1), (pr, pc + 1))
            .count { case (r, c) => r < 0 || r > 7 || c < 0 || c > 7 || !on(r * 8 + c) }
          var dr = -1
          while (dr <= 1) {
            var dc = -1
            while (dc <= 1) {
              val (nr, nc) = (pr + dr, pc + dc)
              if ((dr != 0 || dc != 0) && nr >= 0 && nr < 8 && nc >= 0 && nc < 8) {
                val q = nr * 8 + nc
                if (on(q) && comp(q) < 0) { comp(q) = seed; stack = q :: stack }
              }
              dc += 1
            }
            dr += 1
          }
        }
        val hull840 = hullTwiceArea(cells.map(p => (p % 8, p / 8))) * 420L
        out += GridContour(seed, area, perim,
          area.toDouble / ((maxc - minc + 1) * (maxr - minr + 1)).toDouble,
          math.sqrt(4.0 * area.toDouble / 3.141592653589793),
          if (hull840 > 0) (area * 840L).toDouble / hull840.toDouble else 0.0)
      }
      seed += 1
    }
    out.result()
  }

  /** PIL ImageFilter.FIND_EDGES on a uint8 plane (reference
    * image_classification.py:289-310, detect_edges): 3×3 kernel with 8
    * at the center and −1 elsewhere, integer arithmetic, result clamped
    * to [0,255]; the 1-px border is copied from the input (PIL's
    * ImagingFilter does not process frame pixels). */
  def findEdgesU8(img: Array[Int], w: Int, h: Int): Array[Int] = {
    val out = img.clone()
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val i = y * w + x
        val conv = 8 * img(i) - img(i - w - 1) - img(i - w) - img(i - w + 1) -
          img(i - 1) - img(i + 1) - img(i + w - 1) - img(i + w) - img(i + w + 1)
        out(i) = if (conv < 0) 0 else if (conv > 255) 255 else conv
        x += 1
      }
      y += 1
    }
    out
  }

  /** cv2 uint8 RGB→HSV (cvtColor COLOR_RGB2HSV on 8-bit): V = max,
    * S = round(255·(V−min)/V) (0 when V=0), H = round(h°/2) with
    * h° the standard hexagonal hue in [0,360) — giving H ∈ [0,180).
    * Faithful to cv2's definition modulo its fixed-point division
    * tables (cv2 rounds through 12-bit reciprocal tables; here exact
    * real arithmetic rounded half-up, which agrees except on
    * table-quantization knife edges). */
  def rgbToHsvU8(r: Int, g: Int, b: Int): (Int, Int, Int) = {
    val v = math.max(r, math.max(g, b))
    val mn = math.min(r, math.min(g, b))
    val diff = v - mn
    val s = if (v == 0) 0 else math.floor(255.0 * diff / v + 0.5).toInt
    val hDeg =
      if (diff == 0) 0.0
      else if (v == r) { val x = 60.0 * (g - b) / diff; if (x < 0) x + 360.0 else x }
      else if (v == g) 120.0 + 60.0 * (b - r) / diff
      else 240.0 + 60.0 * (r - g) / diff
    val hh = math.floor(hDeg / 2.0 + 0.5).toInt % 180
    (hh, s, v)
  }

  /** The reference's full [30,32,32] joint HSV histogram over uint8 HSV
    * planes (image_classification.py:136-171): bin = (H//6)*1024 +
    * (S//8)*32 + V//8, counts L2-normalized (cv2.normalize default
    * NORM_L2). Returns the SPARSE nonzero (bin → normalized value) map
    * plus the raw L2 norm. */
  def hsvHistogramFull(hsv: Seq[(Int, Int, Int)]): (Map[Int, Double], Double) = {
    val counts = scala.collection.mutable.Map.empty[Int, Long]
    hsv.foreach { case (hh, s, v) =>
      val bin = (hh / 6) * 1024 + (s / 8) * 32 + v / 8
      counts(bin) = counts.getOrElse(bin, 0L) + 1L
    }
    val l2 = math.sqrt(counts.valuesIterator.map(c => c.toDouble * c).sum)
    (counts.iterator.map { case (k, c) => k -> c / l2 }.toMap, l2)
  }

  /** 64-bit average-hash of a 32×32 uint8 plane: 4×4 block sums
    * compared against the global mean in exact integers (bit b set iff
    * 64·blockSum(b) > totalSum — both sides normalized by the same 16
    * pixels, so no division). Returned as two 32-bit halves (the
    * vec_ahash_pairs convention). */
  def aHash64(u8: Array[Int]): (Long, Long) = {
    val block = Array.ofDim[Long](64)
    var p = 0
    while (p < 1024) {
      val (y, x) = (p / 32, p % 32)
      block((y / 4) * 8 + x / 4) += u8(p)
      p += 1
    }
    val tot = block.sum
    var (h1, h2) = (0L, 0L)
    var b = 0
    while (b < 64) {
      if (block(b) * 64 > tot) {
        if (b < 32) h1 |= 1L << b else h2 |= 1L << (b - 32)
      }
      b += 1
    }
    (h1, h2)
  }

  /** 16-bit Walsh–Hadamard perceptual hash over the 8×8 block-sum
    * plane — the live sibling of `vec_whash_pairs`' kernel: coefficient
    * y_i = Σ_j (−1)^popcount(i AND j)·block[j] for i = 1..16 (DC index
    * 0 skipped), bit = sign. Block SUMS (not means) feed the transform:
    * the AC signs are scale-invariant, so the constant 16× factor vs a
    * mean plane changes nothing and everything stays integer. */
  def wHash16(u8: Array[Int]): Int = {
    val block = Array.ofDim[Long](64)
    var p = 0
    while (p < 1024) {
      val (y, x) = (p / 32, p % 32)
      block((y / 4) * 8 + x / 4) += u8(p)
      p += 1
    }
    var sig = 0
    var i = 1
    while (i <= 16) {
      var y = 0L
      var j = 0
      while (j < 64) {
        if (java.lang.Integer.bitCount(i & j) % 2 == 1) y -= block(j)
        else y += block(j)
        j += 1
      }
      if (y > 0) sig |= 1 << (i - 1)
      i += 1
    }
    sig
  }

  final case class AHashRow(file: String, h1: Long, h2: Long,
                            nn_file: String, nn_hamming: Long)

  // ── live queries over the decoded JPEG corpus ────────────────────────

  final case class BlurStats(file: String, mean: Double, std: Double,
                             median: Double, vmin: Double, vmax: Double)
  final case class ContourRow(file: String, contour_idx: Int, perimeter: Double,
                              area: Double, solidity: Double, extent: Double,
                              equivalent_diameter: Double, angle: Double)
  final case class EdgeStats(file: String, edge_mean: Double, edge_max: Long,
                             edge_nonzero: Long)
  final case class HsvHistRow(file: String, nonzero_bins: Long, top_bin: Long,
                              top_val: Double, hist_l2: Double)
  final case class GlcmRow(file: String, direction: String, contrast: Double,
                           energy: Double, homogeneity: Double, entropy: Double,
                           correlation: Double, variance: Double,
                           sum_average: Double, sum_variance: Double,
                           sum_entropy: Double, diff_variance: Double,
                           diff_entropy: Double, imc1: Double, imc2: Double)

  private def decoded(s: SparkSession) = Multimodal.jpegBytes(s)

  val queries: Seq[Q] = Seq(
    // ── S5 live: decode → Gaussian(5,σ=0) → median(5) → F1 stats ──────
    Q(
      "img_blur_stats",
      (s, _) => {
        import s.implicits._
        decoded(s).mapPartitions(_.map { case (f, bytes) =>
          val g = Multimodal.decodeJpegGray32(bytes)
          val b = medianBlur5(gaussianBlur5(g, 32, 32), 32, 32)
          val st = Multimodal.imageStats(f, b)
          BlurStats(f, st.mean, st.std, st.median, st.vmin, st.vmax)
        }).toDF().orderBy("file")
      },
      None
    ),

    // ── F3 live: threshold(127) → external contours → 6 features ──────
    Q(
      "img_contour_features",
      (s, _) => {
        import s.implicits._
        decoded(s).flatMap { case (f, bytes) =>
          val g = Multimodal.decodeJpegGray32(bytes)
          contourFeatures(threshold127(g), 32, 32).zipWithIndex.map { case (c, i) =>
            ContourRow(f, i, c.perimeter, c.area, c.solidity, c.extent,
              c.equivalent_diameter, c.angle)
          }
        }.toDF().orderBy("file", "contour_idx")
      },
      None
    ),

    // ── F5 live: all 13 Haralick features × 4 directions ───────────────
    Q(
      "img_glcm_texture",
      (s, _) => {
        import s.implicits._
        decoded(s).flatMap { case (f, bytes) =>
          val g = Multimodal.decodeJpegGray32(bytes)
          Directions.map { case (name, dy, dx) =>
            val hk = glcm(g, 32, 32, dy, dx)
            GlcmRow(f, name, hk.contrast, hk.energy, hk.homogeneity,
              hk.entropy, hk.correlation, hk.variance, hk.sum_average,
              hk.sum_variance, hk.sum_entropy, hk.diff_variance,
              hk.diff_entropy, hk.imc1, hk.imc2)
          }
        }.toDF().orderBy("file", "direction")
      },
      None
    ),

    // ── F4 live: PIL FIND_EDGES over the decoded 32×32 JPEG plane ──────
    // The exact detect_edges pixel function (kernel 8/−1, clamp, border
    // copy) on round-half-up uint8 gray; per-file edge statistics.
    // Oracle-green twin: vec_find_edges (ops/Extended.scala) — same
    // kernel, 8×8 embeddings grid. ImageSpec pins a hand-computed 4×4
    // fixture and cross-checks one corpus image end to end.
    Q(
      "img_find_edges",
      (s, _) => {
        import s.implicits._
        decoded(s).mapPartitions(_.map { case (f, bytes) =>
          val g = Multimodal.decodeJpegGray32(bytes)
          val u8 = g.map(x => math.floor(x + 0.5).toInt)
          val e = findEdgesU8(u8, 32, 32)
          EdgeStats(f, e.sum / 1024.0, e.max.toLong,
            e.count(_ > 0).toLong)
        }).toDF().orderBy("file")
      },
      None
    ),

    // ── F2 live: full [30,32,32] HSV histogram over 32×32 RGB pixels ───
    // The reference's extract_color_histogram end to end — cv2-faithful
    // uint8 RGB→HSV, joint 30,720-bin histogram, NORM_L2 — summarized
    // per file (dense 30k-row-per-image output is pure zero traffic; the
    // sparse geometry is oracle-proven by vec_histogram_hsv_full).
    // top_bin tie-break: smallest bin id among max-count bins.
    Q(
      "img_hsv_histogram",
      (s, _) => {
        import s.implicits._
        decoded(s).mapPartitions(_.map { case (f, bytes) =>
          val (r, g, b) = Multimodal.decodeJpegRgb32(bytes)
          val hsv = (0 until 1024).map(i => rgbToHsvU8(r(i), g(i), b(i)))
          val (hist, l2) = hsvHistogramFull(hsv)
          val top = hist.toSeq.sortBy { case (bin, v) => (-v, bin) }.head
          HsvHistRow(f, hist.size.toLong, top._1.toLong, top._2, l2)
        }).toDF().orderBy("file")
      },
      None
    ),

    // ── perceptual hash live: aHash of every corpus image + its
    // visual nearest neighbor by Hamming distance. The oracle-green
    // banded form is vec_ahash_pairs (ops/Extended.scala); here the
    // hash runs over real decoded pixels and the 20-image corpus ranks
    // all-pairs (broadcast — a 20-row side; at scale the banded
    // equi-join of the vec form replaces the product). ImageSpec
    // cross-checks the corpus rows against the local kernel.
    Q(
      "img_ahash",
      (s, _) => {
        import s.implicits._
        val hashes = decoded(s).mapPartitions(_.map { case (f, bytes) =>
          val u8 = Multimodal.decodeJpegGray32(bytes).map(x => math.floor(x + 0.5).toInt)
          val (h1, h2) = aHash64(u8)
          (f, h1, h2)
        }).toDF("file", "h1", "h2").transform(GenSnap.snap)
        val other = hashes.toDF("file_b", "b1", "b2")
        hashes.join(broadcast(other), col("file") =!= col("file_b"))
          .select(col("file"), col("h1"), col("h2"), col("file_b"),
            (bit_count(col("h1").bitwiseXOR(col("b1"))) +
              bit_count(col("h2").bitwiseXOR(col("b2")))).cast("long").as("d"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("file")
              .orderBy(col("d").asc, col("file_b").asc)))
          .filter(col("rk") === 1)
          .select(col("file"), col("h1"), col("h2"),
            col("file_b").as("nn_file"), col("d").as("nn_hamming"))
          .orderBy("file")
      },
      None
    ),

    // ── Walsh–Hadamard hash live: frequency-domain dedup on real JPEGs ─
    // The live sibling of the oracle-green vec_whash_pairs: decode,
    // 8×8 block-sum plane, 16-coefficient WHT sign signature, nearest
    // neighbor by Hamming over the 20-image corpus (broadcast product —
    // a 20-row side; at scale the vec form's banded equi-join
    // replaces it). ImageSpec cross-checks the corpus rows against
    // [[wHash16]] and pins a hand fixture.
    Q(
      "img_whash",
      (s, _) => {
        import s.implicits._
        val hashes = decoded(s).mapPartitions(_.map { case (f, bytes) =>
          val u8 = Multimodal.decodeJpegGray32(bytes).map(x => math.floor(x + 0.5).toInt)
          (f, wHash16(u8).toLong)
        }).toDF("file", "sig").transform(GenSnap.snap)
        val other = hashes.toDF("file_b", "sb")
        hashes.join(broadcast(other), col("file") =!= col("file_b"))
          .select(col("file"), col("sig"), col("file_b"),
            bit_count(col("sig").bitwiseXOR(col("sb"))).cast("long").as("d"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("file")
              .orderBy(col("d").asc, col("file_b").asc)))
          .filter(col("rk") === 1)
          .select(col("file"), col("sig"),
            col("file_b").as("nn_file"), col("d").as("nn_hamming"))
          .orderBy("file")
      },
      None
    ),

    // ── S5 oracle form: binomial 3×3 blur over the 8×8 grid ────────────
    // Same pattern as vec_edge_energy (F4): the 64-dim embedding as an
    // 8×8 image, blurred with the separable binomial [1,2,1]/4 kernel
    // over the 6×6 interior; per-vector mean blurred value. Sequential
    // fold, bit-identical in DuckDB, no shuffle.
    Q(
      "vec_blur",
      (s, d) => {
        val v = vec(col("embedding"))
        def at(r: Column, c: Column): Column = element_at(v, (r * 8 + c + 1).cast("int"))
        val blurred = transform(sequence(lit(0), lit(35)), i => {
          val r = (i / 6).cast("long") + 1
          val c = (i % 6) + 1
          (at(r - 1, c - 1) * 1.0 + at(r - 1, c) * 2.0 + at(r - 1, c + 1) * 1.0 +
            at(r, c - 1) * 2.0 + at(r, c) * 4.0 + at(r, c + 1) * 2.0 +
            at(r + 1, c - 1) * 1.0 + at(r + 1, c) * 2.0 + at(r + 1, c + 1) * 1.0) / 16.0
        })
        embeddings(s, d)
          .select(col("vec_id"), (seqSum(blurred) / 36.0).as("blur_mean"))
          .orderBy("vec_id")
      },
      Some {
        val v = sqlVec("embedding")
        val at = (r: String, c: String) => s"$v[CAST(($r) * 8 + ($c) + 1 AS INT)]"
        val rr = "i // 6 + 1"; val cc = "i % 6 + 1"
        val blurred = s"list_transform(range(0, 36), i -> (" +
          s"${at(s"$rr - 1", s"$cc - 1")} * 1.0 + ${at(s"$rr - 1", cc)} * 2.0 + ${at(s"$rr - 1", s"$cc + 1")} * 1.0 + " +
          s"${at(rr, s"$cc - 1")} * 2.0 + ${at(rr, cc)} * 4.0 + ${at(rr, s"$cc + 1")} * 2.0 + " +
          s"${at(s"$rr + 1", s"$cc - 1")} * 1.0 + ${at(s"$rr + 1", cc)} * 2.0 + ${at(s"$rr + 1", s"$cc + 1")} * 1.0) / 16.0)"
        s"""SELECT vec_id, ${sqlSeqSum(blurred)} / 36.0 AS blur_mean
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }
    ),

    // ── F5 oracle form: Haralick GLCM over the 8×8 grid ────────────────
    // 4-level quantization of [-0.5, 0.5); the 56 horizontal neighbor
    // pairs, SYMMETRIZED (each pair in both orders → 112 codes) to match
    // mahotas' symmetric GLCM, so px == py and correlation's denominator
    // is σx². Emits the 8 log-free Haralick features — contrast, energy,
    // homogeneity (inverse difference moment), correlation, variance,
    // sum average, sum variance, difference variance. The 5 log-based
    // features (entropies, IMC1/2) are exercised by the full kernel in
    // img_glcm_texture + ImageSpec; ln() is not bit-stable across libm
    // implementations, so they stay out of the hash-matched form. Every
    // sum here is an exact small integer folded in fixed order, and the
    // feature expressions apply the same double ops in the same order on
    // both engines → bit-identical. Per-row HOFs — no shuffle.
    Q(
      "vec_glcm_texture",
      (s, d) => {
        val v = vec(col("embedding"))
        def lvlOf(x: Column): Column =
          least(greatest(floor((x + 0.5) * 4).cast("int"), lit(0)), lit(3))
        // codes[p] = 4·level(left) + level(right) over the 56 horizontal pairs
        val codesAsym = transform(sequence(lit(0), lit(55)), i => {
          val r = (i / 7).cast("long"); val c = i % 7
          lvlOf(element_at(v, (r * 8 + c + 1).cast("int"))) * 4 +
            lvlOf(element_at(v, (r * 8 + c + 2).cast("int")))
        })
        val codes2 = concat(codesAsym,
          transform(codesAsym, c => (c % 4) * 4 + (c / lit(4)).cast("int")))
        def aOf(c: Column): Column = (c / lit(4)).cast("int")
        def bOf(c: Column): Column = c % 4
        def sumOver(f: Column => Column): Column =
          seqSum(transform(col("codes"), c => f(c).cast("double")))
        def nd(k: Int): Column =
          size(filter(col("codes"), c => abs(aOf(c) - bOf(c)) === k)).cast("long")
        val energyNum = seqSum(transform(sequence(lit(0), lit(15)),
          k => { val n = size(filter(col("codes"), c => c === k)); (n * n).cast("double") }))
        embeddings(s, d)
          .select(col("vec_id"), codes2.as("codes"))
          .select(col("vec_id"),
            (sumOver(c => { val dd = aOf(c) - bOf(c); dd * dd }) / 112.0).as("contrast"),
            (energyNum / 12544.0).as("energy"),
            ((nd(0) / 1.0 + nd(1) / 2.0 + nd(2) / 5.0 + nd(3) / 10.0) / 112.0)
              .as("homogeneity"),
            (sumOver(c => aOf(c) * bOf(c)) / 112.0).as("sab"),
            (sumOver(c => aOf(c)) / 112.0).as("mu"),
            (sumOver(c => aOf(c) * aOf(c)) / 112.0).as("sx2n"),
            (sumOver(c => aOf(c) + bOf(c)) / 112.0).as("sum_average"),
            (sumOver(c => { val t = aOf(c) + bOf(c); t * t }) / 112.0).as("ss2n"),
            (sumOver(c => abs(aOf(c) - bOf(c))) / 112.0).as("sd1n"))
          .withColumn("variance", col("sx2n") - col("mu") * col("mu"))
          .select(col("vec_id"), col("contrast"), col("energy"), col("homogeneity"),
            when(col("variance") === 0.0, 0.0)
              .otherwise((col("sab") - col("mu") * col("mu")) / col("variance"))
              .as("correlation"),
            col("variance"), col("sum_average"),
            (col("ss2n") - col("sum_average") * col("sum_average")).as("sum_variance"),
            (col("contrast") - col("sd1n") * col("sd1n")).as("diff_variance"))
          .orderBy("vec_id")
      },
      Some {
        val v = sqlVec("embedding")
        val lvl = (e: String) => s"least(greatest(CAST(floor(($e + 0.5) * 4) AS INT), 0), 3)"
        val codesAsym = s"list_transform(range(0, 56), i -> " +
          s"${lvl(s"$v[CAST((i // 7) * 8 + (i % 7) + 1 AS INT)]")} * 4 + " +
          s"${lvl(s"$v[CAST((i // 7) * 8 + (i % 7) + 2 AS INT)]")})"
        def sumOver(body: String) = sqlSeqSum(s"list_transform(codes, c -> CAST($body AS DOUBLE))")
        val energy = sqlSeqSum(
          "list_transform(range(0, 16), k -> CAST(len(list_filter(codes, c -> c = k)) * len(list_filter(codes, c -> c = k)) AS DOUBLE))")
        val nd = (d0: Int) => s"len(list_filter(codes, c -> abs((c // 4) - (c % 4)) = $d0))"
        s"""WITH raw AS (SELECT vec_id, $codesAsym AS codes FROM embeddings),
           |q AS (SELECT vec_id,
           |        list_concat(codes, list_transform(codes, c -> (c % 4) * 4 + (c // 4))) AS codes
           |      FROM raw),
           |s AS (SELECT vec_id,
           |  ${sumOver("((c // 4) - (c % 4)) * ((c // 4) - (c % 4))")} / 112.0 AS contrast,
           |  $energy / 12544.0 AS energy,
           |  (${nd(0)} / 1.0 + ${nd(1)} / 2.0 + ${nd(2)} / 5.0 + ${nd(3)} / 10.0) / 112.0 AS homogeneity,
           |  ${sumOver("(c // 4) * (c % 4)")} / 112.0 AS sab,
           |  ${sumOver("c // 4")} / 112.0 AS mu,
           |  ${sumOver("(c // 4) * (c // 4)")} / 112.0 AS sx2n,
           |  ${sumOver("(c // 4) + (c % 4)")} / 112.0 AS sum_average,
           |  ${sumOver("((c // 4) + (c % 4)) * ((c // 4) + (c % 4))")} / 112.0 AS ss2n,
           |  ${sumOver("abs((c // 4) - (c % 4))")} / 112.0 AS sd1n
           |FROM q),
           |vv AS (SELECT *, sx2n - mu * mu AS variance FROM s)
           |SELECT vec_id, contrast, energy, homogeneity,
           |  CASE WHEN variance = 0.0 THEN 0.0
           |       ELSE (sab - mu * mu) / variance END AS correlation,
           |  variance, sum_average,
           |  ss2n - sum_average * sum_average AS sum_variance,
           |  contrast - sd1n * sd1n AS diff_variance
           |FROM vv ORDER BY vec_id""".stripMargin
      }
    ),

    // ── F3 oracle form: contour features over the thresholded 8×8 grid ─
    // Closes the last §2 verification gap: the same component / area /
    // perimeter kernel as img_contour_features (reference
    // image_classification.py:242-287), but over the embeddings grid
    // where DuckDB can replay it exactly. Mask: cell on iff value > the
    // per-vector median ((srt[32]+srt[33])/2 — exact in both engines).
    // Components: 8-connected, labeled by min row-major cell index.
    // SCALE DESIGN: the component graph is ROW-LOCAL (64 cells), so this
    // is a narrow per-row flood fill in mapPartitions — zero shuffles,
    // embarrassingly parallel, unlike a distributed fixpoint whose
    // iteration count would be the max mask diameter over the whole
    // corpus (measured 13 s vs 0.5 s at sf0.1; the distributed
    // min-label kernel lives in graph.Components for graphs that
    // genuinely span rows). Scan-order flood fill provably yields the
    // min-label result: the first unlabeled on-cell of a component is
    // its minimum index, so the independent recursive-CTE min-label
    // oracle checks it unchanged. Features per component: area (cell
    // count), perimeter (exposed 4-edges), extent (area / bbox area),
    // equivalent diameter — fixed-order arithmetic over exact integers
    // → bit-identical doubles.
    Q(
      "vec_contours",
      (s, d) => {
        import s.implicits._
        embeddings(s, d)
          .selectExpr("CAST(vec_id AS LONG) AS vec_id",
            "CAST(embedding AS ARRAY<DOUBLE>) AS g")
          .as[(Long, Array[Double])]
          .flatMap { case (vid, g) =>
            gridContours(g).map { c =>
              (vid, c.comp, c.area, c.perimeter, c.extent, c.eq_diameter,
                c.solidity)
            }
          }
          .toDF("vec_id", "comp", "area", "perimeter", "extent",
            "eq_diameter", "solidity")
          // the reference's 6th feature is a hardcoded 3.14/2
          // (image_classification.py:278) — carried for full parity
          .withColumn("angle", lit(3.14 / 2))
          .orderBy("vec_id", "comp")
      },
      Some {
        val v = sqlVec("embedding")
        s"""WITH RECURSIVE
           |m AS (SELECT vec_id, $v AS g,
           |             (list_sort($v)[32] + list_sort($v)[33]) / 2.0 AS med
           |      FROM embeddings),
           |cells AS (SELECT vec_id, pos FROM (
           |            SELECT vec_id, med,
           |                   CAST(generate_subscripts(g, 1) - 1 AS INT) AS pos,
           |                   unnest(g) AS x
           |            FROM m) WHERE x > med),
           |off(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
           |                       (0,1),(1,-1),(1,0),(1,1)),
           |cand AS (SELECT c.vec_id, c.pos AS a,
           |                CAST(((c.pos // 8) + o.dr) * 8 + ((c.pos % 8) + o.dc) AS INT) AS b,
           |                (o.dr = 0 OR o.dc = 0) AS is4
           |         FROM cells c CROSS JOIN off o
           |         WHERE (c.pos // 8) + o.dr BETWEEN 0 AND 7
           |           AND (c.pos % 8) + o.dc BETWEEN 0 AND 7),
           |e AS (SELECT cand.vec_id, cand.a, cand.b, cand.is4 FROM cand
           |      JOIN cells t ON t.vec_id = cand.vec_id AND t.pos = cand.b),
           |lbl(vec_id, pos, l) AS (
           |  SELECT vec_id, pos, pos FROM cells
           |  UNION
           |  SELECT e.vec_id, e.b, lbl.l FROM lbl
           |  JOIN e ON e.vec_id = lbl.vec_id AND e.a = lbl.pos),
           |comp AS (SELECT vec_id, pos, min(l) AS comp FROM lbl GROUP BY 1, 2),
           |n4 AS (SELECT vec_id, a AS pos, count(*) AS n FROM e
           |       WHERE is4 GROUP BY 1, 2),
           |feat AS (SELECT c.vec_id, comp.comp, count(*) AS area,
           |                CAST(sum(4 - coalesce(n4.n, 0)) AS BIGINT) AS perimeter,
           |                min(c.pos // 8) AS minr, max(c.pos // 8) AS maxr,
           |                min(c.pos % 8) AS minc, max(c.pos % 8) AS maxc
           |         FROM cells c
           |         JOIN comp ON comp.vec_id = c.vec_id AND comp.pos = c.pos
           |         LEFT JOIN n4 ON n4.vec_id = c.vec_id AND n4.pos = c.pos
           |         GROUP BY 1, 2),
           |-- convex-hull area via a scaled trapezoid sum: hull840 = 840·A
           |-- exactly (an algorithm independent of the kernel's shoelace).
           |-- env(x) = the hull's upper/lower boundary at integer x, as
           |-- max/min over single points at x and all chords spanning x;
           |-- chord values are scaled by 420 = lcm(1..7) so every
           |-- interpolation (420 divisible by the chord's x-span) stays an
           |-- exact integer.
           |pts AS (SELECT vec_id, comp, pos % 8 AS x, pos // 8 AS y FROM comp),
           |hc AS (
           |  SELECT vec_id, comp, x, CAST(y AS BIGINT) * 420 AS val FROM pts
           |  UNION ALL
           |  SELECT p.vec_id, p.comp, t.x,
           |         CAST(p.y * (q.x - p.x) + (q.y - p.y) * (t.x - p.x) AS BIGINT)
           |           * (420 // (q.x - p.x)) AS val
           |  FROM pts p
           |  JOIN pts q ON q.vec_id = p.vec_id AND q.comp = p.comp AND q.x > p.x
           |  JOIN (SELECT DISTINCT vec_id, comp, x FROM pts) t
           |    ON t.vec_id = p.vec_id AND t.comp = p.comp
           |   AND t.x BETWEEN p.x AND q.x),
           |env AS (SELECT vec_id, comp, x, max(val) AS u, min(val) AS l
           |        FROM hc GROUP BY 1, 2, 3),
           |hull AS (SELECT e1.vec_id, e1.comp,
           |                sum(e1.u + e2.u - e1.l - e2.l) AS hull840
           |         FROM env e1
           |         JOIN env e2 ON e2.vec_id = e1.vec_id AND e2.comp = e1.comp
           |                    AND e2.x = e1.x + 1
           |         GROUP BY 1, 2)
           |SELECT f.vec_id, f.comp, f.area, f.perimeter,
           |       CAST(f.area AS DOUBLE) /
           |         CAST((f.maxc - f.minc + 1) * (f.maxr - f.minr + 1) AS DOUBLE) AS extent,
           |       sqrt(4.0 * CAST(f.area AS DOUBLE) / 3.141592653589793) AS eq_diameter,
           |       CASE WHEN coalesce(h.hull840, 0) > 0
           |            THEN CAST(f.area * 840 AS DOUBLE) / CAST(h.hull840 AS DOUBLE)
           |            ELSE 0.0 END AS solidity,
           |       3.14 / 2 AS angle
           |FROM feat f
           |LEFT JOIN hull h ON h.vec_id = f.vec_id AND h.comp = f.comp
           |ORDER BY f.vec_id, f.comp""".stripMargin
      }
    )
  )
}
