package graft

import graft.ops.{Image => I, Multimodal}

class ImageSpec extends SparkSpec {

  test("gaussian blur preserves a constant image and the total mass shape") {
    val flat = Array.fill(32 * 32)(100.0)
    val out = I.gaussianBlur5(flat, 32, 32)
    assert(out.forall(v => math.abs(v - 100.0) < 1e-9),
      "binomial kernel is normalized: a constant image is a fixed point")
    // an impulse spreads the separable [1,4,6,4,1]/16 weights
    val imp = Array.fill(32 * 32)(0.0); imp(16 * 32 + 16) = 256.0
    val b = I.gaussianBlur5(imp, 32, 32)
    assert(math.abs(b(16 * 32 + 16) - 256.0 * 36 / 256) < 1e-9) // (6/16)² · 256
    assert(math.abs(b.sum - 256.0) < 1e-9, "blur conserves mass away from borders")
  }

  test("median blur removes salt noise from a flat image") {
    val img = Array.fill(32 * 32)(50.0)
    img(5 * 32 + 5) = 255.0 // single salt pixel
    val out = I.medianBlur5(img, 32, 32)
    assert(out.forall(_ === 50.0))
  }

  test("contour features of a synthetic square match hand computation") {
    // one 10×10 foreground square at (8,8)..(17,17)
    val bin = Array.tabulate(32 * 32) { p =>
      val (y, x) = (p / 32, p % 32); y >= 8 && y < 18 && x >= 8 && x < 18
    }
    val Seq(c) = I.contourFeatures(bin, 32, 32)
    assert(c.area === 100.0)
    assert(c.perimeter === 40.0) // 10 exposed edges per side
    assert(c.extent === 1.0)     // fills its bounding box exactly
    // hull of pixel centers is a 9×9 square → solidity = 100/81
    assert(math.abs(c.solidity - 100.0 / 81.0) < 1e-12)
    assert(math.abs(c.equivalent_diameter - math.sqrt(400.0 / math.Pi)) < 1e-12)
    assert(c.angle === 3.14 / 2) // the reference's hardcoded value
  }

  test("contours: two components are ordered by area descending") {
    val bin = Array.tabulate(32 * 32) { p =>
      val (y, x) = (p / 32, p % 32)
      (y >= 2 && y < 4 && x >= 2 && x < 4) ||   // 2×2
        (y >= 10 && y < 20 && x >= 10 && x < 15) // 10×5
    }
    val cs = I.contourFeatures(bin, 32, 32)
    assert(cs.map(_.area) === Seq(50.0, 4.0))
  }

  test("GLCM of a constant image: zero contrast, full energy and homogeneity") {
    val flat = Array.fill(32 * 32)(100.0)
    val hk = I.glcm(flat, 32, 32, 0, 1)
    assert(hk.contrast === 0.0)
    assert(hk.energy === 1.0)
    assert(hk.homogeneity === 1.0)
    assert(hk.entropy === 0.0)
    assert(hk.correlation === 0.0, "σ² = 0 → guarded to 0")
    assert(hk.variance === 0.0)
    assert(hk.sum_average === 6.0, "all mass at level 3 → i+j = 6")
    assert(hk.sum_variance === 0.0)
    assert(hk.sum_entropy === 0.0)
    assert(hk.diff_variance === 0.0)
    assert(hk.diff_entropy === 0.0)
    assert(hk.imc1 === 0.0, "HX = 0 → guarded to 0")
    assert(hk.imc2 === 0.0)
  }

  test("GLCM of vertical stripes: d0 sees transitions, d90 does not") {
    // alternating columns of level-0 and level-7 gray
    val img = Array.tabulate(32 * 32)(p => if (p % 32 % 2 == 0) 0.0 else 255.0)
    val c0 = I.glcm(img, 32, 32, 0, 1).contrast  // horizontal pairs cross stripes
    val c90 = I.glcm(img, 32, 32, -1, 0).contrast // vertical pairs stay inside
    assert(c0 === 49.0, "every horizontal pair jumps 7 levels → contrast 49")
    assert(c90 === 0.0)
  }

  test("all 13 Haralick features of a 2×2 two-column fixture match hand computation") {
    // img = [0 255; 0 255], d0: two (0,7) pairs, symmetrized → p(0,7) =
    // p(7,0) = 0.5. Hand-derived: px = {0→.5, 7→.5}, μ = 3.5, σ² = 12.25,
    // Σij·p = 0 → correlation = −1; p_{x+y}(7) = 1, p_{|x−y|}(7) = 1;
    // HX = ln2, HXY = ln2, HXY1 = ln4, HXY2 = ln4 →
    // imc1 = (ln2−ln4)/ln2 = −1, imc2 = √(1−e^{−2(ln4−ln2)}) = √0.75.
    val img = Array(0.0, 255.0, 0.0, 255.0)
    val hk = I.glcm(img, 2, 2, 0, 1)
    val eps = 1e-12
    assert(hk.contrast === 49.0)
    assert(hk.energy === 0.5)
    assert(hk.homogeneity === 1.0 / 50.0)
    assert(math.abs(hk.entropy - math.log(2)) < eps)
    assert(hk.correlation === -1.0)
    assert(hk.variance === 12.25)
    assert(hk.sum_average === 7.0)
    assert(hk.sum_variance === 0.0)
    assert(hk.sum_entropy === 0.0)
    assert(hk.diff_variance === 0.0)
    assert(hk.diff_entropy === 0.0)
    assert(math.abs(hk.imc1 - -1.0) < eps)
    assert(math.abs(hk.imc2 - math.sqrt(0.75)) < eps)
  }

  test("live img queries run over the JPEG corpus and match local kernels") {
    val files = jpegCorpus()
    val f = files.head
    val gray = Multimodal.decodeJpegGray32(java.nio.file.Files.readAllBytes(f.toPath))

    val blur = SparkEntry.queries("img_blur_stats")(spark, sf).collect()
    assert(blur.length === files.length)
    val localBlur = Multimodal.imageStats(f.getName,
      I.medianBlur5(I.gaussianBlur5(gray, 32, 32), 32, 32))
    val gotBlur = blur.find(_.getAs[String]("file") == f.getName).get
    assert(gotBlur.getAs[Double]("mean") === localBlur.mean)
    assert(gotBlur.getAs[Double]("std") === localBlur.std)

    val glcm = SparkEntry.queries("img_glcm_texture")(spark, sf).collect()
    assert(glcm.length === files.length * 4)
    val lhk = I.glcm(gray, 32, 32, 0, 1)
    val gotG = glcm.find(r => r.getAs[String]("file") == f.getName &&
      r.getAs[String]("direction") == "d0").get
    assert(gotG.getAs[Double]("contrast") === lhk.contrast)
    assert(gotG.getAs[Double]("energy") === lhk.energy)
    assert(gotG.getAs[Double]("homogeneity") === lhk.homogeneity)
    assert(gotG.getAs[Double]("entropy") === lhk.entropy)
    assert(gotG.getAs[Double]("correlation") === lhk.correlation)
    assert(gotG.getAs[Double]("variance") === lhk.variance)
    assert(gotG.getAs[Double]("sum_average") === lhk.sum_average)
    assert(gotG.getAs[Double]("sum_variance") === lhk.sum_variance)
    assert(gotG.getAs[Double]("sum_entropy") === lhk.sum_entropy)
    assert(gotG.getAs[Double]("diff_variance") === lhk.diff_variance)
    assert(gotG.getAs[Double]("diff_entropy") === lhk.diff_entropy)
    assert(gotG.getAs[Double]("imc1") === lhk.imc1)
    assert(gotG.getAs[Double]("imc2") === lhk.imc2)

    val cont = SparkEntry.queries("img_contour_features")(spark, sf).collect()
    assert(cont.nonEmpty)
    val localCont = I.contourFeatures(I.threshold127(gray), 32, 32)
    val gotC = cont.filter(_.getAs[String]("file") == f.getName)
    assert(gotC.length === localCont.length)
    gotC.zip(localCont).foreach { case (r, c) =>
      assert(r.getAs[Double]("perimeter") === c.perimeter)
      assert(r.getAs[Double]("area") === c.area)
      assert(r.getAs[Double]("solidity") === c.solidity)
    }
  }

  test("PIL FIND_EDGES fixture: impulse saturates, flat field cancels, border copies") {
    // 4×4 uint8 plane, single bright pixel at (1,1)
    val img = Array.fill(16)(10); img(1 * 4 + 1) = 200
    val e = I.findEdgesU8(img, 4, 4)
    assert(e(1 * 4 + 1) === 255, "8·200 − 80 = 1520 clamps to 255")
    assert(e(1 * 4 + 2) === 0, "80 − 270 = −190 clamps to 0")
    assert(e(2 * 4 + 1) === 0)
    assert(e(2 * 4 + 2) === 0)
    // every border pixel is the untouched input value
    val borderIdx = (0 until 16).filter { p =>
      val (y, x) = (p / 4, p % 4); y == 0 || y == 3 || x == 0 || x == 3
    }
    borderIdx.foreach(p => assert(e(p) === img(p)))
    // a constant image maps to itself (interior conv = 0 → clamp 0? no:
    // 8c − 8c = 0, so interior goes to 0 and the border stays)
    val flat = Array.fill(16)(77)
    val ef = I.findEdgesU8(flat, 4, 4)
    assert(ef(1 * 4 + 1) === 0 && ef(0) === 77)
  }

  test("cv2 uint8 RGB→HSV pinned triples") {
    assert(I.rgbToHsvU8(255, 0, 0) === ((0, 255, 255)))
    assert(I.rgbToHsvU8(0, 255, 0) === ((60, 255, 255)))
    assert(I.rgbToHsvU8(0, 0, 255) === ((120, 255, 255)))
    assert(I.rgbToHsvU8(128, 128, 128) === ((0, 0, 128)))
    assert(I.rgbToHsvU8(0, 0, 0) === ((0, 0, 0)))
    // v=r sector with rounding: h° = 60·128/255 = 30.117…, H = 15
    assert(I.rgbToHsvU8(255, 128, 0) === ((15, 255, 255)))
    // negative hue wraps: (255, 0, 128) → h° = 360 − 30.117… → H = 165
    assert(I.rgbToHsvU8(255, 0, 128) === ((165, 255, 255)))
  }

  test("full HSV histogram fixture: bins, sparse counts, L2 norm") {
    val hsv = Seq((0, 255, 255), (0, 255, 255), (0, 255, 255), (60, 255, 255))
    val (hist, l2) = I.hsvHistogramFull(hsv)
    // (0,255,255) → bin 0·1024 + 31·32 + 31 = 1023; (60,…) → 10·1024 + 1023
    assert(hist.keySet === Set(1023, 11263))
    assert(l2 === math.sqrt(10.0))
    assert(math.abs(hist(1023) - 3.0 / math.sqrt(10.0)) < 1e-15)
    assert(math.abs(hist(11263) - 1.0 / math.sqrt(10.0)) < 1e-15)
  }

  test("img_find_edges and img_hsv_histogram match local kernels on the corpus") {
    val files = jpegCorpus()
    val f = files.head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)

    val edges = SparkEntry.queries("img_find_edges")(spark, sf).collect()
    assert(edges.length === files.length)
    val u8 = Multimodal.decodeJpegGray32(bytes).map(x => math.floor(x + 0.5).toInt)
    val le = I.findEdgesU8(u8, 32, 32)
    val gotE = edges.find(_.getAs[String]("file") == f.getName).get
    assert(gotE.getAs[Double]("edge_mean") === le.sum / 1024.0)
    assert(gotE.getAs[Long]("edge_max") === le.max.toLong)
    assert(gotE.getAs[Long]("edge_nonzero") === le.count(_ > 0).toLong)

    val hists = SparkEntry.queries("img_hsv_histogram")(spark, sf).collect()
    assert(hists.length === files.length)
    val (r, g, b) = Multimodal.decodeJpegRgb32(bytes)
    val (hist, l2) = I.hsvHistogramFull(
      (0 until 1024).map(i => I.rgbToHsvU8(r(i), g(i), b(i))))
    val top = hist.toSeq.sortBy { case (bin, v) => (-v, bin) }.head
    val gotH = hists.find(_.getAs[String]("file") == f.getName).get
    assert(gotH.getAs[Long]("nonzero_bins") === hist.size.toLong)
    assert(gotH.getAs[Long]("top_bin") === top._1.toLong)
    assert(gotH.getAs[Double]("top_val") === top._2)
    assert(gotH.getAs[Double]("hist_l2") === l2)
  }

  test("aHash fixture and img_ahash corpus cross-check") {
    // top half dark, bottom half bright → bits 32..63 set exactly
    val half = Array.tabulate(1024)(p => if (p / 32 < 16) 10 else 200)
    val (h1, h2) = I.aHash64(half)
    assert(h1 === 0L, "dark half below mean")
    assert(h2 === 0xFFFFFFFFL, "bright half sets all 32 low bits of h2")
    // constant image: no block exceeds the mean strictly
    val (f1, f2) = I.aHash64(Array.fill(1024)(77))
    assert(f1 === 0L && f2 === 0L)

    val files = jpegCorpus()
    val rows = SparkEntry.queries("img_ahash")(spark, sf).collect()
    assert(rows.length === files.length)
    val f = files.head
    val u8 = Multimodal.decodeJpegGray32(
      java.nio.file.Files.readAllBytes(f.toPath)).map(x => math.floor(x + 0.5).toInt)
    val (lh1, lh2) = I.aHash64(u8)
    val got = rows.find(_.getAs[String]("file") == f.getName).get
    assert(got.getAs[Long]("h1") === lh1)
    assert(got.getAs[Long]("h2") === lh2)
    assert(got.getAs[Long]("nn_hamming") >= 0L &&
      got.getAs[Long]("nn_hamming") <= 64L)
  }

  test("wHash fixture and img_whash corpus cross-check") {
    // constant image: every AC coefficient cancels exactly to 0 → no
    // bit set (sign is strict >)
    assert(I.wHash16(Array.fill(1024)(77)) === 0)
    // left half BRIGHT, right half dark: the alternating-column Walsh
    // functions cancel a half split exactly, but i = 4 (column bit 2)
    // flips sign precisely at the split → y₄ = bright − dark > 0, so
    // bit 3 must be set; the full signature is replayed independently
    val split = Array.tabulate(1024)(p => if (p % 32 < 16) 200 else 10)
    val sig = I.wHash16(split)
    assert((sig & (1 << 3)) !== 0, "the split-aligned coefficient must fire")
    // replay independently with a direct double loop over pixels→blocks
    val block = Array.ofDim[Long](64)
    for (p <- 0 until 1024) block((p / 32 / 4) * 8 + (p % 32) / 4) += split(p)
    var want = 0
    for (i <- 1 to 16) {
      val y = (0 until 64).map(j =>
        if (java.lang.Integer.bitCount(i & j) % 2 == 1) -block(j) else block(j)).sum
      if (y > 0) want |= 1 << (i - 1)
    }
    assert(sig === want)
    assert(sig !== 0, "a hard split must excite some low-sequency sign")

    val files = jpegCorpus()
    val rows = SparkEntry.queries("img_whash")(spark, sf).collect()
    assert(rows.length === files.length)
    val f = files.head
    val u8 = Multimodal.decodeJpegGray32(
      java.nio.file.Files.readAllBytes(f.toPath)).map(x => math.floor(x + 0.5).toInt)
    val got = rows.find(_.getAs[String]("file") == f.getName).get
    assert(got.getAs[Long]("sig") === I.wHash16(u8).toLong)
    assert(got.getAs[Long]("nn_hamming") >= 0L && got.getAs[Long]("nn_hamming") <= 16L)
  }

  test("vec_contours matches a local flood-fill on every sf0.001 vector") {
    // independent local kernel: same mask (value > per-vector median),
    // 8-connected flood fill, min-pos component label, exposed-4-edge
    // perimeter — nothing shared with the DataFrame implementation.
    // Solidity uses the ORACLE's algorithm (scaled trapezoid sum over
    // hull envelopes), so kernel shoelace vs trapezoid cross-check here.
    def local(g: Array[Double]): Map[Int, (Long, Long, Double, Double, Double)] = {
      val srt = g.sorted
      val med = (srt(31) + srt(32)) / 2.0
      val on = g.map(_ > med)
      val comp = Array.fill(64)(-1)
      for (seed <- 0 until 64 if on(seed) && comp(seed) < 0) {
        var stack = List(seed); comp(seed) = seed
        while (stack.nonEmpty) {
          val p = stack.head; stack = stack.tail
          for {
            dr <- -1 to 1; dc <- -1 to 1 if dr != 0 || dc != 0
            nr = p / 8 + dr; nc = p % 8 + dc
            if nr >= 0 && nr < 8 && nc >= 0 && nc < 8
            q = nr * 8 + nc if on(q) && comp(q) < 0
          } { comp(q) = seed; stack = q :: stack }
        }
      }
      (0 until 64).filter(on).groupBy(comp).map { case (lbl, cells) =>
        val perim = cells.map { p =>
          4 - Seq((p / 8 - 1, p % 8), (p / 8 + 1, p % 8),
            (p / 8, p % 8 - 1), (p / 8, p % 8 + 1))
            .count { case (r, c) => r >= 0 && r < 8 && c >= 0 && c < 8 && on(r * 8 + c) }
        }.sum.toLong
        val (rs, cs) = (cells.map(_ / 8), cells.map(_ % 8))
        val area = cells.size.toLong
        val extent = area.toDouble /
          ((cs.max - cs.min + 1) * (rs.max - rs.min + 1)).toDouble
        // hull840 = 840·(hull area) via the trapezoid-envelope algorithm
        val pts = cells.map(p => (p % 8, p / 8))
        def env(x: Int): (Long, Long) = {
          val singles = pts.filter(_._1 == x).map(_._2.toLong * 420L)
          val chords = for {
            p <- pts; q <- pts
            if q._1 > p._1 && p._1 <= x && x <= q._1
          } yield (p._2.toLong * (q._1 - p._1) + (q._2 - p._2).toLong * (x - p._1)) *
            (420L / (q._1 - p._1))
          val all = singles ++ chords
          (all.max, all.min)
        }
        val hull840 = (cs.min until cs.max).map { x =>
          val (u1, l1) = env(x); val (u2, l2) = env(x + 1)
          u1 + u2 - l1 - l2
        }.sum
        val solidity =
          if (hull840 > 0) (area * 840L).toDouble / hull840.toDouble else 0.0
        (lbl, (area, perim, extent,
          math.sqrt(4.0 * area / 3.141592653589793), solidity))
      }
    }
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as g").collect()
      .map(r => r.getAs[Number]("vec_id").longValue() ->
        r.getSeq[Double](1).toArray).toMap
    val got = SparkEntry.queries("vec_contours")(spark, sf).collect()
    val byVec = got.groupBy(_.getAs[Number]("vec_id").longValue())
    assert(byVec.keySet === embs.keySet, "every vector yields components")
    for ((vid, g) <- embs) {
      val want = local(g)
      val rows = byVec(vid).map { r =>
        r.getAs[Number]("comp").intValue() ->
          (r.getAs[Long]("area"), r.getAs[Long]("perimeter"),
            r.getAs[Double]("extent"), r.getAs[Double]("eq_diameter"),
            r.getAs[Double]("solidity"))
      }.toMap
      assert(rows === want, s"vec $vid component features diverge")
    }
  }
}
