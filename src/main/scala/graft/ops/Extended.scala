package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GenSnap

/** Remaining SURVEY.md §2 surface + §2.6 gap operators: the dead-code
  * feature extractors re-expressed over numeric arrays (F2 histogram,
  * F4 edge convolution), the node/edge sink path (S6/S7/S9/S10), and
  * date/time, JSON, as-of-join, and approximate-aggregate operators the
  * reference lacks entirely.
  */
object Extended {

  import Tables._
  import graft.ops.Vector.{seqSum, sqlSeqSum, sqlVec, vec}

  // Per-(session, dir) sketch-table write for agg_sketch_rollup: the
  // per-month HLL sketches are persisted ONCE per session (the pattern's
  // point is that rollups reread stored sketch bytes, not re-derive
  // them), and the pid-scoped directory is deleted at JVM exit so
  // repeated Verify/Bench runs leave no orphans behind.
  private val sketchDirMemo = graft.SessionMemo[String]()

  private def monthlySketchDir(s: SparkSession, d: String): String =
    sketchDirMemo.getOrCompute(s, d) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sketch_" +
        s"${d.replaceAll("[^a-zA-Z0-9]", "_")}_${ProcessHandle.current().pid()}"
      orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"))
        .write.mode("overwrite").parquet(dir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val root = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        }
      }))
      dir
    }

  // Per-(session, dir) KLL quantile-sketch table for agg_quantile_rollup
  // — the quantile counterpart of monthlySketchDir: one DataSketches KLL
  // (k = 200) per (year, month) over o_totalprice, persisted once as a
  // binary column; rollups reread stored sketch BYTES and merge, never
  // the raw fact table. Same pid-scoped cleanup discipline.
  private val kllDirMemo = graft.SessionMemo[String]()

  private def monthlyKllDir(s: SparkSession, d: String): String =
    kllDirMemo.getOrCompute(s, d) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_kll_" +
        s"${d.replaceAll("[^a-zA-Z0-9]", "_")}_${ProcessHandle.current().pid()}"
      orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(expr("kll_sketch_agg_double(CAST(o_totalprice AS DOUBLE), 200)").as("sk"))
        .write.mode("overwrite").parquet(dir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val root = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        }
      }))
      dir
    }

  // ── Z-order (Morton) interleave ──────────────────────────────────────
  /** Morton/Z-order key of two pre-quantized codes in [0, 2^bits):
    * result bit 2i is bit i of `a`, bit 2i+1 is bit i of `b`. Sorting or
    * range-partitioning the write by this key clusters BOTH dimensions
    * at once, so per-file min/max stats prune scans filtered on either —
    * the multi-dimensional layout primitive behind Delta's
    * OPTIMIZE ZORDER (ScaleSpec measures the skipping win). Pure integer
    * bit expressions: codegen'd, engine-portable, oracle-checkable. */
  def zOrderKey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(a.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(b.bitwiseAND(lit(1L << i)), i + 1))
    }

  /** The same interleave as DuckDB SQL (operators &, |, << on BIGINT). */
  def sqlZOrderKey(a: String, b: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"(($a & ${1L << i}) << $i)", s"(($b & ${1L << i}) << ${i + 1})")
    }.mkString(" | ")

  val queries: Seq[Q] = Seq(
    // ── Z-order key computation over orders (layout primitive) ─────────
    // The key a z-ordered table write sorts by: custkey and order-day
    // quantized to 16-bit codes and bit-interleaved. All integer bit
    // ops, whole-stage codegen, bit-identical across engines.
    Q(
      "rel_zorder_key",
      (s, d) =>
        orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"))
          .select(col("o_orderkey"), col("o_custkey"), col("day"),
            zOrderKey(col("o_custkey") % 65536, col("day") % 65536).as("zkey"))
          .orderBy(col("zkey").asc, col("o_orderkey").asc)
          .limit(50),
      Some(s"""WITH q AS (
              |  SELECT o_orderkey, o_custkey,
              |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day
              |  FROM orders)
              |SELECT o_orderkey, o_custkey, day,
              |  ${sqlZOrderKey("(o_custkey % 65536)", "(day % 65536)")} AS zkey
              |FROM q ORDER BY zkey ASC, o_orderkey ASC LIMIT 50""".stripMargin)
    ),

    // ── F2: histogram (reference: 3-D HSV histogram, 30k bins,
    // image_classification.py:136-171 — dead code). Relational form:
    // fixed-width buckets over all embedding values. floor() bucketing
    // is tie-free; clamped to [0, 21] for outliers. At scale this is
    // explode → partial-agg count — the shuffle carries only (bucket,
    // count) pairs per partition.
    Q(
      "vec_histogram",
      (s, d) => {
        val bucket = least(greatest(
          floor((col("x") + 0.5) * 20).cast("long"), lit(-1L)), lit(20L))
        embeddings(s, d)
          .select(explode(vec(col("embedding"))).as("x"))
          .select(bucket.as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("cnt"))
          .orderBy("bucket")
      },
      Some("""SELECT least(greatest(CAST(floor((x + 0.5) * 20) AS BIGINT), -1), 20) AS bucket,
             |  count(*) AS cnt
             |FROM (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),

    // ── F2 via custom TypedImperativeAggregate (the scale path) ────────
    // Same buckets and same ORACLE as vec_histogram, but one long[]
    // buffer per partition and a single merged row per partition on the
    // shuffle — instead of one row per element (see FusedHistogram).
    Q(
      "vec_histogram_fused",
      (s, d) => {
        import org.apache.spark.sql.graft.{Bridge, FusedHistogram}
        val agg = Bridge.column(
          FusedHistogram(Bridge.expression(vec(col("embedding"))), -0.5, 0.5, 20)
            .toAggregateExpression())
        embeddings(s, d)
          .agg(agg.as("hist"))
          .select(posexplode(col("hist")).as(Seq("idx", "cnt")))
          .select((col("idx") - 1).cast("long").as("bucket"), col("cnt"))
          .filter(col("cnt") > 0)
          .orderBy("bucket")
      },
      Some("""SELECT least(greatest(CAST(floor((x + 0.5) * 20) AS BIGINT), -1), 20) AS bucket,
             |  count(*) AS cnt
             |FROM (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),

    // ── F2 fidelity form: 3-channel JOINT histogram + L2 normalize ─────
    // The reference's extract_color_histogram is a 3-D HSV histogram —
    // cv2.calcHist over channels [0,1,2] with [30,32,32] bins, then
    // cv2.normalize (default NORM_L2) and reshape(-1)
    // (image_classification.py:136-171). Same pipeline here at reduced
    // bins [3,4,4] over three 21-dim slices of the embedding as H/S/V
    // stand-ins (the testdata has no color images): joint-bucketize each
    // of the 21 "pixels", count per 48-way joint bin, divide by the
    // vector's L2 norm of counts, emit the flattened (bin, value) rows
    // INCLUDING zero bins, exactly as reshape(-1) would. Counts are
    // exact integers and the L2 norm is one sqrt of an exact integer →
    // bit-identical doubles. Per-row HOFs + a 48-way explode — narrow,
    // no shuffle.
    Q(
      "vec_histogram_hsv",
      (s, d) => {
        val v = vec(col("embedding"))
        def b3(x: Column): Column =
          least(greatest(floor((x + 0.5) * 3).cast("int"), lit(0)), lit(2))
        def b4(x: Column): Column =
          least(greatest(floor((x + 0.5) * 4).cast("int"), lit(0)), lit(3))
        val codes = transform(sequence(lit(0), lit(20)), i => {
          b3(element_at(v, (i + 1).cast("int"))) * 16 +
            b4(element_at(v, (i + 22).cast("int"))) * 4 +
            b4(element_at(v, (i + 43).cast("int")))
        })
        embeddings(s, d)
          .select(col("vec_id"), codes.as("codes"))
          .select(col("vec_id"), col("codes"),
            sqrt(seqSum(transform(sequence(lit(0), lit(47)), k => {
              val n = size(filter(col("codes"), c => c === k))
              (n * n).cast("double")
            }))).as("l2"))
          .select(col("vec_id"), col("codes"), col("l2"),
            explode(sequence(lit(0), lit(47))).as("bin"))
          .select(col("vec_id"), col("bin").cast("long").as("bin"),
            (size(filter(col("codes"), c => c === col("bin"))).cast("double")
              / col("l2")).as("hval"))
          .orderBy("vec_id", "bin")
      },
      Some {
        val v = sqlVec("embedding")
        val b3 = (e: String) => s"least(greatest(CAST(floor(($e + 0.5) * 3) AS INT), 0), 2)"
        val b4 = (e: String) => s"least(greatest(CAST(floor(($e + 0.5) * 4) AS INT), 0), 3)"
        val codes = s"list_transform(range(0, 21), i -> " +
          s"${b3(s"$v[CAST(i + 1 AS INT)]")} * 16 + " +
          s"${b4(s"$v[CAST(i + 22 AS INT)]")} * 4 + " +
          s"${b4(s"$v[CAST(i + 43 AS INT)]")})"
        val l2 = "sqrt(" + sqlSeqSum(
          "list_transform(range(0, 48), k -> CAST(len(list_filter(codes, c -> c = k)) * len(list_filter(codes, c -> c = k)) AS DOUBLE))") + ")"
        s"""WITH q AS (SELECT vec_id, $codes AS codes FROM embeddings),
           |n AS (SELECT vec_id, codes, $l2 AS l2 FROM q)
           |SELECT vec_id, CAST(bin AS BIGINT) AS bin,
           |       CAST(len(list_filter(codes, c -> c = bin)) AS DOUBLE) / l2 AS hval
           |FROM n CROSS JOIN (SELECT unnest(range(0, 48)) AS bin) b
           |ORDER BY vec_id, bin""".stripMargin
      }
    ),

    // ── F4: edge detection (reference: PIL FIND_EDGES 3×3 Laplacian,
    // image_classification.py:289-310 — dead code). The 64-dim vector
    // is treated as an 8×8 grid; edge energy = mean |4x − N−S−E−W| over
    // the 6×6 interior. Pure per-row arithmetic, sequential fold —
    // bit-identical on both engines, no shuffle.
    Q(
      "vec_edge_energy",
      (s, d) => {
        val v = vec(col("embedding"))
        def at(r: Column, c: Column): Column = element_at(v, (r * 8 + c + 1).cast("int"))
        val responses = transform(sequence(lit(0), lit(35)), i => {
          val r = (i / 6).cast("long") + 1
          val c = (i % 6) + 1
          abs(at(r, c) * 4.0 - at(r - 1, c) - at(r + 1, c) - at(r, c - 1) - at(r, c + 1))
        })
        embeddings(s, d)
          .select(col("vec_id"), (seqSum(responses) / 36.0).as("edge_energy"))
          .orderBy("vec_id")
      },
      Some {
        val v = sqlVec("embedding")
        val at = (r: String, c: String) => s"$v[CAST(($r) * 8 + ($c) + 1 AS INT)]"
        val resp = s"list_transform(range(0, 36), i -> " +
          s"abs(${at("i // 6 + 1", "i % 6 + 1")} * 4.0 - ${at("i // 6", "i % 6 + 1")} " +
          s"- ${at("i // 6 + 2", "i % 6 + 1")} - ${at("i // 6 + 1", "i % 6")} " +
          s"- ${at("i // 6 + 1", "i % 6 + 2")}))"
        s"""SELECT vec_id, ${sqlSeqSum(resp)} / 36.0 AS edge_energy
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }
    ),

    // ── F4 full-fidelity: PIL FIND_EDGES semantics (reference:
    // image_classification.py:289-310, detect_edges — ImageFilter
    // .FIND_EDGES is the 8-neighbor Laplacian kernel [-1×8, center 8],
    // integer arithmetic on uint8 pixels, result CLAMPED to [0,255],
    // border pixels copied from the input — PIL's ImagingFilter leaves
    // the 1-px frame untouched). vec_edge_energy keeps the 4-neighbor
    // mean-|response| form; this one reproduces the exact PIL pixel
    // function over the 8×8 grid: quantize each grid value to a uint8
    // level, convolve the 6×6 interior, clamp, copy the border. All
    // integer until the final /64 → bit-identical across engines.
    // The live 32×32 JPEG form is img_find_edges (ops/Image.scala).
    Q(
      "vec_find_edges",
      (s, d) => {
        val v = vec(col("embedding"))
        val lvls = transform(sequence(lit(0), lit(63)), i =>
          least(greatest(
            floor((element_at(v, (i + 1).cast("int")) + 0.5) * 256).cast("long"),
            lit(0L)), lit(255L)))
        def at(i: Column, dr: Int, dc: Int): Column =
          element_at(col("lvl"), (i + lit(dr * 8 + dc) + 1).cast("int"))
        val neighbors = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
        val edges = transform(sequence(lit(0), lit(63)), i => {
          val r = (i / 8).cast("long")
          val c = i % 8
          val conv = neighbors.foldLeft(at(i, 0, 0) * 8L)((acc, d) => acc - at(i, d._1, d._2))
          when(r.between(1, 6) && c.between(1, 6),
            least(greatest(conv, lit(0L)), lit(255L))).otherwise(at(i, 0, 0))
        })
        embeddings(s, d)
          .select(col("vec_id"), lvls.as("lvl"))
          .select(col("vec_id"), edges.as("edges"))
          .select(col("vec_id"),
            (seqSum(transform(col("edges"), e => e.cast("double"))) / 64.0).as("edge_mean"),
            array_max(col("edges")).cast("long").as("edge_max"))
          .orderBy("vec_id")
      },
      Some {
        val v = sqlVec("embedding")
        val neighbors = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
        val conv = "lvl[CAST(i + 1 AS INT)] * 8" +
          neighbors.map { case (dr, dc) => s" - lvl[CAST(i + ${dr * 8 + dc} + 1 AS INT)]" }.mkString
        s"""WITH l AS (
           |  SELECT vec_id, list_transform(range(0, 64), i ->
           |    least(greatest(CAST(floor(($v[CAST(i + 1 AS INT)] + 0.5) * 256) AS BIGINT), 0), 255)) AS lvl
           |  FROM embeddings),
           |e AS (
           |  SELECT vec_id, list_transform(range(0, 64), i ->
           |    CASE WHEN i // 8 BETWEEN 1 AND 6 AND i % 8 BETWEEN 1 AND 6
           |         THEN least(greatest($conv, 0), 255)
           |         ELSE lvl[CAST(i + 1 AS INT)] END) AS edges
           |  FROM l)
           |SELECT vec_id,
           |  ${sqlSeqSum("list_transform(edges, x -> CAST(x AS DOUBLE))")} / 64.0 AS edge_mean,
           |  CAST(list_max(edges) AS BIGINT) AS edge_max
           |FROM e ORDER BY vec_id""".stripMargin
      }
    ),

    // ── F2 full-fidelity: the reference's FULL [30,32,32] HSV binning
    // geometry (image_classification.py:136-171 — hue 30 bins over
    // [0,180), saturation/value 32 bins over [0,256), joint 30,720-way
    // histogram, cv2.normalize NORM_L2, reshape(-1)). vec_histogram_hsv
    // keeps the reduced [3,4,4] teaching form; here the three embedding
    // slices quantize to real uint8-scale channels (h∈[0,180), s,v∈
    // [0,256)) and bucket exactly as cv2 does (bin = channel*bins/range,
    // i.e. h//6, s//8, v//8), joint bin = hb*1024 + sb*32 + vb. With 21
    // "pixels" per vector at most 21 of the 30,720 bins are occupied, so
    // the flattened output is emitted SPARSE (nonzero bins only) — at
    // 100 TB a dense 30,720-row-per-image explode would be pure zero
    // traffic; sparse (bin, l2-normalized value) is the production
    // layout. Counts and their squares are exact integers → one sqrt +
    // one division, bit-identical across engines.
    Q(
      "vec_histogram_hsv_full",
      (s, d) => {
        val v = vec(col("embedding"))
        def ch(x: Column, range: Int): Column =
          least(greatest(floor((x + 0.5) * range).cast("long"), lit(0L)), lit(range - 1L))
        val codes = transform(sequence(lit(0), lit(20)), i => {
          val hb = (ch(element_at(v, (i + 1).cast("int")), 180) / lit(6)).cast("long")
          val sb = (ch(element_at(v, (i + 22).cast("int")), 256) / lit(8)).cast("long")
          val vb = (ch(element_at(v, (i + 43).cast("int")), 256) / lit(8)).cast("long")
          hb * 1024L + sb * 32L + vb
        })
        embeddings(s, d)
          .select(col("vec_id"), codes.as("codes"))
          .select(col("vec_id"), col("codes"),
            sqrt(seqSum(transform(array_distinct(col("codes")), b => {
              val n = size(filter(col("codes"), c => c === b))
              (n * n).cast("double")
            }))).as("l2"))
          .select(col("vec_id"), col("l2"),
            explode(array_distinct(col("codes"))).as("bin"), col("codes"))
          .select(col("vec_id"), col("bin"),
            (size(filter(col("codes"), c => c === col("bin"))).cast("double")
              / col("l2")).as("hval"))
          .orderBy("vec_id", "bin")
      },
      Some {
        val v = sqlVec("embedding")
        def ch(e: String, range: Int): String =
          s"least(greatest(CAST(floor(($e + 0.5) * $range) AS BIGINT), 0), ${range - 1})"
        val codes = s"list_transform(range(0, 21), i -> " +
          s"${ch(s"$v[CAST(i + 1 AS INT)]", 180)} // 6 * 1024 + " +
          s"${ch(s"$v[CAST(i + 22 AS INT)]", 256)} // 8 * 32 + " +
          s"${ch(s"$v[CAST(i + 43 AS INT)]", 256)} // 8)"
        val l2 = "sqrt(" + sqlSeqSum(
          "list_transform(list_distinct(codes), b -> CAST(len(list_filter(codes, c -> c = b)) * len(list_filter(codes, c -> c = b)) AS DOUBLE))") + ")"
        s"""WITH q AS (SELECT vec_id, $codes AS codes FROM embeddings),
           |n AS (SELECT vec_id, codes, $l2 AS l2 FROM q),
           |x AS (SELECT vec_id, codes, l2, unnest(list_distinct(codes)) AS bin FROM n)
           |SELECT vec_id, bin,
           |       CAST(len(list_filter(codes, c -> c = bin)) AS DOUBLE) / l2 AS hval
           |FROM x ORDER BY vec_id, bin""".stripMargin
      }
    ),

    // ── Walsh–Hadamard perceptual hash pairs (frequency-domain dedup) ──
    // The transform-domain member of the perceptual-hash family: where
    // aHash thresholds raw pixels, pHash thresholds DCT coefficients —
    // but the DCT's cosines are transcendental, so no hash built on
    // them can be bit-proven across engines. The Walsh–Hadamard
    // transform is the DCT's INTEGER-EXACT sibling (same
    // energy-compaction role; entries ±1 via Sylvester's construction
    // H[i][j] = (−1)^popcount(i AND j)), so every coefficient
    // y_i = Σ_j ±lvl[j] is an exact BIGINT and the 16-bit signature
    // (sign of coefficients 1..16 — the low-sequency band, DC index 0
    // skipped exactly as pHash skips it) is driver-hashable. Banded
    // search: 4 bands of 4 bits, pigeonhole-complete for Hamming ≤ 3;
    // τ = 2 stays strictly inside the lossless regime. SCALE: at
    // n ≫ 2^16 the 16-bit signature saturates — widen to 32/64
    // coefficients (same construction, wider bands); the quantized lvl
    // staging keeps each coefficient a linear fold, never a matrix op.
    Q(
      "vec_whash_pairs",
      (s, d) => {
        val v = vec(col("embedding"))
        val lvls = transform(sequence(lit(0), lit(63)), i =>
          least(greatest(
            floor((element_at(v, (i + 1).cast("int")) + 0.5) * 256).cast("long"),
            lit(0L)), lit(255L)))
        val staged = embeddings(s, d).select(col("vec_id"), lvls.as("lvl"))
        def coef(i: Int): Column = aggregate(
          sequence(lit(0), lit(63)), lit(0L),
          (a, j) => a + when(bit_count(j.bitwiseAND(lit(i))) % 2 === 1,
              -element_at(col("lvl"), (j + 1).cast("int")))
            .otherwise(element_at(col("lvl"), (j + 1).cast("int"))))
        val withY = staged.select(col("vec_id") +:
          (1 to 16).map(i => coef(i).as(s"y$i")): _*)
        val sig = withY.select(col("vec_id"),
          (1 to 16).map(i =>
            when(col(s"y$i") > 0, lit(1L << (i - 1))).otherwise(lit(0L)))
            .reduce(_ + _).as("sig"))
          .transform(GenSnap.snap)
        val bands = sig.select(col("vec_id"), col("sig"),
          explode(sequence(lit(0), lit(3))).as("band"))
          .select(col("vec_id"), col("sig"), col("band"),
            expr("shiftright(sig, band * 4) & 15").as("nib"))
        val cand = bands.select(col("vec_id").as("id_a"), col("sig").as("sa"),
            col("band"), col("nib"))
          .join(bands.select(col("vec_id").as("id_b"), col("sig").as("sb"),
            col("band"), col("nib")), Seq("band", "nib"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b", "sa", "sb").distinct()
        cand
          .select(col("id_a"), col("id_b"),
            bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
          .filter(col("hamming") <= 2)
          .orderBy("id_a", "id_b")
      },
      Some {
        val lvl = s"list_transform(range(0, 64), i -> " +
          s"least(greatest(CAST(floor((${sqlVec("embedding")}[CAST(i + 1 AS INT)] + 0.5) * 256) AS BIGINT), 0), 255))"
        def coef(i: Int) =
          s"list_reduce(list_transform(range(0, 64), j -> " +
            s"CASE WHEN bit_count(CAST(j AS BIGINT) & $i) % 2 = 1 " +
            s"THEN -lvl[CAST(j + 1 AS INT)] ELSE lvl[CAST(j + 1 AS INT)] END), (a, x) -> a + x)"
        val bitsum = (1 to 16).map(i =>
          s"(CASE WHEN y$i > 0 THEN ${1L << (i - 1)} ELSE 0 END)").mkString(" + ")
        s"""WITH l AS MATERIALIZED (SELECT vec_id, $lvl AS lvl FROM embeddings),
           |ys AS MATERIALIZED (
           |  SELECT vec_id, ${(1 to 16).map(i => s"${coef(i)} AS y$i").mkString(",\n    ")}
           |  FROM l),
           |s AS MATERIALIZED (SELECT vec_id, CAST($bitsum AS BIGINT) AS sig FROM ys)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  CAST(bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS BIGINT) AS hamming
           |FROM s a JOIN s b ON a.vec_id < b.vec_id
           |WHERE bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= 2
           |ORDER BY id_a, id_b""".stripMargin
      }
    ),

    // ── perceptual average-hash near-dup pairs (image dedup) ───────────
    // The multimodal analogue of dedup_simhash_pairs: aHash quantizes
    // each 8×8 grid cell to one bit — cell above the image mean — giving
    // a 64-bit signature whose Hamming distance tracks visual
    // similarity (the classic average-hash; the mean compare is the
    // integer-exact 64·lvl > Σlvl, no division). Banded LSH search:
    // 8 bands of 8 bits, equi-join on (band, byte); by pigeonhole the
    // candidates are COMPLETE for Hamming ≤ 7, and above that the band
    // join is a recall<1 prefilter exactly like the text SimHash/
    // MinHash families (τ=16 here matches this corpus's similarity
    // floor — min candidate Hamming is 15; the lossless regime τ≤7 is
    // the production setting for true visual dups). Signature is
    // emitted as two 32-bit halves (a single 64-bit pack would need
    // bit 63 — BIGINT overflow raises in DuckDB). bit_count is a
    // builtin on both engines; everything is exact integers.
    Q(
      "vec_ahash_pairs",
      (s, d) => {
        val v = vec(col("embedding"))
        val lvls = transform(sequence(lit(0), lit(63)), i =>
          least(greatest(
            floor((element_at(v, (i + 1).cast("int")) + 0.5) * 256).cast("long"),
            lit(0L)), lit(255L)))
        val withBits = embeddings(s, d)
          .select(col("vec_id"), lvls.as("lvl"))
          .select(col("vec_id"), col("lvl"),
            seqSum(transform(col("lvl"), x => x.cast("double"))).cast("long").as("tot"))
          .select(col("vec_id"),
            transform(sequence(lit(0), lit(63)), i =>
              when(element_at(col("lvl"), (i + 1).cast("int")) * 64 > col("tot"), 1L)
                .otherwise(0L)).as("bits"))
        val sig = withBits.select(col("vec_id"),
          transform(sequence(lit(0), lit(7)), b =>
            (0 to 7).map(k =>
              element_at(col("bits"), (b * 8 + k + 1).cast("int")) * lit(1L << k))
              .reduce(_ + _)).as("bytes"))
          .select(col("vec_id"), col("bytes"),
            (element_at(col("bytes"), 1) + element_at(col("bytes"), 2) * 256L +
              element_at(col("bytes"), 3) * 65536L + element_at(col("bytes"), 4) * 16777216L)
              .as("h1"),
            (element_at(col("bytes"), 5) + element_at(col("bytes"), 6) * 256L +
              element_at(col("bytes"), 7) * 65536L + element_at(col("bytes"), 8) * 16777216L)
              .as("h2"))
          .transform(GenSnap.snap)
        val bands = sig.select(col("vec_id"), posexplode(col("bytes")).as(Seq("band", "byte")))
        val cand = bands.toDF("id_a", "band", "byte")
          .join(bands.toDF("id_b", "band", "byte"), Seq("band", "byte"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        val ha = sig.select(col("vec_id").as("id_a"), col("h1").as("a1"), col("h2").as("a2"))
        val hb = sig.select(col("vec_id").as("id_b"), col("h1").as("b1"), col("h2").as("b2"))
        cand.join(ha, "id_a").join(hb, "id_b")
          .select(col("id_a"), col("id_b"),
            (bit_count(col("a1").bitwiseXOR(col("b1"))) +
              bit_count(col("a2").bitwiseXOR(col("b2")))).cast("long").as("hamming"))
          .filter(col("hamming") <= 16)
          .orderBy("id_a", "id_b")
      },
      Some {
        val v = sqlVec("embedding")
        val lvl = s"list_transform(range(0, 64), i -> " +
          s"least(greatest(CAST(floor(($v[CAST(i + 1 AS INT)] + 0.5) * 256) AS BIGINT), 0), 255))"
        s"""WITH l AS MATERIALIZED (SELECT vec_id, $lvl AS lvl FROM embeddings),
           |b AS MATERIALIZED (
           |  SELECT vec_id, list_transform(range(0, 64), i ->
           |    CASE WHEN lvl[CAST(i + 1 AS INT)] * 64 > list_reduce(lvl, (a, x) -> a + x)
           |         THEN 1 ELSE 0 END) AS bits
           |  FROM l),
           |sig AS MATERIALIZED (
           |  SELECT vec_id,
           |    list_transform(range(0, 8), bb -> CAST(${(0 to 7).map(k =>
                  s"bits[CAST(bb * 8 + $k + 1 AS INT)] * ${1L << k}").mkString(" + ")} AS BIGINT)) AS bytes
           |  FROM b),
           |h AS MATERIALIZED (
           |  SELECT vec_id, bytes,
           |    bytes[1] + bytes[2] * 256 + bytes[3] * 65536 + bytes[4] * 16777216 AS h1,
           |    bytes[5] + bytes[6] * 256 + bytes[7] * 65536 + bytes[8] * 16777216 AS h2
           |  FROM sig),
           |bands AS MATERIALIZED (
           |  SELECT vec_id, bb AS band, bytes[CAST(bb + 1 AS INT)] AS byte
           |  FROM h, (SELECT unnest(range(0, 8)) AS bb) r),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.byte = b.byte
           |  WHERE a.vec_id < b.vec_id)
           |SELECT c.id_a, c.id_b,
           |  CAST(bit_count(xor(ha.h1, hb.h1)) + bit_count(xor(ha.h2, hb.h2)) AS BIGINT) AS hamming
           |FROM cand c JOIN h ha ON ha.vec_id = c.id_a JOIN h hb ON hb.vec_id = c.id_b
           |WHERE bit_count(xor(ha.h1, hb.h1)) + bit_count(xor(ha.h2, hb.h2)) <= 16
           |ORDER BY c.id_a, c.id_b""".stripMargin
      }
    ),

    // ── S6/S7/S9/S10: node + relationship sink with truncate-overwrite.
    // The reference writes one node per Bolt round-trip
    // (image_classification.py:217-221) and flushes with DETACH DELETE
    // (database.py:42-48); here the whole graph persists as two
    // partitioned parquet writes (mode=overwrite ≡ truncate), then reads
    // back. At 100 TB the node table would be partitioned by label and
    // bucketed by id — the write path is identical.
    Q(
      "sink_graph_roundtrip",
      (s, d) => {
        val g = graft.graph.ClusterGraph.build(s, d, k = 8)
        val dir = graft.tools.Staging.dir("sink", d)
        g.nodes.write.mode("overwrite").partitionBy("label").parquet(s"$dir/nodes")
        g.edges.write.mode("overwrite").parquet(s"$dir/edges")
        val nodes = s.read.parquet(s"$dir/nodes")
        val edges = s.read.parquet(s"$dir/edges")
        nodes.groupBy("label").agg(count(lit(1)).as("cnt"))
          .unionByName(edges.select(lit("__edges__").as("label"))
            .groupBy("label").agg(count(lit(1)).as("cnt")))
          .orderBy("label")
      },
      Some("""SELECT 'Centroid' AS label, 8 AS cnt
             |UNION ALL SELECT 'Image', count(*) FROM embeddings
             |UNION ALL SELECT '__edges__', count(*) FROM embeddings
             |ORDER BY label""".stripMargin)
    ),

    // ── CSV + JSON source/sink round-trips ─────────────────────────────
    // The engine's source surface beyond parquet: documents written as
    // JSON-lines and CSV, read back through the respective sources with
    // explicit schemas, aggregated identically. (The reference's only
    // sources are a directory scan and a pickle file, S1/S2.)
    Q(
      "src_json_csv_roundtrip",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "lang", "n_chars")
        val dir = graft.tools.Staging.dir("src", d)
        base.write.mode("overwrite").json(s"$dir/json")
        base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
        val fromJson = s.read.schema(base.schema).json(s"$dir/json")
        val fromCsv = s.read.schema(base.schema).option("header", "true").csv(s"$dir/csv")
        fromJson.select(col("lang"), col("n_chars"), lit("json").as("src"))
          .unionByName(fromCsv.select(col("lang"), col("n_chars"), lit("csv").as("src")))
          .groupBy("src", "lang")
          .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
          .orderBy("src", "lang")
      },
      Some("""SELECT src, lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM (SELECT lang, n_chars, 'json' AS src FROM documents
             |      UNION ALL
             |      SELECT lang, n_chars, 'csv' AS src FROM documents)
             |GROUP BY src, lang ORDER BY src, lang""".stripMargin)
    ),

    // ── GRFT custom DataSource V2 round-trip ───────────────────────────
    // The engine's own binary source/sink (graft.sources.Grft — the
    // reference's S2 CIFAR-batch record shape as a DSv2 with byte-range
    // splits, column pruning and filter pushdown; pruning/pushdown/split
    // planning are plan-asserted in SourceSpec). The driver-gated claim
    // here is FIDELITY: embeddings → grft → read back, joined to the
    // original on vec_id, per-label counts + id sums + a per-row
    // float32-exact embedding comparison — all BIGINT, and the oracle's
    // vec_exact = count(*) asserts every row survives bit-identically.
    Q(
      "src_grft_roundtrip",
      (s, d) => {
        val base = embeddings(s, d).select("vec_id", "label", "embedding")
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_grft_" +
          s"${d.replaceAll("[^a-zA-Z0-9]", "_")}_${ProcessHandle.current().pid()}"
        base.write.format("grft").mode("overwrite").save(dir)
        s.read.format("grft").load(dir)
          .join(base.select(col("vec_id"), col("embedding").as("orig")), "vec_id")
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum(col("vec_id")).as("id_sum"),
            sum(when(col("embedding") === col("orig"), 1).otherwise(0)).as("vec_exact"))
          .orderBy("label")
      },
      Some("""SELECT label, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
             |       CAST(count(*) AS BIGINT) AS vec_exact
             |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)
    ),

    // ── ORC source/sink round-trip ─────────────────────────────────────
    // The third columnar format (orc-core ships with Spark): DECIMAL and
    // timestamp columns must survive the ORC writer/reader exactly —
    // verified by aggregating the round-tripped frame against the oracle
    // over the original table.
    Q(
      "src_orc_roundtrip",
      (s, d) => {
        val base = orders(s, d).filter(col("o_custkey") <= 50)
          .select(col("o_orderpriority"), dec(col("o_totalprice")).as("price"))
        // keyed by sf AND process: two JVMs on the same sf (Verify + a
        // test run) must not overwrite each other's files mid-read.
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
          s"${d.replaceAll("[^a-zA-Z0-9]", "_")}_${ProcessHandle.current().pid()}"
        base.write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum(col("price")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, count(*) AS cnt,
              |       CAST(sum(${decSql("o_totalprice")}) AS DOUBLE) AS sum_price
              |FROM orders WHERE o_custkey <= 50
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    // ── date/time functions (§2.6 gap) ─────────────────────────────────
    // The DECIMAL sum stays exact/order-free internally; the FINAL value
    // is cast to DOUBLE on both engines because Spark widens
    // sum(DECIMAL(18,2)) to DECIMAL(28,2) vs DuckDB's (38,2) and the
    // comparator compares renderings. Sums here are < 2^53 cents, so the
    // decimal→double conversion is exact and bit-identical.
    Q(
      "dt_orders_by_month",
      (s, d) =>
        orders(s, d)
          .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
          .orderBy("yr", "mo"),
      Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
              |  count(*) AS cnt, CAST(sum(${decSql("o_totalprice")}) AS DOUBLE) AS revenue
              |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)
    ),

    // ── recursive CTE EXECUTED BY SPARK (4.x WITH RECURSIVE) ───────────
    // The engine's iterative graph queries run as driver-looped
    // DataFrame fixpoints; this query demonstrates the DECLARATIVE
    // iteration surface Spark 4 added — WITH RECURSIVE (UNION ALL +
    // monotone guard) executed by Catalyst itself, not a driver loop.
    // A recursive month-series generator left-joined to orders: the
    // same recursion DuckDB runs, so the oracle is the structurally
    // identical statement. (Cycle-safe UNION recursion is not yet in
    // Spark — the guard bounds this one — so graph closures stay on the
    // driver-loop kernels.)
    Q(
      "rel_recursive_series",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("graft_rec_orders")
        s.sql("""WITH RECURSIVE months(m) AS (
                |  SELECT DATE '1992-01-01' AS m
                |  UNION ALL
                |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
                |  WHERE m < DATE '1998-12-01'
                |)
                |SELECT m, count(o_orderkey) AS n_orders
                |FROM months LEFT JOIN graft_rec_orders
                |  ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
                |GROUP BY m ORDER BY m""".stripMargin)
      },
      Some("""WITH RECURSIVE months(m) AS (
             |  SELECT DATE '1992-01-01' AS m
             |  UNION ALL
             |  SELECT CAST(m + INTERVAL '1 month' AS DATE) FROM months
             |  WHERE m < DATE '1998-12-01'
             |)
             |SELECT m, count(o_orderkey) AS n_orders
             |FROM months LEFT JOIN orders
             |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
             |GROUP BY m ORDER BY m""".stripMargin)
    ),

    // ── JSON functions (§2.6 gap): extract typed field from props ──────
    Q(
      "json_props_extract",
      (s, d) => {
        graft.ops.Events.eventsUs(s, d)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // ── VARIANT semi-structured extraction (Spark 4 type) ──────────────
    // The modern path for the same JSON props: parse ONCE into the
    // binary VARIANT encoding (parse_json), then typed variant_get
    // extractions — at scale this replaces per-path get_json_object
    // re-parses with one decode per row, and a VARIANT column persisted
    // to parquet is shredded/pruned like any other. Same aggregation as
    // json_props_extract, so the values tie the two extraction paths
    // together; the oracle reads the raw JSON.
    Q(
      "json_variant_extract",
      (s, d) => {
        graft.ops.Events.eventsUs(s, d)
          .select(col("event_type"), parse_json(col("props")).as("v"))
          .select(col("event_type"),
            expr("variant_get(v, '$.k', 'bigint')").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            (sum(col("k") * col("k")) - sum(col("k"))).as("ssq_minus_sum"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  CAST(sum(k * k) - sum(k) AS BIGINT) AS ssq_minus_sum
             |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // ── as-of join (§2.6 gap): latest signup at or before each purchase.
    // NOT a range join: one window pass carries the running max signup
    // time per user — the O(n log n) shape that survives 100 TB (single
    // shuffle on user_id, single sort, no pair explosion).
    Q(
      "evt_asof_join",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        graft.ops.Events.eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("last_signup_us",
            max(when(col("event_type") === "signup", col("us"))).over(w))
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "us", "last_signup_us")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, us, last_signup_us FROM (
              |  SELECT event_id, user_id, event_type, epoch_us(${graft.ops.Events.sqlTs}) AS us,
              |    max(CASE WHEN event_type = 'signup' THEN epoch_us(${graft.ops.Events.sqlTs}) END)
              |      OVER (PARTITION BY user_id ORDER BY epoch_us(${graft.ops.Events.sqlTs}), event_id
              |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_us
              |  FROM events)
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)
    ),

    // ── as-of join, NATIVE operator form ───────────────────────────────
    // The same semantics as evt_asof_join, executed by the custom
    // whole-operator Catalyst extension (AsOfJoinPlan → AsOfJoinStrategy
    // → AsOfJoinExec, org.apache.spark.sql.graft.AsOfJoin): hash
    // exchanges + per-partition (key, time) sorts planned by Catalyst
    // from the operator's requirements, then ONE forward merge per
    // co-partition with O(1) state — no union, no carry-forward window.
    // EXACTNESS is driver-proven by sharing evt_asof_join's oracle
    // verbatim (the salted-variant convention): the testdata has no
    // same-microsecond signup/purchase pair for any user, so the window
    // form's event_id tie-break and the pure time-based merge coincide.
    // Honest cost note: locally both forms are sub-second at sf0.1 and
    // the window form is ~2× cheaper (one shuffle of the concatenated
    // stream vs two smaller per-side shuffles + an interpreted merge);
    // the native shape wins when the sides differ in width/size (each
    // sorts only its own columns) — and it is the tier-(c) ladder
    // demonstration.
    Q(
      "evt_asof_join_native",
      (s, d) => {
        val ev = graft.ops.Events.eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "us")
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("us").as("last_signup_us"))
        graft.plans.AsOf.join(purchases, signups, Seq("user_id"),
            leftTime = "us", rightTime = "last_signup_us",
            carried = Seq("last_signup_us"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, us, last_signup_us FROM (
              |  SELECT event_id, user_id, event_type, epoch_us(${graft.ops.Events.sqlTs}) AS us,
              |    max(CASE WHEN event_type = 'signup' THEN epoch_us(${graft.ops.Events.sqlTs}) END)
              |      OVER (PARTITION BY user_id ORDER BY epoch_us(${graft.ops.Events.sqlTs}), event_id
              |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_us
              |  FROM events)
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)
    ),

    // ── as-of join, FORWARD direction ──────────────────────────────────
    // The native operator's direction="forward" mode (the merge_asof
    // surface): for each purchase, the EARLIEST signup at or after it.
    // Oracle is the symmetric window composition (min over the FOLLOWING
    // frame) — exact for the same reason the backward pair is: the
    // testdata has no same-microsecond signup/purchase pair, so the
    // window's event_id tie-break and the pure time merge coincide.
    Q(
      "evt_asof_join_forward",
      (s, d) => {
        val ev = graft.ops.Events.eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "us")
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("us").as("next_signup_us"))
        graft.plans.AsOf.join(purchases, signups, Seq("user_id"),
            leftTime = "us", rightTime = "next_signup_us",
            carried = Seq("next_signup_us"), direction = "forward")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, us, next_signup_us FROM (
              |  SELECT event_id, user_id, event_type, epoch_us(${graft.ops.Events.sqlTs}) AS us,
              |    min(CASE WHEN event_type = 'signup' THEN epoch_us(${graft.ops.Events.sqlTs}) END)
              |      OVER (PARTITION BY user_id ORDER BY epoch_us(${graft.ops.Events.sqlTs}), event_id
              |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_signup_us
              |  FROM events)
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)
    ),

    // ── as-of join, NEAREST direction ──────────────────────────────────
    // direction="nearest": whichever of {latest signup ≤ t, earliest
    // signup ≥ t} is closer in time, equal gaps breaking backward. The
    // oracle composes BOTH window forms and replays the same
    // gap-comparison rule — a full cell-exact DuckDB check of the
    // three-way candidate selection, not just of one direction.
    Q(
      "evt_asof_join_nearest",
      (s, d) => {
        val ev = graft.ops.Events.eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "us")
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("us").as("near_signup_us"))
        graft.plans.AsOf.join(purchases, signups, Seq("user_id"),
            leftTime = "us", rightTime = "near_signup_us",
            carried = Seq("near_signup_us"), direction = "nearest")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, us,
              |  CASE WHEN last_s IS NOT NULL AND (next_s IS NULL OR us - last_s <= next_s - us)
              |       THEN last_s ELSE next_s END AS near_signup_us
              |FROM (
              |  SELECT event_id, user_id, event_type, epoch_us(${graft.ops.Events.sqlTs}) AS us,
              |    max(CASE WHEN event_type = 'signup' THEN epoch_us(${graft.ops.Events.sqlTs}) END)
              |      OVER (PARTITION BY user_id ORDER BY epoch_us(${graft.ops.Events.sqlTs}), event_id
              |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_s,
              |    min(CASE WHEN event_type = 'signup' THEN epoch_us(${graft.ops.Events.sqlTs}) END)
              |      OVER (PARTITION BY user_id ORDER BY epoch_us(${graft.ops.Events.sqlTs}), event_id
              |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_s
              |  FROM events)
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)
    ),

    // ── as-of join, STRICT NEAREST (the last merge_asof matrix cell) ──
    // direction="nearest" + allowExactMatches=false: the closer of
    // {latest STRICTLY earlier, earliest STRICTLY later} right row —
    // the two-slot merge (AsOfJoin.scala). Times are HOUR buckets so
    // the testdata genuinely exercises strictness (39 purchases at
    // sf0.01 share an hour with a click of the same user; microsecond
    // times have zero collisions and would make strict ≡ non-strict).
    // The oracle's RANGE frames are VALUE-based — `1 PRECEDING` over
    // ORDER BY h means h' ≤ h−1, exactly the strict bound, immune to
    // peer-row ordering — and the payload is the hour itself, so
    // equal-time payload ties cannot appear in the compared cells.
    Q(
      "evt_asof_join_nearest_strict",
      (s, d) => {
        val ev = graft.ops.Events.eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("h"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "h")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("h").as("near_click_h"))
        graft.plans.AsOf.join(purchases, clicks, Seq("user_id"),
            leftTime = "h", rightTime = "near_click_h",
            carried = Seq("near_click_h"), direction = "nearest",
            allowExactMatches = false)
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, h,
              |  CASE WHEN last_h IS NOT NULL AND (next_h IS NULL OR h - last_h <= next_h - h)
              |       THEN last_h ELSE next_h END AS near_click_h
              |FROM (
              |  SELECT event_id, user_id, event_type, h,
              |    max(CASE WHEN event_type = 'click' THEN h END)
              |      OVER (PARTITION BY user_id ORDER BY h
              |            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_h,
              |    min(CASE WHEN event_type = 'click' THEN h END)
              |      OVER (PARTITION BY user_id ORDER BY h
              |            RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_h
              |  FROM (SELECT event_id, user_id, event_type,
              |          epoch_us(${graft.ops.Events.sqlTs}) // 3600000000 AS h
              |        FROM events WHERE event_type IN ('purchase', 'click')))
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)
    ),

    // ── as-of join with TOLERANCE (bounded-staleness backward) ─────────
    // The last merge_asof knob to reach the driver gate (EdgeCaseSpec
    // covers it unit-level): backward join of each purchase to the
    // user's latest click, but a candidate older than 24 h is rejected →
    // NULL. Backward picks the minimal-gap earlier row, so the bound is
    // equivalently applied to the window-composition oracle's picked
    // value (if the latest earlier click is too old, every earlier one
    // is). Microsecond times have zero cross-type collisions in the
    // testdata, so the row-frame oracle and the time-based merge
    // coincide; the 24 h bound nulls a meaningful fraction (median
    // purchase→click gap is ~36 h at sf0.01).
    Q(
      "evt_asof_join_tolerance",
      (s, d) => {
        val ev = graft.ops.Events.eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "us")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("us").as("recent_click_us"))
        graft.plans.AsOf.join(purchases, clicks, Seq("user_id"),
            leftTime = "us", rightTime = "recent_click_us",
            carried = Seq("recent_click_us"), direction = "backward",
            tolerance = Some(86400000000L))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, us,
              |  CASE WHEN us - last_c <= 86400000000 THEN last_c END AS recent_click_us
              |FROM (
              |  SELECT event_id, user_id, event_type, epoch_us(${graft.ops.Events.sqlTs}) AS us,
              |    max(CASE WHEN event_type = 'click' THEN epoch_us(${graft.ops.Events.sqlTs}) END)
              |      OVER (PARTITION BY user_id ORDER BY epoch_us(${graft.ops.Events.sqlTs}), event_id
              |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_c
              |  FROM events)
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)
    ),

    // ── corr / covar_pop (SURVEY.md Note D): the reference's corrcoef/
    // cov "features" are degenerate (row-0-only); these are the
    // well-defined analogues between embedding dims 1 and 2 per label.
    // Doubles are floor-quantized to 2^20 units → all five sufficient
    // statistics are exact BIGINT sums (order-free, partial-agg-safe);
    // the closed forms evaluate in double from exact integers, so both
    // engines get bit-identical results.
    Q(
      "vec_dim_corr",
      (s, d) => {
        val q = (c: Column) => floor(c * 1048576.0).cast("long")
        val x = q(element_at(vec(col("embedding")), 1))
        val y = q(element_at(vec(col("embedding")), 2))
        embeddings(s, d)
          .select(col("label"), x.as("x"), y.as("y"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
          .select(col("label"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
              .as("corr_q"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("n")).cast("double") / 1048576.0 / 1048576.0)
              .as("covar_pop_q"))
          .orderBy("label")
      },
      Some("""WITH q AS (
             |  SELECT label,
             |    CAST(floor((embedding::DOUBLE[])[1] * 1048576) AS BIGINT) AS x,
             |    CAST(floor((embedding::DOUBLE[])[2] * 1048576) AS BIGINT) AS y
             |  FROM embeddings),
             |stats AS (
             |  SELECT label, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM q GROUP BY label)
             |SELECT label,
             |  CAST(n * sxy - sx * sy AS DOUBLE) /
             |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_q,
             |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * n AS DOUBLE) / 1048576 / 1048576 AS covar_pop_q
             |FROM stats ORDER BY label""".stripMargin)
    ),

    // ── array-function battery over the embedding lists ────────────────
    // Final projection is scalar-only for the driver comparator: the
    // slice() result is read back element-wise (doubles stay float64 →
    // bit-checked), the integer sequence is serialized "5,4,3,2,1"
    // (integer→string is format-identical on both engines).
    Q(
      "vec_array_funcs",
      (s, d) => {
        val v = vec(col("embedding"))
        val head3 = slice(v, 1, 3)
        embeddings(s, d)
          .filter(col("vec_id") < 50)
          .select(
            col("vec_id"),
            size(v).as("n"),
            element_at(v, 1).as("first"),
            element_at(v, -1).as("last"),
            element_at(head3, 2).as("head3_2"),
            element_at(head3, 3).as("head3_3"),
            size(filter(v, x => x > 0.0)).as("n_pos"),
            array_position(sort_array(v), array_max(v)).as("max_rank"),
            array_join(transform(reverse(sequence(lit(1), lit(5))), _.cast("string")), ",")
              .as("seq_rev"))
          .orderBy("vec_id")
      },
      Some {
        val v = sqlVec("embedding")
        s"""SELECT vec_id, len($v) AS n, $v[1] AS first, $v[-1] AS last,
           |  ($v[1:3])[2] AS head3_2, ($v[1:3])[3] AS head3_3,
           |  len(list_filter($v, x -> x > 0.0)) AS n_pos,
           |  CAST(list_position(list_sort($v), list_aggregate($v, 'max')) AS BIGINT) AS max_rank,
           |  array_to_string(list_transform(list_reverse(range(1, 6)), x -> CAST(x AS VARCHAR)), ',') AS seq_rev
           |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin
      }
    ),

    // ── map functions (§2.6 gap): build/inspect/fold MapType columns ──
    // status→count map per returnflag via map_from_entries over a SORTED
    // entry list (deterministic key order), then scalar-only projections
    // (size, joined keys, element_at lookup, map_values fold, map_filter)
    // — the comparator hashes scalar cells only. The oracle computes the
    // same scalars map-free from the grouped counts.
    Q(
      "rel_map_funcs",
      (s, d) => {
        val counts = lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"))
        val m = map_from_entries(
          sort_array(collect_list(struct(col("l_linestatus"), col("cnt")))))
        counts.groupBy("l_returnflag")
          .agg(m.as("m"))
          .select(col("l_returnflag"),
            size(col("m")).as("n_status"),
            array_join(map_keys(col("m")), ",").as("statuses"),
            coalesce(element_at(col("m"), "O"), lit(0L)).as("o_cnt"),
            aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("total"),
            size(map_filter(col("m"), (_, v) => v > 1000)).as("big_statuses"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_linestatus, count(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT l_returnflag,
             |  CAST(count(*) AS INT) AS n_status,
             |  string_agg(l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
             |  CAST(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN cnt END), 0) AS BIGINT) AS o_cnt,
             |  CAST(sum(cnt) AS BIGINT) AS total,
             |  CAST(count_if(cnt > 1000) AS INT) AS big_statuses
             |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // ── quantile sketch with a RANK-ERROR certificate ──────────────────
    // agg_approx bounds the approximate median by 5% of the VALUE — a
    // loose cross-check. percentile_approx's actual contract is a RANK
    // guarantee: with accuracy a, the returned datum's rank is within
    // n/a of ⌈q·n⌉. This query verifies that contract directly, per
    // return flag and per quantile {0.5, 0.99}: the exact order
    // statistics at ranks k ± margin (margin = max(⌈2n/a⌉, 2)) bracket
    // the sketch output, and the bracket VALUES — data points, not
    // float sums — hash-match cell-for-cell while the oracle pins the
    // in-bracket booleans TRUE. Rank lookups are the rel_percentile_cont
    // join shape (no collect_list; the per-group window holds because
    // groups are the partition key — a single GLOBAL quantile at scale
    // swaps the window for text_weighted_sample's two-level bucket
    // prefix scan). At 100 TB the sketch is the one-pass
    // partial-mergeable operator you actually run; the exact bracket is
    // the audit you run once per release.
    Q(
      "agg_quantile_sketch",
      (s, d) => {
        val li = lineitem(s, d)
          .select(col("l_returnflag").as("rf"),
            col("l_extendedprice").cast("double").as("x"))
        val ranked = li.withColumn("rn",
          row_number().over(Window.partitionBy("rf").orderBy(col("x").asc)))
          .transform(GenSnap.snap) // four rank lookups read one materialization
        val stats = li.groupBy("rf").agg(
          count(lit(1)).as("n"),
          percentile_approx(col("x"), array(lit(0.5), lit(0.99)), lit(10000))
            .as("ap"))
          .withColumn("margin",
            greatest(ceil(col("n") * 2 / 10000).cast("long"), lit(2L)))
        def bracket(q: Double, i: Int, name: String) = {
          val k = (floor(lit(q) * (col("n") - 1)) + 1).cast("long")
          val kg = stats.select(col("rf"),
            greatest(k - col("margin"), lit(1L)).as("klo"),
            least(k + col("margin"), col("n")).as("khi"),
            col("ap").getItem(i).as("apx"))
          kg.join(ranked.select(col("rf").as("rl"), col("rn").as("rnl"),
                col("x").as(s"${name}_lo")),
              col("rl") === col("rf") && col("rnl") === col("klo"))
            .join(ranked.select(col("rf").as("rh"), col("rn").as("rnh"),
                col("x").as(s"${name}_hi")),
              col("rh") === col("rf") && col("rnh") === col("khi"))
            .select(col("rf"), col(s"${name}_lo"), col(s"${name}_hi"),
              (col("apx") >= col(s"${name}_lo") &&
                col("apx") <= col(s"${name}_hi")).as(s"${name}_in_bracket"))
        }
        bracket(0.5, 0, "p50").join(bracket(0.99, 1, "p99"), "rf")
          .select(col("rf").as("l_returnflag"),
            col("p50_lo"), col("p50_hi"), col("p50_in_bracket"),
            col("p99_lo"), col("p99_hi"), col("p99_in_bracket"))
          .orderBy("l_returnflag")
      },
      Some {
        def bracketSql(q0: String, name: String) =
          s"""${name}kg AS (
             |  SELECT rf,
             |    greatest(CAST(floor(CAST($q0 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 - margin, 1) AS klo,
             |    least(CAST(floor(CAST($q0 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 + margin, n) AS khi
             |  FROM stats),
             |$name AS (
             |  SELECT kg.rf, lo.x AS ${name}_lo, hi.x AS ${name}_hi
             |  FROM ${name}kg kg
             |  JOIN ranked lo ON lo.rf = kg.rf AND lo.rn = kg.klo
             |  JOIN ranked hi ON hi.rf = kg.rf AND hi.rn = kg.khi)""".stripMargin
        s"""WITH li AS (SELECT l_returnflag AS rf, CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
           |ranked AS (SELECT rf, x, row_number() OVER (PARTITION BY rf ORDER BY x) AS rn FROM li),
           |stats AS (SELECT rf, CAST(count(*) AS BIGINT) AS n,
           |            greatest(CAST(ceil(count(*) * 2 / 10000) AS BIGINT), 2) AS margin
           |          FROM li GROUP BY rf),
           |${bracketSql("0.5", "p50")},
           |${bracketSql("0.99", "p99")}
           |SELECT p50.rf AS l_returnflag,
           |  p50.p50_lo, p50.p50_hi, TRUE AS p50_in_bracket,
           |  p99.p99_lo, p99.p99_hi, TRUE AS p99_in_bracket
           |FROM p50 JOIN p99 ON p99.rf = p50.rf
           |ORDER BY l_returnflag""".stripMargin
      }
    ),

    // ── approximate aggregates (§2.6 gap): HLL distinct + approximate
    // quantiles. Raw sketch values are implementation-specific (Spark
    // HLL++ ≠ DuckDB HLL) so they can't hash-match — instead the ERROR
    // BOUND is what the oracle checks: the query emits the exact
    // companion (hash-matched cell-for-cell) plus booleans asserting the
    // sketch lands within 5% relative error, which the oracle pins to
    // literal TRUE. A drifting sketch now fails the driver gate loudly
    // instead of passing a rows-only smoke test. The exact countDistinct
    // here exists for verification; at 100 TB the HLL is the operator you
    // run (one pass, fixed-register state, partial-merge — no distinct
    // shuffle).
    Q(
      "agg_approx",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_orderkey")).as("exact_orders"),
            approx_count_distinct(col("l_orderkey"), 0.01).as("hll"),
            percentile_approx(col("l_extendedprice").cast("double"),
              lit(0.5), lit(1000)).as("amed"),
            expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("emed"))
          .select(col("l_returnflag"), col("exact_orders"),
            (abs(col("hll") - col("exact_orders")) <=
              col("exact_orders") * 0.05).as("hll_within_5pct"),
            (abs(col("amed") - col("emed")) <=
              abs(col("emed")) * 0.05).as("median_within_5pct"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             |  TRUE AS hll_within_5pct,
             |  TRUE AS median_within_5pct
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // ── MERGEABLE sketch storage + rollup (the incremental pattern) ────
    // agg_approx shows a one-shot sketch; at 100 TB the pattern that
    // actually matters is STORED mergeable sketches: build a DataSketches
    // HLL per (year, month) partition, persist the binary sketch column,
    // and answer the yearly distinct-customer question by UNIONING the
    // stored sketches — rereading per-month sketch rows (bytes) instead
    // of rescanning the raw fact table. Exact per-year distincts cannot
    // be rolled up from per-month exact counts (overlap), which is
    // precisely why the sketch column earns its storage. Verification
    // follows the agg_approx pattern: exact companion hash-matched, the
    // union-estimate's 5% error bound pinned TRUE by the oracle.
    Q(
      "agg_sketch_rollup",
      (s, d) => {
        val rolled = s.read.parquet(monthlySketchDir(s, d))
          .groupBy("yr")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("hll_custs"))
        val exact = orders(s, d)
          .groupBy(year(col("o_orderdate")).as("yr"))
          .agg(countDistinct(col("o_custkey")).as("exact_custs"))
        rolled.join(exact, "yr")
          .select(col("yr"), col("exact_custs"),
            (abs(col("hll_custs") - col("exact_custs")) <=
              col("exact_custs") * 0.05).as("union_within_5pct"))
          .orderBy("yr")
      },
      Some("""SELECT year(o_orderdate) AS yr,
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
             |  TRUE AS union_within_5pct
             |FROM orders GROUP BY yr ORDER BY yr""".stripMargin)
    ),

    // ── MERGEABLE quantile-sketch storage + rollup (KLL) ───────────────
    // The quantile face of agg_sketch_rollup: per-(year, month) KLL
    // sketches persisted as binary columns, the yearly p50/p99 answered
    // by kll_merge_agg over the STORED sketch rows — quantiles, unlike
    // counts or sums, cannot be rolled up from per-month scalars at all,
    // which is exactly why a lakehouse stores the sketch column.
    // Verification composes the agg_quantile_sketch audit with the
    // rollup: the exact per-year order statistics at ranks k ± margin
    // (margin = ⌈2%·n⌉ + 2 — over KLL k=200's ~1.65% merged rank-error
    // bound, +2 for endpoint conventions at small n) bracket the merged
    // estimate; bracket VALUES are data points hash-matched
    // cell-for-cell, the in-bracket booleans pinned TRUE by the oracle.
    Q(
      "agg_quantile_rollup",
      (s, d) => {
        val rolled = s.read.parquet(monthlyKllDir(s, d))
          .groupBy("yr")
          .agg(expr("kll_merge_agg_double(sk)").as("msk"))
          .select(col("yr"),
            expr("kll_sketch_get_quantile_double(msk, 0.5)").as("ap50"),
            expr("kll_sketch_get_quantile_double(msk, 0.99)").as("ap99"))
        val li = orders(s, d)
          .select(year(col("o_orderdate")).as("yr"),
            col("o_totalprice").cast("double").as("x"))
        val ranked = li.withColumn("rn",
          row_number().over(Window.partitionBy("yr").orderBy(col("x").asc)))
          .transform(GenSnap.snap) // four rank lookups read one materialization
        val stats = li.groupBy("yr").agg(count(lit(1)).as("n"))
          .withColumn("margin", ceil(col("n") * 0.02).cast("long") + 2L)
          .join(rolled, "yr")
        def bracket(q: Double, apCol: String, name: String) = {
          val k = (floor(lit(q) * (col("n") - 1)) + 1).cast("long")
          val kg = stats.select(col("yr"),
            greatest(k - col("margin"), lit(1L)).as("klo"),
            least(k + col("margin"), col("n")).as("khi"),
            col(apCol).as("apx"))
          kg.join(ranked.select(col("yr").as("yl"), col("rn").as("rnl"),
                col("x").as(s"${name}_lo")),
              col("yl") === col("yr") && col("rnl") === col("klo"))
            .join(ranked.select(col("yr").as("yh"), col("rn").as("rnh"),
                col("x").as(s"${name}_hi")),
              col("yh") === col("yr") && col("rnh") === col("khi"))
            .select(col("yr"), col(s"${name}_lo"), col(s"${name}_hi"),
              (col("apx") >= col(s"${name}_lo") &&
                col("apx") <= col(s"${name}_hi")).as(s"${name}_in_bracket"))
        }
        bracket(0.5, "ap50", "p50").join(bracket(0.99, "ap99", "p99"), "yr")
          .select(col("yr"),
            col("p50_lo"), col("p50_hi"), col("p50_in_bracket"),
            col("p99_lo"), col("p99_hi"), col("p99_in_bracket"))
          .orderBy("yr")
      },
      Some {
        def bracketSql(q0: String, name: String) =
          s"""${name}kg AS (
             |  SELECT yr,
             |    greatest(CAST(floor(CAST($q0 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 - margin, 1) AS klo,
             |    least(CAST(floor(CAST($q0 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 + margin, n) AS khi
             |  FROM stats),
             |$name AS (
             |  SELECT kg.yr, lo.x AS ${name}_lo, hi.x AS ${name}_hi
             |  FROM ${name}kg kg
             |  JOIN ranked lo ON lo.yr = kg.yr AND lo.rn = kg.klo
             |  JOIN ranked hi ON hi.yr = kg.yr AND hi.rn = kg.khi)""".stripMargin
        s"""WITH li AS (SELECT year(o_orderdate) AS yr, CAST(o_totalprice AS DOUBLE) AS x FROM orders),
           |ranked AS (SELECT yr, x, row_number() OVER (PARTITION BY yr ORDER BY x) AS rn FROM li),
           |stats AS (SELECT yr, CAST(count(*) AS BIGINT) AS n,
           |            CAST(ceil(count(*) * 0.02) AS BIGINT) + 2 AS margin
           |          FROM li GROUP BY yr),
           |${bracketSql("0.5", "p50")},
           |${bracketSql("0.99", "p99")}
           |SELECT p50.yr AS yr,
           |  p50.p50_lo, p50.p50_hi, TRUE AS p50_in_bracket,
           |  p99.p99_lo, p99.p99_hi, TRUE AS p99_in_bracket
           |FROM p50 JOIN p99 ON p99.yr = p50.yr
           |ORDER BY p50.yr""".stripMargin
      }
    ),

    // ── HLL set-intersection estimate (inclusion-exclusion rollup) ─────
    // The question unions cannot answer directly: how many customers
    // were active in BOTH adjacent years? Sketches only union, so the
    // standard move is inclusion-exclusion over the STORED per-month
    // sketches: |A∩B| ≈ est(A) + est(B) − est(A ∪ B) — three estimates
    // off the same persisted sketch rows, no raw-table rescan. I-E
    // error compounds (each term carries HLL's ~0.8% at lgK = 14, and
    // the subtraction cancels magnitude, not error), so the honest
    // contract is a WIDER bound than the union query's 5%: the estimate
    // must land within max(15% of exact, 64) — measured ~2-4% here, so
    // the pin carries real headroom while still catching a broken merge
    // path loudly. Exact companion hash-matched per year pair.
    Q(
      "agg_hll_intersect",
      (s, d) => {
        val yearly = s.read.parquet(monthlySketchDir(s, d))
          .groupBy("yr").agg(hll_union_agg(col("sk")).as("ysk"))
          .transform(GenSnap.snap) // a handful of rows; read three ways
        val pairs = yearly.select(col("yr").as("yr_a"), col("ysk").as("ska"))
          .join(yearly.select(col("yr").as("yr_b"), col("ysk").as("skb")),
            col("yr_b") === col("yr_a") + 1)
        val est = (hll_sketch_estimate(col("ska")) +
          hll_sketch_estimate(col("skb")) -
          hll_sketch_estimate(hll_union(col("ska"), col("skb")))).as("ie")
        val yc = orders(s, d)
          .select(year(col("o_orderdate")).as("yr"), col("o_custkey")).distinct()
        val exact = yc.select(col("yr").as("yr_a"), col("o_custkey"))
          .join(yc.select((col("yr") - 1).as("yr_a"), col("o_custkey")),
            Seq("yr_a", "o_custkey"))
          .groupBy("yr_a").agg(count(lit(1)).as("exact_overlap"))
        pairs.select(col("yr_a"), col("yr_b"), est)
          .join(exact, "yr_a")
          .select(col("yr_a"), col("yr_b"), col("exact_overlap"),
            (abs(col("ie") - col("exact_overlap")) <=
              greatest(col("exact_overlap") * 0.15, lit(64.0)))
              .as("ie_within_bound"))
          .orderBy("yr_a")
      },
      Some("""WITH yc AS (
             |  SELECT DISTINCT year(o_orderdate) AS yr, o_custkey FROM orders)
             |SELECT a.yr AS yr_a, a.yr + 1 AS yr_b,
             |  count(*) AS exact_overlap,
             |  TRUE AS ie_within_bound
             |FROM yc a JOIN yc b ON b.yr = a.yr + 1 AND b.o_custkey = a.o_custkey
             |GROUP BY a.yr ORDER BY yr_a""".stripMargin)
    ),

    // ── mergeable frequent-items sketch (approx_top_k family) ──────────
    // The heavy-hitters counterpart of the HLL rollup: per-language
    // ApproxTopK sketches ACCUMULATED in one pass, COMBINED across
    // languages, then estimated — the DataSketches frequent-items
    // merge path that answers "top tokens overall" from per-partition
    // sketch rows at 100 TB. Verification follows the agg_approx
    // convention: the exact top-10 (companion aggregation, hash-
    // matched) must all appear in the sketch estimate — pinned TRUE by
    // the oracle. Capacity 64 > the corpus's 31-token vocabulary, so
    // the guarantee is structural, not probabilistic, at any sf here.
    Q(
      "agg_topk_sketch",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("lang"), explode(graft.ops.Text.tokens(col("text"))).as("token"))
        val sketchItems = toks
          .groupBy("lang").agg(expr("approx_top_k_accumulate(token, 64)").as("acc"))
          .agg(expr("approx_top_k_estimate(approx_top_k_combine(acc, 64), 20)").as("tk"))
          .select(expr("transform(tk, e -> e.item)").as("items"))
        val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token").asc).limit(10)
        exact.crossJoin(broadcast(sketchItems))
          .select(col("token"), col("cnt"),
            array_contains(col("items"), col("token")).as("in_sketch_topk"))
          .orderBy(col("cnt").desc, col("token").asc)
      },
      Some("""SELECT token, count(*) AS cnt, TRUE AS in_sketch_topk
             |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 10""".stripMargin)
    ),

    // ── count-min sketch: mergeable point-frequency estimation ─────────
    // The third mergeable sketch next to HLL (agg_sketch_rollup) and
    // frequent-items (agg_topk_sketch): 4×64 exact-BIGINT counters built
    // by a custom TypedImperativeAggregate in ONE pass (one 2 KB row per
    // partition on the shuffle; sketches for different days/sources
    // union by counter-wise +). est(k) = min over rows of k's bucket —
    // ≥ exact always, overestimate bounded by collisions. The hash
    // family is SQL-replayable, so the oracle REBUILDS the identical
    // sketch relationally and proves the engine's estimates cell-exact —
    // est, exact and overestimate are all BIGINTs, no pinning.
    Q(
      "agg_cms_freq",
      (s, d) => {
        import org.apache.spark.sql.graft.{Bridge, CountMinSketchAgg => CMS}
        val ords = orders(s, d)
        val sk = ords.agg(Bridge.column(
          CMS(Bridge.expression(col("o_custkey"))).toAggregateExpression()).as("sk"))
        val probes = ords.select(col("o_custkey").as("key")).distinct()
          .orderBy("key").limit(10)
        val exact = ords.groupBy(col("o_custkey")).agg(count(lit(1)).as("exact_cnt"))
          .select(col("o_custkey").as("key"), col("exact_cnt"))
        val est = probes.crossJoin(broadcast(sk))
          .select(col("key"),
            (0 until CMS.Depth).map { j =>
              element_at(col("sk"),
                (lit(j * CMS.Width + 1) +
                  expr(s"CAST(${CMS.bucketSql("key", j, "DIV")} AS INT)")).cast("int"))
            }.reduce(least(_, _)).as("cms_est"))
        est.join(exact, "key")
          .select(col("key"), col("exact_cnt"), col("cms_est"),
            (col("cms_est") - col("exact_cnt")).as("overestimate"))
          .orderBy("key")
      },
      Some {
        import org.apache.spark.sql.graft.{CountMinSketchAgg => CMS}
        val obkt = (0 until CMS.Depth).map(j =>
          s"SELECT ${j} AS j, CAST(${CMS.bucketSql("o_custkey", j, "//")} AS BIGINT) AS bkt FROM orders")
          .mkString("\nUNION ALL\n")
        val kbkt = (0 until CMS.Depth).map(j =>
          s"SELECT key, ${j} AS j, CAST(${CMS.bucketSql("key", j, "//")} AS BIGINT) AS bkt FROM probes")
          .mkString("\nUNION ALL\n")
        s"""WITH probes AS (SELECT DISTINCT o_custkey AS key FROM orders ORDER BY key LIMIT 10),
           |ob AS (
           |$obkt),
           |cnt AS (SELECT j, bkt, CAST(count(*) AS BIGINT) AS c FROM ob GROUP BY j, bkt),
           |kb AS (
           |$kbkt),
           |est AS (SELECT key, min(c) AS cms_est
           |        FROM kb JOIN cnt USING (j, bkt) GROUP BY key),
           |ex AS (SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS exact_cnt
           |       FROM orders GROUP BY 1)
           |SELECT key, exact_cnt, cms_est, cms_est - exact_cnt AS overestimate
           |FROM est JOIN ex USING (key)
           |ORDER BY key""".stripMargin
      }
    ),

    // ── mergeable moments sketch: skew/kurtosis rollup (Gan et al.) ────
    // The higher-moment member of the sketch family: per (year, month)
    // the EXACT power sums (n, Σc, Σc², Σc³, Σc⁴) of order totals in
    // cents — c ≤ ~6e7 so c⁴ has ≤32 digits, riding DECIMAL(38,0)/
    // HUGEINT — and the YEARLY skewness/kurtosis computed by SUMMING
    // the monthly power sums, never rescanning rows: the mergeability
    // that makes moments a sketch (one 5-number row per partition at
    // 100 TB, merged by +). Central moments come from the raw sums by
    // the standard expansion; m2^1.5 is written m2·sqrt(m2) (no libm
    // pow), every double expression token-identical in both engines,
    // and the driver hash pins the month rows AND the merged year rows
    // against DuckDB's identical integer sums.
    Q(
      "agg_moments_rollup",
      (s, d) => {
        def dec38(c: Column) =
          c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
        val c = floor(col("o_totalprice") * 100).cast("long")
        val monthly = orders(s, d)
          .select(year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"), c.as("c"))
          .groupBy("yr", "mo")
          .agg(count(lit(1)).as("n"), sum("c").as("s1"),
            sum(dec38(col("c")) * col("c")).as("s2"),
            sum(dec38(col("c")) * col("c") * col("c")).as("s3"),
            sum(dec38(col("c")) * col("c") * col("c") * col("c")).as("s4"))
          .transform(GenSnap.snap) // month rows + the year merge read it
        val yearly = monthly.groupBy("yr")
          .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
            sum("s3").as("s3"), sum("s4").as("s4"))
        def stats(df: DataFrame, grain: String, moCol: Column): DataFrame = {
          // Loud headroom guard (ADVICE r11): Σc⁴ rides DECIMAL(38,0) ↔
          // HUGEINT, and past ~1e38 Spark's non-ANSI decimal overflow
          // silently NULLs while DuckDB raises — the engines would
          // diverge quietly. Fail LOUDLY at 10× margin instead: if any
          // group's s4 reaches 1e37 (≈ SF ≥ ~10 at these cent
          // magnitudes), raise with the remediation (rescale cents or
          // roll up at a finer grain). The guard rides the projected
          // `n` column so column pruning can never eliminate it.
          val nGuard = when(col("s4").cast("double") < 1e37, col("n"))
            .otherwise(raise_error(concat(lit(
              "agg_moments_rollup: sum(c^4) >= 1e37 — within 10x of " +
                "DECIMAL(38,0)/HUGEINT overflow where Spark silently " +
                "NULLs but DuckDB raises; rescale cents or use a finer " +
                "rollup grain. s4="), col("s4").cast("string"))))
          val nD = col("n").cast("double")
          val mean = col("s1").cast("double") / nD
          val m2 = col("s2").cast("double") / nD - mean * mean
          val m3 = col("s3").cast("double") / nD -
            lit(3.0) * mean * (col("s2").cast("double") / nD) +
            lit(2.0) * mean * mean * mean
          val m4 = col("s4").cast("double") / nD -
            lit(4.0) * mean * (col("s3").cast("double") / nD) +
            lit(6.0) * mean * mean * (col("s2").cast("double") / nD) -
            lit(3.0) * mean * mean * mean * mean
          // zero-variance guard: a singleton (or all-equal) group has
          // m2 = 0 and its skewness/kurtosis are UNDEFINED — emit NULL
          // instead of dividing by zero (ANSI Spark raises, and at
          // 100 TB fine-grain rollups WILL contain singleton groups;
          // surfaced by the sf0.001 smoke, whose single-order months
          // threw). m2 < 0 (float cancellation on near-constant groups)
          // rides the same branch; both engines compute the identical
          // m2 double, so the CASE branches agree bit-for-bit.
          df.select(lit(grain).as("grain"), col("yr"), moCol.as("mo"),
            nGuard.as("n"),
            (mean / 100.0).as("mean_dollars"),
            when(m2 >= 0.0, sqrt(m2) / 100.0).as("stddev_dollars"),
            when(m2 > 0.0, m3 / (m2 * sqrt(m2))).as("skewness"),
            when(m2 > 0.0, m4 / (m2 * m2) - 3.0).as("excess_kurtosis"))
        }
        stats(monthly, "month", col("mo"))
          .unionByName(stats(yearly, "year", lit(null).cast("int")))
          .orderBy(col("grain"), col("yr"), coalesce(col("mo"), lit(0)))
      },
      Some {
        val form =
          """CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
            |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
            |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2,
            |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
            |      3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
            |      2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m3,
            |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
            |      4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) +
            |      6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) -
            |      3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m4""".stripMargin
        s"""WITH monthly AS MATERIALIZED (
           |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(c) AS BIGINT) AS s1,
           |    sum(CAST(c AS HUGEINT) * c) AS s2,
           |    sum(CAST(c AS HUGEINT) * c * c) AS s3,
           |    sum(CAST(c AS HUGEINT) * c * c * c) AS s4
           |  FROM (SELECT o_orderdate,
           |          CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders)
           |  GROUP BY 1, 2),
           |yearly AS (
           |  SELECT yr, CAST(sum(n) AS BIGINT) AS n, CAST(sum(s1) AS BIGINT) AS s1,
           |    sum(s2) AS s2, sum(s3) AS s3, sum(s4) AS s4
           |  FROM monthly GROUP BY yr),
           |mm AS (
           |  SELECT 'month' AS grain, yr, mo, n,
           |    $form
           |  FROM monthly
           |  UNION ALL
           |  SELECT 'year', yr, CAST(NULL AS INT), n,
           |    $form
           |  FROM yearly)
           |SELECT grain, yr, mo, n,
           |  mean / 100.0 AS mean_dollars,
           |  CASE WHEN m2 >= 0.0 THEN sqrt(m2) / 100.0 END AS stddev_dollars,
           |  CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
           |  CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0 END AS excess_kurtosis
           |FROM mm ORDER BY grain, yr, coalesce(mo, 0)""".stripMargin
      }
    ),

    // ── Bloom filter: mergeable set-membership sketch ──────────────────
    // The membership member of the sketch family (HLL cardinality, topk
    // heavy hitters, CMS frequency, KLL quantiles): BUILDING-segment
    // customer keys → one 16384-bit filter packed 32 bits/word into 512
    // BIGINTs by a TypedImperativeAggregate (bit-OR merge, one ~4 KB row
    // per partition on the shuffle — the runtime-filter join-pruning
    // shape surfaced as an auditable operator). Probes: the 10 smallest
    // keys per segment from BUILDING (members) and MACHINERY
    // (non-members, segments partition customers) — bloom_hit must be
    // TRUE for every member (no false negatives, structural); a hit on a
    // non-member is a FALSE POSITIVE, reported not asserted. The hash
    // family is the CMS SQL-replayable one, and words pack 32 bits so no
    // sign bit is ever set: the oracle rebuilds the IDENTICAL bitset
    // relationally and proves every probe verdict AND the filter's total
    // popcount (n_bits_set — the whole bitset, not just probed words)
    // cell-exact.
    Q(
      "agg_bloom_filter",
      (s, d) => {
        import org.apache.spark.sql.graft.{Bridge, BloomFilterAgg => BF}
        val cust = customer(s, d)
        val sk = cust.filter(col("c_mktsegment") === "BUILDING")
          .agg(Bridge.column(BF(Bridge.expression(
            col("c_custkey").cast("long"))).toAggregateExpression()).as("sk"))
        val probes = cust
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("c_mktsegment").orderBy("c_custkey")))
          .filter(col("rk") <= 10)
          .select(col("c_custkey").cast("long").as("key"),
            (col("c_mktsegment") === "BUILDING").as("in_build"))
        val withPos = (0 until BF.NumHashes).foldLeft(
          probes.crossJoin(broadcast(sk))) { (df, j) =>
          df.withColumn(s"p$j",
            expr(s"CAST(${BF.positionSql("key", j, "DIV")} AS INT)"))
        }
        val hit = (0 until BF.NumHashes).map { j =>
          expr(s"(shiftright(element_at(sk, CAST(p$j DIV ${BF.BitsPerWord} + 1 AS INT)), " +
            s"p$j % ${BF.BitsPerWord}) % 2) = 1")
        }.reduce(_ && _)
        withPos
          .select(col("key"), col("in_build"), hit.as("bloom_hit"),
            expr("aggregate(sk, CAST(0 AS BIGINT), (acc, w) -> acc + bit_count(w))")
              .as("n_bits_set"))
          .withColumn("false_positive", col("bloom_hit") && !col("in_build"))
          .select("key", "in_build", "bloom_hit", "false_positive", "n_bits_set")
          .orderBy("key")
      },
      Some {
        import org.apache.spark.sql.graft.{BloomFilterAgg => BF}
        val buildPos = (0 until BF.NumHashes).map(j =>
          s"SELECT ${BF.positionSql("k", j, "//")} AS p FROM build")
          .mkString("\nUNION ALL\n")
        val probePos = (0 until BF.NumHashes).map(j =>
          s"SELECT key, ${BF.positionSql("key", j, "//")} AS p FROM sel")
          .mkString("\nUNION ALL\n")
        s"""WITH build AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
           |  WHERE c_mktsegment = 'BUILDING'),
           |pos AS (SELECT DISTINCT p FROM (
           |$buildPos)),
           |words AS (
           |  SELECT p // ${BF.BitsPerWord} AS w,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(p % ${BF.BitsPerWord} AS INT)) AS BIGINT) AS wv
           |  FROM pos GROUP BY 1),
           |probes AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS key,
           |         c_mktsegment = 'BUILDING' AS in_build,
           |         row_number() OVER (PARTITION BY c_mktsegment
           |                            ORDER BY c_custkey) AS rk
           |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
           |sel AS (SELECT key, in_build FROM probes WHERE rk <= 10),
           |pb AS (
           |$probePos),
           |hits AS (
           |  SELECT pb.key,
           |         bool_and(((coalesce(words.wv, 0) //
           |           (CAST(1 AS BIGINT) << CAST(pb.p % ${BF.BitsPerWord} AS INT)))
           |           % 2) = 1) AS bloom_hit
           |  FROM pb LEFT JOIN words ON words.w = pb.p // ${BF.BitsPerWord}
           |  GROUP BY pb.key)
           |SELECT s.key, s.in_build, h.bloom_hit,
           |       h.bloom_hit AND NOT s.in_build AS false_positive,
           |       (SELECT CAST(count(*) AS BIGINT) FROM pos) AS n_bits_set
           |FROM sel s JOIN hits h USING (key) ORDER BY key""".stripMargin
      }
    )
  )
}
