package graft.cluster

import graft.{Q, Tables}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GenSnap

/** MLlib classification over the embedding features — the supervised
  * counterpart the reference README advertises ("image classification",
  * /root/reference/README.md:1) but never implements beyond unsupervised
  * k-means. Deterministic split by key hash; multinomial logistic
  * regression on the 64-dim vectors.
  *
  * Scale: VectorUDT rows feed MLlib's own distributed LBFGS — gradient
  * aggregation is a treeAggregate (map-side partials), the standard
  * 100 TB training shape. Float reductions vary by partition order →
  * rows-only driver check; invariants asserted in ClassifySpec.
  */
object Classify {

  import Tables._

  def featurize(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
      col("vec_id"),
      org.apache.spark.ml.functions.array_to_vector(
        col("embedding").cast("array<double>")).as("features"),
      col("label").cast("double").as("label"))

  /** Deterministic 80/20 split on the id hash, train LR, score held-out. */
  def trainEval(s: SparkSession, d: String): DataFrame = {
    val data = featurize(s, d)
    val train = data.filter(detHash(col("vec_id")) % 5 =!= 0)
    val test = data.filter(detHash(col("vec_id")) % 5 === 0)
    val lr = new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01).setFamily("multinomial")
    val model = lr.fit(train)
    val pred = model.transform(test)
    val acc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").evaluate(pred)
    pred.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("prediction") === col("label"), 1).otherwise(0)).as("correct"))
      .withColumn("overall_accuracy", lit(acc))
      .orderBy("label")
  }

  /** KS α=0.05 asymptotic coefficient c(α) = sqrt(−ln(α/2)/2). Computed
    * once here and emitted into the oracle text in scientific notation
    * (playbook rule: DuckDB parses %.17e directly as DOUBLE, skipping
    * the DECIMAL double-rounding path), so both engines multiply by the
    * bit-identical constant. */
  private val KsCrit: Double = math.sqrt(-math.log(0.025) / 2.0)
  private val KsCritSql: String = f"$KsCrit%.17e"

  val queries: Seq[Q] = Seq(
    // MLlib training is iterative + float-order-dependent → rows-only.
    Q("ml_classify_eval", (s, d) => trainEval(s, d), None),

    // ── distributed OLS (simple linear regression by sufficient stats) ─
    // Closed-form least squares of price-on-quantity per return flag —
    // the moments-based shape that scales: ONE partial-agg'd pass
    // accumulates the five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    // Σy²); slope/intercept/R² are O(1) arithmetic on the tiny result.
    // At 100 TB this is a single map-side-combined shuffle of 3 group
    // rows — the same pattern MLlib's treeAggregate runs internally,
    // expressed relationally so Catalyst codegens it. EXACTNESS: x is
    // integral quantity, y is floor(price) whole dollars, so every
    // moment is an order-free BIGINT sum (max ~3.3e15 ≪ 2^63); the
    // final formulas are one shared double expression tree over exact
    // integers → bit-identical on both engines (the evt_ema
    // convention). Denominator n·Σx²−(Σx)² > 0 whenever a group has
    // two distinct x — true by construction here.
    Q(
      "ml_linreg",
      (s, d) => {
        val m = lineitem(s, d)
          .select(col("l_returnflag").as("rf"),
            col("l_quantity").cast("long").as("x"),
            floor(col("l_extendedprice")).cast("long").as("y"))
          .groupBy("rf")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
        val nD = col("n").cast("double")
        def dd(c: String) = col(c).cast("double")
        val covn = nD * dd("sxy") - dd("sx") * dd("sy")
        val varxn = nD * dd("sxx") - dd("sx") * dd("sx")
        val varyn = nD * dd("syy") - dd("sy") * dd("sy")
        val slope = covn / varxn
        m.select(col("rf"), col("n"), slope.as("slope"),
            ((dd("sy") - slope * dd("sx")) / nD).as("intercept"),
            (covn * covn / (varxn * varyn)).as("r2"))
          .orderBy("rf")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag AS rf, CAST(count(*) AS BIGINT) AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             |    sum(x * x) AS sxx, sum(y * y) AS syy
             |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
             |          CAST(floor(l_extendedprice) AS BIGINT) AS y FROM lineitem)
             |  GROUP BY 1)
             |SELECT rf, n,
             |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
             |  (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept,
             |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
             |FROM m ORDER BY rf""".stripMargin)
    ),

    // ── multinomial naive Bayes: train + score, hash-exact ─────────────
    // The classic text classifier (language ID here: predict
    // documents.lang from tokens), expressed so the WHOLE pipeline —
    // train counts, Laplace smoothing, log-space scoring, argmin — is
    // driver-hashable, which float log-likelihoods never are. Per-term
    // weights −ln((c(w,c)+1)/(tokens_c+V)) and per-class priors
    // −ln(docs_c/docs) are floor-quantized to the 2^-20 dyadic grid
    // (the surprisal convention: Round10Spec sweeps every observed
    // ratio's distance to a floor boundary, so cross-engine ln ulps
    // cannot flip a cell), making each document's NLL an order-free
    // exact sum; the argmin ties to the smallest class name. Train/test
    // split is the deterministic id-hash 80/20 every eval here uses.
    // SCALE: counts are two partial-agg shuffles; scoring is one
    // equi-join of test tf rows against the (term × 5 classes) weight
    // table — the weight side shuffles once at vocab size, never
    // broadcast-assumed; the 5-row class/prior tables ARE broadcast.
    Q(
      "ml_naive_bayes",
      (s, d) => nbPredictions(s, d).orderBy("doc_id"),
      Some(s"""WITH ${nbSqlCtes()}
              |SELECT doc_id, true_lang, lang AS pred, nll
              |FROM nlls WHERE rk = 1
              |ORDER BY doc_id""".stripMargin)
    ),

    // ── confusion matrix + per-class precision/recall/F1 ───────────────
    // The eval report every trained classifier ships with, computed over
    // [[nbPredictions]] so — unlike ml_classify_eval's float-order MLlib
    // twin — every cell is driver-hashable: tp/fp/fn are exact BIGINT
    // counts and each metric is ONE division of exact integers
    // (f1 = 2·tp/(2·tp+fp+fn) — the harmonic mean refactored to a single
    // quotient, so both engines evaluate the identical IEEE operation).
    // Classes with an empty prediction column get precision 0 by the
    // same CASE on both sides. SCALE: predictions reduce to a ≤k² cell
    // matrix in one partial-agg shuffle; the per-class pivot is
    // arithmetic on k rows.
    Q(
      "ml_confusion_prf",
      (s, d) => {
        val cm = nbPredictions(s, d)
          .groupBy(col("true_lang"), col("pred")).agg(count(lit(1)).as("n"))
          .transform(GenSnap.snap) // three marginals read one matrix
        val tp = cm.filter(col("true_lang") === col("pred"))
          .select(col("true_lang").as("lang"), col("n").as("tp"))
        val byTrue = cm.groupBy(col("true_lang").as("lang"))
          .agg(sum("n").as("n_true"))
        val byPred = cm.groupBy(col("pred").as("lang"))
          .agg(sum("n").as("n_pred"))
        byTrue.join(byPred, Seq("lang"), "full_outer")
          .join(tp, Seq("lang"), "left")
          .select(col("lang"),
            coalesce(col("tp"), lit(0L)).as("tp"),
            (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fp"),
            (coalesce(col("n_true"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fn"),
            coalesce(col("n_true"), lit(0L)).as("n_true"))
          .withColumn("precision",
            when(col("tp") + col("fp") === 0L, 0.0)
              .otherwise(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .withColumn("recall",
            when(col("tp") + col("fn") === 0L, 0.0)
              .otherwise(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
          .withColumn("f1",
            when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L, 0.0)
              .otherwise((lit(2L) * col("tp")).cast("double") /
                (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
          .orderBy("lang")
      },
      Some(s"""WITH ${nbSqlCtes()},
              |pred AS (SELECT true_lang, lang AS pred FROM nlls WHERE rk = 1),
              |cm AS (SELECT true_lang, pred, CAST(count(*) AS BIGINT) AS n
              |       FROM pred GROUP BY 1, 2),
              |tpx AS (SELECT true_lang AS lang, n AS tp FROM cm WHERE true_lang = pred),
              |bt AS (SELECT true_lang AS lang, CAST(sum(n) AS BIGINT) AS n_true FROM cm GROUP BY 1),
              |bp AS (SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1),
              |m AS (
              |  SELECT coalesce(bt.lang, bp.lang) AS lang,
              |    coalesce(tp, 0) AS tp,
              |    coalesce(n_pred, 0) - coalesce(tp, 0) AS fp,
              |    coalesce(n_true, 0) - coalesce(tp, 0) AS fn,
              |    coalesce(n_true, 0) AS n_true
              |  FROM bt FULL OUTER JOIN bp ON bp.lang = bt.lang
              |  LEFT JOIN tpx ON tpx.lang = coalesce(bt.lang, bp.lang))
              |SELECT lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
              |  CAST(fn AS BIGINT) AS fn, n_true,
              |  CASE WHEN tp + fp = 0 THEN 0.0
              |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
              |  CASE WHEN tp + fn = 0 THEN 0.0
              |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
              |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
              |       ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
              |FROM m ORDER BY lang""".stripMargin)
    ),

    // ── exact ROC-AUC by grouped rank-sum (Mann–Whitney) ───────────────
    // One-vs-rest AUC for the 'en' class over the quantized NB scores.
    // The textbook pairwise definition is O(n²); the rank-sum identity
    // AUC = (Σ_pos rank − n₊(n₊+1)/2)/(n₊·n₋) computes it in one sort —
    // and here even the sort shrinks: scores are first reduced to
    // DISTINCT-score groups (cnt, pos), so the running-total window runs
    // over |score domain| rows, not |test set| (at 100 TB: a partial-agg
    // shuffle to the score groups, then a window over thousands of rows;
    // range-partition the groups if even that explodes). Tie handling is
    // the average-rank convention, kept integral by working with DOUBLED
    // ranks: a tie group spanning ranks [lo, hi] contributes
    // lo+hi = 2·cum_before + cnt + 1 per member — all BIGINT, so u2 = 2U
    // is exact and the final AUC is one division. The NLL is dyadic on
    // the 2^-20 grid, so score·2^20 is an exact integer key on both
    // engines ("more positive" = LOWER nll → rank ascending by -s_int).
    Q(
      "ml_auc",
      (s, d) => {
        // floor() before the BIGINT cast (r10 advice): Spark's cast
        // truncates while DuckDB's rounds half-to-even — identical only
        // while nll stays exactly on the 2^-20 dyadic grid. An explicit
        // floor on BOTH sides makes the quantization convention-proof.
        val en = nbNlls(s, d).filter(col("lang") === "en")
          .select(floor(col("nll") * 1048576.0).cast("long").as("s_int"),
            (col("true_lang") === "en").cast("long").as("pos"))
        val grouped = en.groupBy("s_int")
          .agg(count(lit(1)).as("cnt"), sum("pos").as("np"))
        val w = Window.orderBy(col("s_int").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val ranked = grouped.withColumn("cum_before",
          coalesce(sum("cnt").over(w), lit(0L)))
        val agg = ranked.agg(
          sum("np").as("n_pos"),
          (sum("cnt") - sum("np")).as("n_neg"),
          sum(col("np") * (lit(2L) * col("cum_before") + col("cnt") + 1L)).as("r2sum"))
        agg.select(col("n_pos"), col("n_neg"),
            (col("r2sum") - col("n_pos") * (col("n_pos") + 1L)).as("u2"),
            ((col("r2sum") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
              (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
      },
      Some(s"""WITH ${nbSqlCtes()},
              |en AS (
              |  SELECT CAST(floor(nll * 1048576) AS BIGINT) AS s_int,
              |    CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM nlls WHERE lang = 'en'),
              |grouped AS (
              |  SELECT s_int, CAST(count(*) AS BIGINT) AS cnt,
              |    CAST(sum(pos) AS BIGINT) AS np
              |  FROM en GROUP BY 1),
              |ranked AS (
              |  SELECT s_int, cnt, np,
              |    coalesce(sum(cnt) OVER (ORDER BY s_int DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM grouped),
              |agg AS (
              |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
              |    CAST(sum(cnt) - sum(np) AS BIGINT) AS n_neg,
              |    CAST(sum(np * (2 * cum_before + cnt + 1)) AS BIGINT) AS r2sum
              |  FROM ranked)
              |SELECT n_pos, n_neg,
              |  CAST(r2sum - n_pos * (n_pos + 1) AS BIGINT) AS u2,
              |  CAST(r2sum - n_pos * (n_pos + 1) AS DOUBLE)
              |    / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
              |FROM agg""".stripMargin)
    ),

    // ── reliability table: empirical precision by score decile ─────────
    // The calibration-style eval next to ml_auc: bucket the 'en'
    // one-vs-rest scores into 10 fixed-width bins over the observed
    // score range and report, per bin, the exact positive rate — the
    // monotone-reliability evidence a threshold picker reads (AUC says
    // the ranking is good; this says WHERE to cut it). Everything is
    // integer-exact: scores are the 2^-20 quantized NLLs (explicit
    // floor, the ml_auc convention), the bin index is one integer
    // division against the broadcast (min, max) row, and each bin's
    // rate/mean divide exact BIGINT sums once. Lower score = more
    // 'en'-like, so the bottom-half score range must carry a decisively
    // higher positive rate than the top half — asserted in spec as the
    // table's own sanity check (per-bin monotonicity is NOT claimed:
    // the unnormalized NLL mixes in document length, which is exactly
    // what a threshold picker reads this table to find out).
    Q(
      "ml_reliability_bins",
      (s, d) => {
        val en = nbNlls(s, d).filter(col("lang") === "en")
          .select(floor(col("nll") * 1048576.0).cast("long").as("s_int"),
            (col("true_lang") === "en").cast("long").as("pos"))
        val mm = en.agg(min("s_int").as("mn"), max("s_int").as("mx"))
        en.crossJoin(broadcast(mm))
          .select(least(lit(9L),
              expr("((s_int - mn) * 10) DIV (mx - mn + 1)")).as("bin"),
            col("s_int"), col("pos"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
            sum("s_int").as("ssum"))
          .select(col("bin"), col("n"), col("n_pos"),
            (col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"),
            (col("ssum").cast("double") / col("n").cast("double") / 1048576.0)
              .as("mean_nll"))
          .orderBy("bin")
      },
      Some(s"""WITH ${nbSqlCtes()},
              |en AS (
              |  SELECT CAST(floor(nll * 1048576) AS BIGINT) AS s_int,
              |    CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM nlls WHERE lang = 'en'),
              |mm AS (SELECT CAST(min(s_int) AS BIGINT) AS mn,
              |       CAST(max(s_int) AS BIGINT) AS mx FROM en),
              |binned AS (
              |  SELECT least(9, ((s_int - mn) * 10) // (mx - mn + 1)) AS bin,
              |    s_int, pos
              |  FROM en, mm),
              |agg AS (
              |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(pos) AS BIGINT) AS n_pos,
              |    CAST(sum(s_int) AS BIGINT) AS ssum
              |  FROM binned GROUP BY bin)
              |SELECT bin, n, n_pos,
              |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
              |  CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0 AS mean_nll
              |FROM agg ORDER BY bin""".stripMargin)
    ),

    // ── precision/recall curve over the score-decile cuts ──────────────
    // The operating-point view the reliability table implies: sweep the
    // decision threshold down the 10 score-decile boundaries and emit
    // the exact (precision, recall) at each cut — cumulative BIGINT
    // sums over the same binning (a 10-row window), each metric one
    // division. Recall is monotone non-decreasing in the cut by
    // construction (cumulative positives over a fixed total) — the
    // curve's own invariant, spec-asserted. At 100 TB the binning is
    // the same one partial-agg shuffle; the cumulative window runs over
    // 10 rows.
    Q(
      "ml_pr_curve",
      (s, d) => {
        val en = nbNlls(s, d).filter(col("lang") === "en")
          .select(floor(col("nll") * 1048576.0).cast("long").as("s_int"),
            (col("true_lang") === "en").cast("long").as("pos"))
        val mm = en.agg(min("s_int").as("mn"), max("s_int").as("mx"))
        val bins = en.crossJoin(broadcast(mm))
          .select(least(lit(9L),
              expr("((s_int - mn) * 10) DIV (mx - mn + 1)")).as("bin"),
            col("pos"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("pos").as("np"))
        val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        bins
          .select(col("bin"), sum("n").over(w).as("cum_n"),
            sum("np").over(w).as("cum_pos"))
          .crossJoin(broadcast(en.agg(sum("pos").as("total_pos"))))
          .select(col("bin"), col("cum_n"), col("cum_pos"),
            (col("cum_pos").cast("double") / col("cum_n").cast("double"))
              .as("precision"),
            (col("cum_pos").cast("double") / col("total_pos").cast("double"))
              .as("recall"))
          .orderBy("bin")
      },
      Some(s"""WITH ${nbSqlCtes()},
              |en AS (
              |  SELECT CAST(floor(nll * 1048576) AS BIGINT) AS s_int,
              |    CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM nlls WHERE lang = 'en'),
              |mm AS (SELECT CAST(min(s_int) AS BIGINT) AS mn,
              |       CAST(max(s_int) AS BIGINT) AS mx FROM en),
              |bins AS (
              |  SELECT least(9, ((s_int - mn) * 10) // (mx - mn + 1)) AS bin,
              |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
              |  FROM en, mm GROUP BY bin),
              |cum AS (
              |  SELECT bin,
              |    CAST(sum(n) OVER (ORDER BY bin
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
              |    CAST(sum(np) OVER (ORDER BY bin
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
              |  FROM bins),
              |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS total_pos FROM en)
              |SELECT bin, cum_n, cum_pos,
              |  CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE) AS precision,
              |  CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE) AS recall
              |FROM cum, tot ORDER BY bin""".stripMargin)
    ),

    // ── 5-fold cross-validation (the eval loop, not just one split) ────
    // The honest generalization estimate: every id-hash residue takes a
    // turn as the held-out fold, so each document is scored exactly once
    // by a model that never saw it. Per fold: test size, correct count,
    // accuracy (ONE division of exact BIGINTs — driver-hashable like the
    // rest of the NB family); the cross-fold mean is arithmetic on the
    // 5-row result. The oracle stacks five suffix-disambiguated copies
    // of the SAME CTE chain the other NB queries share — five folds, one
    // statement, zero drift. SCALE: one corpus tokenization feeds all
    // five folds' models and scoring passes ([[kfoldScored]]).
    Q(
      "ml_kfold_cv",
      (s, d) => {
        val folds = s.range(0, 5).select(col("id").as("fold"))
        val scored = kfoldScored(s, d)
        // each doc_id belongs to exactly one fold, so the per-doc argmin
        // window is the five per-fold windows in one pass
        val preds = scored.withColumn("rk", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("nll").asc, col("lang").asc)))
          .filter(col("rk") === 1)
        val perFold = preds.groupBy(col("res").as("fold"))
          .agg(count(lit(1)).as("nt"),
            sum(when(col("lang") === col("true_lang"), 1L).otherwise(0L))
              .as("nc"))
        // an EMPTY fold must still emit its row (n_test = 0, accuracy
        // 0.0), exactly like the oracle's scalar count — the static
        // fold axis left-joins the observed counts
        folds.join(perFold, Seq("fold"), "left")
          .select(col("fold").cast("int").as("fold"),
            coalesce(col("nt"), lit(0L)).as("n_test"),
            coalesce(col("nc"), lit(0L)).as("n_correct"))
          .select(col("fold"), col("n_test"), col("n_correct"),
            when(col("n_test") === 0L, 0.0)
              .otherwise(col("n_correct").cast("double") /
                col("n_test").cast("double"))
              .as("accuracy"))
          .orderBy("fold")
      },
      Some {
        val chains = (0 until 5).map(f => nbSqlCtes(f, s"f$f")).mkString(",\n")
        val folds = (0 until 5).map { f =>
          s"""SELECT $f AS fold, CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(coalesce(sum(CASE WHEN lang = true_lang THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct
             |FROM nllsf$f WHERE rk = 1""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $chains,
           |per_fold AS (
           |$folds)
           |SELECT fold, n_test, n_correct,
           |  CASE WHEN n_test = 0 THEN 0.0
           |       ELSE CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE) END AS accuracy
           |FROM per_fold ORDER BY fold""".stripMargin
      }
    ),

    // ── regression decision stump (the GBM weak learner) ───────────────
    // CART's one-split tree: choose the l_quantity threshold v that
    // minimizes total SSE when predicting l_extendedprice by the two
    // leaf means — equivalently MAXIMIZES the variance-reduction gain
    // S_L²/n_L + S_R²/n_R − S²/n. The whole split scan is ONE pass:
    // group by the (integer-ish) quantity, one cumulative window over
    // the ≤50 candidate rows yields every (n_L, S_L) prefix, totals by
    // a broadcast 1-row agg. Price sums are exact cents BIGINTs; the
    // gain is one token-identical double expression (reported in
    // dollars²); the best split is the (gain desc, qty asc) argmax,
    // emitted as a flag on the full gain curve so the driver hash pins
    // the ENTIRE split scan, not just the winner. This is the exact
    // inner loop a distributed GBDT (LightGBM-style histogram split
    // finding) runs per feature per node.
    Q(
      "ml_decision_stump",
      (s, d) => {
        val li = lineitem(s, d)
          .select(col("l_quantity").cast("int").as("qty"),
            floor(col("l_extendedprice") * 100).cast("long").as("c"))
        val byQty = li.groupBy("qty")
          .agg(count(lit(1)).as("cnt"), sum("c").as("sc"))
        val tot = byQty.agg(sum("cnt").as("n"), sum("sc").as("s"))
        val wCum = Window.orderBy("qty")
          .rowsBetween(Window.unboundedPreceding, 0)
        val scan = byQty
          .withColumn("nl", sum("cnt").over(wCum))
          .withColumn("sl", sum("sc").over(wCum))
          .crossJoin(broadcast(tot))
          .filter(col("nl") < col("n")) // a split must leave a right leaf
          .select(col("qty"), col("nl"), (col("n") - col("nl")).as("nr"),
            ((col("sl").cast("double") * col("sl").cast("double") /
              col("nl").cast("double") +
              (col("s") - col("sl")).cast("double") *
                (col("s") - col("sl")).cast("double") /
                (col("n") - col("nl")).cast("double") -
              col("s").cast("double") * col("s").cast("double") /
                col("n").cast("double")) / 10000.0).as("gain"),
            (col("sl").cast("double") / col("nl").cast("double") / 100.0)
              .as("left_mean"),
            ((col("s") - col("sl")).cast("double") /
              (col("n") - col("nl")).cast("double") / 100.0).as("right_mean"))
        scan
          .withColumn("is_best", row_number().over(
            Window.orderBy(col("gain").desc, col("qty").asc)) === 1)
          .orderBy("qty")
      },
      Some("""WITH li AS (
             |  SELECT CAST(l_quantity AS INT) AS qty,
             |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem),
             |byqty AS (
             |  SELECT qty, CAST(count(*) AS BIGINT) AS cnt,
             |         CAST(sum(c) AS BIGINT) AS sc
             |  FROM li GROUP BY qty),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
             |               CAST(sum(sc) AS BIGINT) AS s FROM byqty),
             |scan AS (
             |  SELECT qty,
             |    CAST(sum(cnt) OVER w AS BIGINT) AS nl,
             |    CAST(sum(sc) OVER w AS BIGINT) AS sl
             |  FROM byqty
             |  WINDOW w AS (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
             |               AND CURRENT ROW)),
             |gains AS (
             |  SELECT qty, nl, n - nl AS nr,
             |    (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) +
             |     CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE) /
             |       CAST(n - nl AS DOUBLE) -
             |     CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |      / 10000.0 AS gain,
             |    CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) / 100.0 AS left_mean,
             |    CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE) / 100.0 AS right_mean
             |  FROM scan CROSS JOIN tot
             |  WHERE nl < n)
             |SELECT qty, nl, nr, gain, left_mean, right_mean,
             |  row_number() OVER (ORDER BY gain DESC, qty ASC) = 1 AS is_best
             |FROM gains ORDER BY qty""".stripMargin)
    ),

    // ── isotonic calibration of the reliability curve (PAV) ────────────
    // The missing piece between ml_reliability_bins and a usable
    // probability: fit the best MONOTONE (here non-increasing — higher
    // NLL ⇒ less likely the class) step function to the per-decile
    // positive rates. Instead of replaying pool-adjacent-violators
    // sequentially, use the minimax identity (Robertson-Wright-Dykstra):
    //   antitonic fit(i) = min_{j≤i} max_{k≥i} mean(pos over bins j..k)
    // which is FULLY RELATIONAL: segment means for all (j,k) pairs come
    // from one bins×bins×bins range join over the 10-row decile table
    // (≤1000 tuples — never data-sized), each mean ONE division of
    // exact BIGINT segment sums, and the min/max select among doubles
    // both engines computed bit-identically (selection, never
    // accumulation). ClassifySpec cross-checks against a driver PAV
    // pooling replay and pins monotonicity.
    Q(
      "ml_isotonic_calibration",
      (s, d) => {
        val en = nbNlls(s, d).filter(col("lang") === "en")
          .select(floor(col("nll") * 1048576.0).cast("long").as("s_int"),
            (col("true_lang") === "en").cast("long").as("pos"))
        val mm = en.agg(min("s_int").as("mn"), max("s_int").as("mx"))
        val bins = en.crossJoin(broadcast(mm))
          .select(least(lit(9L),
              expr("((s_int - mn) * 10) DIV (mx - mn + 1)")).as("bin"),
            col("pos"))
          .groupBy("bin").agg(count(lit(1)).as("n"), sum("pos").as("np"))
          .transform(GenSnap.snap) // the three range joins read one 10-row table
        val seg = bins.select(col("bin").as("j"))
          .join(bins.select(col("bin").as("k")), col("j") <= col("k"))
          .join(bins.select(col("bin").as("m"), col("n"), col("np")),
            col("m") >= col("j") && col("m") <= col("k"))
          .groupBy("j", "k")
          .agg((sum("np").cast("double") / sum("n").cast("double")).as("mean"))
        val fit = bins.select(col("bin").as("i"))
          .join(seg, col("j") <= col("i") && col("k") >= col("i"))
          .groupBy("i", "j").agg(max("mean").as("mx"))
          .groupBy("i").agg(min("mx").as("fitted"))
        bins.join(fit, col("bin") === col("i"))
          .select(col("bin"), col("n"), col("np").as("n_pos"),
            (col("np").cast("double") / col("n").cast("double")).as("pos_rate"),
            col("fitted"))
          .orderBy("bin")
      },
      Some(s"""WITH ${nbSqlCtes()},
              |en AS (
              |  SELECT CAST(floor(nll * 1048576) AS BIGINT) AS s_int,
              |    CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM nlls WHERE lang = 'en'),
              |mm AS (SELECT CAST(min(s_int) AS BIGINT) AS mn,
              |       CAST(max(s_int) AS BIGINT) AS mx FROM en),
              |bins AS (
              |  SELECT least(9, ((s_int - mn) * 10) // (mx - mn + 1)) AS bin,
              |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
              |  FROM en, mm GROUP BY 1),
              |seg AS (
              |  SELECT j.bin AS j, k.bin AS k,
              |    CAST(sum(m.np) AS DOUBLE) / CAST(sum(m.n) AS DOUBLE) AS mean
              |  FROM bins j JOIN bins k ON j.bin <= k.bin
              |  JOIN bins m ON m.bin >= j.bin AND m.bin <= k.bin
              |  GROUP BY 1, 2),
              |mx1 AS (
              |  SELECT i.bin AS i, s.j, max(s.mean) AS mx
              |  FROM bins i JOIN seg s ON s.j <= i.bin AND s.k >= i.bin
              |  GROUP BY 1, 2),
              |fit AS (SELECT i, min(mx) AS fitted FROM mx1 GROUP BY i)
              |SELECT b.bin, b.n, b.np AS n_pos,
              |  CAST(b.np AS DOUBLE) / CAST(b.n AS DOUBLE) AS pos_rate,
              |  f.fitted
              |FROM bins b JOIN fit f ON f.i = b.bin
              |ORDER BY bin""".stripMargin)
    ),

    // ── two-sample Kolmogorov–Smirnov over the score distributions ─────
    // The distribution-level companion to ml_auc's ranking view: does
    // the 'en'-class NLL distribution actually SEPARATE from the rest
    // (the credit-scoring KS discriminant)? D = max_s |F₊(s) − F₋(s)|
    // computed entirely in integers by clearing both denominators:
    // |cp·n₋ − cn·n₊| over the SAME distinct-score group table ml_auc
    // ranks (so the cumulative window runs over |score domain| rows,
    // never the raw test set — the allowlisted reduction). The argmax
    // threshold ties break to the smallest score (min over the equality
    // filter — selection, never float). The only doubles are ONE
    // division for D and the α=0.05 critical value
    // c·sqrt((n₊+n₋)/(n₊·n₋)) — sqrt is correctly rounded, c is the
    // same compile-time literal in both texts. The cross products ride
    // DECIMAL(38,0)/HUGEINT per the moments convention (BIGINT would
    // cap at ~3e9 positives); ks_num re-enters BIGINT only at emission,
    // behind a raise_error guard at 10× headroom so Spark fails as
    // loudly as DuckDB would past n₊·n₋ ≈ 2^63.
    // SCALE: one partial-agg shuffle to score groups + a window over
    // thousands of rows + two 1-row aggregates. ClassifySpec replays the
    // whole statistic from the raw scores on the driver.
    Q(
      "ml_ks_test",
      (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val en = nbNlls(s, d).filter(col("lang") === "en")
          .select(floor(col("nll") * 1048576.0).cast("long").as("s_int"),
            (col("true_lang") === "en").cast("long").as("pos"))
        val grouped = en.groupBy("s_int")
          .agg(count(lit(1)).as("cnt"), sum("pos").as("np"))
        val w = Window.orderBy("s_int")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = grouped
          .withColumn("cp", sum("np").over(w))
          .withColumn("cn", sum(col("cnt") - col("np")).over(w))
        val tot = grouped.agg(sum("np").as("n_pos"),
          (sum("cnt") - sum("np")).as("n_neg"))
        val diffs = cum.crossJoin(broadcast(tot))
          .select(col("s_int"),
            abs(col("cp").cast(dec) * col("n_neg").cast(dec) -
              col("cn").cast(dec) * col("n_pos").cast(dec)).as("diff"))
        val mx = diffs.agg(max("diff").as("mxd"))
        val thr = diffs.crossJoin(broadcast(mx))
          .filter(col("diff") === col("mxd"))
          .agg(min("s_int").as("thr_s"), max("diff").as("ksd"))
        // Loud headroom guard (ADVICE r12, the agg_moments_rollup
        // pattern): ksd ≤ n₊·n₋ rides DECIMAL(38,0) and re-enters BIGINT
        // at emission — past 2^63 non-ANSI Spark silently NULLs the cast
        // while DuckDB raises, so the engines would diverge quietly.
        // Fail LOUDLY at 10× margin on the Spark side too.
        val ksNum = when(
          (col("n_pos").cast(dec) * col("n_neg").cast(dec)).cast("double") < 9e17,
          col("ksd").cast("long"))
          .otherwise(raise_error(concat(lit(
            "ml_ks_test: n_pos*n_neg within 10x of BIGINT overflow — " +
              "ks_num would silently NULL on Spark but raise on DuckDB; " +
              "emit the DECIMAL form instead. n_pos*n_neg="),
            (col("n_pos").cast(dec) * col("n_neg").cast(dec)).cast("string"))))
        thr.crossJoin(broadcast(tot)).select(
          col("n_pos"), col("n_neg"),
          (col("thr_s").cast("double") / 1048576.0).as("threshold_nll"),
          ksNum.as("ks_num"),
          (col("ksd").cast("double") /
            (col("n_pos") * col("n_neg")).cast("double")).as("ks_stat"),
          (lit(KsCrit) * sqrt((col("n_pos") + col("n_neg")).cast("double") /
            (col("n_pos") * col("n_neg")).cast("double"))).as("crit_05"),
          ((col("ksd").cast("double") /
            (col("n_pos") * col("n_neg")).cast("double")) >
            (lit(KsCrit) * sqrt((col("n_pos") + col("n_neg")).cast("double") /
              (col("n_pos") * col("n_neg")).cast("double")))).as("reject_05"))
      },
      Some(s"""WITH ${nbSqlCtes()},
              |en AS (
              |  SELECT CAST(floor(nll * 1048576) AS BIGINT) AS s_int,
              |    CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM nlls WHERE lang = 'en'),
              |grouped AS (
              |  SELECT s_int, CAST(count(*) AS BIGINT) AS cnt,
              |    CAST(sum(pos) AS BIGINT) AS np
              |  FROM en GROUP BY 1),
              |cum AS (
              |  SELECT s_int,
              |    CAST(sum(np) OVER (ORDER BY s_int
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp,
              |    CAST(sum(cnt - np) OVER (ORDER BY s_int
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
              |  FROM grouped),
              |tot AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
              |        CAST(sum(cnt) - sum(np) AS BIGINT) AS n_neg FROM grouped),
              |diffs AS (
              |  SELECT s_int,
              |    abs(CAST(cp AS HUGEINT) * CAST(n_neg AS HUGEINT)
              |      - CAST(cn AS HUGEINT) * CAST(n_pos AS HUGEINT)) AS diff
              |  FROM cum, tot),
              |mx AS (SELECT max(diff) AS mxd FROM diffs),
              |thr AS (
              |  SELECT CAST(min(s_int) AS BIGINT) AS thr_s, max(diff) AS ksd
              |  FROM diffs, mx WHERE diff = mxd)
              |SELECT n_pos, n_neg,
              |  CAST(thr_s AS DOUBLE) / 1048576.0 AS threshold_nll,
              |  CAST(ksd AS BIGINT) AS ks_num,
              |  CAST(ksd AS DOUBLE) / CAST(n_pos * n_neg AS DOUBLE) AS ks_stat,
              |  $KsCritSql * sqrt(CAST(n_pos + n_neg AS DOUBLE)
              |    / CAST(n_pos * n_neg AS DOUBLE)) AS crit_05,
              |  (CAST(ksd AS DOUBLE) / CAST(n_pos * n_neg AS DOUBLE))
              |    > ($KsCritSql * sqrt(CAST(n_pos + n_neg AS DOUBLE)
              |      / CAST(n_pos * n_neg AS DOUBLE))) AS reject_05
              |FROM thr, tot""".stripMargin)
    ),

    // ── gradient-boosted stumps (the GBDT loop, closed) ────────────────
    // VERDICT r11 task 5: K=8 squared-loss boosting rounds, each round
    // EXACTLY the ml_decision_stump one-pass SSE scan run over the
    // current RESIDUALS (Friedman 2001 — with squared loss the negative
    // gradient IS the residual). Residuals stay BIGINT cents
    // throughout: the round-t leaf values are v = floor(S/(2n) + 0.5)
    // — the ν=½-shrunk leaf mean on the integer grid, round-half-up
    // (a true floor, so no DIV-truncation divergence) — which PROVABLY
    // never increases train SSE per leaf (for |mean| < 1 cent v is 0;
    // otherwise v lies between 0 and the mean, where Δ = n·v·(v−2u) ≤
    // 0), so train_mse is monotone non-increasing, pinned in
    // Round12Spec. Driver state per round = ONE collected best-split
    // row (the BPE top-pair convention); the oracle replays all K
    // rounds as chained MATERIALIZED CTEs — byqty/tot/scan/best/
    // residual-update per round — bit-identical through the shared
    // floor/gain/mse expressions (Σr² rides DECIMAL(38,0)/HUGEINT).
    // SCALE: per round ONE groupBy shuffle over the residual table +
    // a ≤50-row candidate scan + one map-pass update (localCheckpoint
    // per round = the cached-training-set iteration every distributed
    // GBDT performs); K rounds of bounded driver sync.
    Q(
      "ml_gbdt_stumps",
      (s, d) => {
        val K = 8
        def dec38(c: org.apache.spark.sql.Column) =
          c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
        // F0 = the global mean on the cent grid (standard GBDT init);
        // residuals start centered so round-1 MSE ≤ the price variance
        val raw = lineitem(s, d)
          .select(col("l_quantity").cast("int").as("qty"),
            floor(col("l_extendedprice") * 100).cast("long").as("c"))
          .transform(GenSnap.snap)
        val v0 = raw.agg(count(lit(1)).as("n"), sum("c").as("s"))
          .select(floor(col("s").cast("double") / col("n").cast("double") + 0.5)
            .cast("long").as("v0"))
          .collect()(0).getLong(0) // 1-value driver boundary: the init
        // r17 optimization round, guide §1.2/§2.3: the residual table is
        // a PURE MAP chain off the one snapped raw table (each round's
        // update is a select — no self-join, no lineage compounding), so
        // the per-round 600 k-row checkpoint write bought nothing; and
        // round t's train_mse (Σr² after update t) is exactly what
        // round t+1's groupBy scans anyway, so the Σr² rides the SAME
        // per-qty aggregation (integer group sums re-sum exactly) and
        // only round K pays a separate final Σr² pass. 3 actions per
        // round → 1; identical integers, identical doubles.
        var resid = raw.select(col("qty"), (col("c") - lit(v0)).as("r"))
        val rows = Seq.newBuilder[(Int, Int, Long, Long, Long, Long, Double, Double)]
        var pending: Option[(Int, Int, Long, Long, Long, Long, Double)] = None
        def mseOf(n: Long, ssq: java.math.BigDecimal): Double =
          ssq.doubleValue() / n.toDouble / 10000.0 / 10000.0
        // r18 optimization round (guide §1.2-1/§2.6): the per-round scan
        // pass is ONE partial-agg'd groupBy over ~50 qty groups — so the
        // cum-sum window, the totals crossJoin (which re-computed the
        // whole aggregation for the broadcast side), and the top-1 sort
        // all moved to the DRIVER over the collected ≤50-row aggregate
        // (the same driver-boundary class as the 1-row stump collect it
        // replaces — a reduction result, never row data). One job per
        // round instead of four; the scalar math is the identical IEEE64
        // expression tree (casts, floor(x + 0.5), the gain formula), the
        // cum sums are exact BIGINTs in the same qty order, and the Σr²
        // total is an exact integer-decimal sum — so every emitted
        // number is bit-identical (Round12Spec/Round18Spec pin it).
        for (t <- 1 to K) {
          val byQty = resid.groupBy("qty")
            .agg(count(lit(1)).as("cnt"), sum("r").as("sr"),
              sum(dec38(col("r")) * col("r")).as("ssqp"))
            .collect() // ≤ |distinct qty| ≈ 50-row driver boundary
            .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
            .sortBy(_._1)
          val n = byQty.map(_._2).sum
          val sTot = byQty.map(_._3).sum
          val ssq = byQty.map(_._4).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          var nl = 0L; var sl = 0L
          var bq = 0; var bnl = 0L; var bvl = 0L; var bvr = 0L
          var bg = Double.NegativeInfinity
          for ((q, cnt, sr, _) <- byQty) {
            nl += cnt; sl += sr
            if (nl < n) {
              val gain = (sl.toDouble * sl.toDouble / nl.toDouble +
                (sTot - sl).toDouble * (sTot - sl).toDouble / (n - nl).toDouble -
                sTot.toDouble * sTot.toDouble / n.toDouble) / 10000.0
              if (gain > bg) { // ascending qty scan ⇒ first max wins the qty ASC tie
                bg = gain; bq = q; bnl = nl
                bvl = math.floor(sl.toDouble / (2.0 * nl.toDouble) + 0.5).toLong
                bvr = math.floor((sTot - sl).toDouble /
                  (2.0 * (n - nl).toDouble) + 0.5).toLong
              }
            }
          }
          val (q, nl2, nr) = (bq, bnl, n - bnl)
          val (vl, vr, gain) = (bvl, bvr, bg)
          // this round's scan saw the PREVIOUS update's residuals: its
          // Σr²/n completes the previous round's reported train_mse
          pending.foreach { case (pt, pq, pnl, pnr, pvl, pvr, pg) =>
            rows += ((pt, pq, pnl, pnr, pvl, pvr, pg, mseOf(n, ssq)))
          }
          pending = Some((t, q, nl2, nr, vl, vr, gain))
          resid = resid.select(col("qty"),
            (col("r") - when(col("qty") <= lit(q), lit(vl)).otherwise(lit(vr)))
              .as("r"))
        }
        // round K's mse: the one residual pass no later round subsumes
        val fin = resid.agg(count(lit(1)).as("n"),
            sum(dec38(col("r")) * col("r")).as("ssq")).collect()(0)
        pending.foreach { case (pt, pq, pnl, pnr, pvl, pvr, pg) =>
          rows += ((pt, pq, pnl, pnr, pvl, pvr, pg,
            mseOf(fin.getLong(0), fin.getDecimal(1))))
        }
        import s.implicits._
        rows.result().toDF("round", "split_qty", "n_left", "n_right",
          "left_value_cents", "right_value_cents", "gain", "train_mse")
          .orderBy("round")
      },
      Some {
        val K = 8
        val rounds = (1 to K).map { t =>
          val in = s"li${t - 1}"
          s"""byqty$t AS (
             |  SELECT qty, CAST(count(*) AS BIGINT) AS cnt,
             |         CAST(sum(r) AS BIGINT) AS sr
             |  FROM $in GROUP BY qty),
             |tot$t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
             |                 CAST(sum(sr) AS BIGINT) AS s FROM byqty$t),
             |scan$t AS (
             |  SELECT qty,
             |    CAST(sum(cnt) OVER w AS BIGINT) AS nl,
             |    CAST(sum(sr) OVER w AS BIGINT) AS sl
             |  FROM byqty$t
             |  WINDOW w AS (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
             |               AND CURRENT ROW)),
             |best$t AS MATERIALIZED (
             |  SELECT qty, nl, n - nl AS nr,
             |    CAST(floor(CAST(sl AS DOUBLE) / (2.0 * CAST(nl AS DOUBLE)) + 0.5) AS BIGINT) AS vl,
             |    CAST(floor(CAST(s - sl AS DOUBLE) / (2.0 * CAST(n - nl AS DOUBLE)) + 0.5) AS BIGINT) AS vr,
             |    (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) +
             |     CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE) /
             |       CAST(n - nl AS DOUBLE) -
             |     CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |      / 10000.0 AS gain
             |  FROM scan$t CROSS JOIN tot$t
             |  WHERE nl < n
             |  ORDER BY gain DESC, qty ASC LIMIT 1),
             |li$t AS MATERIALIZED (
             |  SELECT li.qty,
             |    li.r - CASE WHEN li.qty <= b.qty THEN b.vl ELSE b.vr END AS r
             |  FROM $in li CROSS JOIN best$t b),
             |mse$t AS (
             |  SELECT CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE) / 10000.0 / 10000.0 AS mse
             |  FROM li$t)""".stripMargin
        }.mkString(",\n")
        val report = (1 to K).map { t =>
          s"""SELECT $t AS round, qty AS split_qty, nl AS n_left, nr AS n_right,
             |  vl AS left_value_cents, vr AS right_value_cents, gain,
             |  (SELECT mse FROM mse$t) AS train_mse
             |FROM best$t""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH raw AS MATERIALIZED (
           |  SELECT CAST(l_quantity AS INT) AS qty,
           |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
           |  FROM lineitem),
           |f0 AS (
           |  SELECT CAST(floor(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS v0
           |  FROM raw),
           |li0 AS MATERIALIZED (
           |  SELECT qty, c - v0 AS r FROM raw CROSS JOIN f0),
           |$rounds
           |$report
           |ORDER BY round""".stripMargin
      }
    )
  )

  /** Per-(test doc, candidate class) quantized negative log-likelihood —
    * the shared scoring frame behind the seven fold-0 NB queries
    * (ml_naive_bayes, ml_confusion_prf, ml_auc, ml_reliability_bins,
    * ml_pr_curve, ml_isotonic_calibration, ml_ks_test). Columns: doc_id,
    * true_lang, lang, nll (dyadic on the 2^-20 grid, so exact-comparable
    * and integer-scalable on both engines). `fold` selects which id-hash
    * residue is held out.
    *
    * Invariants:
    *  - '''One cold leaf per (session, normalized dir, fold).''' The
    *    first call for a key tokenizes `documents`, trains the model,
    *    scores the held-out fold and stages the frame with
    *    `GenSnap.stage`; every later call, from any query, returns that
    *    leaf, so a query plans over a scan of ~5k rows (sf0.1) and
    *    neither reads nor tokenizes the corpus. [[nbBuilds]] counts the
    *    builds.
    *  - '''Session lifetime.''' The leaf lives until the session stops;
    *    [[graft.SessionMemo]] drops the key on application end.
    *  - '''The data dir is fixed for the session's life''', the same
    *    contract as the `Tables` schema pin: a `documents` table
    *    rewritten under a dir this session has already scored is not
    *    re-read.
    *  - '''Cold, and one fold per leaf.''' The cold leaf
    *    (MEMORY_AND_DISK_SER) holds 0.35 MB of storage at sf0.1. On the
    *    `iterative` perfbench workload (sf0.1, 4 vCPU) the `hot`
    *    columnar form measured 5.0 queries/s against 5.9 for the cold
    *    one, with heap +7.8 %; staging all five folds at once (the
    *    fused [[kfoldScored]] frame) raised heap by 11.7 %, past the
    *    benchmark's 10 % bound. So only the requested fold is staged.
    */
  def nbNlls(s: SparkSession, d: String, fold: Int = 0): DataFrame =
    nbMemo.getOrCompute(s, d)(new ConcurrentHashMap[Int, DataFrame])
      .computeIfAbsent(fold, { _ =>
        import graft.ops.Text.tokens
        nbBuilds.incrementAndGet()
        val docs = documents(s, d)
        val train = docs.filter(detHash(col("doc_id")) % 5 =!= fold)
        val test = docs.filter(detHash(col("doc_id")) % 5 === fold)
        val trainToks = train
          .select(col("lang"), explode(tokens(col("text"))).as("term"))
          .transform(GenSnap.snap) // class counts + totals + V read one tokenization
        val cwc = trainToks.groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
        val ctot = trainToks.groupBy("lang").agg(count(lit(1)).as("tot"))
        val vsize = trainToks.agg(countDistinct(col("term")).as("v"))
        val ndocs = train.groupBy("lang").agg(count(lit(1)).as("nd"))
          .crossJoin(broadcast(train.agg(count(lit(1)).as("ndall"))))
        val grid = lit(1048576.0)
        val prior = ndocs.select(col("lang"),
          (floor(-log(col("nd").cast("double") / col("ndall").cast("double"))
            * grid) / grid).as("psq"))
        val tf = test
          .select(col("doc_id"), col("lang").as("true_lang"),
            explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "true_lang", "term").agg(count(lit(1)).as("tf"))
        tf.crossJoin(broadcast(ctot.crossJoin(vsize)))
          .join(cwc, Seq("lang", "term"), "left")
          .select(col("doc_id"), col("true_lang"), col("lang"), col("tf"),
            (floor(-log((coalesce(col("cnt"), lit(0L)) + 1L).cast("double") /
              (col("tot") + col("v")).cast("double")) * grid) / grid).as("sq"))
          .groupBy("doc_id", "true_lang", "lang")
          .agg(sum(col("tf").cast("double") * col("sq")).as("llsum"))
          .join(broadcast(prior), "lang")
          .select(col("doc_id"), col("true_lang"), col("lang"),
            (col("psq") + col("llsum")).as("nll"))
          .transform(GenSnap.stage(_))
      })

  private val nbMemo = graft.SessionMemo[ConcurrentHashMap[Int, DataFrame]]()

  /** Spec probe: how many [[nbNlls]] leaves were built in this process
    * (the `Text.dupPairBuilds` convention). */
  private[graft] val nbBuilds = new AtomicInteger(0)

  /** ml_kfold_cv's fused scoring frame: every document's nll per
    * candidate class, scored by the model of the one fold that holds it
    * out. Columns: res (the doc's id-hash residue, i.e. its test fold),
    * doc_id, true_lang, lang, nll.
    *
    * The five folds partition the corpus by the SAME id-hash residue, so
    * every fold-f statistic derives from per-residue slices of ONE
    * tokenization: train_f counts = all-residue counts MINUS residue f's
    * (exact BIGINT subtraction), train_f vocabulary = all terms minus the
    * terms whose ONLY residue is f, priors likewise — and every test doc
    * belongs to exactly one fold, so all five scoring passes ride one tf
    * frame (five independent [[nbNlls]] chains would tokenize the corpus
    * ten times). The -log/floor quantization sees identical integer
    * operands and the per-(doc, lang) sums are dyadic on the 2^-20 grid
    * (order-free in double), so the rows at `res = f` equal
    * `nbNlls(s, d, f)` bit for bit (pinned per fold in ClassifySpec).
    */
  private[graft] def kfoldScored(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Text.tokens
    val grid = lit(1048576.0)
    val docs = documents(s, d)
      .withColumn("res", detHash(col("doc_id")) % 5)
    val toks = docs
      .select(col("res"), col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("term"))
      .transform(GenSnap.snap) // models + tf read ONE tokenization
    // per-(lang, term): all-residue count + the 5 residue slices
    val cwcPiv = toks.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("cntAll"),
        (0 until 5).map(r =>
          sum(when(col("res") === r, 1L).otherwise(0L)).as(s"c$r")): _*)
    // per-(fold, lang) model table: train token totals, vocab size,
    // prior — a ≤ 5×|langs| frame, broadcast into the scoring join
    val folds = s.range(0, 5).select(col("id").as("fold"))
    val rtot = toks.groupBy("res", "lang").agg(count(lit(1)).as("rt"))
    val ctotF = folds.crossJoin(
        rtot.groupBy("lang").agg(sum("rt").as("ta")))
      .join(rtot.select(col("res").as("tr"), col("lang").as("tl"),
          col("rt")),
        col("tr") === col("fold") && col("tl") === col("lang"), "left")
      .select(col("fold"), col("lang"),
        (col("ta") - coalesce(col("rt"), lit(0L))).as("tot"))
      // a candidate lang for fold f is one with ≥ 1 train TOKEN —
      // exactly the per-fold ctot's key set in the unfused chains
      .filter(col("tot") > 0)
    val singles = toks.select("res", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("k"), min("res").as("r0"))
    val vF = folds.crossJoin(
        broadcast(singles.agg(count(lit(1)).as("vAll"))))
      .join(singles.filter(col("k") === 1).groupBy(col("r0"))
          .agg(count(lit(1)).as("only")),
        col("r0") === col("fold"), "left")
      .select(col("fold").as("vfold"),
        (col("vAll") - coalesce(col("only"), lit(0L))).as("v"))
    val dres = docs.groupBy("res", "lang").agg(count(lit(1)).as("nd"))
    val priorF = folds.crossJoin(
        dres.groupBy("lang").agg(sum("nd").as("nda")))
      .crossJoin(broadcast(dres.agg(sum("nd").as("nAll"))))
      .join(dres.select(col("res").as("pr"), col("lang").as("pl"),
          col("nd")),
        col("pr") === col("fold") && col("pl") === col("lang"), "left")
      .join(dres.groupBy("res").agg(sum("nd").as("nr"))
          .select(col("res").as("qr"), col("nr")),
        col("qr") === col("fold"), "left")
      .select(col("fold").as("pfold"), col("lang").as("plang"),
        (floor(-log(
          (col("nda") - coalesce(col("nd"), lit(0L))).cast("double") /
          (col("nAll") - coalesce(col("nr"), lit(0L))).cast("double"))
          * grid) / grid).as("psq"))
    val mt = ctotF
      .join(vF, col("fold") === col("vfold"))
      .join(priorF,
        col("fold") === col("pfold") && col("lang") === col("plang"))
      .select(col("fold"), col("lang"), col("tot"), col("v"), col("psq"))
    // one tf pass over ALL test docs (each doc tests in exactly its
    // own residue's fold)
    val tf = toks
      .groupBy(col("res"), col("doc_id"), col("lang").as("true_lang"),
        col("term"))
      .agg(count(lit(1)).as("tf"))
    val ownCnt = expr("CASE res WHEN 0 THEN c0 WHEN 1 THEN c1 " +
      "WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END")
    tf
      .join(broadcast(mt), col("fold") === col("res"))
      .join(cwcPiv.select(col("lang").as("cl"), col("term").as("ct"),
          col("cntAll"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("c4")),
        col("cl") === col("lang") && col("ct") === col("term"), "left")
      .select(col("res"), col("doc_id"), col("true_lang"), col("lang"),
        col("psq"), col("tf"),
        (floor(-log(
          (coalesce(col("cntAll") - ownCnt, lit(0L)) + 1L).cast("double") /
          (col("tot") + col("v")).cast("double")) * grid) / grid).as("sq"))
      .groupBy(col("res"), col("doc_id"), col("true_lang"), col("lang"),
        col("psq"))
      .agg(sum(col("tf").cast("double") * col("sq")).as("llsum"))
      .select(col("res"), col("doc_id"), col("true_lang"), col("lang"),
        (col("psq") + col("llsum")).as("nll"))
  }

  /** Argmin-class prediction per test doc (ties to the smallest class
    * name): doc_id, true_lang, pred, nll.
    */
  def nbPredictions(s: SparkSession, d: String, fold: Int = 0): DataFrame =
    nbNlls(s, d, fold).withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("nll").asc, col("lang").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("lang").as("pred"),
        col("nll"))

  /** The DuckDB CTE chain mirroring [[nbNlls]] + the argmin rank — shared
    * verbatim by the NB oracle queries so the engines can never drift
    * per-query. Ends at `nlls$sfx(doc_id, true_lang, lang, nll, rk)`;
    * `fold`/`sfx` parameterize the held-out residue and the CTE-name
    * suffix so ml_kfold_cv can stack five folds in one statement.
    */
  def nbSqlCtes(fold: Int = 0, sfx: String = ""): String =
    s"""train$sfx AS (
       |  SELECT * FROM documents WHERE ${detHashSql("doc_id")} % 5 <> $fold),
       |test$sfx AS (
       |  SELECT * FROM documents WHERE ${detHashSql("doc_id")} % 5 = $fold),
       |ttoks$sfx AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM train$sfx),
       |cwc$sfx AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
       |        FROM ttoks$sfx GROUP BY 1, 2),
       |ctot$sfx AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot
       |         FROM ttoks$sfx GROUP BY 1),
       |vsize$sfx AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM ttoks$sfx),
       |prior$sfx AS (
       |  SELECT lang, floor(-ln(CAST(count(*) AS DOUBLE) /
       |    (SELECT CAST(count(*) AS DOUBLE) FROM train$sfx)) * 1048576) / 1048576 AS psq
       |  FROM train$sfx GROUP BY lang),
       |tf$sfx AS (
       |  SELECT doc_id, true_lang, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, lang AS true_lang,
       |          unnest(string_split(text, ' ')) AS term FROM test$sfx)
       |  GROUP BY 1, 2, 3),
       |scored$sfx AS (
       |  SELECT tf.doc_id, tf.true_lang, ct.lang,
       |    sum(CAST(tf.tf AS DOUBLE) *
       |      (floor(-ln(CAST(coalesce(cwc.cnt, 0) + 1 AS DOUBLE) /
       |        CAST(ct.tot + vsize.v AS DOUBLE)) * 1048576) / 1048576)) AS llsum
       |  FROM tf$sfx tf
       |  CROSS JOIN ctot$sfx ct CROSS JOIN vsize$sfx vsize
       |  LEFT JOIN cwc$sfx cwc ON cwc.lang = ct.lang AND cwc.term = tf.term
       |  GROUP BY 1, 2, 3),
       |nlls$sfx AS (
       |  SELECT s.doc_id, s.true_lang, s.lang, p.psq + s.llsum AS nll,
       |    row_number() OVER (PARTITION BY s.doc_id
       |                       ORDER BY p.psq + s.llsum ASC, s.lang ASC) AS rk
       |  FROM scored$sfx s JOIN prior$sfx p ON p.lang = s.lang)""".stripMargin
}
