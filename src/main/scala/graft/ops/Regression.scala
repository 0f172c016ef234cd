package graft.ops

import graft.agg.{Kernel, OlsAgg, OlsBuf, OlsFinalizer, OlsKernel, OlsSummary}
import graft.stats.{Dist, LinAlg, LocalCollapse}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Fitted linear model carried as a plain value — the Spark equivalent of
  * the reference's model-as-aggregate-state (`OlsState(...)` consumed by
  * `evalMLMethod`, tests/unit_test/udf_test/7_predict.sql; StarRocks JSON
  * model through a CTE, regression.py:266-302). We fit with one aggregate
  * pass, collect the O(k²) summary to the driver, and predict via a
  * codegen-friendly column expression — the broadcast is implicit in the
  * literal coefficients. */
case class OlsModel(summary: OlsSummary, xtxInv: Array[Array[Double]]) {
  def coefficients: Array[Double] = summary.coefficients
  def intercept: Double = if (summary.use_bias) summary.coefficients.last else 0.0
}

object Regression {

  /** One-pass OLS with full inference. `ols(y, xs…, useBias)`. */
  def olsAggColumn(y: Column, xs: Seq[Column], useBias: Boolean = true,
                   weight: Column = lit(1.0)): Column =
    Kernel.column(new OlsAgg(xs.length, useBias), olsInput(y, xs, weight): _*)

  /** Unweighted [[olsAggColumn]] as PLAIN declarative sums — the 100 TB
    * hot path behind `functions.ols`. The OlsAgg kernel rides
    * ObjectHashAggregate (per-row object churn, outside whole-stage
    * codegen); the identical sufficient statistics — n, Σx, the packed
    * ΣxᵢxⱼGram triangle, Σxy, Σy, Σy² — are expressible as native sum()
    * aggregates that stay inside codegen, with the O(k³) normal-equation
    * close per GROUP in a ScalaUDF over the moment struct (it feeds the
    * very same [[graft.agg.OlsFinalizer]].summary, so the output struct
    * is field-for-field the OlsAgg one). Listwise-null semantics match
    * olsInput: a row with ANY null among (y, xs) contributes nothing.
    * Measured at the 100M-row probe: ~3x over the aggregator path. */
  private[graft] def olsDeclarativeColumn(y: Column, xs: Seq[Column],
                                          useBias: Boolean): Column = {
    val k = xs.length
    val kb = k + (if (useBias) 1 else 0)
    val yd = y.cast("double")
    val xd = xs.map(_.cast("double"))
    val v = (yd +: xd).map(_.isNotNull).reduce(_ && _)
    // coalesce: an all-null group must yield a ZERO buffer (the
    // finalizer then emits the NaN summary), not null array elements
    def g(c: Column): Column = coalesce(sum(when(v, c)), lit(0.0))
    val cols: Seq[Column] = (0 until kb).map(i => if (i < k) xd(i) else lit(1.0))
    val n = count(when(v, lit(1)))
    val sumX = array(cols.map(g): _*)
    val sumXY = array((for (i <- 0 until kb; j <- i until kb)
      yield g(cols(i) * cols(j))): _*)
    val xty = array(cols.map(c => g(c * yd)): _*)
    val sy = g(yd); val syy = g(yd * yd)
    val moments = struct(n.as("n"), sumX.as("sx"), sumXY.as("sxy"),
      xty.as("xty"), sy.as("sy"), syy.as("syy"))
    val solve = udf((r: org.apache.spark.sql.Row) => {
      val cnt = r.getAs[Long]("n")
      def arr(name: String): Array[Double] =
        r.getAs[scala.collection.Seq[Double]](name).toArray
      val buf = graft.agg.OlsBuf(
        graft.stats.DeltaStats(cnt, arr("sx"), arr("sxy")),
        graft.stats.DeltaStats(cnt, Array(r.getAs[Double]("sy")),
          Array(r.getAs[Double]("syy"))),
        arr("xty"), cnt.toDouble)
      graft.agg.OlsFinalizer.summary(buf, k, useBias)
    })
    solve(moments)
  }

  /** The OLS kernels' inputs: y, xs, weight as doubles. A row with a null
    * among them is skipped, so incomplete rows drop listwise (R lm
    * na.omit; the reference engines skip aggregate NULL inputs). */
  private def olsInput(y: Column, xs: Seq[Column], weight: Column): Seq[Column] =
    ((y +: xs) :+ weight).map(_.cast("double"))

  /** Raw OlsBuf aggregate as a Column (struct output) — the building block
    * shared by [[fitOls]], [[fitOlsMulti]], and Longterm's per-replicate
    * grouped refits. */
  private[graft] def olsBufColumn(y: Column, xs: Seq[Column], useBias: Boolean = true,
                                  weight: Column = lit(1.0)): Column =
    Kernel.column(new OlsBufAgg(xs.length, useBias), olsInput(y, xs, weight): _*)

  /** Decode an OlsBufOut struct row back into the buffer. */
  private[graft] def bufFromRow(row: org.apache.spark.sql.Row): OlsBuf = OlsBuf(
    graft.stats.DeltaStats(row.getLong(0), row.getSeq[Double](1).toArray, row.getSeq[Double](2).toArray),
    graft.stats.DeltaStats(row.getLong(3), row.getSeq[Double](4).toArray, row.getSeq[Double](5).toArray),
    row.getSeq[Double](6).toArray, row.getDouble(7))

  private[graft] def modelFromBuf(buf: OlsBuf, k: Int, useBias: Boolean): OlsModel =
    OlsModel(OlsFinalizer.summary(buf, k, useBias), OlsFinalizer.xtxInv(buf))

  /** Fit and collect the model (drives the same aggregate, keeps (XᵀX)⁻¹
    * for interval prediction). */
  def fitOls(df: DataFrame, y: Column, xs: Seq[Column], useBias: Boolean = true,
             weight: Column = lit(1.0)): OlsModel = {
    val row = df.select(olsBufColumn(y, xs, useBias, weight).as("b"))
      .select("b.*").head()
    modelFromBuf(bufFromRow(row), xs.length, useBias)
  }

  /** Fit SEVERAL OLS models in ONE scan — one OlsBuf aggregate per
    * (target, design) pair, a single job (k separate fitOls calls would
    * re-scan the input k times). */
  def fitOlsMulti(df: DataFrame, targets: Seq[(Column, Seq[Column])],
                  useBias: Boolean = true, weight: Column = lit(1.0)): Seq[OlsModel] =
    fitOlsMultiWeighted(df, targets.map { case (y, xs) => (y, xs, weight) }, useBias)

  /** [[fitOlsMulti]] with a weight PER target — a NULL weight drops the row
    * from that target's fit entirely (the null guard nulls the packed
    * input), so subset fits fuse into one scan via indicator weights
    * (`when(cond, 1.0)`): exactly the rows where cond holds enter that
    * model, with the same count/df/inference as a filtered fit. */
  def fitOlsMultiWeighted(df: DataFrame, targets: Seq[(Column, Seq[Column], Column)],
                          useBias: Boolean = true): Seq[OlsModel] = {
    require(targets.nonEmpty, "need at least one target")
    // DECLARATIVE moments instead of the OlsBufAgg kernel: the buffer's
    // sufficient statistics are plain sums — x-side Σ√w·xᵢ and the
    // packed Σw·xᵢxⱼ triangle, y-side Σ√w·y and Σw·y², Σw·y·xᵢ, Σw, n —
    // which stay inside whole-stage codegen where the kernel rides
    // ObjectHashAggregate (~3x at the 100M probe; IRLS loops pay this
    // once per iteration). The one collected row per target is rebuilt
    // into the exact OlsBuf the finalizer already consumes, so model
    // numerics and the listwise-null / null-weight-drops-row semantics
    // are unchanged.
    val aggs = targets.zipWithIndex.flatMap { case ((y0, xs0, w0), i) =>
      val k = xs0.length
      val kb = k + (if (useBias) 1 else 0)
      val yd = y0.cast("double")
      val wd = w0.cast("double")
      val xd = xs0.map(_.cast("double"))
      val v = ((yd +: xd) :+ wd).map(_.isNotNull).reduce(_ && _)
      def g(c: Column): Column = coalesce(sum(when(v, c)), lit(0.0))
      val sw = sqrt(wd)
      val cols: Seq[Column] =
        (0 until kb).map(j => if (j < k) xd(j) else lit(1.0))
      Seq(
        count(when(v, lit(1))).as(s"n$i"),
        array(cols.map(c => g(c * sw)): _*).as(s"sx$i"),
        array((for (a <- 0 until kb; b <- a until kb)
          yield g(cols(a) * cols(b) * wd)): _*).as(s"sxy$i"),
        array(cols.map(c => g(c * yd * wd)): _*).as(s"xty$i"),
        g(yd * sw).as(s"sy$i"),
        g(yd * yd * wd).as(s"syy$i"),
        g(wd).as(s"sw$i"))
    }
    val row = df.select(aggs: _*).head()
    targets.zipWithIndex.map { case ((_, xs0, _), i) =>
      val cnt = row.getAs[Long](s"n$i")
      def arr(name: String): Array[Double] =
        row.getAs[scala.collection.Seq[Double]](name).toArray
      val buf = graft.agg.OlsBuf(
        graft.stats.DeltaStats(cnt, arr(s"sx$i"), arr(s"sxy$i")),
        graft.stats.DeltaStats(cnt, Array(row.getAs[Double](s"sy$i")),
          Array(row.getAs[Double](s"syy$i"))),
        arr(s"xty$i"), row.getAs[Double](s"sw$i"))
      modelFromBuf(buf, xs0.length, useBias)
    }
  }

  /** `eval_ml_method(model, xs…)` — predicted value ŷ = xᵀβ (+ intercept).
    * Pure column expression → whole-stage codegen, no UDF. */
  def predict(model: OlsModel, xs: Seq[Column]): Column = {
    val c = model.summary.coefficients
    val terms = xs.zipWithIndex.map { case (x, i) => x.cast("double") * lit(c(i)) }
    val base = terms.reduce(_ + _)
    if (model.summary.use_bias) base + lit(c.last) else base
  }

  /** Interval prediction (OlsIntervalState, 11_ols_interval.sql):
    * se(x₀) = σ·sqrt(x₀ᵀ(XᵀX)⁻¹x₀ [+1 for prediction interval]);
    * bounds = ŷ ∓ t(1−α/2, df)·se. Returns struct(fit, lower, upper). */
  def predictInterval(model: OlsModel, xs: Seq[Column],
                      interval: String = "confidence", alpha: Double = 0.05): Column = {
    val s = model.summary
    val kb = s.k + (if (s.use_bias) 1 else 0)
    val df_ = (s.n - s.k - 1).toDouble
    val tq = Dist.tQuantile(1 - alpha / 2, df_)
    val sigma = s.residual_stderr
    val addOne = interval == "prediction"
    val inv = model.xtxInv
    // x₀ᵀ(XᵀX)⁻¹x₀ expanded as a quadratic column expression
    val xcols: Seq[Column] = xs.map(_.cast("double")) ++
      (if (s.use_bias) Seq(lit(1.0)) else Seq.empty)
    var quad: Column = lit(0.0)
    for (i <- 0 until kb; j <- 0 until kb if inv(i)(j) != 0.0)
      quad = quad + xcols(i) * xcols(j) * lit(inv(i)(j))
    if (addOne) quad = quad + lit(1.0)
    val fit = predict(model, xs)
    val se = lit(sigma) * sqrt(quad)
    struct(fit.as("fit"), (fit - lit(tq) * se).as("lower"), (fit + lit(tq) * se).as("upper"))
  }

  /** Difference-in-differences: OLS of y ~ treatment + time + treatment·time
    * [+ X…] (reference calcite DIDParser.java:40-43; regression.py:780-862). */
  def did(df: DataFrame, y: Column, treatment: Column, time: Column,
          xs: Seq[Column] = Seq.empty): OlsModel =
    fitOls(df, y, Seq(treatment, time, treatment * time) ++ xs, useBias = true)

  /** 2SLS instrumental-variable regression `y ~ (t ~ z) + x…`
    * (IvRegressionParser.java:33-131; regression.py:865-953):
    * stage 1 fits t on (z, x), stage 2 fits y on (t̂, x) with the sandwich
    * variance using the stage-2 design built from t̂. */
  def ivRegression(df: DataFrame, y: Column, t: Column, z: Column,
                   xs: Seq[Column] = Seq.empty): OlsSummary = {
    val stage1 = fitOls(df, t, Seq(z) ++ xs, useBias = true)
    val tHat = predict(stage1, Seq(z) ++ xs)
    val withTHat = df.withColumn("__t_hat", tHat)
    fitOls(withTHat, y, Seq(col("__t_hat")) ++ xs, useBias = true).summary
  }

  /** Split-conformal prediction interval (Vovk; Lei et al. 2018): fit on
    * the non-calibration rows, take the k-th smallest absolute residual on
    * the calibration rows with k = ⌈(1−α)(n+1)⌉, and attach [ŷ−q, ŷ+q]
    * anywhere — finite-sample marginal coverage ≥ 1−α with NO Gaussian
    * assumption (contrast [[predictInterval]]'s parametric bands).
    *
    * `isCal` must be a deterministic row predicate (a content-hash or LCG
    * split, so the interval reproduces on any layout). The k-th order
    * statistic is selected EXACTLY by [[kthSmallest]] — rank-bracket via a
    * sketch, then a take-ordered over the tiny in-bracket slice — never by
    * `percentile` interpolation (whose p·(n−1) product can land 1 ulp off
    * an integral index and interpolate q below the true k-th residual,
    * flipping boundary coverage rows). Bounded state at any scale.
    * Rows whose residual is null (null y or feature) don't participate in
    * the rank; k still follows the conformal ⌈(1−α)(n+1)⌉ on the full
    * calibration count, clamped to the defined-residual count.
    * Returns (model, q, nCal). */
  def conformalOls(df: DataFrame, y: Column, xs: Seq[Column], isCal: Column,
                   alpha: Double = 0.1): (OlsModel, Double, Long) = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val cal = df.filter(isCal)
    val m = fitOls(df.filter(!isCal), y, xs)
    val absResid = abs(y.cast("double") - predict(m, xs))
    val cnts = cal.agg(count(lit(1)).as("n"), count(absResid).as("nr")).head()
    val nCal = cnts.getLong(0); val nRes = cnts.getLong(1)
    require(nCal > 0, "conformal_ols: calibration split selected no rows")
    require(nRes > 0,
      "conformal_ols: calibration split has no rows with a defined residual")
    val k = math.min(nRes, math.ceil((1 - alpha) * (nCal + 1)).toLong)
    val q = kthSmallest(cal, absResid, k, nRes)
    (m, q, nCal)
  }

  /** Exact k-th smallest (1-based rank among the `n` non-null values) of
    * `v` over `df`, with bounded state at any scale: a percentile_approx
    * sketch brackets the order statistic to a ±slack rank window, one
    * aggregate fixes the bracket endpoints' exact ranks, and a
    * take-ordered over the (≈ 2·slack-row) in-bracket slice selects the
    * exact value — never a global sort, never interpolation. */
  private[graft] def kthSmallest(df: DataFrame, v: Column, k: Long,
                                 n: Long): Double = {
    require(k >= 1 && k <= n, s"kth_smallest: rank $k outside [1, $n]")
    val acc = 10000
    val slack = math.max(2L, 4L * n / acc)
    val pLo = math.max(0.0, (k - slack).toDouble / n)
    val pHi = math.min(1.0, (k + slack).toDouble / n)
    val b = df.agg(percentile_approx(v, array(lit(pLo), lit(pHi)),
      lit(acc)).as("b")).head().getSeq[Double](0)
    val (vLo, vHi) = (b(0), b(1))
    if (vLo == vHi) return vLo // a tie block spans the bracket: value pinned
    // exact ranks of both bracket endpoints in ONE pass; the <=/<
    // pairs make the tie-block early returns PROVABLE rather than
    // sketch-trusting (the requires only fire if percentile_approx
    // breaks its n/accuracy rank guarantee)
    val cnt = df.agg(
      sum(when(v < vLo, 1L).otherwise(0L)).as("lt_lo"),
      sum(when(v <= vLo, 1L).otherwise(0L)).as("le_lo"),
      sum(when(v < vHi, 1L).otherwise(0L)).as("lt_hi"),
      sum(when(v <= vHi, 1L).otherwise(0L)).as("le_hi")).head()
    val ltLo = cnt.getLong(0); val leLo = cnt.getLong(1)
    val ltHi = cnt.getLong(2); val leHi = cnt.getLong(3)
    require(ltLo < k && leHi >= k,
      s"kth_smallest: sketch bracket [$vLo, $vHi] excludes rank $k " +
        s"(ranks $ltLo/$leHi) — percentile_approx rank guarantee violated")
    if (leLo >= k) return vLo // ranks ltLo+1..leLo all equal vLo; k is one
    if (ltHi < k) return vHi // ranks ltHi+1..leHi all equal vHi; k is one
    // strictly inside (vLo, vHi): ranks leLo+1 .. ltHi live there, and the
    // sketch's rank guarantee bounds that slice to ~2·slack rows — a
    // take-ordered with a small limit, not a global sort
    val need = (k - leLo).toInt
    df.filter(v > vLo && v < vHi).select(v.cast("double").as("__v"))
      .orderBy(col("__v")).limit(need)
      .agg(max(col("__v"))).head().getDouble(0)
  }

  case class ClusterRobustResult(model: OlsModel, nClusters: Long,
                                 se: Array[Double], t_values: Array[Double],
                                 p_values: Array[Double])

  /** Cluster-robust (Liang–Zeger, Stata CR1) OLS inference — the correct
    * standard errors when randomization or correlation sits at a coarser
    * unit than the row (user-level assignment scored on user-day rows):
    * rows within a cluster may be arbitrarily correlated, which the iid
    * OLS variance understates badly. Absent from the reference (its
    * ols/wls inference assumes iid rows).
    *
    * Three passes, all bounded state: the existing one-pass OLS fit; ONE
    * groupBy keyed by cluster building each cluster's score vector
    * u_g = Σ_{i∈g} x̃ᵢ·eᵢ (kb conditional sums, map-side combined —
    * cluster count is unbounded, nothing collects per cluster); and a
    * constant-state aggregation of the kb×kb outer-product sum Σ u_g·u_gᵀ.
    * vcov = (XᵀX)⁻¹ (Σ u_g u_gᵀ) (XᵀX)⁻¹ · G/(G−1) · (n−1)/(n−kb), and t
    * carries G−1 degrees of freedom (the Stata convention). Coefficient
    * order matches [[OlsSummary]]: xs…, intercept last. */
  def clusterRobustOls(df: DataFrame, y: Column, xs: Seq[Column],
                       cluster: Column): ClusterRobustResult = {
    val m = fitOls(df, y, xs)
    val kb = xs.length + 1
    val e = y.cast("double") - predict(m, xs)
    val design = xs.map(_.cast("double")) :+ lit(1.0)
    val complete = ((y +: xs).map(_.cast("double").isNotNull) :+
      cluster.isNotNull).reduce(_ && _)
    val uCols = design.zipWithIndex.map { case (x, j) => sum(x * e).as(s"u$j") }
    val scores = df.filter(complete).groupBy(cluster.as("__g"))
      .agg(uCols.head, uCols.tail: _*)
    val pairs = for { i <- 0 until kb; j <- i until kb } yield (i, j)
    val meatCols = pairs.map { case (i, j) =>
      sum(col(s"u$i") * col(s"u$j")).as(s"m_${i}_$j") }
    val aggCols = count(lit(1)).as("g") +: meatCols
    val row = scores.agg(aggCols.head, aggCols.tail: _*).head()
    val g = row.getLong(0)
    require(g >= 2, s"cluster_robust_ols: need at least 2 clusters, got $g")
    val meat = LinAlg.zeros(kb, kb)
    pairs.zipWithIndex.foreach { case ((i, j), ix) =>
      meat(i)(j) = row.getDouble(ix + 1); meat(j)(i) = meat(i)(j)
    }
    val n = m.summary.n.toDouble
    val c = (g.toDouble / (g - 1.0)) * ((n - 1.0) / (n - kb))
    val v = LinAlg.matMul(LinAlg.matMul(m.xtxInv, meat), m.xtxInv)
    val se = Array.tabulate(kb)(j => math.sqrt(c * v(j)(j)))
    val tv = Array.tabulate(kb)(j => m.summary.coefficients(j) / se(j))
    val pv = tv.map(t => Dist.tTwoSidedP(t, (g - 1).toDouble))
    ClusterRobustResult(m, g, se, tv, pv)
  }

  /** struct(fit, lower, upper) for a conformal (model, q) pair. */
  /** Silverman-style pilot bandwidth for [[rddSharp]]/[[rddFuzzy]]
    * (Imbens & Lemieux 2008 §4.3's rule-of-thumb starting point — NOT
    * the full IK/CCT MSE-optimal selector, which needs pilot curvature
    * fits; the Scaladoc name says exactly what it is):
    *
    *   h_ROT = 1.84 · σ_x · n^(−1/5)
    *
    * over rows with a non-null outcome and running variable. Standard
    * practice: run the sharp/fuzzy estimator at h_ROT, h_ROT/2, 2·h_ROT
    * and report all three. ONE aggregate; replays in plain SQL.
    * Returns one row: (n, sd, h). */
  /** Kitagawa-Oaxaca-Blinder decomposition (Oaxaca 1973, Blinder 1973) —
    * split a two-group mean gap into the part EXPLAINED by covariate
    * differences and the rest (two-fold form, group-0 coefficients as
    * the reference):
    *
    *   ȳ₁ − ȳ₀ = (x̄₁ − x̄₀)'β₀  +  [x̄₁'(β₁ − β₀) + (α₁ − α₀)]
    *              explained          unexplained
    *
    * The workhorse for "is the metric gap between cohorts composition or
    * behavior?" — and, because each group's OLS passes through its own
    * means, the two parts sum to the raw gap EXACTLY (pinned in the unit
    * spec).
    *
    * 100 TB shape: both group fits ride [[fitOlsMultiWeighted]]'s ONE
    * scan (indicator weights), plus ONE conditional-moments pass for the
    * group means — two row-scale scans total, no per-group filtering
    * jobs. Replays in SQL at small k via the normal equations. Returns
    * one row: (n0, n1, gap, explained, unexplained, explained_share). */
  def oaxacaBlinder(df: DataFrame, y: Column, group: Column,
                    xs: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(xs.nonEmpty, "oaxaca_blinder: need at least one covariate")
    val gi = group.cast("int")
    val yd = y.cast("double")
    val complete = (Seq(yd, gi.cast("double")) ++ xs.map(_.cast("double")))
      .map(_.isNotNull).reduce(_ && _)
    val base = df.filter(complete)
    val models = fitOlsMultiWeighted(base, Seq(
      (yd, xs, when(gi === 0, 1.0)),
      (yd, xs, when(gi === 1, 1.0))))
    val b0 = models.head.summary.coefficients
    require(models(1).summary.coefficients.length == b0.length,
      "oaxaca_blinder: group fits dropped different columns (collinearity)")
    val aggs = Seq(
      sum(when(gi === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(gi === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(gi =!= 0 && gi =!= 1, 1L).otherwise(0L)).as("bad"),
      avg(when(gi === 0, yd)).as("y0"),
      avg(when(gi === 1, yd)).as("y1")) ++
      xs.zipWithIndex.flatMap { case (x, i) =>
        Seq(avg(when(gi === 0, x.cast("double"))).as(s"x0_$i"),
          avg(when(gi === 1, x.cast("double"))).as(s"x1_$i"))
      }
    val m = base.agg(aggs.head, aggs.tail: _*).head()
    require(m.getAs[Long]("bad") == 0,
      s"oaxaca_blinder: ${m.getAs[Long]("bad")} rows have group outside {0, 1}")
    val (n0, n1) = (m.getAs[Long]("n0"), m.getAs[Long]("n1"))
    require(n0 > xs.length + 1 && n1 > xs.length + 1,
      "oaxaca_blinder: each group needs more rows than coefficients")
    val gap = m.getAs[Double]("y1") - m.getAs[Double]("y0")
    val explained = xs.indices.map(i =>
      (m.getAs[Double](s"x1_$i") - m.getAs[Double](s"x0_$i")) * b0(i)).sum
    val unexplained = gap - explained
    Seq((n0, n1, gap, explained, unexplained,
        if (gap != 0) explained / gap else Double.NaN))
      .toDF("n0", "n1", "gap", "explained", "unexplained", "explained_share")
  }

  /** Theil-Sen slope (Theil 1950, Sen 1968) — the median of all pairwise
    * slopes: the 29%-breakdown robust trend line that OLS (#10) cannot
    * be (one bad telemetry batch moves an OLS slope arbitrarily far).
    *
    *   slope = median{ (y_j − y_i)/(x_j − x_i) : x_i ≠ x_j },
    *   intercept = median(y − slope·x)
    *
    * 100 TB shape: the estimator is INHERENTLY O(n²) pairs — this
    * operator is for series-sized inputs (a metric by day, a per-cohort
    * aggregate), so n is guarded at `maxRows` (the error names the
    * pre-aggregation escape). Within the cap everything stays
    * distributed: the pair frame is a self-join on a RangeCumSum row id,
    * the two medians are exact `percentile` aggregates — no driver
    * materialization of pairs. Returns one row:
    * (n, n_pairs, slope, intercept). */
  def theilSen(df: DataFrame, x: Column, y: Column,
               maxRows: Long = 20000L, maxLocalRows: Long = 4096L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(x.cast("double").as("__x"), y.cast("double").as("__y"))
    val rows = LocalCollapse.within(base, maxRows)(
      s"theil_sen: more than $maxRows rows — the pairwise-slope median " +
        "is O(n²); pre-aggregate to period cells (the metric-by-day " +
        "shape this estimator is for) or raise maxRows")
    val n = rows.length.toLong
    require(n >= 3, s"theil_sen: need at least 3 rows, got $n")
    // bounded driver collapse (the Robust.MaxLocalCells idiom): the verb
    // is already O(n²) with n capped at `maxRows`, so under a tighter
    // driver bound (default 4096 rows → ≤ 8.4M pair slopes, a primitive
    // array) the pair frame, its persist, and the two all-values exact
    // `percentile` buffers collapse to plain Scala after ONE bounded
    // collect. The slope multiset is enumeration-order-independent and
    // the median interpolation is the same quantile_cont formula. NaN
    // values bail to the distributed twin (Spark percentile's NaN
    // ordering stays authoritative); forced via maxLocalRows = 0 in the
    // spec.
    if (n <= maxLocalRows &&
        rows.forall(r => !r.getDouble(0).isNaN && !r.getDouble(1).isNaN)) {
      val ni = rows.length
      val xs = new Array[Double](ni); val ys = new Array[Double](ni)
      var i = 0
      while (i < ni) { xs(i) = rows(i).getDouble(0); ys(i) = rows(i).getDouble(1); i += 1 }
      var np = 0L
      i = 0
      while (i < ni) {
        var j = i + 1
        while (j < ni) { if (xs(i) != xs(j)) np += 1; j += 1 }
        i += 1
      }
      require(np > 0, "theil_sen: x is constant — no defined pair slopes")
      val slopes = new Array[Double](np.toInt)
      var w = 0
      i = 0
      while (i < ni) {
        var j = i + 1
        while (j < ni) {
          if (xs(i) != xs(j)) {
            slopes(w) = (ys(j) - ys(i)) / (xs(j) - xs(i)); w += 1
          }
          j += 1
        }
        i += 1
      }
      // median with Spark `percentile` / quantile_cont interpolation
      def medianOf(a: Array[Double]): Double = {
        java.util.Arrays.sort(a)
        val pos = 0.5 * (a.length - 1)
        val l = math.floor(pos).toInt; val h = math.ceil(pos).toInt
        if (l == h) a(l) else (h - pos) * a(l) + (pos - l) * a(h)
      }
      val slope = medianOf(slopes)
      val resid = new Array[Double](ni)
      i = 0
      while (i < ni) { resid(i) = ys(i) - slope * xs(i); i += 1 }
      val icept = medianOf(resid)
      return Seq((n, np, slope, icept)).toDF("n", "n_pairs", "slope", "intercept")
    }
    RangeCumSum.withRowNumber(base, Seq(col("__x").asc, col("__y").asc),
        "__i") { (ranked, _) =>
      val a = ranked.select(col("__i").as("ia"), col("__x").as("xa"),
        col("__y").as("ya"))
      val b = ranked.select(col("__i").as("ib"), col("__x").as("xb"),
        col("__y").as("yb"))
      val pairs = a.join(b, col("ia") < col("ib") && col("xa") =!= col("xb"))
        .select(((col("yb") - col("ya")) / (col("xb") - col("xa")))
          .as("__s"))
      pairs.persist()
      try {
        val pr = pairs.agg(count(lit(1)).as("np"),
          expr("percentile(__s, 0.5)").as("m")).head()
        val np = pr.getAs[Long]("np")
        require(np > 0, "theil_sen: x is constant — no defined pair slopes")
        val slope = pr.getAs[Double]("m")
        val icept = base.agg(
          expr(s"percentile(__y - ${slope} * __x, 0.5)")).head().getDouble(0)
        Seq((n, np, slope, icept)).toDF("n", "n_pairs", "slope", "intercept")
      } finally { pairs.unpersist(); () }
    }
  }

  /** Augmented Dickey-Fuller unit-root test (Dickey-Fuller 1979;
    * MacKinnon 2010 asymptotic constant-only critical values) — "is this
    * metric series mean-reverting or a random walk", the stationarity
    * gate before [[graft.ops.Drift.ewmaMonitor]]-style control charts
    * (whose fixed baseline assumes it) and before trend tests read
    * drift into a walk:
    *
    *   Δy_t = α + β·y_{t−1} + Σ_{i≤lags} γ_i·Δy_{t−i} + ε,
    *   ADF = β̂/se(β̂), reject unit root when ADF < critical
    *
    * (critical values −3.43/−2.86/−2.57 at 1/5/10% are the published
    * asymptotic constant-only row — the τ_μ distribution is nonstandard,
    * so no interpolated p is invented; the spec validates the fit itself
    * against commons-math OLS). 100 TB shape: ONE row-scale aggregate to
    * period cells; the lag/difference windows and the OLS ride CELLS
    * (calendar-bounded, the ewma contract). Returns one row: (n_periods,
    * n_used, lags, beta, se, adf_stat, crit_1pct, crit_5pct, crit_10pct,
    * stationary_5pct). */
  def adfTest(df: DataFrame, period: Column, value: Column,
              lags: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(lags >= 0 && lags <= 24,
      s"adf_test: lags must be in [0, 24], got $lags")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("period"))
    val withLag = cells
      .withColumn("y_lag", lag(col("y"), 1).over(w))
      .withColumn("dy", col("y") - col("y_lag"))
    val withDyLags = (1 to lags).foldLeft(withLag) { (d, i) =>
      d.withColumn(s"dy_lag$i", lag(col("dy"), i).over(w))
    }
    val complete = withDyLags.filter(
      (col("y_lag").isNotNull +: (1 to lags).map(i => col(s"dy_lag$i").isNotNull))
        .reduce(_ && _))
    val xs = col("y_lag") +: (1 to lags).map(i => col(s"dy_lag$i"))
    val m = Regression.fitOls(complete, col("dy"), xs, useBias = true)
    val s = m.summary
    val nPeriods = s.n + lags + 1 // complete rows exclude the seed rows
    require(s.n > xs.length + 2,
      s"adf_test: only ${s.n} usable periods after differencing/lagging — " +
        "coarsen the period bucket or lower lags")
    val beta = s.coefficients(0)
    val se = s.stderr(0)
    val stat = beta / se
    val (c1, c5, c10) = (-3.43, -2.86, -2.57)
    Seq((nPeriods, s.n, lags, beta, se, stat, c1, c5, c10, stat < c5))
      .toDF("n_periods", "n_used", "lags", "beta", "se", "adf_stat",
        "crit_1pct", "crit_5pct", "crit_10pct", "stationary_5pct")
  }

  /** Chow structural-break test (Chow 1960) — "did the relationship
    * change between the two regimes" (pre/post launch, control/treated
    * market, before/after a pipeline change):
    *
    *   F = [(SSE_pooled − SSE₁ − SSE₂)/(k+1)] /
    *       [(SSE₁ + SSE₂)/(n₁ + n₂ − 2(k+1))]   ~  F(k+1, n₁+n₂−2(k+1))
    *
    * with SSE from each regime's own OLS fit (intercept included, hence
    * k+1 restrictions). THREE one-pass OLS aggregates (pooled + per
    * regime) — no row ever leaves the executors. `group` must be 0/1;
    * anything else is a named error. Returns one row:
    * (n1, n2, k, sse_pooled, sse1, sse2, f_stat, p_value). */
  def chowTest(df: DataFrame, y: Column, xs: Seq[Column],
               group: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = group.cast("int")
    val base = df.filter(y.isNotNull && g.isNotNull &&
      xs.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
    val bad = base.filter(g =!= 0 && g =!= 1).limit(1).count()
    require(bad == 0, "chow_test: group must be 0/1")
    val k = xs.length
    def sse(d: DataFrame): (Long, Double) = {
      val s = fitOls(d, y, xs, useBias = true).summary
      val dfree = (s.n - k - 1).toDouble
      (s.n, s.residual_stderr * s.residual_stderr * dfree)
    }
    val (n, ssePooled) = sse(base)
    val (n1, sse1) = sse(base.filter(g === 1))
    val (n0, sse0) = sse(base.filter(g === 0))
    require(n1 > k + 1 && n0 > k + 1,
      s"chow_test: each regime needs more than ${k + 1} rows, got $n1 / $n0")
    val df2 = (n - 2L * (k + 1)).toDouble
    val f = ((ssePooled - sse1 - sse0) / (k + 1)) / ((sse1 + sse0) / df2)
    val p =
      if (f <= 0) 1.0
      else 1.0 - Dist.fCdf(f, (k + 1).toDouble, df2)
    Seq((n1, n0, k, ssePooled, sse1, sse0, f, p))
      .toDF("n1", "n0", "k", "sse_pooled", "sse1", "sse0", "f_stat",
        "p_value")
  }

  /** Breusch-Pagan heteroskedasticity test (1979, the LM form) — "do the
    * residuals fan out with the covariates", the assumption check behind
    * plain-OLS stderrs (fails ⇒ use [[clusterRobustOls]]'s sandwich or
    * WLS):
    *
    *   fit y ~ X, then û² ~ X;  LM = n·R²_aux  ~  χ²(k)
    *
    * (the studentized Koenker form — robust to non-normal errors, the
    * default in every stats package). TWO one-pass OLS aggregates; the
    * residual column is a codegen'd expression of the broadcast first
    * fit, never materialized. Returns one row:
    * (n, k, r2_aux, lm, p_value). */
  def breuschPagan(df: DataFrame, y: Column, xs: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(y.isNotNull &&
      xs.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
    val m = fitOls(base, y, xs, useBias = true)
    val pred = Regression.predict(m, xs)
    val u2 = (y.cast("double") - pred) * (y.cast("double") - pred)
    val aux = fitOls(base, u2, xs, useBias = true).summary
    val lm = aux.n * aux.r2
    val p = 1.0 - Dist.chiSqCdf(lm, xs.length.toDouble)
    Seq((aux.n, xs.length, aux.r2, lm, p))
      .toDF("n", "k", "r2_aux", "lm", "p_value")
  }

  /** Variance inflation factors — the standard multicollinearity
    * diagnostic BEFORE reading OLS/logistic coefficient SEs:
    * VIF_j = [R⁻¹]_jj over the covariate correlation matrix R,
    * equivalently 1/(1−R²_j) from regressing x_j on the other
    * covariates (identical by the partitioned-inverse identity;
    * tolerance = 1/VIF, r_squared = 1 − 1/VIF). Rule-of-thumb flags
    * (VIF > 5 / > 10) are the caller's policy — the numbers are exact.
    *
    * 100 TB shape: ONE row-scale moment aggregate (k means + k(k+1)/2
    * cross moments, all codegen sums), O(k³) driver inverse. Returns
    * one row per covariate: (term, vif, tolerance, r_squared, n). */
  def vif(df: DataFrame, xs: Seq[Column], names: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(xs.length >= 2, "vif: need at least 2 covariates")
    require(names.length == xs.length,
      s"vif: ${xs.length} covariates but ${names.length} names")
    val k = xs.length
    val complete = xs.map(_.isNotNull).reduce(_ && _)
    val base = df.filter(complete).select(
      xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    val pairs = for { j <- 0 until k; l <- j until k } yield (j, l)
    val aggs = Seq(count(lit(1)).as("n")) ++
      (0 until k).map(j => avg(col(s"__x$j")).as(s"m$j")) ++
      pairs.map { case (j, l) =>
        avg(col(s"__x$j") * col(s"__x$l")).as(s"p${j}_$l") }
    val r0 = base.agg(aggs.head, aggs.tail: _*).head()
    val n = r0.getAs[Long]("n")
    require(n > k.toLong, s"vif: $n complete rows cannot support $k covariates")
    val m = Array.tabulate(k)(j => r0.getAs[Double](s"m$j"))
    val cov = LinAlg.zeros(k, k)
    pairs.foreach { case (j, l) =>
      cov(j)(l) = r0.getAs[Double](s"p${j}_$l") - m(j) * m(l)
      cov(l)(j) = cov(j)(l)
    }
    (0 until k).foreach(j => require(cov(j)(j) > 0,
      s"vif: covariate '${names(j)}' is constant"))
    val sd = Array.tabulate(k)(j => math.sqrt(cov(j)(j)))
    val corr = Array.tabulate(k, k)((j, l) => cov(j)(l) / (sd(j) * sd(l)))
    val inv =
      try LinAlg.invert(corr)
      catch {
        case e: RuntimeException => throw new IllegalArgumentException(
          "vif: singular correlation matrix (perfectly collinear " +
            "covariates) — drop one of the aliased columns", e)
      }
    // VIF = [R^-1]_jj >= 1 exactly; a diagonal below 1 (or non-finite)
    // means the inverse ran through a near-machine-zero pivot — exact
    // collinearity that survived floating point, not a real answer
    (0 until k).foreach(j => require(
      inv(j)(j).isFinite && inv(j)(j) >= 1.0 - 1e-6,
      s"vif: correlation matrix is numerically singular at " +
        s"'${names(j)}' (perfectly collinear covariates) — drop one of " +
        "the aliased columns"))
    (0 until k).map { j =>
      val v = inv(j)(j)
      (names(j), v, 1.0 / v, 1.0 - 1.0 / v, n)
    }.toDF("term", "vif", "tolerance", "r_squared", "n")
  }

  def rddBandwidth(df: DataFrame, y: Column, running: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val xd = running.cast("double")
    val r = df.filter(yd.isNotNull && xd.isNotNull)
      .agg(count(lit(1)).as("n"), stddev_samp(xd).as("sd")).head()
    val n = r.getAs[Long]("n")
    require(n >= 10, s"rdd_bandwidth: need at least 10 rows, got $n")
    val sd = r.getAs[Double]("sd")
    require(sd > 0, "rdd_bandwidth: running variable is constant")
    val h = 1.84 * sd * math.pow(n.toDouble, -0.2)
    Seq((n, sd, h)).toDF("n", "sd", "h")
  }

  /** Fuzzy regression discontinuity (Hahn–Todd–van der Klaauw 2001;
    * Imbens & Lemieux 2008 §3): when crossing the cutoff shifts treatment
    * TAKE-UP by less than one, the causal effect is the local Wald ratio
    * of the two sharp jumps,
    *
    *   τ = Δy / Δd,  Δy = α_R^y − α_L^y,  Δd = α_R^d − α_L^d,
    *
    * each α a kernel-weighted local-linear intercept at the cutoff (the
    * same estimator [[rddSharp]] uses, fit once for the outcome and once
    * for take-up on the SAME design matrix). The delta-method variance
    * needs the within-side covariance of the two intercepts, so the HC0
    * sandwich generalizes to the cross-meat Σ w²ε_y ε_d xxᵀ:
    *
    *   V(τ) = [V(Δy) + τ²V(Δd) − 2τ·Cov(Δy, Δd)] / Δd²
    *
    * 100 TB shape: ONE row-scale aggregate to 30 conditional moment sums
    * per side — ε_y·ε_d expands polynomially in (1, x, y, d) exactly as
    * ε² does in the sharp case, so no residual pass; the 2×2 solves and
    * the sandwich algebra are driver arithmetic and EVERYTHING replays
    * in plain SQL. Boundary rows at x = cutoff belong to the right side.
    * Returns one row: (n_left, n_right, jump_y, jump_d, se_first, tau,
    * se, z) — se_first is the first-stage (Δd) standard error; a
    * take-up jump statistically near zero is a named error, not a
    * silently exploded ratio. */
  def rddFuzzy(df: DataFrame, y: Column, takeup: Column, running: Column,
               cutoff: Double, bandwidth: Double,
               kernel: String = "triangular"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(bandwidth > 0, "rdd_fuzzy: bandwidth must be positive")
    val kern = kernel.toLowerCase
    require(kern == "triangular" || kern == "uniform",
      s"rdd_fuzzy: kernel must be triangular|uniform, got $kernel")
    val yd = y.cast("double")
    val dd = takeup.cast("double")
    val xc = running.cast("double") - lit(cutoff)
    val w0 = if (kern == "triangular") lit(1.0) - abs(xc) / bandwidth
      else lit(1.0)
    val in = yd.isNotNull && dd.isNotNull && xc.isNotNull &&
      abs(xc) < bandwidth
    val right = xc >= 0
    def sideSums(side: Column, tag: String): Seq[Column] = {
      def m(c: Column, name: String): Column =
        sum(when(in && side, c).otherwise(lit(0.0))).as(s"${name}_$tag")
      def outcomeSums(o: Column, p: String): Seq[Column] = Seq(
        m(w0 * o, s"w$p"), m(w0 * xc * o, s"wx$p"),
        m(w0 * w0 * o, s"w2$p"), m(w0 * w0 * xc * o, s"w2x$p"),
        m(w0 * w0 * xc * xc * o, s"w2xx$p"),
        m(w0 * w0 * xc * xc * xc * o, s"w2x3$p"),
        m(w0 * w0 * o * o, s"w2${p}${p}"),
        m(w0 * w0 * xc * o * o, s"w2x$p$p"),
        m(w0 * w0 * xc * xc * o * o, s"w2xx$p$p"))
      Seq(m(lit(1.0), "n"),
        m(w0, "w"), m(w0 * xc, "wx"), m(w0 * xc * xc, "wxx"),
        m(w0 * w0, "w2"), m(w0 * w0 * xc, "w2x"),
        m(w0 * w0 * xc * xc, "w2xx"), m(w0 * w0 * xc * xc * xc, "w2x3"),
        m(w0 * w0 * xc * xc * xc * xc, "w2x4")) ++
        outcomeSums(yd, "y") ++ outcomeSums(dd, "d") ++ Seq(
        m(w0 * w0 * yd * dd, "w2yd"), m(w0 * w0 * xc * yd * dd, "w2xyd"),
        m(w0 * w0 * xc * xc * yd * dd, "w2xxyd"))
    }
    val sums = sideSums(right, "r") ++ sideSums(!right, "l")
    val r = df.agg(sums.head, sums.tail: _*).head()
    // per side: both intercepts + V(α_y), V(α_d), Cov(α_y, α_d)
    def side(tag: String): (Long, Double, Double, Double, Double, Double) = {
      def g(n: String): Double = r.getAs[Double](s"${n}_$tag")
      val n = g("n").round
      require(n >= 3,
        s"rdd_fuzzy: fewer than 3 rows on the ${if (tag == "r") "right" else "left"} " +
          "side within the bandwidth — widen it")
      val (sw, swx, swxx) = (g("w"), g("wx"), g("wxx"))
      val det = sw * swxx - swx * swx
      require(math.abs(det) > 1e-12 * sw * swxx + 1e-300,
        "rdd_fuzzy: degenerate running-variable design (all x equal on one side)")
      def fit(p: String): (Double, Double) = (
        (swxx * g(s"w$p") - swx * g(s"wx$p")) / det,
        (sw * g(s"wx$p") - swx * g(s"w$p")) / det)
      val (ay, by) = fit("y")
      val (ad, bd) = fit("d")
      // cross-meat M_pq(k) = Σ w² ε_p ε_q x^k with ε expanded in moments;
      // p = q recovers the sharp case's ε² expansion
      def xk(k: Int): Double = k match {
        case 0 => g("w2"); case 1 => g("w2x"); case 2 => g("w2xx")
        case 3 => g("w2x3"); case _ => g("w2x4")
      }
      def ok(p: String, k: Int): Double = k match {
        case 0 => g(s"w2$p"); case 1 => g(s"w2x$p")
        case 2 => g(s"w2xx$p"); case _ => g(s"w2x3$p")
      }
      def pqk(p: String, q: String, k: Int): Double =
        if (p == q) (if (k == 0) g(s"w2$p$p")
          else if (k == 1) g(s"w2x$p$p") else g(s"w2xx$p$p"))
        else (if (k == 0) g("w2yd") else if (k == 1) g("w2xyd")
          else g("w2xxyd"))
      def meat(p: String, ap: Double, bp: Double,
               q: String, aq: Double, bq: Double)(k: Int): Double =
        pqk(p, q, k) - aq * ok(p, k) - bq * ok(p, k + 1) -
          ap * ok(q, k) - bp * ok(q, k + 1) +
          ap * aq * xk(k) + (ap * bq + bp * aq) * xk(k + 1) +
          bp * bq * xk(k + 2)
      def sandwich(m: Int => Double): Double =
        (swxx * swxx * m(0) - 2 * swxx * swx * m(1) + swx * swx * m(2)) /
          (det * det)
      val vy = math.max(0.0, sandwich(meat("y", ay, by, "y", ay, by)))
      val vd = math.max(0.0, sandwich(meat("d", ad, bd, "d", ad, bd)))
      val cyd = sandwich(meat("y", ay, by, "d", ad, bd))
      (n, ay, ad, vy, vd, cyd)
    }
    val (nR, ayR, adR, vyR, vdR, cR) = side("r")
    val (nL, ayL, adL, vyL, vdL, cL) = side("l")
    val jumpY = ayR - ayL
    val jumpD = adR - adL
    val vD = vdR + vdL
    val seFirst = math.sqrt(vD)
    require(math.abs(jumpD) > 3 * seFirst && math.abs(jumpD) > 1e-12,
      f"rdd_fuzzy: weak first stage — take-up jump $jumpD%.4g (se " +
        f"$seFirst%.4g) is within 3 SEs of zero; the Wald ratio is not " +
        "identified at this cutoff/bandwidth")
    val tau = jumpY / jumpD
    val vTau = math.max(0.0,
      (vyR + vyL) + tau * tau * vD - 2 * tau * (cR + cL)) / (jumpD * jumpD)
    val se = math.sqrt(vTau)
    val z = if (se > 0) tau / se else 0.0
    Seq((nL, nR, jumpY, jumpD, seFirst, tau, se, z))
      .toDF("n_left", "n_right", "jump_y", "jump_d", "se_first", "tau",
        "se", "z")
  }

  /** Interrupted time series / segmented regression (Wagner et al. 2002;
    * the single-series quasi-experimental design when there is no
    * control group and no cutoff-in-a-covariate — a policy or release
    * lands at time c and the question is how the LEVEL and the TREND of
    * the metric changed):
    *
    *   pre:  y = α_L + β_L·(t − c),   post:  y = α_R + β_R·(t − c)
    *   level_change = α_R − α_L  (both lines evaluated AT c),
    *   slope_change = β_R − β_L,
    *
    * with HC0 sandwich SEs for both contrasts (V(β) = e₂ᵀA⁻¹MA⁻¹e₂ —
    * the slope row of the same sandwich [[rddSharp]] takes the intercept
    * row of). Unlike rddSharp there is no kernel and no bandwidth: every
    * observation enters, because the design's identification is the
    * model (two lines), not localization.
    *
    * 100 TB shape: ONE row-scale aggregate to 12 moment sums per side
    * (w ≡ 1 collapses the sharp-RDD moment set), 2×2 solves on the
    * driver; everything replays in plain SQL. Rows at exactly t = c
    * belong to the post segment. CAVEAT (documented, not solved here):
    * HC0 treats residuals as independent — strongly autocorrelated
    * series need fewer, coarser periods (pre-aggregate to the
    * randomization/seasonality unit) or a Newey–West correction.
    * Returns one row: (n_pre, n_post, level_pre, level_post,
    * level_change, se_level, z_level, slope_pre, slope_post,
    * slope_change, se_slope, z_slope). */
  def interruptedTimeSeries(df: DataFrame, y: Column, time: Column,
                            interruption: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val xc = time.cast("double") - lit(interruption)
    val in = yd.isNotNull && xc.isNotNull
    val post = xc >= 0
    def sideSums(side: Column, tag: String): Seq[Column] = {
      def m(c: Column, name: String): Column =
        sum(when(in && side, c).otherwise(lit(0.0))).as(s"${name}_$tag")
      Seq(m(lit(1.0), "n"), m(xc, "x"), m(xc * xc, "xx"),
        m(xc * xc * xc, "x3"), m(xc * xc * xc * xc, "x4"),
        m(yd, "y"), m(xc * yd, "xy"), m(xc * xc * yd, "xxy"),
        m(xc * xc * xc * yd, "x3y"),
        m(yd * yd, "yy"), m(xc * yd * yd, "xyy"),
        m(xc * xc * yd * yd, "xxyy"))
    }
    val sums = sideSums(post, "r") ++ sideSums(!post, "l")
    val r = df.agg(sums.head, sums.tail: _*).head()
    // per side: (n, α, β, V(α), V(β))
    def side(tag: String): (Long, Double, Double, Double, Double) = {
      def g(n: String): Double = r.getAs[Double](s"${n}_$tag")
      val n = g("n").round
      require(n >= 3,
        s"interrupted_time_series: fewer than 3 rows on the " +
          s"${if (tag == "r") "post" else "pre"} segment")
      val (sn, sx, sxx) = (g("n"), g("x"), g("xx"))
      val det = sn * sxx - sx * sx
      require(math.abs(det) > 1e-12 * sn * sxx + 1e-300,
        "interrupted_time_series: degenerate segment (all times equal)")
      val alpha = (sxx * g("y") - sx * g("xy")) / det
      val beta = (sn * g("xy") - sx * g("y")) / det
      def meat(k: Int): Double = {
        val (yy, y1, xy1) = k match {
          case 0 => (g("yy"), g("y"), g("xy"))
          case 1 => (g("xyy"), g("xy"), g("xxy"))
          case _ => (g("xxyy"), g("xxy"), g("x3y"))
        }
        val (one, x1, x2) = k match {
          case 0 => (sn, sx, sxx)
          case 1 => (sx, sxx, g("x3"))
          case _ => (sxx, g("x3"), g("x4"))
        }
        yy - 2 * alpha * y1 - 2 * beta * xy1 +
          alpha * alpha * one + 2 * alpha * beta * x1 + beta * beta * x2
      }
      val (m0, m1, m2) = (meat(0), meat(1), meat(2))
      val vA = math.max(0.0,
        (sxx * sxx * m0 - 2 * sxx * sx * m1 + sx * sx * m2) / (det * det))
      val vB = math.max(0.0,
        (sx * sx * m0 - 2 * sn * sx * m1 + sn * sn * m2) / (det * det))
      (n, alpha, beta, vA, vB)
    }
    val (nR, aR, bR, vaR, vbR) = side("r")
    val (nL, aL, bL, vaL, vbL) = side("l")
    val dLevel = aR - aL
    val dSlope = bR - bL
    val seL = math.sqrt(vaR + vaL)
    val seS = math.sqrt(vbR + vbL)
    Seq((nL, nR, aL, aR, dLevel, seL, if (seL > 0) dLevel / seL else 0.0,
        bL, bR, dSlope, seS, if (seS > 0) dSlope / seS else 0.0))
      .toDF("n_pre", "n_post", "level_pre", "level_post", "level_change",
        "se_level", "z_level", "slope_pre", "slope_post", "slope_change",
        "se_slope", "z_slope")
  }

  /** Mediation analysis (Baron–Kenny product of coefficients with the
    * Sobel standard error): decompose a treatment effect into the path
    * through a mediator M and the direct remainder —
    *
    *   M = α + a·T,  Y = β + b·M + c'·T,
    *   indirect = a·b,  se_Sobel = √(a²·V(b̂) + b²·V(â)),
    *   total c = cov(T,Y)/var(T),  proportion mediated = a·b/c
    *
    * — the standard observational decomposition the reference's causal
    * tier stops short of. Both regressions and their coefficient
    * variances are closed forms of second moments, so ONE row-scale
    * aggregate (10 sums) feeds driver arithmetic and EVERYTHING replays
    * in plain SQL. Listwise null drop. Returns one row: (n, a, b,
    * c_total, c_direct, indirect, se_indirect, z, prop_mediated). */
  def mediation(df: DataFrame, y: Column, treatment: Column,
                mediator: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val td = treatment.cast("double")
    val md = mediator.cast("double")
    val yd = y.cast("double")
    val r = df.filter(td.isNotNull && md.isNotNull && yd.isNotNull).agg(
      count(lit(1)).as("n"), sum(td).as("st"), sum(md).as("sm"),
      sum(yd).as("sy"), sum(td * td).as("stt"), sum(td * md).as("stm"),
      sum(td * yd).as("sty"), sum(md * md).as("smm"),
      sum(md * yd).as("smy"), sum(yd * yd).as("syy")).head()
    val n = r.getAs[Long]("n")
    require(n >= 4, s"mediation: need at least 4 complete rows, got $n")
    val nd = n.toDouble
    // centered second moments
    val (st, sm, sy) = (r.getAs[Double]("st"), r.getAs[Double]("sm"),
      r.getAs[Double]("sy"))
    val cTT = r.getAs[Double]("stt") - st * st / nd
    val cTM = r.getAs[Double]("stm") - st * sm / nd
    val cTY = r.getAs[Double]("sty") - st * sy / nd
    val cMM = r.getAs[Double]("smm") - sm * sm / nd
    val cMY = r.getAs[Double]("smy") - sm * sy / nd
    val cYY = r.getAs[Double]("syy") - sy * sy / nd
    require(cTT > 0, "mediation: treatment has zero variance")
    val a = cTM / cTT
    val varA = math.max(0.0, (cMM - a * cTM) / (nd - 2)) / cTT
    val det = cMM * cTT - cTM * cTM
    require(det > 1e-12 * cMM * cTT,
      "mediation: mediator is collinear with treatment — no direct/indirect " +
        "split is identified")
    val b = (cMY * cTT - cTY * cTM) / det
    val cDir = (cTY * cMM - cMY * cTM) / det
    val sigma2 = math.max(0.0, cYY - b * cMY - cDir * cTY) / (nd - 3)
    val varB = sigma2 * cTT / det
    val cTot = cTY / cTT
    val indirect = a * b
    val se = math.sqrt(a * a * varB + b * b * varA)
    val z = if (se > 0) indirect / se else 0.0
    val prop = if (cTot != 0) indirect / cTot else Double.NaN
    Seq((n, a, b, cTot, cDir, indirect, se, z, prop))
      .toDF("n", "a", "b", "c_total", "c_direct", "indirect",
        "se_indirect", "z", "prop_mediated")
  }

  /** Sharp regression discontinuity (Imbens & Lemieux 2008; the
    * local-linear estimator of Hahn–Todd–van der Klaauw): the treatment
    * effect at a cutoff c of a running variable x is the jump between two
    * kernel-weighted local-linear fits of y on (x − c), one per side,
    * within bandwidth h:
    *
    *   τ = α_R − α_L,  each α the side's weighted-LS intercept at c,
    *   se² = V(α_R) + V(α_L) with V the HC0 sandwich
    *         e₁ᵀ(XᵀWX)⁻¹ (Σ w²ε² xxᵀ) (XᵀWX)⁻¹ e₁
    *
    * — the "conventional" rdrobust readout. Neither the reference nor the
    * rest of this board covers the cutoff-assignment design.
    *
    * 100 TB shape: ONE row-scale aggregate collapses the in-bandwidth
    * rows to 18 conditional moment sums per side (w·x^a·y^b and the
    * w²-weighted set the sandwich expands into — ε² is a polynomial in
    * (1, x, y), so HC0 needs no residual pass); the 2×2 solves and the
    * sandwich are driver arithmetic. Everything replays in plain SQL.
    * Boundary rows at exactly x = c belong to the RIGHT (treated) side,
    * the standard ≥-cutoff assignment. Returns one row:
    * (n_left, n_right, y_left, y_right, tau, se, z). */
  def rddSharp(df: DataFrame, y: Column, running: Column, cutoff: Double,
               bandwidth: Double, kernel: String = "triangular"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(bandwidth > 0, "rdd_sharp: bandwidth must be positive")
    val kern = kernel.toLowerCase
    require(kern == "triangular" || kern == "uniform",
      s"rdd_sharp: kernel must be triangular|uniform, got $kernel")
    val yd = y.cast("double")
    val xc = running.cast("double") - lit(cutoff)
    val w0 = if (kern == "triangular") lit(1.0) - abs(xc) / bandwidth
      else lit(1.0)
    val in = yd.isNotNull && xc.isNotNull && abs(xc) < bandwidth
    val right = xc >= 0
    def sideSums(side: Column, tag: String): Seq[Column] = {
      def m(c: Column, name: String): Column =
        sum(when(in && side, c).otherwise(lit(0.0))).as(s"${name}_$tag")
      Seq(
        m(lit(1.0), "n"),
        // XᵀWX and XᵀWy moments
        m(w0, "w"), m(w0 * xc, "wx"), m(w0 * xc * xc, "wxx"),
        m(w0 * yd, "wy"), m(w0 * xc * yd, "wxy"),
        // HC0 moments: Σ w² x^a y^b for a ≤ 4, b ≤ 2 (ε² expands into them)
        m(w0 * w0, "w2"), m(w0 * w0 * xc, "w2x"),
        m(w0 * w0 * xc * xc, "w2xx"),
        m(w0 * w0 * xc * xc * xc, "w2x3"),
        m(w0 * w0 * xc * xc * xc * xc, "w2x4"),
        m(w0 * w0 * yd, "w2y"), m(w0 * w0 * xc * yd, "w2xy"),
        m(w0 * w0 * xc * xc * yd, "w2xxy"),
        m(w0 * w0 * xc * xc * xc * yd, "w2x3y"),
        m(w0 * w0 * yd * yd, "w2yy"), m(w0 * w0 * xc * yd * yd, "w2xyy"),
        m(w0 * w0 * xc * xc * yd * yd, "w2xxyy"))
    }
    val sums = sideSums(right, "r") ++ sideSums(!right, "l")
    val r = df.agg(sums.head, sums.tail: _*).head()
    def side(tag: String): (Long, Double, Double, Double) = {
      def g(n: String): Double = r.getAs[Double](s"${n}_$tag")
      val n = g("n").round
      require(n >= 3,
        s"rdd_sharp: fewer than 3 rows on the ${if (tag == "r") "right" else "left"} " +
          "side within the bandwidth — widen it")
      val (sw, swx, swxx) = (g("w"), g("wx"), g("wxx"))
      val det = sw * swxx - swx * swx
      require(math.abs(det) > 1e-12 * sw * swxx + 1e-300,
        "rdd_sharp: degenerate running-variable design (all x equal on one side)")
      // weighted LS solve: [α, β] = (XᵀWX)⁻¹ XᵀWy
      val alpha = (swxx * g("wy") - swx * g("wxy")) / det
      val beta = (sw * g("wxy") - swx * g("wy")) / det
      // meat = Σ w²ε² x^k, k = 0,1,2 — ε = y − α − βx expanded in moments
      def meat(k: Int): Double = {
        val (yy, y1, one) = k match {
          case 0 => (g("w2yy"), g("w2y"), g("w2"))
          case 1 => (g("w2xyy"), g("w2xy"), g("w2x"))
          case _ => (g("w2xxyy"), g("w2xxy"), g("w2xx"))
        }
        val (x1, x2) = k match {
          case 0 => (g("w2x"), g("w2xx"))
          case 1 => (g("w2xx"), g("w2x3"))
          case _ => (g("w2x3"), g("w2x4"))
        }
        yy - 2 * alpha * y1 - 2 * beta * (if (k == 0) g("w2xy")
          else if (k == 1) g("w2xxy") else g("w2x3y")) +
          alpha * alpha * one + 2 * alpha * beta * x1 + beta * beta * x2
      }
      // V(α) = e₁ᵀ A⁻¹ M A⁻¹ e₁ with A = XᵀWX; first row of A⁻¹ is
      // (swxx, −swx)/det, so V = (swxx² m0 − 2 swxx swx m1 + swx² m2)/det²
      val v = (swxx * swxx * meat(0) - 2 * swxx * swx * meat(1) +
        swx * swx * meat(2)) / (det * det)
      (n, alpha, beta, math.max(0.0, v))
    }
    val (nR, aR, _, vR) = side("r")
    val (nL, aL, _, vL) = side("l")
    val tau = aR - aL
    val se = math.sqrt(vR + vL)
    val z = if (se > 0) tau / se else 0.0
    Seq((nL, nR, aL, aR, tau, se, z))
      .toDF("n_left", "n_right", "y_left", "y_right", "tau", "se", "z")
  }

  def conformalBand(model: OlsModel, xs: Seq[Column], q: Double): Column = {
    val fit = predict(model, xs)
    struct(fit.as("fit"), (fit - q).as("lower"), (fit + q).as("upper"))
  }

  private val IvFormula =
    """\s*([\w.]+)\s*~\s*\(\s*([\w.]+)\s*~\s*([\w.]+)\s*\)\s*(?:\+\s*(.+))?""".r

  /** The reference's formula form `iv_regression('y ~ (t ~ z) + x1 + x2')`
    * (regression.py:865-953; IvRegressionParser.java:33-131). */
  def ivRegressionFormula(df: DataFrame, formula: String): OlsSummary =
    formula match {
      case IvFormula(y, t, z, rest) =>
        val xs = Option(rest).toSeq
          .flatMap(_.split("\\+").map(_.trim).filter(_.nonEmpty))
        ivRegression(df, col(y), col(t), col(z), xs.map(col))
      case _ => throw new IllegalArgumentException(
        s"cannot parse IV formula '$formula' — expected 'y ~ (t ~ z) [+ x...]'")
    }
}

/** Internal: surfaces the raw OlsBuf as a struct so the driver can rebuild
  * the model with (XᵀX)⁻¹ (needed for intervals/IV), not just the summary. */
private[graft] class OlsBufAgg(k: Int, useBias: Boolean) extends OlsKernel(k, useBias) {
  def dataType: DataType = Kernel.struct("xn" -> LongType, "xSumX" -> Kernel.Doubles,
    "xSumXY" -> Kernel.Doubles, "yn" -> LongType, "ySumX" -> Kernel.Doubles,
    "ySumXY" -> Kernel.Doubles, "xty" -> Kernel.Doubles,
    "weightSum" -> DoubleType)
  def finish(b: OlsBuf): OlsBufOut = OlsBufOut(
    b.x.count, b.x.sumX, b.x.sumXY, b.y.count, b.y.sumX, b.y.sumXY, b.xty, b.weightSum)
}

private[graft] case class OlsBufOut(
    xn: Long, xSumX: Array[Double], xSumXY: Array[Double],
    yn: Long, ySumX: Array[Double], ySumXY: Array[Double],
    xty: Array[Double], weightSum: Double)
