package graft

import graft.agg._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Public Column builders — the Spark-native surface replacing the
  * reference's engine UDF names (registerAggregateFunctions.cpp:149-158,
  * all_in_sql_functions.h:26-44). Symbolic expressions use variables
  * `x1..xn` bound positionally to `cols`, exactly like the engine
  * aggregates; the camelCase metric variants accept the Python-SDK style
  * `"avg(numerator)/avg(denominator)"` strings instead.
  */
object functions {

  /** The argument columns cast to double: the leading inputs of every
    * kernel, which skips a row when any of them (or any other input it
    * requires) is null — incomplete rows drop listwise, exactly like the
    * reference engines' aggregate NULL-skipping (and R's lm na.omit). */
  private def doubles(cols: Seq[Column]): Seq[Column] = cols.map(_.cast("double"))

  private val DefaultAlpha = graft.stats.TtestCommon.DefaultAlpha

  /** Variance (isStd=false) or standard error (isStd=true) of
    * f(x̄₁..x̄ₖ) by the delta method — single pass, O(k²) state. */
  def delta_method(expr: String, isStd: Boolean, cols: Seq[Column]): Column =
    Kernel.column(new DeltaMethodAgg(expr, isStd, cols.length), doubles(cols): _*)

  /** One-sample t-test of f(means) against mu; optional CUPED expression
    * over the same x1..xk symbols, e.g. "x3/x4" or "x3+x4". Returns a
    * struct (estimate, stderr, t_statistic, p_value, lower, upper). */
  def ttest_1samp(expr: String, alternative: String = "two-sided", mu: Double = 0.0,
                  cuped: String = "", alpha: Double = DefaultAlpha)
                 (cols: Column*): Column =
    Kernel.column(new Ttest1SampAgg(expr, alternative, mu, cuped, alpha, cols.length),
      doubles(cols): _*)

  /** Two-sample t-test of f(means) between treatment==0 and ==1. Returns a
    * struct (mean0, mean1, estimate, stderr, t_statistic, p_value, lower,
    * upper). */
  def ttest_2samp(expr: String, treatment: Column, alternative: String = "two-sided",
                  cuped: String = "", alpha: Double = DefaultAlpha,
                  mu: Double = 0.0)
                 (cols: Column*): Column =
    Kernel.column(new Ttest2SampAgg(expr, alternative, cuped, alpha, cols.length, mu),
      doubles(cols) :+ treatment.cast("int"): _*)

  /** Post-stratified two-sample t-test; `stratum` is the PSE column. */
  def ttest_2samp_pse(expr: String, treatment: Column, stratum: Column,
                      alternative: String = "two-sided", cuped: String = "",
                      alpha: Double = DefaultAlpha)(cols: Column*): Column =
    Kernel.column(new Ttest2SampPseAgg(expr, alternative, cuped, alpha, cols.length),
      doubles(cols) ++ Seq(treatment.cast("int"), stratum.cast("long")): _*)

  /** Sample-ratio-mismatch chi-square (reference `SRM(x, groupby, ratio)`).
    * Returns struct(groups, observed, expected, chisq, p_value). */
  def srm(value: Column, group: Column, ratios: Seq[Double]): Column =
    Kernel.column(new SrmAgg(ratios.toArray),
      when(value.isNotNull, group.cast("string")), value.cast("double"))

  /** Mann-Whitney U test (reference `mann_whitney_utest`). Returns
    * struct(u_statistic, p_value). Aggregate state is a value→count
    * histogram (O(distinct), not O(n)). For a whole table,
    * ops.RankTests.mannWhitneyU is the frame-level form (the gateway's
    * top-level `mann_whitney_utest`): it collapses the tie cells to the
    * driver when they fit `Robust.MaxLocalCells` and ranks them with the
    * same [[graft.agg.MannWhitneyMath.rankSum]], and falls back to a
    * range-partitioned cumulative sum past that bound. */
  def mann_whitney_utest(value: Column, treatment: Column,
                         alternative: String = "two-sided",
                         continuityCorrection: Boolean = true): Column =
    Kernel.column(new MannWhitneyAgg(alternative, continuityCorrection),
      rankInput(value, treatment), treatment.cast("int"))

  /** The rank tests' value input: NaN (skipped) when value or treatment is null. */
  private def rankInput(value: Column, treatment: Column): Column =
    when(value.isNotNull && treatment.isNotNull, value.cast("double"))
      .otherwise(lit(Double.NaN))

  /** Two-sample Kolmogorov-Smirnov test. Returns struct(d_statistic, p_value). */
  def kolmogorov_smirnov_test(value: Column, treatment: Column,
                              alternative: String = "two-sided",
                              method: String = "auto"): Column =
    Kernel.column(new KsAgg(alternative, method),
      rankInput(value, treatment), treatment.cast("int"))

  /** Pearson correlation with its two-sided t-test p-value (reference
    * `Pearsonr(x, y)`, AggregateFunctionPearsonr.h:56-72: t = r·√df/√(1−r²),
    * df = n−2, p = 2(1 − T_df(|t|))). Composed from codegen'd built-ins —
    * `corr` + a pairwise-complete count — with the scalar t-CDF applied on
    * top of the aggregate results, so there is no custom aggregate state and
    * the whole pre-shuffle side stays in WholeStageCodegen. Returns
    * struct(r, p_value); the reference tuple names the first field
    * `u_statistic` but it carries the correlation coefficient. Fewer than 3
    * pairwise-complete rows (reference: BAD_ARGUMENTS throw) yields a null
    * p_value instead. */
  def pearson_corr(x: Column, y: Column): Column = {
    val xd = x.cast("double"); val yd = y.cast("double")
    val r = corr(xd, yd) // pairwise-complete, like the CH -If combinator path
    val df = (count(when(xd.isNotNull && yd.isNotNull, 1)) - lit(2)).cast("double")
    val p = when(df >= lit(1.0) && r.isNotNull,
      when(abs(r) >= lit(1.0), lit(0.0)) // t → ±∞; guarded so ANSI mode never divides by zero
        .otherwise(lit(2.0) *
          (lit(1.0) - tCdfUdf(abs(r) * sqrt(df) / sqrt(lit(1.0) - r * r), df))))
    struct(r.as("r"), p.as("p_value"))
  }
  private lazy val tCdfUdf = udf((x: Double, df: Double) => graft.stats.Dist.tCdf(x, df))

  /** One-pass Gram matrix XᵀX, optionally inverted (reference
    * `matrix_multiplication([cols], std, invert)`). */
  def matrix_multiplication(cols: Seq[Column], invert: Boolean = false): Column =
    Kernel.column(new MatrixMulAgg(cols.length, invert), doubles(cols): _*)

  /** Experiment-platform t-test (reference `xexpt_ttest_2samp`): avg or sum
    * metric over (numerator, denominator[, numerator_pre, denominator_pre]),
    * unit-bucketed by uin, with power/MDE/recommended-samples output. */
  def xexpt_ttest_2samp(uin: Column, treatment: Column, cols: Seq[Column],
                        cuped: String = "", alpha: Double = 0.05,
                        mde: Double = 0.005, power: Double = 0.8,
                        metricType: String = "avg",
                        ratios: (Double, Double) = (1.0, 1.0)): Column =
    Kernel.column(new XexptAgg(cols.length, cuped, alpha, mde, power, metricType,
      Array(ratios._1, ratios._2)), doubles(cols) ++ Seq(uin.cast("long"),
      treatment.cast("long")): _*)

  /** One-pass OLS with full inference; returns the summary struct.
    * `use_bias` appends an intercept as the LAST coefficient (reference
    * ols.h:275). */
  def ols(y: Column, xs: Seq[Column], useBias: Boolean = true): Column =
    graft.ops.Regression.olsDeclarativeColumn(y, xs, useBias)

  /** Weighted least squares (reference `Wls(y, x…, weight)`). */
  def wls(y: Column, xs: Seq[Column], weight: Column, useBias: Boolean = true): Column =
    graft.ops.Regression.olsAggColumn(y, xs, useBias, weight)

  // ------------------------------------------------- metric-string forms

  /** Parse Y and optional CUPED metric strings sharing one column list:
    * "avg(numerator)/avg(denominator)" + "avg(n_pre)/avg(d_pre)" →
    * ("x1/x2", "x3/x4", cols = num, den, n_pre, d_pre). */
  private[graft] def parseMetrics(y: String, cuped: String): (String, String, Seq[String]) = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sub(metric: String): String = {
      val pat = java.util.regex.Pattern.compile("(?:avg|mean)\\s*\\(\\s*([A-Za-z0-9_.]+)\\s*\\)")
      val m = pat.matcher(metric)
      val sb = new StringBuilder
      var last = 0
      while (m.find()) {
        sb.append(metric.substring(last, m.start()))
        val idx = seen.getOrElseUpdate(m.group(1), seen.size)
        sb.append(s"x${idx + 1}")
        last = m.end()
      }
      sb.append(metric.substring(last))
      if (seen.isEmpty && sb.toString == metric.trim) {
        // bare column name → avg(col)
        val idx = seen.getOrElseUpdate(metric.trim, seen.size)
        s"x${idx + 1}"
      } else sb.toString
    }
    val ySym = sub(y)
    val cSym = if (cuped.isEmpty) "" else sub(cuped)
    (ySym, cSym, seen.keys.toSeq)
  }

  /** Python-SDK style entry points binding columns from the metric string
    * (reference statistics.py:19-255). */
  def deltaMethod(metric: String, isStd: Boolean = true): Column = {
    val (sym, _, cs) = parseMetrics(metric, "")
    delta_method(sym, isStd, cs.map(col))
  }

  def ttest1Samp(metric: String, alternative: String = "two-sided", mu: Double = 0.0,
                 cuped: String = "", alpha: Double = DefaultAlpha): Column = {
    val (ySym, cSym, cs) = parseMetrics(metric, cuped)
    ttest_1samp(ySym, alternative, mu, cSym, alpha)(cs.map(col): _*)
  }

  def ttest2Samp(metric: String, treatment: Column, alternative: String = "two-sided",
                 cuped: String = "", alpha: Double = DefaultAlpha): Column = {
    val (ySym, cSym, cs) = parseMetrics(metric, cuped)
    ttest_2samp(ySym, treatment, alternative, cSym, alpha)(cs.map(col): _*)
  }

  /** Vectorized variant (reference `ttests_2samp`, starrocks
    * ttests_2samp.h): one aggregate struct per requested alpha, all in ONE
    * pass — a Seq of columns to splat into a select. `mus` optionally sets
    * a per-test null-hypothesis shift (diff tested against mu_i); empty →
    * all zero, else must match `alphas` in length. */
  def ttests2Samp(metric: String, treatment: Column,
                  alternative: String = "two-sided", cuped: String = "",
                  alphas: Seq[Double] = Seq(DefaultAlpha),
                  mus: Seq[Double] = Seq.empty): Seq[Column] = {
    require(mus.isEmpty || mus.length == alphas.length,
      s"mus must be empty or match alphas in length (${alphas.length}), got ${mus.length}")
    val (ySym, cSym, cs) = parseMetrics(metric, cuped)
    alphas.zipWithIndex.map { case (a, i) =>
      ttest_2samp(ySym, treatment, alternative, cSym, a,
        mus.lift(i).getOrElse(0.0))(cs.map(col): _*)
        .as(s"alpha_$a")
    }
  }

  // ------------------------------------------------- scalar parity helpers
  // (reference functions.py:800-1760 names without a built-in Spark twin)

  /** murmur_hash3_32 — Spark's `hash` IS 32-bit Murmur3. */
  def murmur_hash3_32(cols: Column*): Column = hash(cols: _*)
  /** 64-bit hash; Spark's codegen'd 64-bit hash is xxHash64 (documented
    * substitution for the reference's murmur_hash3_64). */
  def murmur_hash3_64(cols: Column*): Column = xxhash64(cols: _*)
  /** rand_cannonical = uniform [0,1) (reference rand()/2^32). */
  def rand_canonical(seed: Long = 42L): Column = rand(seed)
  def int_exp2(x: Column): Column = pow(lit(2.0), x).cast("long")
  def int_exp10(x: Column): Column = pow(lit(10.0), x).cast("long")
  private val gcdUdf = udf((a: Long, b: Long) => {
    var x = math.abs(a); var y = math.abs(b)
    while (y != 0) { val t = x % y; x = y; y = t }
    x
  })
  def gcd(a: Column, b: Column): Column = gcdUdf(a.cast("long"), b.cast("long"))
  def lcm(a: Column, b: Column): Column = {
    val g = gcdUdf(a.cast("long"), b.cast("long"))
    when(g === 0, 0L).otherwise(abs(a.cast("long") * b.cast("long")) / g)
  }
}
