package graft.stats

/** Damped ascent-guaranteed Newton: the one maximizer of the likelihood
  * fits outside the GLM family (ordinal, multinomial, AFT). A model
  * supplies `statsAt`, which evaluates the log-likelihood, its gradient
  * and the observed information (−Hessian) at a parameter vector; one
  * evaluation is one distributed aggregate on the row path, so an
  * accepted line-search trial's stats ARE the next iteration's.
  *
  *  - Direction: the information is ridged (μ₀ = 1e-3·max|diag|, ×10 per
  *    try, at most 60 tries) until the solve gives an ascent direction.
  *    Likelihoods that are not globally concave (AFT in (β, log σ): pure
  *    Newton from a moment init walks onto the flat σ → ∞ ridge) need it;
  *    for concave ones it is float safety.
  *  - Step: at most 25 halvings, accepting a trial no worse than the
  *    incumbent by more than the noise tolerance 1e-9·(1 + |ll|). The bar
  *    is RELATIVE: at row scale |ll| is O(n), a distributed sum's float
  *    noise alone is ~1e-12·|ll|, and an absolute bar would reject every
  *    trial once the true improvement drops under that floor. A trial
  *    whose likelihood is non-finite (ordinal thresholds crossed, a cell
  *    probability non-positive) is rejected like a worse one; when every
  *    finite trial sits within noise of the incumbent, the surface is
  *    flat at float resolution and the fit has converged.
  *  - Stop: step below `tol` and max |gradient| below 1e-7·(1 + |ll|),
  *    or an exactly zero gradient; running out of `maxIter` is a named
  *    error.
  *
  * SEs are Wald, from the inverse information at the optimum. */
object Newton {

  /** (log-likelihood, gradient, observed information) at one point. */
  type Stats = (Double, Array[Double], LinAlg.Mat)

  final case class Fit(estimates: Array[Double], stderr: Array[Double],
                       zValues: Array[Double], pValues: Array[Double],
                       iterations: Int, logLik: Double)

  /** Wald z = est / se and its two-sided normal p-value. */
  def wald(est: Double, se: Double): (Double, Double) = {
    val z = est / se
    (z, 2.0 * (1.0 - Dist.normCdf(math.abs(z))))
  }

  private def finite(v: Double): Boolean = !v.isNaN && !v.isInfinity

  private def maxAbs(v: Array[Double]): Double = v.map(math.abs).max

  /** The ridged Newton direction info⁻¹·g that is an ascent direction. */
  private def ascent(verb: String, g: Array[Double], info: LinAlg.Mat): Array[Double] = {
    val np = g.length
    var mu = 0.0
    var dir: Array[Double] = null
    var tries = 0
    while (dir == null && tries < 60) {
      val a = Array.tabulate(np, np)((i, j) => info(i)(j) + (if (i == j) mu else 0.0))
      val cand =
        try LinAlg.matVec(LinAlg.invert(a), g)
        catch { case _: RuntimeException => null }
      if (cand != null && LinAlg.dot(cand, g) > 0 && cand.forall(finite)) dir = cand
      else mu = if (mu == 0.0) 1e-3 * math.max(1.0, (0 until np).map(i => math.abs(info(i)(i))).max)
                else mu * 10.0
      tries += 1
    }
    require(dir != null, s"$verb: could not find an ascent direction (degenerate " +
      "information) — check for collinear covariates or a perfectly separated outcome")
    dir
  }

  /** Maximize the likelihood `statsAt` evaluates, from `init`; errors
    * name `verb`. */
  def maximize(verb: String, init: Array[Double], maxIter: Int, tol: Double)(
      statsAt: Array[Double] => Stats): Fit = {
    var param = init
    var (ll, grad, info) = statsAt(init)
    require(finite(ll),
      s"$verb: non-finite likelihood at the initial point — rescale extreme covariates")
    var it = 0
    // an exactly zero gradient is a stationary point: no direction ascends
    var done = maxAbs(grad) == 0.0
    var step = Double.NaN
    while (!done && it < maxIter) {
      val dir = ascent(verb, grad, info)
      val noise = 1e-9 * (1.0 + math.abs(ll))
      var f = 1.0
      var halvings = 0
      var accepted = false
      var sawFinite = false
      while (!accepted && halvings < 25) {
        val trial = Array.tabulate(init.length)(j => param(j) + f * dir(j))
        val (llT, gT, infoT) = statsAt(trial)
        sawFinite ||= finite(llT)
        if (finite(llT) && llT >= ll - noise) {
          param = trial; ll = llT; grad = gT; info = infoT; accepted = true
        } else { f /= 2.0; halvings += 1 }
      }
      if (!accepted) {
        require(sawFinite, s"$verb: non-finite likelihood in every backtracking trial " +
          s"at iteration $it — rescale extreme covariates")
        done = true // flat at float resolution
      } else {
        it += 1
        step = dir.map(x => math.abs(f * x)).max
        done = maxAbs(grad) == 0.0 || step < tol && maxAbs(grad) < 1e-7 * (1.0 + math.abs(ll))
      }
    }
    require(done, f"$verb: no convergence in $maxIter iterations (last step $step%.3g, " +
      f"max |gradient| ${maxAbs(grad)}%.3g)")
    val cov = LinAlg.invert(info)
    val se = Array.tabulate(init.length)(j => math.sqrt(cov(j)(j)))
    val (z, p) = param.indices.map(j => wald(param(j), se(j))).unzip
    Fit(param, se, z.toArray, p.toArray, it, ll)
  }
}
