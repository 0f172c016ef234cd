package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.stats.Newton

/** The damped-Newton driver on toy likelihoods: a concave quadratic takes
  * the full Newton step to its optimum, a start where plain Newton points
  * downhill is ridged into an ascent direction, and every way the loop can
  * fail raises an error that names the verb. */
class NewtonSpec extends AnyFunSuite {

  /** ll = −½(x − a)'A(x − a): gradient A(a − x), information A. */
  private val a = Array(0.3, -0.7)
  private val aMat = Array(Array(2.0, 0.6), Array(0.6, 1.0))
  private def quadratic(x: Array[Double]): Newton.Stats = {
    val d = Array(a(0) - x(0), a(1) - x(1))
    val g = Array(aMat(0)(0) * d(0) + aMat(0)(1) * d(1), aMat(1)(0) * d(0) + aMat(1)(1) * d(1))
    (-0.5 * (d(0) * g(0) + d(1) * g(1)), g, aMat)
  }

  /** ll = −(x² − 1)²: maxima at ±1, information 12x² − 4 < 0 near 0. */
  private def doubleWell(x: Array[Double]): Newton.Stats = {
    val v = x(0)
    (-(v * v - 1) * (v * v - 1), Array(-4 * v * (v * v - 1)), Array(Array(12 * v * v - 4)))
  }

  test("a concave quadratic converges in one accepted step: the full Newton step") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val fit = Newton.maximize("toy", Array(0.0, 0.0), 50, 1e-9) { x =>
      seen += x; quadratic(x)
    }
    assert(fit.iterations == 1)
    assert(seen.length == 2, "the start and one trial")
    fit.estimates.zip(a).foreach { case (got, want) => assert(math.abs(got - want) < 1e-12) }
    // Wald SEs are √diag(A⁻¹)
    val det = 2.0 * 1.0 - 0.6 * 0.6
    assert(math.abs(fit.stderr(0) - math.sqrt(1.0 / det)) < 1e-12)
    assert(math.abs(fit.stderr(1) - math.sqrt(2.0 / det)) < 1e-12)
  }

  test("where plain Newton points downhill, the ridge turns it into an ascent direction") {
    val x0 = Array(0.55)
    val (ll0, g0, info0) = doubleWell(x0)
    assert(g0(0) / info0(0)(0) * g0(0) < 0, "plain Newton is a descent direction here")
    val fit = Newton.maximize("toy", x0, 50, 1e-9)(doubleWell)
    assert(math.abs(fit.estimates(0) - 1.0) < 1e-9)
    assert(fit.logLik > ll0)
    assert(math.abs(fit.stderr(0) - 1.0 / math.sqrt(8.0)) < 1e-6)
  }

  test("a non-finite likelihood at the start is a named error") {
    val e = intercept[IllegalArgumentException] {
      Newton.maximize("toy", Array(0.0), 50, 1e-9)(_ => (Double.NaN, Array(1.0), Array(Array(1.0))))
    }
    assert(e.getMessage.contains("toy: non-finite likelihood at the initial point"))
  }

  test("a non-finite likelihood in every backtracking trial is a named error") {
    val e = intercept[IllegalArgumentException] {
      Newton.maximize("toy", Array(0.0), 50, 1e-9) { x =>
        (if (x(0) == 0.0) -1.0 else Double.NegativeInfinity, Array(1.0), Array(Array(1.0)))
      }
    }
    assert(e.getMessage.contains(
      "toy: non-finite likelihood in every backtracking trial at iteration 0"))
  }

  test("a degenerate information that no ridge makes an ascent direction is a named error") {
    val e = intercept[IllegalArgumentException] {
      Newton.maximize("toy", Array(0.0), 50, 1e-9)(_ =>
        (-1.0, Array(Double.NaN), Array(Array(1.0))))
    }
    assert(e.getMessage.contains("toy: could not find an ascent direction"))
  }

  test("running out of maxIter is a named error with the last step and gradient") {
    val e = intercept[IllegalArgumentException] {
      Newton.maximize("toy", Array(0.1), 1, 1e-9)(doubleWell)
    }
    assert(e.getMessage.contains("toy: no convergence in 1 iterations (last step "))
    assert(e.getMessage.contains("max |gradient| "))
  }
}
