package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-for-bit golden pins for the damped-Newton fits
  * ([[graft.stats.Newton]]): ordinal, multinomial and AFT on a frame that
  * takes several iterations, once over the collapsed cells and once over
  * the rows (`maxCells = 0`). The goldens are the `estimates`, `stderr`,
  * `logLik` and `iterations` the per-model loops produced before they
  * shared one driver; a refactor of the loop or of the moment decoding
  * that changes any of them by one ulp fails here. The row frame is one
  * partition, so the aggregate's summation order is fixed. The same frame
  * pins the named non-convergence error at `maxIter = 1`. */
class NewtonParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def frame() = (0 until 400).map { i =>
    val r = (i * 37 + (i * i) % 101) % 10
    val y = if (r < 2 + (i % 5)) 1.0
            else if (r < 5) 2.0
            else if (r < 8 - ((i / 4) % 2)) 3.0
            else 4.0
    (1.0 + (i % 7).toDouble + 0.5 * ((i / 3) % 2), if (i % 3 == 0) 0 else 1,
      (i % 5).toDouble, ((i / 4) % 2).toDouble, y)
  }.toDF("t", "d", "x1", "x2", "y").coalesce(1)

  private val xs = Seq(col("x1"), col("x2"))
  private val names = Seq("x1", "x2")

  /** estimates ++ stderr ++ (logLik, iterations), compared by bit pattern. */
  private def pin(what: String, got: Seq[Double], golden: Seq[Double]): Unit = {
    val bits = (s: Seq[Double]) => s.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(got) == bits(golden),
      s"$what: got ${got.mkString("Seq(", ", ", ")")}")
  }

  private def fits[T](fit: Int => T)(summary: T => Seq[Double]): (Seq[Double], Seq[Double]) =
    (summary(fit(4096)), summary(fit(0)))

  test("ordinal_logit: cells and rows equal the recorded fit bit for bit") {
    val (cells, rows) = fits(mc => ops.Ordinal.ordinalLogit(frame(), col("y"), xs,
      names, maxCells = mc))(f => f.estimates.toSeq ++ f.stderr ++
      Seq(f.logLik, f.iterations.toDouble))
    pin("cells", cells, Seq(
      -0.7586776304390511, -0.22726887158468312, 0.8229259873605267,
      -0.20344808640226822, 0.2224834592226972, 0.18130271129164396, 0.17616934947554094,
      0.1858465214722179, 0.06632539010409198, 0.18315545479907985, -522.3015693750945,
      4.0))
    pin("rows", rows, Seq(
      -0.7586776304390503, -0.2272688715846824, 0.8229259873605274, -0.2034480864022681,
      0.22248345922269777, 0.18130271129164316, 0.1761693494755402, 0.1858465214722176,
      0.06632539010409184, 0.18315545479907983, -522.3015693750953, 4.0))
  }

  test("multinomial_logit: cells and rows equal the recorded fit bit for bit") {
    val (cells, rows) = fits(mc => ops.Multinomial.multinomialLogit(frame(), col("y"),
      xs, names, maxCells = mc))(f => f.estimates.toSeq.flatten ++
      f.stderr.toSeq.flatten ++ Seq(f.logLik, f.iterations.toDouble))
    pin("cells", cells, Seq(
      0.7058755698098463, -0.9834575956955857, -0.46389118732151463, 0.4649964369729434,
      -0.34221832772479527, -0.42498489715021315, -0.013000801252533074,
      -0.28262392717993745, 0.4048349712648801, 0.30906634445923215, 0.15291102177220425,
      0.3521832189953302, 0.2791276149497139, 0.09826311752004739, 0.26861737810223624,
      0.2909934633252014, 0.09586049771172254, 0.2637341012707455, -494.1091808010852,
      7.0))
    pin("rows", rows, Seq(
      0.705875569809845, -0.9834575956955851, -0.4638911873215139, 0.46499643697294235,
      -0.3422183277247949, -0.4249848971502126, -0.013000801252534238,
      -0.2826239271799371, 0.40483497126488077, 0.30906634445923176, 0.1529110217722039,
      0.35218321899533017, 0.2791276149497128, 0.09826311752004699, 0.2686173781022363,
      0.29099346332519993, 0.09586049771172211, 0.2637341012707455, -494.10918080108524,
      7.0))
  }

  private val aftGolden = Map(
    "weibull" -> (
      Seq(
        1.7468428506059719, -9.829055979241397e-4, 0.006559081347586579,
        -0.8158716349260635, 0.054710534655254606, 0.01920920268460636,
        0.05424658341825911, 0.05067395161056828, -319.8298281431022, 6.0),
      Seq(
        1.7468428506059714, -9.82905597923937e-4, 0.006559081347586662,
        -0.8158716349260647, 0.05471053465525458, 0.019209202684606345,
        0.054246583418259046, 0.05067395161056823, -319.82982814310265, 6.0)),
    "lognormal" -> (
      Seq(
        1.5245682422159266, -0.002969181543714247, 0.014515156015799583,
        -0.4227043584421242, 0.0720310655683989, 0.025240538859114633, 0.07137237566516393,
        0.043833521888004955, -343.3070317227616, 6.0),
      Seq(
        1.5245682422159275, -0.0029691815437143635, 0.014515156015798931,
        -0.4227043584421236, 0.07203106556839899, 0.025240538859114644,
        0.07137237566516398, 0.04383352188800497, -343.3070317227615, 6.0)),
    "loglogistic" -> (
      Seq(
        1.5710686557726272, -0.004711496668751475, 0.015566067909082203,
        -0.9990529693381702, 0.06834760042628193, 0.024328906153016524,
        0.06869947285752179, 0.050516787045632026, -341.39763141088775, 6.0),
      Seq(
        1.571068655772627, -0.004711496668751384, 0.015566067909082123, -0.999052969338171,
        0.0683476004262818, 0.024328906153016486, 0.06869947285752177, 0.05051678704563202,
        -341.39763141088775, 6.0)))

  for ((dist, (goldCells, goldRows)) <- aftGolden)
    test(s"aft $dist: cells and rows equal the recorded fit bit for bit") {
      val (cells, rows) = fits(mc => ops.Aft.aftFit(frame(), col("t"), col("d"), xs,
        names, dist = dist, maxCells = mc))(f => f.estimates.toSeq ++ f.stderr ++
        Seq(f.logLik, f.iterations.toDouble))
      pin(s"$dist cells", cells, goldCells)
      pin(s"$dist rows", rows, goldRows)
    }

  test("a fit that runs out of maxIter names its non-convergence") {
    val df = frame()
    Seq[(String, () => Any)](
      "ordinal_logit" -> (() => ops.Ordinal.ordinalLogit(df, col("y"), xs, names, maxIter = 1)),
      "multinomial_logit" ->
        (() => ops.Multinomial.multinomialLogit(df, col("y"), xs, names, maxIter = 1)),
      "aft" -> (() => ops.Aft.aftFit(df, col("t"), col("d"), xs, names, maxIter = 1))
    ).foreach { case (verb, fit) =>
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains(s"$verb: no convergence in 1 iterations"), e.getMessage)
    }
  }
}
