package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import graft.ops.MlWrappers

/** The GLM IRLS fits (logistic, Poisson, Gamma, NB2) share one prepared
  * design and one loop: every statistic sees exactly the listwise-complete
  * rows, the cells path (default) and the row path (maxCells = 0) agree on
  * every shape including the intercept-only fit, and the job counts of
  * both paths stay pinned. */
class GlmIrlsSpec extends AnyFunSpec with Matchers {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val tol = 1e-8

  /** 400 rows (index i): x1 ∈ 0..4, x2 ∈ {0, 1}, a binary label, a count, an
    * overdispersed count and a positive outcome, every one depending on
    * the covariates with full support. */
  private def frame(): DataFrame = {
    val rows = (0 until 400).map { i =>
      val x1 = (i % 5).toDouble
      val x2 = ((i / 4) % 2).toDouble
      val r = (i * 37 + (i * i) % 101) % 10
      val lbl = if (r < 3 + (i % 5)) 1.0 else 0.0
      val cnt = (i % 6).toDouble
      val nb = cnt * (1.0 + x2 * 3.0)
      val pos = 1.0 + r + x1 * 0.5
      (i, x1, x2, lbl, cnt, nb, pos)
    }
    rows.toDF("i", "x1", "x2", "lbl", "cnt", "nb", "pos")
  }

  /** Every number a fit reports, flattened in a fixed order. */
  private def stats(family: String, df: DataFrame, xs: Seq[String],
                    maxCells: Int): Seq[Double] = {
    val cols = xs.map(col)
    family match {
      case "logistic" =>
        val f = MlWrappers.logisticIrls(df, col("lbl"), cols, maxCells = maxCells)
        (f.coefficients :+ f.intercept) ++ (f.stderr :+ f.interceptStderr)
      case "poisson" =>
        val f = MlWrappers.poissonIrls(df, col("cnt"), cols, maxCells = maxCells)
        (f.coefficients :+ f.intercept) ++ (f.stderr :+ f.interceptStderr) ++
          Seq(f.dispersion, f.n.toDouble)
      case "gamma" =>
        val f = MlWrappers.gammaIrls(df, col("pos"), cols, maxCells = maxCells)
        (f.coefficients :+ f.intercept) ++ (f.stderr :+ f.interceptStderr) ++
          Seq(f.dispersion, f.n.toDouble)
      case "negbin" =>
        val f = MlWrappers.negBinIrls(df, col("nb"), cols, maxCells = maxCells)
        (f.coefficients :+ f.intercept) ++ (f.stderr :+ f.interceptStderr) ++
          Seq(f.alpha, f.alphaSe, f.llPois, f.llNb, f.lrStat, f.n.toDouble)
    }
  }

  private val families = Seq("logistic", "poisson", "gamma", "negbin")

  private def assertClose(label: String, a: Seq[Double], b: Seq[Double]): Unit = {
    a.length shouldBe b.length
    a.zip(b).zipWithIndex.foreach { case ((u, v), i) =>
      withClue(s"$label [$i]: $a vs $b") {
        u shouldBe v +- (tol * math.max(1.0, math.abs(v)))
      }
    }
  }

  describe("GLM IRLS") {
    it("null covariates: every fit equals the complete-rows fit on both paths") {
      val df = frame()
      val holed = df.withColumn("x1", when(col("i") % 10 =!= 0, col("x1")))
      val complete = holed.filter(col("x1").isNotNull)
      complete.count() shouldBe 360
      for (family <- families; maxCells <- Seq(4096, 0)) {
        assertClose(s"$family maxCells=$maxCells",
          stats(family, holed, Seq("x1", "x2"), maxCells),
          stats(family, complete, Seq("x1", "x2"), maxCells))
      }
    }

    it("intercept-only fits agree on the cells and the row path") {
      val df = frame()
      for (family <- families) {
        assertClose(s"$family k=0",
          stats(family, df, Seq.empty, 4096), stats(family, df, Seq.empty, 0))
      }
    }

    it("job counts: NB2 collapses once; no fit runs more jobs than before") {
      val df = frame().repartition(4).cache()
      df.count()
      try {
        def jobs(family: String, maxCells: Int): Int =
          JobCount.during(spark)(stats(family, df, Seq("x1", "x2"), maxCells))._2
        val cells = families.map(f => f -> jobs(f, 4096)).toMap
        val rows = families.map(f => f -> jobs(f, 0)).toMap
        // a Poisson fit of the NB2 outcome: the pilot NB2 runs first
        def pilot(maxCells: Int): Int = JobCount.during(spark)(
          MlWrappers.poissonIrls(df, col("nb"), Seq(col("x1"), col("x2")),
            maxCells = maxCells))._2
        // (cells, rows) counts of the four hand-written loops this driver
        // replaced, on this frame
        val before = Map("logistic" -> (3, 16), "poisson" -> (3, 15),
          "gamma" -> (3, 21), "negbin" -> (6, 28))
        withClue(s"cells $cells, rows $rows") {
          cells("negbin") should be <= pilot(4096)
          for (f <- families) cells(f) should be <= before(f)._1
          for (f <- families if f != "negbin") rows(f) should be <= before(f)._2
          // the old NB2 ran its Poisson pilot on the cells whatever maxCells
          // said (3 of its 28 jobs); its pilot now runs on the row path too,
          // so the bound is a row-path Poisson fit plus the old NB2 stage
          rows("negbin") should be <= pilot(0) + (28 - 3)
        }
      } finally { df.unpersist(); () }
    }

    it("gateway GLM frames keep their columns, order and types") {
      frame().withColumn("y", col("nb")).createOrReplaceTempView("glm_cols")
      val term = Seq(StructField("term", StringType)) ++
        Seq("estimate", "stderr", "z_value", "p_value").map(
          StructField(_, DoubleType, nullable = false))
      def tail(cols: (String, DataType)*): Seq[StructField] =
        cols.map { case (n, t) => StructField(n, t, nullable = false) }
      val glm = tail("n" -> LongType, "dispersion" -> DoubleType,
        "iterations" -> IntegerType, "converged" -> BooleanType)
      val expected = Map(
        "poisson_reg" -> StructType(term ++ glm),
        "gamma_reg" -> StructType(term ++ glm),
        "neg_bin_reg" -> StructType(term ++ tail("n" -> LongType,
          "alpha" -> DoubleType, "alpha_se" -> DoubleType,
          "alpha_t" -> DoubleType, "lr_stat" -> DoubleType,
          "lr_p" -> DoubleType, "iterations" -> IntegerType,
          "converged" -> BooleanType)))
      for ((verb, schema) <- expected) {
        val y = if (verb == "gamma_reg") "pos" else "y"
        val out = GraftGateway.sql(spark, s"SELECT $verb($y, x1, x2) FROM glm_cols")
        out.schema shouldBe schema
        out.collect().map(_.getString(0)).toSeq shouldBe
          Seq("x1", "x2", "(intercept)")
      }
    }
  }

  describe("bruteForceKnn") {
    val dim = 4
    def vec(i: Int): Array[Double] =
      Array.tabulate(dim)(j => math.sin(i * 1.7 + j * 0.9) + 0.1 * j)

    it("reads the probe set once: 4 jobs, the driver-side top-k") {
      val corpus = (0 until 50).map(i => (i.toLong, vec(i).toSeq)).toDF("id", "v")
      val probes = corpus.filter(col("id") < 10)
      val (out, jobs) = JobCount.during(spark) {
        ops.Ann.bruteForceKnn(corpus, col("id"), col("v"), probes, col("id"),
          col("v"), k = 3).collect()
      }
      jobs should be <= 4 // 5 when the bound was counted before the broadcast
      def cos(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum /
          math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
      val expected = (0 until 10).flatMap { q =>
        (0 until 50).filter(_ != q).map(n => (n, cos(vec(q), vec(n))))
          .sortBy { case (n, s) => (-s, n) }.take(3).zipWithIndex
          .map { case ((n, s), r) => (q.toLong, n.toLong, s, r + 1) }
      }
      val got = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      got.map(t => (t._1, t._2, t._4)) shouldBe expected.map(t => (t._1, t._2, t._4))
      got.zip(expected).foreach { case (g, e) => g._3 shouldBe e._3 +- 1e-12 }
    }

    it("keeps its over-bound message") {
      val corpus = (0 until 20).map(i => (i.toLong, vec(i).toSeq)).toDF("id", "v")
      val e = intercept[IllegalArgumentException] {
        ops.Ann.bruteForceKnn(corpus, col("id"), col("v"), corpus, col("id"),
          col("v"), k = 2, maxBroadcastProbes = 5L)
      }
      e.getMessage shouldBe "requirement failed: brute_force_knn probe set " +
        "has > 5 rows (the broadcast nested-loop product cap): use ivfKnn " +
        "for large probe sets, shrink the probes, or raise " +
        "maxBroadcastProbes if probes x corpus kernels is really intended"
    }
  }
}
