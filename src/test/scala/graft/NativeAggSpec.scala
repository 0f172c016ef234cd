package graft

import graft.agg._
import graft.ops.{Bootstrap, RankTests, Regression}
import graft.stats.TtestCommon
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.agg` kernels on their one TypedImperativeAggregate
  * ([[graft.agg.NativeAgg]]): partition and grouping invariance, the
  * sort-based aggregation fallback, the buffers' binary round trip, the
  * replicate kernel's bootstrap weights, and the collapsed Mann-Whitney. */
class NativeAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ties (values on a 0.5 grid), nulls in the value and the treatment,
  // 240 groups of ~12 rows
  private lazy val rows = {
    val rng = new scala.util.Random(11)
    (0 until 2880).map { i =>
      val t = if (i % 101 == 0) None else Some(rng.nextInt(2))
      val x = rng.nextGaussian()
      val y = if (i % 97 == 0) None
              else Some(math.rint((1.0 + x + 0.3 * t.getOrElse(0) + rng.nextGaussian()) * 2) / 2)
      (i.toLong, i % 240, t, y, 1.0 + rng.nextInt(2), x, 0.5 + rng.nextDouble(),
        (i % 3).toLong, rng.nextInt(500).toLong)
    }
  }
  private def frame(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.createDataFrame(rows).toDF("id", "g", "t", "y", "d", "x", "w", "stratum", "uin")
  private lazy val df = frame(spark)

  /** Every kernel once, under its output name. */
  private def kernels: Seq[Column] = Seq(
    functions.delta_method("x1/x2", isStd = true, Seq(col("y"), col("d"))).as("delta"),
    functions.ttest_1samp("x1/x2", mu = 1.0)(col("y"), col("d")).as("t1"),
    functions.ttest_2samp("x1/x2", col("t"), cuped = "x3")(col("y"), col("d"), col("x")).as("t2"),
    functions.ttest_2samp_pse("x1", col("t"), col("stratum"))(col("y")).as("pse"),
    functions.srm(col("y"), col("t"), Seq(1.0, 1.0)).as("srm"),
    functions.mann_whitney_utest(col("y"), col("t")).as("mw"),
    functions.kolmogorov_smirnov_test(col("y"), col("t")).as("ks"),
    functions.matrix_multiplication(Seq(col("y"), col("x")), invert = true).as("mm"),
    functions.xexpt_ttest_2samp(col("uin"), col("t"), Seq(col("y"), col("d"))).as("xexpt"),
    functions.wls(col("y"), Seq(col("x")), col("w")).as("wls"),
    Regression.olsBufColumn(col("y"), Seq(col("x")), weight = col("w")).as("olsbuf"),
    Kernel.column(new ReplicateKernel(5, 7L, 1.0, 1, 2), col("id"), col("y"), col("x"))
      .as("reps"))

  private def same(a: Any, b: Any, tol: Double): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Row, y: Row) => x.length == y.length && x.toSeq.zip(y.toSeq).forall {
      case (p, q) => same(p, q, tol) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q, tol) }
    case _ => a == b
  }
  private def assertSame(a: Any, b: Any, tol: Double = 1e-9): Unit =
    assert(same(a, b, tol), s"\n$a\nvs\n$b")

  test("every kernel: 1 partition == 16 partitions") {
    val one = df.coalesce(1).select(kernels: _*).head()
    val many = df.repartition(16).select(kernels: _*).head()
    assert(many.length == kernels.length)
    assertSame(one, many)
  }

  test("every kernel: 240 groups == per-group filtered runs") {
    val cached = df.repartition(4).cache()
    try {
      val grouped = cached.groupBy($"g").agg(kernels.head, kernels.tail: _*)
        .collect().map(r => r.getInt(0) -> Row.fromSeq(r.toSeq.tail)).toMap
      assert(grouped.size == 240)
      for (g <- 0 until 240)
        assertSame(cached.filter($"g" === g).select(kernels: _*).head(), grouped(g))
    } finally { cached.unpersist(); () }
  }

  test("every kernel: the sort-based aggregation fallback == the hash path") {
    val sorted = spark.newSession()
    sorted.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    def byGroup(d: DataFrame): Map[Int, Row] =
      d.repartition(3).groupBy((col("g") % 40).as("k")).agg(kernels.head, kernels.tail: _*)
        .collect().map(r => r.getInt(0) -> Row.fromSeq(r.toSeq.tail)).toMap
    val viaSort = byGroup(frame(sorted))
    val viaHash = byGroup(df)
    assert(viaSort.size == 40)
    viaHash.foreach { case (k, r) => assertSame(viaSort(k), r) }
  }

  test("every buffer: write/read round trip, and merge of two halves == one pass") {
    def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
    def refs(ts: DataType*): Seq[Expression] = ts.zipWithIndex.map { case (t, i) => ref(i, t) }
    val rng = new scala.util.Random(3)
    def dbl = math.rint(rng.nextGaussian() * 4) / 2
    val cases: Seq[(Kernel[_ <: AnyRef], Seq[Expression], Int => Seq[Any])] = Seq(
      (new DeltaMethodAgg("x1/x2", false, 2), refs(DoubleType, DoubleType),
        _ => Seq[Any](dbl, 1.0 + rng.nextInt(3))),
      (new Ttest1SampAgg("x1", "less", 0.1, "", 0.05, 1), refs(DoubleType), _ => Seq[Any](dbl)),
      (new Ttest2SampAgg("x1", "two-sided", "", 0.05, 1), refs(DoubleType, IntegerType),
        i => Seq[Any](dbl, i % 2)),
      (new Ttest2SampPseAgg("x1", "two-sided", "", 0.05, 1),
        refs(DoubleType, IntegerType, LongType), i => Seq[Any](dbl, i % 2, (i % 3).toLong)),
      (new SrmAgg(Array(1.0, 2.0)), refs(StringType, DoubleType),
        i => Seq[Any](UTF8String.fromString(s"g${i % 2}"), 1.0)),
      (new MannWhitneyAgg("greater", true), refs(DoubleType, IntegerType), i => Seq[Any](dbl, i % 2)),
      (new KsAgg("two-sided"), refs(DoubleType, IntegerType), i => Seq[Any](dbl, i % 2)),
      (new MatrixMulAgg(2, false), refs(DoubleType, DoubleType), _ => Seq[Any](dbl, dbl)),
      (new XexptAgg(2, "", 0.05, 0.005, 0.8, "avg", Array(1.0, 1.0)),
        refs(DoubleType, DoubleType, LongType, LongType),
        i => Seq[Any](dbl, 1.0, i.toLong, (i % 2).toLong)),
      (new OlsAgg(1, true), refs(DoubleType, DoubleType, DoubleType), _ => Seq[Any](dbl, dbl, 1.0)),
      (new graft.ops.OlsBufAgg(1, false), refs(DoubleType, DoubleType, DoubleType),
        _ => Seq[Any](dbl, dbl, 2.0)),
      (new ReplicateKernel(4, 1L, 1.0, 1, 1), refs(LongType, DoubleType),
        i => Seq[Any](i.toLong, dbl)))
    cases.foreach { case (k, in, gen) =>
      val agg = NativeAgg(k.asInstanceOf[Kernel[AnyRef]], in)
      val input: Seq[InternalRow] = (0 until 200).map(i => new GenericInternalRow(gen(i).toArray))
      def pass(rs: Seq[InternalRow]): AnyRef =
        rs.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, r))
      val toScala = CatalystTypeConverters.createToScalaConverter(agg.dataType)
      def result(b: AnyRef): Any = toScala(agg.eval(b))
      val whole = pass(input)
      val copy = agg.deserialize(agg.serialize(whole))
      assertSame(result(copy), result(whole), 0.0)
      val halves = agg.merge(agg.deserialize(agg.serialize(pass(input.take(77)))),
        agg.deserialize(agg.serialize(pass(input.drop(77)))))
      assertSame(result(halves), result(whole))
      val empty = agg.deserialize(agg.serialize(agg.createAggregationBuffer()))
      assertSame(result(agg.merge(empty, whole)), result(whole), 0.0)
    }
  }

  test("each kernel's plan node keeps the statistic's name") {
    val plan = df.select(functions.ttest_2samp("x1", $"t")($"y"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Ttest2SampAgg"), plan)
  }

  test("replicate kernel weights == the poissonWeight column, 10k ids x 21 reps") {
    val b = 20
    for ((seed, frac) <- Seq((42L, 1.0), (9L, 0.5))) {
      val ids = spark.range(0, 10000, 1, 8).toDF("id")
      val kernel = new ReplicateKernel(b, seed, frac, 1, 1)
      val viaKernel = ids.groupBy($"id").agg(Kernel.column(kernel, $"id", lit(1.0)))
        .collect().map { r =>
          val s = r.getSeq[Double](1)
          r.getLong(0) -> (0 to b).map(i => s(2 * i).toInt)
        }.toMap
      val viaColumn = ids
        .withColumn("rep", explode(sequence(lit(0), lit(b - 1))))
        .select($"id", $"rep",
          Bootstrap.poissonWeight(Seq($"id"), $"rep", seed, frac).as("w"))
        .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
          id -> (1 +: rs.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq)
        }
      assert(viaKernel.size == 10000)
      assert(viaKernel == viaColumn)
    }
  }

  private def sameMw(a: MannWhitneyResult, b: MannWhitneyResult): Boolean =
    same(a.u_statistic, b.u_statistic, 0.0) && same(a.p_value, b.p_value, 0.0)

  test("collapsed mannWhitneyU == its maxLocalCells = 0 fallback (ties, NaN, nulls)") {
    val d = rows.map { case (id, _, t, y, _, _, _, _, _) =>
      (t, if (id % 89 == 0) Some(Double.NaN) else y)
    }.toDF("t", "y").repartition(5)
    for (alt <- Seq("two-sided", "less", "greater"); cc <- Seq(true, false)) {
      val fast = RankTests.mannWhitneyU(d, $"y", $"t", alt, cc)
      val dist = RankTests.mannWhitneyU(d, $"y", $"t", alt, cc, maxLocalCells = 0)
      assert(sameMw(fast, dist), s"$alt/$cc: $fast vs $dist")
      assert(!fast.p_value.isNaN)
      val agg = d.select(functions.mann_whitney_utest($"y", $"t", alt, cc).as("r"))
        .select($"r.*").head()
      assert(same(fast.u_statistic, agg.getDouble(0), 1e-12) &&
        same(fast.p_value, agg.getDouble(1), 1e-12), s"$alt/$cc: $fast vs $agg")
    }
    // one sample empty, or every value tied: NaN on both paths
    val allTied = Seq((0, 1.0), (1, 1.0), (0, 1.0)).toDF("t", "y")
    val oneArm = Seq((0, 1.0), (0, 2.0)).toDF("t", "y")
    for (e <- Seq(allTied, oneArm)) {
      val fast = RankTests.mannWhitneyU(e, $"y", $"t")
      assert(fast.u_statistic.isNaN && fast.p_value.isNaN)
      assert(sameMw(fast, RankTests.mannWhitneyU(e, $"y", $"t", maxLocalCells = 0)))
    }
  }

  test("gateway mann_whitney_utest runs at most 2 jobs") {
    // a scan with no shuffle of its own: the cell aggregate's map stage and
    // the collapse read are the two jobs
    spark.range(0, 3000, 1, 4).select(
      when($"id" % 101 =!= 0, $"id" % 2).cast("int").as("t"),
      when($"id" % 97 =!= 0, ($"id" * 7919 % 200) / 2.0).as("y"))
      .createOrReplaceTempView("mw_jobs")
    val (r, jobs) = JobCount.during(spark) {
      GraftGateway.sql(spark, "SELECT mann_whitney_utest(y, t) FROM mw_jobs").collect()
    }
    assert(r.length == 1 && !r.head.getDouble(1).isNaN)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("gateway boot_strap of avg/sum/count == the exploded bootstrapAny") {
    df.createOrReplaceTempView("bs_data")
    for (agg <- Seq("avg(y)", "mean(x)", "sum(x)", "count(y)", "count(*)")) {
      val viaKernel = GraftGateway.sql(spark, s"SELECT boot_strap($agg, 30) FROM bs_data")
      val viaRows = Bootstrap.bootstrapAny(df, 30)(Seq("stat" -> expr(agg)))
      assert(viaKernel.schema.map(f => f.name -> f.dataType) ==
        viaRows.schema.map(f => f.name -> f.dataType), agg)
      def byRep(d: DataFrame): Map[Int, Any] = d.collect().map(r => r.getInt(0) -> r.get(1)).toMap
      val (a, b) = (byRep(viaKernel), byRep(viaRows))
      assert(a.keySet == b.keySet && a.size == 30, agg)
      a.foreach { case (rep, v) => assertSame(v, b(rep)) }
    }
  }
}
