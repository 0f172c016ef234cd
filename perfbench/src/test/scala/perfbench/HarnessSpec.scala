package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class HarnessSpec extends AnyFunSuite {
  // sbt forks the tests in perfbench/, so the checkout root is one up
  private val root: Path = Paths.get(sys.props("user.dir")).getParent
  private val dataDir = root.resolve("perfbench/data/sf0.1")
  private lazy val work = Files.createTempDirectory("perfbench-spec")

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Physical plans of every action run inside `body`. */
  private def plans(body: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body finally {
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    seen.synchronized(seen.toSeq)
  }

  private def q66: Op = {
    val b = new Board("board_light",
      Seq(BoardRow("q66_ttest_cuped", Seq("lineitem"), 6, "unused")), dataDir)
    b.setUp(spark)
    b.ops.head
  }

  test("the timed action keeps the t-test aggregate that count() prunes") {
    val op = q66
    val timed = plans(new Runner(spark, new LayerTrace(spark)).run(op, traced = false))
    assert(timed.exists(_.contains("Ttest2SampAgg")), timed.mkString("\n"))
    // the old protocol's count(): Catalyst drops the statistic from the plan
    val counted = plans(op.build(spark).count())
    assert(counted.nonEmpty && !counted.exists(_.contains("Ttest2SampAgg")),
      counted.mkString("\n"))
  }

  test("a corrupted expected digest fails every execution of its op") {
    val rows = Board.readList(root.resolve("perfbench/lists/board_light.tsv"))
    val row = rows.headOption.getOrElse(fail("board_light list is empty"))
    def board(r: BoardRow) = {
      val b = new Board("board_light", Seq(r), dataDir)
      b.setUp(spark)
      b.ops
    }
    val runner = new Runner(spark, new LayerTrace(spark))
    val good = board(row)
    val execs = Seq(runner.run(good.head, traced = false), runner.run(good.head, traced = false))
    assert(execs.forall(_.ok))
    assert(Main.judge(good, runner.lastRows, execs) == (Map.empty, 0))

    val flipped = row.digest.updated(0, if (row.digest.head == '0') '1' else '0')
    val bad = board(row.copy(digest = flipped))
    val (wrong, failed) = Main.judge(bad, runner.lastRows, execs)
    assert(failed == 2)
    assert(wrong(row.query).contains(flipped), wrong)
  }

  test("the scale generator is a function of the seed alone") {
    val n = 20000L
    val a = ScaleData.digest(ScaleData.frame(spark, 7L, n, 3))
    val again = ScaleData.digest(ScaleData.frame(spark, 7L, n, 5))
    val other = ScaleData.digest(ScaleData.frame(spark, 8L, n, 3))
    assert(a == again, "same seed, different partitioning")
    assert(other._1 == n && a._1 == n, "same size")
    assert(other._2 != a._2, "a different seed gives different data")
  }

  test("scale ops recover the planted effects and the checks catch a wrong one") {
    val wl = new ScaleSql(11L, 60000L, work.resolve("scale"))
    wl.setUp(spark)
    val runner = new Runner(spark, new LayerTrace(spark))
    val execs = wl.ops.map(runner.run(_, traced = false))
    assert(runner.errors.isEmpty, runner.errors)
    assert(Main.judge(wl.ops, runner.lastRows, execs) == (Map.empty, 0))
    val ttest = wl.ops.find(_.name == "ttest_2samp").get
    val shifted = spark.sql("SELECT ttest_2samp('x1', 'two-sided', treatment, " +
      "numerator + 3.0 * treatment) AS r FROM causal_inference_test").collect()
    assert(ttest.check(shifted).isDefined, "a 3.5 effect passed as the planted 0.5")
  }

  test("tail_s exists only with at least ten samples beyond its percentile") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    val t20 = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(t20.percentile == 50 && t20.beyond == 10 && t20.value == 10.0)
    val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t100.percentile == 90 && t100.beyond == 10 && t100.value == 90.0)
    val rng = new scala.util.Random(3)
    (20 to 400).foreach { n =>
      val xs = Seq.fill(n)(rng.nextDouble())
      val t = Stats.tail(xs).get
      assert(xs.count(_ > t.value) >= 10, s"n=$n")
      // one percentile higher would leave fewer than ten beyond it
      if (t.percentile < 99) {
        val rank = ((t.percentile + 1) * n + 99) / 100
        assert(n - rank < 10, s"n=$n p=${t.percentile}")
      }
    }
  }

  test("job intervals are unioned, not summed") {
    assert(OpLayers.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(OpLayers.unionLength(Seq((0L, 10L), (5L, 15L)), 8L, 12L) == 4L)
    assert(OpLayers.unionLength(Nil, 0L, 10L) == 0L)
  }
}
