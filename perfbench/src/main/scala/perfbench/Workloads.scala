package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One operation of a workload: how to build its result from the session,
  * how many input rows it logically reads, and how to judge its output. */
final case class Op(name: String, inputRows: Long,
    build: SparkSession => DataFrame, check: Array[Row] => Option[String])

trait Workload {
  def name: String
  /** Registers the workload's data in a fresh session. */
  def setUp(spark: SparkSession): Unit
  /** The fixed op list; valid after [[setUp]]. */
  def ops: Seq[Op]
}

object Workload {
  val names: Seq[String] = Seq("board_light", "board_heavy", "scale_sql")

  def apply(name: String, root: Path, seed: Long, work: Path): Workload = {
    def data(sf: String) = root.resolve(s"perfbench/data/$sf")
    def list = Board.readList(root.resolve(s"perfbench/lists/$name.tsv"))
    name match {
      case "board_light" => new Board(name, list, data("sf0.1"))
      // the heavy rows at sf0.1 take 2-18 s each at 4 cores; sf0.01 keeps
      // their driver loops, jobs per verb and explodes within a run
      case "board_heavy" => new Board(name, list, data("sf0.01"))
      case "scale_sql" => new ScaleSql(seed, ScaleData.Rows, work.resolve("scale"))
      // every registry query, unchecked: the survey the light list comes from
      case "board_all" =>
        new Board(name, graft.SparkEntry.queries.keys.toSeq.sorted.map(BoardRow(_, Nil, 0, "")),
          data("sf0.1"))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }
  }
}

/** A registry row of the committed board list: the tables it reads and the
  * digest of its full result at the parent commit. */
final case class BoardRow(query: String, tables: Seq[String], digits: Int, digest: String)

/** Registry queries (`graft.SparkEntry.queries`) over the committed sf0.1
  * star schema. Every row's output is compared with the digest recorded for
  * it; the seed only permutes the order in which rows run. */
final class Board(val name: String, rows: Seq[BoardRow], dataDir: Path) extends Workload {
  private var tableRows: Map[String, Long] = Map.empty

  def setUp(spark: SparkSession): Unit = {
    // row counts come from the parquet footers; reading them also warms the
    // parquet reader the way a long-lived session would be warm
    tableRows = rows.flatMap(_.tables).distinct.map { t =>
      t -> spark.read.parquet(dataDir.resolve(s"$t.parquet").toString).count()
    }.toMap
  }

  def ops: Seq[Op] = rows.map { r =>
    val fn = graft.SparkEntry.queries.getOrElse(r.query,
      throw new IllegalArgumentException(s"${r.query} is not a registry query"))
    Op(r.query, r.tables.map(tableRows).sum,
      spark => fn(spark, dataDir.toString),
      out => {
        val got = Digest.of(out, r.digits)
        if (got == r.digest) None
        else Some(s"result digest $got, expected ${r.digest} (${out.length} rows)")
      })
  }
}

object Board {
  /** Tab-separated: query, tables (comma-separated), digits, digest, then
    * free columns; `#` starts a comment line. */
  def readList(path: Path): Seq[BoardRow] =
    Files.readAllLines(path).asScala.toSeq
      .filterNot(l => l.trim.isEmpty || l.startsWith("#"))
      .map { line =>
        val f = line.split("\t")
        require(f.length >= 4, s"$path: malformed row '$line'")
        BoardRow(f(0), f(1).split(",").toSeq.filter(_.nonEmpty), f(2).toInt, f(3))
      }
}

/** A seeded table with the reference's `causal_inference_test` schema and
  * planted effects the scale ops must recover. Every value is a hash of
  * (seed, row id, column), so the table does not depend on partitioning. */
object ScaleData {
  val Rows: Long = 80000L
  /** Planted additive treatment effect on `numerator` and on `Y`. */
  val Tau = 0.5
  /** Planted OLS coefficients of `Y` on (treatment, X1, X2, X3), intercept last. */
  val Beta: Seq[Double] = Seq(Tau, 2e-5, 0.05, 0.3, 1.0)

  private val two53 = 9007199254740992.0
  private def u(seed: Long, k: Int) =
    pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(1L << 53)).cast("double") / two53
  private def z(seed: Long, k: Int) =
    sqrt(lit(-2.0) * log(u(seed, k) + lit(0.5 / two53))) *
      cos(lit(2 * math.Pi) * u(seed, k + 100))

  def frame(spark: SparkSession, seed: Long, rows: Long, partitions: Int): DataFrame =
    spark.range(0L, rows, 1L, partitions)
      .select(
        col("id"),
        (u(seed, 1) < 0.5).cast("int").as("treatment"),
        floor(u(seed, 2) * 100000).cast("int").as("X1"),
        floor(z(seed, 3) * 15 + 100).cast("int").as("X2"),
        floor(u(seed, 4) * 10).cast("int").as("X3"),
        floor(u(seed, 5) * 1e6).cast("long").as("X7_needcut"),
        floor(u(seed, 6) * 1e9).cast("long").as("X8_needcut"),
        greatest(lit(0L), round(lit(20.0) + z(seed, 7) * 5).cast("long")).as("numerator_pre"),
        (u(seed, 8) < 0.9).cast("int").as("denominator_pre"),
        (u(seed, 9) < 0.9).cast("int").as("denominator"),
        z(seed, 10).as("e_num"), z(seed, 11).as("e_y"),
        (lit(0.5) + u(seed, 12) * 1.5).as("weight"),
        u(seed, 13).as("distance"))
      .select(
        col("treatment"),
        (lit(5.0) + col("numerator_pre") * 0.8 + col("treatment") * Tau +
          col("e_num") * 2).as("numerator"),
        col("denominator"), col("numerator_pre"), col("denominator_pre"),
        (lit(Beta(4)) + col("treatment") * Beta(0) + col("X1") * Beta(1) +
          col("X2") * Beta(2) + col("X3") * Beta(3) + col("e_y")).as("Y"),
        col("X1"), col("X2"), col("X3"),
        concat(lit("c"), col("X3").cast("string")).as("X3_string"),
        col("X7_needcut"), col("X8_needcut"), col("weight"), col("distance"))

  /** (row count, order-independent content hash) of a frame. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toString)
  }
}

/** Analyst SQL issued through `graft.GraftGateway.sql` over the seeded
  * table: the single-pass aggregates, a rank test, then the fit and
  * bootstrap verbs of the heavy board on continuous covariates. Ten fast ops
  * and four slow ones keep the median and the tail of the warm latencies
  * inside the fast group, so neither flips between groups across runs. */
final class ScaleSql(seed: Long, rows: Long, dir: Path) extends Workload {
  val name = "scale_sql"
  private val table = "causal_inference_test"

  def setUp(spark: SparkSession): Unit = {
    graft.GraftSql.register(spark)
    val path = dir.resolve("table").toString
    ScaleData.frame(spark, seed, rows, spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(table)
  }

  private def struct(out: Array[Row]): Row = out.head.getStruct(0)
  private def near(what: String, est: Double, truth: Double, se: Double): Option[String] =
    if (se > 0 && math.abs(est - truth) <= 6 * se) None
    else Some(f"$what $est%.6g is not within 6 s.e. ($se%.3g) of the planted $truth")
  private def pIn(p: Double, lo: Double, hi: Double, what: String): Option[String] =
    if (p >= lo && p <= hi) None else Some(s"$what p-value $p outside [$lo, $hi]")

  private def effect(out: Array[Row]): Option[String] = {
    val r = struct(out)
    near("estimate", r.getAs[Double]("estimate"), ScaleData.Tau, r.getAs[Double]("stderr"))
  }
  /** The xexpt ratio metric sum(numerator)/sum(denominator), with the
    * denominator ~ Bernoulli(0.9); its reported interval is a 95% one. */
  private def ratioEffect(out: Array[Row]): Option[String] = {
    val r = struct(out)
    val se = (r.getAs[Double]("upper") - r.getAs[Double]("lower")) / (2 * 1.96)
    near("xexpt diff", r.getAs[Double]("diff"), ScaleData.Tau / 0.9, se)
  }
  private def coefficients(out: Array[Row]): Option[String] = {
    val r = struct(out)
    val b = r.getAs[scala.collection.Seq[Double]]("coefficients")
    val se = r.getAs[scala.collection.Seq[Double]]("stderr")
    ScaleData.Beta.indices.flatMap(i => near(s"beta[$i]", b(i), ScaleData.Beta(i), se(i))).headOption
  }
  private def rejects(field: String)(out: Array[Row]): Option[String] =
    pIn(out.head.getAs[Double]("p_value"), 0.0, 1e-6, s"planted effect $field")
      .orElse(if (out.head.getAs[Double](field) > 0) None else Some(s"$field not positive"))

  def ops: Seq[Op] = {
    def op(name: String, sql: String)(check: Array[Row] => Option[String]): Op =
      Op(name, rows, spark => graft.GraftGateway.sql(spark, sql + s" FROM $table"), check)
    Seq(
      op("ttest_2samp",
        "SELECT ttest_2samp('x1', 'two-sided', treatment, numerator) AS r")(effect),
      op("ttest_2samp_cuped",
        "SELECT ttest_2samp_cuped('x1', 'two-sided', 'x2', treatment, numerator, numerator_pre) AS r")(effect),
      op("ttest_2samp_pse",
        "SELECT ttest_2samp_pse('x1', 'two-sided', treatment, X3, numerator) AS r")(effect),
      op("ttests_2samp",
        "SELECT ttests_2samp('x1', 'two-sided', array(0.05, 0.01), treatment, numerator) AS rs") { out =>
        out.head.getSeq[Row](0).flatMap(r =>
          near("estimate", r.getAs[Double]("estimate"), ScaleData.Tau, r.getAs[Double]("stderr")))
          .headOption
      },
      op("delta_method",
        "SELECT delta_method('x1/x2', false, numerator, denominator) AS v, " +
          "delta_method('x1/x2', true, numerator, denominator) AS sd") { out =>
        val (v, sd) = (out.head.getDouble(0), out.head.getDouble(1))
        if (v > 0 && !v.isInfinite && math.abs(sd * sd - v) <= 1e-9 * v) None
        else Some(s"ratio variance $v, std $sd")
      },
      op("xexpt_ttest_2samp",
        "SELECT xexpt_ttest_2samp(X8_needcut, treatment, numerator, denominator) AS r")(ratioEffect),
      op("xexpt_ttest_2samp_cuped",
        "SELECT xexpt_ttest_2samp_cuped('x3/x4', X8_needcut, treatment, numerator, " +
          "denominator, numerator_pre, denominator_pre) AS r")(ratioEffect),
      op("srm",
        "SELECT srm(1.0, CAST(treatment AS STRING), array(1.0, 1.0)) AS r") { out =>
        pIn(struct(out).getAs[Double]("p_value"), 1e-6, 1.0, "SRM of a balanced assignment")
      },
      op("ols", "SELECT ols(Y, treatment, X1, X2, X3) AS m")(coefficients),
      op("wls", "SELECT wls(Y, weight, treatment, X1, X2, X3) AS m")(coefficients),
      op("mann_whitney_utest",
        "SELECT mann_whitney_utest(numerator, treatment)")(rejects("u_statistic")),
      op("aipw",
        "SELECT aipw(numerator, treatment, 0.5, 5.0 + 0.8 * numerator_pre, " +
          "5.0 + 0.8 * numerator_pre, 20)") { out =>
        near("aipw estimate", out.head.getAs[Double]("estimate"), ScaleData.Tau,
          out.head.getAs[Double]("stderr"))
      },
      op("boot_strap", "SELECT boot_strap(avg(numerator), 20)") { out =>
        // E[numerator] = 5 + 0.8 * 20 + Tau / 2; each replicate mean is within
        // a few s.e. (sd < 5) of it
        val truth = 5.0 + 0.8 * 20 + ScaleData.Tau / 2
        val bad = out.map(_.getAs[Double]("stat")).filter(v => math.abs(v - truth) > 8 * 5.0 / math.sqrt(rows.toDouble))
        if (out.length == 20 && bad.isEmpty) None
        else Some(s"${out.length} replicates, off the planted mean $truth: ${bad.mkString(",")}")
      },
      op("causal_forest",
        "SELECT causal_forest(Y, treatment, X1, X2, 8, 3, 100)") { out =>
        if (out.length == 2 && out.forall(r => !r.getAs[Double]("importance").isNaN)) None
        else Some(s"forest importance rows ${out.mkString(";")}")
      })
  }
}
