package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Propensity-score / exact matching, Spark-native two-pass design
  * (reference caliper_matching_info.h:45-150 + caliper_matching.cpp:69-160;
  * ExactMatchingParser.java:1-173; python match.py:13-155).
  *
  * Pass 1 aggregates per-(score-bucket, exact-group, salt-slice)
  * treated/control counts — a small table, eagerly materialized once — from
  * which per-cell pair capacity, a cumulative global index offset per cell,
  * and per-slice rank offsets are all derived without touching the big table
  * again. Pass 2 joins the (broadcast) slice table back and assigns
  * `matching_index` by a Window partitioned on (cell, arm, slice): 0 =
  * unmatched, same index = matched partners. Salting matters when there are
  * few cells (the q29 shape: 12 cells over 600k rows → 12 straggler sort
  * tasks); with S slices the sort parallelism is cells × 2 × S and each
  * slice sorts ~1/S of a cell. Rows are assigned to slices by the same
  * content hash that orders them, so the output is layout-deterministic.
  */
object Matching {

  /** 1:k caliper matching on a propensity score.
    * Adds `matching_index` (long, 0 = unmatched). */
  def caliperMatching(df: DataFrame, treatment: Column, score: Column,
                      caliper: Double, exactCols: Seq[Column] = Seq.empty,
                      k: Int = 1, seed: Long = 42L, slices: Int = 32,
                      maxCells: Long = 1L << 20,
                      idCols: Seq[Column] = Seq.empty): DataFrame = {
    require(caliper > 0, "caliper must be positive")
    require(slices > 0, "slices must be positive")
    require(maxCells > 0, "maxCells must be positive")
    val cell = struct(
      floor(score.cast("double") / caliper).as("bucket") +: exactCols.map(_.cast("string")): _*)
    // a null score / treatment / exact value means UNKNOWN, not "equal to
    // the other unknowns" — without this gate, struct grouping treats null
    // fields as equal and the null rows silently match each other
    val valid = (score.cast("double").isNotNull && !isnan(score.cast("double")) &&
      treatment.cast("int").isNotNull) +: exactCols.map(_.isNotNull)
    // content hash, not rand(): rand() draws per-partition streams, so the
    // matched pairs would change with the cluster layout; the hash gives the
    // same "random" order (and slice) on any layout. When a stable key is
    // available pass it as idCols — hashing the whole row breaks layout
    // determinism as soon as any column carries aggregation-order float
    // jitter (e.g. a model score computed upstream).
    val h =
      if (idCols.nonEmpty) xxhash64((idCols :+ lit(seed)): _*)
      else xxhash64(struct(df.columns.toIndexedSeq.map(col): _*), lit(seed))
    val withCell = df.withColumn("__cell", cell)
      .withColumn("__t", treatment.cast("int"))
      .withColumn("__valid", valid.reduce(_ && _))
      .withColumn("__h", h)
      .withColumn("__slice", pmod(col("__h"), lit(slices.toLong)).cast("int"))
    // pass 1: ONE scan of the big table down to (cell, arm, slice) counts;
    // the lazy localCheckpoint materializes it on first use so the
    // derivations below never rescan the big table (auto-cleaned when the
    // result is dropped).
    val sliceCnt = withCell
      .filter(col("__valid"))
      .groupBy(col("__cell"), col("__t"), col("__slice"))
      .agg(count(lit(1)).as("sc"))
      .transform(d => graft.Ckpt.checkpoint(d))
    // per-cell capacity + global index offset. The cell table is bounded by
    // the covariate-combination cardinality (the reference likewise holds
    // ALL cell metadata in one aggregate state, caliper_matching_info.h:45),
    // so the prefix sum runs on the driver over the collected cells — one
    // cheap job against the checkpoint, no unpartitioned window anywhere.
    val cellAgg = sliceCnt.groupBy(col("__cell"))
      .agg(sum(when(col("__t") === 0, col("sc")).otherwise(0L)).as("c0"),
        sum(when(col("__t") === 1, col("sc")).otherwise(0L)).as("c1"))
      .withColumn("pairs", least(col("c1"), floor(col("c0") / k).cast("long")))
      .filter(col("pairs") > 0)
      .select(col("__cell"), col("pairs"))
    val spark = df.sparkSession
    // the driver prefix sum is O(cells) — bounded by the covariate-cell
    // cardinality by design. A micro-caliper on a continuous score makes
    // cells ~ rows, so fail fast instead of collecting a row-scale table
    // onto the driver (the error path counts the cells to name them).
    val collected = graft.stats.LocalCollapse.within(cellAgg, maxCells)(
      s"caliper matching produced ${cellAgg.count()} matchable cells " +
        s"(max $maxCells): the caliper is too fine for this score's range " +
        "— increase the caliper, use coarser exact buckets, or raise maxCells")
      // deterministic driver order independent of cluster layout
      .sortBy(_.getStruct(0).toSeq.map(String.valueOf).mkString("\u0000"))
    var running = 0L
    val cellRows = collected.map { r =>
      val row = org.apache.spark.sql.Row(r.get(0), r.getLong(1), running)
      running += r.getLong(1)
      row
    }
    val cells = spark.createDataFrame(
      spark.sparkContext.parallelize(cellRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(cellAgg.schema.fields :+
        org.apache.spark.sql.types.StructField("offset",
          org.apache.spark.sql.types.LongType, nullable = false)))
    // per-slice rank offset inside each (cell, arm): slices rank
    // independently and the offsets splice them into one deterministic
    // per-arm order (slice-major, hash-minor)
    val wSlice = Window.partitionBy(col("__cell"), col("__t")).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val meta = sliceCnt
      .withColumn("slice_off", coalesce(sum(col("sc")).over(wSlice), lit(0L)))
      .join(cells, Seq("__cell"))
      .select(col("__cell"), col("__t"), col("__slice"),
        col("slice_off"), col("pairs"), col("offset"))
    // pass 2: parallel per-slice sort, global rank = slice offset + local rank
    val wT = Window.partitionBy(col("__cell"), col("__t"), col("__slice"))
      .orderBy(col("__h"))
    withCell.join(broadcast(meta), Seq("__cell", "__t", "__slice"), "left")
      .withColumn("__rn", col("slice_off") + row_number().over(wT))
      .withColumn("matching_index",
        when(!col("__valid") || col("pairs").isNull, 0L)
          .when(col("__t") === 1 && col("__rn") <= col("pairs"), col("offset") + col("__rn"))
          .when(col("__t") === 0 && col("__rn") <= col("pairs") * k,
            col("offset") + ceil(col("__rn") / k).cast("long"))
          .otherwise(0L))
      .drop("__cell", "__t", "__valid", "__h", "__slice", "__rn", "slice_off",
        "pairs", "offset")
  }

  /** Exact matching on a covariate tuple — caliper matching degenerate case
    * with no score bucket. */
  def exactMatching(df: DataFrame, treatment: Column, exactCols: Seq[Column],
                    k: Int = 1, seed: Long = 42L): DataFrame =
    caliperMatching(df.withColumn("__zero", lit(0.0)), treatment, col("__zero"),
      caliper = 1.0, exactCols = exactCols, k = k, seed = seed)
      .drop("__zero")

  /** Prognostic-score matching (match.py:329-440): fit an OLS of the
    * OUTCOME on the covariates using a held-out half of the CONTROL arm
    * only, score the remaining rows (all treated + the other control half)
    * with the predicted baseline outcome, and caliper-match on that score.
    * Returns the scored testing rows with `scoreName` and
    * `matching_index` (0 = unmatched).
    *
    * The control split is layout-deterministic (content hash), the model fit
    * is one constant-state scan of the training half, scoring is a
    * codegen'd dot product, and the match itself is the salted-window
    * [[caliperMatching]] — nothing here adds a shuffle beyond the matching
    * pass, so the 100 TB shape is the same as caliper matching's. Rows used
    * to TRAIN the score model are excluded from the matched output, exactly
    * like the reference (training on matched rows biases the inference). */
  def prognosticMatching(df: DataFrame, treatment: Column, outcome: Column,
                         covs: Seq[Column], caliper: Double,
                         exactCols: Seq[Column] = Seq.empty, k: Int = 1,
                         trainFrac: Double = 0.5, seed: Long = 42L,
                         idCols: Seq[Column] = Seq.empty,
                         scoreName: String = "prog_score"): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, "trainFrac in (0,1)")
    import graft.api.implicits._
    val control = df.filter(treatment.cast("int") === 0)
    // testSize here is the share that STAYS matchable (control-test)
    val (train, controlTest) =
      control.trainTestSplitDeterministic(1.0 - trainFrac, seed, idCols)
    val model = Regression.fitOls(train, outcome, covs)
    val testing = df.filter(treatment.cast("int") === 1).unionByName(controlTest)
    val scored = testing.withColumn(scoreName, Regression.predict(model, covs))
    caliperMatching(scored, treatment, col(scoreName), caliper, exactCols, k, seed,
      idCols = idCols)
  }

  /** Propensity-overlap / positivity diagnostic — the check IPW/AIPW
    * (#31) and matching assume but never verify: bin the score into
    * `bins` equal-width cells over [0, 1] and report, per bin, both
    * arms' counts and shares, plus two scalars repeated per row (the
    * calibration-table idiom):
    *
    *   common_support = share of rows in bins where BOTH arms appear,
    *   ovl            = Σ_b min(share0_b, share1_b)   (overlap coefficient)
    *
    * ovl near 1 = the arms see the same score range (weights behave);
    * a low common_support names the positivity violation before it
    * becomes an exploding weight. ONE groupBy over ≤ bins cells; scores
    * outside [0, 1] and treatment values outside {0, 1} are both named
    * errors counted in the same pass (never silently dropped).
    * Returns (bin, n0, n1, share0, share1, common_support, ovl),
    * ordered by bin. */
  def overlap(df: DataFrame, treatment: Column, score: Column,
              bins: Int = 20): DataFrame = {
    require(bins >= 2, s"overlap: bins must be >= 2, got $bins")
    val s = score.cast("double")
    val ti = treatment.cast("int")
    // a score outside [0, 1] signals the same upstream bug this
    // diagnostic exists to catch — routed to sentinel bin -1 and counted
    // in the SAME pass, then a named error (mirrors bad-treatment), not a
    // silent filter drop
    val bin = when(s < 0.0 || s > 1.0, lit(-1))
      .otherwise(least(floor(s * bins).cast("int"), lit(bins - 1)))
    val rawCells = df
      .filter(ti.isNotNull && s.isNotNull && !isnan(s))
      .groupBy(bin.as("bin"))
      .agg(sum(when(ti === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(ti === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(ti =!= 0 && ti =!= 1, 1L).otherwise(0L)).as("bad"))
    val cells = rawCells.filter(col("bin") >= 0)
    val tot = rawCells.agg(
      sum(when(col("bin") >= 0, col("n0")).otherwise(0L)).as("t0"),
      sum(when(col("bin") >= 0, col("n1")).otherwise(0L)).as("t1"),
      sum(col("bad")).as("bad"),
      sum(when(col("bin") < 0, col("n0") + col("n1")).otherwise(0L))
        .as("badScore"),
      sum(when(col("bin") >= 0 && col("n0") > 0 && col("n1") > 0,
        col("n0") + col("n1")).otherwise(0L)).as("both")).head()
    require(tot.getAs[Long]("bad") == 0,
      s"overlap: ${tot.getAs[Long]("bad")} rows have treatment outside {0, 1}")
    require(tot.getAs[Long]("badScore") == 0,
      s"overlap: ${tot.getAs[Long]("badScore")} rows have a propensity " +
        "score outside [0, 1] — fix the scoring step (or clamp explicitly " +
        "upstream if clipping is intended)")
    val (t0, t1) = (tot.getAs[Long]("t0"), tot.getAs[Long]("t1"))
    require(t0 > 0 && t1 > 0, "overlap: both arms need rows with scores " +
      "in [0, 1]")
    val common = tot.getAs[Long]("both").toDouble / (t0 + t1)
    val ovl = cells.agg(sum(least(
      col("n0").cast("double") / t0,
      col("n1").cast("double") / t1))).head().getDouble(0)
    cells
      .select(col("bin"), col("n0"), col("n1"),
        (col("n0").cast("double") / t0).as("share0"),
        (col("n1").cast("double") / t1).as("share1"),
        lit(common).as("common_support"), lit(ovl).as("ovl"))
      .orderBy(col("bin"))
  }

  /** Standardized mean difference per covariate between treatment groups
    * (match.py:159-225): smd = (x̄₁−x̄₀)/sqrt((s₁²+s₀²)/2). One agg pass. */
  def smd(df: DataFrame, treatment: Column, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = cols.flatMap { c =>
      Seq(avg(when(treatment === 1, col(c))).as(s"m1_$c"),
        avg(when(treatment === 0, col(c))).as(s"m0_$c"),
        var_samp(when(treatment === 1, col(c))).as(s"v1_$c"),
        var_samp(when(treatment === 0, col(c))).as(s"v0_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map { c =>
      val m1 = row.getAs[Double](s"m1_$c"); val m0 = row.getAs[Double](s"m0_$c")
      val v1 = row.getAs[Double](s"v1_$c"); val v0 = row.getAs[Double](s"v0_$c")
      (c, (m1 - m0) / math.sqrt((v1 + v0) / 2.0))
    }.toDF("covariate", "smd")
  }
}
