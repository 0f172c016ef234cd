package graft

import graft.ops._
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnresolvedWith}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** SQL entry point for the COMPOSED (whole-query) operators — the Spark
  * equivalent of the reference's SQL gateway, which intercepts causal verbs
  * and rewrites them into full queries before the engine sees them (calcite
  * LiftParser.java:26-444, ExactMatchingParser.java:1-173,
  * LinearDMLParser.java:1-176, python `SqlGateWayConn.sql`). Aggregate- and
  * scalar-level names live in [[GraftSql]]; this layer handles the verbs
  * whose output is a TABLE TRANSFORM of the input, which Spark's
  * FunctionRegistry cannot express.
  *
  * The query is parsed with SPARK'S OWN PARSER (not a regex): a verb query
  * is any parse tree whose top-level projection is exactly one call to a
  * known verb — the verb's FROM side may be a table, a join, a subquery, or
  * sit under a WITH (the CTEs are re-wrapped around the stripped input
  * before analysis), matching the reference gateway's ability to rewrite
  * inside arbitrary SQL (SqlForward.java:86-215). Anything else falls
  * through to `spark.sql` unchanged, so this is a drop-in `sql()`
  * replacement.
  *
  * Supported (case-insensitive):
  * {{{
  * SELECT lift(ite, y, t, k)                 FROM <any>
  * SELECT exact_matching(t, x1, x2, ...)     FROM <any>
  * SELECT caliper_matching(t, score, c[, k]) FROM <any>
  * SELECT smd(t, x1, x2, ...)                FROM <any>
  * SELECT linear_dml(y, t, x1[, x2, ...])    FROM <any>
  * SELECT iv_regression(y, t, z[, x...])     FROM <any>
  * SELECT cut_bins(x, b)                     FROM <any>
  * SELECT group_set(y, t, g1, g2, ...)       FROM <any>
  * SELECT boot_strap(aggExpr, B)             FROM <any>
  * SELECT permutation(y, t, B[, mde, type])  FROM <any>
  * SELECT did(y, t, time[, x...])            FROM <any>
  * SELECT nonparam_dml(y, t, x...)           FROM <any>
  * SELECT quantile_test_bucket(y, t, bucket, p1[, p2...]) FROM <any>
  * SELECT mann_whitney_utest(y, t[, alt])    FROM <any>
  * SELECT kolmogorov_smirnov_test(y, t[, alt[, method]]) FROM <any>
  * SELECT causal_forest(y, t, x...[, trees, depth, min_node]) FROM <any>
  * SELECT causal_tree(y, t, x...[, depth, min_node])          FROM <any>
  * SELECT histogram(x[, bins])               FROM <any>
  * SELECT histogram_by(g, x[, bins])         FROM <any>
  * SELECT box_stats(x[, 'exact'])            FROM <any>
  * SELECT tfidf(id, text[, k])               FROM <any>
  * SELECT perplexity(id, text)               FROM <any>
  * SELECT incremental_dedup(text, 'history_table') FROM <corpus>
  * SELECT snapshot_diff(id, text, 'new_table')     FROM <old_version>
  * SELECT conformal_interval(y, is_cal, x...[, alpha]) FROM <any>
  * SELECT chunk_documents(id, text, size[, overlap])   FROM <docs>
  * SELECT msprt(bucket, y, t[, tau])          FROM <events>
  * SELECT srm_sequential(bucket, arm, r0, r1[, ...]) FROM <events>
  * SELECT jackknife_ratio(bucket, num, den[, alpha])      FROM <any>
  * SELECT jackknife_ratio_diff(bucket, num, den, t[, alpha]) FROM <any>
  * SELECT metric_anomaly(period, value, season[, min_hist[, z]]) FROM <events>
  * SELECT bayes_ab(t, success[, alpha0[, beta0]])  FROM <events>
  * SELECT bayes_best_arm(arm, success[, alpha0[, beta0]]) FROM <events>
  * SELECT stratified_ate(y, t, stratum)         FROM <any>
  * SELECT rdd_sharp(y, x, cutoff, bandwidth[, 'kernel']) FROM <any>
  * SELECT rdd_fuzzy(y, d, x, cutoff, bandwidth[, 'kernel']) FROM <any>
  * SELECT equivalence_test(y, t, margin[, alpha]) FROM <any>
  * SELECT rate_ratio(events, t[, exposure[, alpha]]) FROM <any>
  * SELECT mediation(y, t, mediator)              FROM <any>
  * SELECT icc(y, cluster)                        FROM <any>
  * SELECT interrupted_time_series(y, t, at)      FROM <series>
  * SELECT changepoint(period, value)             FROM <series>
  * SELECT weighted_ttest(y, t, w)                FROM <any>
  * SELECT gini(value)                            FROM <any>
  * SELECT prop_test(success, t[, alpha])         FROM <any>
  * SELECT benford(value)                         FROM <any>
  * SELECT yuen_test(y, t[, trim][, 'exact'])     FROM <any>
  * SELECT mcnemar(a, b)                          FROM <paired readings>
  * SELECT cohens_kappa(a, b)                     FROM <paired labels>
  * SELECT fleiss_kappa(item, category)           FROM <rating rows>
  * SELECT zipf_fit(text)                         FROM <documents>
  * SELECT rdd_bandwidth(y, x)                    FROM <any>
  * SELECT mutual_info(a, b)                      FROM <any>
  * SELECT bland_altman(a, b)                     FROM <paired measures>
  * SELECT trend_test(success, score)             FROM <any>
  * SELECT spearman(x, y)                         FROM <any>
  * SELECT levene(y, arm[, 'exact'])              FROM <any>
  * SELECT cluster_robust_ols(y, cluster, x...) FROM <any>
  * SELECT blp_test(ite, y, t)                 FROM <any>
  * SELECT anova(y, arm)                       FROM <any>
  * SELECT fdr_bh(p_value[, 'bh'|'by'|'holm']) FROM <test table>
  * SELECT chisq_independence(a, b)            FROM <any>
  * SELECT eb_shrink_means(group, y)           FROM <any>
  * SELECT cox_ph(time, event, x...[, 'efron']) FROM <any>
  * SELECT rmst(time, event, tau[, group])     FROM <any>
  * SELECT msprt_by(exp, bucket, y, t[, tau])  FROM <events>
  * SELECT image_dhash(id, content)            FROM <images>
  * SELECT audio_fingerprint(id, content)      FROM <clips>
  * SELECT video_metadata(id, content)         FROM <videos>
  * SELECT hamming_pairs(id, hash[, max_hamming]) FROM <hashed>
  * SELECT ratio_mde(num, den[, target_rel_lift]) FROM <any>
  * SELECT synth_control(unit, period, y, 'treated', pre_end) FROM <panel>
  * SELECT synth_placebo(unit, period, y, 'treated', pre_end) FROM <panel>
  * SELECT group_sequential(bucket, y, t[, alpha[, 'obf'|'pocock']]) FROM <events>
  * SELECT event_study([unit, ]first_treat, period, y)  FROM <panel>
  * SELECT event_study_curve([unit, ]first_treat, period, y) FROM <panel>
  * SELECT top_k(col[, k[, max_tracked]])       FROM <any>
  * SELECT funnel(user, ts, event, 'a', 'b', ..., window) FROM <events>
  * SELECT retention(user, ts, bucket_len)      FROM <events>
  * SELECT weighted_sample(stratum, weight, u01, k) FROM <any>
  * SELECT fuzzy_join(id, block, key, 'right_table', max_dist) FROM <left>
  * SELECT e_value(y, t[, alpha])               FROM <any>
  * SELECT profile_diff('new_table'[, 'exact'])  FROM <old_version>
  * SELECT mantel_haenszel(stratum, t, y)       FROM <any>
  * SELECT fisher_exact(a, b)                   FROM <small 2x2>
  * SELECT ordinal_assoc(x, y[, max_cells])     FROM <ordinal pairs>
  * SELECT mood_median(y, group[, 'exact'])     FROM <any>
  * SELECT kruskal_wallis(y, group)             FROM <any>
  * SELECT brunner_munzel(y, t)                 FROM <any>
  * SELECT effect_size(y, t)                    FROM <any>
  * SELECT nelson_aalen(time, event[, group])   FROM <any>
  * SELECT cumulative_incidence(time, cause)    FROM <competing risks>
  * SELECT ewma(period, value[, lambda[, L]])   FROM <series>
  * SELECT ljung_box(period, value[, lags])     FROM <series>
  * SELECT sprt(bucket, y, p0, p1[, alpha[, beta]]) FROM <events>
  * SELECT hosmer_lemeshow(label, score[, bins][, 'exact']) FROM <scored>
  * SELECT classification_report(label, predicted) FROM <scored>
  * SELECT cronbach_alpha(item1, item2, ...)    FROM <k-item scale>
  * SELECT oaxaca_blinder(y, group, x...)       FROM <any>
  * SELECT chao1(text)                          FROM <documents>
  * SELECT kmeans(id, vec, k[, iters])          FROM <embeddings>
  * SELECT dunn_test(y, group)                  FROM <any>
  * SELECT ks_uniform(p)                        FROM <p-value table>
  * SELECT theil_sen(x, y[, max_rows])          FROM <series cells>
  * SELECT cochran_q(block, treatment, y)       FROM <matched binaries>
  * SELECT durbin_watson(period, value)         FROM <series>
  * SELECT logrank_power(event, t, hr[, alpha]) FROM <cohort>
  * SELECT heaps_fit(id, text)                  FROM <documents>
  * SELECT kmeans_eval(id, vec, label, k[, iters]) FROM <embeddings>
  * SELECT overlap(t, score[, bins])            FROM <scored cohort>
  * SELECT mad_outliers(x[, k][, 'exact'])      FROM <any>
  * SELECT bpe_token_count(text, 'merges'[, group])        FROM <docs>
  * SELECT semantic_dedup(id, embedding, k[, thr[, iters[, maxb[, probes[, rank]]]]]) FROM <vectors>
  * SELECT friedman(block, treatment, y)        FROM <complete panel>
  * SELECT welch_anova(y, arm)                  FROM <any>
  * SELECT jarque_bera(x)                       FROM <any>
  * SELECT vocab_drift(text, 'ref_table')       FROM <docs>
  * SELECT embedding_drift(label, vec, 'ref')   FROM <vectors>
  * SELECT partial_corr(x, y, z1[, z2...])      FROM <any>
  * SELECT kendall_tau(x, y[, max_cells])       FROM <discrete pairs>
  * SELECT ad_uniform(p)                        FROM <scores in (0,1)>
  * SELECT page_hinkley(period, v, lambda[, delta]) FROM <series>
  * SELECT hellinger(v, group, split1, split2, ...) FROM <two cohorts>
  * SELECT fleming_harrington(grp, t, ev, rho, gamma) FROM <survival>
  * SELECT bowker_test(a, b)                    FROM <paired labels>
  * SELECT lin_ccc(x, y)                        FROM <paired scores>
  * SELECT brier_decomposition(y, forecast)     FROM <forecasts>
  * SELECT ndcg(query, item, score, rel[, k])   FROM <rankings>
  * SELECT flesch(text)                         FROM <docs>
  * SELECT mann_kendall(period, value)          FROM <series>
  * SELECT distinct_n(text[, 1, 2, 3])          FROM <docs>
  * SELECT poisson_reg(y, x...)                 FROM <counts>
  * SELECT c_index(time, event, score)          FROM <survival>
  * SELECT krippendorff(unit, value)            FROM <ratings>
  * SELECT retrieval_eval(query, item, score, rel[, k]) FROM <rankings>
  * SELECT dagostino_k2(x)                      FROM <sample>
  * SELECT win_ratio(treatment, o1[, o2...])    FROM <composite>
  * SELECT pagerank(src, dst[, d[, iters]])     FROM <edges>
  * SELECT adf_test(period, value[, lags])      FROM <series>
  * SELECT mmr(id, vec, rel, k[, lambda])       FROM <candidates>
  * SELECT chow_test(y, group, x...)            FROM <two regimes>
  * SELECT breusch_pagan(y, x...)               FROM <fit>
  * SELECT k_anonymity(k, quasi_id...)          FROM <release>
  * SELECT mmd_rff(group, vec[, D[, gamma]])    FROM <embeddings>
  * SELECT cochran_armitage(dose, y)            FROM <dose-response>
  * SELECT auc_ci(label, score[, alpha])        FROM <scored>
  * SELECT g_test(a, b)                         FROM <contingency>
  * SELECT ope(r, p_target, p_logging[, qhat[, clip]]) FROM <logs>
  * SELECT neg_bin_reg(y, x...)                 FROM <overdispersed counts>
  * SELECT isotonic_calibrate(score, label[, max_cells]) FROM <scored>
  * SELECT isotonic_score(score, label, 'train_table'[, max_cells]) FROM <target>
  * SELECT weighted_kappa(a, b[, 'quadratic'|'linear']) FROM <ordinal pairs>
  * SELECT cox_zph(time, event, x...)           FROM <survival>
  * SELECT cox_ph_strat(time, event, stratum, x...[, 'efron']) FROM <survival>
  * SELECT cox_survival(time, event, x..., 'beta_csv|fit', 'profile_csv') FROM <survival>
  * SELECT rmst_diff(time, event, tau, group)   FROM <survival>
  * SELECT cox_ph_cluster(time, event, cluster, x...) FROM <survival>
  * SELECT fine_gray(time, cause, x...)          FROM <competing risks>
  * SELECT fine_gray_cif(time, cause, x..., 'beta_csv|fit', 'profile_csv') FROM <competing risks>
  * SELECT seasonal_strength(period, value, season) FROM <series>
  * SELECT cluster_power(y, cluster, delta[, alpha]) FROM <clustered>
  * SELECT binomial_test(y, p0)                 FROM <small cohort>
  * SELECT runs_test(period, value)             FROM <series>
  * SELECT grubbs_test(x)                       FROM <any>
  * SELECT ngram_novelty(text, 'ref_table'[, n]) FROM <new shard>
  * }}}
  *
  * The two rank tests auto-route to [[graft.ops.RankTests]]'s
  * range-partitioned implementations (O(distinct) histogram state would
  * OOM on all-distinct continuous columns at scale); grouped or nested
  * calls still hit the registry aggregates, which fail fast with a
  * pointer here above [[graft.agg.TwoSampleHist.maxDistinct]] entries.
  */
object GraftGateway {

  def sql(spark: SparkSession, query: String): DataFrame = {
    val parsed =
      try Some(spark.sessionState.sqlParser.parsePlan(query))
      catch { case _: Exception => None } // invalid SQL → spark.sql's error
    parsed.flatMap(findVerb) match {
      case Some(m) if m.others.isEmpty =>
        dispatch(spark, m.verb, ColumnBridge.ofRows(spark, m.wrap(m.input)), m.args)
      case Some(m) if transformVerbs(m.verb) =>
        // TABLE-TRANSFORM verb beside other projections (SqlForward
        // .java:86-215's CTE scaffolding): transform-then-project. The
        // transform preserves the input's columns and ADDS its output
        // columns, so the rest of the SELECT list resolves over the
        // transformed frame and the added columns splice in at the verb's
        // list position.
        val inputDf = ColumnBridge.ofRows(spark, m.wrap(m.input))
        val transformed = dispatch(spark, m.verb, inputDf, m.args)
        val added = transformed.columns.filterNot(inputDf.columns.contains)
        val addedExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
          added.toSeq.map(n => UnresolvedAttribute.quoted(n))
        val projList = m.others.take(m.pos) ++ addedExprs ++ m.others.drop(m.pos)
        ColumnBridge.ofRows(spark,
          Project(projList, transformed.queryExecution.logical))
      case Some(m) =>
        // SUMMARY verb beside other projections: run the verb over the FROM
        // side, run the rest of the SELECT list over the same input, and
        // splice the small verb result in via a broadcast cross join at the
        // verb's list position. Only defined when the sibling projections
        // collapse to ONE row (a global aggregate) — a per-row sibling
        // would silently become an N×M cross product.
        val othersDf = ColumnBridge.ofRows(spark, m.wrap(Project(m.others, m.input)))
        if (!producesOneRow(othersDf.queryExecution.analyzed))
          throw new IllegalArgumentException(
            s"summary verb ${m.verb} beside other projections requires the " +
              "other projections to be global aggregates (one output row); " +
              "per-row projections beside a one-row summary have no defined " +
              "semantics. Aggregate the siblings, or run the verb alone.")
        val verbDf = dispatch(spark, m.verb,
          ColumnBridge.ofRows(spark, m.wrap(m.input)), m.args)
        val oCols = othersDf.columns.toSeq
        val vCols = verbDf.columns.toSeq
          .map(n => if (oCols.contains(n)) s"${n}_${m.verb}" else n)
        val joined = othersDf.crossJoin(
          org.apache.spark.sql.functions.broadcast(verbDf.toDF(vCols: _*)))
        joined.select((oCols.take(m.pos) ++ vCols ++ oCols.drop(m.pos))
          .map(org.apache.spark.sql.functions.col): _*)
      case None =>
        try spark.sql(query)
        catch {
          // a verb nested inside another expression (or two verbs in one
          // list) is not rewritable — name the constraint instead of
          // surfacing Spark's bare "undefined function"
          case e: org.apache.spark.sql.AnalysisException
              if verbs.exists(v => s"(?i)\\b$v\\s*\\(".r.findFirstIn(query).isDefined) =>
            throw new IllegalArgumentException(
              "graft verbs must appear as top-level SELECT items (at most " +
                "one per query, not nested inside another expression). " +
                "Table-transform verbs (exact_matching, caliper_matching, " +
                "cut_bins) rewrite as transform-then-project beside plain " +
                "projections; summary verbs (smd, linear_dml, …) compose " +
                "beside global aggregates. Original error: " +
                s"${e.getMessage}", e)
        }
    }
  }

  /** True iff the analyzed plan provably yields at most one row (a global
    * aggregate, possibly under projections / CTE / subquery aliases). */
  private def producesOneRow(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p.maxRows.exists(_ <= 1L) || (p match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case w: WithCTE => producesOneRow(w.plan)
      case Project(_, child) => producesOneRow(child)
      case s: SubqueryAlias => producesOneRow(s.child)
      case _ => false
    })
  }

  private case class VerbMatch(verb: String, args: Seq[Expression],
      input: LogicalPlan,
      others: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      pos: Int, wrap: LogicalPlan => LogicalPlan)

  /** Match a top-level verb call in the SELECT list. A WITH wrapper is
    * unwrapped and its CTE definitions re-wrapped (via `wrap`) around any
    * subtree built over the verb's input, so CTE references still resolve.
    * Any single verb matches, alone or beside other projections — the
    * dispatcher picks transform-then-project or cross-join composition. */
  private def findVerb(plan: LogicalPlan): Option[VerbMatch] =
    plan match {
      case w: UnresolvedWith =>
        findVerb(w.child).map(m =>
          m.copy(wrap = (p: LogicalPlan) => w.copy(child = m.wrap(p))))
      case Project(projList, child) =>
        def asVerb(e: Expression): Option[UnresolvedFunction] = e match {
          case Alias(f: UnresolvedFunction, _) => Some(f)
          case UnresolvedAlias(f: UnresolvedFunction, _) => Some(f)
          case f: UnresolvedFunction => Some(f)
          case _ => None
        }
        val hits = projList.zipWithIndex.flatMap { case (e, i) =>
          asVerb(e).collect {
            case f if f.nameParts.length == 1 && handles(f.nameParts.head) =>
              (f, i)
          }
        }
        hits match {
          case Seq((f, i)) =>
            val verb = f.nameParts.head.toLowerCase
            val others = projList.patch(i, Nil, 1)
            Some(VerbMatch(verb, f.arguments, child, others, i, identity))
          case _ => None
        }
      case _ => None
    }

  private val verbs = Set("lift", "exact_matching", "caliper_matching",
    "smd", "linear_dml", "iv_regression", "cut_bins", "group_set",
    "boot_strap", "permutation", "did", "nonparam_dml",
    "quantile_test_bucket", "mann_whitney_utest", "mann_whitney_u_test",
    "kolmogorov_smirnov_test", "causal_forest", "causal_tree",
    "kaplan_meier", "rmst", "log_rank_test", "aipw",
    "robust_means", "wasserstein", "psi", "calibration",
    "weighted_mean_ess", "qte",
    "histogram", "histogram_by", "box_stats", "tfidf", "perplexity",
    "incremental_dedup", "snapshot_diff", "conformal_interval",
    "chunk_documents", "msprt", "msprt_by", "cluster_robust_ols", "blp_test",
    "anova", "fdr_bh", "chisq_independence", "eb_shrink_means", "cox_ph",
    "image_dhash", "audio_fingerprint", "video_metadata", "hamming_pairs",
    "ratio_mde", "synth_control", "synth_placebo", "synth_did",
    "group_sequential",
    "event_study",
    "event_study_curve", "top_k", "funnel", "retention", "e_value",
    "profile_diff", "weighted_sample", "srm_sequential", "fuzzy_join",
    "jackknife_ratio", "jackknife_ratio_diff", "metric_anomaly", "bayes_ab",
    "bayes_best_arm", "stratified_ate", "rdd_sharp", "rdd_fuzzy",
    "equivalence_test", "rate_ratio", "mediation", "icc",
    "interrupted_time_series", "changepoint", "weighted_ttest", "gini",
    "prop_test", "benford", "yuen_test", "mcnemar", "cohens_kappa",
    "rdd_bandwidth", "mutual_info", "bland_altman", "trend_test",
    "spearman", "levene", "bartlett", "breslow_day", "design_effect",
    "fleiss_kappa", "zipf_fit", "chao1",
    "mantel_haenszel", "fisher_exact", "ordinal_assoc", "mood_median",
    "kruskal_wallis", "brunner_munzel", "effect_size", "nelson_aalen",
    "cumulative_incidence", "ewma", "ljung_box", "acf_pacf", "vif",
    "sprt", "hosmer_lemeshow",
    "classification_report", "cronbach_alpha", "oaxaca_blinder", "kmeans",
    "dunn_test", "ks_uniform", "theil_sen", "cochran_q", "durbin_watson",
    "logrank_power", "heaps_fit", "kmeans_eval", "overlap", "mad_outliers",
    "seasonal_strength", "cluster_power", "binomial_test", "runs_test",
    "grubbs_test", "ngram_novelty", "bpe_token_count", "semantic_dedup",
    "friedman", "welch_anova", "jarque_bera", "vocab_drift",
    "embedding_drift", "partial_corr", "kendall_tau", "ad_uniform",
    "page_hinkley", "hellinger", "fleming_harrington", "bowker_test",
    "lin_ccc", "brier_decomposition", "ndcg", "flesch", "mann_kendall",
    "distinct_n", "poisson_reg", "c_index", "krippendorff",
    "retrieval_eval", "dagostino_k2", "win_ratio", "pagerank", "adf_test",
    "mmr", "chow_test", "breusch_pagan", "k_anonymity", "mmd_rff",
    "cochran_armitage", "auc_ci", "g_test", "ope", "neg_bin_reg", "gamma_reg",
    "isotonic_calibrate", "isotonic_score", "platt_score",
    "weighted_kappa", "cox_zph",
    "cox_ph_strat", "cox_survival", "rmst_diff", "cox_ph_cluster",
    "fine_gray", "fine_gray_cif", "gray_test", "aft", "aft_survival",
    "ordinal_logit", "ordinal_score", "multinomial_logit",
    "multinomial_score")
  /** Verbs whose output is a TRANSFORM of the input table (all input
    * columns preserved + output columns added) — beside other projections
    * they rewrite as transform-then-project. The rest are summary verbs
    * (small one-row-per-something tables) that compose via cross join when
    * the siblings are global aggregates. */
  private val transformVerbs = Set("exact_matching", "caliper_matching",
    "cut_bins", "incremental_dedup", "conformal_interval", "fdr_bh",
    "isotonic_score", "ordinal_score", "platt_score",
    "multinomial_score")
  private def handles(v: String): Boolean = verbs(v.toLowerCase)

  private def c(e: Expression): Column = ColumnBridge.column(e)

  private def num(e: Expression): Double = e match {
    case Literal(v, _) if v != null => v.toString.toDouble
    // the parser leaves `-0.02` as UnaryMinus(Literal) — constant folding
    // only happens at optimization, which these arguments never reach
    case org.apache.spark.sql.catalyst.expressions.UnaryMinus(inner, _) => -num(inner)
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got ${other.sql}")
  }

  /** Column-NAME argument (cut_bins/smd/group_set label their outputs). */
  private def name(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.name
    case Literal(s: UTF8String, StringType) => s.toString
    case other => other.sql
  }

  private def str(e: Expression): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got ${other.sql}")
  }

  /** Optional trailing 'exact' flag (the box_stats idiom): true when the
    * LAST argument is the string literal 'exact' — selects the
    * sort-buffer exact percentile (oracle parity) over the default
    * percentile_approx sketch (the 100 TB path). */
  private def exactFlag(a: Seq[Expression]): Boolean = a.lastOption.exists {
    case Literal(s: UTF8String, StringType) =>
      s.toString.equalsIgnoreCase("exact")
    case _ => false
  }

  /** Optional trailing ties-convention flag for the Cox verbs: Some
    * convention when the LAST argument is the string literal 'efron' or
    * 'breslow' (any other trailing expression is a covariate). */
  private def tiesFlag(a: Seq[Expression]): Option[String] =
    a.lastOption.collect {
      case Literal(s: UTF8String, StringType)
          if s.toString.equalsIgnoreCase("efron") ||
            s.toString.equalsIgnoreCase("breslow") =>
        s.toString.toLowerCase
    }

  private def dispatch(spark: SparkSession, verb: String, df: DataFrame,
                       a: Seq[Expression]): DataFrame = {
    import spark.implicits._
    verb match {
      case "lift" =>
        require(a.length >= 4, "lift(ite, y, t, k)")
        Uplift.liftGain(df, c(a(0)), c(a(1)), c(a(2)), k = num(a(3)).toInt)
      case "exact_matching" =>
        require(a.length >= 2, "exact_matching(t, x...)")
        Matching.exactMatching(df, c(a.head), a.tail.map(c))
      case "caliper_matching" =>
        require(a.length >= 3, "caliper_matching(t, score, caliper[, k])")
        Matching.caliperMatching(df, c(a(0)), c(a(1)), caliper = num(a(2)),
          k = if (a.length > 3) num(a(3)).toInt else 1)
      case "smd" =>
        require(a.length >= 2, "smd(t, x...)")
        Matching.smd(df, c(a.head), a.tail.map(name))
      case "linear_dml" =>
        require(a.length >= 3, "linear_dml(y, t, x...)")
        val m = Dml.linearDml(df, c(a(0)), c(a(1)), a.drop(2).map(c))
        Seq((m.ate, m.ateStderr, m.atePValue)).toDF("ate", "stderr", "p_value")
      case "iv_regression" =>
        require(a.length >= 3, "iv_regression(y, t, z[, x...])")
        val s = Regression.ivRegression(df, c(a(0)), c(a(1)), c(a(2)),
          a.drop(3).map(c))
        val names = "t_hat" +: (a.drop(3).map(name) :+ "(intercept)")
        names.zipWithIndex.map { case (n, i) =>
          (n, s.coefficients(i), s.stderr(i), s.t_values(i), s.p_values(i))
        }.toDF("term", "estimate", "stderr", "t_value", "p_value")
      case "cut_bins" =>
        require(a.length == 2, "cut_bins(x, num_bins)")
        Features.cutBinsQuantile(df, name(a(0)), num(a(1)).toInt)._1
      case "group_set" =>
        require(a.length >= 3, "group_set(y, t, g...)")
        GroupSet.groupSet(df, c(a(0)), c(a(1)),
          a.drop(2).map(g => name(g) -> c(g)))
      case "boot_strap" =>
        // any inner aggregate expression — the reference's
        // BootStrap('aggName', ...) generality (BootStrap.h:375-497);
        // avg/mean/sum/count run as weighted sums, without the explode
        require(a.length >= 2, "boot_strap(aggExpr, B)")
        val b = num(a(1)).toInt
        Bootstrap.bootstrapMoment(df, b, c(a(0)))
          .getOrElse(Bootstrap.bootstrapAny(df, b)(Seq("stat" -> c(a(0)))))
      case "permutation" =>
        require(a.length >= 3, "permutation(y, t, B[, mde, mde_type])")
        val (obs, p, _) = Bootstrap.permutationTest(df, c(a(0)), c(a(1)),
          b = num(a(2)).toInt,
          mde = if (a.length > 3) num(a(3)) else 0.0,
          mdeType = if (a.length > 4) str(a(4)) else "abs")
        Seq((obs, p)).toDF("observed", "p_value")
      case "cox_ph" =>
        // proportional-hazards regression; one row per covariate (the
        // score/log-rank test is computed in the fit but not exposed at
        // this SQL surface — CoxResult.scoreChi2/scoreP carry it for
        // library callers). Optional trailing 'efron'|'breslow' selects
        // the tie convention (default breslow).
        val ties = tiesFlag(a)
        val ax = if (ties.isDefined) a.dropRight(1) else a
        require(ax.length >= 3, "cox_ph(time, event, x...[, 'efron'])")
        val r = Survival.coxPh(df, c(ax(0)), c(ax(1)), ax.drop(2).map(c),
          ties = ties.getOrElse("breslow"))
        val terms = ax.drop(2).map(name).zipWithIndex.map { case (nm, j) =>
          (nm, r.coefficients(j), r.stderr(j), r.z_values(j), r.p_values(j),
            r.n, r.nEvents)
        }
        terms.toDF("term", "estimate", "stderr", "z_value", "p_value",
          "n", "n_events")
      case "cox_ph_strat" =>
        // stratified PH regression: per-stratum baseline, shared beta;
        // one row per covariate (the stratified-log-rank score test is
        // computed in the fit but not exposed at this SQL surface —
        // CoxResult.scoreChi2/scoreP carry it for library callers).
        // Optional trailing 'efron'|'breslow' tie convention.
        val ties = tiesFlag(a)
        val ax = if (ties.isDefined) a.dropRight(1) else a
        require(ax.length >= 4,
          "cox_ph_strat(time, event, stratum, x...[, 'efron'])")
        val r = Survival.coxPhStratified(df, c(ax(0)), c(ax(1)), c(ax(2)),
          ax.drop(3).map(c), ties = ties.getOrElse("breslow"))
        val terms = ax.drop(3).map(name).zipWithIndex.map { case (nm, j) =>
          (nm, r.coefficients(j), r.stderr(j), r.z_values(j), r.p_values(j),
            r.n, r.nEvents)
        }
        terms.toDF("term", "estimate", "stderr", "z_value", "p_value",
          "n", "n_events")
      case "cox_ph_cluster" =>
        // Lin-Wei cluster-robust sandwich SEs beside the model SEs; one
        // row per covariate
        require(a.length >= 4, "cox_ph_cluster(time, event, cluster, x...)")
        val r = Survival.coxPhRobust(df, c(a(0)), c(a(1)), c(a(2)),
          a.drop(3).map(c))
        val terms = a.drop(3).map(name).zipWithIndex.map { case (nm, j) =>
          (nm, r.coefficients(j), r.seModel(j), r.seRobust(j),
            r.zRobust(j), r.pRobust(j), r.n, r.nEvents, r.nClusters)
        }
        terms.toDF("term", "estimate", "se_model", "se_robust", "z_robust",
          "p_value", "n", "n_events", "n_clusters")
      case "fine_gray" =>
        // subdistribution-hazard regression for competing risks; cause:
        // 0 = censored, 1 = modeled, >= 2 = competing; one row per
        // covariate
        require(a.length >= 3, "fine_gray(time, cause, x...)")
        val r = Survival.fineGray(df, c(a(0)), c(a(1)), a.drop(2).map(c))
        val terms = a.drop(2).map(name).zipWithIndex.map { case (nm, j) =>
          (nm, r.coefficients(j), r.stderr(j), r.z_values(j), r.p_values(j),
            r.n, r.nEvents, r.nCompeting)
        }
        terms.toDF("term", "estimate", "stderr", "z_value", "p_value",
          "n", "n_events", "n_competing")
      case "aft" =>
        // parametric AFT survival regression (survreg's distributions);
        // optional trailing 'weibull'|'lognormal'|'loglogistic' literal
        // (default weibull); one row per term: intercept, covariates,
        // log_scale (sigma = exp(log_scale); for weibull its z-test is
        // the exponential-vs-Weibull test)
        val aftDist = a.lastOption.collect {
          case Literal(s: UTF8String, StringType)
              if Set("weibull", "lognormal", "loglogistic")(
                s.toString.toLowerCase) =>
            s.toString.toLowerCase
        }
        val ax = if (aftDist.isDefined) a.dropRight(1) else a
        require(ax.length >= 2,
          "aft(time, event, x...[, 'weibull'|'lognormal'|'loglogistic'])")
        val r = graft.ops.Aft.aftFit(df, c(ax(0)), c(ax(1)),
          ax.drop(2).map(c), names = ax.drop(2).map(name),
          dist = aftDist.getOrElse("weibull"))
        val terms = r.terms.indices.map { j =>
          (r.terms(j), r.estimates(j), r.stderr(j), r.zValues(j),
            r.pValues(j), r.n, r.nEvents, r.dist)
        }
        terms.toDF("term", "estimate", "stderr", "z_value", "p_value",
          "n", "n_events", "dist")
      case "multinomial_score" =>
        // per-row softmax probabilities + argmax class from a stored
        // multinomial model; last two args: betas CSV (intercept-first
        // per non-reference class, class order) and the class count
        require(a.length >= 3,
          "multinomial_score(x..., 'betas_csv', n_classes)")
        val msB = str(a(a.length - 2)).split(",").map { tok =>
          tok.trim.toDoubleOption.getOrElse(
            throw new IllegalArgumentException(
              s"multinomial_score: betas_csv is not a comma-separated " +
                s"number list (offending token '${tok.trim}')"))
        }
        graft.ops.Multinomial.multinomialScore(df,
          a.dropRight(2).map(c), msB, num(a.last).toInt)
      case "multinomial_logit" =>
        // softmax regression vs the lowest level as reference (nnet's
        // convention); one row per (class_value, term)
        require(a.length >= 2, "multinomial_logit(y, x...)")
        val r = graft.ops.Multinomial.multinomialLogit(df, c(a(0)),
          a.drop(1).map(c), names = a.drop(1).map(name))
        val termNames = "(intercept)" +: a.drop(1).map(name)
        val rows = for {
          j <- 1 until r.levels.length
          m <- termNames.indices
        } yield {
          val est = r.estimates(j - 1)(m)
          val se = r.stderr(j - 1)(m)
          val (z, p) = graft.stats.Newton.wald(est, se)
          (r.levels(j), termNames(m), est, se, z, p, r.n, r.levels.length.toLong)
        }
        rows.toDF("class_value", "term", "estimate", "stderr", "z_value",
          "p_value", "n", "n_levels")
      case "ordinal_score" =>
        // per-row category probabilities + argmax class from a stored
        // proportional-odds model; last two args are the thresholds CSV
        // and the betas CSV (ordinal_logit's estimate column split at
        // the cut count)
        require(a.length >= 3,
          "ordinal_score(x..., 'thetas_csv', 'betas_csv')")
        def osCsv(lit0: String, what: String): Array[Double] =
          lit0.split(",").map { tok =>
            tok.trim.toDoubleOption.getOrElse(
              throw new IllegalArgumentException(
                s"ordinal_score: $what '$lit0' is not a comma-separated " +
                  s"number list (offending token '${tok.trim}')"))
          }
        val osTh = osCsv(str(a(a.length - 2)), "thetas_csv")
        val osB = osCsv(str(a.last), "betas_csv")
        graft.ops.Ordinal.ordinalScore(df, a.dropRight(2).map(c), osTh, osB)
      case "ordinal_logit" =>
        // proportional-odds cumulative-logit regression (polr's model
        // and sign convention); rows: cut_1..cut_{J-1} thresholds then
        // the covariates
        require(a.length >= 2, "ordinal_logit(y, x...)")
        val r = graft.ops.Ordinal.ordinalLogit(df, c(a(0)),
          a.drop(1).map(c), names = a.drop(1).map(name))
        val terms = r.terms.indices.map { j =>
          (r.terms(j), r.estimates(j), r.stderr(j), r.zValues(j),
            r.pValues(j), r.n, r.levels.length.toLong)
        }
        terms.toDF("term", "estimate", "stderr", "z_value", "p_value",
          "n", "n_levels")
      case "aft_survival" =>
        // predicted survival curve at a covariate profile from a stored
        // (or freshly fitted) AFT model; optional trailing dist literal,
        // then the last two string args are params CSV (intercept,
        // coefficients, log_scale — aft's estimate column verbatim; or
        // 'fit') and the profile CSV
        val asDist = a.lastOption.collect {
          case Literal(s: UTF8String, StringType)
              if Set("weibull", "lognormal", "loglogistic")(
                s.toString.toLowerCase) =>
            s.toString.toLowerCase
        }
        val ax = if (asDist.isDefined) a.dropRight(1) else a
        require(ax.length >= 4,
          "aft_survival(time, event, x..., 'params_csv|fit', " +
            "'profile_csv'[, 'weibull'|'lognormal'|'loglogistic'])")
        def asCsv(lit0: String, what: String): Array[Double] =
          lit0.split(",").map { tok =>
            tok.trim.toDoubleOption.getOrElse(
              throw new IllegalArgumentException(
                s"aft_survival: $what '$lit0' is not a comma-separated " +
                  s"number list (offending token '${tok.trim}')"))
          }
        val asParamsArg = str(ax(ax.length - 2))
        val asProf = asCsv(str(ax.last), "profile_csv").toSeq
        val asX = ax.slice(2, ax.length - 2).map(c)
        val asParams =
          if (asParamsArg == "fit") None
          else Some(asCsv(asParamsArg, "params_csv"))
        graft.ops.Aft.aftSurvival(df, c(ax(0)), c(ax(1)), asX, asProf,
          asParams, asDist.getOrElse("weibull"))
      case "gray_test" =>
        // Gray's K-sample test for equality of cumulative-incidence
        // functions (rho = 0), as the Fine-Gray score test at beta = 0;
        // one row per group with the shared chi2/df/p replicated
        require(a.length == 3, "gray_test(time, cause, group)")
        Survival.grayTest(df, c(a(0)), c(a(1)), c(a(2)))
      case "fine_gray_cif" =>
        // Breslow-type baseline subdistribution hazard + predicted
        // cumulative incidence at a covariate profile; last two args are
        // string literals: beta CSV (or 'fit') and the profile CSV
        require(a.length >= 5,
          "fine_gray_cif(time, cause, x..., 'beta_csv|fit', 'profile_csv')")
        def fgCsv(lit: String, what: String): Array[Double] =
          lit.split(",").map { tok =>
            tok.trim.toDoubleOption.getOrElse(throw new IllegalArgumentException(
              s"fine_gray_cif: $what '$lit' is not a comma-separated " +
                s"number list (offending token '${tok.trim}')"))
          }
        val fgBetaArg = str(a(a.length - 2))
        val fgProf = fgCsv(str(a.last), "profile_csv").toSeq
        val fgX = a.slice(2, a.length - 2).map(c)
        val fgBeta =
          if (fgBetaArg == "fit") None
          else Some(fgCsv(fgBetaArg, "beta_csv"))
        Survival.fineGrayCif(df, c(a(0)), c(a(1)), fgX, fgProf, fgBeta)
      case "cox_survival" =>
        // Breslow baseline hazard + survival at a covariate profile; the
        // last two args are string literals: beta CSV (or 'fit' to fit
        // coxPh first) and the profile CSV
        // >= 5: (time, event, at least one x, beta CSV, profile CSV) — a
        // 4-arg call would silently eat the beta/profile literals as the
        // covariate list and fail deeper with an unrelated message
        require(a.length >= 5,
          "cox_survival(time, event, x..., 'beta_csv|fit', 'profile_csv')")
        def csv(lit: String, what: String): Array[Double] =
          lit.split(",").map { tok =>
            tok.trim.toDoubleOption.getOrElse(throw new IllegalArgumentException(
              s"cox_survival: $what '$lit' is not a comma-separated " +
                s"number list (offending token '${tok.trim}')"))
          }
        val betaArg = str(a(a.length - 2))
        val prof = csv(str(a.last), "profile_csv").toSeq
        val xcols = a.slice(2, a.length - 2).map(c)
        val betaOpt =
          if (betaArg == "fit") None
          else Some(csv(betaArg, "beta_csv"))
        Survival.coxSurvival(df, c(a(0)), c(a(1)), xcols, prof, betaOpt)
      case "kaplan_meier" =>
        require(a.length >= 2, "kaplan_meier(time, event[, group])")
        if (a.length > 2) Survival.kaplanMeierBy(df, c(a(2)), c(a(0)), c(a(1)))
        else Survival.kaplanMeier(df, c(a(0)), c(a(1)))
      case "rmst" =>
        // restricted mean survival time to a horizon, Greenwood-type SE
        require(a.length >= 3, "rmst(time, event, tau[, group])")
        Survival.rmst(df, c(a(0)), c(a(1)), num(a(2)),
          group = if (a.length > 3) c(a(3))
            else org.apache.spark.sql.functions.lit("all"))
      case "rmst_diff" =>
        // hazard-ratio-free between-arm effect in time units
        require(a.length >= 4, "rmst_diff(time, event, tau, group)")
        Survival.rmstDiff(df, c(a(0)), c(a(1)), num(a(2)), c(a(3)))
      case "log_rank_test" =>
        require(a.length >= 3, "log_rank_test(group, time, event)")
        Survival.logRankTest(df, c(a(0)), c(a(1)), c(a(2)))
      case "aipw" =>
        require(a.length >= 5, "aipw(y, t, propensity, mu1, mu0[, B])")
        val est = Bootstrap.aipwEstimator(df, c(a(0)), c(a(1)), c(a(2)),
          c(a(3)), c(a(4)),
          b = if (a.length > 5) num(a(5)).toInt else 500)
        Seq((est.estimate, est.stderr, est.lower, est.upper, est.p_value))
          .toDF("estimate", "stderr", "lower", "upper", "p_value")
      case "robust_means" =>
        require(a.nonEmpty, "robust_means(x[, p_lo, p_hi])")
        Robust.robustMeans(df, c(a(0)),
          pLo = if (a.length > 1) num(a(1)) else 0.05,
          pHi = if (a.length > 2) num(a(2)) else 0.95)
      case "wasserstein" =>
        require(a.length >= 2, "wasserstein(value, treatment)")
        val w = RankTests.wasserstein1(df, c(a(0)), c(a(1)))
        Seq(Tuple1(w)).toDF("w1")
      case "psi" =>
        require(a.length >= 4, "psi(value, group, split1, split2, ...)")
        Drift.binnedDrift(df, c(a(0)), c(a(1)), a.drop(2).map(num))
      case "calibration" =>
        require(a.length >= 2, "calibration(label, score[, n_bins])")
        MlEval.calibration(df, c(a(0)), c(a(1)),
          nBins = if (a.length > 2) num(a(2)).toInt else 10)
      case "weighted_mean_ess" =>
        require(a.length >= 2, "weighted_mean_ess(x, w)")
        Robust.weightedMeanEss(df, c(a(0)), c(a(1)))
      case "qte" =>
        require(a.length >= 3, "qte(y, t, p1[, p2, ...])")
        QuantileTest.quantileTreatmentEffect(df, c(a(0)), c(a(1)),
          a.drop(2).map(num))
      case "histogram" =>
        // the data behind the reference's histplot (lib/tools.py:309-357):
        // (bin, lo, hi, count), empty bins included
        require(a.nonEmpty, "histogram(x[, bins])")
        Explore.histogram(df, c(a(0)),
          bins = if (a.length > 1) num(a(1)).toInt else 50)
      case "histogram_by" =>
        // the data behind matching_plot (dataframe/match.py:228-295):
        // per-group bin counts over GLOBAL edges, so arms overlay
        require(a.length >= 2, "histogram_by(group, x[, bins])")
        Explore.histogramBy(df, c(a(0)), c(a(1)),
          bins = if (a.length > 2) num(a(2)).toInt else 50)
      case "box_stats" =>
        // the data behind the reference's boxplot (lib/tools.py:361-430):
        // five-number summary + IQR whiskers + outlier counts. Optional
        // 'exact' selects the sort-buffer percentile (oracle parity);
        // the default is the percentile_approx sketch
        require(a.nonEmpty, "box_stats(x[, 'exact'])")
        Explore.boxStats(df, c(a(0)),
          exact = a.length > 1 && str(a(1)).equalsIgnoreCase("exact"))
      case "tfidf" =>
        // per-(doc, term) TF-IDF/BM25 scores; an optional k keeps only the
        // top-k terms per doc
        require(a.length >= 2, "tfidf(id, text[, k])")
        val scores = TfIdf.termScores(df, c(a(0)), c(a(1)))
        if (a.length > 2) TfIdf.topTerms(scores, num(a(2)).toInt) else scores
      case "perplexity" =>
        // corpus self-perplexity: trains the add-one bigram LM on the
        // FROM input and scores the same rows (the CCNet-style quality
        // pass a pipeline runs per ingestion batch)
        require(a.length >= 2, "perplexity(id, text)")
        val m = NgramLm.train(df, c(a(1)))
        NgramLm.scorePerplexity(df, c(a(0)), c(a(1)), m)
      case "incremental_dedup" =>
        // history side is a registered table/view named by a string
        // literal (the verb's FROM side is the incoming corpus batch);
        // both sides dedup on the same-named text column
        require(a.length >= 2, "incremental_dedup(text, 'history_table')")
        val history = spark.table(str(a(1)))
        Dedup.incrementalDedup(df, history, c(a(0)), c(a(0)))
      case "fuzzy_join" =>
        // record linkage: FROM side is the left table; the right side is a
        // registered table/view with the SAME id/block/key column names
        require(a.length >= 5,
          "fuzzy_join(id, block, key, 'right_table', max_dist)")
        val rt = spark.table(str(a(3)))
        Linkage.blockedFuzzyJoin(df, rt, c(a(0)), c(a(1)), c(a(2)),
          c(a(0)), c(a(1)), c(a(2)), num(a(4)).toInt)
      case "snapshot_diff" =>
        // FROM side = the OLD corpus version; the NEW version is a
        // registered table/view with the same id/text column names
        require(a.length >= 3, "snapshot_diff(id, text, 'new_table')")
        val newV = spark.table(str(a(2)))
        Dedup.snapshotDiff(df, newV, c(a(0)), c(a(0)), c(a(1)), c(a(1)))
      case "eb_shrink_means" =>
        // James-Stein-style stabilization of a many-segment mean report
        require(a.length >= 2, "eb_shrink_means(group, y)")
        Shrinkage.ebShrinkMeans(df, c(a(0)), c(a(1)))
      case "fdr_bh" =>
        // adjusted p-values as a TRANSFORM of a test table: BH (default),
        // BY (arbitrary dependence), or Holm (FWER step-down)
        require(a.nonEmpty, "fdr_bh(p_value_col[, 'bh'|'by'|'holm'])")
        MultipleTesting.adjust(df, c(a(0)),
          method = if (a.length > 1) str(a(1)) else "bh")
      case "chisq_independence" =>
        require(a.length >= 2, "chisq_independence(a, b)")
        SimpleTests.chisqIndependence(df, c(a(0)), c(a(1)))
      case "anova" =>
        // multi-variant one-way F-test (the 2-sample tests' k-arm big brother)
        require(a.length >= 2, "anova(y, arm)")
        SimpleTests.anovaF(df, c(a(0)), c(a(1)))
      case "blp_test" =>
        // CATE-model validation: BLP heterogeneity loading + ATE
        require(a.length >= 3, "blp_test(ite, y, t)")
        Uplift.blpTest(df, c(a(0)), c(a(1)), c(a(2)))
      case "cluster_robust_ols" =>
        // Liang–Zeger CR1 sandwich SEs for cluster-correlated rows
        require(a.length >= 3, "cluster_robust_ols(y, cluster, x...)")
        val r = Regression.clusterRobustOls(df, c(a(0)), a.drop(2).map(c),
          c(a(1)))
        val names = a.drop(2).map(name) :+ "(intercept)"
        names.zipWithIndex.map { case (nm, i) =>
          (nm, r.model.summary.coefficients(i), r.se(i), r.t_values(i),
            r.p_values(i), r.nClusters)
        }.toDF("term", "estimate", "se_cluster", "t_value", "p_value",
          "n_clusters")
      case "mediation" =>
        // Baron-Kenny decomposition with the Sobel indirect-effect SE
        require(a.length >= 3, "mediation(y, t, mediator)")
        Regression.mediation(df, c(a(0)), c(a(1)), c(a(2)))
      case "icc" =>
        // intraclass correlation + cluster-randomization design effect
        require(a.length >= 2, "icc(y, cluster)")
        SimpleTests.icc(df, c(a(0)), c(a(1)))
      case "interrupted_time_series" =>
        // segmented regression: level + slope change at the interruption
        require(a.length >= 3, "interrupted_time_series(y, time, at)")
        Regression.interruptedTimeSeries(df, c(a(0)), c(a(1)), num(a(2)))
      case "changepoint" =>
        // CUSUM single mean-shift locator over per-period metric cells
        require(a.length >= 2, "changepoint(period, value)")
        Drift.changepoint(df, c(a(0)), c(a(1)))
      case "weighted_ttest" =>
        // Hajek weighted means + linearization variance (design/IPW weights)
        require(a.length >= 3, "weighted_ttest(y, t, weight)")
        SimpleTests.weightedTtest(df, c(a(0)), c(a(1)), c(a(2)))
      case "gini" =>
        // Gini concentration + Lorenz deciles of a nonnegative value
        require(a.nonEmpty, "gini(value)")
        Explore.gini(df, c(a(0)))
      case "prop_test" =>
        // two-proportion score test, Wilson per-arm + Newcombe diff CIs
        require(a.length >= 2, "prop_test(success, t[, alpha])")
        SimpleTests.propTest(df, c(a(0)), c(a(1)),
          alpha = if (a.length > 2) num(a(2)) else 0.05)
      case "benford" =>
        // Benford first-digit audit: 9 cells vs log10(1+1/d)
        require(a.nonEmpty, "benford(value)")
        Explore.benford(df, c(a(0)))
      case "yuen_test" =>
        // trimmed-means robust two-sample test, winsorized-variance SE
        val aa = if (exactFlag(a)) a.dropRight(1) else a
        require(aa.length >= 2, "yuen_test(y, t[, trim][, 'exact'])")
        Robust.yuenTest(df, c(aa(0)), c(aa(1)),
          trim = if (aa.length > 2) num(aa(2)) else 0.2,
          exact = exactFlag(a))
      case "mcnemar" =>
        // paired binary marginal-shift test over discordant cells
        require(a.length >= 2, "mcnemar(a, b)")
        Agreement.mcnemar(df, c(a(0)), c(a(1)))
      case "cohens_kappa" =>
        // chance-corrected inter-annotator agreement
        require(a.length >= 2, "cohens_kappa(a, b)")
        Agreement.cohensKappa(df, c(a(0)), c(a(1)))
      case "fleiss_kappa" =>
        // multi-rater agreement over (item, category) rating rows
        require(a.length >= 2, "fleiss_kappa(item, category)")
        Agreement.fleissKappa(df, c(a(0)), c(a(1)))
      case "zipf_fit" =>
        // corpus Zipf diagnostics: slope/r2 of ln freq on ln rank
        require(a.nonEmpty, "zipf_fit(text)")
        TextOps.zipfFit(df, c(a(0)))
      case "chao1" =>
        // unseen-vocabulary estimate + Good-Turing coverage
        require(a.nonEmpty, "chao1(text)")
        TextOps.chao1(df, c(a(0)))
      case "mantel_haenszel" =>
        // stratum-adjusted common OR + CMH test
        require(a.length >= 3, "mantel_haenszel(stratum, t, y)")
        Contingency.mantelHaenszel(df, c(a(0)), c(a(1)), c(a(2)))
      case "fisher_exact" =>
        // exact 2x2 test (hypergeometric enumeration)
        require(a.length >= 2, "fisher_exact(a, b)")
        Contingency.fisherExact(df, c(a(0)), c(a(1)))
      case "ordinal_assoc" =>
        // Kendall tau-b / gamma / Somers' D over contingency cells
        require(a.length >= 2, "ordinal_assoc(x, y[, max_cells])")
        Contingency.ordinalAssoc(df, c(a(0)), c(a(1)),
          maxCells = if (a.length > 2) num(a(2)).toInt else 5000)
      case "mood_median" =>
        // k-group counts-above-pooled-median test
        val aa = if (exactFlag(a)) a.dropRight(1) else a
        require(aa.length >= 2, "mood_median(y, group[, 'exact'])")
        Contingency.moodMedian(df, c(aa(0)), c(aa(1)),
          exact = exactFlag(a))
      case "kruskal_wallis" =>
        // k-group rank test (tie-corrected H)
        require(a.length >= 2, "kruskal_wallis(y, group)")
        RankTests.kruskalWallis(df, c(a(0)), c(a(1)))
      case "brunner_munzel" =>
        // heteroskedastic two-sample rank test (P(X0 < X1) estimand)
        require(a.length >= 2, "brunner_munzel(y, t)")
        RankTests.brunnerMunzel(df, c(a(0)), c(a(1)))
      case "effect_size" =>
        // Cohen's d / Hedges' g / Glass delta / Cliff's delta
        require(a.length >= 2, "effect_size(y, t)")
        RankTests.effectSize(df, c(a(0)), c(a(1)))
      case "nelson_aalen" =>
        // cumulative hazard + Fleming-Harrington survival per group
        require(a.length >= 2, "nelson_aalen(time, event[, group])")
        Survival.nelsonAalen(df, c(a(0)), c(a(1)),
          if (a.length > 2) c(a(2))
          else org.apache.spark.sql.functions.lit("all"))
      case "cumulative_incidence" =>
        // Aalen-Johansen competing-risks incidence (cause 0 = censored)
        require(a.length >= 2, "cumulative_incidence(time, cause)")
        Survival.cumulativeIncidence(df, c(a(0)), c(a(1)))
      case "ewma" =>
        // EWMA control chart over period cells
        require(a.length >= 2, "ewma(period, value[, lambda[, L]])")
        Drift.ewmaMonitor(df, c(a(0)), c(a(1)),
          lambda = if (a.length > 2) num(a(2)) else 0.2,
          l = if (a.length > 3) num(a(3)) else 3.0)
      case "ljung_box" =>
        // white-noise test: autocorrelations + cumulative Q per lag
        require(a.length >= 2, "ljung_box(period, value[, lags])")
        Drift.ljungBox(df, c(a(0)), c(a(1)),
          lags = if (a.length > 2) num(a(2)).toInt else 10)
      case "acf_pacf" =>
        // Box-Jenkins order identification: ACF + Durbin-Levinson PACF
        // per lag with the white-noise band
        require(a.length >= 2, "acf_pacf(period, value[, lags])")
        Drift.acfPacf(df, c(a(0)), c(a(1)),
          lags = if (a.length > 2) num(a(2)).toInt else 10)
      case "vif" =>
        // multicollinearity diagnostic: variance inflation factors over
        // the covariate correlation matrix
        require(a.length >= 2, "vif(x1, x2, ...)")
        Regression.vif(df, a.map(c), a.map(name))
      case "sprt" =>
        // classic Wald SPRT for a Bernoulli rate, sticky decision
        require(a.length >= 4, "sprt(bucket, y, p0, p1[, alpha[, beta]])")
        Sequential.sprt(df, c(a(0)), c(a(1)), num(a(2)), num(a(3)),
          alpha = if (a.length > 4) num(a(4)) else 0.05,
          beta = if (a.length > 5) num(a(5)) else 0.2)
      case "hosmer_lemeshow" =>
        // decile-binned calibration goodness-of-fit test
        val aa = if (exactFlag(a)) a.dropRight(1) else a
        require(aa.length >= 2,
          "hosmer_lemeshow(label, score[, bins][, 'exact'])")
        MlEval.hosmerLemeshow(df, c(aa(0)), c(aa(1)),
          bins = if (aa.length > 2) num(aa(2)).toInt else 10,
          exact = exactFlag(a))
      case "classification_report" =>
        // confusion counts + accuracy/precision/recall/F1/MCC
        require(a.length >= 2, "classification_report(label, predicted)")
        MlEval.classificationReport(df, c(a(0)), c(a(1)))
      case "cronbach_alpha" =>
        // internal-consistency reliability of a k-item scale
        require(a.length >= 2, "cronbach_alpha(item1, item2, ...)")
        Agreement.cronbachAlpha(df, a.map(c))
      case "oaxaca_blinder" =>
        // two-group mean-gap decomposition (group-0 reference)
        require(a.length >= 3, "oaxaca_blinder(y, group, x...)")
        Regression.oaxacaBlinder(df, c(a(0)), c(a(1)), a.drop(2).map(c))
      case "kmeans" =>
        // distributed Lloyd's over the full corpus, deterministic init
        require(a.length >= 3, "kmeans(id, vec, k[, iters])")
        Ann.kmeans(df, c(a(0)), c(a(1)), num(a(2)).toInt,
          iters = if (a.length > 3) num(a(3)).toInt else 5)
      case "dunn_test" =>
        // post-hoc pairwise z tests on the pooled KW ranks, BH-adjusted
        require(a.length >= 2, "dunn_test(y, group)")
        RankTests.dunnTest(df, c(a(0)), c(a(1)))
      case "ks_uniform" =>
        // p-value table calibration audit vs Uniform(0,1)
        require(a.nonEmpty, "ks_uniform(p)")
        RankTests.ksUniform(df, c(a(0)))
      case "theil_sen" =>
        // robust pairwise-median trend line (guarded O(n²) pairs)
        require(a.length >= 2, "theil_sen(x, y[, max_rows])")
        Regression.theilSen(df, c(a(0)), c(a(1)),
          maxRows = if (a.length > 2) num(a(2)).toLong else 20000L)
      case "cochran_q" =>
        // k matched binary treatments on the same blocks
        require(a.length >= 3, "cochran_q(block, treatment, y)")
        Agreement.cochranQ(df, c(a(0)), c(a(1)), c(a(2)))
      case "durbin_watson" =>
        // lag-1 dependence scalar over period cells
        require(a.length >= 2, "durbin_watson(period, value)")
        Drift.durbinWatson(df, c(a(0)), c(a(1)))
      case "ngram_novelty" =>
        // new-content share vs a reference corpus (same text column name)
        require(a.length >= 2, "ngram_novelty(text, 'ref_table'[, n])")
        val ref = spark.table(str(a(1)))
        TextOps.ngramNovelty(df, ref, c(a(0)), c(a(0)),
          n = if (a.length > 2) num(a(2)).toInt else 3)
      case "friedman" =>
        // k matched treatments on the same blocks, within-block ranks
        require(a.length >= 3, "friedman(block, treatment, y)")
        RankTests.friedmanTest(df, c(a(0)), c(a(1)), c(a(2)))
      case "welch_anova" =>
        // heteroskedastic k-group mean test (Welch 1951)
        require(a.length >= 2, "welch_anova(y, arm)")
        SimpleTests.welchAnova(df, c(a(0)), c(a(1)))
      case "partial_corr" =>
        // correlation of (x, y) net of the controls, via the precision
        // matrix of the full correlation matrix — one Gram pass
        require(a.length >= 3, "partial_corr(x, y, z1[, z2, ...])")
        MlEval.partialCorr(df, c(a(0)), c(a(1)), a.drop(2).map(c))
      case "kendall_tau" =>
        // tie-corrected ordinal association over (x, y) cells
        require(a.length >= 2, "kendall_tau(x, y[, max_cells])")
        Agreement.kendallTau(df, c(a(0)), c(a(1)),
          maxCells = if (a.length > 2) num(a(2)).toInt else 100000)
      case "ad_uniform" =>
        // tail-weighted uniformity statistic over scores in (0, 1)
        require(a.nonEmpty, "ad_uniform(p)")
        RankTests.adUniform(df, c(a(0)))
      case "page_hinkley" =>
        // sequential mean-increase detector over period cells
        require(a.length >= 3,
          "page_hinkley(period, value, lambda[, delta])")
        Drift.pageHinkley(df, c(a(0)), c(a(1)), lambda = num(a(2)),
          delta = if (a.length > 3) num(a(3)) else 0.0)
      case "hellinger" =>
        // bounded binned distance (+ Bhattacharyya coefficient)
        require(a.length >= 4, "hellinger(value, group, split1, split2, ...)")
        Drift.hellinger(df, c(a(0)), c(a(1)), a.drop(2).map(num))
      case "fleming_harrington" =>
        // G^{rho,gamma}-weighted log-rank (late/early-difference tests)
        require(a.length >= 5,
          "fleming_harrington(group, time, event, rho, gamma)")
        Survival.flemingHarrington(df, c(a(0)), c(a(1)), c(a(2)),
          rho = num(a(3)), gamma = num(a(4)))
      case "bowker_test" =>
        // k-category symmetry of paired labels (k=2 == McNemar)
        require(a.length >= 2, "bowker_test(a, b)")
        Agreement.bowkerTest(df, c(a(0)), c(a(1)))
      case "lin_ccc" =>
        // concordance (identity-line agreement), not mere correlation
        require(a.length >= 2, "lin_ccc(x, y)")
        Agreement.linCcc(df, c(a(0)), c(a(1)))
      case "brier_decomposition" =>
        // proper-score calibration split over discrete forecast cells
        require(a.length >= 2,
          "brier_decomposition(label, forecast[, max_forecasts])")
        MlEval.brierDecomposition(df, c(a(0)), c(a(1)),
          maxForecasts = if (a.length > 2) num(a(2)).toLong else 10000L)
      case "ndcg" =>
        // per-query graded ranking quality at k
        require(a.length >= 4, "ndcg(query, item, score, rel[, k])")
        MlEval.ndcg(df, c(a(0)), c(a(1)), c(a(2)), c(a(3)),
          k = if (a.length > 4) num(a(4)).toInt else 10)
      case "mann_kendall" =>
        // nonparametric monotone-trend significance over period cells
        require(a.length >= 2, "mann_kendall(period, value[, max_periods])")
        Drift.mannKendall(df, c(a(0)), c(a(1)),
          maxPeriods = if (a.length > 2) num(a(2)).toInt else 10000)
      case "distinct_n" =>
        // generation-diversity: distinct/total n-grams per n
        require(a.nonEmpty, "distinct_n(text[, n1, n2, ...])")
        TextOps.distinctN(df, c(a(0)),
          ns = if (a.length > 1) a.drop(1).map(num(_).toInt).toSeq
               else Seq(1, 2, 3))
      case "poisson_reg" =>
        // count-outcome GLM (log link) with Pearson-dispersion readout
        require(a.length >= 2, "poisson_reg(y, x...)")
        MlWrappers.poissonSummaryDf(df, c(a(0)), a.drop(1).map(c),
          a.drop(1).map(name))
      case "gamma_reg" =>
        // positive-continuous GLM (log link, Var = phi*mu^2): revenue /
        // latency / LTV outcomes; exp(beta) reads as a mean ratio
        require(a.length >= 2, "gamma_reg(y, x...)")
        MlWrappers.gammaSummaryDf(df, c(a(0)), a.drop(1).map(c),
          a.drop(1).map(name))
      case "cox_zph" =>
        // PH-assumption score test on the Schoenfeld residuals
        require(a.length >= 3, "cox_zph(time, event, x...)")
        Survival.coxZph(df, c(a(0)), c(a(1)), a.drop(2).map(c),
          a.drop(2).map(name))
      case "weighted_kappa" =>
        // ordinal chance-corrected agreement (quadratic|linear weights)
        require(a.length >= 2,
          "weighted_kappa(a, b[, 'quadratic'|'linear'])")
        Agreement.weightedKappa(df, c(a(0)), c(a(1)),
          weighting = if (a.length > 2) str(a(2)) else "quadratic")
      case "isotonic_calibrate" =>
        // monotone score -> P(label) map (pool-adjacent-violators)
        require(a.length >= 2, "isotonic_calibrate(score, label[, max_cells])")
        MlEval.isotonicCalibrate(df, c(a(0)), c(a(1)),
          maxCells = if (a.length > 2) num(a(2)).toInt else 100000)
      case "isotonic_score" =>
        // calibrate-then-score: fit on a registered train table (same
        // score/label column names — the snapshot_diff convention), apply
        // the step function to the FROM side's score column
        require(a.length >= 3,
          "isotonic_score(score, label, 'train_table'[, max_cells])")
        val train = spark.table(str(a(2)))
        MlEval.isotonicScore(train, c(a(0)), c(a(1)), df, c(a(0)),
          maxCells = if (a.length > 3) num(a(3)).toInt else 100000)
      case "platt_score" =>
        // parametric calibrate-then-score (isotonic_score's signature):
        // fit sigma(a + b*score) on the registered train table, apply
        // to the FROM side's score column as one codegen sigmoid
        require(a.length >= 3, "platt_score(score, label, 'train_table')")
        MlEval.plattScore(spark.table(str(a(2))), c(a(0)), c(a(1)),
          df, c(a(0)))
      case "neg_bin_reg" =>
        // overdispersed-count GLM (NB2): Poisson pilot -> moment alpha
        // -> weighted IRLS
        require(a.length >= 2, "neg_bin_reg(y, x...)")
        MlWrappers.negBinSummaryDf(df, c(a(0)), a.drop(1).map(c),
          a.drop(1).map(name))
      case "c_index" =>
        // Harrell's concordance of a survival risk score
        require(a.length >= 3, "c_index(time, event, score[, max_cells])")
        Survival.concordanceIndex(df, c(a(0)), c(a(1)), c(a(2)),
          maxCells = if (a.length > 3) num(a(3)).toInt else 1000000)
      case "krippendorff" =>
        // ragged-coverage inter-annotator agreement (nominal)
        require(a.length >= 2, "krippendorff(unit, value)")
        Agreement.krippendorffAlpha(df, c(a(0)), c(a(1)))
      case "retrieval_eval" =>
        // binary-relevance MRR / recall@k / precision@k / hit-rate@k
        require(a.length >= 4, "retrieval_eval(query, item, score, rel[, k])")
        MlEval.retrievalEval(df, c(a(0)), c(a(1)), c(a(2)), c(a(3)),
          k = if (a.length > 4) num(a(4)).toInt else 10)
      case "dagostino_k2" =>
        // finite-sample-calibrated omnibus normality (z_skew² + z_kurt²)
        require(a.nonEmpty, "dagostino_k2(x)")
        SimpleTests.dagostinoK2(df, c(a(0)))
      case "win_ratio" =>
        // hierarchical composite-endpoint pairwise comparison
        require(a.length >= 2, "win_ratio(treatment, outcome1[, outcome2, ...])")
        SimpleTests.winRatio(df, c(a(0)), a.drop(1).map(c))
      case "pagerank" =>
        // power-iteration centrality over the verb's input as edge table
        require(a.length >= 2, "pagerank(src, dst[, damping[, iterations]])")
        Graph.pageRank(df, c(a(0)), c(a(1)),
          damping = if (a.length > 2) num(a(2)) else 0.85,
          iterations = if (a.length > 3) num(a(3)).toInt else 10)
      case "adf_test" =>
        // unit-root stationarity gate over period cells
        require(a.length >= 2, "adf_test(period, value[, lags])")
        Regression.adfTest(df, c(a(0)), c(a(1)),
          lags = if (a.length > 2) num(a(2)).toInt else 1)
      case "mmr" =>
        // diversity-aware greedy top-k over a retriever's candidates
        require(a.length >= 4,
          "mmr(id, vec, rel, k[, lambda[, max_candidates]])")
        Ann.mmrSelect(df, c(a(0)), c(a(1)), c(a(2)), num(a(3)).toInt,
          lambda = if (a.length > 4) num(a(4)) else 0.5,
          maxCandidates = if (a.length > 5) num(a(5)).toInt else 1000)
      case "chow_test" =>
        // structural break: did the regression change between regimes
        require(a.length >= 3, "chow_test(y, group, x...)")
        Regression.chowTest(df, c(a(0)), a.drop(2).map(c), c(a(1)))
      case "breusch_pagan" =>
        // residual-variance-vs-covariates heteroskedasticity LM test
        require(a.length >= 2, "breusch_pagan(y, x...)")
        Regression.breuschPagan(df, c(a(0)), a.drop(1).map(c))
      case "k_anonymity" =>
        // privacy audit: min equivalence-class size over quasi-ids
        require(a.length >= 2, "k_anonymity(k, quasi_id...)")
        Explore.kAnonymity(df, a.drop(1).map(c), num(a(0)).toInt)
      case "mmd_rff" =>
        // embedding-distribution two-sample MMD, linear-time RFF form
        require(a.length >= 2, "mmd_rff(group, vec[, features[, gamma]])")
        Drift.mmdRff(df, c(a(0)), c(a(1)),
          features = if (a.length > 2) num(a(2)).toInt else 32,
          gamma = if (a.length > 3) num(a(3)) else 0.015625)
      case "cochran_armitage" =>
        // ALIAS of trend_test (SURVEY #106 = #180: the identical
        // statistic) — delegates to trendTest's distributed path with
        // dose-response column names; note the argument order swap
        require(a.length >= 2, "cochran_armitage(dose, y)")
        Contingency.cochranArmitage(df, c(a(0)), c(a(1)))
      case "auc_ci" =>
        // DeLong AUC variance / CI / test against 0.5
        require(a.length >= 2, "auc_ci(label, score[, alpha])")
        MlEval.aucCi(df, c(a(0)), c(a(1)),
          alpha = if (a.length > 2) num(a(2)) else 0.05)
      case "g_test" =>
        // log-likelihood-ratio independence (the collocation G-square)
        require(a.length >= 2, "g_test(a, b[, max_cells])")
        SimpleTests.gTest(df, c(a(0)), c(a(1)),
          maxCells = if (a.length > 2) num(a(2)).toInt else 100000)
      case "ope" =>
        // off-policy IPS/SNIPS(/DR) value of a target policy on logs
        require(a.length >= 3,
          "ope(reward, p_target, p_logging[, qhat[, clip]])")
        PolicyEval.opeEval(df, c(a(0)), c(a(1)), c(a(2)),
          qhat = if (a.length > 3) Some(c(a(3))) else None,
          wClip = if (a.length > 4) num(a(4))
            else Double.PositiveInfinity)
      case "flesch" =>
        // per-doc readability + corpus summary
        require(a.nonEmpty, "flesch(text)")
        val F = org.apache.spark.sql.functions
        val fre = TextOps.fleschReadingEase(c(a(0)))
        df.agg(F.count(F.lit(1)).as("n_docs"),
          F.avg(fre).as("avg_fre"),
          F.min(fre).as("min_fre"), F.max(fre).as("max_fre"))
      case "jarque_bera" =>
        // moment-based normality check (skew + excess kurtosis)
        require(a.nonEmpty, "jarque_bera(x)")
        SimpleTests.jarqueBera(df, c(a(0)))
      case "vocab_drift" =>
        // token-distribution JS divergence vs a reference corpus
        require(a.length >= 2, "vocab_drift(text, 'ref_table')")
        TextOps.vocabDrift(df, spark.table(str(a(1))), c(a(0)), c(a(0)))
      case "embedding_drift" =>
        // per-label centroid shift vs a reference snapshot
        require(a.length >= 3, "embedding_drift(label, vec, 'ref_table')")
        Drift.embeddingDrift(df, spark.table(str(a(2))), c(a(0)), c(a(1)),
          c(a(0)), c(a(1)))
      case "semantic_dedup" =>
        // kmeans buckets (each vector probes its top-p centroids) ->
        // within-bucket cosine near-dup -> min-id rep, or max-RANK rep
        // when the optional 8th arg names a rank/authority column
        require(a.length >= 3,
          "semantic_dedup(id, embedding, k[, threshold[, iters[, max_bucket[, probes[, rank]]]]])")
        Dedup.semanticDedup(df, c(a(0)), c(a(1)), num(a(2)).toInt,
          threshold = if (a.length > 3) num(a(3)) else 0.95,
          iters = if (a.length > 4) num(a(4)).toInt else 3,
          maxBucket = if (a.length > 5) num(a(5)).toInt else 2000,
          probes = if (a.length > 6) num(a(6)).toInt else 2,
          rank = if (a.length > 7) Some(c(a(7))) else None)
      case "bpe_token_count" =>
        // tokenizer-true byte-fallback BPE counts against a merge table
        // (rank, left, right); per-group summary (one global row when no
        // group column is given)
        require(a.length >= 2,
          "bpe_token_count(text, 'merges_table'[, group])")
        val mt = spark.table(str(a(1)))
        val merges = TextOps.bpeMergesFrom(mt, mt.col("rank"),
          mt.col("left"), mt.col("right"))
        val F = org.apache.spark.sql.functions
        val bpe = TextOps.bpeTokenCount(c(a(0)), merges)
        val aggs = Seq(F.count(F.lit(1)).as("n_docs"),
          F.sum(bpe).as("bpe_tokens"),
          F.sum(TextOps.wsTokenCount(c(a(0))).cast("long")).as("ws_tokens"))
        if (a.length > 2)
          df.groupBy(c(a(2)).as("group")).agg(aggs.head, aggs.tail: _*)
            .orderBy(F.col("group"))
        else df.agg(aggs.head, aggs.tail: _*)
      case "binomial_test" =>
        // exact one-sample rate test (minimum-likelihood two-sided)
        require(a.length >= 2, "binomial_test(y, p0)")
        SimpleTests.binomialTest(df, c(a(0)), num(a(1)))
      case "runs_test" =>
        // Wald-Wolfowitz randomness-around-the-median over period cells
        require(a.length >= 2, "runs_test(period, value)")
        Drift.runsTest(df, c(a(0)), c(a(1)))
      case "grubbs_test" =>
        // single-outlier significance for the most extreme value
        require(a.nonEmpty, "grubbs_test(x)")
        Robust.grubbsTest(df, c(a(0)))
      case "mad_outliers" =>
        // Hampel MAD fence: robust outlier share + kept range
        val aa = if (exactFlag(a)) a.dropRight(1) else a
        require(aa.nonEmpty, "mad_outliers(x[, k][, 'exact'])")
        Robust.madOutliers(df, c(aa(0)),
          k = if (aa.length > 1) num(aa(1)) else 3.0,
          exact = exactFlag(a))
      case "seasonal_strength" =>
        // variance share of the phase-mean seasonal component
        require(a.length >= 3, "seasonal_strength(period, value, season)")
        Drift.seasonalStrength(df, c(a(0)), c(a(1)), num(a(2)).toInt)
      case "cluster_power" =>
        // cluster-randomized power at delta via the icc design effect
        require(a.length >= 3, "cluster_power(y, cluster, delta[, alpha])")
        SimpleTests.clusterPower(df, c(a(0)), c(a(1)), num(a(2)),
          alpha = if (a.length > 3) num(a(3)) else 0.05)
      case "overlap" =>
        // propensity positivity/common-support diagnostic
        require(a.length >= 2, "overlap(t, score[, bins])")
        Matching.overlap(df, c(a(0)), c(a(1)),
          bins = if (a.length > 2) num(a(2)).toInt else 20)
      case "heaps_fit" =>
        // vocabulary-growth curve fit V(N) = k N^beta over doc order
        require(a.length >= 2, "heaps_fit(id, text)")
        TextOps.heapsFit(df, c(a(0)), c(a(1)))
      case "kmeans_eval" =>
        // cluster purity + NMI against a label column
        require(a.length >= 4, "kmeans_eval(id, vec, label, k[, iters])")
        Ann.kmeansEval(df, c(a(0)), c(a(1)), c(a(2)), num(a(3)).toInt,
          iters = if (a.length > 4) num(a(4)).toInt else 5)
      case "logrank_power" =>
        // Schoenfeld events/power planning at a named hazard ratio
        require(a.length >= 3, "logrank_power(event, t, hr[, alpha])")
        Survival.logRankPower(df, c(a(0)), c(a(1)), num(a(2)),
          alpha = if (a.length > 3) num(a(3)) else 0.05)
      case "rdd_bandwidth" =>
        // Imbens-Lemieux rule-of-thumb pilot bandwidth for rdd_sharp/fuzzy
        require(a.length >= 2, "rdd_bandwidth(y, running)")
        Regression.rddBandwidth(df, c(a(0)), c(a(1)))
      case "mutual_info" =>
        // categorical dependence screen: MI + NMI over observed cells
        require(a.length >= 2, "mutual_info(a, b)")
        SimpleTests.mutualInfo(df, c(a(0)), c(a(1)))
      case "bland_altman" =>
        // continuous method agreement: bias + limits of agreement
        require(a.length >= 2, "bland_altman(a, b)")
        Agreement.blandAltman(df, c(a(0)), c(a(1)))
      case "trend_test" =>
        // Cochran-Armitage ordered-dose trend in a binary rate
        require(a.length >= 2, "trend_test(success, score)")
        SimpleTests.trendTest(df, c(a(0)), c(a(1)))
      case "spearman" =>
        // rank correlation with average-rank ties, Fisher-z inference
        require(a.length >= 2, "spearman(x, y)")
        RankTests.spearman(df, c(a(0)), c(a(1)))
      case "levene" =>
        // Brown-Forsythe equal-variance test (median-centered)
        val aa = if (exactFlag(a)) a.dropRight(1) else a
        require(aa.length >= 2, "levene(y, arm[, 'exact'])")
        SimpleTests.leveneTest(df, c(aa(0)), c(aa(1)),
          exact = exactFlag(a))
      case "bartlett" =>
        // parametric equal-variance test; disagreement with levene is
        // itself a normality diagnostic
        require(a.length >= 2, "bartlett(y, arm)")
        SimpleTests.bartlettTest(df, c(a(0)), c(a(1)))
      case "breslow_day" =>
        // homogeneity of per-stratum odds ratios (the CMH assumption),
        // with the Tarone correction
        require(a.length >= 3, "breslow_day(stratum, t, y)")
        Contingency.breslowDay(df, c(a(0)), c(a(1)), c(a(2)))
      case "design_effect" =>
        // Kish design effect + effective sample size of a weight column
        require(a.length >= 1, "design_effect(w[, group])")
        SimpleTests.designEffect(df, c(a(0)),
          group = if (a.length > 1) Some(c(a(1))) else None)
      case "equivalence_test" =>
        // TOST: both one-sided Welch z tests against the +/- margin
        require(a.length >= 3, "equivalence_test(y, t, margin[, alpha])")
        SimpleTests.equivalenceTest(df, c(a(0)), c(a(1)), num(a(2)),
          alpha = if (a.length > 3) num(a(3)) else 0.05)
      case "rate_ratio" =>
        // Poisson rate ratio with exposure offsets, log-scale delta CI
        require(a.length >= 2, "rate_ratio(events, t[, exposure[, alpha]])")
        SimpleTests.rateRatioTest(df, c(a(0)), c(a(1)),
          exposure = if (a.length > 2) c(a(2))
            else org.apache.spark.sql.functions.lit(1.0),
          alpha = if (a.length > 3) num(a(3)) else 0.05)
      case "rdd_sharp" =>
        // sharp regression discontinuity: local-linear jump at the cutoff,
        // HC0 sandwich SEs (the rdrobust "conventional" readout)
        require(a.length >= 4,
          "rdd_sharp(y, running, cutoff, bandwidth[, 'triangular'|'uniform'])")
        Regression.rddSharp(df, c(a(0)), c(a(1)), num(a(2)), num(a(3)),
          kernel = if (a.length > 4) str(a(4)) else "triangular")
      case "rdd_fuzzy" =>
        // fuzzy RDD: local Wald ratio of the outcome jump over the
        // take-up jump, delta-method SE with the HC0 cross-covariance
        require(a.length >= 5,
          "rdd_fuzzy(y, takeup, running, cutoff, bandwidth[, 'kernel'])")
        Regression.rddFuzzy(df, c(a(0)), c(a(1)), c(a(2)), num(a(3)),
          num(a(4)), kernel = if (a.length > 5) str(a(5)) else "triangular")
      case "msprt" =>
        // always-valid sequential test over cumulative time buckets
        require(a.length >= 3, "msprt(bucket, y, t[, tau])")
        Sequential.msprt(df, c(a(0)), c(a(1)), c(a(2)),
          tau = if (a.length > 3) num(a(3)) else 1.0)
      case "bayes_ab" =>
        // beta-binomial posterior readout, exact exceedance probability
        require(a.length >= 2, "bayes_ab(t, success[, alpha0[, beta0]])")
        Bayes.betaBinomial(df, c(a(0)), c(a(1)),
          priorAlpha = if (a.length > 2) num(a(2)) else 1.0,
          priorBeta = if (a.length > 3) num(a(3)) else 1.0)
      case "bayes_best_arm" =>
        // K-arm Thompson weights + expected loss (deterministic Simpson
        // quadrature over the Beta posteriors — no Monte Carlo)
        require(a.length >= 2,
          "bayes_best_arm(arm, success[, alpha0[, beta0]])")
        Bayes.bestArm(df, c(a(0)), c(a(1)),
          priorAlpha = if (a.length > 2) num(a(2)) else 1.0,
          priorBeta = if (a.length > 3) num(a(3)) else 1.0)
      case "stratified_ate" =>
        // post-stratification / blocked difference-in-means estimator
        require(a.length >= 3, "stratified_ate(y, t, stratum)")
        SimpleTests.stratifiedAte(df, c(a(0)), c(a(1)), c(a(2)))
      case "metric_anomaly" =>
        // seasonal z-score monitor over per-period metric cells
        require(a.length >= 3,
          "metric_anomaly(period, value, season[, min_history[, z_thresh]])")
        Drift.metricAnomaly(df, c(a(0)), c(a(1)), num(a(2)).toInt,
          minHistory = if (a.length > 3) num(a(3)).toInt else 3,
          zThresh = if (a.length > 4) num(a(4)) else 3.0)
      case "jackknife_ratio" =>
        // delete-one-bucket jackknife for sum(num)/sum(den)
        require(a.length >= 3, "jackknife_ratio(bucket, num, den[, alpha])")
        Jackknife.ratio(df, c(a(0)), c(a(1)), c(a(2)),
          alpha = if (a.length > 3) num(a(3)) else 0.05)
      case "jackknife_ratio_diff" =>
        // two-sample ratio-difference variant over shared buckets
        require(a.length >= 4,
          "jackknife_ratio_diff(bucket, num, den, t[, alpha])")
        Jackknife.ratioDiff(df, c(a(0)), c(a(1)), c(a(2)), c(a(3)),
          alpha = if (a.length > 4) num(a(4)) else 0.05)
      case "srm_sequential" =>
        // anytime-valid SRM: Dirichlet-multinomial e-process over looks;
        // every numeric after the arm column is a null ratio (alpha0 = 1)
        require(a.length >= 4,
          "srm_sequential(bucket, arm, r0, r1[, ...])")
        Sequential.srmSequential(df, c(a(0)), c(a(1)), a.drop(2).map(num))
      case "msprt_by" =>
        // one always-valid trajectory PER experiment — the platform shape
        require(a.length >= 4, "msprt_by(experiment, bucket, y, t[, tau])")
        Sequential.msprtBy(df, c(a(0)), c(a(1)), c(a(2)), c(a(3)),
          tau = if (a.length > 4) num(a(4)) else 1.0)
      case "image_dhash" =>
        // perceptual 64-bit hash per image row; feed hamming_pairs for
        // near-dup candidates (SQL reach for the multimodal dedup tier)
        require(a.length >= 2, "image_dhash(id, content)")
        Multimodal.imageDHash(df.select(c(a(0)).as("id"), c(a(1)).as("content")))
      case "audio_fingerprint" =>
        require(a.length >= 2, "audio_fingerprint(id, content)")
        Multimodal.audioFingerprint(
          df.select(c(a(0)).as("id"), c(a(1)).as("content")))
      case "video_metadata" =>
        // ISO-BMFF container walk: duration/dims/codec WITHOUT decoding —
        // the predicate tier a video pipeline filters on before any codec
        require(a.length >= 2, "video_metadata(id, content)")
        Multimodal.videoMetadata(
          df.select(c(a(0)).as("id"), c(a(1)).as("content")))
      case "hamming_pairs" =>
        // near-dup candidate pairs over ANY precomputed 64-bit hash column
        require(a.length >= 2, "hamming_pairs(id, hash[, max_hamming])")
        Dedup.hammingPairs(df, c(a(0)), c(a(1)),
          maxHamming = if (a.length > 2) num(a(2)).toInt else 3)
      case "ratio_mde" =>
        // pre-experiment planning for a ratio metric (delta-method MDE)
        require(a.length >= 2, "ratio_mde(num, den[, target_rel_lift])")
        SimpleTests.ratioMde(df, c(a(0)), c(a(1)),
          targetRelLift = if (a.length > 2) num(a(2)) else 0.01)
      case "synth_control" =>
        // comparative case study: simplex-weighted donor pool fit on the
        // pre-period path, per-period treated-vs-synthetic gap out
        require(a.length >= 5,
          "synth_control(unit, period, y, 'treated_unit', pre_end)")
        SynthControl.synthControl(df, c(a(0)), c(a(1)), c(a(2)),
          str(a(3)), num(a(4))).path
      case "synth_did" =>
        // synthetic difference-in-differences: simplex unit AND time
        // weights (ridge-regularized, intercept profiled out) around a
        // weighted two-way DID; jackknife SE over >= 2 treated units,
        // in-space placebo SE for a single one
        require(a.length >= 5,
          "synth_did(unit, period, y, treated01, pre_end)")
        SynthControl.synthDid(df, c(a(0)), c(a(1)), c(a(2)), c(a(3)),
          num(a(4)))
      case "synth_placebo" =>
        // in-space placebo inference for synth_control (ADH 2010 §2.2):
        // every donor refit as pseudo-treated, treated post/pre RMSE
        // ratio ranked against the placebo distribution
        require(a.length >= 5,
          "synth_placebo(unit, period, y, 'treated_unit', pre_end)")
        SynthControl.placeboTest(df, c(a(0)), c(a(1)), c(a(2)),
          str(a(3)), num(a(4)))
      case "profile_diff" =>
        // release audit: schema + shape diff vs a registered table/view
        require(a.nonEmpty, "profile_diff('new_table'[, 'exact'])")
        Explore.profileDiff(df, spark.table(str(a(0))),
          exactDistinct = a.length > 1 &&
            str(a(1)).equalsIgnoreCase("exact"))
      case "e_value" =>
        // VanderWeele-Ding robustness number for observational estimates
        require(a.length >= 2, "e_value(y, t[, alpha])")
        SimpleTests.eValue(df, c(a(0)), c(a(1)),
          alpha = if (a.length > 2) num(a(2)) else 0.05)
      case "funnel" =>
        // ordered funnel: leading columns, step-name string literals,
        // trailing numeric window (same unit as ts)
        require(a.length >= 6,
          "funnel(user, ts, event, 'step1', 'step2'[, ...], window)")
        Funnel.funnel(df, c(a(0)), c(a(1)), c(a(2)),
          a.drop(3).dropRight(1).map(str), num(a.last))
      case "retention" =>
        require(a.length >= 3, "retention(user, ts, bucket_len)")
        Funnel.retentionMatrix(df, c(a(0)), c(a(1)), num(a(2)))
      case "weighted_sample" =>
        // weighted sample WITHOUT replacement, k rows per stratum (A-ES
        // keys; u01 must be a deterministic hash-uniform so the sample
        // replays). Materialized INSIDE the callback: the cap machinery's
        // per-call persist does not outlive the verb, and a live plan
        // escaping it would recompute row_number over the unpersisted
        // range exchange on every downstream action — not guaranteed to
        // reselect the same rows under order-key ties. The checkpoint is
        // registered for the query-boundary release.
        require(a.length >= 4,
          "weighted_sample(stratum, weight, u01, k)")
        Mixing.weightedSample(df, c(a(0)), c(a(1)), c(a(2)),
          num(a(3)).toLong)(s => graft.Ckpt.register(s.localCheckpoint()))
      case "top_k" =>
        // heavy hitters over ANY-cardinality column (bounded sketch state)
        require(a.nonEmpty, "top_k(col[, k[, max_tracked]])")
        Explore.topK(df, c(a(0)),
          k = if (a.length > 1) num(a(1)).toInt else 10,
          maxTracked = if (a.length > 2) num(a(2)).toInt else 10000)
      case "event_study" =>
        // staggered-adoption group-time ATT (Callaway-Sant'Anna,
        // never-treated comparison) — did()'s many-cohort big brother.
        // 4-arg form leads with the unit id and adds exact standard
        // errors from unit-level base deltas (se/lower/upper columns).
        require(a.length >= 3,
          "event_study([unit, ]first_treat, period, y)")
        if (a.length >= 4)
          EventStudy.groupTimeAtt(df, c(a(1)), c(a(2)), c(a(3)),
            unit = Some(c(a(0))))
        else EventStudy.groupTimeAtt(df, c(a(0)), c(a(1)), c(a(2)))
      case "event_study_curve" =>
        // the event-time aggregation of event_study (the plot's data)
        require(a.length >= 3,
          "event_study_curve([unit, ]first_treat, period, y)")
        if (a.length >= 4)
          EventStudy.eventTimeCurve(df, c(a(1)), c(a(2)), c(a(3)),
            unit = Some(c(a(0))))
        else EventStudy.eventTimeCurve(df, c(a(0)), c(a(1)), c(a(2)))
      case "group_sequential" =>
        // classical K-look interim analysis: Lan-DeMets alpha-spending
        // boundaries (obf | pocock) against per-look cumulative z
        require(a.length >= 3,
          "group_sequential(bucket, y, t[, alpha[, 'spending']])")
        Sequential.groupSequentialTest(df, c(a(0)), c(a(1)), c(a(2)),
          alpha = if (a.length > 3) num(a(3)) else 0.05,
          spending = if (a.length > 4) str(a(4)) else "obf")
      case "chunk_documents" =>
        // sliding-window RAG/pretraining chunker: (doc_id, chunk_ix,
        // chunk_text, n_tokens), pure codegen, no shuffle
        require(a.length >= 3, "chunk_documents(id, text, chunk_size[, overlap])")
        TextOps.chunkDocuments(df, c(a(0)), c(a(1)), num(a(2)).toInt,
          overlap = if (a.length > 3) num(a(3)).toInt else 0)
      case "conformal_interval" =>
        // split-conformal band as a transform: adds fit/lower/upper to
        // every input row; trailing numeric literal = alpha
        require(a.length >= 3, "conformal_interval(y, is_cal, x...[, alpha])")
        val (featA, optA) = a.drop(2).span(!_.isInstanceOf[Literal])
        require(featA.nonEmpty,
          "conformal_interval needs at least one feature column before alpha")
        val alpha = optA.headOption.map(num).getOrElse(0.1)
        val (m, q, _) = Regression.conformalOls(df, c(a(0)), featA.map(c),
          c(a(1)), alpha)
        val band = Regression.conformalBand(m, featA.map(c), q)
        df.withColumn("fit", band.getField("fit"))
          .withColumn("lower", band.getField("lower"))
          .withColumn("upper", band.getField("upper"))
      case "did" =>
        // DIDParser.java:40-43: y ~ treatment + time + treatment·time [+ x…]
        require(a.length >= 3, "did(y, treatment, time[, x...])")
        val m = Regression.did(df, c(a(0)), c(a(1)), c(a(2)), a.drop(3).map(c))
        val s = m.summary
        val names = Seq("treatment", "time", "treatment:time") ++
          a.drop(3).map(name) :+ "(intercept)"
        names.zipWithIndex.map { case (nm, i) =>
          (nm, s.coefficients(i), s.stderr(i), s.t_values(i), s.p_values(i))
        }.toDF("term", "estimate", "stderr", "t_value", "p_value")
      case "nonparam_dml" =>
        require(a.length >= 3, "nonparam_dml(y, t, x...)")
        val m = Dml.nonParamDml(df, c(a(0)), c(a(1)), a.drop(2).map(c))
        Seq((m.ate, m.ateStderr, m.atePValue)).toDF("ate", "stderr", "p_value")
      case "mann_whitney_utest" | "mann_whitney_u_test" =>
        // top-level SQL auto-routes to RankTests — tie cells collapsed to
        // the driver under its bound, range-partitioned past it — where the
        // O(distinct)-state histogram aggregate (still used for grouped /
        // nested calls via the function registry) OOMs on all-distinct
        // continuous columns at scale; this path never does
        require(a.length >= 2, "mann_whitney_utest(y, t[, alternative])")
        val r = RankTests.mannWhitneyU(df, c(a(0)), c(a(1)),
          alternative = if (a.length > 2) str(a(2)) else "two-sided")
        Seq((r.u_statistic, r.p_value)).toDF("u_statistic", "p_value")
      case "kolmogorov_smirnov_test" =>
        require(a.length >= 2, "kolmogorov_smirnov_test(y, t[, alternative[, method]])")
        val r = RankTests.ksTest(df, c(a(0)), c(a(1)),
          alternative = if (a.length > 2) str(a(2)) else "two-sided",
          method = if (a.length > 3) str(a(3)) else "auto")
        Seq((r.d_statistic, r.p_value)).toDF("d_statistic", "p_value")
      case "quantile_test_bucket" =>
        require(a.length >= 4, "quantile_test_bucket(y, t, bucket, p1[, p2...])")
        QuantileTest.quantileTestWithBuckets(df, c(a(0)), c(a(1)), c(a(2)),
          a.drop(3).map(num))
      case "causal_forest" =>
        // the reference trains forests through gateway-orchestrated loops
        // over the causal_forest aggregate state (query lifecycle entry C);
        // here the verb IS that loop. Trailing NUMERIC LITERALS are options
        // in (num_trees, max_depth, min_node_size) order; every non-literal
        // arg after y and t is a feature column. Returns the reference's
        // variable-importance summary, one row per feature.
        require(a.length >= 3, "causal_forest(y, t, x...[, num_trees, max_depth, min_node_size])")
        val (featA, optA) = a.drop(2).span(!_.isInstanceOf[Literal])
        require(featA.nonEmpty,
          "causal_forest needs at least one feature column before the numeric options")
        val opts = optA.map(num)
        val m = CausalForest.fit(df, c(a(0)), c(a(1)),
          featA.map(e => name(e) -> c(e)),
          numTrees = opts.headOption.fold(20)(_.toInt),
          maxDepth = opts.lift(1).fold(4)(_.toInt),
          minNodeSize = opts.lift(2).fold(50L)(_.toLong))
        featA.map(name).zip(m.variableImportance).toSeq.toDF("term", "importance")
      case "causal_tree" =>
        // same option convention; returns the per-leaf hypothesis-test
        // table (leaf, n, effect, stderr, t, p, path)
        require(a.length >= 3, "causal_tree(y, t, x...[, max_depth, min_node_size])")
        val (featA, optA) = a.drop(2).span(!_.isInstanceOf[Literal])
        require(featA.nonEmpty,
          "causal_tree needs at least one feature column before the numeric options")
        val opts = optA.map(num)
        CausalTree.fit(df, c(a(0)), c(a(1)),
          featA.map(e => name(e) -> c(e)),
          maxDepth = opts.headOption.fold(4)(_.toInt),
          minNodeSize = opts.lift(1).fold(100L)(_.toLong))
          .leafTests(spark)
      case other => throw new IllegalArgumentException(s"unknown verb $other")
    }
  }
}
