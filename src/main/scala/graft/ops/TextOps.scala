package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, language ID, quality scoring, document fingerprinting. All are
  * pure column expressions (whole-stage codegen, no UDFs) so they run at
  * scan speed over 100 TB of documents — the scan is the only cost, filters
  * on the derived columns push into the same stage.
  */
object TextOps {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: runs of letters, runs of digits, and single
    * non-space symbols each count as one token — a deterministic proxy for
    * subword tokenizer counts (≈ GPT-2 pre-tokenizer word splitting). */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]"), lit(0)))

  /** Characters per token — a cheap fertility proxy. */
  def charsPerToken(text: Column): Column =
    length(text).cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  /** Tokenizer-true byte-fallback BPE token count over a broadcast merge
    * list — the production budget unit ([[wsTokenCount]] drifts 30-40% vs
    * a real tokenizer on code/CJK). Pure codegen
    * ([[graft.expr.BpeCodec]]); the merge list is validated well-formed
    * and size-guarded (the NgramLm maxBroadcastVocab idiom). */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)],
                    maxMerges: Int = 200000): Column = {
    require(merges.length <= maxMerges,
      s"bpe_token_count: ${merges.length} merges exceed maxMerges=" +
        s"$maxMerges — the merge list ships with the plan to every task; " +
        "raise the cap only if the serialized size is acceptable")
    graft.expr.BpeExprs.tokenCount(text, new graft.expr.BpeCodec(merges))
  }

  /** Collect a merge table (rank, left, right) into the rank-ordered
    * merge list [[bpeTokenCount]] wants. */
  def bpeMergesFrom(df: DataFrame, rank: Column, left: Column, right: Column,
                    maxMerges: Int = 200000): Seq[(String, String)] = {
    val rows = graft.stats.LocalCollapse.within(df.select(
        rank.cast("long").as("r"), left.cast("string").as("l"),
        right.cast("string").as("t")).orderBy(col("r")), maxMerges)(
      s"bpe_merges: more than $maxMerges merges — raise maxMerges if the " +
        "plan-shipped size is acceptable")
    rows.toSeq.map(r => (r.getString(1), r.getString(2)))
  }

  /** How a mixing/packing op turns its token column into a COUNT — the
    * `tokenizer` argument of [[Mixing.tokenBudgetSample]] and
    * [[Packing.contextChunks]]. */
  sealed trait Tokenizer { def counts(c: Column): Column }
  /** The column already IS a count (chars, precomputed tokens) — default. */
  case object PrecomputedCounts extends Tokenizer {
    def counts(c: Column): Column = c.cast("long")
  }
  /** The column is raw text; count whitespace tokens. */
  case object WhitespaceTokens extends Tokenizer {
    def counts(c: Column): Column = wsTokenCount(c).cast("long")
  }
  /** The column is raw text; count true BPE tokens against `merges` —
    * the tokenizer-true 100 TB budget path. */
  final case class BpeTokens(merges: Seq[(String, String)]) extends Tokenizer {
    def counts(c: Column): Column = bpeTokenCount(c, merges)
  }

  // ---------------------------------------------------------------- language ID

  /** Stopword lists for the n-gram/stopword language heuristic. Tiny on
    * purpose: they ride into codegen as literals. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "as"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pour", "dans", "une", "que", "des"),
    "es" -> Seq("el", "la", "los", "las", "es", "para", "con", "una", "que", "por"))

  /** Script detection by Unicode-range character share. */
  def scriptShare(text: Column, rangeRegex: String): Column =
    (length(text) - length(regexp_replace(text, rangeRegex, ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Language ID: CJK/Cyrillic/Arabic by script share, latin languages by
    * stopword hit rate; "und" (undetermined) when nothing scores. */
  def langId(text: Column): Column = {
    val lower = lowerCase(text)
    val tokens = split(lower, "[^\\p{L}]+")
    def hits(lang: String): Column = {
      val sw = stopwords(lang)
      size(array_intersect(array_distinct(tokens), array(sw.map(lit): _*))) +
        sw.map(w => when(array_contains(tokens, w), 1).otherwise(0)).reduce(_ + _)
    }
    val scored = stopwords.keys.toSeq.sorted.map(l => struct(hits(l).as("score"), lit(l).as("lang")))
    val best = array_max(array(scored: _*))
    when(scriptShare(text, "[\\p{script=Han}]") > 0.2, "zh")
      .when(scriptShare(text, "[\\p{script=Hiragana}\\p{script=Katakana}]") > 0.2, "ja")
      .when(scriptShare(text, "[\\p{script=Hangul}]") > 0.2, "ko")
      .when(scriptShare(text, "[\\p{script=Cyrillic}]") > 0.2, "ru")
      .when(scriptShare(text, "[\\p{script=Arabic}]") > 0.2, "ar")
      .when(best.getField("score") >= 2, best.getField("lang"))
      .otherwise("und")
  }

  private def lowerCase(c: Column): Column = lower(c)

  // ---------------------------------------------------------------- quality

  /** Punctuation share of all characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Uppercase share of letters. */
  def upperRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Lu}]", ""))).cast("double") /
      greatest(length(regexp_replace(text, "[^\\p{L}]", "")), lit(1)).cast("double")

  /** English-stopword share of tokens (a fluency proxy; C4/Gopher-style). */
  def stopwordRatio(text: Column): Column = {
    val tokens = split(lower(text), "[^\\p{L}]+")
    val sw = stopwords("en")
    sw.map(w => size(filter(tokens, t => t === w))).reduce(_ + _).cast("double") /
      greatest(size(tokens), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1] — Gopher-rule-style gates expressed as
    * soft multiplicative penalties: reasonable length, low punctuation noise,
    * some stopwords, sane mean word length. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lenOk = when(n.between(50, 100000), 1.0)
      .when(n.between(10, 49), 0.5).otherwise(0.1)
    val punctOk = when(punctRatio(text) < 0.2, 1.0).otherwise(0.3)
    val swOk = when(stopwordRatio(text) > 0.05, 1.0).otherwise(0.5)
    val cpt = charsPerToken(text)
    val wordLenOk = when(cpt.between(2.0, 12.0), 1.0).otherwise(0.4)
    round(lenOk * punctOk * swOk * wordLenOk, 6)
  }

  /** Flesch reading ease (Flesch 1948) as pure column arithmetic — the
    * classical readability member of the quality family (training-mix
    * pipelines bucket corpora by it; extreme scores flag OCR junk and
    * boilerplate):
    *
    *   FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    *
    * with the DOCUMENTED deterministic proxies: words = whitespace
    * tokens, sentences = [.!?]+ runs (min 1), syllables = vowel-group
    * count [aeiouyAEIOUY]+ per word (min 1 per word — the standard cheap
    * heuristic; scores are comparable WITHIN a corpus, not clinical).
    * Every term is a codegen'd regexp count, exactly replayable in SQL.
    * Unbounded FRE is clamped to [-200, 121.22] (its no-text maximum) so
    * degenerate one-word docs don't dominate corpus averages. */
  def fleschReadingEase(text: Column): Column = {
    val words = greatest(wsTokenCount(text), lit(1)).cast("double")
    val sentences = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
      .cast("double")
    // vowel groups across the doc; the greatest with the word count
    // gives every no-vowel word its minimum 1 syllable in aggregate
    val vowelGroups = regexp_count(text, lit("[aeiouyAEIOUY]+"))
      .cast("double")
    val syllables = greatest(vowelGroups, words)
    val fre = lit(206.835) - lit(1.015) * (words / sentences) -
      lit(84.6) * (syllables / words)
    least(greatest(fre, lit(-200.0)), lit(121.22))
  }

  /** Distinct-n diversity (Li et al. 2016's distinct-1/2 generalized) —
    * the generation-diversity readout for synthetic/model-written
    * corpora: distinct n-grams over TOTAL n-gram occurrences, per n. A
    * mode-collapsed or templated corpus scores low long before a human
    * reads it; natural text sits high for n ≥ 2.
    *
    * N-grams are lowercased whitespace-word windows (the [[shingles]]
    * convention WITHOUT the per-doc distinct — totals count occurrences);
    * docs shorter than n contribute nothing at that n.
    *
    * 100 TB shape: per n, ONE explode + count/count-distinct aggregate
    * (two token-keyed exchanges); gram cardinality unbounded, output is
    * |ns| rows: (n, total_ngrams, distinct_ngrams, distinct_ratio). */
  def distinctN(df: DataFrame, text: Column,
                ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(ns.nonEmpty && ns.forall(_ >= 1),
      s"distinct_n: ns must all be >= 1, got $ns")
    // dedupe: a repeated n would stack its gram column twice and the
    // groupBy(n) merge would double total_ngrams / halve distinct_ratio
    val nsD = ns.distinct
    // Gram construction stays NATIVE-codegen end to end: posexplode the
    // token array once, then per-doc window leads + concat_ws + stack.
    // (The obvious transform/slice/array_join array comprehension is a
    // higher-order-function chain that drops to interpreted eval — ~30 µs
    // per gram, 16 s on the 5k-doc gate corpus; this shape is 1 s.)
    // countDistinct by the |ns|-value key would also funnel every gram
    // through |ns| reducer tasks — the explicit (n, gram) -> n two-stage
    // keeps both exchanges wide with map-side partials.
    val w = split(regexp_replace(lower(text), "^\\s+|\\s+$", ""), "\\s+")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc")).orderBy(col("__p"))
    val maxN = nsD.max
    // the doc id must bind BEFORE the generator — inside the same select
    // it would re-evaluate per exploded token and break the leads
    val toks = df.filter(text.isNotNull)
      .select(monotonically_increasing_id().as("__doc"), w.as("__ws"))
      .select(col("__doc"), posexplode(col("__ws")).as(Seq("__p", "__w")))
      .filter(length(col("__w")) > 0)
    val withLeads = (1 until maxN).foldLeft(toks) { (d, i) =>
      d.withColumn(s"__w$i", lead(col("__w"), i).over(win))
    }
    val gramCols = nsD.map { n =>
      val parts = col("__w") +: (1 until n).map(i => col(s"__w$i"))
      val gram = concat_ws(" ", parts: _*)
      if (n == 1) gram.as(s"__g$n")
      else when(col(s"__w${n - 1}").isNotNull, gram).as(s"__g$n")
    }
    val stacked = withLeads.select(gramCols: _*)
      .select(expr(s"stack(${nsD.length}, " +
        nsD.map(n => s"$n, __g$n").mkString(", ") + ") AS (n, g)"))
      .filter(col("g").isNotNull)
    val counts = stacked
      .groupBy(col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("n"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("d"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = nsD.map { n =>
      val (t, d) = counts.getOrElse(n, (0L, 0L))
      (n, t, d, if (t > 0) d.toDouble / t else 0.0)
    }
    rows.toDF("n", "total_ngrams", "distinct_ngrams", "distinct_ratio")
      .orderBy(col("n"))
  }

  // ---------------------------------------------------------------- repetition

  /** Corpus vocabulary: token → occurrence count over lowercased
    * whitespace tokens (the tokenizer-training / vocab-coverage primitive).
    * ONE exchange keyed by token with map-side partial aggregation, so
    * Zipf-head tokens arrive at their reducer as one row per upstream
    * partition, not one per occurrence — no salting needed at any corpus
    * size. */
  def vocabulary(df: DataFrame, text: Column): DataFrame =
    df.select(explode(split(lower(text), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))

  /** Zipf-law fit over the corpus vocabulary (Zipf 1949; a corpus-level
    * quality diagnostic — natural text fits ln f = a + s·ln r with
    * s ≈ −1, while templated/synthetic/boilerplate-heavy corpora bend
    * away from the line, so (slope, r²) screens a crawl slice before it
    * enters a training mix):
    *
    *   rank terms by frequency desc, OLS of ln(freq) on ln(rank)
    *
    * 100 TB shape: [[vocabulary]]'s token cells, the two-phase
    * distributed row number for ranks (ties ordered by token — tied
    * counts swap ranks only within equal-frequency groups, so the fit is
    * deterministic), ONE closing moment aggregate; vocabulary
    * cardinality unbounded, nothing collected. Everything replays in
    * plain SQL. Returns one row: (terms, total_tokens, slope, intercept,
    * r2) — r2 = 1 exactly when every frequency is equal (the flat fit is
    * exact). */
  def zipfFit(df: DataFrame, text: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = vocabulary(df, text)
    RangeCumSum.withRowNumber(vocab,
      Seq(col("n").desc, col("token").asc), "__rank") { (ranked, m) =>
      require(m >= 10, s"zipf_fit: need at least 10 distinct tokens, got $m")
      val lx = log(col("__rank").cast("double"))
      val ly = log(col("n").cast("double"))
      val r = ranked.agg(sum(col("n")).as("tot"), sum(lx).as("sx"),
        sum(ly).as("sy"), sum(lx * ly).as("sxy"), sum(lx * lx).as("sxx"),
        sum(ly * ly).as("syy")).head()
      val md = m.toDouble
      def g(c: String): Double = r.getAs[Double](c)
      val cxx = g("sxx") - g("sx") * g("sx") / md
      val cyy = g("syy") - g("sy") * g("sy") / md
      val cxy = g("sxy") - g("sx") * g("sy") / md
      // relative threshold, not > 0: an exactly-flat frequency profile
      // leaves ~1e-15 of accumulation dust in cyy, and r² must read 1
      // (the flat fit is exact), not dust/dust
      val flat = cyy <= 1e-12 * math.max(1.0, g("syy"))
      val slope = if (flat) 0.0 else cxy / cxx
      val intercept = (g("sy") - slope * g("sx")) / md
      val r2 = if (flat) 1.0 else slope * slope * cxx / cyy
      Seq((m, r.getAs[Long]("tot"), slope, intercept, r2))
        .toDF("terms", "total_tokens", "slope", "intercept", "r2")
    }
  }

  /** Chao1 vocabulary-richness estimate + Good-Turing coverage (Chao
    * 1984; Good 1953) — "how much vocabulary has this corpus slice NOT
    * shown yet": the unseen-species estimate that tells a data-mixing
    * pipeline whether another crawl shard still adds lexical diversity
    * or only repeats the head.
    *
    *   chao1 = D + f₁(f₁−1)/(2(f₂+1))   (bias-corrected form, defined
    *                                      even when no token occurs twice)
    *   coverage = 1 − f₁/N              (Good-Turing sample coverage)
    *
    * 100 TB shape: [[vocabulary]]'s ONE token-keyed exchange, then ONE
    * cell aggregate over the frequency spectrum — vocabulary cardinality
    * unbounded, nothing collected. Everything replays in two-level SQL.
    * Returns one row: (terms, total_tokens, f1, f2, chao1, coverage). */
  def chao1(df: DataFrame, text: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val r = vocabulary(df, text).agg(
      count(lit(1)).as("terms"), sum(col("n")).as("tot"),
      sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2")).head()
    val terms = r.getAs[Long]("terms")
    require(terms > 0, "chao1: the corpus has no tokens")
    val (f1, f2) = (r.getAs[Long]("f1"), r.getAs[Long]("f2"))
    val chao = terms + f1.toDouble * (f1 - 1) / (2.0 * (f2 + 1))
    val cov = 1.0 - f1.toDouble / r.getAs[Long]("tot")
    Seq((terms, r.getAs[Long]("tot"), f1, f2, chao, cov))
      .toDF("terms", "total_tokens", "f1", "f2", "chao1", "coverage")
  }

  /** Heaps-law vocabulary-growth fit (Heaps 1978) — V(N) ≈ k·N^β over a
    * DETERMINISTIC corpus order (the caller's id column): where
    * [[zipfFit]] reads the frequency profile and [[chao1]] the unseen
    * mass, this fits the growth CURVE — β well below the natural-text
    * ~0.4-0.6 band means the next shard mostly repeats the head.
    *
    * Construction (all cell-scale after one token pass): each token's
    * FIRST document (min doc rank), so V(r) = cumulative count of first
    * occurrences and N(r) = cumulative token count over doc ranks; OLS
    * of ln V on ln N across the per-doc curve points.
    *
    * 100 TB shape: ONE token-keyed exchange (min-combiner) + the doc
    * frame's distributed row number; both cumulative sums ride
    * [[RangeCumSum]] over DOC cells; ONE closing moment aggregate.
    * Everything replays in windowed SQL. Returns one row:
    * (docs, terms, total_tokens, beta, k, r2). */
  def heapsFit(df: DataFrame, id: Column, text: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(id.isNotNull && text.isNotNull)
      .select(id.cast("long").as("__id"), text.as("__t"))
    val tok = base.select(col("__id"),
        explode(split(lower(col("__t")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    // per-doc cells: token count + count of tokens FIRST seen here
    val perDoc = tok.groupBy(col("__id")).agg(count(lit(1)).as("nt"))
    val firsts = tok.groupBy(col("token")).agg(min(col("__id")).as("fid"))
      .groupBy(col("fid")).agg(count(lit(1)).as("nv"))
    val cells = perDoc.join(firsts, perDoc("__id") === firsts("fid"), "left")
      .select(col("__id"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
    RangeCumSum.withCumSums(cells, Seq(col("__id")), Seq("nt", "nv")) {
      (cum, totals) =>
        val lx = log(col("cum_nt").cast("double"))
        val ly = log(col("cum_nv").cast("double"))
        val r = cum.agg(count(lit(1)).as("m"), sum(lx).as("sx"),
          sum(ly).as("sy"), sum(lx * ly).as("sxy"), sum(lx * lx).as("sxx"),
          sum(ly * ly).as("syy")).head()
        val docs = r.getAs[Long]("m")
        require(docs >= 10, s"heaps_fit: need at least 10 documents, got $docs")
        val md = docs.toDouble
        def g(c: String): Double = r.getAs[Double](c)
        val cxx = g("sxx") - g("sx") * g("sx") / md
        val cyy = g("syy") - g("sy") * g("sy") / md
        val cxy = g("sxy") - g("sx") * g("sy") / md
        require(cxx > 0, "heaps_fit: every document has the same cumulative " +
          "token count — the corpus order is degenerate")
        val flat = cyy <= 1e-12 * math.max(1.0, g("syy"))
        val beta = if (flat) 0.0 else cxy / cxx
        val lnk = (g("sy") - beta * g("sx")) / md
        val r2 = if (flat) 1.0 else beta * beta * cxx / cyy
        Seq((docs, totals("nv").toLong, totals("nt").toLong, beta,
            math.exp(lnk), r2))
          .toDF("docs", "terms", "total_tokens", "beta", "k", "r2")
    }
  }

  /** Gopher-style hard quality gates (Rae et al. 2021, appendix A1
    * subset): token-count bounds, mean-word-length bounds, duplicate-line
    * and top-bigram repetition caps, minimum stopword share. Unlike
    * [[qualityScore]]'s soft multiplicative score, this is the FILTER a
    * pipeline actually applies: keep/drop plus the FIRST failing rule by
    * name, so drop reasons aggregate into a per-rule loss report. */
  case class GopherRules(minTokens: Long = 50, maxTokens: Long = 100000,
                         minMeanWordLen: Double = 3.0,
                         maxMeanWordLen: Double = 10.0,
                         maxDupLineRatio: Double = 0.3,
                         maxTopBigramShare: Double = 0.2,
                         minStopwordRatio: Double = 0.0)

  /** struct(keep boolean, reason string-or-null) as a pure column
    * expression — zero shuffle, evaluates in the scan's codegen stage.
    * Rules check in declaration order; `reason` is the first failure.
    * A rule whose threshold is VACUOUS (a ratio cap at/above 1, a floor
    * at/below 0) is dropped from the plan entirely, so its signal is never
    * computed — the repetition signals (dupLineRatio, topNgramShare) and
    * the stopword scan cost far more than the length gates, and a filter
    * that doesn't gate on them must not pay for them (measured: vacuous
    * caps left in the plan made the filter ~20× slower per scan). */
  def gopherFilter(text: Column,
                   rules: GopherRules = GopherRules()): Column = {
    val n = wsTokenCount(text)
    val meanWordLen = length(regexp_replace(text, "\\s", "")).cast("double") /
      greatest(n, lit(1)).cast("double")
    val checks: Seq[(String, Column)] =
      Seq("too_few_tokens" -> (n >= rules.minTokens),
          "too_many_tokens" -> (n <= rules.maxTokens)) ++
      (if (rules.minMeanWordLen > 0)
         Seq("mean_word_len_low" -> (meanWordLen >= rules.minMeanWordLen)) else Nil) ++
      (if (rules.maxMeanWordLen < Double.MaxValue)
         Seq("mean_word_len_high" -> (meanWordLen <= rules.maxMeanWordLen)) else Nil) ++
      (if (rules.maxDupLineRatio < 1.0)
         Seq("dup_lines" -> (dupLineRatio(text) <= rules.maxDupLineRatio)) else Nil) ++
      (if (rules.maxTopBigramShare < 1.0)
         Seq("top_bigram_share" ->
           (topNgramShare(text, 2) <= rules.maxTopBigramShare)) else Nil) ++
      (if (rules.minStopwordRatio > 0.0)
         Seq("few_stopwords" -> (stopwordRatio(text) >= rules.minStopwordRatio)) else Nil)
    val reason = checks.foldRight(lit(null).cast("string")) {
      case ((nm, ok), acc) => when(!ok, lit(nm)).otherwise(acc)
    }
    struct(reason.isNull.as("keep"), reason.as("reason"))
  }

  /** Share of tokens that are repeats of an earlier token:
    * 1 − distinct/total. 0 = all unique, →1 = one token repeated. */
  def dupTokenRatio(text: Column): Column = {
    val w = split(regexp_replace(lower(text), "^\\s+|\\s+$", ""), "\\s+")
    lit(1.0) - size(array_distinct(w)).cast("double") /
      greatest(size(w), lit(1)).cast("double")
  }

  /** Share of (newline-separated) lines that duplicate an earlier line —
    * the Gopher repetition gate for boilerplate-heavy pages. */
  def dupLineRatio(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => length(l) > 0)
    lit(1.0) - size(array_distinct(lines)).cast("double") /
      greatest(size(lines), lit(1)).cast("double")
  }

  /** Share of the document's word n-grams taken by its single most frequent
    * n-gram (Gopher's "fraction in most common n-gram", token-denominated).
    * Zero-shuffle: builds the n-gram array, sorts it, and finds the longest
    * equal run with one `aggregate` fold — per-row O(m log m) inside
    * whole-stage codegen, no explode/groupBy round trip. */
  def topNgramShare(text: Column, n: Int): Column = {
    val w = split(regexp_replace(lower(text), "^\\s+|\\s+$", ""), "\\s+")
    val grams = when(size(w) < n, array(array_join(w, " ")))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " ")))
    val best = aggregate(array_sort(grams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    best.cast("double") / greatest(size(grams), lit(1)).cast("double")
  }

  // ---------------------------------------------------------------- PII

  /** Regexes kept to the common Java/RE2 subset so the same pattern runs in
    * Spark (Java regex) and in RE2-based engines (DuckDB oracle, actual
    * scrubbing jobs elsewhere): character classes and bounded repeats only,
    * no lookaround, no backrefs. */
  val emailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRegex = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val phoneRegex = "\\+[0-9][0-9\\- ]{6,}[0-9]"

  private def countRe(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  def emailCount(text: Column): Column = countRe(text, emailRegex)
  def ipCount(text: Column): Column = countRe(text, ipRegex)
  def phoneCount(text: Column): Column = countRe(text, phoneRegex)

  /** Redact emails, IPv4 addresses and +international phone numbers with
    * typed placeholders — order matters (emails can embed digit runs; IPs
    * would otherwise be half-eaten by the phone pattern). Pure codegen'd
    * `regexp_replace` chain: scrubbing 100 TB costs exactly one scan. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRegex, "<EMAIL>"),
        ipRegex, "<IP>"),
      phoneRegex, "<PHONE>")

  // ---------------------------------------------------------------- fingerprints

  /** Exact-content fingerprint after whitespace/case normalization. */
  def contentFingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word n-gram shingles (distinct), the input to minhash/Jaccard. */
  /** Winnowing fingerprints (rolling-hash document fingerprinting, the
    * MOSS scheme): distinct window-minimum Karp-Rabin k-gram hashes over
    * the normalized text. Two documents sharing any run of
    * ≥ w + k − 1 characters share a fingerprint; overlap of the
    * fingerprint SETS estimates containment. One fused codegen pass
    * ([[graft.expr.HashExprs.winnowFingerprints]]). */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.expr.HashExprs.winnowFingerprints(
      regexp_replace(lower(trim(text)), "\\s+", " "), k, w)

  /** Jaccard similarity of two winnowing fingerprint sets. */
  def winnowSimilarity(a: Column, b: Column, k: Int = 8, w: Int = 4): Column = {
    val fa = winnowFingerprints(a, k, w); val fb = winnowFingerprints(b, k, w)
    size(array_intersect(fa, fb)).cast("double") /
      greatest(size(array_union(fa, fb)), lit(1)).cast("double")
  }

  def shingles(text: Column, n: Int): Column = {
    // regexp-strip the edges: Spark trim() removes only ASCII spaces, so a
    // leading tab/newline would survive and split() would emit an empty
    // leading token, shifting every shingle (and diverging from the fused
    // byte kernel, which skips all whitespace runs)
    val w = split(regexp_replace(lower(text), "^\\s+|\\s+$", ""), "\\s+")
    when(size(w) < n, array_distinct(array(array_join(w, " "))))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(w) - n),
          i => array_join(slice(w, i + 1, lit(n)), " "))))
  }

  /** Cross-snapshot n-gram novelty — "how much NEW content does this
    * corpus slice add over the reference corpus": the shard-admission
    * readout beside [[chao1]] (unseen mass within ONE corpus) and
    * [[heapsFit]] (growth along one corpus's own order). Per-document
    * DISTINCT word n-grams on both sides ([[shingles]]);
    *
    *   novelty_distinct = |grams(cur) \ grams(ref)| / |grams(cur)|,
    *   novelty_weighted = the same ratio over per-doc-distinct
    *                      OCCURRENCES (head-gram repeats count)
    *
    * 100 TB shape: one gram-keyed exchange per side (map-side combined)
    * + ONE shuffle anti join on the gram key — the snapshot-diff shape;
    * gram cardinality unbounded, nothing collected but the output row.
    * Returns one row: (ngrams_current, ngrams_new, novelty_distinct,
    * occurrences_current, occurrences_new, novelty_weighted). */
  def ngramNovelty(cur: DataFrame, ref: DataFrame, curText: Column,
                   refText: Column, n: Int = 3): DataFrame = {
    require(n >= 1, s"ngram_novelty: n must be >= 1, got $n")
    // FAST PATH (guide §2.3 "shuffle keys instead of payloads"): encode
    // each per-doc-distinct gram as a fused (h1, h2, len) composite key
    // (no gram string is ever materialized — the kernel hashes the
    // space-joined bytes in place), union both sides with a side tag, and
    // close every count in ONE gram-keyed exchange (the string path below
    // costs two string-keyed exchanges + an anti-join shuffle, each
    // carrying the gram text). Counting by (h1, len) is exact unless two
    // DISTINCT grams share (h1, len) — audited in the same aggregate via
    // the independent h2 witness (min ≠ max flags it); a flagged run
    // recomputes on exact strings, so a collision can only cost time,
    // never change the counts. Undetectable needs the same h1 AND h2 AND
    // byte length on two distinct grams (~2^-128 per pair).
    def keys(df: DataFrame, text: Column, side: Int): DataFrame = df
      .filter(text.isNotNull)
      .select(explode(graft.expr.HashExprs.shingleKeys(lower(text), n)).as("k"))
      .select(col("k.h1").as("h1"), col("k.len").as("len"),
        col("k.h2").as("h2"), lit(side).as("side"))
    val keyed = keys(cur, curText, 1).unionAll(keys(ref, refText, 0))
    noveltyOnKeys(keyed).getOrElse(
      ngramNoveltyExact(cur, ref, curText, refText, n))
  }

  /** The collision-audited count closure over a (h1, len, h2, side)
    * key frame: None when any (h1, len) group carries two h2 witnesses
    * (a detected h1 collision between distinct grams — caller must
    * recompute on exact strings), Some(result row) otherwise. Factored
    * out so the collision branch is unit-testable with crafted keys. */
  private[ops] def noveltyOnKeys(keyed: DataFrame): Option[DataFrame] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val byKey = keyed.groupBy(col("h1"), col("len")).agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("oc"),
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("orf"),
      min(col("h2")).as("mn"), max(col("h2")).as("mx"))
    val r = byKey.agg(
      sum(when(col("oc") > 0, 1L).otherwise(0L)).as("d"),
      sum(when(col("oc") > 0, col("oc")).otherwise(0L)).as("o"),
      sum(when(col("oc") > 0 && col("orf") === 0, 1L).otherwise(0L)).as("dn"),
      sum(when(col("oc") > 0 && col("orf") === 0, col("oc")).otherwise(0L)).as("on"),
      sum(when(col("mn") =!= col("mx"), 1L).otherwise(0L)).as("coll")).head()
    if (!r.isNullAt(r.fieldIndex("coll")) && r.getAs[Long]("coll") > 0) None
    else {
      val d = if (r.isNullAt(r.fieldIndex("d"))) 0L else r.getAs[Long]("d")
      require(d > 0, "ngram_novelty: the current corpus has no n-grams")
      val o = r.getAs[Long]("o")
      val dn = r.getAs[Long]("dn"); val on = r.getAs[Long]("on")
      Some(Seq((d, dn, dn.toDouble / d, o, on, on.toDouble / o))
        .toDF("ngrams_current", "ngrams_new", "novelty_distinct",
          "occurrences_current", "occurrences_new", "novelty_weighted"))
    }
  }

  /** The exact-string path (the pre-encoding implementation): two
    * gram-keyed exchanges + one anti join on the gram text. Authoritative
    * on a detected hash collision; spec-pinned equal to the fast path. */
  private[ops] def ngramNoveltyExact(cur: DataFrame, ref: DataFrame,
                                     curText: Column, refText: Column,
                                     n: Int): DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    def grams(df: DataFrame, text: Column): DataFrame = df
      .filter(text.isNotNull)
      .select(explode(shingles(text, n)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val curG = grams(cur, curText)
    val refG = grams(ref, refText).select(col("g"))
    curG.persist()
    try {
      val tot = curG.agg(count(lit(1)).as("d"), sum(col("c")).as("o")).head()
      val newG = curG.join(refG, Seq("g"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("d"),
          coalesce(sum(col("c")), lit(0L)).as("o")).head()
      val d = tot.getAs[Long]("d")
      require(d > 0, "ngram_novelty: the current corpus has no n-grams")
      val o = tot.getAs[Long]("o")
      Seq((d, newG.getAs[Long]("d"),
          newG.getAs[Long]("d").toDouble / d,
          o, newG.getAs[Long]("o"),
          newG.getAs[Long]("o").toDouble / o))
        .toDF("ngrams_current", "ngrams_new", "novelty_distinct",
          "occurrences_current", "occurrences_new", "novelty_weighted")
    } finally { curG.unpersist(); () }
  }

  /** SimHash-64 over token hashes: bit b of the fingerprint is the sign of
    * Σ_tokens (±1 depending on bit b of xxhash64(token)). One fused pass
    * over the token array per row ([[graft.expr.HashOps.simHash64]]) — the
    * 64-separate-folds composition costs 64× more array traversals. */
  def simHash(text: Column): Column =
    graft.expr.HashExprs.simHash64(split(lower(trim(text)), "\\s+"))

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact word-n-gram Jaccard similarity between two texts. */
  def ngramJaccard(a: Column, b: Column, n: Int = 1): Column = {
    val sa = shingles(a, n); val sb = shingles(b, n)
    size(array_intersect(sa, sb)).cast("double") /
      greatest(size(array_union(sa, sb)), lit(1)).cast("double")
  }

  /** Sliding-window document chunking — the RAG / pretraining splitter:
    * each doc's whitespace token stream becomes overlapping chunks of
    * `chunkSize` tokens starting every `chunkSize − overlap` tokens, so
    * every token lands in at least one chunk and consecutive chunks share
    * `overlap` tokens (the final chunk may be shorter). Beyond the
    * reference (its pipeline has no chunker; [[graft.ops.Packing]] packs
    * docs INTO fixed context windows — this splits docs themselves).
    *
    * 100 TB shape: pure column expressions — tokenize, compute the start
    * offsets with `sequence`, slice each chunk out of the one token
    * array, explode. No shuffle, no state; the scan's codegen stage does
    * everything. Docs with no tokens produce no chunks.
    *
    * Returns (doc_id, chunk_ix, chunk_text, n_tokens). */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, id: Column,
                     text: Column, chunkSize: Int,
                     overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    val toks = filter(split(text, "\\s+"), t => length(t) > 0)
    val n = size(col("__toks"))
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    df.select(id.as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(starts).as("__start"))
      .select(col("doc_id"),
        (col("__start") / stride).cast("int").as("chunk_ix"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkSize)),
          " ").as("chunk_text"),
        least(n - col("__start"), lit(chunkSize)).cast("int").as("n_tokens"))
  }
  /** Cross-corpus vocabulary drift — Jensen-Shannon divergence (and L1 /
    * total-variation x2) between the TOKEN DISTRIBUTIONS of the current
    * corpus and a reference snapshot: the data-mixing monitor that says a
    * crawl slice's word usage shifted even when [[ngramNovelty]]'s
    * new-content share is flat (novelty counts NEW grams; drift weighs
    * usage of the SHARED vocabulary too):
    *
    *   JS = ½·KL(p ‖ m) + ½·KL(q ‖ m),  m = (p+q)/2  (natural log;
    *   0 ≤ JS ≤ ln 2; zero-frequency terms contribute 0 to their side)
    *
    * 100 TB shape: one token-keyed exchange per side ([[vocabulary]]'s
    * cells) + ONE full outer join on the token key + ONE scalar
    * aggregate — vocabulary cardinality unbounded, nothing collected.
    * Replays in plain SQL. Returns one row: (tokens_current, tokens_ref,
    * vocab_current, vocab_ref, vocab_union, js_divergence, l1_distance). */
  def vocabDrift(cur: DataFrame, ref: DataFrame, curText: Column,
                 refText: Column): DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    def cells(df: DataFrame, text: Column, name: String): DataFrame =
      vocabulary(df, text).select(col("token"), col("n").as(name))
    val joined = cells(cur, curText, "nc")
      .join(cells(ref, refText, "nr"), Seq("token"), "full_outer")
      .select(coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("nr"), lit(0L)).as("nr"))
    joined.persist()
    try {
      val tot = joined.agg(sum(col("nc")).as("tc"), sum(col("nr")).as("tr"),
        count(lit(1)).as("u"),
        sum(when(col("nc") > 0, 1L).otherwise(0L)).as("vc"),
        sum(when(col("nr") > 0, 1L).otherwise(0L)).as("vr")).head()
      val tc = tot.getAs[Long]("tc"); val tr = tot.getAs[Long]("tr")
      require(tc > 0 && tr > 0,
        "vocab_drift: both corpora need at least one token")
      val agg = joined.select(
          (col("nc").cast("double") / tc).as("p"),
          (col("nr").cast("double") / tr).as("q"))
        .withColumn("m", (col("p") + col("q")) / 2.0)
        .agg(
          sum(when(col("p") > 0, col("p") * log(col("p") / col("m")))
            .otherwise(lit(0.0))).as("klp"),
          sum(when(col("q") > 0, col("q") * log(col("q") / col("m")))
            .otherwise(lit(0.0))).as("klq"),
          sum(abs(col("p") - col("q"))).as("l1")).head()
      val js = 0.5 * agg.getAs[Double]("klp") + 0.5 * agg.getAs[Double]("klq")
      Seq((tc, tr, tot.getAs[Long]("vc"), tot.getAs[Long]("vr"),
          tot.getAs[Long]("u"), js, agg.getAs[Double]("l1")))
        .toDF("tokens_current", "tokens_ref", "vocab_current", "vocab_ref",
          "vocab_union", "js_divergence", "l1_distance")
    } finally { joined.unpersist(); () }
  }
}
