package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
  * and embedding-cosine near-dup. Scale shape for all variants: candidate
  * generation is a groupBy on a small bucket key (band-hash / simhash chunk
  * / LSH bucket) with pairs expanded INSIDE each bucket — never an all-pairs
  * join, never a cached copy of the corpus — and every hash is a
  * deterministic function of content + seed, so results are identical on
  * any partition layout. Verification touches only colliding pairs.
  */
object Dedup {

  /** Exact dedup on normalized content: keeps the row with the smallest
    * `keep` key per fingerprint. Shuffles (fingerprint, keep) only.
    * NULL text is UNKNOWN content, not identical content — Spark's
    * xxhash64 maps null input to the seed, so without a guard every
    * null-text row would share one fingerprint and be deduplicated to a
    * single survivor. Null-text rows always survive — and they never
    * ENTER the window shuffle: on a null-heavy corpus, routing them into
    * one null partition would sort the whole null set in a single task,
    * so they're split out before the window and unioned back unchanged.
    * The split costs a second (filter-pushed) scan of the source; cache
    * upstream frames that are expensive to recompute. */
  def exactDedup(df: DataFrame, text: Column, keep: Column): DataFrame = {
    val w = Window.partitionBy(TextOps.contentFingerprint(text)).orderBy(keep)
    val survivors = df.filter(text.isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    survivors.unionByName(df.filter(text.isNull))
  }

  /** Incremental-ingestion dedup: keep only the corpus rows whose
    * normalized content fingerprint does NOT appear in `history` — the
    * pattern a continuously-fed training pipeline runs on every new batch
    * against everything already ingested.
    *
    * Semantics are EXACT (a left_anti join on the fingerprint decides);
    * the Bloom filter is a prefilter only: built over the history
    * fingerprints with `df.stat.bloomFilter` (one distributed agg, the
    * sketch merges associatively), it rides the corpus scan inside the
    * closure and drops the vast majority of genuinely-new rows before the
    * join, so only probable-duplicate candidates shuffle. Bloom false
    * positives are killed by the join; false negatives cannot occur.
    * Driver/executor memory for the sketch is `-log(fpp)·n/ln²2` bits
    * (~1.2 GB per 1e9 history docs at 1% — size `expectedHistory`
    * honestly, and pre-bucket the history table on the fingerprint
    * ([[Layout]]) so ITS side of the verification join co-locates without
    * a shuffle at 100 TB).
    *
    * Returns the new-only corpus rows (original columns). */
  def incrementalDedup(corpus: DataFrame, history: DataFrame,
                       corpusText: Column, historyText: Column,
                       expectedHistory: Long = 10000000L,
                       fpp: Double = 0.01): DataFrame = {
    val hfp = history.filter(historyText.isNotNull)
      .select(TextOps.contentFingerprint(historyText).as("fp"))
    val bloom = hfp.stat.bloomFilter("fp", expectedHistory, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: Long) => bc.value.mightContainLong(fp))
    val withFp = corpus.withColumn("__fp",
      TextOps.contentFingerprint(corpusText))
    val hist = hfp.distinct()
    // definitely-new rows skip the join entirely; bloom false positives
    // among the candidates survive the exact anti-join
    val newFast = withFp.filter(!mightContain(col("__fp")))
    val fpSurvivors = withFp.filter(mightContain(col("__fp")))
      .join(hist, withFp("__fp") === hist("fp"), "left_anti")
    newFast.unionByName(fpSurvivors).drop("__fp")
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as added / removed / changed / unchanged by comparing
    * normalized-content fingerprints — the audit a pipeline runs between
    * dataset releases. ONE full-outer join keyed by id (both sides collapse
    * to (id, fp) first, so the join carries 2 longs per doc); the verdict
    * is a codegen CASE. Returns (doc_id, status). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   oldId: Column, newId: Column,
                   oldText: Column, newText: Column): DataFrame = {
    val o = oldDf.select(oldId.cast("long").as("doc_id"),
      TextOps.contentFingerprint(oldText).as("__fp_old"))
    val n = newDf.select(newId.cast("long").as("doc_id"),
      TextOps.contentFingerprint(newText).as("__fp_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__fp_old").isNull, "added")
          .when(col("__fp_new").isNull, "removed")
          .when(col("__fp_old") === col("__fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** k minhashes of a precomputed shingle array via per-slice affine
    * permutations: one xxhash64 pass per shingle produces x, then
    * minhash_c = min over shingles of (a_c·x + b_c) mod p with seeded
    * per-slice (a_c, b_c) — arithmetic, not k string hashes. Per-SLICE
    * coefficients matter: the r15 per-element double-hash walk
    * (h1 + c·h2) let each element's own slope h2 drive the cross-slice
    * rankings, so the smallest-slope element of a set won nearly every
    * high-c slice — and when that element was one of a near-dup pair's
    * few unshared shingles, all bands disagreed at once (a measured
    * 19-pair recall hole at sf1; see [[graft.expr.HashOps.sliceA]]).
    * Fused into ONE traversal of the shingle array per row
    * ([[graft.expr.MinHashSig]]) — the k-separate-array-expressions
    * composition costs k× more traversals (~2 ms/doc at k=96). */
  def minHashesFromShingles(sh: Column, numHashes: Int): Column =
    graft.expr.HashExprs.minHashSig(sh, numHashes)

  /** All unordered (id_a < id_b) pairs within a bucket's id list — expanded
    * inside the bucket row, so candidate generation needs NO self-join. */
  private def bucketPairs(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + 2, greatest(size(sorted) - i - 1, lit(0))),
        b => struct(a.as("id_a"), b.as("id_b")))))
  }

  /** MinHash+LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numHashes), group by (band, band-hash), emit each colliding pair once,
    * then verify with exact n-gram Jaccard over recomputed shingle sets.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    *
    * Scale shape: one scan computes shingles + signatures (checkpointed,
    * see `materialize`); candidates come from a groupBy on (band, bandhash)
    * — small keys — with pairs expanded within each bucket, so there is no
    * self-join. Work is quadratic only within a bucket, and two guards
    * bound the in-bucket expansion itself:
    *
    *  1. EXACT-SIGNATURE PRE-COLLAPSE — documents with byte-identical
    *     signatures (exact copies, and near-copies the hash can't tell
    *     apart) collapse to one min-id representative BEFORE banding. A
    *     cluster of m identical signatures would otherwise put m members
    *     in every one of its `bands` buckets (collect_list state O(m) in
    *     one task, O(m²) expanded pairs ×bands): a 1M-copy viral document
    *     at 100 TB is 10¹² pair structs. Collapsed, it contributes m−1
    *     (representative, member) star candidates — LINEAR — which ride
    *     the same exact-Jaccard verify as the band candidates. Pair
    *     MULTIPLICITY through such clusters is representative-reduced
    *     (member↔other-cluster pairs surface via the representative, not
    *     per member); connected components — what [[minHashDedup]]
    *     consumes — are identical to the unreduced graph's.
    *  2. HOT-BUCKET CAP — a band bucket holding more than `maxBucket`
    *     DISTINCT signatures is boilerplate structure (a shared template
    *     band), not a duplication signal; it is dropped like
    *     [[winnowPairs]]' over-cap fingerprints, with the documented
    *     recall loss. Genuine exact-copy floods never hit the cap — they
    *     collapsed in step 1. Raise `maxBucket` if a corpus legitimately
    *     carries >maxBucket mutually-near DISTINCT documents per band.
    *
    * Choose rows-per-band ≈ log(1/bands)/log(threshold): the default
    * 96/16 (r=6) puts the LSH S-curve midpoint at ~0.63, giving miss
    * probability < 1e-5 at j=0.9 while keeping sub-threshold collisions (and
    * thus verify cost) low. */
  def minHashLsh(df: DataFrame, id: Column, text: Column,
                 numHashes: Int = 96, bands: Int = 16, shingleN: Int = 3,
                 threshold: Double = 0.8,
                 materialize: Boolean = true,
                 maxBucket: Int = 500,
                 collapseExact: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket > 1, "maxBucket must exceed 1")
    val rows = numHashes / bands
    val base = df.select(id.cast("long").as("id"), text.as("__text"))
    // signatures come from the FUSED tokenize→shingle→hash kernel
    // (graft.expr.ShingleMinHash): one pass over the text bytes, no
    // intermediate shingle strings — shingling was the dominant per-doc
    // cost, and only (id, 96 longs) is checkpointed, not shingle arrays.
    // Pass materialize=false at extreme corpus scale to trade recompute
    // for zero executor storage.
    val slim0 = base.select(col("id"),
      graft.expr.HashExprs.shingleMinHash(lower(trim(col("__text"))),
        shingleN, numHashes).as("sig"))
    val slim = if (materialize) graft.Ckpt.checkpoint(slim0) else slim0
    // exact-signature pre-collapse (guard 1): groupBy is map-side combined
    // so the viral cluster never concentrates in one task; the join back is
    // an equi-join on the signature (AQE splits the one skewed key).
    // collapseExact=false keeps FULL pair multiplicity (every member pairs
    // individually — the all-pairs audit contract, oracle-checkable in
    // plain SQL) for small or audited corpora; under it an exact-copy
    // flood saturates its own band buckets and is DROPPED by the cap, so
    // the scale bound holds either way — only the default collapse also
    // RECOVERS the flood's pairs (as the linear star).
    val (pigeon, stars) =
      if (collapseExact) {
        val reps = slim.groupBy(col("sig")).agg(min(col("id")).as("id"))
        val st = slim.join(reps.select(col("sig"), col("id").as("__rep")), Seq("sig"))
          .filter(col("id") =!= col("__rep"))
          .select(col("__rep").as("id_a"), col("id").as("id_b"))
        (reps, st)
      } else
        (slim, slim.limit(0).select(col("id").as("id_a"), col("id").as("id_b")))
    val banded = pigeon.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, lit(rows)), _.cast("string"))))))
        .as(Seq("band", "bandhash")))
    // band buckets ride the bounded-state aggregate ([[BoundedMembersAgg]]:
    // a saturated list marks an over-cap bucket, dropped like
    // [[winnowPairs]]'); membership is (id, 0) tuples, the hash slot unused
    val cands = banded.groupBy(col("band"), col("bandhash"))
      .agg(boundedMembers(maxBucket, col("id"), lit(0L)).as("m0"))
      .filter(size(col("m0")) > 1 && size(col("m0")) <= maxBucket)
      .select(explode(bucketPairs(transform(col("m0"), m => m.getField("_1")))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .unionByName(stars)
      .distinct()
    // verify with exact Jaccard over shingle sets recomputed ONLY for the
    // colliding ids (equi-join on id: AQE broadcasts the candidate set at
    // runtime when it is small, and falls back to a shuffle join when a
    // pathological dup rate makes it large — no OOM cliff)
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val candSh = base.join(candIds, "id")
      .select(col("id"), TextOps.shingles(col("__text"), shingleN).as("sh"))
    val sa = candSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = candSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          greatest(size(array_union(col("sh_a"), col("sh_b"))), lit(1)).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over an undirected edge list (id_a, id_b) by
    * min-label propagation with pointer jumping: each round (1) every
    * vertex takes the min label in its closed neighborhood (one edge hop),
    * then (2) path-halves — label(v) := label(label(v)) via a self-join of
    * the label table (labels are always vertex ids, so the lookup hits).
    * The halving step doubles the distance information travels per round,
    * so a component of diameter D converges in O(log D) rounds, each round
    * a constant-size plan (localCheckpoint truncates lineage). All shuffles
    * are on the EDGE set / vertex set of the near-dup graph, which is
    * orders of magnitude smaller than the corpus at 100 TB.
    * Returns (id, component) with component = min id of the cluster. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          maxLocalEdges: Int = 1000000): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .localCheckpoint(true)
    // driver union-find over the collapsed edge list
    // (graft.stats.LocalCollapse), the identical (id, component = min id)
    // labeling; a null endpoint falls back to the distributed loop
    for (es <- graft.stats.LocalCollapse.collect(edges, maxLocalEdges)
         if !es.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var r = x0
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x0
        while (parent.getOrElse(c, c) != r) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      es.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // attach the larger root under the smaller: every root stays
        // its component's min id, matching the min-label propagation
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val out = parent.keys.toArray.sorted.map(v => (v, find(v))).toSeq
      val spark = pairs.sparkSession
      import spark.implicits._
      edges match {
        case d: org.apache.spark.sql.classic.Dataset[_] =>
          org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(d)
        case _ => ()
      }
      return out.toDF("id", "component")
    }
    var labels = edges.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // (1) each edge proposes its endpoints' current min label to both ends
      val withLabels = edges
        .join(labels.withColumnRenamed("id", "id_a").withColumnRenamed("component", "ca"), "id_a")
        .join(labels.withColumnRenamed("id", "id_b").withColumnRenamed("component", "cb"), "id_b")
        .withColumn("m", least(col("ca"), col("cb")))
      val proposals = withLabels.select(col("id_a").as("id"), col("m"))
        .union(withLabels.select(col("id_b").as("id"), col("m")))
        .groupBy(col("id")).agg(min(col("m")).as("proposed"))
      val relaxed = labels.join(proposals, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("proposed"), col("component")))
            .as("component"))
      // (2) pointer jumping: follow the label one step (label(label(v))).
      // The pre-round label rides along as `old`, so the convergence check
      // is a filter on the checkpointed frame — no extra join per round.
      val next = relaxed.as("x")
        .join(relaxed.select(col("id").as("lid"), col("component").as("lcomp")),
          col("x.component") === col("lid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.component"), coalesce(col("lcomp"), col("x.component")))
            .as("component"),
          col("x.old").as("old"))
        .localCheckpoint(true)
      changed = next.filter(col("component") =!= col("old")).count()
      // release the superseded round's checkpoint storage eagerly
      labels match {
        case d: org.apache.spark.sql.classic.Dataset[_] =>
          org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(d)
        case _ => () // non-classic (e.g. Connect) frames: leave to GC
      }
      labels = next.select(col("id"), col("component"))
      iter += 1
    }
    // the edge checkpoint is dead once the loop exits (the returned labels
    // frame references only its own checkpoint)
    edges match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(d)
      case _ => ()
    }
    // the surviving round's checkpoint is the RETURNED frame — register it
    // so the query-boundary release reclaims it once the caller is done
    graft.Ckpt.register(labels)
    labels
  }

  /** Representative election by RANK for duplicate components: given
    * [[connectedComponents]]' (id, component) labels and a per-id rank
    * (a [[graft.ops.Graph.pageRank]] authority score, a quality score,
    * a recency weight), elect each component's HIGHEST-rank member as
    * rep_id (ties → min id; ids absent from `ranks` sort below every
    * ranked member). The canonical-member election Graph.scala's
    * scaladoc names: keep the most-linked page of a duplicate cluster,
    * not the lexically-smallest URL.
    *
    * 100 TB shape: ONE broadcast-or-shuffle join of the component labels
    * with the rank table + ONE component-keyed max — both keyed frames
    * are dup-GRAPH-sized (vertices of the near-dup graph), not
    * corpus-sized; the argmax rides a struct max, no window. Returns
    * (component, rep_id). */
  def electRepresentatives(components: DataFrame, ranks: DataFrame,
                           id: Column, rank: Column): DataFrame = {
    val r = ranks.select(id.cast("long").as("id"),
      rank.cast("double").as("__rank"))
    components.select(col("id").cast("long").as("id"), col("component"))
      .join(r, Seq("id"), "left")
      .groupBy(col("component"))
      .agg(max(struct(
        // nanvl BEFORE coalesce: Spark's double ordering sorts NaN above
        // every real number, so a corrupt (NaN) rank would otherwise WIN
        // every election; both NaN and null ranks must lose to any real
        // score
        coalesce(nanvl(col("__rank"), lit(Double.NegativeInfinity)),
          lit(Double.NegativeInfinity)).as("r"),
        (-col("id")).as("negid"))).as("best"))
      .select(col("component"), (-col("best.negid")).cast("long").as("rep_id"))
  }

  /** Rows to keep under MinHash dedup: candidate pairs form a near-dup
    * graph; each connected component keeps exactly its minimum id (true
    * transitive closure via [[connectedComponents]], not greedy pair-drop —
    * greedy keeps BOTH ends of a pair like (1,2),(3,2) after dropping 2,
    * splitting one cluster into two survivors). */
  def minHashDedup(df: DataFrame, id: Column, text: Column,
                   numHashes: Int = 96, bands: Int = 16, shingleN: Int = 3,
                   threshold: Double = 0.8): DataFrame = {
    val pairs = minHashLsh(df, id, text, numHashes, bands, shingleN, threshold)
    val dupes = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop"))
    df.join(dupes, id.cast("long") === col("__drop"), "left_anti")
  }

  /** Winnowing-fingerprint near-dup pairs: candidates are id pairs sharing
    * ANY winnow fingerprint (groupBy on the fingerprint value — bucketed,
    * no all-pairs join), verified by exact Jaccard over the full
    * fingerprint sets. Buckets larger than `maxBucket` are dropped: a
    * fingerprint shared by many documents is a boilerplate phrase, not a
    * duplication signal, and each bucket contributes O(size²) candidate
    * pairs (the standard winnowing-index mitigation). Tune `k` to the
    * corpus: it must span enough characters that a k-gram is rare across
    * unrelated documents (several words), or common tokens become near-cap
    * buckets and the candidate set explodes. */
  def winnowPairs(df: DataFrame, id: Column, text: Column,
                  k: Int = 8, w: Int = 4, threshold: Double = 0.5,
                  maxBucket: Int = 50): DataFrame = {
    val slim0 = df.select(id.cast("long").as("id"),
      TextOps.winnowFingerprints(text, k, w).as("fp"))
    val slim = graft.Ckpt.checkpoint(slim0)
    val cands = slim.select(col("id"), explode(col("fp")).as("f"))
      .groupBy(col("f")).agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(bucketPairs(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    val fa = slim.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val fb = slim.select(col("id").as("id_b"), col("fp").as("fp_b"))
    cands.join(fa, "id_a").join(fb, "id_b")
      .withColumn("sim",
        size(array_intersect(col("fp_a"), col("fp_b"))).cast("double") /
          greatest(size(array_union(col("fp_a"), col("fp_b"))), lit(1)).cast("double"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Rows to keep under SimHash dedup: one survivor (min id) per connected
    * near-dup cluster, like [[minHashDedup]]. */
  def simHashDedup(df: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3): DataFrame = {
    val pairs = simHashPairs(df, id, text, maxHamming)
    val dupes = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop"))
    df.join(dupes, id.cast("long") === col("__drop"), "left_anti")
  }

  /** Rows to keep under embedding-cosine dedup: one survivor (min id) per
    * connected near-dup cluster. */
  def embeddingDedup(df: DataFrame, id: Column, embedding: Column,
                     threshold: Double = 0.95, bits: Int = 0,
                     tables: Int = 1): DataFrame = {
    val pairs = embeddingNearDup(df, id, embedding, threshold, bits, tables)
    val dupes = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop"))
    df.join(dupes, id.cast("long") === col("__drop"), "left_anti")
  }

  /** Bounded bucket-member aggregate for the pair kernels: collects up to
    * cap+1 (id, hash) members and then STOPS, so aggregate state is <=
    * cap+1 tuples at every stage no matter the bucket's true size —
    * `collect_list`'s state, by contrast, is O(bucket), and one hot
    * bucket concentrates its whole membership in the single task that
    * merges the global partials. A result of length cap+1 means "over the
    * cap"; callers DROP over-cap buckets, so it never matters which cap+1
    * members survive. Under the cap the list is complete (no partial can
    * saturate when the true size is <= cap). Same design as
    * [[Features.BoundedSetAgg]]. */
  private class BoundedMembersAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long), scala.collection.mutable.ArrayBuffer[(Long, Long)],
        Array[(Long, Long)]] {
    import scala.collection.mutable.ArrayBuffer
    def zero: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
    def reduce(b: ArrayBuffer[(Long, Long)], a: (Long, Long)): ArrayBuffer[(Long, Long)] = {
      if (b.length <= cap) b += a
      b
    }
    def merge(b1: ArrayBuffer[(Long, Long)], b2: ArrayBuffer[(Long, Long)])
        : ArrayBuffer[(Long, Long)] = {
      val it = b2.iterator
      while (it.hasNext && b1.length <= cap) b1 += it.next()
      b1
    }
    def finish(b: ArrayBuffer[(Long, Long)]): Array[(Long, Long)] = b.toArray
    def bufferEncoder =
      org.apache.spark.sql.Encoders.kryo[scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Long)]]()
  }

  private def boundedMembers(cap: Int, idCol: Column, hashCol: Column): Column =
    org.apache.spark.sql.functions.udaf(new BoundedMembersAgg(cap),
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))(idCol, hashCol)

  /** Near-pair candidates for ANY precomputed 64-bit similarity hash
    * (simhash, image dHash, audio fingerprint): split the hash into 4
    * 16-bit chunks; two hashes within Hamming distance <= 3 must agree on
    * at least one chunk (pigeonhole), so candidates come from 4
    * chunk-keyed groupBys with in-bucket pair expansion — never an
    * all-pairs join. Returns (id_a, id_b, hamming) with id_a < id_b and
    * hamming <= maxHamming (<= 3 for the pigeonhole guarantee; larger
    * thresholds still return only what the chunk collision finds,
    * documented recall loss).
    *
    * Two guards bound the in-bucket expansion:
    *
    *  1. EXACT-HASH PRE-COLLAPSE — rows sharing a byte-identical hash
    *     (exact copies: the viral image, the silent clip) collapse to one
    *     min-id representative BEFORE chunking. A cluster of m identical
    *     hashes would otherwise put m members in each of its 4 chunk
    *     buckets (bucket state O(m) in one merge task, O(m^2) expanded
    *     pairs): a 1M-copy viral image at 100 TB is 10^12 pair structs.
    *     Collapsed, the cluster contributes m-1 (representative, member)
    *     star pairs at hamming 0 — LINEAR in m — and only its ONE
    *     representative enters the pigeonhole. Pair multiplicity through
    *     exact clusters is therefore representative-reduced (a member
    *     pairs with another cluster only via its representative), but
    *     connected components — what [[simHashDedup]] / near-dup
    *     clustering consume — are identical to the full Hamming graph's.
    *  2. HOT-BUCKET CAP — a chunk bucket holding more than `maxBucket`
    *     DISTINCT hashes (a shared 16-bit template chunk: boilerplate
    *     structure, not duplication) is dropped, [[winnowPairs]]-style,
    *     with documented recall loss; the bucket aggregate itself is
    *     bounded-state ([[BoundedMembersAgg]]), so a hot bucket never
    *     materializes past cap+1 members in ANY task. Raise `maxBucket`
    *     if >maxBucket mutually-near distinct hashes per chunk is a real
    *     corpus property.
    *
    * A NULL hash is unknown content ([[Multimodal.imageDHash]] /
    * [[Multimodal.audioFingerprint]] decode failures emit null): those
    * rows never pair — without the filter every corrupt item would
    * cluster at one sentinel value. */
  def hammingPairs(df: DataFrame, id: Column, hash: Column,
                   maxHamming: Int = 3, maxBucket: Int = 1000,
                   materialize: Boolean = true): DataFrame = {
    require(maxBucket > 1, "maxBucket must exceed 1")
    // the slim (id, hash) projection is consumed by BOTH the collapse
    // groupBy and the star join — without materialization Spark would
    // re-evaluate the upstream per consumer, and for this kernel the
    // upstream is typically the CODEC (imageDHash / audioFingerprint /
    // simhash over full text). 16 bytes/row checkpoint vs re-decoding
    // the corpus: checkpoint wins at any scale; pass materialize=false
    // only when the input is already a materialized hash table.
    val base0 = df.select(id.cast("long").as("id"), hash.cast("long").as("sh"))
      .filter(col("sh").isNotNull)
    val base = if (materialize) graft.Ckpt.checkpoint(base0) else base0
    // guard 1: one representative per distinct hash; map-side-combined
    // groupBy, skew-safe equi-join back (AQE splits the one hot key)
    val reps = base.groupBy(col("sh")).agg(min(col("id")).as("id"))
    val stars = base.join(reps.select(col("sh"), col("id").as("__rep")), Seq("sh"))
      .filter(col("id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    val chunked = reps.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("sh"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "chunkval")))
    val repPairs = chunked.groupBy(col("chunk"), col("chunkval"))
      .agg(boundedMembers(maxBucket, col("id"), col("sh")).as("m0"))
      // guard 2: length maxBucket+1 = saturated aggregate = hot bucket
      .filter(size(col("m0")) > 1 && size(col("m0")) <= maxBucket)
      .select(explode(bucketPairs(transform(col("m0"),
        m => struct(m.getField("_1").as("id"), m.getField("_2").as("sh"))))).as("p"))
      .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        TextOps.hammingDistance(col("p.id_a.sh"), col("p.id_b.sh"))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    repPairs.unionByName(stars)
  }

  /** SimHash near-dup pairs: 64-bit content simhash through the
    * [[hammingPairs]] kernel (pigeonhole candidates, exact-hash
    * pre-collapse, hot-bucket cap — see there for the guards and the
    * representative-reduced pair semantics). */
  def simHashPairs(df: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    hammingPairs(df.select(id.cast("long").as("__id"),
      TextOps.simHash(text).as("__sh")),
      col("__id"), col("__sh"), maxHamming, maxBucket)

  /** Embedding near-dup pairs above a cosine threshold, with random-
    * hyperplane LSH prefilter: k sign-bits of seeded random projections
    * (deterministic per dim via xxhash64-derived pseudo-gaussians); pairs
    * must share a bit-prefix bucket before the exact cosine verify. For
    * recall ~1 at high thresholds use few bits; bits=0 forces exact brute
    * force; bits<0 (the DEFAULT) derives the whole configuration from the
    * corpus and the threshold so the default is never the O(n²) cross join
    * at scale: ~log2(n/128) bits targets ~128-vector buckets (verify cost
    * ≈ 64·n·tables pairs — LINEAR in n), corpora under ~256 rows fall
    * back to exact, and `tables` (when not given) is set from the
    * hyperplane flip probability p = acos(threshold)/π to reach ~0.9
    * candidate recall via OR-amplification: recall = 1-(1-(1-p)^bits)^T.
    * Explicitly passed `bits` keeps `tables` at the value given (default
    * 1), preserving exact caller control.
    * Candidate ids pair up inside each (table, bucket) group (groupBy, no
    * self-join); vectors rejoin from the source only for colliding pairs. */
  def embeddingNearDup(df: DataFrame, id: Column, embedding: Column,
                       threshold: Double = 0.95, bits: Int = -1,
                       tables: Int = -1): DataFrame = {
    val base = df.select(id.cast("long").as("id"),
      embedding.cast("array<double>").as("v"))
    val (effBits, effTables) =
      if (bits >= 0) (bits, math.max(1, tables))
      else {
        // auto-config needs the corpus size: ONE eager count() job here —
        // even when `tables` is supplied, since bits derive from n. Callers
        // that know their scale and want zero extra jobs pass bits >= 0.
        val n = base.count()
        val b = math.min(20,
          math.max(0, math.ceil(math.log(n / 128.0) / math.log(2)).toInt))
        val t =
          if (tables > 0) tables
          else if (b == 0) 1
          else {
            val pKeep = math.pow(
              1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi, b)
            val want =
              if (pKeep >= 0.9) 1
              else math.max(1, math.ceil(math.log(0.1) / math.log1p(-pKeep)).toInt)
            val capped = math.min(6, want)
            if (capped < want) {
              // the table cap binds: say what recall the cap actually buys
              // instead of silently landing under the ~0.9 target
              val achieved = 1.0 - math.pow(1.0 - pKeep, capped)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                f"embeddingNearDup auto-config: table cap 6 binds (wanted $want%d " +
                  f"tables for ~0.9 candidate recall at threshold $threshold%.3f, " +
                  f"bits $b%d); estimated candidate recall is $achieved%.3f. " +
                  "Pass tables explicitly (or lower bits) to trade cost for recall.")
            }
            capped
          }
        (b, t)
      }
    val cosine = graft.expr.VectorExprs.cosineSim(col("va"), col("vb"))
    if (effBits == 0) {
      // exact brute force: join streams the cross product across tasks
      // (a single collect_list bucket would funnel the table into one row)
      base.select(col("id").as("id_a"), col("v").as("va"))
        .join(base.select(col("id").as("id_b"), col("v").as("vb")),
          col("id_a") < col("id_b"))
        .withColumn("cosine", cosine)
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    } else {
      def bucket(table: Int): Column = (0 until effBits).map { b =>
        // pseudo-random hyperplane h_tb[d] = centered hash of (t, b, d)
        val hdot = aggregate(
          zip_with(col("v"),
            transform(sequence(lit(0), size(col("v")) - 1),
              d => (pmod(xxhash64(lit(table), lit(b), d), lit(1000000L)).cast("double") / 500000.0) - 1.0),
            (x, h) => x * h),
          lit(0.0), (acc, x) => acc + x)
        when(hdot > 0, lit(1L << b)).otherwise(0L)
      }.reduce[Column]((a, c) => a.bitwiseOR(c))
      // vectors RIDE INTO the bucket rows (the simHashPairs idiom) so the
      // cosine verify runs inside the pair expansion — no re-join of an
      // O(candidates) set against the corpus, no candidate shuffle; only
      // pairs that already cleared the threshold reach the cross-table
      // distinct. Bucket rows hold ≤ ~128 (id, vector) structs by
      // construction of the auto bits, bounding collect_list state.
      base.select(col("id"), col("v"),
          posexplode(array((0 until effTables).map(bucket): _*))
            .as(Seq("table", "bucket")))
        .groupBy(col("table"), col("bucket"))
        .agg(collect_list(struct(col("id"), col("v"))).as("members"))
        .filter(size(col("members")) > 1)
        .select(explode(bucketPairs(col("members"))).as("p"))
        .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
          col("p.id_a.v").as("va"), col("p.id_b.v").as("vb"))
        .withColumn("cosine", cosine)
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
        .distinct()
    }
  }

  /** Semantic dedup, end to end: k-means buckets → WITHIN-BUCKET
    * embedding-cosine near-dup pairs → connected components → min-id
    * representative. The composition users previously hand-wired from
    * [[Ann.kmeans]] (q209) + [[embeddingNearDup]] (q39) +
    * [[connectedComponents]] (q43): cluster semantically, dedup only
    * inside a cluster, keep one representative per duplicate group.
    *
    * vs [[embeddingDedup]]: LSH tables are replaced by the LEARNED
    * k-means buckets — recall concentrates where the corpus actually
    * clusters, and the bucket granularity is an explicit knob (k) instead
    * of a hash-bit count.
    *
    * `probes` is the SemDeDup boundary-recall fix: each vector lands in
    * its top-`probes` nearest-centroid buckets before pair expansion, so
    * a near-dup pair split by ONE cluster boundary still shares a bucket
    * (at probes = 1 such pairs are missed by construction — the classic
    * single-assignment trade). probes = 2 closes the one-boundary miss
    * for ~2× bucket membership (pair-expansion cost ~4× per bucket);
    * pairs split across ≥ probes boundaries remain the residual trade —
    * raise probes, or fall back to [[embeddingDedup]] for hash-style
    * recall guarantees.
    *
    * 100 TB shape: the Lloyd loop is #126's one-codegen-pass-per-iter
    * shape; pair expansion groups by BUCKET (one keyed exchange after the
    * explode to top-`probes` memberships), with the per-bucket member
    * list guarded by `maxBucket` BEFORE expansion (k must scale with the
    * corpus so buckets stay bucket-sized — the error names the knob);
    * a pair found in several shared buckets collapses to one edge before
    * components; components run on the near-dup EDGE set (pointer
    * jumping, O(log D) rounds). Returns one row per input vector:
    * (id, cluster, rep_id, is_representative) with rep_id = min id of
    * the duplicate group (own id when unique).
    *
    * `rank`: optional per-row authority/quality score from `corpus` (a
    * [[graft.ops.Graph.pageRank]] score, a quality score) — when given,
    * each duplicate group's representative is its HIGHEST-rank member
    * (ties → min id) via [[electRepresentatives]], instead of the min
    * id. The 2-column rank projection is first semi-joined down to the
    * dup-graph ids (one exchange of that slim projection), so the
    * election itself is a dup-graph-sized join + component-keyed max —
    * never a corpus-scale shuffle. */
  def semanticDedup(corpus: DataFrame, id: Column, embedding: Column,
                    k: Int, threshold: Double = 0.95, iters: Int = 3,
                    maxBucket: Int = 2000, probes: Int = 2,
                    rank: Option[Column] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"semantic_dedup: threshold in (0, 1], got $threshold")
    require(probes >= 1 && probes <= k,
      s"semantic_dedup: probes must be in [1, k=$k], got $probes")
    val asg0 = Ann.kmeansAssignProbes(corpus, id, embedding, k, iters, probes)
      .select(col("id"), col("v"), col("cluster"), col("buckets"))
    val asg = graft.Ckpt.checkpoint(asg0)
    // exploded bucket membership: one row per (vector, probed bucket)
    val mem = asg.select(col("id"), col("v"),
      explode(col("buckets")).as("bucket"))
    val biggest = mem.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    require(biggest <= maxBucket,
      s"semantic_dedup: largest bucket has $biggest vectors " +
        s"(maxBucket=$maxBucket, probes=$probes) — pair expansion inside " +
        "it is O(n²); raise k so buckets stay bucket-sized (or raise " +
        "maxBucket knowingly)")
    val cosine = graft.expr.VectorExprs.cosineSim(col("va"), col("vb"))
    val rawPairs = mem
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("id"), col("v"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(bucketPairs(col("members"))).as("p"))
      .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        col("p.id_a.v").as("va"), col("p.id_b.v").as("vb"))
      .filter(cosine >= threshold)
      .select(col("id_a"), col("id_b"))
    // a pair sharing SEVERAL probed buckets surfaces once per shared
    // bucket — collapse to one edge before components (probes = 1 cannot
    // duplicate, so the extra exchange is skipped there)
    val pairs = if (probes > 1) rawPairs.distinct() else rawPairs
    val comp = connectedComponents(pairs)
    val labeled = asg.join(comp, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("component"), col("id")).as("component"))
    val withRep = rank match {
      case None =>
        // min-id election is the component label itself — free
        labeled.withColumn("rep_id", col("component"))
      case Some(rk) =>
        // rank election only over REAL dup groups (comp covers exactly
        // the dup-graph vertices); singletons stay their own rep. The
        // rank frame is semi-joined down to comp's ids FIRST so the
        // election join is dup-graph × dup-graph, never a corpus-scale
        // shuffle (the semi-join itself moves only the 2-column rank
        // projection, and AQE can then broadcast the slimmed side).
        val rankSlim = corpus
          .select(id.cast("long").as("id"), rk.cast("double").as("__r"))
          .join(comp.select(col("id")), Seq("id"), "left_semi")
        val elected =
          electRepresentatives(comp, rankSlim, col("id"), col("__r"))
        labeled.join(elected, Seq("component"), "left")
          .withColumn("rep_id", coalesce(col("rep_id"), col("id")))
    }
    withRep.select(col("id"), col("cluster"), col("rep_id"))
      .withColumn("is_representative", col("rep_id") === col("id"))
  }

  /** Paragraph-level dedup (the RefinedWeb/CCNet boilerplate-removal step):
    * drop every paragraph whose normalized content appears in MORE THAN
    * `maxDocFreq` distinct documents (nav bars, cookie banners, shared
    * footers), then reassemble each document from its surviving paragraphs
    * in original order. Documents whose paragraphs are all boilerplate
    * survive with empty text (no rows are silently dropped).
    *
    * 100 TB shape: document frequency per fingerprint is ONE exchange keyed
    * by the fingerprint (the in-doc distinct and the count partial-aggregate
    * on the same shuffle); the hot set that crosses `maxDocFreq` is by
    * construction small (it IS the boilerplate inventory), so membership is
    * a BROADCAST join — corpus paragraphs never shuffle to check it — and
    * the hot FLAG rides the single doc-id reassembly exchange, where the
    * in-array filter drops boilerplate after the order restore: no anti-join
    * output, no second source scan, no final outer join to re-attach
    * boilerplate-only documents. The broadcast is guarded by the caliper
    * `maxCells` idiom: above `maxHotFingerprints` the error names
    * `broadcastHot = false` (shuffled membership join) as the escape hatch.
    *
    * Returns (doc_id, text, n_paras, n_kept). */
  def paragraphDedup(df: DataFrame, id: Column, text: Column,
                     maxDocFreq: Long = 1, sep: String = "\n",
                     broadcastHot: Boolean = true,
                     maxHotFingerprints: Long = 4L << 20): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    require(maxHotFingerprints > 0, "maxHotFingerprints must be positive")
    val paras = df
      .select(id.as("doc_id"), posexplode(split(text, sep)).as(Seq("pos", "para")))
      .withColumn("fp", TextOps.contentFingerprint(col("para")))
    val hot = paras.groupBy(col("fp"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("fp"))
    val hotSide = if (broadcastHot) {
      val h = hot.persist()
      val nHot = h.count()
      require(nHot <= maxHotFingerprints,
        s"paragraphDedup found $nHot boilerplate fingerprints " +
          s"(max $maxHotFingerprints for broadcast): pass broadcastHot=false " +
          "for a shuffled anti-join, raise maxDocFreq, or raise " +
          "maxHotFingerprints if the driver can hold it")
      broadcast(h)
    } else hot
    // split() emits at least one element per document, so every input doc
    // reaches the groupBy — boilerplate-only docs survive with empty text
    paras.join(hotSide.withColumn("__hot", lit(true)), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(sep, transform(
          filter(
            array_sort(collect_list(struct(col("pos"), col("para"),
              coalesce(col("__hot"), lit(false)).as("hot")))),
            s => !s.getField("hot")),
          s => s.getField("para"))).as("text"),
        count(lit(1)).as("n_paras"),
        count(when(col("__hot").isNull, 1)).as("n_kept"))
      .select(col("doc_id"), col("text"), col("n_paras"), col("n_kept"))
  }

  /** Benchmark-contamination scan — the decontamination step of a training
    * pipeline: for every corpus document, the fraction of its DISTINCT word
    * n-grams that appear anywhere in `probe` (the eval/benchmark set).
    *
    * 100 TB shape: the probe side is tiny next to the corpus (benchmarks
    * are thousands of documents, the corpus is billions), so its distinct
    * shingle set is BROADCAST and the corpus side never shuffles shingles —
    * the only exchange is the per-doc count re-aggregation, keyed by doc id
    * and map-side combined. Set `broadcastProbe = false` if the probe is
    * genuinely large and a shuffled join is wanted. With `hashes = true`
    * (default) the join carries 64-bit xxhash64 shingle keys instead of
    * strings — 8-byte keys, collision odds ≈ pairs/2⁶⁴; `false` joins the
    * raw shingle strings (bit-exact, used by the q82 oracle).
    *
    * Rows with null/empty text are dropped (no shingles, no denominator).
    * Returns (doc_id, n_shingles, n_hit, contamination ∈ [0,1]). */
  def contamination(corpus: DataFrame, probe: DataFrame, text: Column,
                    id: Column, n: Int = 8, hashes: Boolean = true,
                    broadcastProbe: Boolean = true,
                    maxProbeShingles: Long = 8L << 20): DataFrame = {
    require(n > 0, "n must be positive")
    require(maxProbeShingles > 0, "maxProbeShingles must be positive")
    // hashes=true: the fused byte kernel (HashOps.shingleHashes) emits each
    // doc's DISTINCT shingle hashes directly — no shingle strings are ever
    // materialized (the composed explode(shingles)+xxhash64 path allocates
    // ~3 objects per shingle, which at corpus scale IS the runtime: 269 s →
    // fused re-measure at 10M docs in probe.json). lower() upstream mirrors
    // the normalization the composed shingles() column applies internally.
    // The hash VALUES differ from xxhash64(shingle-string) — irrelevant, the
    // join only needs corpus and probe to agree — while per-doc counts and
    // membership match the string path exactly (collision odds ≈ pairs/2⁶⁴).
    def keyed(df: DataFrame, cols: Column*): DataFrame =
      if (hashes)
        df.select(cols :+ explode(
          graft.expr.HashExprs.shingleHashes(lower(text), n)).as("k"): _*)
      else
        df.select(cols :+ explode(TextOps.shingles(text, n)).as("g"): _*)
          .withColumnRenamed("g", "k")
    val nonEmpty = (df: DataFrame) => df.filter(text.isNotNull && length(text) > 0)
    val corpusK = keyed(nonEmpty(corpus), id.as("doc_id"))
    val probeK = keyed(nonEmpty(probe))
      .distinct()
      .withColumn("__hit", lit(1L))
    // Fail fast instead of a driver-side broadcast OOM: the broadcast
    // contract is "the probe is benchmark-sized". Counting the distinct
    // shingles is one cheap job on the already-shuffled distinct (persisted
    // so the join reuses it rather than recomputing), and above the cap the
    // error names the escape hatch — the caliper maxCells idiom.
    val probeSide = if (broadcastProbe) {
      val pk = probeK.persist()
      val nProbe = pk.count()
      require(nProbe <= maxProbeShingles,
        s"contamination probe has $nProbe distinct shingles " +
          s"(max $maxProbeShingles for broadcast): pass broadcastProbe=false " +
          "for a shuffled join, shorten the probe set, or raise " +
          "maxProbeShingles if the driver can hold it")
      broadcast(pk)
    } else probeK
    corpusK.join(probeSide, Seq("k"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination", col("n_hit") / col("n_shingles"))
  }
}
