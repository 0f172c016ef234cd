package graft.ops

import scala.jdk.CollectionConverters._

import graft.stats.LocalCollapse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; O(probes × corpus) — the
  * corpus side stays distributed, probes broadcast). Scale path: IVF —
  * k-means centroids trained on a driver-side sample, every vector assigned
  * to its nearest centroid (one codegen'd argmin pass), queries probe only
  * the `nprobe` nearest cells. At 1000 executors the cell assignment
  * becomes the partition key, so a probe touches nprobe/cells of the data.
  */
object Ann {

  /** cosine(a, b) over two array<double> columns — a single-pass codegen'd
    * kernel ([[graft.expr.VectorExprs.cosineSim]]); same null/NaN semantics
    * as the composed aggregate(zip_with(...)) form it replaced. */
  def cosine(a: Column, b: Column): Column =
    graft.expr.VectorExprs.cosineSim(a.cast("array<double>"), b.cast("array<double>"))

  /** Exact brute-force top-k by cosine. The probe side is broadcast into
    * a nested-loop join against the distributed corpus, so its size is
    * GUARDED: more than `maxBroadcastProbes` probe rows fails fast naming
    * the escape (the brute product is probes × corpus similarity kernels —
    * a silently-large probe set is a runaway job, not just a big
    * broadcast; route large probe sets through [[ivfKnn]] instead).
    * Returns (query_id, neighbor_id, sim, rk). */
  def bruteForceKnn(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    probes: DataFrame, probeId: Column, probeVec: Column,
                    k: Int, maxBroadcastProbes: Long = 100000L): DataFrame = {
    require(maxBroadcastProbes > 0, "maxBroadcastProbes must be positive")
    // a null vector is unknown, not near anything: without the guard,
    // null-sim rows sort after the real neighbors and fill top-k slots
    // whenever fewer than k real candidates exist
    val c = corpus.select(corpusId.cast("long").as("neighbor_id"),
      corpusVec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val p0 = probes.select(probeId.cast("long").as("query_id"),
      probeVec.cast("array<double>").as("q"))
      .filter(col("q").isNotNull)
    // one bounded read both guards the probe set and builds the broadcast
    val probeRows = LocalCollapse.within(p0, maxBroadcastProbes)(
      s"brute_force_knn probe set has > $maxBroadcastProbes rows " +
        "(the broadcast nested-loop product cap): " +
        "use ivfKnn for large probe sets, shrink the probes, or raise " +
        "maxBroadcastProbes if probes x corpus kernels is really intended")
    val p = corpus.sparkSession.createDataFrame(probeRows.toSeq.asJava, p0.schema)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(p), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q"), col("v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rk"))
  }

  /** IVF index: centroids trained by Lloyd's k-means on a sample collected
    * to the driver (sampleSize rows — the index is tiny next to the corpus;
    * the corpus itself is never collected). */
  case class IvfIndex(centroids: Array[Array[Double]]) {
    def numCells: Int = centroids.length
  }

  def trainIvf(corpus: DataFrame, vec: Column, numCells: Int,
               sampleSize: Int = 10000, iters: Int = 10, seed: Long = 42L): IvfIndex = {
    val sample = corpus.select(vec.cast("array<double>").as("v"))
      .orderBy(xxhash64(col("v").cast("string"), lit(seed)))
      .limit(sampleSize)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= numCells, s"sample ${sample.length} < cells $numCells")
    val dim = sample.head.length
    val rng = new scala.util.Random(seed)
    var centroids = rng.shuffle(sample.toSeq).take(numCells).map(_.clone).toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(numCells)(new Array[Double](dim))
      val counts = new Array[Long](numCells)
      sample.foreach { v =>
        val c = nearest(centroids, v)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = sums.zip(counts).zipWithIndex.map { case ((s, n), i) =>
        if (n == 0) centroids(i) else s.map(_ / n)
      }
    }
    IvfIndex(centroids)
  }

  private def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      var d = 0.0; var j = 0
      while (j < v.length) { val t = cs(i)(j) - v(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Cell assignment as a codegen'd argmin over the centroid table — one
    * tight loop against a single reference object (codegen size and
    * per-row allocation independent of nlist). */
  def cellOf(index: IvfIndex, vec: Column): Column =
    graft.expr.VectorExprs.nearestCentroid(vec.cast("array<double>"),
      index.centroids).getField("cluster")

  /** Product-quantization index (Jégou, Douze & Schmid 2011): the vector
    * space splits into `numSub` contiguous subspaces, each with its own
    * small codebook (Lloyd's k-means on a driver-side sample, like
    * [[trainIvf]]). A vector's code is its per-subspace nearest centroid
    * — numSub small ints replacing dim doubles. THE 100 TB story: the
    * codes table is 10-100× smaller than the raw vectors, so the
    * similarity sweep reads codes only; queries score codes by ADC
    * (asymmetric distance computation) — per subspace a codebookSize-entry
    * table of EXACT probe-to-centroid L2² distances, summed across
    * subspaces. Compose with [[ivfKnn]] cells (IVF-PQ) when even the code
    * sweep needs pruning. */
  case class PqIndex(codebooks: Array[Array[Array[Double]]]) {
    def numSub: Int = codebooks.length
    def codebookSize: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
  }

  def trainPq(corpus: DataFrame, vec: Column, numSub: Int = 8,
              codebookSize: Int = 16, sampleSize: Int = 10000,
              iters: Int = 10, seed: Long = 42L): PqIndex = {
    require(numSub >= 1 && codebookSize >= 2, "bad PQ shape")
    val sample = corpus.select(vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(xxhash64(col("v").cast("string"), lit(seed)))
      .limit(sampleSize)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= codebookSize,
      s"sample ${sample.length} < codebookSize $codebookSize")
    val dim = sample.head.length
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val subDim = dim / numSub
    val books = Array.tabulate(numSub) { s0 =>
      val sub = sample.map(_.slice(s0 * subDim, (s0 + 1) * subDim))
      val rng = new scala.util.Random(seed + s0)
      var cents = rng.shuffle(sub.toSeq).take(codebookSize).map(_.clone).toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(codebookSize)(new Array[Double](subDim))
        val counts = new Array[Long](codebookSize)
        sub.foreach { v =>
          val c = nearest(cents, v)
          counts(c) += 1
          var d = 0
          while (d < subDim) { sums(c)(d) += v(d); d += 1 }
        }
        cents = sums.zip(counts).zipWithIndex.map { case ((sm, n), i) =>
          if (n == 0) cents(i) else sm.map(_ / n)
        }
      }
      cents
    }
    PqIndex(books)
  }

  /** Per-vector PQ code as a codegen'd column: per subspace, argmin over
    * the codebook of the fused L2 kernel on the SLICED vector — the same
    * [[cellOf]] idiom, numSub × codebookSize literal kernels. */
  def encodePq(index: PqIndex, vec: Column): Column = {
    val v = vec.cast("array<double>")
    val subCodes = (0 until index.numSub).map { s0 =>
      val sub = slice(v, s0 * index.subDim + 1, index.subDim)
      val dists = index.codebooks(s0).zipWithIndex.map { case (c, i) =>
        struct(graft.expr.VectorExprs.l2SqToLit(sub, c).as("d"),
          lit(i).as("code"))
      }
      array_min(array(dists.toIndexedSeq: _*)).getField("code")
    }
    array(subCodes: _*)
  }

  /** PQ top-k by ADC over the CODES table: probe LUTs (numSub ×
    * codebookSize exact probe-to-centroid L2² distances per probe) are a
    * tiny driver-built frame broadcast into an equi-join on (sub, code);
    * per-(query, vector) sums are a map-side-combined groupBy. Probe
    * count is guarded — the scored product is probes × corpus and a
    * silently-huge probe set is a runaway job. Returns
    * (query_id, neighbor_id, adc_dist, rk) with rk by ascending ADC
    * distance (L2² semantics; tie-break neighbor_id). */
  def pqKnn(corpus: DataFrame, corpusId: Column, corpusVec: Column,
            probes: DataFrame, probeId: Column, probeVec: Column,
            index: PqIndex, k: Int, maxProbes: Int = 10000): DataFrame = {
    val spark = corpus.sparkSession
    val codes = corpus
      .select(corpusId.cast("long").as("neighbor_id"),
        corpusVec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .select(col("neighbor_id"), posexplode(encodePq(index, col("v")))
        .as(Seq("sub", "code")))
    val pRows = LocalCollapse.within(probes
      .select(probeId.cast("long").as("query_id"),
        probeVec.cast("array<double>").as("q"))
      .filter(col("q").isNotNull), maxProbes)(
      s"pq_knn probe set exceeds $maxProbes rows: batch the probes or " +
        "raise maxProbes if probes x corpus ADC sums are really intended")
    val lutRows = pRows.flatMap { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      for {
        s0 <- 0 until index.numSub
        c <- 0 until index.codebookSize
      } yield {
        val cent = index.codebooks(s0)(c)
        var d = 0.0
        var j = 0
        while (j < index.subDim) {
          val t = q(s0 * index.subDim + j) - cent(j); d += t * t; j += 1
        }
        (qid, s0, c, d)
      }
    }
    import spark.implicits._
    val lut = lutRows.toSeq.toDF("query_id", "sub", "code", "d")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d")).as("adc_dist"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rk"))
  }

  /** IVF-PQ: the production-scale composition — IVF cells prune WHICH
    * codes are scored, PQ codes compress WHAT is scored. The corpus
    * persists as (cell, numSub codes) — tens of bytes per vector at
    * 100 TB — probes explode to their nprobe nearest cells ([[ivfKnn]]'s
    * equi-join shape), and only co-celled codes pay the ADC sum
    * ([[pqKnn]]'s broadcast LUT). Returns (query_id, neighbor_id,
    * adc_dist, rk). */
  def ivfPqKnn(corpus: DataFrame, corpusId: Column, corpusVec: Column,
               probes: DataFrame, probeId: Column, probeVec: Column,
               ivf: IvfIndex, pq: PqIndex, k: Int, nprobe: Int,
               maxProbes: Int = 10000): DataFrame = {
    val spark = corpus.sparkSession
    val coded = corpus
      .select(corpusId.cast("long").as("neighbor_id"),
        corpusVec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .select(col("neighbor_id"), cellOf(ivf, col("v")).as("cell"),
        posexplode(encodePq(pq, col("v"))).as(Seq("sub", "code")))
    val pSlim = probes
      .select(probeId.cast("long").as("query_id"),
        probeVec.cast("array<double>").as("q"))
      .filter(col("q").isNotNull)
    val pRows = LocalCollapse.within(pSlim, maxProbes)(
      s"ivf_pq_knn probe set exceeds $maxProbes rows: batch the probes or " +
        "raise maxProbes")
    // probed cells per query (driver math over the collected probes — the
    // same vectors already build the LUT)
    val probeCells = pRows.flatMap { r =>
      val q = r.getSeq[Double](1).toArray
      val d2 = ivf.centroids.map { cvec =>
        var d = 0.0; var j = 0
        while (j < q.length) { val t = cvec(j) - q(j); d += t * t; j += 1 }
        d
      }
      d2.zipWithIndex.sortBy { case (d, i) => (d, i) }.take(nprobe)
        .map { case (_, cell) => (r.getLong(0), cell) }
    }
    val lutRows = pRows.flatMap { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      for {
        s0 <- 0 until pq.numSub
        c <- 0 until pq.codebookSize
      } yield {
        val cent = pq.codebooks(s0)(c)
        var d = 0.0
        var j = 0
        while (j < pq.subDim) {
          val t = q(s0 * pq.subDim + j) - cent(j); d += t * t; j += 1
        }
        (qid, s0, c, d)
      }
    }
    import spark.implicits._
    val cellsDf = probeCells.toSeq.toDF("query_id", "cell")
    val lut = lutRows.toSeq.toDF("query_id", "sub", "code", "d")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    coded.join(broadcast(cellsDf), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d")).as("adc_dist"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rk"))
  }

  /** IVF top-k: probes search only their `nprobe` nearest cells. Exact
    * within probed cells; recall < 1 only when a true neighbor lives in an
    * unprobed cell.
    *
    * Scale shape: probe cells are EXPLODED so the probe-corpus match is an
    * equi-join on the cell id — Catalyst broadcasts the probe side when it
    * is small and falls back to a shuffle join co-partitioned by cell for
    * large probe sets (a broadcast-nested-loop over the corpus would scan
    * every (row, probe) pair). A hot k-means cell is one join partition;
    * AQE's skew-join splitting handles it at runtime. A vector lives in
    * exactly one cell and a probe's cells are distinct, so no dedup pass
    * is needed after the join. */
  def ivfKnn(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             probes: DataFrame, probeId: Column, probeVec: Column,
             index: IvfIndex, k: Int, nprobe: Int): DataFrame = {
    val assigned = corpus.select(corpusId.cast("long").as("neighbor_id"),
      corpusVec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull) // unknown vectors live in no cell
      .withColumn("cell", cellOf(index, col("v")))
    // per-probe probed cells: nprobe nearest centroids, as an array column
    val cellDists = index.centroids.zipWithIndex.map { case (c, i) =>
      struct(graft.expr.VectorExprs.l2SqToLit(probeVec.cast("array<double>"), c).as("d"),
        lit(i).as("cell"))
    }
    val probedCells = slice(array_sort(array(cellDists.toIndexedSeq: _*)), 1, nprobe)
    val p = probes.select(probeId.cast("long").as("query_id"),
      probeVec.cast("array<double>").as("q"),
      explode(transform(probedCells, s => s.getField("cell"))).as("cell"))
      .filter(col("q").isNotNull)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    assigned.join(p, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q"), col("v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rk"))
  }

  /** Distributed Lloyd's k-means over the FULL embedding corpus — the
    * clustering verb behind semantic dedup buckets, topic-balanced
    * sampling and IVF cell training at corpus scale (where [[trainIvf]]'s
    * driver-side sample is the cheap approximation, this is the exact
    * loop). Deterministic: centroids init from the k LOWEST-id vectors
    * and every step is argmin/mean arithmetic, so two runs (and the SQL
    * oracle) agree bit-for-bit.
    *
    * 100 TB shape: per iteration, ONE row-scale pass — assignment is the
    * [[cellOf]] codegen argmin over broadcast centroid literals, and the
    * centroid update is a posexplode + groupBy(cluster, dim) partial-agg
    * (k·dim cells cross the wire, not vectors); the k·dim driver state is
    * guarded. Empty clusters keep their previous centroid. The projected
    * corpus is persisted (MEMORY_AND_DISK) across the iters+1 scans when
    * `persistBase` is on (default) — turn it off at true 100 TB where
    * nothing fits and the cache is pure spill churn. Returns one
    * row per cluster: (cluster, n, inertia) with inertia = Σ L2² to the
    * FINAL centroid (the convergence readout), ordered by cluster. */
  def kmeans(corpus: DataFrame, id: Column, vec: Column, k: Int,
             iters: Int = 5, maxKDim: Long = 4000000L,
             persistBase: Boolean = true): DataFrame =
    lloydAssign(corpus, id, vec, k, iters, maxKDim, persistBase)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia"))
      .orderBy(col("cluster"))

  /** The [[kmeans]] loop, returning the final per-vector assignment
    * (id, v, cluster, d2) instead of the cluster summary — the bucketing
    * input of [[Dedup.semanticDedup]]. */
  def kmeansAssign(corpus: DataFrame, id: Column, vec: Column, k: Int,
                   iters: Int = 5, maxKDim: Long = 4000000L,
                   persistBase: Boolean = true): DataFrame =
    lloydAssign(corpus, id, vec, k, iters, maxKDim, persistBase)

  /** [[kmeansAssign]] with MULTI-ASSIGNMENT: each vector additionally
    * carries its top-`probes` nearest-centroid bucket indices (`buckets`,
    * ascending distance; buckets[0] == cluster). The SemDeDup
    * boundary-recall fix [[Dedup.semanticDedup]] builds on: a near-dup
    * pair split by ONE k-means boundary still shares a bucket when both
    * sides probe their 2 nearest centroids. ONE argmin sweep: cluster is
    * buckets(0) (the kernels share the tie-break — spec-pinned), so the
    * final pass costs the same as single assignment. Returns
    * (id, v, cluster, buckets). */
  def kmeansAssignProbes(corpus: DataFrame, id: Column, vec: Column, k: Int,
                         iters: Int = 5, probes: Int = 2,
                         maxKDim: Long = 4000000L,
                         persistBase: Boolean = true): DataFrame = {
    require(probes >= 1 && probes <= k,
      s"kmeans: probes must be in [1, k=$k], got $probes")
    val (base, centroids) =
      lloydFit(corpus, id, vec, k, iters, maxKDim, persistBase)
    base.withColumn("buckets",
        graft.expr.VectorExprs.nearestCentroids(col("v"), centroids, probes))
      .select(col("id"), col("v"),
        element_at(col("buckets"), 1).as("cluster"), col("buckets"))
  }

  private def lloydAssign(corpus: DataFrame, id: Column, vec: Column,
                          k: Int, iters: Int, maxKDim: Long,
                          persistBase: Boolean = true): DataFrame = {
    val (base, centroids) =
      lloydFit(corpus, id, vec, k, iters, maxKDim, persistBase)
    base.withColumn("__best",
        graft.expr.VectorExprs.nearestCentroid(col("v"), centroids))
      .select(col("id"), col("v"),
        col("__best").getField("cluster").as("cluster"),
        col("__best").getField("d").as("d2"))
  }

  /** The shared Lloyd fit: prepares (and optionally persists) the
    * projected corpus, runs `iters` assignment/update rounds, and returns
    * (base frame, final centroid table). */
  private def lloydFit(corpus: DataFrame, id: Column, vec: Column,
                       k: Int, iters: Int, maxKDim: Long,
                       persistBase: Boolean): (DataFrame, Array[Array[Double]]) = {
    require(k >= 2, s"kmeans: k must be >= 2, got $k")
    require(iters >= 1, s"kmeans: iters must be >= 1, got $iters")
    val base = corpus.select(id.cast("long").as("id"),
        vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    // the projected corpus is re-scanned iters+1 times (one assignment
    // pass per iteration + the final assignment) — persist it for the
    // fits-in-memory case; MEMORY_AND_DISK falls back gracefully and at
    // true 100 TB the flag turns the bracket off (nothing to cache).
    // Registered with Ckpt so the storage is swept at the query boundary
    // even though the final assignment DataFrame still reads from it.
    if (persistBase) {
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Ckpt.register(base)
    }
    val init = base.orderBy(col("id")).limit(k).collect()
    require(init.length == k, s"kmeans: corpus has only ${init.length} vectors")
    var centroids = init.map(_.getSeq[Double](1).toArray)
    val dim = centroids.head.length
    require(k.toLong * dim <= maxKDim,
      s"kmeans: k x dim = ${k.toLong * dim} exceeds maxKDim=$maxKDim — " +
        "the centroid state broadcasts into codegen; shrink k or raise the cap")
    // (d2 to nearest, nearest cluster) as one codegen argmin pass over the
    // centroid TABLE (single reference object — no per-row struct array,
    // codegen size independent of k; tie-break identical to the previous
    // array_min-over-structs form)
    def assigned(cs: Array[Array[Double]]): DataFrame =
      base.withColumn("__best",
          graft.expr.VectorExprs.nearestCentroid(col("v"), cs))
        .select(col("id"), col("v"),
          col("__best").getField("cluster").as("cluster"),
          col("__best").getField("d").as("d2"))
    for (_ <- 1 to iters) {
      val sums = assigned(centroids)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
        .collect()
      val next = centroids.map(_.clone)
      sums.foreach { r =>
        next(r.getAs[Int]("cluster"))(r.getAs[Int]("pos")) =
          r.getAs[Double]("s") / r.getAs[Long]("c")
      }
      centroids = next
    }
    (base, centroids)
  }

  /** Cluster-quality readout for [[kmeans]] against a ground-truth (or
    * weak-label) column — the "did the embedding clusters mean anything"
    * check before clusters drive semantic dedup or sampling quotas:
    * per-cluster majority label + purity, and the overall purity and
    * NMI (mutual information over the cluster × label cells, normalized
    * by √(H_cluster·H_label)).
    *
    * 100 TB shape: the [[kmeans]] loop + ONE groupBy to (cluster, label)
    * cells — label cardinality unbounded in the aggregate, the collected
    * cell table is k × labels (guarded). Returns one row per cluster:
    * (cluster, n, majority_label, cluster_purity, purity, nmi). */
  def kmeansEval(corpus: DataFrame, id: Column, vec: Column, label: Column,
                 k: Int, iters: Int = 5, maxCells: Long = 100000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val lab = corpus.select(id.cast("long").as("id"),
      label.cast("string").as("lbl"))
    val cells = LocalCollapse.within(
      lloydAssign(corpus, id, vec, k, iters, 4000000L)
        .join(lab, "id")
        .filter(col("lbl").isNotNull)
        .groupBy(col("cluster"), col("lbl")).agg(count(lit(1)).as("c"))
        .orderBy(col("cluster"), col("lbl")), maxCells)(
      s"kmeans_eval: more than $maxCells (cluster x label) cells — the " +
        "label column is not categorical; bin it first")
    val n = cells.map(_.getAs[Long]("c")).sum.toDouble
    require(n > 0, "kmeans_eval: no labeled vectors")
    val byCluster = cells.groupBy(_.getAs[Int]("cluster"))
    val byLabel = cells.groupBy(_.getAs[String]("lbl"))
      .map { case (l, rs) => l -> rs.map(_.getAs[Long]("c")).sum }
    val purity = byCluster.values
      .map(_.map(_.getAs[Long]("c")).max).sum / n
    def h(counts: Iterable[Long]): Double =
      -counts.map(_ / n).filter(_ > 0).map(p => p * math.log(p)).sum
    val hc = h(byCluster.values.map(_.map(_.getAs[Long]("c")).sum))
    val hl = h(byLabel.values)
    val mi = cells.map { r =>
      val pcl = r.getAs[Long]("c") / n
      val pc = byCluster(r.getAs[Int]("cluster"))
        .map(_.getAs[Long]("c")).sum / n
      val pl = byLabel(r.getAs[String]("lbl")) / n
      pcl * math.log(pcl / (pc * pl))
    }.sum
    val nmi = if (hc > 0 && hl > 0) mi / math.sqrt(hc * hl) else 0.0
    val out = byCluster.toSeq.sortBy(_._1).map { case (cl, rs) =>
      val nc = rs.map(_.getAs[Long]("c")).sum
      val top = rs.maxBy(r => (r.getAs[Long]("c"), r.getAs[String]("lbl")))
      (cl, nc, top.getAs[String]("lbl"), top.getAs[Long]("c").toDouble / nc,
        purity, nmi)
    }
    out.toDF("cluster", "n", "majority_label", "cluster_purity", "purity",
      "nmi")
  }

  /** Maximal-marginal-relevance selection (Carbonell-Goldstein 1998) —
    * the diversity-aware re-ranker between a retriever's top-N and a
    * context window: greedily pick k items maximizing
    *
    *   λ·rel(i) − (1−λ)·max_{j ∈ selected} cos(v_i, v_j)
    *
    * (the first pick has no diversity term — score is λ·rel alone). Ties
    * break by id ascending at every step — deterministic, replayable.
    *
    * 100 TB shape: the candidate pool is a DISTRIBUTED top-`maxCandidates`
    * by (rel desc, id) — Spark's TakeOrdered, no full sort — and only that
    * bounded pool is collected for the O(N·k·dim) greedy sweep; the knob
    * is the standard retrieve-then-rerank contract (N ≈ 100-1000), not a
    * scale escape. Returns one row per pick:
    * (rank, id, relevance, mmr_score), rank 1..k in pick order. */
  def mmrSelect(df: DataFrame, id: Column, vec: Column, rel: Column,
                k: Int, lambda: Double = 0.5,
                maxCandidates: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1, s"mmr: k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmr: lambda must be in [0, 1], got $lambda")
    require(maxCandidates >= k,
      s"mmr: maxCandidates=$maxCandidates must be >= k=$k")
    val pool = df.filter(id.isNotNull && vec.isNotNull && rel.isNotNull)
      .select(id.cast("long").as("id"),
        vec.cast("array<double>").as("v"), rel.cast("double").as("rel"))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(maxCandidates)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    require(pool.nonEmpty, "mmr: no candidates")
    // a mismatched-dimension vector would otherwise be silently scored
    // on a prefix, masking upstream data errors in the selection order
    val dim = pool.head._2.length
    pool.find(_._2.length != dim).foreach { case (bid, bv, _) =>
      throw new IllegalArgumentException(
        s"mmr: candidate $bid has dimension ${bv.length}, expected $dim " +
          "(all pooled vectors must share one dimension)")
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = a.length
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Double], Double, Double)] // id, v, rel, score
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (selected.length < math.min(k, pool.length)) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < remaining.length) {
        val (cid, cv, crel) = remaining(i)
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(cv, s._2)).max
        val score = lambda * crel - (1.0 - lambda) * maxSim
        // tie-break by id ascending (strict > keeps the earliest best,
        // and remaining stays rel-desc/id-asc ordered only per pool; the
        // explicit id compare makes the rule independent of pool order)
        if (score > bestScore ||
            (score == bestScore && bestIdx >= 0 && cid < remaining(bestIdx)._1)) {
          bestIdx = i; bestScore = score
        }
        i += 1
      }
      val (bid, bv, brel) = remaining.remove(bestIdx)
      selected += ((bid, bv, brel, bestScore))
      ()
    }
    selected.zipWithIndex
      .map { case ((sid, _, srel, sc), r) => (r + 1, sid, srel, sc) }
      .toSeq.toDF("rank", "id", "relevance", "mmr_score")
  }
}
