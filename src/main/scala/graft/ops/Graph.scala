package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality over an edge table — the quality/authority signal a
  * web-scale curation pipeline derives from its link graph (page
  * authority as a document-quality prior, canonical-member election
  * inside [[Dedup]] duplicate clusters, influence scoring over citation
  * or interaction graphs). Beyond-reference: the reference stops at the
  * SQL tier; here the classic power-iteration PageRank as iterative
  * DataFrame joins, the same loop shape GraphX/Pregel lowers to.
  */
object Graph {

  /** PageRank by `iterations` rounds of power iteration (Page et al.
    * 1999), damping `d`:
    *
    *   r₀(v)    = 1/N
    *   r_{t+1}(v) = (1−d)/N + d·( Σ_{u→v} r_t(u)/outdeg(u) + D_t/N )
    *
    * where D_t is the total rank mass on dangling nodes (no out-edges),
    * redistributed uniformly — total rank stays exactly 1 every round.
    * Parallel edges collapse (the classic unweighted form); self-loops
    * count. Deterministic: pure join/aggregate arithmetic, a fixed
    * iteration count, so two runs (and the SQL oracle's unrolled
    * replay) agree to float accumulation order.
    *
    * 100 TB shape: per iteration ONE edges⋈ranks join (both sides hash
    * on the SAME node key every round — AQE reuses the exchange) + one
    * dst-keyed partial agg; node/edge cardinality unbounded, O(1) driver
    * state (N and the dangling mass are single-row aggs). Ranks persist
    * per round with the Lloyd release bracket (previous round dropped as
    * soon as the next materializes). Returns (node, rank), one row per
    * node. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               damping: Double = 0.85, iterations: Int = 10,
               maxLocalEdges: Int = 1000000): DataFrame = {
    require(damping > 0.0 && damping < 1.0,
      s"pagerank: damping must be in (0, 1), got $damping")
    require(iterations >= 1 && iterations <= 200,
      s"pagerank: iterations must be in [1, 200], got $iterations")
    val e = edges.filter(src.isNotNull && dst.isNotNull)
      .select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .distinct()
      .persist()
    try {
      // driver power iteration over the collapsed edge list
      // (graft.stats.LocalCollapse): identical formula, dangling
      // redistribution and iteration count; edges iterate sorted, so the
      // result is run-to-run deterministic; a null endpoint falls back
      for (es <- graft.stats.LocalCollapse.collect(e, maxLocalEdges)
           if !es.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val ids = es.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
          .distinct.sorted
        require(ids.nonEmpty, "pagerank: the edge table is empty")
        val idx = ids.zipWithIndex.toMap
        val nn = ids.length
        val deg = new Array[Long](nn)
        es.foreach(r => deg(idx(r.getLong(0))) += 1)
        val eIdx = es.map(r => (idx(r.getLong(0)), idx(r.getLong(1))))
          .sorted
        var rank = Array.fill(nn)(1.0 / nn)
        var it = 0
        while (it < iterations) {
          var dangling = 0.0
          var i = 0
          while (i < nn) { if (deg(i) == 0) dangling += rank(i); i += 1 }
          val contrib = new Array[Double](nn)
          var j = 0
          while (j < eIdx.length) {
            val (s0, d0) = eIdx(j)
            contrib(d0) += rank(s0) / deg(s0)
            j += 1
          }
          val next = new Array[Double](nn)
          i = 0
          while (i < nn) {
            next(i) = (1.0 - damping) / nn +
              damping * (contrib(i) + dangling / nn)
            i += 1
          }
          rank = next
          it += 1
        }
        val spark = edges.sparkSession
        import spark.implicits._
        return ids.indices.map(i => (ids(i), rank(i))).toSeq
          .toDF("node", "rank")
      }
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val outDeg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      // (node, deg) with deg NULL on dangling nodes; persisted — it is
      // the join probe side of every round
      val base = nodes.join(outDeg, Seq("node"), "left").persist()
      try {
      val n = base.count()
      require(n > 0, "pagerank: the edge table is empty")
      // the iterate is a localCheckpoint, not a persist: ONE eager action
      // per round materializes it AND truncates the lineage, so every
      // round's plan has the same tiny shape (scan ⋈ scan → agg → join)
      // instead of a growing persisted chain — with the per-round
      // dangling job skipped on dangling-free graphs (the common case
      // after link cleaning), a round costs exactly one job
      var ranks = graft.Ckpt.register(base.select(col("node"), col("deg"),
        lit(1.0 / n).as("rank")).localCheckpoint(true))
      val hasDangling = base.filter(col("deg").isNull).limit(1).count() > 0
      var it = 0
      while (it < iterations) {
        val dangling =
          if (!hasDangling) 0.0
          else ranks.filter(col("deg").isNull)
            .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
        val contrib = e.join(ranks, e("src") === ranks("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") / col("deg")).as("in_mass"))
        val next = base.join(contrib, Seq("node"), "left")
          .select(col("node"), col("deg"),
            (lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("in_mass"), lit(0.0)) +
                lit(dangling / n))).as("rank"))
          .localCheckpoint(true)
        graft.Ckpt.release(ranks)
        ranks = graft.Ckpt.register(next)
        it += 1
      }
      ranks.select(col("node"), col("rank"))
      } finally {
        base.unpersist()
        ()
      }
    } finally {
      e.unpersist()
      ()
    }
  }
}
