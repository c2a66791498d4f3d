package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for crawl curation — the "which pages are worth
  * crawling / keeping" authority signal (Common Crawl publishes exactly
  * this class of ranking over its host graph): PageRank power iteration
  * with damping, in FIXED-POINT integer arithmetic.
  *
  * Why fixed point (the emb1 centroid discipline applied to iteration):
  * float PageRank sums in-contributions per node, and float addition order
  * differs across engines/partitionings — ulp drift COMPOUNDS over
  * iterations, so no rounding discipline at the end can pin the result.
  * With ranks in integer micro-units (1e9 = rank 1.0), per-edge
  * contribution `rank div outdeg` and damping `(85 · Σ) div 100` are exact
  * integer ops: every iteration is bit-identical under any partitioning,
  * any engine, any summation order — the whole power iteration
  * hash-matches an unrolled SQL restatement.
  *
  * Distributed shape (100 TB framing): per iteration ONE shuffle (the
  * contribution aggregation keyed by dst) plus an equi-join of ranks
  * against the static (src, dst, outdeg) edge relation — no driver-side
  * state, no collect, rank frame is |nodes| rows. Iteration count is the
  * caller's knob (fixed, small — authority scoring saturates fast); each
  * iteration snapshots the rank frame ([[Materialize.round]]) so lineage
  * stays flat (the §6.1b CC lesson).
  *
  * Dangling nodes (no out-edges) leak their mass — the standard simplified
  * treatment for authority SCORING (relative order is what crawl
  * prioritization consumes); nodes with no in-edges hold the base mass.
  */
object Centrality {

  /** Fixed-point damped PageRank over an edge list.
    *
    * @param edges      (src, dst) long columns; self-loops and duplicate
    *                   edges are removed here (one edge = one vote)
    * @param nodes      one `id` column — the rank domain (nodes with no
    *                   edges still hold base mass)
    * @param iterations power-iteration count
    * @return (id, rank) — rank in 1e-9 units, rank 1.0 == 1000000000
    */
  def pageRankFixedPoint(edges: DataFrame, nodes: DataFrame,
                         iterations: Int): DataFrame = {
    require(iterations >= 0 && iterations <= 64, s"iterations=$iterations")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val withDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .transform(Materialize.frame) // static across iterations; computed once
    val ids = Materialize.frame(nodes.select(col("id")))
    var rank = ids.withColumn("rank", lit(1000000000L))
    var prevCkpt: Option[DataFrame] = None
    for (_ <- 0 until iterations) {
      val contrib = withDeg
        .join(rank.select(col("id").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("id"), expr("rank div outdeg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      rank = ids.join(contrib, Seq("id"), "left")
        // overflow tripwire (the groupAdvantage discipline): a hub's
        // summed in-mass beyond 2^63/85 would wrap `85 * s` under
        // non-ANSI Long math into a garbage (negative) rank — raise
        // instead. One comparison per node; s is never negative.
        .withColumn("_s", when(col("s") > lit(Long.MaxValue / 85),
          raise_error(lit("pageRankFixedPoint: damping would overflow " +
            "(node in-mass > 2^63/85 micro-units) — lower the fixed-point scale")))
          .otherwise(coalesce(col("s"), lit(0L))))
        .select(col("id"),
          (lit(150000000L) + expr("85 * _s div 100")).as("rank"))
        .transform(Materialize.round)
      // release the superseded round's snapshot: only in-loop checkpoints —
      // the first input shares ids' RDD
      prevCkpt.foreach(Materialize.release)
      prevCkpt = Some(rank)
    }
    // withDeg is never referenced by the returned frame (at iterations == 0
    // it was computed eagerly and never read) — release it unconditionally;
    // ids backs the returned frame's RDD when iterations == 0, so only its
    // release stays behind the guard
    Materialize.release(withDeg)
    if (iterations > 0) Materialize.release(ids) // returned checkpoint is self-contained
    rank
  }
}
