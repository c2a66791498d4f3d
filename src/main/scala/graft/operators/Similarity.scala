package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Similarity search over embedding columns (charter E2).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k for a bounded query set —
  *    broadcast the queries, stream the corpus once. Linear in corpus size,
  *    no shuffle on the corpus side; correct baseline and the oracle target.
  *  - [[lshTopK]]: sign-random-projection bucketing — corpus is hashed to
  *    2^nPlanes buckets, candidates only join within a bucket. This is the
  *    100 TB path: candidate generation is a hash-partitioned equi-join, and
  *    recall is traded via nPlanes/multi-probe rather than scan width.
  */
object Similarity {

  // NOTE on checkpoint parallelism: localCheckpoint freezes the producing
  // plan's partition layout, and AQE's byte-based coalescing collapses
  // small embedding frames to ONE partition. That is the RIGHT layout for
  // the checkpoints here — their consumers are shuffle-bound (cell
  // self-joins, Lloyd micro-aggregates), and re-spreading them measured
  // 1.5-1.7x SLOWER (task overhead, extra shuffle). It is exactly wrong
  // when the consumer is compute-dense per row — see
  // Pq.ivfPqTopKWithCentroids, whose pq_encode scan measured 4.8 s -> 0.6 s
  // after re-spreading. Choose per consumer, not by rule.

  /** Exact top-k cosine neighbors for each query vector.
    * @param queries (id, embedding) — must be small enough to broadcast.
    * @param corpus  (id, embedding)
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .withColumn("norm_a", Vectors.norm2(col("ea")))
    val c = corpus.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      .withColumn("norm_b", Vectors.norm2(col("eb")))
    val scored = c.join(broadcast(q), col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("norm_a"), col("norm_b")), 4))
    topKCut(scored, "cosine", k, Seq("b_id", "cosine"))
  }

  /** The per-query exact top-k cut shared by every search lane here and by
    * [[graft.operators.Pq.searchCore]]: row-identical to
    * `row_number().over(partitionBy(a_id).orderBy(desc(scoreCol), b_id)) <= k`
    * — (scoreCol, b_id) is a strict total order within a query because b_id
    * is unique per group — but through the `topk_struct` bounded-heap
    * aggregate (w1b pins the window ≡ heap equivalence), so map-side combine
    * ships at most k rows per (query, partition) into the shuffle and no
    * task ever sorts a query's full candidate extent (guide §2.3: aggregate
    * before you shuffle). The old window form shuffled and fully sorted
    * every scored candidate row.
    * Output: (a_id, rn, <payload...>) in rank order.
    */
  private[operators] def topKCut(scored: DataFrame, scoreCol: String, k: Int,
                                 payload: Seq[String]): DataFrame =
    scored.groupBy(col("a_id"))
      .agg(call_function("topk_struct",
        struct(col(scoreCol), (-col("b_id")).as("_neg_id")),
        struct(payload.map(col): _*), lit(k)).as("_top"))
      .select(col("a_id"), posexplode(col("_top")))
      .select(col("a_id") +: ((col("pos") + 1).cast("int").as("rn")) +:
        payload.map(c => col(s"col.$c").as(c)): _*)

  /** Query → nProbe nearest cells, the probe cut shared by [[ivfProbeScore]]
    * and [[graft.operators.Pq.searchCore]]: row-identical to the old
    * `row_number().over(partitionBy(vec_id).orderBy(desc(csim), cell)) <= nProbe`
    * window — cells are unique per query, so (csim, -cell) is a strict total
    * order — but as a `topk_struct` bounded heap, so the probe exchange
    * carries ≤ nProbe rows per query instead of shuffling and sorting all
    * |queries|·nCells scored rows (guide §2.3). The query embedding rides in
    * the payload (constant per group) so consumers need no join-back.
    * Output: (vec_id, cell, embedding), one row per probed cell.
    */
  private[operators] def probeCells(queries: DataFrame, centroids: DataFrame,
                                    nProbe: Int): DataFrame =
    queries.select(col("vec_id"), col("embedding"))
      .join(broadcast(centroids.select(col("cell"), col("cvec"))))
      .withColumn("csim", round(Vectors.cosine(col("embedding"), col("cvec")), 4))
      .groupBy(col("vec_id"))
      .agg(call_function("topk_struct",
        struct(col("csim"), (-col("cell")).as("_negcell")),
        struct(col("cell"), col("embedding")), lit(nProbe)).as("_top"))
      .select(col("vec_id"), explode(col("_top")).as("_c"))
      .select(col("vec_id"), col("_c.cell").as("cell"),
        col("_c.embedding").as("embedding"))

  /** Hard-negative mining — the contrastive-training shape: for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT label
    * (the examples a contrastive loss most needs, "near but not the same
    * class"). The label-mismatch predicate joins BEFORE ranking, so
    * same-label near-neighbors never crowd negatives out of the top-k.
    * Exact form, [[bruteForceTopK]]'s lane: broadcast the bounded query
    * set, stream the corpus once — the oracle target and recall ground
    * truth for [[hardNegativesLsh]].
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("label").as("_label_a"))
      .withColumn("norm_a", Vectors.norm2(col("ea")))
    val c = corpus.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("label").as("neg_label"))
      .withColumn("norm_b", Vectors.norm2(col("eb")))
    val scored = c.join(broadcast(q),
        col("a_id") =!= col("b_id") && col("_label_a") =!= col("neg_label"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("norm_a"), col("norm_b")), 4))
    topKCut(scored, "cosine", k, Seq("b_id", "neg_label", "cosine"))
  }

  /** [[hardNegatives]] on the 100 TB lane: candidates from the [[lshTopK]]
    * bucket equi-join (hash-partitioned, never all-pairs), label filter as
    * a join residual. Same output shape; recall < 1 by construction —
    * acceptable for mining (a missed near-negative is replaced by the next
    * one down, not a correctness failure), and the lever is nPlanes, as in
    * all SRP ops here.
    */
  def hardNegativesLsh(queries: DataFrame, corpus: DataFrame, k: Int,
                       nPlanes: Int = 6, dims: Int = 64): DataFrame = {
    val q = queries.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("label").as("_label_a"))
      .withColumn("bucket", Vectors.lshBucketFast(col("ea"), nPlanes, dims))
      .withColumn("norm_a", Vectors.norm2(col("ea")))
    val c = corpus.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("label").as("neg_label"))
      .withColumn("bucket", Vectors.lshBucketFast(col("eb"), nPlanes, dims))
      .withColumn("norm_b", Vectors.norm2(col("eb")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("a_id") =!= col("b_id") && col("_label_a") =!= col("neg_label"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("norm_a"), col("norm_b")), 4))
    topKCut(scored, "cosine", k, Seq("b_id", "neg_label", "cosine"))
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket.
    * Same output shape as [[bruteForceTopK]]; recall < 1 by construction.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 6,
              dims: Int = 64): DataFrame = {
    val q = queries.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .withColumn("bucket", Vectors.lshBucketFast(col("ea"), nPlanes, dims))
      .withColumn("norm_a", Vectors.norm2(col("ea")))
    val c = corpus.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      .withColumn("bucket", Vectors.lshBucketFast(col("eb"), nPlanes, dims))
      .withColumn("norm_b", Vectors.norm2(col("eb")))
    val scored = c.join(broadcast(q), Seq("bucket")).filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("norm_a"), col("norm_b")), 4))
    topKCut(scored, "cosine", k, Seq("b_id", "cosine", "bucket"))
  }

  /** Multi-probe LSH top-k: like [[lshTopK]], but each query also probes
    * the `nPlanes` buckets at Hamming distance 1 from its own (every
    * single-bit flip) — the standard recall lever that does NOT grow the
    * candidate sets of every corpus point the way fewer planes would:
    * corpus vectors still live in exactly one bucket, so a (query, corpus)
    * pair meets in at most one probed bucket (no dedup needed) and
    * candidate volume is (nPlanes+1)·E[bucket population] per query.
    * Flipping every bit (rather than the lowest-margin bits) keeps the
    * probe set a pure integer function of the bucket id, so the oracle
    * reproduces it in SQL.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
                        nPlanes: Int = 6, dims: Int = 64): DataFrame = {
    val q0 = queries.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .withColumn("bucket0", Vectors.lshBucketFast(col("ea"), nPlanes, dims))
      .withColumn("norm_a", Vectors.norm2(col("ea")))
    val probes = col("bucket0") +:
      (0 until nPlanes).map(j => col("bucket0").bitwiseXOR(lit(1L << j)))
    val q = q0.withColumn("bucket", explode(array(probes: _*))).drop("bucket0")
    val c = corpus.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      .withColumn("bucket", Vectors.lshBucketFast(col("eb"), nPlanes, dims))
      .withColumn("norm_b", Vectors.norm2(col("eb")))
    val scored = c.join(broadcast(q), Seq("bucket")).filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("norm_a"), col("norm_b")), 4))
    topKCut(scored, "cosine", k, Seq("b_id", "cosine"))
  }

  /** The trivially-deterministic coarse quantizer (first `nCells` corpus
    * vectors as centroids). Kept as the ORACLE-EXPRESSIBLE quantizer: the
    * e2f recall gate reproduces it in ANSI SQL to hash-check the whole IVF
    * assignment/probe/score pipeline; production search uses
    * [[kmeansCentroids]].
    */
  def firstNCentroids(corpus: DataFrame, nCells: Int): DataFrame =
    corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("long").as("cell"), col("embedding").as("cvec"))

  /** Spherical k-means centroids from a deterministic corpus sample: rows
    * are ordered by xxhash64(vec_id) (a pseudo-random but reproducible
    * total order) and the first `sampleSize` taken — a per-partition top-n
    * (TakeOrdered), one linear scan, no full shuffle, so sampling cost is
    * corpus-scan-bounded at 100 TB. Lloyd iterations run on the driver over
    * the ≤ sampleSize × dims sample (micro-seconds of work), assignment by
    * dot on L2-normalized vectors (= cosine), empty cells keep their
    * previous centroid, means re-normalized each round — the standard
    * spherical k-means for cosine IVF. Deterministic end to end: sample
    * order, init (first `nCells` sample points), and iteration order are
    * all functions of the data alone.
    */
  /** The deterministic driver sample both index trainers draw: first
    * `sampleSize` rows in (xxhash64(vec_id), vec_id) order — a per-partition
    * TakeOrdered, one linear scan, no full shuffle. Exposed so a query that
    * builds BOTH an IVF quantizer and a PQ codebook over the same corpus
    * (c8, e2l) collects the sample ONCE instead of running two identical
    * corpus scans (r22; guide §2.4 — don't compute the same thing twice).
    */
  private[graft] def orderedSample(corpus: DataFrame,
                                   sampleSize: Int): Array[Array[Double]] =
    corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  def kmeansCentroids(corpus: DataFrame, nCells: Int,
                      sampleSize: Int = 2048, iters: Int = 8): DataFrame = {
    require(nCells >= 1 && sampleSize >= nCells && iters >= 0,
      s"nCells=$nCells sampleSize=$sampleSize iters=$iters")
    kmeansCentroidsFromSample(corpus.sparkSession,
      orderedSample(corpus, sampleSize), nCells, iters)
  }

  /** [[kmeansCentroids]]' Lloyd loop over a CALLER-SUPPLIED sample (the
    * [[orderedSample]] frame) — bit-identical centroids when handed the same
    * sample the inline form would collect (SimilaritySpec pins it).
    */
  private[graft] def kmeansCentroidsFromSample(
      spark: org.apache.spark.sql.SparkSession,
      sample: Array[Array[Double]], nCells: Int, iters: Int = 8): DataFrame = {
    require(nCells >= 1 && iters >= 0, s"nCells=$nCells iters=$iters")
    require(sample.nonEmpty, "kmeansCentroids: empty corpus")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    val k = math.min(nCells, pts.length)
    var cents: Array[Array[Double]] = pts.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.NegativeInfinity
        for (c <- 0 until k) {
          var d = 0.0; var i = 0
          while (i < p.length) { d += p(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c))
      }
    }
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat)) }.toSeq
      .toDF("cell", "cvec")
  }

  /** DISTRIBUTED spherical k-means quantizer — the >2048-cell path that
    * lifts [[kmeansCentroids]]' driver-sample boundary (round-14; the
    * carried-over limit [[cellsForCorpus]] documents). Everything that
    * scales with the CORPUS stays in Spark; only nCells×dims state — the
    * same frame every IVF consumer must broadcast anyway — ever touches the
    * driver:
    *
    *  - Sample: deterministic hash-threshold admission
    *    (xxhash64(vec_id) mod 2^20 < frac·2^20) — one distributed scan, no
    *    global sort/limit single-partition bottleneck; expected size
    *    nCells·samplePerCell, the standard IVF training budget.
    *  - Assign: [[assignCells]] (broadcast centroids, rounded csim, ties by
    *    cell) over the sample — per-iteration cost sample×nCells scored
    *    rows, i.e. iters·samplePerCell·nCells² dots total: the canonical
    *    flat-quantizer training cost. Beyond ~10^5 cells a hierarchical
    *    (two-level) trainer is the next lever; that boundary is this
    *    scaladoc, not a silent clamp.
    *  - Update: [[labelCentroids]] — EXACT fixed-point per-cell means, so
    *    the new centroids are bit-identical under any partitioning — then
    *    only nCells×dims mean rows collect for renormalization. Empty cells
    *    keep their previous centroid (same rule as the driver Lloyd).
    *
    * Deterministic end to end: sample membership, seeds (first nCells in
    * xxhash64 order), assignment tie-breaks, and the fixed-point sums are
    * all functions of the data alone.
    */
  def kmeansCentroidsScalable(corpus: DataFrame, nCells: Int,
                              samplePerCell: Int = 64, iters: Int = 4,
                              scaleBits: Int = 20,
                              knownCount: Option[Long] = None): DataFrame = {
    require(nCells >= 1 && samplePerCell >= 1 && iters >= 0,
      s"nCells=$nCells samplePerCell=$samplePerCell iters=$iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val unit = (1L << scaleBits).toDouble
    // knownCount: callers that already counted (semanticDedupAuto) skip the
    // second scan a computed (non-parquet-metadata) frame would pay here
    val n = knownCount.getOrElse(corpus.count())
    require(n > 0, "kmeansCentroidsScalable: empty corpus")
    val den = 1L << 20
    val target = nCells.toLong * samplePerCell
    // max(1, ·): integer division floors to 0 once n > den·target — exactly
    // the huge-corpus regime this trainer exists for — and a zero numerator
    // would admit NOTHING and return an empty centroid frame silently; at
    // num=1 the expected sample is n/2^20 rows, above target but bounded
    val num = if (target >= n) den else math.max(1L, den * target / n)
    def normalize(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum)
      if (nn == 0.0) v else v.map(_ / nn)
    }
    // the returned frame is driver-built, so nothing reads the sample after
    // the Lloyd loop
    Materialize.scoped {
      val sampleDf = Materialize.frame( // re-read every Lloyd iteration
        if (num >= den) corpus.select(col("vec_id"), col("embedding"))
        else corpus.select(col("vec_id"), col("embedding"))
          .filter(pmod(xxhash64(col("vec_id")), lit(den)) < lit(num)))
      var cents: Array[(Long, Array[Float])] = sampleDf
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nCells)
        .select("embedding").collect()
        .map(r => normalize(r.getSeq[Float](0).map(_.toDouble).toArray).map(_.toFloat))
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      // the hash sample is statistical: an unluckily thin draw seeds fewer
      // cells than asked — fail loudly rather than return a silently coarser
      // quantizer (E[sample] ≥ max(target, n/2^20) makes this ~impossible,
      // which is exactly why a silent occurrence must not pass). The guard
      // checks the full seed count, not mere non-emptiness: 0 < rows < nCells
      // is exactly the silent-coarsening outcome (round-14 advice).
      require(cents.length == nCells,
        s"kmeansCentroidsScalable: sample seeded ${cents.length} of $nCells cells " +
          s"(n=$n, num=$num) — corpus or sample too thin for the asked cell count")
      for (_ <- 0 until iters) {
        val assigned = assignCells(sampleDf, cents.toSeq.toDF("cell", "cvec"))
        val byCell = labelCentroids(assigned, "cell", "embedding", scaleBits)
          .select(col("label"), col("pos"), col("mean_fp"))
          .collect() // ≤ nCells×dims rows — the broadcast-bounded frame
          .groupBy(_.getLong(0))
        cents = cents.map { case (c, prev) =>
          byCell.get(c) match {
            case Some(rows) =>
              val v = new Array[Double](prev.length)
              rows.foreach(r => v(r.getInt(1)) = r.getLong(2) / unit)
              (c, normalize(v).map(_.toFloat))
            case None => (c, prev) // empty cell: keep previous centroid
          }
        }
      }
      cents.toSeq
    }.toDF("cell", "cvec")
  }

  /** IVF ANN core: a coarse quantizer frame (cell, cvec) assigns every
    * corpus vector to its nearest-centroid cell; a query probes its
    * `nProbe` nearest cells and scores only those inverted lists. Cell
    * similarity is rounded to 4 decimals before ranking (ties broken by
    * cell id) so assignment is reproducible across engines — the e2f
    * oracle replays it in SQL. Recall is traded via nProbe, candidate work
    * is |corpus|·nProbe/nCells-proportional rather than |corpus|² — the
    * other canonical 100 TB path next to [[lshTopK]].
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           centroids: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val corpusCells = assignCells(corpus.select(col("vec_id"), col("embedding")),
        centroids)
      .withColumn("nrm", Vectors.norm2(col("embedding")))
    // dedupPairs = false: assignCells ends in a groupBy(vec_id), so the
    // inline corpus side is one-row-per-vector by construction
    ivfProbeScore(queries, corpusCells, centroids, k, nProbe,
      dedupPairs = false)
  }

  /** IVF search over a PERSISTED corpus assignment
    * ([[buildSemanticIndex]]'s layout) — the corpus side is read, not
    * re-assigned, so a query batch costs |queries|·nProbe inverted-list
    * probes against an index built once: the one-index-two-consumers
    * story (incremental dedup gate + ANN search share the same parquet).
    * Centroids come from the index itself (they ARE the cell geometry).
    */
  def ivfTopKIndexed(indexDir: String, queries: DataFrame, k: Int,
                     nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    ivfProbeScore(queries, spark.read.parquet(s"$indexDir/assigned"),
      spark.read.parquet(s"$indexDir/centroids"), k, nProbe)
  }

  /** The probe/score core shared by [[ivfTopKWithCentroids]] (corpus
    * assigned inline) and [[ivfTopKIndexed]] (assignment read back):
    * queries probe their nProbe nearest cells, score only those inverted
    * lists, rounded cosine, ties by id. `corpusCells` carries
    * (cell, vec_id, embedding, nrm) — the index row layout.
    *
    * `dedupPairs`: a corpus vector lives in exactly ONE cell, so a
    * (query, corpus) pair meets at most once and the scored stream is
    * duplicate-free — EXCEPT when `corpusCells` is a persisted extent,
    * whose append-then-marker crash window tolerates duplicate ROWS
    * (search stays exact via this distinct — the documented contract).
    * Inline callers pass false (one-row-per-vector guaranteed by
    * assignCells' groupBy) and skip a whole exchange of the scored
    * candidates; the indexed entry point keeps true.
    */
  private def ivfProbeScore(queries: DataFrame, corpusCells: DataFrame,
                            centroids: DataFrame, k: Int, nProbe: Int,
                            dedupPairs: Boolean = true): DataFrame = {
    val bSide = corpusCells
      .select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nrm").as("norm_b"))
    val queryCells = probeCells(queries, centroids, nProbe)
      .select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("ea"))
      .withColumn("norm_a", Vectors.norm2(col("ea")))
    val scored = bSide.join(broadcast(queryCells), Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("norm_a"), col("norm_b")), 4))
      .select("a_id", "b_id", "cosine")
    topKCut(if (dedupPairs) scored.distinct() else scored,
      "cosine", k, Seq("b_id", "cosine"))
  }

  /** Production IVF ANN: [[ivfTopKWithCentroids]] over sampled spherical
    * k-means centroids ([[kmeansCentroids]]).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame =
    ivfTopKWithCentroids(queries, corpus, kmeansCentroids(corpus, nCells), k, nProbe)

  /** Planes per SRP band so that EXPECTED bucket population is bounded by a
    * constant: with 2^planes buckets per band and near-uniform sign bits,
    * E[population] = N/2^planes ≤ `targetPop`, so per-band candidate volume
    * is Σ n_i² ≈ N·targetPop — LINEAR in N. A fixed plane count (the old
    * nPlanes=4 ⇒ 16 buckets forever) makes population N/16 and candidates
    * quadratic; scaling planes with ceil(log2(N/targetPop)) is what keeps
    * the operator alive at 100 TB. Clamped to [4, 48] (a 48-plane band key
    * still packs into the long bucket id, and 2^48 buckets covers any
    * corpus this engine targets at targetPop ≥ 1).
    */
  def planesForCorpus(n: Long, targetPop: Int = 64): Int = {
    require(n >= 0 && targetPop >= 1, s"n=$n targetPop=$targetPop")
    val need = math.max(1L, (n + targetPop - 1) / targetPop) // buckets needed
    val p = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, need - 1)) // ceil(log2)
    math.min(48, math.max(4, p))
  }

  /** Embedding-cosine near-duplicate pairs with MULTI-BAND sign-random-
    * projection blocking: `nBands` independent SRP tables of `planesPerBand`
    * hyperplanes each (band t uses plane indices t·b .. t·b+b−1, so bands
    * are deterministic but mutually independent); a pair is a candidate if
    * it shares a bucket in ANY band, and every candidate is verified with
    * the exact cosine. The same amplification layout as MinHash-LSH banding:
    * for a pair at angle θ (per-plane agreement p = 1 − θ/π), recall is
    * 1 − (1 − p^b)^T — raising bands T recovers the recall that raising
    * planes b (needed for bounded buckets, see [[planesForCorpus]]) takes
    * away. Candidate ids are deduped BEFORE embeddings join in (same
    * pattern as editDistanceNearDup: vectors cross the verify shuffle once
    * per side, and a pair colliding in several bands is verified once).
    */
  def cosineNearDupPairsBanded(corpus: DataFrame, threshold: Double,
                               planesPerBand: Int, nBands: Int,
                               dims: Int = 64): DataFrame =
    bandedNearDupCore(corpus, threshold, nBands,
      t => Vectors.lshBucketFast(col("embedding"), planesPerBand, dims,
        firstPlane = t * planesPerBand),
      planesPerBand)

  /** Shared multi-band SRP skeleton for [[cosineNearDupPairsBanded]] and
    * [[cosineNearDupPairsPortable]]: only the per-band bucket EXPRESSION
    * differs between the scale path (float dots) and the witness (fixed
    * point) — one body keeps their "identical layout" contract true by
    * construction instead of by parallel maintenance.
    */
  private def bandedNearDupCore(corpus: DataFrame, threshold: Double,
                                nBands: Int,
                                bucketForBand: Int => org.apache.spark.sql.Column,
                                planesPerBand: Int): DataFrame = {
    require(planesPerBand >= 1 && planesPerBand <= 48, s"planesPerBand=$planesPerBand")
    require(nBands >= 1, s"nBands=$nBands")
    // feeds banding AND both verify sides — compute once
    val base = Materialize.frame(corpus.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Vectors.norm2(col("embedding"))))
    val bandCols = (0 until nBands).map { t =>
      struct(lit(t).as("band"), bucketForBand(t).as("bucket"))
    }
    // ids only in the candidate join; embeddings stay out of the explode.
    // Materialized: both self-join sides consume it, and Spark has no
    // cross-branch CSE — without the barrier the nBands×planes bucket dots
    // run twice per vector (same pattern as the simhash sigs frame).
    val banded = Materialize.frame(base.select(col("vec_id"),
      explode(array(bandCols: _*)).as("bd"))
      .select(col("vec_id"), col("bd.band").as("band"), col("bd.bucket").as("bucket")))
    val cands = banded.select(col("band"), col("bucket"), col("vec_id").as("a"))
      .join(banded.select(col("band"), col("bucket"), col("vec_id").as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cands
      .join(base.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na")), "a")
      .join(base.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb")), "b")
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("na"), col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** [[cosineNearDupPairsBanded]] with the plane count scaled to the corpus
    * ([[planesForCorpus]]): one count() sizes the corpus (cheap — parquet
    * row-group metadata), then expected bucket population is ≤ `targetPop`
    * regardless of N. Deterministic: the count, the planes, and the bands
    * are all functions of the input alone.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         nBands: Int = 8, targetPop: Int = 64,
                         dims: Int = 64): DataFrame = {
    val planes = planesForCorpus(corpus.count(), targetPop)
    cosineNearDupPairsBanded(corpus, threshold, planes, nBands, dims)
  }

  /** [[cosineNearDupPairsBanded]]'s PORTABLE witness (the d2b/d3c
    * discipline): the identical multi-band SRP layout — band t uses plane
    * indices t·b .. t·b+b−1, candidates share a bucket in ANY band, exact
    * cosine verify — but bucket signs come from
    * [[graft.functions.Vectors.lshBucketFixedPoint]]'s exact BIGINT
    * projections instead of the float dot, so every arithmetic step (the
    * fixed-point floor, the integer plane mix, the sign, the bit pack, the
    * band equi-join, the rounded cosine) reproduces in ANSI SQL and the
    * surviving pair set hash-matches the oracle exactly. The scale path
    * stays [[cosineNearDupPairs]] (codegen'd float dots, corpus-scaled
    * planes); this twin closes the one operator family whose bucketing
    * arithmetic had no DuckDB-checked sibling.
    */
  def cosineNearDupPairsPortable(corpus: DataFrame, threshold: Double,
                                 planesPerBand: Int = 6, nBands: Int = 4,
                                 dims: Int = 64, scaleBits: Int = 20): DataFrame =
    bandedNearDupCore(corpus, threshold, nBands,
      t => Vectors.lshBucketFixedPoint(col("embedding"), planesPerBand, dims,
        firstPlane = t * planesPerBand, scaleBits = scaleBits),
      planesPerBand)

  /** SemDeDup-style semantic near-dedup (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embedding space with a
    * quantizer frame `(cell, cvec)`, then prune near-duplicates WITHIN
    * each cluster only. Pair space collapses from N² to Σ|cell|² — with
    * nCells scaled so E[|cell|] = N/nCells is bounded, candidate volume is
    * LINEAR in N, and the expensive cosine verify never crosses cluster
    * boundaries. Centroids broadcast; the intra-cell self-join is a
    * hash-partitioned equi-join on `cell`.
    *
    * Assignment is [[ivfTopKWithCentroids]]'s keep=1 chain verbatim
    * (rounded csim, ties by cell) so it is reproducible across engines —
    * the d9 oracle replays it in SQL over [[firstNCentroids]]; production
    * swaps in [[kmeansCentroids]] (engine-specific, gated by spec like
    * e2h). Drop policy: a vector is dropped iff some SMALLER-id vector in
    * its cell has rounded cosine ≥ `threshold` — the deterministic
    * keep-smallest greedy (NOT transitive closure; [[graft.operators.Dedup.connectedComponents]]
    * is the cross-cluster CC path when chains matter). Dense cells are the
    * documented density lever (nCells); compose with
    * [[cosineNearDupPairsBanded]] inside a cell if a single cell ever
    * outgrows its pair budget.
    *
    * @return survivors `(cell, vec_id)` — one row per kept vector.
    */
  /** Nearest-centroid cell assignment — [[semanticDedup]]'s keep=1 chain
    * (rounded csim, ties by cell id, centroids broadcast) as a standalone
    * step so the scale probe can measure Σ|cell|² without a pair join.
    * Returns one `(cell, vec_id, embedding)` row per corpus vector.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cell"), col("cvec"))
    // argmax as ONE max(struct) aggregate instead of the old
    // row_number(partitionBy vec_id, orderBy desc(csim), cell) === 1 window:
    // the window shuffled and sorted |corpus| x nCells scored rows; the max
    // aggregate partial-combines map-side, so the exchange carries ONE row
    // per vector. Row-identical: cells are unique per vector, so
    // (csim, -cell) is a strict total order — the struct max is exactly the
    // window's (desc csim, asc cell) winner, including the null/NaN corners
    // (struct ordering puts a null csim smallest = the window's
    // desc-nulls-last loser; NaN largest = desc-first winner, same pick).
    corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(cents))
      .withColumn("csim", round(Vectors.cosine(col("embedding"), col("cvec")), 4))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cell")).as("_negcell"),
        col("cell"), col("embedding"))).as("_best"))
      .select(col("_best.cell").as("cell"), col("vec_id"),
        col("_best.embedding").as("embedding"))
  }

  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
                    threshold: Double): DataFrame = {
    // one row per vector after crn=1; feeds both pair-join sides AND the
    // anti-join, so materialize once (no cross-branch CSE in Spark)
    val assigned = Materialize.frame(assignCells(corpus, centroids)
      .withColumn("nrm", Vectors.norm2(col("embedding"))))
    val dropped = assigned
      .select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"),
        col("nrm").as("na"))
      .join(assigned.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", round(
        Vectors.cosine(col("ea"), col("eb"), col("na"), col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("cell"), col("b").as("vec_id")).distinct()
    assigned.select(col("cell"), col("vec_id"))
      .join(dropped, Seq("cell", "vec_id"), "left_anti")
  }

  /** Incremental [[semanticDedup]] — the d8 daily-ingest discipline for
    * embeddings: admit only delta vectors with NO ≥`threshold` neighbor in
    * (already-admitted corpus ∪ smaller-id delta) within their cell. The
    * corpus never self-compares (it is already deduped); per-batch cost is
    * |delta| assignment + delta ⨝ same-cell-corpus + delta intra-cell
    * pairs — never corpus × corpus. Centroids must be the SAME frame the
    * corpus was assigned with (the persisted quantizer is part of the
    * index state, exactly like d8's banding layout).
    *
    * When every delta id exceeds every corpus id, the admitted set equals
    * one batch [[semanticDedup]] over (admitted corpus ∪ delta) restricted
    * to the delta (keep-smallest sees corpus ids first; no survivor has a
    * smaller-id ≥threshold neighbor, so none is re-dropped) —
    * SimilaritySpec pins that equivalence. Over the RAW pre-dedup union the
    * two can differ: cosine is not transitive, so a DROPPED corpus vector
    * vetoes its delta neighbors in batch but is absent from the index here
    * (the same asymmetry as d8's banding index; the admitted-corpus frame
    * is the contract).
    *
    * @param corpus already-admitted survivors `(vec_id, embedding)`.
    * @return admitted delta rows `(cell, vec_id)`.
    */
  def semanticDedupIncremental(corpus: DataFrame, delta: DataFrame,
                               centroids: DataFrame,
                               threshold: Double): DataFrame =
    incrementalAdmit(
      assignCells(corpus, centroids)
        .withColumn("nrm", Vectors.norm2(col("embedding"))),
      delta, centroids, threshold)

  /** The admission core shared by [[semanticDedupIncremental]] (corpus
    * assigned inline) and [[semanticDedupIncrementalIndexed]] (corpus
    * assignment read back from the persisted index): delta rows admitted
    * iff no rounded-cosine ≥ `threshold` neighbor in (corpusCells ∪
    * smaller-id delta) within their cell. Both sides carry
    * (cell, vec_id, embedding, nrm) — the index row layout — and the
    * admitted rows are returned IN that layout so the streaming gate can
    * append them to the index without re-assigning (public entry points
    * project down to (cell, vec_id)).
    */
  private def incrementalAdmitFull(corpusCells: DataFrame, delta: DataFrame,
                                   centroids: DataFrame,
                                   threshold: Double): DataFrame = {
    val cSide = corpusCells
      .select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb"),
        col("nrm").as("nb"))
    // 3 consumers below
    val deltaCells = Materialize.frame(assignCells(delta, centroids)
      .withColumn("nrm", Vectors.norm2(col("embedding"))))
    val dSide = deltaCells.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    def hits(other: DataFrame, cond: Column): DataFrame =
      dSide.join(other, Seq("cell"))
        .filter(cond)
        .withColumn("cosine", round(
          Vectors.cosine(col("ea"), col("eb"), col("na"), col("nb")), 4))
        .filter(col("cosine") >= threshold)
        .select(col("cell"), col("a").as("vec_id"))
    val vsCorpus = hits(cSide, lit(true))
    val vsDelta = hits(
      deltaCells.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb")),
      col("b") < col("a"))
    deltaCells
      .join(vsCorpus.union(vsDelta).distinct(), Seq("cell", "vec_id"), "left_anti")
  }

  private def incrementalAdmit(corpusCells: DataFrame, delta: DataFrame,
                               centroids: DataFrame,
                               threshold: Double): DataFrame =
    incrementalAdmitFull(corpusCells, delta, centroids, threshold)
      .select(col("cell"), col("vec_id"))

  /** Persist the semantic-dedup index — the embedding twin of
    * [[graft.operators.Dedup.buildDedupIndex]]: the admitted corpus's cell
    * assignment (cell, vec_id, embedding, nrm) under `centroids`, plus the
    * centroid frame ITSELF. The quantizer is index state: gating a later
    * delta under different centroids silently invalidates every persisted
    * cell membership (the d8 banding-layout contract), so the indexed gate
    * always reads the centroids back from the index rather than taking
    * them as a parameter.
    */
  def buildSemanticIndex(corpus: DataFrame, centroids: DataFrame,
                         dir: String): Unit = {
    // a REBUILD invalidates any committed-batch markers a streaming gate
    // left behind (same contract as Dedup.buildDedupIndex)
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    graft.CommittedBatches.clear(dir, conf)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // a rebuild also invalidates any PQ extent: the old codes were encoded
    // from the OLD corpus/centroids, and silently serving them against the
    // new assignment would be the exact staleness this delete exists to
    // prevent — callers re-run Pq.addPqExtent (Pq.buildPqIndex does);
    // until then the compressed search fails loudly on the missing extent
    Seq("codes", "codebooks").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (fs.exists(p)) fs.delete(p, true)
    }
    centroids.select(col("cell"), col("cvec"))
      .write.mode("overwrite").parquet(s"$dir/centroids")
    assignCells(corpus, centroids)
      .withColumn("nrm", Vectors.norm2(col("embedding")))
      .write.mode("overwrite").parquet(s"$dir/assigned")
  }

  /** Gate a delta against a persisted semantic index — per-batch cost is
    * |delta| assignment + delta ⨝ same-cell index rows, never corpus²;
    * the corpus side is READ, not recomputed (the point of persisting).
    * Does NOT mutate the index; call [[appendToSemanticIndex]] with the
    * admitted rows to admit them (same build/gate/append split as d8).
    *
    * `excludeIds` (one `vec_id` column) removes those ids from the index
    * side before gating — the streaming-replay idempotency hook: a
    * replayed at-least-once batch whose vectors a crashed attempt already
    * appended must not be vetoed by its own index entries.
    */
  def semanticDedupIncrementalIndexed(indexDir: String, delta: DataFrame,
                                      threshold: Double,
                                      excludeIds: Option[DataFrame] = None): DataFrame =
    semanticDedupIncrementalIndexedFull(indexDir, delta, threshold, excludeIds)
      .select(col("cell"), col("vec_id"))

  /** [[semanticDedupIncrementalIndexed]] returning admitted rows in the
    * FULL index layout (cell, vec_id, embedding, nrm) — the streaming
    * gate's entry point, so its index append reuses this gate's assignment
    * instead of paying a second |batch| × nCells scoring pass.
    */
  private[graft] def semanticDedupIncrementalIndexedFull(
      indexDir: String, delta: DataFrame, threshold: Double,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val spark = delta.sparkSession
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val corpusCells = excludeIds.fold(
      spark.read.parquet(s"$indexDir/assigned"))(ids =>
      spark.read.parquet(s"$indexDir/assigned")
        .join(ids.select("vec_id"), Seq("vec_id"), "left_anti"))
    incrementalAdmitFull(corpusCells, delta, cents, threshold)
  }

  /** Append rows ALREADY in index layout (cell, vec_id, embedding, nrm) —
    * the streaming gate's append path ([[appendToSemanticIndex]] is the
    * re-assigning form for raw vectors).
    *
    * PQ coherence: when the index carries a PQ extent
    * ([[Pq.addPqExtent]]'s `codebooks` + `codes`), the appended rows are
    * ALSO encoded under the persisted codebooks and appended to `codes` —
    * otherwise every append would silently shrink [[Pq.ivfPqTopKIndexed]]'s
    * effective corpus. Codes are written FIRST: a crash between the two
    * writes then leaves only orphan code rows, which the exact re-rank's
    * join against `assigned` drops (bounded noise, replayed away by the
    * streaming gate's marker protocol) — the reverse order would leave
    * raw rows the compressed scan can never see, a silent permanent miss.
    */
  private[graft] def appendAssignedToSemanticIndex(assigned: DataFrame,
                                                   dir: String): Unit = {
    val spark = assigned.sparkSession
    val cbPath = new org.apache.hadoop.fs.Path(s"$dir/codebooks")
    val fs = cbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(cbPath)) {
      // two writes below — compute the gate chain once
      val rows = Materialize.frame(assigned
        .select(col("cell"), col("vec_id"), col("embedding"), col("nrm")))
      val model = Pq.PqModel.fromDF(spark.read.parquet(s"$dir/codebooks"))
      rows.withColumn("codes", Pq.encodeCol(col("embedding"), model))
        .select(col("cell"), col("vec_id"), col("codes"))
        .write.mode("append").parquet(s"$dir/codes")
      rows.write.mode("append").parquet(s"$dir/assigned")
    } else {
      assigned.select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
        .write.mode("append").parquet(s"$dir/assigned")
    }
  }

  /** Admit vectors into the persisted index (parquet append — linear in
    * the admitted batch): assignment under the INDEX's own centroid frame.
    * PQ-extent coherence per [[appendAssignedToSemanticIndex]].
    */
  def appendToSemanticIndex(admitted: DataFrame, dir: String): Unit = {
    val spark = admitted.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    appendAssignedToSemanticIndex(
      assignCells(admitted, cents)
        .withColumn("nrm", Vectors.norm2(col("embedding"))),
      dir)
  }

  /** Compact the semantic index's `assigned` extent exactly-distinct — the
    * [[graft.operators.Dedup.compactDedupIndex]] analogue this index needs
    * for the same reason: per-batch appends accumulate a file set each, and
    * the streaming gate's append-then-marker crash window tolerates — but
    * stores — duplicate rows (gating/search stay exact via distinct-based
    * consumers; the ROWS still cost every subsequent join until compacted).
    * Same rename-aside ladder, readable at every crash point; single-writer
    * (serialize against gate batches). A PQ `codes` extent, when present,
    * is compacted alongside (it accumulates the same appends). Returns
    * (rows before, rows after) of the `assigned` extent.
    */
  def compactSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, numFiles: Int = 4): (Long, Long) = {
    // the PQ codes extent accumulates the same per-batch appends (and the
    // same crash-window duplicates) as `assigned` — compact it alongside
    val codes = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val fs = codes.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(codes)) Dedup.compactDistinctDir(spark, dir, "codes", numFiles)
    Dedup.compactDistinctDir(spark, dir, "assigned", numFiles)
  }

  /** Cells per corpus so that E[|cell|] ≈ `targetCell`: [[semanticDedup]]'s
    * pair volume is Σ|cell|² ≈ N·targetCell — LINEAR in N — when the cell
    * count scales as N/targetCell (the [[planesForCorpus]] discipline for
    * the quantizer). `maxCells` defaults to 2048 — the [[kmeansCentroids]]
    * driver-sample boundary (more cells than sample points would be
    * degenerate). [[semanticDedupAuto]] lifts the cap and routes >2048-cell
    * corpora to [[kmeansCentroidsScalable]] (round 14), so the boundary is
    * now a quantizer DISPATCH line, not a silent return to quadratic pair
    * volume.
    */
  def cellsForCorpus(n: Long, targetCell: Int = 256,
                     maxCells: Int = 2048): Int = {
    require(targetCell >= 1, s"targetCell must be positive, got $targetCell")
    require(maxCells >= 1, s"maxCells must be positive, got $maxCells")
    math.max(1, math.min(maxCells,
      math.ceil(n.toDouble / targetCell).toInt))
  }

  /** The [[kmeansCentroids]] driver-sample boundary: beyond this many cells
    * [[semanticDedupAuto]] switches to the distributed trainer.
    */
  val DriverSampleMaxCells: Int = 2048

  /** Production [[semanticDedup]]: spherical-k-means quantizer with the
    * cell count scaled to the corpus ([[cellsForCorpus]]) — one count()
    * (parquet row-group metadata), then intra-cell pruning at bounded
    * expected cell size. Up to [[DriverSampleMaxCells]] cells the
    * driver-sample Lloyd trains the quantizer; beyond it (>2048·targetCell
    * rows, the clamp that used to cap this lane at ~524k vectors)
    * [[kmeansCentroidsScalable]] takes over, so E[|cell|] stays ≈targetCell
    * — and pair volume linear — at ANY corpus size. Deterministic end to
    * end (count, cells, sample, iterations are all functions of the data
    * alone). The oracle-checked d9 entry runs the [[firstNCentroids]]
    * quantizer instead; this lane's survivor behavior is spec-gated (the
    * e2h discipline).
    */
  def semanticDedupAuto(corpus: DataFrame, threshold: Double,
                        targetCell: Int = 256): DataFrame = {
    val n = corpus.count()
    val cells = cellsForCorpus(n, targetCell, maxCells = Int.MaxValue)
    val cents =
      if (cells <= DriverSampleMaxCells) kmeansCentroids(corpus, cells)
      else kmeansCentroidsScalable(corpus, cells, knownCount = Some(n))
    semanticDedup(corpus, cents, threshold)
  }

  /** Per-label embedding centroids in exact fixed point: each component is
    * floored to `2^scaleBits` units (power-of-two scaling of a float is
    * EXACT in double arithmetic, and floor is unambiguous on every engine),
    * then summed as integers — so the result is bit-identical under any
    * partitioning, merge order, or engine, unlike a double SUM whose last
    * ulps are merge-order-dependent. At 2^-20 resolution the quantization
    * error (≤ 1e-6 per component) is far below float32's own noise floor —
    * reproducibility costs nothing real.
    *
    * Long-form output (label, pos, n, sum_fp, mean_fp): one row per
    * (label, dimension), mean in the same fixed-point units via exact
    * integer division. One posexplode + one map-side-combined aggregate;
    * shuffle is |labels|·dims rows.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
                     scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 30, s"scaleBits in [0,30], got $scaleBits")
    val unit = (1L << scaleBits).toDouble
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("q", floor(col("x").cast("double") * lit(unit)).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_fp"))
      .withColumn("mean_fp", expr("sum_fp div n"))
      .orderBy("label", "pos")
  }
}
