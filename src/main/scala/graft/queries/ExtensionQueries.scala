package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Text, Vectors}
import graft.operators.{Bpe, Dedup, Frequency, Integrity, LanguageModel, Layout, Materialize, Multimodal, Pq, Preference, Prepare, Retrieval, Similarity}

/** Charter extension operators (SURVEY.md §2.9 E-series + the LLM-pipeline
  * D/T/M-series): dedup, similarity search, text analysis, multimodal
  * plumbing, JSON access, windowed aggregation. EVERY lane is
  * oracle-checked (round 16): ops ANSI-SQL can restate are hash-matched
  * directly; engine-specific ops (MinHash/SimHash/SRP/IVF — they hinge on
  * xxhash64 / float hyperplanes / sampled centroids) emit QUALITY-GATE
  * rows instead — oracle-exact ground-truth counts plus booleans the
  * oracle pins TRUE (precision / structural-recall / score-plumbing /
  * determinism), the e4/e2h pattern — so a regression in the
  * engine-specific machinery still turns its CORRECTNESS row red.
  */
object ExtensionQueries {
  import ParityQueries.QFn

  private val stopList = Text.enStopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** bpe2's FIXED merge table (applier-only lane — bpe3 learns its own):
    * plausible English digram merges, including three second-order ones
    * (th+e, an+d, in+g) so the chain exercises merged-symbol reuse. Shared
    * with the oracle generator so both sides apply literally the same
    * merges in the same order.
    */
  private val bpe2Merges = Seq("t" -> "h", "th" -> "e", "i" -> "n",
    "a" -> "n", "o" -> "n", "e" -> "r", "an" -> "d", "in" -> "g")

  /** bpe3 trains this many merges — mirrored by the oracle's unroll depth. */
  private val bpe3NMerges = 8

  /** c11/c12's deterministic caption→image assignment: injective,
    * order-preserving, into a DISTINCT id space (so the hand-off join is
    * real, not structural). ONE statement on the Spark side — both lanes
    * and every inline translation derive from it; the oracle restates it
    * as the literal `2 * doc_id + 13` its hash checks pin.
    */
  private def toMediaId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c * 2 + 13

  /** Corpus-stride anchor for the quadratic-candidate PORTABLE witnesses
    * (round-18 verdict item 2 — e2c's round-16 lesson applied before a
    * witness hides its own quadratic): a deterministic 1-in-⌈n/cap⌉
    * id-residue slice. The witnesses' FIXED band-key spaces (d3c: 256
    * 8-bit keys; e2c2: 64 buckets/band) make their candidate volume grow
    * ~n²/keys — fine at witness scale, a probe-dominating quadratic at
    * ×10. With `cap` = the sf0.1 corpus size the slice is the identity at
    * BOTH standard scales (stride 1 ⇒ CORRECTNESS rows unchanged) and
    * caps the witness corpus at its sf0.1 size above them. The oracle
    * applies the identical arithmetic ([[strideAnchorSql]]) — integer
    * ceil-div agrees with SQL `ceil(n/cap.0)` for every n ≥ 0 — so the
    * hash check stays exact over the anchored slice. The SCALE paths
    * (d3/d3b xxhash64 2^16-key bands, e2c corpus-scaled planes) stay
    * uncapped: their key spaces grow with the corpus by design.
    */
  private def strideAnchor(df: DataFrame, idCol: String, cap: Long): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val stride = math.max(1L, (df.count() + cap - 1) / cap)
    if (stride == 1L) df else df.filter(col(idCol) % stride === 0L)
  }

  /** [[strideAnchor]] restated as an ANSI subquery (same ceil-div, same
    * residue-0 slice) — drop-in FROM source for the witness oracles.
    */
  private def strideAnchorSql(table: String, idCol: String, cap: Long): String =
    s"(SELECT t.* FROM $table t CROSS JOIN (SELECT greatest(CAST(ceil(count(*) / $cap.0) AS BIGINT), 1) AS st FROM $table) n WHERE t.$idCol % n.st = 0)"

  /** d3c / e2c2 anchor caps = the sf0.1 corpus sizes (identity at both
    * oracle-checked scales; SURVEY §6.1i records the measured effect).
    */
  private val docWitnessCap = 5000L
  private val embWitnessCap = 2000L

  /** The t2 quality-feature chain, shared with c5's pruning lane. The
    * quality combine runs in exact DECIMAL: 0.5*stop + 0.5*(1-punct) hits
    * exact half-way 5th decimals (e.g. 0.52565) where double rounding
    * diverges between engines; the 4-decimal ratios cast losslessly to
    * DECIMAL(9,4), and both Spark and DuckDB round decimals half-up
    * identically.
    */
  private[graft] def qualityFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("avg_token_len",
        round(Text.totalTokenLen(col("toks")).cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"), 4))
      .withColumn("punct_ratio",
        round(Text.punctCount(col("text")).cast("double") / greatest(col("n_chars"), lit(1)).cast("double"), 4))
      .withColumn("stop_ratio",
        round(Text.stopwordHits(col("toks")).cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"), 4))
      .withColumn("quality",
        round((col("stop_ratio").cast("decimal(9,4)")
          + lit(1).cast("decimal(9,4)")
          - col("punct_ratio").cast("decimal(9,4)"))
          * lit(BigDecimal("0.5")), 4).cast("double"))

  val queries: Map[String, QFn] = Registry.uniqueMap[QFn]("ExtensionQueries.queries")(
    // E1 exact dedup: deterministic keeper + dup count per (lang, source).
    "e1_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), Seq("lang", "source"), "doc_id")
        .orderBy("lang", "source")),

    // E1b exact content dedup by md5 fingerprint (hash-group, 32-byte key).
    "e1b_dedup_fingerprint" -> ((s, d) =>
      Dedup.exactByFingerprint(Tables.documents(s, d), "text", "doc_id")
        .select("fp", "doc_id", "n_dupes")
        .orderBy("fp")),

    // E2 exact brute-force cosine top-5 for a bounded query set.
    "e2_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .orderBy("a_id", "rn")
    }),

    // E2b LSH-bucketed ANN — the scale path (no oracle: bucket fn is ours).
    "e2b_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .orderBy("a_id", "rn")
    }),

    // E2i hard-negative mining — the contrastive-training shape: top-5
    // most-similar corpus vectors with a DIFFERENT label per query, the
    // label filter applied BEFORE ranking. Exact lane (e2's brute-force
    // discipline), oracle-checked.
    "e2i_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 32), emb, 5)
        .orderBy("a_id", "rn")
    }),

    // E2j hard negatives on the LSH lane — bucket equi-join candidates
    // (e2b's scale path) with the label residual; oracle-checked via the
    // same double-arithmetic bucket restatement as e2b.
    "e2j_hard_negatives_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesLsh(emb.filter(col("vec_id") < 32), emb, 5)
        .orderBy("a_id", "rn")
    }),

    // E2g multi-probe LSH ANN — each query also probes all Hamming-1
    // buckets; oracle-checked (the probe set is integer arithmetic on the
    // bucket id, reproduced in SQL).
    "e2g_ann_multiprobe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 32), emb, 5)
        .orderBy("a_id", "rn")
    }),

    // E2d production IVF ANN (sampled k-means quantizer, default nProbe=4),
    // ORACLE-GATED (round 16 — previously rows-only): which neighbors the
    // probed cells surface is quantizer-dependent, but everything AROUND
    // them is checkable. The gate row pins n_queries (oracle-exact),
    // k_ok (every query returns exactly k=5 rows), scores_ok (each
    // returned cosine equals an independent recompute from the raw
    // embeddings RE-JOINED BY ID — the id-plumbing check: a wrong
    // embedding attached to a b_id through the index machinery
    // hash-mismatches), rank_ok (rn is exactly row_number over
    // (cosine DESC, b_id) within each query), and recall_ok at a 0.45
    // floor (measured 0.625 sf0.01 / 0.569 sf0.1 at nProbe=4 — the
    // deliberately-lean probe setting that shows the recall knob; the
    // tight-margin recall tripwire is e2h at nProbe=8).
    "e2d_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val approx = Materialize.frame(Similarity.ivfTopK(q, emb, 5))
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      val kStats = approx.groupBy(col("a_id")).agg(count(lit(1)).as("_k"))
        .agg(coalesce(expr("bool_and(_k = 5)"), lit(false)).as("_all_k5"),
          count(lit(1)).as("_nq_seen"))
      val rechecked = approx
        .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("_ea")), "a_id")
        .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("_eb")), "b_id")
        .withColumn("_rc", round(Vectors.cosine(col("_ea"), col("_eb")), 4))
      val scoresOk = rechecked
        .agg(coalesce(expr("bool_and(_rc = cosine)"), lit(false)).as("scores_ok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a_id")).orderBy(desc("cosine"), col("b_id"))
      val rankOk = approx.withColumn("_rn2", row_number().over(w))
        .agg(coalesce(expr("bool_and(_rn2 = rn)"), lit(false)).as("rank_ok"))
      val exact = Similarity.bruteForceTopK(q, emb, 5).select("a_id", "b_id")
      val recall = exact
        .join(approx.select(col("a_id"), col("b_id"), lit(1L).as("hit")),
          Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("_n_true"), sum(coalesce(col("hit"), lit(0L))).as("_n_hit"))
      nQ.crossJoin(kStats).crossJoin(scoresOk).crossJoin(rankOk).crossJoin(recall)
        .select(col("n_queries"),
          (col("_all_k5") && col("_nq_seen") === col("n_queries")).as("k_ok"),
          col("scores_ok"), col("rank_ok"),
          (col("_n_hit").cast("double")
            >= lit(0.45) * col("_n_true").cast("double")).as("recall_ok"))
    }),

    // E2e ANN quality readout: recall@5 of the LSH path against the exact
    // brute-force top-5 — the metric that justifies trading scan width for
    // buckets at scale. Pure composition of two oracle-covered results, so
    // the recall itself is oracle-checked too.
    "e2e_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .select(col("a_id"), col("b_id"))
      val approx = Similarity.lshTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("a_id", "b_id"), "left")
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum(col("n_hit")).cast("double") / sum(col("n_true")), 4).as("recall_at_5"))
    }),

    // E2f IVF quality readout: recall@5 of the IVF probe/score pipeline
    // against the exact brute-force top-5, run over the ORACLE-EXPRESSIBLE
    // first-N quantizer (firstNCentroids) so the whole assignment → probe →
    // inverted-list scoring → dedup → top-k chain is hash-checked in SQL.
    // Production search (e2d) swaps in sampled k-means centroids, whose
    // recall floor SimilaritySpec gates instead.
    "e2f_ivf_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .select(col("a_id"), col("b_id"))
      val approx = Similarity.ivfTopKWithCentroids(emb.filter(col("vec_id") < 32), emb,
        Similarity.firstNCentroids(emb, 16), 5, 4)
        .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("a_id", "b_id"), "left")
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum(col("n_hit")).cast("double") / sum(col("n_true")), 4).as("recall_at_5"))
    }),

    // E2h PRODUCTION-IVF recall gate: e2f oracle-checks the IVF chain with
    // the oracle-expressible firstN quantizer; this gate covers the path a
    // user actually runs — sampled k-means centroids (e2d) — whose recall
    // value is engine-specific (centroids from the deterministic 2048-row
    // sample), so the oracle pins n_true (SQL-recomputable) plus
    // recall_ok at a 0.6 floor. nProbe=8/16 cells, measured 0.85 (sf0.01)
    // and 0.81 (sf0.1) on this corpus — the 0.2+ margin is what makes the
    // gate a regression tripwire rather than a knife-edge (the old
    // nProbe=4 setting measured 0.625 over a 0.5 floor, a 20% silent-
    // degradation window). Deterministic per dataset, and the testdata is
    // byte-stable across rounds: e2e/e2f emit exact recall values that
    // hash-match every round. A quantizer or probe regression turns the
    // row red.
    "e2h_ivf_sampled_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .select(col("a_id"), col("b_id"))
      val approx = Similarity.ivfTopK(emb.filter(col("vec_id") < 32), emb, 5,
          nCells = 16, nProbe = 8)
        .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("_n_hit"))
        .select(col("n_true"),
          (col("_n_hit").cast("double") / col("n_true").cast("double")
            >= lit(0.6)).as("recall_ok"))
    }),

    // E2k the e2h recall gate over the DISTRIBUTED quantizer
    // ([[Similarity.kmeansCentroidsScalable]], round 14): the >2048-cell
    // trainer that lifts the driver-sample clamp must clear the same 0.6
    // recall floor on the real corpus at BOTH gate scales (driver sf0.01,
    // bench sf0.1) — the driver-checked evidence that the scalable path is
    // production-grade, not just spec-grade. Oracle pins n_true (SQL-
    // recomputable ground truth) + recall_ok TRUE, the e2h pattern.
    "e2k_ivf_scalable_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .select(col("a_id"), col("b_id"))
      val approx = Similarity.ivfTopKWithCentroids(emb.filter(col("vec_id") < 32), emb,
          Similarity.kmeansCentroidsScalable(emb, 16, samplePerCell = 64, iters = 4),
          5, nProbe = 8)
        .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("_n_hit"))
        .select(col("n_true"),
          (col("_n_hit").cast("double") / col("n_true").cast("double")
            >= lit(0.6)).as("recall_ok"))
    }),

    // E2l the e2h recall gate over the COMPRESSED lane (IVF-PQ,
    // [[Pq.ivfPqTopKWithCentroids]], round 15): ADC over 16x256 product-
    // quantized codes generates the shortlist — the candidate scan touches
    // 16 small ints per corpus vector instead of 64 floats — and the
    // exact-cosine re-rank on the top k·8 restores ranking fidelity. The
    // compressed path must clear the same 0.6 recall floor as the raw
    // lanes (e2h/e2k) on the real corpus at both gate scales — measured
    // 0.850 (sf0.01) and 0.806 (sf0.1), EQUAL to the raw IVF lane at the
    // same nProbe (the quantization loses nothing the probe hadn't already
    // traded) on this deliberately PQ-hostile near-uniform corpus. Oracle
    // pins n_true (SQL-recomputable ground truth) + recall_ok TRUE, the
    // e2h pattern. PqSpec pins indexed == inline and the on-disk
    // compression ratio.
    "e2l_ivfpq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
        .select(col("a_id"), col("b_id"))
      // one sample scan for both trainers (the c8 shape; r22, guide §2.4)
      val sample = Similarity.orderedSample(emb, 2048)
      val approx = Pq.ivfPqTopKWithCentroids(emb.filter(col("vec_id") < 32), emb,
          Similarity.kmeansCentroidsFromSample(s, sample, 16),
          Pq.trainFromSample(sample, m = 16, ksub = 256),
          5, nProbe = 8, rerankFactor = 8)
        .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("_n_hit"))
        .select(col("n_true"),
          (col("_n_hit").cast("double") / col("n_true").cast("double")
            >= lit(0.6)).as("recall_ok"))
    }),

    // E2c embedding-cosine near-dup pairs, multi-band SRP blocking with the
    // plane count scaled to the corpus (expected bucket population ≤ 64 at
    // ANY N — the old fixed-4-planes form was 16 constant buckets, i.e.
    // quadratic candidates). 8 bands recover the recall the extra planes
    // cost; 0.4 threshold because the synthetic corpus's cosine ceiling is
    // ~0.51. ORACLE-GATED (round 16 — previously rows-only: the float SRP
    // bucket fn is ours; its fixed-point twin e2c2 is hash-checked): the
    // gate recomputes the exact-cosine ground-truth pair set (all-pairs —
    // quadratic BY DESIGN, it is the verification oracle at gate scale,
    // not the operator; the operator under test stays banded-linear) and
    // pins n_true_pairs (oracle-exact in SQL), precision_ok (every emitted
    // pair is in the truth set with the identical rounded cosine), and
    // recall_ok against a SCALE-ADAPTIVE floor (round 18 — the fixed 0.15
    // floor was calibrated at the small scales' 4-5 plane budgets and the
    // first sf1 hash check broke it: at 20k vectors planesForCorpus gives
    // 9 planes/band, the model recall at θ≈0.4 falls to ~0.14. The d2
    // §6.1h discipline applied: the floor is HALF the SRP banding
    // expectation Σ 1-(1-p^planes)^bands computed in-plan over the
    // anchored truth (p = 1 - acos(cosine)/π). Round 18 set it at one
    // QUARTER, sized for the 0.41-0.57× transfer the period-7 plane bug
    // was depressing (§6.1m falsified the lattice-quantization
    // attribution); with independent planes measured transfer is
    // 0.93-1.02× at sf0.01/sf0.1/sf1 (§6.1k round-19 addendum), so the
    // quarter floor carried ~4× slack and would not have caught a
    // halved-recall regression. Half-expectation keeps ~2× margin at
    // every scale with no constant to re-pin and trips on banding
    // collapse or signature regression. §6.1k records both calibrations;
    // the model-independent hit-count pins in SimilaritySpec stay as the
    // second wire.)
    // Gate shape (revised late round 16): the first gate computed
    // brute-force truth over ALL pairs — verification machinery that was
    // QUADRATIC in the corpus while the operator it verifies is banded
    // (the sf1 probe read the lane 69× at 10× rows, all of it the truth
    // stage). Truth is now anchored to a FIXED 200-vector query set
    // (e2h's sampled-recall discipline): truth volume is 200·n — linear —
    // recall is estimated over anchored pairs, and precision recomputes
    // each EMITTED pair's cosine directly (|emitted| work), so the whole
    // gate now scales like the operator it checks.
    "e2c_embedding_neardup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // planes surfaced here because the recall floor's banding expectation
      // needs the SAME budget the operator banded with
      val planes = Similarity.planesForCorpus(emb.count(), 64)
      val emitted = Similarity.cosineNearDupPairsBanded(emb, 0.4,
        planesPerBand = planes, nBands = 8).transform(Materialize.frame)
      val qa = emb.filter(col("vec_id") < 200)
        .select(col("vec_id").as("a"), col("embedding").as("ea"))
        .withColumn("_na", Vectors.norm2(col("ea")))
      val qb = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
        .withColumn("_nb", Vectors.norm2(col("eb")))
      val truth = qb.join(broadcast(qa), col("a") < col("b"))
        .withColumn("cosine", round(
          Vectors.cosine(col("ea"), col("eb"), col("_na"), col("_nb")), 4))
        .filter(col("cosine") >= 0.4).select("a", "b", "cosine")
        .transform(Materialize.frame)
      val hits = truth.join(emitted.select(col("a"), col("b"), lit(1L).as("hit")),
          Seq("a", "b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("_n_hit"),
          // the SRP banding expectation over the anchored truth, in-plan
          // (the d2 §6.1h pattern): E[hits] = Σ 1-(1-p^planes)^bands
          coalesce(sum(lit(1.0) - pow(lit(1.0) -
            pow(lit(1.0) - acos(col("cosine")) / math.Pi, lit(planes)),
            lit(8))), lit(0.0)).as("_exp"))
      val prec = emitted
        .join(emb.select(col("vec_id").as("a"), col("embedding").as("_ea")), Seq("a"))
        .join(emb.select(col("vec_id").as("b"), col("embedding").as("_eb")), Seq("b"))
        .withColumn("_rc", round(Vectors.cosine(col("_ea"), col("_eb")), 4))
        .agg(coalesce(expr("bool_and(_rc = cosine AND _rc >= 0.4)"), lit(true))
          .as("precision_ok"))
      hits.crossJoin(prec)
        .select(col("n_true_pairs"), col("precision_ok"),
          (col("_n_hit").cast("double") >= lit(0.5) * col("_exp")).as("recall_ok"))
    }),

    // E2c2 the SRP family's portable witness (d3c discipline): the SAME
    // multi-band layout, buckets from EXACT fixed-point BIGINT projections
    // (floor(x·2^20) × integer plane components — order-independent, zero
    // ulp risk), every step restated in ANSI SQL → the banding machinery
    // and the surviving pair set are oracle-checked end to end. e2c stays
    // the scale path (codegen float dots, corpus-scaled planes). Corpus is
    // stride-anchored ([[strideAnchor]]): the fixed 64-bucket bands are
    // quadratic-candidate above witness scale (19.1× at ×10 pre-anchor).
    "e2c2_embedding_neardup_portable" -> ((s, d) =>
      Similarity.cosineNearDupPairsPortable(
          strideAnchor(Tables.embeddings(s, d), "vec_id", embWitnessCap), 0.4,
          planesPerBand = 6, nBands = 4)
        .orderBy("a", "b")),

    // D9 SemDeDup semantic near-dedup ([[Similarity.semanticDedup]]):
    // cluster-then-prune — assign every vector to its nearest centroid
    // (e2f's oracle-replayable keep=1 chain over firstNCentroids), drop any
    // vector with a smaller-id ≥0.4-cosine neighbor IN THE SAME CELL, keep
    // the rest. Pair space is Σ|cell|² (nCells is the density lever), not
    // N²; production swaps in kmeansCentroids, whose survivor floor
    // SimilaritySpec gates instead (e2h discipline).
    "d9_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDedup(emb, Similarity.firstNCentroids(emb, 16), 0.4)
        .orderBy("cell", "vec_id")
    }),

    // D9B incremental SemDeDup ([[Similarity.semanticDedupIncremental]]):
    // d8's daily-ingest discipline for embeddings, oracle-checked. The
    // corpus half (vec_id < 250) is batch-deduped with the SAME first-16
    // quantizer, then the delta half is admitted only where it has no
    // ≥0.4-cosine neighbor in (admitted corpus ∪ smaller-id delta) within
    // its cell — per-batch cost is delta-bounded, never corpus².
    "d9b_semantic_dedup_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.firstNCentroids(emb, 16)
      val corpusSurv = Similarity
        .semanticDedup(emb.filter(col("vec_id") < 250), cents, 0.4)
        .select("vec_id").join(emb, Seq("vec_id"))
        .select("vec_id", "embedding")
      Similarity.semanticDedupIncremental(
          corpusSurv, emb.filter(col("vec_id") >= 250), cents, 0.4)
        .orderBy("cell", "vec_id")
    }),

    // T9 corpus bigram-LM document scoring (CCNet-style quality signal):
    // add-k smoothed mean bigram log-probability per document.
    "t9_bigram_lm" -> ((s, d) =>
      LanguageModel.bigramLmScores(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // T16 Naive Bayes language classifier (fastText/CCNet-style curation
    // gate): train per-lang unigram models on the even-id half of the
    // corpus, predict the odd-id half. Model counts stay distributed
    // (equi-join on (word, lang)); only the |classes|-row prior frame
    // broadcasts; argmax is a min-struct aggregate, not a window sort.
    "t16_nb_langid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.naiveBayesClassify(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("pred_lang"), col("score"))
        .orderBy("doc_id")
    }),

    // T17 CCNet perplexity gate (arXiv:1911.00359): bigram LM trained on
    // the doc_id%5==0 reference slice, the rest scored by perplexity and
    // bucketed into per-language head/middle/tail tertiles by RANK
    // (integer arithmetic — portable where interpolated cutoffs are not).
    "t17_perplexity_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityBuckets(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),

    // WS2 DSIR importance resampling (arXiv:2302.03169): weight every doc
    // by exp(mean unigram log-ratio) of target (lang='en') vs raw corpus
    // models, then draw a deterministic weighted sample of 50 via the ws1
    // Efraimidis–Spirakis bounded-heap machinery — the end-to-end "steer
    // the crawl toward the target domain" selection pass.
    "ws2_dsir_resample" -> ((s, d) => {
      val w = LanguageModel.importanceWeights(
        Tables.documents(s, d), "doc_id", "text", col("lang") === "en")
      graft.operators.Splits.weightedSample(w, "doc_id", "ws2", col("weight"), k = 50)
    }),

    // E3 word frequency top-20 (explode + count + top-k).
    "e3_word_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("word")).limit(20)),

    // EMB1 per-label embedding centroids in exact fixed point
    // ([[Similarity.labelCentroids]]): power-of-two scaling + floor makes
    // every component an exact integer, so the centroid sums are
    // bit-identical under any partitioning or engine — run-to-run
    // reproducibility a double SUM cannot give.
    "emb1_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding")),

    // CHK1 order-insensitive table checksum ([[Integrity.tableChecksum]]):
    // COUNT + SUM of a portable per-row 64-bit hash (md5 low bits, matching
    // DuckDB's md5_number_lower) — sink-parity verification without moving
    // the data.
    "chk1_table_checksum" -> ((s, d) =>
      Integrity.tableChecksum(Tables.documents(s, d),
        Seq("doc_id", "lang", "source", "n_chars"))),

    // WS1 deterministic weighted sample (A-ES priorities on the portable
    // hash, collapsed through the bounded-heap aggregate — shuffle ≤ k
    // entries/partition). Longer documents proportionally likelier; the
    // identical arithmetic reproduces in the oracle via md5_number_lower.
    "ws1_weighted_sample" -> ((s, d) =>
      graft.operators.Splits.weightedSample(
        Tables.documents(s, d), "doc_id", "ws1", col("n_chars"), k = 20)),

    // C2 end-to-end training-set assembly: exact dedup -> deterministic
    // train/val split -> fixed-context sequence packing, each stage the
    // already-oracle-checked operator (e1b keeper, sp1 ladder, pk1 cumsum) —
    // the composition is what a real pretraining data pipeline runs, and
    // every stage stays a hash-group / pure-function / sharded-window shape.
    "c2_training_assembly" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = graft.operators.Dedup.exactByFingerprint(docs, "text", "doc_id")
        .select("doc_id")
      val deduped = docs.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      val split = graft.operators.Splits.hashSplit(deduped, "doc_id", "c2",
        Seq("train" -> 0.9, "val" -> 0.1))
      graft.operators.Splits
        .packSequences(split, "split", "doc_id", col("n_toks"), ctxLen = 512,
          shardSize = 1024)
        .groupBy(col("split"), col("_shard").as("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_tokens")).as("seq_tokens"))
        .orderBy("split", "shard", "seq_id")
    }),

    // C3 training-export manifest: the artifact a sharded export ships
    // beside its files — per (split, shard): doc count, token total,
    // packed-sequence count, and an order-insensitive content checksum
    // ([[graft.operators.Integrity.groupedChecksum]]) so a consumer
    // verifies each shard independently and a re-export proves itself
    // byte-equivalent shard by shard. Same dedup→split→pack chain as c2
    // (same salt, so this manifest DESCRIBES c2's export), one extra
    // map-side-combined aggregate.
    "c3_export_manifest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = graft.operators.Dedup.exactByFingerprint(docs, "text", "doc_id")
        .select("doc_id")
      val deduped = docs.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      val split = graft.operators.Splits.hashSplit(deduped, "doc_id", "c2",
        Seq("train" -> 0.9, "val" -> 0.1))
      graft.operators.Splits
        .packSequences(split, "split", "doc_id", col("n_toks"), ctxLen = 512,
          shardSize = 1024)
        .groupBy(col("split"), col("_shard").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_tokens")).as("n_toks"),
          count_distinct(col("seq_id")).as("n_seqs"),
          graft.operators.Integrity.checksumAgg(Seq("doc_id", "n_toks")))
        .orderBy("split", "shard")
    }),

    // Z1 z-order (Morton) layout keys ([[graft.operators.ZCurve]]): the
    // interleave is pure shift/mask arithmetic in one codegen'd expression,
    // verified bucket-by-bucket against the oracle computing the identical
    // bit algebra — the write-side key for two-dimensional data skipping.
    "z1_zorder_key" -> ((s, d) =>
      Tables.events(s, d)
        .select((col("user_id") % 64).as("a"), (col("event_id") % 64).as("b"))
        .withColumn("z", graft.operators.ZCurve.interleave(col("a"), col("b"), 6))
        .groupBy(expr("z div 64").as("zbucket"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy("zbucket")),

    // HH1 heavy hitters over the token stream: one bounded-state
    // Misra-Gries pass (shuffle = k entries/partition, never |vocab| rows)
    // generates ≤k candidates, then an exact verify pass keeps the tokens
    // with freq·(k+1) > n — the final set is exact, deterministic, and
    // oracle-checked even though the sketch itself has no SQL twin.
    "hh1_heavy_hitters" -> ((s, d) =>
      Frequency.heavyHitters(
        Tables.documents(s, d).select(explode(Text.tokens(col("text"))).as("word")),
        col("word"), k = 28, as = "word")),

    // CM1 Count-Min sketch point-frequency estimates
    // ([[Frequency.countMinCounters]]/[[countMinEstimate]]): build a 4×512
    // mergeable counter table in ONE map-side-combined pass (shuffle ≤
    // depth·width cells at any corpus size), then estimate the exact
    // top-20 tokens and pin the CM lower-bound guarantee (est ≥ exact)
    // per token. The md5-arithmetic sketch reproduces cell-for-cell in the
    // oracle — unlike hh1's MG sketch, the sketch ITSELF is hash-checked,
    // not just its verified answers. (The exact probe/truth groupBy is the
    // correctness harness; at scale the probe set comes from hh1's lane.)
    "cm1_countmin" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("item"))
      val counters = Frequency.countMinCounters(toks, col("item"), 4, 512)
      val exact = toks.groupBy("item").agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), col("item")).limit(20)
      Frequency.countMinEstimate(counters, exact.select("item"), 4, 512)
        .join(exact, Seq("item"))
        .withColumn("ok_lower", col("est_n") >= col("exact_n"))
        .select("item", "exact_n", "est_n", "ok_lower")
        .orderBy(desc("exact_n"), col("item"))
    }),

    // E5 top error types from the parity errores relation.
    "e5_topk_error_types" -> ((s, d) =>
      ParityQueries.errores(s, d)
        .groupBy("tipoError").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tipoError"))),

    // E6 bitacora status distribution + share (single-pass bitacora).
    // pct-of-total via the broadcast one-row scalar (t6's crossJoin idiom),
    // NOT an unpartitioned window: the old sum().over(Window.partitionBy())
    // was the only partitionless WindowExec on the query surface — harmless
    // over the ≤4-row status aggregate, but exactly the pattern
    // PlanQualitySpec exists to ban (round-14 verdict item 5).
    "e6_status_distribution" -> ((s, d) => {
      val byStatus = Prepare.bitacoraFromFlags(ParityQueries.flagged(s, d))
        .groupBy("estatus").agg(count(lit(1)).as("n_files"))
      byStatus
        .crossJoin(broadcast(byStatus.agg(sum(col("n_files")).as("__total"))))
        .withColumn("pct", round(col("n_files") * lit(100.0) / col("__total"), 4))
        .drop("__total")
        .orderBy("estatus")
    }),

    // E6b bitacora dashboard rollup (reference README.md:170 "Total de
    // archivos procesados por día"): per-day throughput over the visits
    // ledger source — files touched, rows processed, valid rows per
    // DATE("Fecha envio"). The day parses with the pipeline's own coerce
    // cast (P13); unparseable dates land in an explicit '(invalida)' bucket
    // instead of silently dropping — an operator reading the dashboard sees
    // the malformed-date volume as its own row. The day is emitted as a
    // STRING so the hash compare never meets a NULL date (engines repr
    // those differently) and the bucket row's sort position is fixed.
    "e6b_files_per_day" -> ((s, d) =>
      ParityQueries.flagged(s, d)
        .withColumn("dia", coalesce(
          date_format(to_timestamp(trim(col("`Fecha envio`")), Layout.datePattern),
            "yyyy-MM-dd"),
          lit("(invalida)")))
        .groupBy("dia")
        .agg(countDistinct(col("nombreArchivo")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"))
        .orderBy("dia")),

    // E6c bitacora dashboard rollup (reference README.md:171 "Tasa de éxito
    // y archivos en cuarentena"): one-row success/quarantine readout over
    // the per-file ledger — quarantined ('Fallido') file count, clean-file
    // rate, and row-level success rate. The parity frame has no quarantined
    // files (all four synthesized files parse), so n_quarantined pins 0 —
    // the real runBatch ledger's Fallido rows flow through the same frame
    // (PipelineSpec covers that path).
    "e6c_success_quarantine" -> ((s, d) =>
      Prepare.bitacoraFromFlags(ParityQueries.flagged(s, d))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("estatus") === "Fallido", 1L).otherwise(0L)).as("n_quarantined"),
          round(sum(when(col("estatus") === "Completado", 1L).otherwise(0L))
            * lit(100.0) / count(lit(1)), 4).as("pct_clean"),
          round(sum(col("registrosExitosos")) * lit(100.0)
            / (sum(col("registrosExitosos")) + sum(col("registrosFallidos"))), 4)
            .as("pct_rows_ok"))),

    // E8 JSON column access: extract props.k, aggregate per event type.
    "e8_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")),

    // E8b JSON → MAP type: parse props into map<string,string>, explode the
    // entries (generic key set — no hardcoded field names on the engine
    // side), aggregate per key. Covers the map-type machinery (from_json,
    // explode of map entries) next to e8's path extraction.
    "e8b_json_map" -> ((s, d) =>
      Tables.events(s, d)
        .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))).as(Seq("key", "val")))
        .groupBy("key")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("val")).as("n_vals"),
          sum(col("val").cast("long")).as("sum_val"))
        .orderBy("key")),

    // E9 tumbling 1-hour window aggregate (batch form of the streaming op).
    "e9_hourly_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("n"), col("sum_value"))
        .orderBy("hour_epoch")),

    // E9c gap-filled resample: purchases per hour on a DENSE hourly grid
    // (sequence over the observed span + left join, zero-filled) — the
    // time-series regularization every downstream window/forecast op needs.
    // The grid generates from one aggregated row, so it costs no shuffle of
    // the fact table beyond the hourly rollup itself.
    "e9c_hourly_gapfill" -> ((s, d) => {
      val buys = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select((unix_timestamp(col("ts")) - pmod(unix_timestamp(col("ts")), lit(3600))).as("hour_epoch"))
      val hourly = buys.groupBy("hour_epoch").agg(count(lit(1)).as("n"))
      val grid = hourly.agg(min("hour_epoch").as("lo"), max("hour_epoch").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(3600))).as("hour_epoch"))
      grid.join(hourly, Seq("hour_epoch"), "left")
        .select(col("hour_epoch"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("hour_epoch")
    }),

    // T1 language-ID heuristic: stopword ratio → en / unk.
    "t1_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", Text.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("hits", Text.stopwordHits(col("toks")))
        .withColumn("stop_ratio", round(col("hits").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"), 4))
        .withColumn("lang_guess", when(col("stop_ratio") >= 0.05, "en").otherwise("unk"))
        .select("doc_id", "n_tokens", "hits", "stop_ratio", "lang_guess")
        .orderBy("doc_id")),

    // T1b language ID by char-trigram profile (n-gram heuristic — the
    // stopword-free twin of t1 for text with unreliable tokenization).
    "t1b_langid_ngram" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("en_hits", regexp_count(lower(col("text")), lit(Text.enTrigrams)))
        .withColumn("de_hits", regexp_count(lower(col("text")), lit(Text.deTrigrams)))
        .withColumn("lang_guess",
          when(col("en_hits") >= col("de_hits"), "en").otherwise("de"))
        .select("doc_id", "en_hits", "de_hits", "lang_guess")
        .orderBy("doc_id")),

    // T5 BPE-ish token counting (charter): GPT-2 pre-tokenizer piece counts.
    "t5_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.bpeTokenCount(col("text")).as("n_pieces"),
          length(col("text")).as("n_chars"))
        .withColumn("chars_per_piece",
          round(col("n_chars").cast("double") / greatest(col("n_pieces"), lit(1)), 4))
        .orderBy("doc_id")),

    // T2 quality scoring: length/punct/stopword signals, composite score.
    "t2_quality_score" -> ((s, d) =>
      qualityFrame(Tables.documents(s, d))
        .select("doc_id", "n_tokens", "n_chars", "avg_token_len", "punct_ratio", "stop_ratio", "quality")
        .orderBy("doc_id")),

    // T13 Gopher-style quality-rule flags (Rae et al. 2021, §A1.1): word
    // count band, mean word length band, alphabetic-token ratio,
    // distinct-stopword floor, symbol (#/ellipsis) ratio — each rule a
    // boolean column plus its underlying rounded ratio, and the conjunction
    // as `gopher_pass`. Thresholds follow the paper except the word-count
    // floor (30, not 50 — the synthetic docs cap at 99 tokens; the BAND
    // semantics are what's under test). One narrow projection + codegen'd
    // lambda chain, no shuffle before the final sort: the filter runs at
    // scan speed on 100 TB.
    "t13_gopher_quality" -> ((s, d) => {
      val ellipses = ((length(col("text")) -
        length(regexp_replace(col("text"), lit("\\.\\.\\."), lit("")))) / lit(3)).cast("long")
      val hashes = (length(col("text")) -
        length(regexp_replace(col("text"), lit("#"), lit("")))).cast("long")
      Tables.documents(s, d)
        .withColumn("toks", Text.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("mean_word_len", round(
          Text.totalTokenLen(col("toks")).cast("double") /
            greatest(col("n_tokens"), lit(1)).cast("double"), 4))
        .withColumn("alpha_ratio", round(
          size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double") /
            greatest(col("n_tokens"), lit(1)).cast("double"), 4))
        .withColumn("n_stop_distinct",
          Text.stopwordHits(array_distinct(col("toks"))))
        .withColumn("symbol_ratio", round((ellipses + hashes).cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double"), 4))
        .withColumn("rule_wc", col("n_tokens").between(30, 100000))
        .withColumn("rule_mwl", col("mean_word_len").between(3.0, 10.0))
        .withColumn("rule_alpha", col("alpha_ratio") >= 0.8)
        .withColumn("rule_stop", col("n_stop_distinct") >= 2)
        .withColumn("rule_symbol", col("symbol_ratio") <= 0.1)
        .withColumn("gopher_pass", col("rule_wc") && col("rule_mwl") &&
          col("rule_alpha") && col("rule_stop") && col("rule_symbol"))
        .select("doc_id", "n_tokens", "mean_word_len", "alpha_ratio",
          "n_stop_distinct", "symbol_ratio", "rule_wc", "rule_mwl",
          "rule_alpha", "rule_stop", "rule_symbol", "gopher_pass")
        .orderBy("doc_id")
    }),

    // T3 token stats: counts + distinct + type-token ratio.
    "t3_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_uniq"),
          round(size(array_distinct(col("toks"))).cast("double") /
            greatest(size(col("toks")), lit(1)).cast("double"), 4).as("ttr"))
        .orderBy("doc_id")),

    // T6 TF-IDF: top-3 terms per document (smoothed idf, tf·idf ranking with
    // word tiebreak). Ties in score only occur at equal (tf, df), where both
    // engines compute bit-identical doubles — so the rank is deterministic.
    "t6_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // tf feeds both the document-frequency aggregate and the score join;
      // materialize it once (no cross-branch CSE — see Materialize)
      val tf = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .transform(Materialize.frame)
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), col("word"))
      tf.join(dfreq, "word").crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("word"), round(col("score"), 4).as("tfidf"))
        .orderBy("doc_id", "rn")
    }),

    // T12 BM25 ranking (Robertson/Spärck Jones, k1=1.2 b=0.75) of documents
    // against a fixed query-term set: tf/df/doclen/avgdl are all distributed
    // aggregates, the per-term score is row-local double arithmetic with the
    // IDENTICAL expression text as the oracle (t6's log discipline), and the
    // final top-20 has a total order. Corpus scalars (N, avgdl) broadcast.
    "t12_bm25" -> ((s, d) => {
      val qTerms = Seq("join", "filter", "stream")
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
        .transform(Materialize.frame) // feeds tf AND doclen; one tokenize pass
      val tf = toks.filter(col("word").isin(qTerms: _*))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val ad = dl.agg(avg(col("dl")).as("avgdl")) // exact long sum / count
      tf.join(dl, "doc_id").join(broadcast(dfreq), "word")
        .crossJoin(broadcast(nd)).crossJoin(broadcast(ad))
        .withColumn("s",
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(round(sum(col("s")), 4).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(20)
    }),

    // A5b approximate percentiles (Greenwald-Khanna sketch) — the mergeable
    // single-shuffle scale path next to a5's exact sort-based percentiles.
    // No oracle: the approximation is engine-specific (rows-only check).
    // A5b approximate percentiles (GK sketch — the mergeable 100 TB path;
    // a5 is the exact twin). The returned elements are engine-specific, so
    // the oracle checks a bounded QUALITY GATE (the e4 pattern), and unlike
    // the probabilistic gates this one rides GK's DETERMINISTIC rank
    // guarantee: the value returned for quantile p has rank within n/acc of
    // p*n. With ties, "rank of a value" is the interval [count_lt+1,
    // count_le], so the gate asserts p*n lands inside that interval widened
    // by the error budget (+2 covers the p*(n-1)-style position
    // convention). Oracle recomputes n exactly and pins the gates TRUE.
    "a5b_approx_percentiles" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val approx = l.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_quantity"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("ps"))
      def ok(p: Double, i: Int) = {
        val a = element_at(col("ps"), i)
        val lt = sum(when(col("l_quantity") < a, 1L).otherwise(0L))
        val le = sum(when(col("l_quantity") <= a, 1L).otherwise(0L))
        val slack = count(lit(1)).cast("double") / 10000.0 + 2.0
        val target = lit(p) * count(lit(1)).cast("double")
        ((lt.cast("double") - slack <= target) &&
          (target <= le.cast("double") + slack)).as(s"ok_p${(p * 100).toInt}")
      }
      l.join(broadcast(approx), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), ok(0.25, 1), ok(0.5, 2), ok(0.75, 3))
        .orderBy("l_returnflag")
    }),

    // SMP1 stratified sample: per-stratum Bernoulli sampling with a fixed
    // seed — the standard training-data downsampling op. Selection hashes
    // are engine-specific, so the oracle checks a bounded QUALITY GATE
    // (the e2e_ann_recall pattern): per stratum, emit the exact population
    // (oracle-recomputable) plus whether the realized sample count sits
    // within 6 standard deviations of the exact binomial mean f*n
    // (sd = sqrt(n*f*(1-f)); P(miss) ~ 2e-9 per stratum). The draw is
    // deterministic for a fixed seed AND partitioning — sampleBy seeds its
    // rand stream per partition index, so realized counts shift if the file
    // split layout changes; the 6-sigma gate holds w.h.p. under ANY layout,
    // which is exactly why the gate (not the counts) is what the oracle
    // pins TRUE. A seeding or sampling regression turns the row red.
    // f=1.0 strata degenerate to sd=0: the gate then requires
    // n_sampled == n exactly.
    "smp1_stratified_sample" -> ((s, d) => {
      val fractions = Map("click" -> 0.5, "view" -> 0.25, "purchase" -> 1.0,
        "signup" -> 0.1, "error" -> 0.05)
      // A stratum absent from the map is sampled at fraction 0 by sampleBy
      // (no rows kept); coalescing the lookup to 0.0 makes the gate expect
      // exactly that (target 0, sd 0) instead of yielding NULL and going
      // red on a domain drift that sampling itself handles fine.
      val fCol = coalesce(element_at(typedlit(fractions), col("event_type")), lit(0.0))
      val sampled = Tables.events(s, d)
        .stat.sampleBy("event_type", fractions, 42L)
        .groupBy("event_type").agg(count(lit(1)).as("_n_sampled"))
      Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("event_type"), "left")
        .select(col("event_type"), col("n_total"),
          (abs(coalesce(col("_n_sampled"), lit(0L)).cast("double")
              - fCol * col("n_total").cast("double"))
            <= lit(6.0) * sqrt(col("n_total").cast("double") * fCol * (lit(1.0) - fCol))
          ).as("within_bounds"))
        .orderBy("event_type")
    }),

    // SMP2 deterministic fixed-k per-stratum sample: the k docs with the
    // SMALLEST md5(salt:id) per lang — a pure function of (salt, id), so
    // the sample is reproducible across engines/reruns AND stable under
    // corpus growth (a doc stays sampled until k smaller hashes exist).
    // Scale shape: TopKStruct bounded-heap aggregate — shuffle ≤ k·strata,
    // no per-stratum window sort (smallest-hash order rides the aggregate's
    // largest-first contract via nibble-complemented hex).
    "smp2_deterministic_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("h", md5(concat(lit("smp2:"), col("doc_id").cast("string"))))
        .groupBy(col("lang"))
        .agg(call_function("topk_struct",
          struct(
            translate(col("h"), "0123456789abcdef", "fedcba9876543210").as("inv"),
            (-col("doc_id")).as("neg_id")),
          struct(col("doc_id"), col("h")),
          lit(5)).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rn"),
          col("col.doc_id").as("doc_id"), col("col.h").as("h"))
        .orderBy("lang", "rn")),

    // T7 sentence segmentation: split on terminal punctuation runs, per-doc
    // sentence count + average sentence length (trimmed, empties dropped) —
    // the chunking granularity most curation filters run at.
    "t7_sentences" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("sents", Text.sentenceArray(col("text")))
        .select(col("doc_id"),
          size(col("sents")).as("n_sents"),
          round(coalesce(
            aggregate(col("sents"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
              size(col("sents")), lit(0.0)), 4).as("avg_sent_chars"))
        .orderBy("doc_id")),

    // T14 within-doc duplicate-sentence removal ([[Dedup.sentenceDedup]]):
    // the C4/Gopher boilerplate-cleanup REWRITE (t10 only scores
    // repetition) — keep the first occurrence of each distinct sentence,
    // order preserved; the cleaned text crosses the compare as an md5.
    "t14_sentence_dedup" -> ((s, d) =>
      Dedup.sentenceDedup(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_sents"), col("n_kept"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")),

    // D10 CROSS-document sentence dedup ([[Dedup.crossDocSentenceDedup]],
    // round 15 — the CCNet/RefinedWeb line-dedup pass): a sentence survives
    // only in its earliest-id document; boilerplate shared across docs
    // (which t14's within-doc pass cannot see) is stripped everywhere
    // else and docs are rebuilt in original sentence order. Keeper join
    // keys on md5(sentence) — both engines run the identical fingerprint
    // arithmetic, so the rebuilt-text hashes compare exactly.
    "d10_crossdoc_sentence_dedup" -> ((s, d) =>
      Dedup.crossDocSentenceDedup(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_sents"), col("n_kept"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")),

    // D11 duplicated-span statistics ([[Dedup.dupSpanStats]], round 15 —
    // the detection core of Lee et al. exact substring dedup): per doc,
    // how many of its 10-token sliding windows occur >=2 times anywhere in
    // the corpus. Flags verbatim-copied spans embedded in otherwise-fresh
    // docs — the population doc-level near-dup can't see. Window md5s are
    // the shuffle keys on both engines, so every count hash-checks.
    "d11_dup_span_stats" -> ((s, d) =>
      Dedup.dupSpanStats(Tables.documents(s, d), "doc_id", "text", window = 10)
        .orderBy("doc_id")),

    // T15 C4 cleaning rules (Raffel et al. 2020, the C4 corpus filters —
    // the other canonical named rule set next to t13's Gopher battery):
    // line-level keep = sentence with >=3 words; page-level flags = lorem
    // ipsum, curly brace (code), "javascript", terminal-punctuation ending;
    // c4_pass = >=5 surviving lines and no page-level flag. (C4's bad-words
    // list and its three-sentence-span dedup are out of scope here — span
    // dedup is d10/d11's job; the list is a config input, not arithmetic.)
    "t15_c4_filters" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("sents", Text.sentenceArray(col("text")))
        .withColumn("n_sents", size(col("sents")).cast("long"))
        .withColumn("n_lines_kept", size(filter(col("sents"),
          x => size(Text.tokens(x)) >= 3)).cast("long"))
        .withColumn("has_lorem", lower(col("text")).contains("lorem ipsum"))
        .withColumn("has_brace", col("text").contains("{"))
        .withColumn("has_js", lower(col("text")).contains("javascript"))
        .withColumn("ends_terminal", rtrim(col("text")).rlike("[.!?\"']$"))
        .withColumn("c4_pass", col("n_lines_kept") >= 5 &&
          !col("has_lorem") && !col("has_brace") && !col("has_js"))
        .select("doc_id", "n_sents", "n_lines_kept", "has_lorem", "has_brace",
          "has_js", "ends_terminal", "c4_pass")
        .orderBy("doc_id")),

    // T8 PII scrubbing: redact email-shaped spans, count redactions — the
    // standard pre-training cleanup pass (extend the alternation for
    // phones/IPs/SSNs at production time; one regexp pass per pattern).
    "t8_pii_scrub" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).as("n_redacted"),
          md5(regexp_replace(col("text"), emailRe, "<EMAIL>")).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    // T4 document fingerprint: md5 over whitespace-normalized text.
    "t4_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // D2 MinHash+LSH scale lane, ORACLE-GATED (round 16 — previously
    // rows-only): the xxhash64 signatures can't replay in DuckDB, but the
    // lane's OUTPUT quality can. The emitted pair set is compared against
    // the exact-Jaccard ground truth ([[Dedup.ngramJaccardPairs]] over the
    // same shingle domain, single block — an independent code path:
    // inverted-index counts, not array_intersect), and the gate row pins:
    // n_true_pairs / n_strong_pairs (oracle recomputes both EXACTLY in
    // SQL), precision_ok (every emitted pair exists in the truth set with
    // the identical rounded Jaccard — subset + value cross-check), and
    // strong_recall_ok (every J>=0.5 pair is found; banding at 16 bands x
    // 2 rows admits a J=0.5 pair w.p. 1-(1-J^2)^16 ~ 0.99 per pair and the
    // corpus's strong pairs sit well above 0.5 — measured 25/25 at sf0.01
    // and 256/256 at sf0.1, gated at >= 0.9 for margin). A banding,
    // verify-filter, or signature regression flips a boolean or shifts the
    // exact counts. LSH machinery unchanged; low 0.05 threshold so the
    // synthetic corpus yields pairs.
    "d2_minhash_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // ONE statement of the banding geometry: the weak-band expectation
      // below derives its s-curve exponents from these same values, so a
      // retune cannot leave the floor on a stale curve
      val (d2Perms, d2Bands) = (32, 16)
      val d2Rows = d2Perms / d2Bands
      val emitted = Dedup.minhashLsh(docs, "doc_id", "text",
        numPerms = d2Perms, bands = d2Bands, threshold = 0.05)
        .transform(Materialize.frame)
      val truth = Dedup.ngramJaccardPairs(docs.withColumn("blk", lit(0)),
        "doc_id", "text", "blk", 0.05).select("a", "b", "jaccard")
        .transform(Materialize.frame)
      val strong = truth.filter(col("jaccard") >= 0.5)
      val strongStats = strong.join(emitted.select(col("a"), col("b"), lit(1L).as("hit")),
          Seq("a", "b"), "left")
        .agg(count(lit(1)).as("n_strong_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("_n_strong_hit"))
      // the J < 0.5 band: LSH recall there follows the banding s-curve
      // (b=16, r=2 ⇒ knee ≈ 0.25 — pairs near the 0.05 verify threshold
      // are MOSTLY not candidates, by design; d2b at its own geometry is
      // the exact witness). The floor is the s-curve EXPECTATION computed
      // from the truth pairs' own Jaccards, E = Σ 1-(1-J²)^16, halved —
      // scale-adaptive with no constant to re-pin (the old fixed 0.02
      // floor would have passed at 1/50th of measured recall). PROBE-R17
      // (SURVEY §6.1h) measured xxhash64 against the random-hash model at
      // this and two neighboring band budgets: measured/expected 0.90-1.25
      // at sf0.1 (17 hits vs E=18.9 at this geometry; n_weak=334) and
      // 1 hit vs E=0.22 on sf0.01's 4-pair weak band — deterministic for
      // fixed data, so the halved expectation only trips on a banding
      // collapse or signature regression, exactly when it should.
      val weak = truth.filter(col("jaccard") < 0.5)
      val weakStats = weak.join(emitted.select(col("a"), col("b"), lit(1L).as("hit")),
          Seq("a", "b"), "left")
        .agg(count(lit(1)).as("n_weak_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("_n_weak_hit"),
          sum(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), d2Rows), d2Bands))
            .as("_exp_weak_hit"))
      val prec = emitted.join(truth.withColumnRenamed("jaccard", "_tj"), Seq("a", "b"), "left")
        .agg(coalesce(expr("bool_and(_tj IS NOT NULL AND _tj = jaccard)"), lit(true))
          .as("precision_ok"))
      truth.agg(count(lit(1)).as("n_true_pairs"))
        .crossJoin(strongStats).crossJoin(weakStats).crossJoin(prec)
        .select(col("n_true_pairs"), col("n_strong_pairs"), col("n_weak_pairs"),
          col("precision_ok"),
          (col("_n_strong_hit").cast("double")
            >= lit(0.9) * col("n_strong_pairs").cast("double")).as("strong_recall_ok"),
          (col("n_weak_pairs") === 0 || col("_n_weak_hit").cast("double")
            >= lit(0.5) * col("_exp_weak_hit")).as("weak_not_lost"))
    }),

    // D2b portable MinHash+LSH (md5 hashes, lexicographic min) — the
    // oracle-checked witness for the whole MinHash family.
    "d2b_minhash_portable" -> ((s, d) =>
      Dedup.minhashLshPortable(Tables.documents(s, d), "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05)
        .orderBy("a", "b")),

    // D3 SimHash 64-bit scale lane, ORACLE-GATED (round 16 — previously
    // rows-only: the xxhash64 signature VALUES can't replay in DuckDB;
    // their arithmetic is oracle-checked via the md5-nibble twins d3c/d3d
    // at the same band geometry). Per doc, the gate emits n_tokens (oracle
    // recomputes exactly) and dup_consistent: all docs sharing this doc's
    // fingerprint carry the SAME signature — identical normalized text ⇒
    // identical token stream ⇒ identical votes, so any partition-order
    // dependence or nondeterminism in the vote aggregate flips the bit.
    // Row set = every document (explode_outer keeps tokenless docs). The
    // 64-bit width is what keeps near-dup banding's key space growing with
    // the corpus (16-bit bands at maxDist=3) instead of a constant 256.
    "d3_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.simhash64(docs, "doc_id", "text")
      val fp = docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val joined = fp.join(sigs, Seq("doc_id"))
      val groups = joined.groupBy(col("fp")).agg(countDistinct(col("simhash")).as("_nsig"))
      joined.join(groups, Seq("fp"))
        .select(col("doc_id"), col("n_tokens"), (col("_nsig") === 1L).as("dup_consistent"))
        .orderBy("doc_id")
    }),

    // D3b SimHash near-dup pairs (pigeonhole banding over the 64-bit
    // signature, Hamming <= 3 ⇒ four 16-bit bands), ORACLE-GATED (round
    // 16): the banding is COMPLETE within maxDist (a pair within distance
    // k must agree on one of k+1 disjoint bands — pigeonhole, not
    // probability), so every pair the oracle can PROVE near-duplicate must
    // be emitted. The provable set: fingerprint-equal pairs (identical
    // normalized text ⇒ identical sigs ⇒ Hamming 0). The gate row pins
    // n_exact_dup_pairs (oracle-exact), all_exact_dups_found (structural
    // no-false-negative — vacuous at sf0.01's dup-free corpus slice, live
    // 8/8 at sf0.1), and pairs_nonempty (liveness: the banding join
    // admitting nothing — e.g. a band-key masking bug — trips it; 17
    // pairs at sf0.01, 525 at sf0.1, deterministic per dataset).
    "d3b_simhash_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emitted = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3)
        .transform(Materialize.frame)
      val fp = docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val exactDups = fp.select(col("fp"), col("doc_id").as("a"))
        .join(fp.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
        .filter(col("a") < col("b")).select("a", "b")
      val found = exactDups.join(emitted.select(col("a"), col("b"), lit(1L).as("hit")),
          Seq("a", "b"), "left")
        .agg(count(lit(1)).as("n_exact_dup_pairs"),
          coalesce(expr("bool_and(hit IS NOT NULL)"), lit(true)).as("all_exact_dups_found"))
      found.crossJoin(emitted.agg((count(lit(1)) > 0).as("pairs_nonempty")))
        .select("n_exact_dup_pairs", "all_exact_dups_found", "pairs_nonempty")
    }),

    // D3c portable SimHash witness (the d2b discipline): md5-nibble votes,
    // 32-bit signature, the SAME pigeonhole banding + xor/popcount verify
    // as d3b — every arithmetic step reproduces in ANSI SQL, so the simhash
    // family's banding machinery is oracle-checked end to end. d3/d3b stay
    // the scale path (xxhash64, 2^16 band keys). Corpus is stride-anchored
    // ([[strideAnchor]]): the 32-bit width's 256-key bands are
    // quadratic-candidate above witness scale (12.2× at ×10 pre-anchor);
    // d3d keeps the full corpus — its 2^16-key bands are the scale layout.
    "d3c_simhash_portable" -> ((s, d) =>
      Dedup.simhashPortableNearDup(
          strideAnchor(Tables.documents(s, d), "doc_id", docWitnessCap),
          "doc_id", "text", maxDist = 3)
        .orderBy("a", "b")),

    // D3d the portable witness at the PRODUCTION band width: 64-bit
    // md5-nibble signatures, 16-bit pigeonhole bands — the exact 2^16-key
    // banding layout the scale path d3b runs, hash-checked by the oracle
    // digit for digit (d3c validates the same machinery at 32/8).
    "d3d_simhash_portable64" -> ((s, d) =>
      Dedup.simhashPortableNearDup64(Tables.documents(s, d), "doc_id", "text",
          maxDist = 3)
        .orderBy("a", "b")),

    // D4 exact n-gram Jaccard pairs over a shingle inverted index — the
    // oracle-checkable ground truth for the near-dup family.
    "d4_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", "lang", 0.05)
        .orderBy("blk", "a", "b")),

    // D7 decontamination: training docs colliding with the (stand-in) eval
    // benchmark on >= 2 distinct 3-token shingles — the pre-training
    // contamination check, as a broadcast inverted-index join.
    "d7_decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", minShared = 2)
        .orderBy("train_id", "eval_id")
    }),

    // D7b decontamination's 100 TB lane ([[Dedup.contaminationPairsBloom]],
    // round 15): a Bloom filter over the eval suite's shingle hashes (1.2
    // B/entry vs tens of bytes for a broadcast hash relation) prunes the
    // training inverted index BEFORE any join; no false negatives, and
    // false positives die in the exact equi-join verify — so the result is
    // IDENTICAL to d7 and the oracle hash-checks the whole prefilter
    // machinery against the same SQL.
    "d7b_decontamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairsBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", minShared = 2)
        .orderBy("train_id", "eval_id")
    }),

    // D5 edit-distance near-dup via the raw length-band BUILDING BLOCK:
    // two-bucket length-band blocking per lang, bounded levenshtein verify
    // (banded DP, O(maxDist·len) per pair). Candidate volume is quadratic
    // with a fixed band count (§6.1) — d5b is the production lane; this
    // entry stays registered as the oracle witness for the banding + DP.
    // Corpus stride-anchored ([[strideAnchor]], round 19 — verdict item 1):
    // at sf1 the oracle's quadratic levenshtein restatement over the full
    // ×10 corpus timed out at 2700 s (CORRECTNESS_sf1 r18's one hole);
    // the anchor caps the WITNESS corpus at its sf0.1 size (identity at
    // both standard scales ⇒ hashes byte-unchanged) exactly as §6.1i did
    // for e2c2/d3c. The production lane d5b keeps the full corpus: its
    // banding + bounded DP are the scale path.
    "d5_levenshtein_neardup" -> ((s, d) =>
      Dedup.editDistanceNearDup(
        strideAnchor(Tables.documents(s, d), "doc_id", docWitnessCap),
        "doc_id", "text", "lang", lenWindow = 16, maxDist = 40)
        .orderBy("blk", "a", "b")),

    // D6 near-dup clustering: connected components over the portable
    // MinHash pair graph (min-label propagation), one summary row per
    // component — the keeper-selection step of the dedup pipeline.
    // Oracle: DuckDB recursive CTE over the identical pair set.
    "d6_neardup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashLshPortable(Tables.documents(s, d), "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05)
      Dedup.connectedComponents(pairs, "a", "b")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
        .orderBy("comp")
    }),

    // D6b incremental connected components
    // ([[Dedup.connectedComponentsIncremental]], round 15 — the d8 daily-
    // ingest discipline for the dedup GRAPH): CC over the d8 corpus split's
    // "historical" pairs (both endpoints % 10 != 0), then the delta pairs
    // (any % 10 == 0 endpoint) folded in by contracting old components to
    // their label super-nodes — per-batch cost |delta| + touched
    // components, never the historical edge set. Labels provably equal
    // batch CC over the full graph, so the oracle is d6's recursive CTE
    // over ALL pairs — a hash match checks the whole contraction chain.
    "d6b_incremental_cc" -> ((s, d) => {
      val pairs = Dedup.minhashLshPortable(Tables.documents(s, d), "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05).transform(Materialize.frame)
      val oldPairs = pairs.filter(col("a") % 10 =!= 0 && col("b") % 10 =!= 0)
      val deltaPairs = pairs.filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      Dedup.connectedComponentsIncremental(
          Dedup.connectedComponents(oldPairs, "a", "b"), deltaPairs, "a", "b")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
        .orderBy("comp")
    }),

    // C1 end-to-end curation pipeline — the charter's operators composed the
    // way a training-data pipeline actually runs them: length gate → quality
    // score (t2's decimal-exact composite) → near-dup keeper selection
    // (MinHash pairs → connected components → drop non-canonical members).
    // Every stage is a shuffle-bounded op from this library; the whole chain
    // is one DAG, so Catalyst prunes documents columns across all of it.
    "c1_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // ONE tokenize pass over the corpus feeds BOTH the near-dup LSH chain
      // (distinct shingle sets) and the quality scorer (token-derived
      // scalars): before r22 the corpus text was scanned + tokenized twice —
      // once at construction time inside minhashLshPortable's sets
      // checkpoint, once in the final plan's quality projection (guide §1.2
      // step 1 / §2.4; VERDICT r21 item 1). The scalars add ~4 ints per row
      // to the checkpoint the LSH chain already materialized. `toks` stays
      // in its own projection (multi-consumer barrier — the shingleArrays
      // 25x lesson) and the raw-count → ratio arithmetic is UNCHANGED, so
      // quality is bit-identical.
      val prep = Dedup.spread(docs.select(col("doc_id"), col("lang"), col("text")))
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          length(col("text")).as("n_chars"),
          size(col("toks")).as("n_tokens"),
          Text.punctCount(col("text")).as("n_punct"),
          Text.stopwordHits(col("toks")).as("n_stop"),
          array_distinct(Text.shingles3(col("toks"))).as("sh"))
        .transform(Materialize.frame)
      val pairs = Dedup.minhashLshPortableFromSets(
        prep.select(col("doc_id"), col("sh")), "doc_id",
        numPerms = 16, bands = 8, threshold = 0.5)
      val drops = Dedup.connectedComponents(pairs, "a", "b")
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      prep
        .withColumn("punct_ratio",
          round(col("n_punct").cast("double") / greatest(col("n_chars"), lit(1)).cast("double"), 4))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"), 4))
        .withColumn("quality",
          round((col("stop_ratio").cast("decimal(9,4)")
            + lit(1).cast("decimal(9,4)")
            - col("punct_ratio").cast("decimal(9,4)"))
            * lit(BigDecimal("0.5")), 4).cast("double"))
        .join(drops, Seq("doc_id"), "left_anti")
        .filter(col("n_chars").between(100, 10000) && col("quality") >= 0.53)
        .select("doc_id", "lang", "n_chars", "quality")
        .orderBy("doc_id")
    }),

    // C4 classifier-era curation composition — c1's modern twin: where c1
    // runs the HEURISTIC stack (near-dup CC + hand rules), c4 runs the
    // model-based one a FineWeb-style pipeline uses — exact dedup → NB
    // language gate (train on the labeled half, score every survivor,
    // keep predicted-en) → DSIR importance weights → deterministic A-ES
    // draw of the 30 highest-priority docs. Every stage is the
    // already-oracle-checked operator; the lane pins their COMPOSITION
    // (id plumbing, rounding hand-offs, filter order) end to end.
    "c4_classifier_curation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = graft.operators.Dedup.exactByFingerprint(docs, "text", "doc_id")
        .select("doc_id")
      // two classifier consumers (train split + scoring) and the weight
      // pass all read the deduped frame — materialize once
      val deduped = Materialize.frame(docs.join(keep, Seq("doc_id"), "left_semi"))
      // NB scoring and the DSIR weights both aggregate from per-(doc, word)
      // counts over the SAME deduped corpus — tokenize it once and share
      // the materialized count frame (tgt is constant per doc, so the
      // (doc, tgt, word) groups ARE the (doc, word) groups; r21, guide
      // §1.2 step 1)
      val docWords = LanguageModel.docWordCounts(
          deduped, "doc_id", "text", col("lang") === "en")
        .transform(Materialize.frame)
      val en = LanguageModel.naiveBayesClassifyFromCounts(
          deduped.filter(col("doc_id") % 2 === 0),
          docWords.select(col("doc_id"), col("w"), col("cnt")),
          "doc_id", "text", "lang")
        .filter(col("pred_lang") === "en")
        .select("doc_id")
      val w = LanguageModel.importanceWeightsFromCounts(docWords, "doc_id")
      graft.operators.Splits.weightedSample(
        w.join(en, Seq("doc_id"), "left_semi"), "doc_id", "c4", col("weight"), k = 30)
    }),

    // C5 per-source quality-quota pruning: keep the top 30% of documents
    // WITHIN EACH SOURCE by quality score — the diversity-preserving form
    // of classifier pruning (a global threshold empties low-scoring
    // sources; real curation budgets per domain). Exact per-source ranks
    // via ScalableWindow's sliced machinery, so a 5-source 100 TB corpus
    // never funnels a source's rows through one task's sort; the quota
    // `ceil(0.3 * n_source)` uses the group size the ranker already
    // computed — no second count pass.
    "c5_source_quota_pruning" -> ((s, d) => {
      // NULL quality (null text) is coalesced to a -1e9 sentinel on BOTH
      // sides, pinning null docs to rank last: Spark's ascending-negq rank
      // sorts NULLS FIRST while DuckDB's quality DESC puts them last, so
      // engine defaults would diverge the quota the day a null-text doc
      // enters the corpus (round-15 review finding; c6 same)
      // materialized: the sliced ranker passes over `scored` three times
      // (boundaries, slice sizes, sort) and each pass re-ran the tokenizer
      // behind qualityFrame — checkpoint the narrow 4-column projection once
      val scored = qualityFrame(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("quality"))
        .withColumn("negq", -coalesce(col("quality"), lit(-1.0e9)))
        .transform(Materialize.frame)
      graft.operators.ScalableWindow.rowNumber(scored, "source", "negq", "doc_id", as = "pos")
        .filter(col("pos") <= ceil(lit(0.3) * col("_n")).cast("long"))
        .select("source", "doc_id", "quality", "pos")
        .orderBy("source", "pos")
    }),

    // D12 duplicated-span REMOVAL (d11 detects; this cleans — Lee et al.
    // 2021): every 10-token span occurring >= 2 times in the corpus keeps
    // its first (doc, pos) occurrence and is cut everywhere else; output
    // is the cleaned token stream + before/after accounting. Canonical
    // pick is an aggregate MIN(struct), never a per-hash window; the cut
    // is one anti-join on (doc, position).
    "d12_dup_span_removal" -> ((s, d) =>
      Dedup.removeDupSpans(Tables.documents(s, d), "doc_id", "text", window = 10)
        .orderBy("doc_id")),

    // D12b span removal's DAILY-INGEST twin (round 16 — every other
    // corpus-wide cleaner already had its d8-style delta form): the corpus
    // split into two id-ordered batches; batch 1 is cleaned whole-corpus
    // and becomes the span-hash index, batch 2 is cleaned INCREMENTALLY
    // against that index (hash-existence probe + within-delta canonical
    // pick — |delta|+|index| work, no corpus re-scan). The oracle is d12's
    // whole-corpus SQL VERBATIM (the d7b discipline): chained batches must
    // reproduce the global result exactly, because the global canonical
    // MIN(id, p) of any hash lies in the earliest batch containing it.
    "d12b_incremental_span_removal" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // bounded construction-time scalar (the c8/cosineNearDupPairs class):
      // the id-ordered batch boundary
      val half = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      val b1 = docs.filter(col("doc_id") <= half)
      val b2 = docs.filter(col("doc_id") > half)
      // batch 1's tokenize + window explode feed BOTH the index build and
      // its own whole-corpus clean — prepare the (toks, wins) pair once
      // (r21; each side re-ran the explode before)
      val (toksB1, winsB1) = Dedup.spanPrepared(b1, "doc_id", "text", window = 10)
      val idx = Materialize.frame(Dedup.spanIndexFromWins(winsB1, "doc_id"))
      Dedup.removeDupSpansFromWins(toksB1, winsB1, "doc_id", window = 10)
        .unionAll(Dedup.removeDupSpansIncremental(idx, b2, "doc_id", "text", window = 10))
        .orderBy("doc_id")
    }),

    // C6 the tokenized-export composition: the full modern assembly line a
    // training export runs — exact dedup → per-source quality quota (c5's
    // sliced ranker) → BPE token accounting under the fixed tokenizer
    // (bpe2b's production applier) → deterministic shard/position shuffle
    // (sh1) → per-shard manifest (doc count, token total, order-insensitive
    // id checksum, chk1's idiom). Every stage is an already-oracle-checked
    // operator; the lane pins their COMPOSITION — id plumbing, quota
    // hand-off, token-count join, shard arithmetic — end to end (the
    // c1/c4 discipline, now for the export side).
    "c6_tokenized_export" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = Dedup.exactByFingerprint(docs, "text", "doc_id").select("doc_id")
      val deduped = Materialize.frame(docs.join(keep, Seq("doc_id"), "left_semi"))
      // materialized for the same three-pass ranker reason as c5
      val scored = qualityFrame(deduped)
        .select(col("doc_id"), col("source"), col("quality"))
        .withColumn("negq", -coalesce(col("quality"), lit(-1.0e9)))
        .transform(Materialize.frame)
      val kept = graft.operators.ScalableWindow
        .rowNumber(scored, "source", "negq", "doc_id", as = "qpos")
        .filter(col("qpos") <= ceil(lit(0.3) * col("_n")).cast("long"))
        .select("doc_id")
      val pruned = Materialize.frame(deduped.join(kept, Seq("doc_id"), "left_semi"))
      val toks = Bpe.tokenCountsScalable(pruned, "doc_id", "text", bpe2Merges)
      // shard-only form: the manifest never reads positions, so skip the
      // ranker's sort — shard is row-local arithmetic (review finding)
      graft.operators.Splits.deterministicShard(
          pruned.select("doc_id"), "doc_id", "c6", nShards = 8)
        .join(toks, Seq("doc_id"), "left")
        .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("n_tokens"),
          Integrity.checksumAggOf(concat(lit("c6:"), col("doc_id").cast("string")))
            .as("id_checksum"))
        .orderBy("shard")
    }),

    // E2E1 the COMPOSED PRODUCTION PATH as one DAG (round-18 verdict item
    // 6): ingest-validate (null/blank text quarantined) → exact-dedup gate
    // (fingerprint keep-min) → near-dup gate (banded MinHash pairs →
    // salted-star CC → drop non-canonical) → heuristic curation (the exact
    // DECIMAL quality combine + length band, c1's rules) → tokenized
    // export manifest (BPE accounting under the fixed tokenizer +
    // deterministic shards + order-insensitive id checksums, c6's tail).
    // Every stage is an already-oracle-checked operator; this lane pins
    // the FULL assembly — the wall a production user sees end to end, and
    // the one place cross-stage cache/lineage interactions can surface.
    // The oracle restates all five stages in one recursive-CTE chain.
    // Plan audit: SURVEY §6.3 (shuffle census + checkpoint placement).
    "e2e1_production_export" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val valid = docs.filter(col("text").isNotNull &&
        length(trim(col("text"))) > 0)
      val keep = Dedup.exactByFingerprint(valid, "text", "doc_id").select("doc_id")
      // ONE post-dedup corpus checkpoint, tokenized ONCE (r22; guide §1.2
      // step 1 / §2.4, VERDICT r21 item 1): before, the exact-dedup
      // survivors were checkpointed (`deduped`), then minhashLshPortable
      // tokenized + checkpointed its shingle sets, and the quality branch
      // re-read `deduped` and tokenized AGAIN. `prep` fuses the three: the
      // survivor rows carry the quality scalars (raw counts — the ratio
      // arithmetic below is UNCHANGED, so quality is bit-identical) and the
      // distinct shingle sets in one materialized frame; text rides along
      // because the curation tail (BPE accounting) needs it. The explicit
      // repartition matters: AQE coalesces the small semi-join exchange to
      // ~1 partition and localCheckpoint would FREEZE that layout — the
      // CPU-heavy tokenize/shingle pass and every LSH consumer would run
      // single-task (the c8/Pq.ivfPqTopKWithCentroids lesson).
      val prep = valid.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), col("text"),
          length(col("text")).as("n_chars"),
          size(col("toks")).as("n_tokens"),
          Text.punctCount(col("text")).as("n_punct"),
          Text.stopwordHits(col("toks")).as("n_stop"),
          array_distinct(Text.shingles3(col("toks"))).as("sh"))
        .transform(Materialize.frame)
      val pairs = Dedup.minhashLshPortableFromSets(
        prep.select(col("doc_id"), col("sh")), "doc_id",
        numPerms = 16, bands = 8, threshold = 0.5)
      val drops = Dedup.connectedComponents(pairs, "a", "b")
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      val curated = prep.join(drops, Seq("doc_id"), "left_anti")
        .withColumn("punct_ratio",
          round(col("n_punct").cast("double") / greatest(col("n_chars"), lit(1)).cast("double"), 4))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"), 4))
        .withColumn("quality",
          round((col("stop_ratio").cast("decimal(9,4)")
            + lit(1).cast("decimal(9,4)")
            - col("punct_ratio").cast("decimal(9,4)"))
            * lit(BigDecimal("0.5")), 4).cast("double"))
        .filter(col("n_chars").between(100, 10000) && col("quality") >= 0.53)
        .select("doc_id", "text")
        .transform(Materialize.frame) // feeds token accounting AND the shard assignment
      val toks = Bpe.tokenCountsScalable(curated, "doc_id", "text", bpe2Merges)
      graft.operators.Splits.deterministicShard(
          curated.select("doc_id"), "doc_id", "e2e1", nShards = 8)
        .join(toks, Seq("doc_id"), "left")
        .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("n_tokens"),
          Integrity.checksumAggOf(concat(lit("e2e1:"), col("doc_id").cast("string")))
            .as("id_checksum"))
        .orderBy("shard")
    }),

    // C7 the corpus DATACARD: the per-source summary a dataset release
    // ships (Gebru et al.'s datasheets, every frontier data card) — doc
    // and token volume, exact-dup excess, language share, and the quality
    // distribution's (min, avg, max). One pass, one map-side-combined
    // aggregate; avg_quality sums the 4-decimal quality in EXACT DECIMAL
    // first (a double sum is partition-order-dependent — the rounding
    // trap the t2 lane documents), casting to double only for the final
    // single division.
    // C8 the composed RETRIEVAL pipeline (round 16 — closes the one
    // composition gap the r15 verdict ranked #2): chunk → embed → IVF-PQ
    // probe → exact re-rank, pinned end to end the way c6 pins the export
    // line. Chunks are t11's 200/150 char windows (the oracle restates the
    // same integer window math); each chunk's "embedding model" is a
    // deterministic assignment into the embeddings table
    // (the (cid·31+7 mod n)-th embedding in vec_id order — a stand-in for
    // the real encoder, chosen for cross-engine restatability and TOTAL
    // over any id layout, dense or sparse); the chunk-level
    // corpus (NOT the raw vector table — the composition point) is then
    // searched with the e2l IVF-PQ stack (sampled k-means cells, ADC
    // shortlist at k·8, exact-cosine re-rank). Gate row (the e2d round-16
    // pattern): n_queries and n_corpus are oracle-exact — they pin the
    // CHUNK hand-off arithmetic end to end; k_ok/rank_ok pin the output
    // contract; scores_ok re-derives every returned cosine from the RAW
    // embeddings through an INDEPENDENT re-computation of the cid→vec
    // assignment (the exact id-plumbing seam where composition bugs
    // live); recall_ok gates against brute force over the same chunk
    // corpus. Inline IVF-PQ form — PqSpec pins indexed == inline, so the
    // persisted-index path is covered transitively.
    // PG1 crawl-authority PageRank (fixed-point): 4 damped power
    // iterations over a synthetic 3-out link graph in integer micro-units
    // (1e9 = rank 1.0) — exact `div` arithmetic, so the ITERATION is
    // engine-portable and the oracle unrolls it as chained CTEs (the bpe3
    // discipline). Top-20 authorities via TakeOrderedAndProject.
    "pg1_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id").as("id"))
      // bounded construction-time scalar (the c8 class): the edge modulus
      val n = docs.count()
      val edges = docs.select(col("id").as("src"),
        explode(array((1 to 3).map(j =>
          pmod(col("id") * (2 * j + 1) + j, lit(n))): _*)).as("dst"))
      graft.operators.Centrality.pageRankFixedPoint(edges, docs, iterations = 4)
        .withColumnRenamed("rank", "authority")
        .orderBy(desc("authority"), col("id")).limit(20)
    }),

    // SFT1 chat-template render (instruction-tuning data prep): events
    // grouped into conversations, rendered <|role|>text<|end|> in time
    // order, with loss-mask [start, end) char spans over exactly the
    // assistant-turn text — integer prefix-sum offsets (w2's running-total
    // shape), so the whole render hash-matches the oracle.
    "sft1_chat_render" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("role",
          when(col("event_type").isin("view", "click"), "user").otherwise("assistant"))
        .withColumn("text",
          concat(col("event_type"), lit(" "), coalesce(col("props"), lit(""))))
      graft.operators.Sft.renderChat(ev, "user_id", "ts", "event_id", "role", "text")
        .orderBy("user_id", "turn_idx")
    }),

    // DPO1 preference-pair assembly (Rafailov et al. 2023's data shape):
    // per prompt group, pair the best-quality candidate against the worst,
    // keep pairs with margin >= 0.05. Quality rides in FIXED-POINT 1e4
    // units, so argmax/argmin and the margin test are exact integer
    // comparisons (ties break to the smaller doc_id via the injective
    // qfp*2^32 -/+ id key) — the whole selection hash-matches the oracle.
    // ONE map-side-combined aggregation keyed by prompt; no window sort.
    "dpo1_preference_pairs" -> ((s, d) => {
      val scored = qualityFrame(Tables.documents(s, d))
        .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("prompt_id"),
          round(col("quality") * 10000).cast("long").as("qfp"))
      Preference.preferencePairs(scored, "prompt_id", "doc_id", "qfp", 500L)
        .orderBy("prompt_id")
    }),

    // SFT2 token-space loss spans: the hand-off sft1's char spans feed —
    // dataloaders mask TOKEN positions. Delimiters are atomic special
    // tokens (1 each), text tokenizes with the BPE pre-tokenizer, spans
    // are integer prefix sums — all exact, so the mask hash-matches.
    "sft2_token_spans" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("role",
          when(col("event_type").isin("view", "click"), "user").otherwise("assistant"))
        .withColumn("text",
          concat(col("event_type"), lit(" "), coalesce(col("props"), lit(""))))
      graft.operators.Sft.tokenSpans(ev, "user_id", "ts", "event_id", "role", "text")
        .orderBy("user_id", "turn_idx")
    }),

    // C10 composed SFT assembly: the fine-tuning batch line end to end —
    // token spans (sft2) → conversation token/loss accounting → context
    // budget gate (≤600) → whole-conversation packing (pk2's fold,
    // ctx 2048) → per-sequence manifest with SUPERVISED-token counts (the
    // loss_tokens an SFT run reports as its real throughput; padding is
    // what it wastes). Pins the spans→accounting→packing hand-offs the
    // way c6 pins the export line. Scale: the span stage is sft1's one
    // conversation-keyed shuffle; packing is pk2's shard-local fold.
    "c10_sft_assembly" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("role",
          when(col("event_type").isin("view", "click"), "user").otherwise("assistant"))
        .withColumn("text",
          concat(col("event_type"), lit(" "), coalesce(col("props"), lit(""))))
      val spans = graft.operators.Sft
        .tokenSpans(ev, "user_id", "ts", "event_id", "role", "text")
      val convs = spans.groupBy(col("user_id")).agg(
          max(col("n_tokens")).as("n_tokens"),
          sum(when(col("role") === "assistant",
            col("tok_end") - col("tok_start")).otherwise(0L)).as("loss_tokens"))
        .filter(col("n_tokens") <= 600)
      val packed = graft.operators.Splits.packSequencesWhole(
        convs, "user_id", col("n_tokens"), ctxLen = 2048, shardSize = 64)
      packed.join(convs.select(col("user_id"), col("loss_tokens")), "user_id")
        .groupBy(col("shard"), col("seq_id")).agg(
          count(lit(1)).as("n_convs"),
          sum(col("n_tokens")).as("seq_tokens"),
          sum(col("loss_tokens")).as("loss_tokens"))
        .withColumn("padding", greatest(lit(2048L) - col("seq_tokens"), lit(0L)))
        .orderBy("shard", "seq_id")
    }),

    // DPO2 incremental preference assembly: dpo1's daily-ingest form —
    // the corpus arrives as three disjoint batches, each folded into the
    // per-prompt state (count + best/worst under the same injective
    // keys), and the pairs are read from the MERGED state. Every state
    // component is a monoid, so the chain equals one aggregation over
    // the union BY ALGEBRA — the oracle is dpo1's SQL verbatim. State
    // stays prompt-domain-bounded no matter how many batches stream in.
    "dpo2_incremental_pairs" -> ((s, d) => {
      val scored = qualityFrame(Tables.documents(s, d))
        .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("prompt_id"),
          round(col("quality") * 10000).cast("long").as("qfp"))
      val batches = (0 to 2).map(i =>
        Preference.preferenceState(
          scored.filter(pmod(col("doc_id"), lit(3L)) === i),
          "prompt_id", "doc_id", "qfp"))
      val state = batches.reduce(Preference.mergePreferenceState)
      Preference.pairsFromState(state, 500L).orderBy("prompt_id")
    }),

    // FIM1 fill-in-the-middle transform (Bavarian et al. 2022): half the
    // corpus rewritten <|pre|>prefix<|suf|>suffix<|mid|>middle with the
    // loss span over exactly the moved middle; cut points are modular
    // residues of doc_id (non-degenerate by construction), so the whole
    // transform — render string included — hash-matches the oracle where
    // the published samplers' RNG cuts could not. One codegen'd
    // projection: scan-speed at 100 TB, no shuffle.
    "fim1_psm_transform" -> ((s, d) =>
      graft.operators.Sft.fimTransform(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // GRP1 group-relative advantage (GRPO, Shao et al. 2024): per prompt
    // group, z-score each candidate's quality against the group's
    // mean/std. z = (n·q − S)/√(n·Σq² − S²) over integer fixed-point
    // moments — the only float ops are one IEEE sqrt and one division of
    // exact integers, so the z-scores hash-match the oracle with no
    // summation-order ulps. One moment aggregation + a prompt-domain-
    // bounded join back; degenerate groups emit null advantage.
    "grp1_group_advantage" -> ((s, d) => {
      val scored = qualityFrame(Tables.documents(s, d))
        .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("prompt_id"),
          round(col("quality") * 10000).cast("long").as("qfp"))
      Preference.groupAdvantage(scored, "prompt_id", "doc_id", "qfp")
        .orderBy("doc_id")
    }),

    // RRF1 hybrid retrieval (Cormack et al. 2009): BM25 top-20 + exact
    // cosine top-20 per query, reciprocal-rank-fused, top-10 kept. Both
    // scorers round before ranking and all ranks are integers, so the
    // whole hybrid stack hash-matches the oracle exactly — no recall gate.
    "rrf1_hybrid_retrieval" -> ((s, d) =>
      Retrieval.rrfFuse(Tables.documents(s, d), Tables.embeddings(s, d),
          col("doc_id") < 8)
        .orderBy("q_id", "rn")),

    "c8_retrieval_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      // bounded construction-time scalar (vector-table size), the
      // cosineNearDupPairs count() class
      val nVec = emb.count()
      // the stand-in encoder maps chunks into the table's ORDINAL space
      // (row_number over vec_id), not the raw id space: mod-|emb| of a raw
      // id silently drops every chunk whose target id doesn't exist when
      // the id layout is sparse (the sf1 MakeScale corpus shifts ids by
      // copy·10^8 — the round-18 sf1 hash check caught exactly this), so
      // the assignment must be TOTAL over any layout. The global rank is
      // scaffolding-only cost: the real system embeds chunk text with a
      // model; nothing in the production IVF-PQ path sorts globally.
      // three consumers (chunk assignment + both re-check joins) — pay the
      // rank once (scaffolding-sized: the stand-in's vector table).
      // SCALE-ADAPTIVE rank (r22, VERDICT r21 item 4): the old
      // unconditional `row_number().over(Window.orderBy(_eid))` moved the
      // whole vector table through ONE task's sort — the only WindowExec
      // no-partition site in the 200-query surface, and the frame grows
      // with the corpus, so at 100 TB it is a serial scale-killer, not a
      // bounded gate. Above the bound the exact sliced ranker takes over
      // (identical ranks — vec_id is a total order; h2/pr1's constant-key
      // regime, w4/h2/pr1 oracle-pinned); below it the plain window wins
      // because the ranker's fixed multi-pass cost (sketch + sizes +
      // offsets joins) dwarfs a small sort (measured +2.2 s on c8 at
      // sf0.1). Bound: 2^18 rows ≈ 75 MB of (id, 64-float) rows in the one
      // sort task and the frozen single-partition checkpoint — comfortably
      // single-task; nVec is already a construction-time scalar here.
      val embOrd = emb.select(col("vec_id").as("_eid"), col("embedding"))
      val embIdx = (if (nVec <= (1L << 18))
          embOrd.withColumn("_ord",
            row_number().over(Window.orderBy(col("_eid"))).cast("long") - 1)
            .drop("_eid")
        else
          graft.operators.ScalableWindow.rowNumber(
              embOrd.withColumn("_g", lit("all")),
              part = "_g", value = "_eid", tie = "_eid", as = "_pos")
            .withColumn("_ord", col("_pos") - 1)
            .select(col("embedding"), col("_ord")))
        .transform(Materialize.frame)
      val chunkIds = docs
        .withColumn("n_chunks",
          when(length(col("text")) <= 200, lit(1L))
            .otherwise(expr("(length(text) - 51) div 150 + 1")))
        .select(col("doc_id"), explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("vec_id"))
      val chunkEmb = chunkIds
        .withColumn("_ord", pmod(col("vec_id") * 31 + 7, lit(nVec)))
        .join(embIdx, "_ord")
        .select("vec_id", "embedding")
        // repartition before the checkpoint: AQE coalesces the tiny join
        // exchange to ONE partition and localCheckpoint freezes it — the
        // brute-force recall scan and both index trainers would then run
        // single-task (the Pq.ivfPqTopKWithCentroids lesson)
        .repartition(s.sparkContext.defaultParallelism)
        .transform(Materialize.frame)
      val q = chunkEmb.filter(col("vec_id") < 8000) // chunks of doc_id < 8
      // ONE deterministic driver sample feeds BOTH index trainers: the IVF
      // quantizer and the PQ codebook each ran an identical xxhash64-ordered
      // TakeOrdered scan over chunkEmb (r22, VERDICT r21 item 2; guide §2.4)
      val sample = Similarity.orderedSample(chunkEmb, 2048)
      val approx = Pq.ivfPqTopKWithCentroids(q, chunkEmb,
        Similarity.kmeansCentroidsFromSample(s, sample, 16),
        Pq.trainFromSample(sample, m = 16, ksub = 256),
        5, nProbe = 8, rerankFactor = 8).transform(Materialize.frame)
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      val nC = chunkEmb.agg(count(lit(1)).as("n_corpus"))
      val kStats = approx.groupBy(col("a_id")).agg(count(lit(1)).as("_k"))
        .agg(coalesce(expr("bool_and(_k = 5)"), lit(false)).as("_all_k5"),
          count(lit(1)).as("_nq_seen"))
      val rechecked = approx
        .withColumn("_ea_ord", pmod(col("a_id") * 31 + 7, lit(nVec)))
        .withColumn("_eb_ord", pmod(col("b_id") * 31 + 7, lit(nVec)))
        .join(embIdx.select(col("_ord").as("_ea_ord"), col("embedding").as("_ea")), "_ea_ord")
        .join(embIdx.select(col("_ord").as("_eb_ord"), col("embedding").as("_eb")), "_eb_ord")
        .withColumn("_rc", round(Vectors.cosine(col("_ea"), col("_eb")), 4))
      val scoresOk = rechecked
        .agg(coalesce(expr("bool_and(_rc = cosine)"), lit(false)).as("scores_ok"))
      val w = Window.partitionBy(col("a_id")).orderBy(desc("cosine"), col("b_id"))
      val rankOk = approx.withColumn("_rn2", row_number().over(w))
        .agg(coalesce(expr("bool_and(_rn2 = rn)"), lit(false)).as("rank_ok"))
      val exact = Similarity.bruteForceTopK(q, chunkEmb, 5).select("a_id", "b_id")
      val recall = exact
        .join(approx.select(col("a_id"), col("b_id"), lit(1L).as("hit")),
          Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("_n_true"), sum(coalesce(col("hit"), lit(0L))).as("_n_hit"))
      nQ.crossJoin(nC).crossJoin(kStats).crossJoin(scoresOk).crossJoin(rankOk)
        .crossJoin(recall)
        .select(col("n_queries"), col("n_corpus"),
          (col("_all_k5") && col("_nq_seen") === col("n_queries")).as("k_ok"),
          col("scores_ok"), col("rank_ok"),
          (col("_n_hit").cast("double")
            >= lit(0.8) * col("_n_true").cast("double")).as("recall_ok"))
    }),

    // C9 composed DPO assembly — the fine-tuning side's c4 twin, pinning
    // the stage HAND-OFFS of the preference-data line in one oracle:
    // exact-dedup keepers (md5 fingerprint, min-id) → eval-suite split →
    // decontaminate the candidate POOL (≥2 shared 3-shingles with any
    // eval doc drops the candidate BEFORE scoring — pool filtering, not
    // pair patching, so contamination can never pick a chosen/rejected)
    // → quality scoring in fixed point → preference-pair assembly.
    // Scale: dedup + scoring are linear scans; the decon probe is the d7
    // inverted-index join against the benchmark-sized eval side (compose
    // with the d7b Bloom prefilter at 100 TB — false positives die in the
    // exact join); pair assembly is one map-side-combined aggregation.
    "c9_dpo_assembly" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = Dedup.exactByFingerprint(docs, "text", "doc_id")
        .select("doc_id")
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
      // materialized: the decon probe AND the anti-join below both consume
      // `cands`, each re-running the fingerprint-dedup join otherwise
      val cands = docs.join(keepers, "doc_id")
        .filter(col("doc_id") % 97 =!= 0)
        .transform(Materialize.frame)
      val contaminated = Dedup.contaminationPairs(
          cands, evalDocs, "doc_id", "text", minShared = 2)
        .select(col("train_id").as("doc_id")).distinct()
      val clean = cands.join(contaminated, Seq("doc_id"), "left_anti")
      val scored = qualityFrame(clean)
        .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("prompt_id"),
          round(col("quality") * 10000).cast("long").as("qfp"))
      Preference.preferencePairs(scored, "prompt_id", "doc_id", "qfp", 500L)
        .orderBy("prompt_id")
    }),

    // C11 cross-modal pairing — the multimodal tier's c8 twin: where c8
    // pins chunk↔embedding id plumbing, c11 pins caption↔image plumbing
    // across a near-dup composition. A deterministic doc→image assignment
    // (media_id = 2·doc_id + 13 — injective, order-preserving, and in a
    // DIFFERENT id space so the hand-off join is real, not structural)
    // pairs every caption with one synthetic grid image; dHash near-dup
    // runs on the IMAGE side in image-id space, MinHash near-dup on the
    // CAPTION side in doc-id space, and the image pairs are translated
    // back through the pairing relation before the full-outer verdict
    // merge. Every row is oracle-exact (no pinned-TRUE gate): a botched
    // id hand-off lands pairs on the wrong captions and the hash breaks.
    // Scale: both pair generators are banded (never all-pairs); the
    // translation is two equi-joins against the |docs|-row pairing
    // relation; the verdict merge is a full outer of two pair sets.
    "c11_crossmodal_pairing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairing = docs.select(col("doc_id"),
        toMediaId(col("doc_id")).as("media_id"))
      val media = Multimodal.syntheticGridImages(
        pairing.select(col("media_id")), "media_id")
      // one row per image; both banding self-join sides consume it
      val sigs = Materialize.frame(Multimodal.dHashSigs(media))
      val imgPairsMedia = Dedup.simhashPairsFromSigs(
        sigs, "media_id", "dhash", maxDist = 3, sigBits = 64)
      // the id hand-off under test: image-space pairs → caption space
      val back = pairing.select(col("media_id"), col("doc_id"))
      val imgPairs = imgPairsMedia
        .join(back.select(col("media_id").as("a"), col("doc_id").as("_da")), Seq("a"))
        .join(back.select(col("media_id").as("b"), col("doc_id").as("_db")), Seq("b"))
        .select(col("_da").as("a"), col("_db").as("b"), lit(true).as("img_dup"))
      val txtPairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
          numPerms = 16, bands = 8, threshold = 0.05)
        .select(col("a"), col("b"), lit(true).as("txt_dup"))
      imgPairs.join(txtPairs, Seq("a", "b"), "full")
        .select(col("a"), col("b"),
          coalesce(col("img_dup"), lit(false)).as("img_dup"),
          coalesce(col("txt_dup"), lit(false)).as("txt_dup"))
        .orderBy("a", "b")
    }),

    // C12 cross-modal contrastive hard negatives — the mining operator a
    // CLIP-style contrastive trainer consumes, built on c11's pair
    // machinery: captions whose TEXT nearly collides (MinHash near-dup)
    // while their IMAGES do NOT (dHash anti-join) are the informative
    // negatives — "text says almost the same thing, vision differs".
    // Pairs near-dup on BOTH sides are near-POSITIVES and are excluded
    // (training against them poisons the contrastive loss — the e2i
    // hard-negative discipline applied cross-modally). Each surviving
    // pair emits BOTH directions: (anchor caption, negative image).
    // The anti-join runs in image-id space through the same
    // order-preserving assignment c11 pins, so a plumbing bug surfaces
    // as a hash break here too. Scale: both pair sets banded; the
    // anti-join and direction expansion are linear in the pair sets.
    "c12_crossmodal_negatives" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairing = docs.select(col("doc_id"),
        toMediaId(col("doc_id")).as("media_id"))
      val media = Multimodal.syntheticGridImages(
        pairing.select(col("media_id")), "media_id")
      val sigs = Materialize.frame(Multimodal.dHashSigs(media))
      val imgPairs = Dedup.simhashPairsFromSigs(
          sigs, "media_id", "dhash", maxDist = 3, sigBits = 64)
        .select(col("a").as("ma"), col("b").as("mb"))
      val txtPairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05)
      val txtInImg = txtPairs.select(
        toMediaId(col("a")).as("ma"), toMediaId(col("b")).as("mb"),
        col("a"), col("b"), col("jaccard"))
      val hard = txtInImg.join(imgPairs, Seq("ma", "mb"), "left_anti")
      // both directions from ONE pass over `hard`: the old
      // unionAll(select, select) consumed the whole MinHash+dHash+anti-join
      // subtree TWICE (Spark has no cross-branch CSE; the r21-baseline plan
      // shows the full chain duplicated under the union — this lane read
      // 2.5x its pin). explode emits the same two rows per pair; output is
      // unique on (anchor_doc, neg_media_id), so the final orderBy makes
      // the result set-identical to the union form.
      hard.select(explode(array(
          struct(col("a").as("anchor_doc"), col("mb").as("neg_media_id"),
            col("jaccard")),
          struct(col("b").as("anchor_doc"), col("ma").as("neg_media_id"),
            col("jaccard")))).as("_dir"))
        .select(col("_dir.anchor_doc").as("anchor_doc"),
          col("_dir.neg_media_id").as("neg_media_id"),
          col("_dir.jaccard").as("jaccard"))
        .orderBy("anchor_doc", "neg_media_id")
    }),

    "c7_corpus_datacard" -> ((s, d) =>
      qualityFrame(Tables.documents(s, d))
        .withColumn("fp", Text.fingerprint(col("text")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"),
          round(sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 4).as("pct_en"),
          round(sum(col("quality").cast("decimal(20,4)")).cast("double")
            / count(lit(1)).cast("double"), 4).as("avg_quality"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"))
        .orderBy("source")),

    // D7c per-eval-doc contamination VERDICTS (vs d7's raw pair counts):
    // fraction of the eval doc's distinct shingles found anywhere in the
    // training corpus + the thresholded flag — the number a published
    // decontamination protocol actually filters on. Semi-join shape, no
    // corpus-wide distinct; composes with d7b's Bloom prefilter at scale.
    "d7c_contamination_fraction" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFractions(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", threshold = 0.5)
        .orderBy("eval_id")
    }),

    // D7d incremental decontamination — d7c's daily-ingest form: the eval
    // inverted index is built ONCE, each training batch probes it, and the
    // only mutable state is the matched (eval_id, shingle) subset — bounded
    // by the EVAL SUITE no matter how large the corpus grows. Two id-split
    // batches here; oracle is d7c's whole-corpus audit verbatim.
    "d7d_incremental_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val evalInv = Dedup.contaminationIndexFrame(
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
      val m1 = Dedup.contaminationProbe(evalInv,
        train.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val m2 = Dedup.contaminationProbe(evalInv,
        train.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      Dedup.contaminationVerdictsFromState(evalInv, m1.unionAll(m2), threshold = 0.5)
        .orderBy("eval_id")
    }),

    // M1 multimodal plumbing: binary payload + metadata + decoded features.
    // byte_mean is left UNROUNDED: exact integer byte-sum / n_bytes is one
    // IEEE division, bit-identical across engines; rounding a double is not.
    "m1_multimodal_features" -> ((s, d) => {
      val media = Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text")
      Multimodal.decodeFeatures(media)
        .select(col("media_id"), col("meta.media_type").as("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("features.head_hex").as("head_hex"),
          col("features.byte_mean").as("byte_mean"))
        .orderBy("media_id")
    }),

    // M2 real image codec lane: one solid-color PNG per document id
    // (dims/colors pure arithmetic in the id), REAL ImageIO decode of the
    // original, real Graphics2D resize to maxDim=24, real decode of the
    // re-encoded output. Every output column is closed-form in doc_id, so
    // the DuckDB oracle states the expected decode/resize result exactly —
    // a wrong codec path (dims off by one, color shifted by resampling,
    // metadata not rewritten) hash-mismatches. Solid colors make channel
    // means exact doubles; fitDims' integer floor math is restated verbatim
    // in the oracle SQL.
    "m2_image_decode" -> ((s, d) => {
      // One shuffle-free mapPartitions chain: generate -> decode (in dims)
      // -> resize (re-encodes PNG) -> decode again (out dims + means). The
      // pre-resize dims are captured as plain columns so no self-join is
      // needed to pair them with the post-resize decode.
      val media = Multimodal.syntheticImages(
        Tables.documents(s, d).select(col("doc_id")), "doc_id")
      val withIn = Multimodal.decodeImages(media)
        .select(col("media_id"), col("payload"), col("meta"),
          col("img.width").as("in_width"), col("img.height").as("in_height"))
      Multimodal.decodeImages(Multimodal.resizeImages(withIn, maxDim = 24))
        .select(col("media_id").as("doc_id"),
          col("in_width"), col("in_height"),
          col("img.width").as("out_width"), col("img.height").as("out_height"),
          col("img.n_channels").as("n_channels"),
          col("img.mean_r").as("mean_r"), col("img.mean_g").as("mean_g"),
          col("img.mean_b").as("mean_b"))
        .orderBy("doc_id")
    }),

    // M3 overlapped chunking (the audio/embedding windowing shape) over the
    // documents-as-media table: chunk 64 bytes / hop 48 (25% overlap). The
    // per-doc chunk count and byte totals are closed-form in n_bytes, so the
    // generator's fencepost behavior (truncated tail, empty-payload skip) is
    // oracle-checked, not just spec-checked.
    "m3_chunking" -> ((s, d) =>
      Multimodal.chunkPayload(
          Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
          chunkBytes = 64, hopBytes = 48)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_bytes")).as("sum_chunk_bytes"),
          max(col("chunk_idx")).as("last_idx"))
        .orderBy("media_id")),

    // M5 audio decode + frame features: REAL s16le byte parsing of
    // deterministic synthetic PCM clips (m2's discipline applied to audio),
    // per-clip exact-integer features — total energy, zero crossings,
    // per-160-sample-frame energies. Every output is a Long, so the oracle
    // regenerates the waveform in closed form and hash-compares with zero
    // float tolerance; a byte-order, sign-extension, or framing fencepost
    // bug all mismatch here.
    "m5_audio_features" -> ((s, d) =>
      Multimodal.decodePcmFeatures(
          Multimodal.syntheticPcm(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          frameLen = 160)
        .select(col("media_id"),
          col("audio.n_samples").as("n_samples"),
          col("audio.n_frames").as("n_frames"),
          col("audio.sum_sq").as("sum_sq"),
          col("audio.n_zero_cross").as("n_zero_cross"),
          col("audio.max_frame_ssq").as("max_frame_ssq"))
        .orderBy("media_id")),

    // M7 video scene-cut detection — the keyframe/scene segmentation step a
    // video training-data pipeline runs before captioning or frame
    // sampling: REAL fixed-size raw-frame byte decode, exact integer frame
    // means, one row per frame whose mean jumps vs its predecessor.
    // Frame-constant synthetic scenes (md5-keyed, 6 frames each) make every
    // cut closed-form: the oracle regenerates scene values from md5
    // arithmetic and restates each (frame_idx, prev, next) row.
    "m7_video_scenes" -> ((s, d) =>
      Multimodal.sceneCuts(
          Multimodal.syntheticVideo(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"))
        .orderBy("media_id", "frame_idx")),

    // M6 audio near-dup — the bridge's third modality: REAL s16le decode of
    // deterministic tone clips, 64-bit energy-delta fingerprint (dHash's
    // structure on the time axis — frame-energy DELTAS, the gain-invariant
    // shape audio fingerprinters hash), then the SAME 2^16-key pigeonhole
    // banding as text simhash and image dHash. Frame-constant amplitudes
    // make every energy an exact integer, so the oracle restates each
    // signature bit AND each banded pair digit for digit.
    "m6_audio_neardup" -> ((s, d) => {
      val media = Multimodal.syntheticPcmTones(
        Tables.documents(s, d).select(col("doc_id")), "doc_id")
      // one row per clip; both banding self-join sides consume it
      val sigs = Materialize.frame(Multimodal.audioSigs(media))
      Dedup.simhashPairsFromSigs(sigs, "media_id", "asig", maxDist = 3, sigBits = 64)
        .orderBy("a", "b")
    }),

    // M4 image near-dup — the multimodal x dedup bridge: REAL PNG decode of
    // deterministic grid images, 64-bit dHash (exact integer block-mean
    // grid, so the signature is closed-form in the id), then the SAME 2^16-
    // key pigeonhole banding the text simhash path runs (d3d discipline:
    // integer-exact end to end, so the oracle reproduces every signature
    // bit AND every banded pair digit for digit). A wrong decode, a float
    // resample, or a banding regression all hash-mismatch here.
    "m4_image_neardup" -> ((s, d) => {
      val media = Multimodal.syntheticGridImages(
        Tables.documents(s, d).select(col("doc_id")), "doc_id")
      // one row per image; both banding self-join sides consume it
      val sigs = Materialize.frame(Multimodal.dHashSigs(media))
      Dedup.simhashPairsFromSigs(sigs, "media_id", "dhash", maxDist = 3, sigBits = 64)
        .orderBy("a", "b")
    }),

    // D8 incremental dedup — the daily-ingest gate: every 10th doc plays the
    // new batch, the rest the existing corpus; survivors are new docs that
    // are neither exact (fingerprint) nor near (banded MinHash + Jaccard
    // >= 0.5) duplicates of any corpus doc. Candidates are delta-bands x
    // corpus-bands only: per-batch cost never touches corpus x corpus.
    "d8_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalSurvivors(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          delta = docs.filter(col("doc_id") % 10 === 0),
          idCol = "doc_id", textCol = "text")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // SP1 deterministic train/val/test split: md5-hex threshold assignment —
    // membership is a pure function of (salt, doc_id), identical on any
    // engine, stable under reruns/repartitioning (the property a training
    // pipeline needs so eval never leaks into train across runs).
    "sp1_hash_split" -> ((s, d) =>
      graft.operators.Splits.hashSplit(Tables.documents(s, d), "doc_id", "sp1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")),

    // SH1 deterministic global training-order shuffle: (shard, pos) for
    // every document as a pure function of (salt, id) — the reproducible
    // dataloader ordering a training run exports. Rank runs through
    // ScalableWindow's sliced machinery (no single-task global sort); the
    // oracle re-derives the identical permutation from md5_number_lower
    // and a plain per-shard row_number.
    "sh1_deterministic_shuffle" -> ((s, d) =>
      graft.operators.Splits.deterministicShuffle(
          Tables.documents(s, d).select("doc_id"), "doc_id", "sh1", nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")),

    // SL1 split-leakage audit: near-dup pairs (d2b's portable MinHash
    // blocking) crossed with an sp1-style ID-KEYED split — the count per
    // (split_a, split_b) cell measures the train/test contamination channel
    // an id split leaves open (14 of 25 pairs cross on this corpus, 6 of
    // them train↔test). The motivating measurement for sl2.
    "sl1_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05)
      val asg = graft.operators.Splits.hashSplit(docs, "doc_id", "sl1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      pairs
        .join(asg.select(col("doc_id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(asg.select(col("doc_id").as("b"), col("split").as("split_b")), Seq("b"))
        .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_a", "split_b")
    }),

    // SL2 leakage-safe split ([[Splits.componentSplit]]): the same split
    // keyed by the near-dup CONNECTED COMPONENT — whole dup-clusters land
    // in one split, so n_leaked (pairs leaving each split) is 0 by
    // construction, and the oracle PROVES it by recomputing the entire
    // chain (pairs → recursive-CTE CC → CASE-ladder split → leak join)
    // in SQL.
    "sl2_component_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // pairs feeds componentSplit's CC AND the leak audit below; asg feeds
      // the leak join twice (a-side, b-side) plus the n_docs rollup — the
      // r21 baseline plan re-executed the split subtree three times and the
      // LSH chain once more on top of CC's own consumption. Materialize each
      // once (guide §2.4).
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05).transform(Materialize.frame)
      val asg = graft.operators.Splits.componentSplit(docs, "doc_id", pairs,
          "a", "b", "sl2", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .transform(Materialize.frame)
      val leaked = pairs
        .join(asg.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
        .join(asg.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
        .filter(col("sa") =!= col("sb"))
        .groupBy(col("sa").as("split")).agg(count(lit(1)).as("n_leaked"))
      asg.groupBy("split").agg(count(lit(1)).as("n_docs"))
        .join(leaked, Seq("split"), "left")
        .withColumn("n_leaked", coalesce(col("n_leaked"), lit(0L)))
        .orderBy("split")
    }),

    // PK1 fixed-context sequence packing: concat-and-cut into 512-token
    // windows per (lang, shard) stream; per-sequence doc count and token
    // mass. The window cumsum is the whole computation — the readout shows
    // the packing density a dataloader would see.
    "pk1_sequence_packing" -> ((s, d) =>
      graft.operators.Splits.packSequences(
          Tables.documents(s, d).select("lang", "doc_id", "text"),
          groupCol = "lang", idCol = "doc_id",
          tokensCol = size(Text.tokens(col("text"))), ctxLen = 512)
        .groupBy(col("lang"), col("_shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_tokens")).as("seq_tokens"))
        .withColumnRenamed("_shard", "shard")
        .orderBy("lang", "shard", "seq_id")),

    // PK2 WHOLE-DOC greedy packing + the padding bill: docs never straddle
    // context boundaries ([[Splits.packSequencesWhole]] — per-shard bounded
    // array fold, no unbounded window); per packed sequence the doc count,
    // token fill, and the padding concat-and-cut (pk1) would have saved.
    // The oracle replays the identical overflow recurrence as a recursive
    // CTE stepping doc-position levels across all shards at once.
    "pk2_whole_doc_packing" -> ((s, d) =>
      graft.operators.Splits.packSequencesWhole(
          Tables.documents(s, d).select("doc_id", "text"),
          idCol = "doc_id",
          tokensCol = size(Text.tokens(col("text"))), ctxLen = 512)
        .groupBy(col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .withColumn("padding",
          greatest(lit(512L) - col("seq_tokens"), lit(0L)))
        .orderBy("shard", "seq_id")),

    // UP1 mixture weighting + deterministic upsample: per-source repeat
    // factor equalizing token share (factor = total / (K * src_tokens)),
    // then the deterministic fractional upsampler materializes the epoch
    // plan. Readout: per-source factor and post-upsample row/token mass —
    // the op a dataloader mixture config compiles down to. All arithmetic
    // is integer-sum-derived doubles with identical expression text on both
    // engines, and multiplicity is a pure function of (salt, doc_id).
    "up1_mixture_upsample" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val bySource = toks.groupBy("source")
        .agg(sum(col("n_tokens")).as("src_tokens"))
      // corpus totals as a broadcast one-row scalar (t6/e6 idiom), not an
      // unpartitioned window — same values, no partitionless WindowExec
      val factors = bySource
        .crossJoin(broadcast(bySource.agg(
          sum(col("src_tokens")).as("__tot"), count(lit(1)).as("__n"))))
        .withColumn("factor", col("__tot") / (col("__n") * col("src_tokens")))
        .select("source", "factor")
      graft.operators.Splits.upsample(
          toks.join(broadcast(factors), "source"), "doc_id", "up1", col("factor"))
        .groupBy("source")
        // factor is constant within a source group, so first() is
        // deterministic here (mirrors the oracle's ANY_VALUE)
        .agg(round(first(col("factor")), 6).as("factor"),
          count(lit(1)).as("n_rows_out"),
          sum(col("n_tokens")).as("n_tokens_out"))
        .orderBy("source")
    }),

    // T10 repetition filters (Gopher-style): share of all bigram slots taken
    // by the single most frequent bigram, and share of trigram occurrences
    // that are repeats — the signals that catch boilerplate/spam documents
    // which per-token stats (t2/t3) miss. Counts stay integer until the two
    // final rounded ratios; the tokenized array feeds two explode branches
    // plus the doc spine, so it is materialized once (no cross-branch CSE).
    "t10_repetition" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .transform(Materialize.frame)
      val bg = tok.select(col("doc_id"), explode(Text.bigrams(col("toks"))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_c"))
      val tri = tok.select(col("doc_id"), explode(Text.shingles3(col("toks"))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_c"),
          sum(col("c")).as("n_trigrams"))
      tok.select("doc_id")
        .join(bg, Seq("doc_id"), "left")
        .join(tri, Seq("doc_id"), "left")
        .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
        .withColumn("top_bigram_frac",
          round(coalesce(col("top_c"), lit(0L)).cast("double") /
            greatest(col("n_bigrams"), lit(1L)).cast("double"), 4))
        .withColumn("dup_trigram_frac",
          round(coalesce(col("dup_c"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_trigrams"), lit(0L)), lit(1L)).cast("double"), 4))
        .withColumn("repetitive",
          col("top_bigram_frac") > 0.05 || col("dup_trigram_frac") > 0.2)
        .select("doc_id", "n_bigrams", "top_bigram_frac", "dup_trigram_frac", "repetitive")
        .orderBy("doc_id")
    }),

    // T11 overlapped text chunking (RAG/embedding prep): fixed 200-char
    // windows advancing 150 chars (50-char overlap), one row per chunk.
    // Chunk count is integer math and each slice is one substr, so the op
    // is embarrassingly parallel — no shuffle at any corpus size.
    "t11_chunking" -> ((s, d) =>
      Tables.documents(s, d)
        // ceil((len - win) / step) + 1 in exact integer math: win=200,
        // step=150 → (len - 51) div 150 + 1 for len > win, else 1 chunk.
        .withColumn("n_chunks",
          when(length(col("text")) <= 200, lit(1L))
            .otherwise(expr("(length(text) - 51) div 150 + 1")))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0L), col("n_chunks") - 1), i =>
            col("text").substr((i * 150 + 1).cast("int"), lit(200))))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // MIX1 deterministic source mixing: per-source keep rates applied via an
    // md5-prefix threshold on the doc id — reshuffle-invariant, re-runnable,
    // and engine-portable (the oracle computes the identical hash), unlike
    // sample()/rand(), whose decisions change with partitioning. At 100 TB
    // this is the only sampler whose selections survive a repartition, and
    // it needs no state: the decision is a pure function of the row.
    "mix1_source_mixing" -> ((s, d) => {
      val srcNum = substring(col("source"), 4, 8).cast("int")
      // keep rates 1.0 / 0.5 / 0.25 / 0.125 cycling by source index; the
      // 1.0 threshold is 'g0000000' — every hex digit sorts below 'g', so
      // all rows pass without a special case.
      val rateHex = when(srcNum % 4 === 0, lit("g0000000"))
        .when(srcNum % 4 === 1, lit("80000000"))
        .when(srcNum % 4 === 2, lit("40000000"))
        .otherwise(lit("20000000"))
      val h = substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8)
      Tables.documents(s, d)
        .withColumn("kept", (h < rateHex).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
        .withColumn("rate",
          round(col("n_kept").cast("double") / col("n_total").cast("double"), 4))
        .orderBy("source")
    }),

    // MIX2 temperature-scaled source mixing (the multilingual/DoReMi
    // re-balancing shape): keep rates COMPUTED FROM THE DATA — w_s ∝
    // p_s^(1/T) at T=2, expressed relative to the largest source as
    // r_s = min(1, c·sqrt(n_max/n_s)) with c=0.5 — then applied with
    // mix1's per-row md5 gate. Two passes: a counts aggregate (broadcast
    // back as rates — |sources| rows) and the stateless row gate; no
    // per-source sort anywhere. Every arithmetic step (integer counts,
    // one division, one sqrt — both correctly rounded IEEE ops, no
    // order-dependent double SUM) is bit-identical in the oracle.
    "mix2_temperature_mixing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
      val nmax = counts.agg(max(col("n_total")).as("n_max"))
      val rates = counts.crossJoin(broadcast(nmax))
        .withColumn("rate", least(lit(1.0),
          lit(0.5) * sqrt(col("n_max").cast("double") / col("n_total").cast("double"))))
        .select("source", "n_total", "rate")
      val u = (Integrity.md5Lower64(concat(lit("mix2:"), col("doc_id").cast("string")))
        .cast("double") + lit(1.0)) / lit(18446744073709551616.0)
      docs.select("source", "doc_id")
        .join(broadcast(rates), Seq("source"))
        .withColumn("kept", (u < col("rate")).cast("long"))
        .groupBy(col("source"), col("n_total"), round(col("rate"), 6).as("rate"))
        .agg(sum(col("kept")).as("n_kept"))
        .select("source", "n_total", "n_kept", "rate")
        .orderBy("source")
    }),

    // E10 embedding normalize + int8 quantize: per-vector max-abs scaling to
    // [-127, 127] with round-half-up as floor(x + 0.5) — floor on doubles is
    // exact, so the oracle reproduces every quantized value bit-for-bit.
    // Integer-only checked output except the rounded L2 norm (computed as a
    // sequential array fold on both sides so summation order matches). This
    // is the 4x storage-compression step before ANN indexing at scale.
    "e10_embed_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("xs", transform(col("embedding"), x => x.cast("double")))
        .withColumn("maxabs", array_max(transform(col("xs"), x => abs(x))))
        .withColumn("q", transform(col("xs"), x =>
          when(col("maxabs") === 0d, lit(0L))
            .otherwise(floor(x * lit(127.0) / col("maxabs") + lit(0.5)))))
        .select(col("vec_id"),
          size(col("q")).as("n_dims"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          round(sqrt(aggregate(col("xs"), lit(0.0), (a, x) => a + x * x)), 4).as("l2_norm"))
        .orderBy("vec_id")),

    // D5b THE production edit-distance lane ([[Dedup.editDistanceNearDupBlocked]],
    // SURVEY §6.1's prescription for d5): MinHash-LSH blocking — near-linear
    // candidate volume — feeding the bounded edit-distance verifier (tight
    // maxDist=6, so the verify DROPS candidates rather than rubber-stamping
    // them), superseding d5's quadratic-candidate length-band blocking at
    // corpus scale (d5 stays registered as the building-block witness).
    // Portable band family here so the oracle replays the blocking: the d2b
    // pair CTEs + exact levenshtein over the same candidates.
    "d5b_blocked_edit_neardup" -> ((s, d) =>
      Dedup.editDistanceNearDupBlocked(Tables.documents(s, d), "doc_id", "text",
        maxDist = 6, numPerms = 16, bands = 8, candThreshold = 0.05,
        portable = true)
        .orderBy("a", "b")),

    // BPE1 the tokenizer-induction kernel: weighted adjacent-symbol-pair
    // counts over the corpus word-frequency table ([[Bpe.pairCounts]]) —
    // the inner loop of BPE training, isolated. One corpus pass (the
    // map-side-combined word count), one vocab-sized explode+agg; the
    // (weight DESC, l, r) tie-break is a total order so top-20 is exact.
    "bpe1_pair_counts" -> ((s, d) => {
      val wc = Bpe.wordCounts(Tables.documents(s, d), "text")
      Bpe.pairCounts(wc.select(Bpe.symbolize(col("word")).as("syms"), col("cnt")))
        .orderBy(desc("weight"), asc("l"), asc("r")).limit(20)
        .select(col("l").as("lsym"), col("r").as("rsym"), col("weight"))
    }),

    // BPE2 the tokenizer APPLIER under a fixed merge table: per-document
    // BPE token count — the number every mixture/packing stage downstream
    // consumes. The merge chain compiles to a flat codegen'd replace chain
    // (no UDF); the oracle replays the identical replaces, so a greedy-scan
    // or boundary bug hash-mismatches (BpeSpec pins the two classic traps).
    "bpe2_apply_merges" -> ((s, d) =>
      Bpe.tokenCounts(Tables.documents(s, d), "doc_id", "text", bpe2Merges)
        .orderBy("doc_id")),

    // BPE2b the applier's PRODUCTION lane (rank-priority mapPartitions —
    // merge-table size costs a hash map, not expression depth; the replace
    // chain above drowns analysis/codegen at real 32k-merge vocabularies).
    // Same merges, same oracle SQL as bpe2 verbatim: a hash match here
    // proves the two appliers identical, not merely both plausible.
    "bpe2b_apply_merges_scalable" -> ((s, d) =>
      Bpe.tokenCountsScalable(Tables.documents(s, d), "doc_id", "text", bpe2Merges)
        .orderBy("doc_id")),

    // BPE3 the full LEARNED lane, on the HYBRID production trainer
    // ([[Bpe.trainMergesLocal]] — ONE corpus-sized word count, then the
    // merge loop driver-side over the vocabulary-bounded word table; the
    // per-merge-Spark-job form [[Bpe.trainMerges]] remains the distributed
    // witness, pinned equal in BpeSpec). The oracle UNROLLS the same 8
    // iterations as chained materialized CTEs (pair-count -> argmax ->
    // replace), so the entire learning trajectory — counts, tie-breaks,
    // greedy application — is hash-checked end to end, not just the final
    // vocabulary.
    "bpe3_learned_merges" -> ((s, d) => {
      val wc = Bpe.wordCounts(Tables.documents(s, d), "text")
      val merges = Bpe.trainMergesLocal(wc, bpe3NMerges)
      val rows = merges.zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) }
      s.createDataFrame(rows).toDF("merge_rank", "lsym", "rsym")
    }),

    // BPE4 the vocabulary artifact: character inventory + learned fused
    // symbols with ids — what a tokenizer release ships beside bpe3's
    // merge table. The char inventory is alphabet-bounded (≤36), so the
    // only corpus-sized work is the shared word count + training.
    "bpe4_vocab" -> ((s, d) => {
      val wc = Materialize.frame(Bpe.wordCounts(Tables.documents(s, d), "text"))
      Bpe.vocab(wc, Bpe.trainMergesLocal(wc, bpe3NMerges)).orderBy("token_id")
    }))

  // ---- oracles --------------------------------------------------------------

  private val v = VisitsView.cte
  private val f = VisitsView.flaggedCte

  /** DuckDB token array matching [[Text.tokens]]. */
  private val toksSql = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** d3c/d3d oracle generator: md5-nibble simhash votes packed into a BIGINT
    * of `bits` width, pigeonhole-banded at maxDist=3 (band width bits/4),
    * xor/popcount verified — the exact arithmetic of
    * `Dedup.simhashPortableSigs` + `simhashPairsFromSigs`. At bits=64 the
    * top bit lands on the BIGINT sign: the pack's two's-complement addition
    * is overflow-free (positive partial sums < 2^63), and the band
    * extraction masks after the arithmetic shift, so sign extension never
    * reaches a key.
    */
  private def simhashPortablePairsSql(bits: Int,
                                      corpusSql: String = "documents"): String = {
    val width = bits / 4 // maxDist=3 → 4 equal bands
    val mask = (1L << width) - 1
    val votes = (0 until bits).map { j =>
      s"SUM(CASE WHEN (((instr('0123456789abcdef', substr(hx, ${j / 4 + 1}, 1)) - 1) >> ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val pack = (0 until bits).map { j =>
      // 1L<<63 renders as -9223372036854775808, whose unary-minus literal
      // DuckDB parses via HUGEINT — spell it as an expression instead
      val bit = if (j == 63) "(-9223372036854775807 - 1)" else s"CAST(${1L << j} AS BIGINT)"
      s"CASE WHEN b$j > 0 THEN $bit ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM $corpusSql c),
       |h AS (SELECT doc_id, md5(tok) AS hx FROM tok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $pack AS s FROM votes),
       |banded AS (
       |  SELECT doc_id, s, band, (s >> ($width * band)) & $mask AS key
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.s AS sa, r.s AS sb
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
       |   AND l.doc_id < r.doc_id)
       |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin
  }
  /** 3-shingles matching [[Text.shingles3]] (1-based). */
  private def shinglesSql(t: String) =
    s"CASE WHEN len($t) >= 3 THEN list_transform(range(1, CAST(len($t) AS INTEGER) - 1), i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]) ELSE CAST([] AS VARCHAR[]) END"

  /** CTE chain reproducing [[Dedup.minhashLshPortable]]'s verified pair set
    * (ends at `verified(a, b, jaccard)`); shared by the d2b and d6 oracles.
    */
  /** e2's exact brute-force top-5 oracle (also a CTE input for e2e). */
  private val e2Sql: String =
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |norms AS (SELECT vec_id, SUM(x*x) AS nrm FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.x * b.x) AS dot
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 32
        |  GROUP BY a.vec_id, b.vec_id
        |),
        |cos AS (
        |  SELECT a_id, b_id, ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id
        |)
        |SELECT a_id, rn, b_id, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
        |  FROM cos) t
        |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin

  /** e2b's LSH-bucketed oracle (integer-arithmetic hyperplanes; CTE input
    * for e2e as well).
    */
  private val e2bSql: String =
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        |  FROM embeddings),
        |planes AS (SELECT CAST(j AS INTEGER) AS j FROM range(0, 6) t(j)),
        |proj AS (
        |  SELECT f.vec_id, p.j,
        |    SUM(f.x * ((f.i * (p.j + 13) * 40503) % 1000003 % 7 - 3)) AS pr
        |  FROM flat f CROSS JOIN planes p GROUP BY f.vec_id, p.j),
        |buckets AS (
        |  SELECT vec_id, CAST(SUM(CASE WHEN pr >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |norms AS (SELECT vec_id, SUM(x * x) AS nrm FROM flat GROUP BY vec_id),
        |cand AS (
        |  SELECT q.vec_id AS a_id, c.vec_id AS b_id, q.bucket
        |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
        |  WHERE q.vec_id < 32 AND c.vec_id <> q.vec_id),
        |dots AS (
        |  SELECT cd.a_id, cd.b_id, cd.bucket, SUM(fa.x * fb.x) AS dot
        |  FROM cand cd
        |  JOIN flat fa ON fa.vec_id = cd.a_id
        |  JOIN flat fb ON fb.vec_id = cd.b_id AND fb.i = fa.i
        |  GROUP BY cd.a_id, cd.b_id, cd.bucket),
        |cos AS (
        |  SELECT a_id, b_id, bucket,
        |    ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id)
        |SELECT a_id, rn, b_id, cosine, bucket FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
        |  FROM cos) t
        |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin

  /** e2g's multi-probe LSH oracle: e2b's integer-arithmetic buckets, with
    * each query probing its own bucket plus every single-bit flip of it.
    */
  private val e2gSql: String =
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        |  FROM embeddings),
        |planes AS (SELECT CAST(j AS INTEGER) AS j FROM range(0, 6) t(j)),
        |proj AS (
        |  SELECT f.vec_id, p.j,
        |    SUM(f.x * ((f.i * (p.j + 13) * 40503) % 1000003 % 7 - 3)) AS pr
        |  FROM flat f CROSS JOIN planes p GROUP BY f.vec_id, p.j),
        |buckets AS (
        |  SELECT vec_id, CAST(SUM(CASE WHEN pr >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |norms AS (SELECT vec_id, SUM(x * x) AS nrm FROM flat GROUP BY vec_id),
        |probes AS (SELECT CAST(j AS INTEGER) AS j FROM range(-1, 6) t(j)),
        |qbuckets AS (
        |  SELECT q.vec_id AS a_id,
        |    CASE WHEN p.j < 0 THEN q.bucket
        |         ELSE xor(q.bucket, CAST(1 << p.j AS BIGINT)) END AS bucket
        |  FROM buckets q CROSS JOIN probes p
        |  WHERE q.vec_id < 32),
        |cand AS (
        |  SELECT qb.a_id, c.vec_id AS b_id
        |  FROM qbuckets qb JOIN buckets c ON c.bucket = qb.bucket
        |  WHERE c.vec_id <> qb.a_id),
        |dots AS (
        |  SELECT cd.a_id, cd.b_id, SUM(fa.x * fb.x) AS dot
        |  FROM cand cd
        |  JOIN flat fa ON fa.vec_id = cd.a_id
        |  JOIN flat fb ON fb.vec_id = cd.b_id AND fb.i = fa.i
        |  GROUP BY cd.a_id, cd.b_id),
        |cos AS (
        |  SELECT a_id, b_id, ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id)
        |SELECT a_id, rn, b_id, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
        |  FROM cos) t
        |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin

  /** e2f's IVF oracle: first-16-centroid quantizer, csim rounded to 4
    * before ranking (ties by cell) exactly as
    * [[Similarity.ivfTopKWithCentroids]] does, corpus keep=1, queries
    * (vec_id < 32) probe 4 cells, candidate pairs deduped, top-5 by
    * (cosine desc, b_id).
    */
  private val ivfSql: String =
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SUM(x*x) AS nrm FROM flat GROUP BY vec_id),
        |cdots AS (
        |  SELECT f.vec_id, c.vec_id AS cell, SUM(f.x * c.x) AS dot
        |  FROM flat f JOIN flat c ON c.i = f.i AND c.vec_id < 16
        |  GROUP BY f.vec_id, c.vec_id),
        |csims AS (
        |  SELECT d.vec_id, d.cell,
        |    ROUND(d.dot / (sqrt(nv.nrm) * sqrt(nc.nrm)), 4) AS csim
        |  FROM cdots d
        |  JOIN norms nv ON nv.vec_id = d.vec_id
        |  JOIN norms nc ON nc.vec_id = d.cell),
        |ranked AS (
        |  SELECT vec_id, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crn
        |  FROM csims),
        |corpus_cells AS (SELECT cell, vec_id AS b_id FROM ranked WHERE crn = 1),
        |query_cells AS (SELECT cell, vec_id AS a_id FROM ranked WHERE crn <= 4 AND vec_id < 32),
        |cand AS (
        |  SELECT DISTINCT q.a_id, c.b_id
        |  FROM query_cells q JOIN corpus_cells c ON c.cell = q.cell AND c.b_id <> q.a_id),
        |cdots2 AS (
        |  SELECT cd.a_id, cd.b_id, SUM(fa.x * fb.x) AS dot
        |  FROM cand cd
        |  JOIN flat fa ON fa.vec_id = cd.a_id
        |  JOIN flat fb ON fb.vec_id = cd.b_id AND fb.i = fa.i
        |  GROUP BY cd.a_id, cd.b_id),
        |cos AS (
        |  SELECT a_id, b_id, ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM cdots2 JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id)
        |SELECT a_id, rn, b_id, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
        |  FROM cos) t
        |WHERE rn <= 5""".stripMargin

  /** Shared SemDeDup assignment CTEs (d9 AND d9b): ivfSql's first-16-
    * centroid assignment (crn=1 over rounded csim, ties by cell) for EVERY
    * vector — `flat`/`norms` feed the pairwise cosine re-checks downstream.
    */
  private val d9AssignCtes: String =
      """flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SUM(x*x) AS nrm FROM flat GROUP BY vec_id),
        |cdots AS (
        |  SELECT f.vec_id, c.vec_id AS cell, SUM(f.x * c.x) AS dot
        |  FROM flat f JOIN flat c ON c.i = f.i AND c.vec_id < 16
        |  GROUP BY f.vec_id, c.vec_id),
        |csims AS (
        |  SELECT d.vec_id, d.cell,
        |    ROUND(d.dot / (sqrt(nv.nrm) * sqrt(nc.nrm)), 4) AS csim
        |  FROM cdots d
        |  JOIN norms nv ON nv.vec_id = d.vec_id
        |  JOIN norms nc ON nc.vec_id = d.cell),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crn
        |    FROM csims) t WHERE crn = 1)""".stripMargin

  /** d9's SemDeDup oracle: assignment, intra-cell pairs a < b with rounded
    * cosine ≥ 0.4 → drop b, survivors by anti-join.
    */
  private val d9Sql: String =
      s"""WITH $d9AssignCtes,
        |pairs AS (
        |  SELECT pa.cell, pa.vec_id AS a, pb.vec_id AS b
        |  FROM assigned pa
        |  JOIN assigned pb ON pb.cell = pa.cell AND pa.vec_id < pb.vec_id),
        |cdots2 AS (
        |  SELECT p.cell, p.a, p.b, SUM(fa.x * fb.x) AS dot
        |  FROM pairs p
        |  JOIN flat fa ON fa.vec_id = p.a
        |  JOIN flat fb ON fb.vec_id = p.b AND fb.i = fa.i
        |  GROUP BY p.cell, p.a, p.b),
        |dropped AS (
        |  SELECT DISTINCT d.cell, d.b AS vec_id
        |  FROM cdots2 d
        |  JOIN norms na ON na.vec_id = d.a
        |  JOIN norms nb ON nb.vec_id = d.b
        |  WHERE ROUND(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) >= 0.4)
        |SELECT a.cell, a.vec_id FROM assigned a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM dropped dr WHERE dr.cell = a.cell AND dr.vec_id = a.vec_id)
        |ORDER BY cell, vec_id""".stripMargin

  /** d9b's incremental oracle, restating [[graft.operators.Similarity.semanticDedupIncremental]]
    * step for step: batch-dedup the corpus half (vec_id < 250, d9's exact
    * drop rule), then admit a delta vector iff it has NO rounded-cosine
    * ≥ 0.4 neighbor in (corpus survivors ∪ smaller-id delta) in its cell.
    * Output = admitted delta rows only, matching the operator contract.
    */
  private val d9bSql: String =
      s"""WITH $d9AssignCtes,
        |cpairs AS (
        |  SELECT pa.cell, pa.vec_id AS a, pb.vec_id AS b
        |  FROM assigned pa
        |  JOIN assigned pb ON pb.cell = pa.cell AND pa.vec_id < pb.vec_id
        |    AND pb.vec_id < 250
        |  WHERE pa.vec_id < 250),
        |cdots2 AS (
        |  SELECT p.cell, p.a, p.b, SUM(fa.x * fb.x) AS dot
        |  FROM cpairs p
        |  JOIN flat fa ON fa.vec_id = p.a
        |  JOIN flat fb ON fb.vec_id = p.b AND fb.i = fa.i
        |  GROUP BY p.cell, p.a, p.b),
        |cdropped AS (
        |  SELECT DISTINCT d.cell, d.b AS vec_id
        |  FROM cdots2 d
        |  JOIN norms na ON na.vec_id = d.a
        |  JOIN norms nb ON nb.vec_id = d.b
        |  WHERE ROUND(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) >= 0.4),
        |surv AS (
        |  SELECT a.cell, a.vec_id FROM assigned a
        |  WHERE a.vec_id < 250 AND NOT EXISTS (
        |    SELECT 1 FROM cdropped dr WHERE dr.cell = a.cell AND dr.vec_id = a.vec_id)),
        |delta AS (SELECT cell, vec_id FROM assigned WHERE vec_id >= 250),
        |dpairs AS (
        |  SELECT d.cell, d.vec_id AS a, s.vec_id AS b
        |  FROM delta d JOIN surv s ON s.cell = d.cell
        |  UNION ALL
        |  SELECT d.cell, d.vec_id AS a, d2.vec_id AS b
        |  FROM delta d JOIN delta d2 ON d2.cell = d.cell AND d2.vec_id < d.vec_id),
        |ddots AS (
        |  SELECT p.cell, p.a, p.b, SUM(fa.x * fb.x) AS dot
        |  FROM dpairs p
        |  JOIN flat fa ON fa.vec_id = p.a
        |  JOIN flat fb ON fb.vec_id = p.b AND fb.i = fa.i
        |  GROUP BY p.cell, p.a, p.b),
        |ddropped AS (
        |  SELECT DISTINCT d.cell, d.a AS vec_id
        |  FROM ddots d
        |  JOIN norms na ON na.vec_id = d.a
        |  JOIN norms nb ON nb.vec_id = d.b
        |  WHERE ROUND(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) >= 0.4)
        |SELECT d.cell, d.vec_id FROM delta d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM ddropped dr WHERE dr.cell = d.cell AND dr.vec_id = d.vec_id)
        |ORDER BY cell, vec_id""".stripMargin

  private val minhashPairsCtes: String = minhashPairsCtesFrom("documents")

  /** [[minhashPairsCtes]] over an arbitrary source CTE/table (e2e1 runs the
    * chain over its validated+exact-deduped frame, not raw documents).
    */
  private def minhashPairsCtesFrom(src: String): String =
    s"""tok AS (SELECT doc_id, $toksSql AS toks FROM $src),
       |sets AS (SELECT doc_id, list_distinct(${shinglesSql("toks")}) AS sh FROM tok),
       |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
       |perms AS (SELECT CAST(p AS INTEGER) AS p FROM range(0, 16) t(p)),
       |mins AS (
       |  SELECT doc_id, p, MIN(md5(shingle || ':' || p)) AS mh
       |  FROM inv CROSS JOIN perms GROUP BY doc_id, p),
       |bands AS (
       |  SELECT doc_id, p // 2 AS band, md5(string_agg(mh, '|' ORDER BY p)) AS sig
       |  FROM mins GROUP BY doc_id, p // 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT c.a, c.b,
       |    ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
       |  FROM cand c JOIN sets sa ON sa.doc_id = c.a JOIN sets sb ON sb.doc_id = c.b)""".stripMargin

  /** dHash near-dup pair CTEs over the synthetic grid images, keyed by an
    * arbitrary image-id source (m4 keys images by doc_id; c11 by the
    * cross-modal assignment 2·doc_id + 13). `imgSrc` must select one
    * `img_id` column; emits CTE `ipairs(a, b, sa, sb)` — banded candidate
    * pairs in IMAGE-id space with both 64-bit signatures, Hamming filter
    * left to the caller. Restates [[Multimodal.gridValue]] (md5-keyed
    * blocks, id%4 top-row perturbation), the 9x8 dHash bit grid, and the
    * 16-bit-band pigeonhole join in closed form.
    */
  private def dhashPairsCtes(imgSrc: String): String =
    s"""imgs AS ($imgSrc),
       |cells AS (
       |  SELECT img_id, bx, by FROM imgs
       |  CROSS JOIN (SELECT unnest(range(0, 9)) AS bx)
       |  CROSS JOIN (SELECT unnest(range(0, 8)) AS by)),
       |hx AS (
       |  SELECT img_id, bx, by,
       |    md5(CAST(img_id // 4 AS VARCHAR) || ':' ||
       |        CAST(bx AS VARCHAR) || ':' || CAST(by AS VARCHAR)) AS h
       |  FROM cells),
       |vals AS (
       |  SELECT img_id, bx, by,
       |    CASE WHEN img_id % 4 > 0 AND by = 0 AND bx < img_id % 4
       |         THEN ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
       |             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) + 97) % 256
       |         ELSE (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
       |             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) END AS v
       |  FROM hx),
       |bits AS (
       |  SELECT l.img_id, CAST(l.by * 8 + l.bx AS INTEGER) AS k
       |  FROM vals l JOIN vals r
       |    ON r.img_id = l.img_id AND r.by = l.by AND r.bx = l.bx + 1
       |  WHERE l.bx < 8 AND l.v > r.v),
       |sig AS (
       |  SELECT i.img_id,
       |    CAST(COALESCE(SUM(CASE WHEN k = 63 THEN (-9223372036854775807 - 1)
       |                           ELSE CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS s
       |  FROM imgs i LEFT JOIN bits ON bits.img_id = i.img_id
       |  GROUP BY i.img_id),
       |banded AS (
       |  SELECT img_id, s, band, (s >> (16 * band)) & 65535 AS key
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
       |ipairs AS (
       |  SELECT DISTINCT l.img_id AS a, r.img_id AS b, l.s AS sa, r.s AS sb
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.key = r.key AND l.img_id < r.img_id)""".stripMargin

  /** d12's whole-corpus span-removal oracle — shared VERBATIM by the
    * incremental lane d12b (the d7b discipline: the batched form must
    * reproduce the whole-corpus result exactly, proven by hash).
    */
  private def d12Sql: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tokpos AS (
         |  SELECT doc_id, p, toks[p] AS tok
         |  FROM (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks FROM tok)),
         |winh AS (
         |  SELECT doc_id, p, md5(array_to_string(toks[p : p + 9], ' ')) AS wh
         |  FROM (SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS p, toks
         |        FROM tok WHERE len(toks) >= 10)),
         |marked AS (
         |  SELECT doc_id, p,
         |    row_number() OVER (PARTITION BY wh ORDER BY doc_id, p) AS rn,
         |    COUNT(*) OVER (PARTITION BY wh) AS c
         |  FROM winh),
         |rem AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT doc_id, unnest(generate_series(p, p + 9)) AS p
         |    FROM marked WHERE c >= 2 AND rn > 1)),
         |kept AS (
         |  SELECT t.doc_id, t.p, t.tok FROM tokpos t
         |  WHERE NOT EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = t.doc_id AND r.p = t.p)),
         |reb AS (
         |  SELECT doc_id, COUNT(*) AS n_after,
         |    string_agg(tok, ' ' ORDER BY p) AS cleaned
         |  FROM kept GROUP BY doc_id)
         |SELECT k.doc_id,
         |  CAST(len(k.toks) AS BIGINT) AS n_before,
         |  CAST(COALESCE(r.n_after, 0) AS BIGINT) AS n_after,
         |  CAST(len(k.toks) - COALESCE(r.n_after, 0) AS BIGINT) AS n_removed,
         |  COALESCE(r.cleaned, '') AS cleaned
         |FROM tok k LEFT JOIN reb r USING (doc_id) ORDER BY k.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Registry.uniqueMap[String]("ExtensionQueries.oracleSql")(
    "e1_dedup_exact" ->
      """SELECT lang, source, MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "e1b_dedup_fingerprint" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "e2_cosine_topk" -> e2Sql,

    // e2h: the oracle recomputes the ground-truth pair count and pins the
    // sampled-centroid recall gate TRUE (the quality-gate pattern — the
    // k-means centroids themselves are engine-specific).
    "e2h_ivf_sampled_recall" ->
      s"""SELECT COUNT(*) AS n_true, TRUE AS recall_ok FROM ($e2Sql) x""",

    // e2k: same gate pattern over the distributed quantizer — n_true is the
    // SQL-recomputable ground-truth count, recall_ok pinned TRUE.
    "e2k_ivf_scalable_recall" ->
      s"""SELECT COUNT(*) AS n_true, TRUE AS recall_ok FROM ($e2Sql) x""",

    // e2l: the gate pattern over the compressed IVF-PQ lane — n_true is the
    // SQL-recomputable ground-truth count, recall_ok pinned TRUE (the PQ
    // codebooks, like the k-means centroids, are engine-specific).
    "e2l_ivfpq_recall" ->
      s"""SELECT COUNT(*) AS n_true, TRUE AS recall_ok FROM ($e2Sql) x""",

    "e2e_ann_recall" ->
      s"""WITH exact AS (SELECT a_id, b_id FROM ($e2Sql) x),
         |approx AS (SELECT a_id, b_id, CAST(1 AS BIGINT) AS hit FROM ($e2bSql) y),
         |per_q AS (
         |  SELECT e.a_id, COUNT(*) AS n_true, SUM(COALESCE(ap.hit, 0)) AS n_hit
         |  FROM exact e LEFT JOIN approx ap ON ap.a_id = e.a_id AND ap.b_id = e.b_id
         |  GROUP BY e.a_id)
         |SELECT COUNT(*) AS n_queries,
         |  ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_true), 4) AS recall_at_5
         |FROM per_q""".stripMargin,


    "e2g_ann_multiprobe" -> e2gSql,

    "e2f_ivf_recall" ->
      s"""WITH exact AS (SELECT a_id, b_id FROM ($e2Sql) x),
         |approx AS (SELECT a_id, b_id, CAST(1 AS BIGINT) AS hit FROM ($ivfSql) y),
         |per_q AS (
         |  SELECT e.a_id, COUNT(*) AS n_true, SUM(COALESCE(ap.hit, 0)) AS n_hit
         |  FROM exact e LEFT JOIN approx ap ON ap.a_id = e.a_id AND ap.b_id = e.b_id
         |  GROUP BY e.a_id)
         |SELECT COUNT(*) AS n_queries,
         |  ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_true), 4) AS recall_at_5
         |FROM per_q""".stripMargin,

    "t9_bigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, CAST(len(toks) AS INTEGER)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bgram
         |  FROM tok),
         |uni AS (SELECT unnest(toks) AS w FROM tok),
         |ucnt AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY w),
         |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM uni),
         |bcnt AS (SELECT bgram, COUNT(*) AS cb FROM bg GROUP BY bgram),
         |scored AS (
         |  SELECT bg.doc_id, ln((cb + 0.5) / (cu + 0.5 * v)) AS lp
         |  FROM bg
         |  JOIN bcnt USING (bgram)
         |  JOIN ucnt ON ucnt.w = split_part(bg.bgram, ' ', 1)
         |  CROSS JOIN vocab)
         |SELECT t.doc_id, COUNT(lp) AS n_bigrams, ROUND(AVG(lp), 4) AS lm_score
         |FROM tok t LEFT JOIN scored s ON s.doc_id = t.doc_id
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "t16_nb_langid" ->
      s"""WITH train AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents WHERE doc_id % 2 = 0),
         |test AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id % 2 = 1),
         |ttok AS (SELECT lang, unnest(toks) AS w FROM train),
         |wc AS (SELECT lang, w, COUNT(*) AS cw FROM ttok GROUP BY lang, w),
         |nd AS (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY lang),
         |nt AS (SELECT lang, COUNT(*) AS n_tok FROM ttok GROUP BY lang),
         |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM ttok),
         |tot AS (SELECT COUNT(*) AS n_all FROM train),
         |classes AS (
         |  SELECT nd.lang, ln(n_docs) - ln(n_all) AS prior_lp, n_tok, v
         |  FROM nd JOIN nt USING (lang) CROSS JOIN vocab CROSS JOIN tot),
         |tw AS (
         |  SELECT doc_id, w, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM test) x GROUP BY doc_id, w),
         |sc AS (
         |  SELECT tw.doc_id, c.lang,
         |    c.prior_lp + SUM(cnt * (ln(COALESCE(cw, 0) + 0.5)
         |                            - ln(n_tok + 0.5 * v))) AS score
         |  FROM tw CROSS JOIN classes c
         |  LEFT JOIN wc ON wc.lang = c.lang AND wc.w = tw.w
         |  GROUP BY tw.doc_id, c.lang, c.prior_lp),
         |best AS (
         |  SELECT doc_id, lang AS pred_lang, ROUND(score, 4) AS score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM sc)
         |SELECT b.doc_id, d.lang, b.pred_lang, b.score
         |FROM best b JOIN documents d USING (doc_id)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // t17: the full CCNet protocol restated — reference-slice LM counts,
    // smoothed-floor left joins, perplexity, per-lang rank tertiles.
    "t17_perplexity_buckets" ->
      s"""WITH tr AS (SELECT $toksSql AS toks FROM documents WHERE doc_id % 5 = 0),
         |sc AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents WHERE doc_id % 5 <> 0),
         |trbg AS (
         |  SELECT unnest(list_transform(range(1, CAST(len(toks) AS INTEGER)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bgram
         |  FROM tr),
         |bcnt AS (SELECT bgram, COUNT(*) AS cb FROM trbg GROUP BY bgram),
         |truni AS (SELECT unnest(toks) AS w FROM tr),
         |ucnt AS (SELECT w, COUNT(*) AS cu FROM truni GROUP BY w),
         |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM truni),
         |sbg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, CAST(len(toks) AS INTEGER)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bgram
         |  FROM sc),
         |scored AS (
         |  SELECT doc_id,
         |    ln((COALESCE(cb, 0) + 0.5) / (COALESCE(cu, 0) + 0.5 * v)) AS lp
         |  FROM sbg
         |  LEFT JOIN bcnt USING (bgram)
         |  LEFT JOIN ucnt ON ucnt.w = split_part(sbg.bgram, ' ', 1)
         |  CROSS JOIN vocab),
         |ppl AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(EXP(-AVG(lp)), 4) AS ppl
         |  FROM scored GROUP BY doc_id),
         |rk AS (
         |  SELECT s.doc_id, s.lang, p.n_bigrams, p.ppl,
         |    ROW_NUMBER() OVER (PARTITION BY s.lang ORDER BY p.ppl, s.doc_id) AS rnk,
         |    COUNT(*) OVER (PARTITION BY s.lang) AS n_lang
         |  FROM sc s JOIN ppl p USING (doc_id))
         |SELECT doc_id, lang, n_bigrams, ppl,
         |  CASE WHEN rnk * 3 <= n_lang THEN 'head'
         |       WHEN rnk * 3 <= n_lang * 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM rk ORDER BY doc_id""".stripMargin,

    // c4: the composed stack restated — e1b's keeper, t16's train/score
    // (test = every survivor), the argmax filtered to 'en', ws2's weight
    // arithmetic over the deduped corpus, and the A-ES draw at salt 'c4'.
    "c4_classifier_curation" ->
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         |dd AS (
         |  SELECT doc_id, text, lang FROM documents JOIN keep USING (doc_id)),
         |tr AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM dd WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, $toksSql AS toks FROM dd),
         |ttok AS (SELECT lang, unnest(toks) AS w FROM tr),
         |wc AS (SELECT lang, w, COUNT(*) AS cw FROM ttok GROUP BY lang, w),
         |nd AS (SELECT lang, COUNT(*) AS n_docs FROM tr GROUP BY lang),
         |nt AS (SELECT lang, COUNT(*) AS n_tok FROM ttok GROUP BY lang),
         |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM ttok),
         |tot AS (SELECT COUNT(*) AS n_all FROM tr),
         |classes AS (
         |  SELECT nd.lang, ln(n_docs) - ln(n_all) AS prior_lp, n_tok, v
         |  FROM nd JOIN nt USING (lang) CROSS JOIN vocab CROSS JOIN tot),
         |tw AS (
         |  SELECT doc_id, w, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM te) x GROUP BY doc_id, w),
         |sc AS (
         |  SELECT tw.doc_id, c.lang,
         |    c.prior_lp + SUM(cnt * (ln(COALESCE(cw, 0) + 0.5)
         |                            - ln(n_tok + 0.5 * v))) AS score
         |  FROM tw CROSS JOIN classes c
         |  LEFT JOIN wc ON wc.lang = c.lang AND wc.w = tw.w
         |  GROUP BY tw.doc_id, c.lang, c.prior_lp),
         |en AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, lang,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |    FROM sc) t
         |  WHERE rn = 1 AND lang = 'en'),
         |tok2 AS (
         |  SELECT doc_id, (lang = 'en') AS tgt, unnest(toks) AS w
         |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM dd) y),
         |wcnt AS (
         |  SELECT w, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, COUNT(*) AS cr
         |  FROM tok2 GROUP BY w),
         |tot2 AS (
         |  SELECT SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt2, COUNT(*) AS nr,
         |         COUNT(DISTINCT w) AS v2
         |  FROM tok2),
         |dw AS (SELECT doc_id, w, COUNT(*) AS cnt FROM tok2 GROUP BY doc_id, w),
         |lr AS (
         |  SELECT doc_id, cnt,
         |    cnt * ((ln(ct + 0.5) - ln(nt2 + 0.5 * v2))
         |         - (ln(cr + 0.5) - ln(nr + 0.5 * v2))) AS lr
         |  FROM dw JOIN wcnt USING (w) CROSS JOIN tot2),
         |wts AS (
         |  SELECT doc_id, ROUND(exp(SUM(lr) / SUM(cnt)), 6) AS weight
         |  FROM lr GROUP BY doc_id),
         |s AS (
         |  SELECT doc_id,
         |    POW((CAST(md5_number_lower('c4:' || CAST(doc_id AS VARCHAR)) AS DOUBLE) + 1.0)
         |          / 18446744073709551616.0,
         |        1.0 / weight) AS kk
         |  FROM wts JOIN en USING (doc_id) WHERE weight > 0)
         |SELECT rank, doc_id, priority FROM (
         |  SELECT doc_id, ROUND(kk, 6) AS priority,
         |    ROW_NUMBER() OVER (ORDER BY kk DESC, doc_id DESC) AS rank
         |  FROM s) t
         |WHERE rank <= 30
         |ORDER BY rank""".stripMargin,

    "ws2_dsir_resample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, (lang = 'en') AS tgt, unnest($toksSql) AS w FROM documents),
         |wcnt AS (
         |  SELECT w, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, COUNT(*) AS cr
         |  FROM tok GROUP BY w),
         |tot AS (
         |  SELECT SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt, COUNT(*) AS nr,
         |         COUNT(DISTINCT w) AS v
         |  FROM tok),
         |dw AS (SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY doc_id, w),
         |lr AS (
         |  SELECT doc_id, cnt,
         |    cnt * ((ln(ct + 0.5) - ln(nt + 0.5 * v))
         |         - (ln(cr + 0.5) - ln(nr + 0.5 * v))) AS lr
         |  FROM dw JOIN wcnt USING (w) CROSS JOIN tot),
         |wts AS (
         |  SELECT doc_id, ROUND(exp(SUM(lr) / SUM(cnt)), 6) AS weight
         |  FROM lr GROUP BY doc_id),
         |s AS (
         |  SELECT doc_id,
         |    POW((CAST(md5_number_lower('ws2:' || CAST(doc_id AS VARCHAR)) AS DOUBLE) + 1.0)
         |          / 18446744073709551616.0,
         |        1.0 / weight) AS kk
         |  FROM wts WHERE weight > 0)
         |SELECT rank, doc_id, priority FROM (
         |  SELECT doc_id, ROUND(kk, 6) AS priority,
         |    ROW_NUMBER() OVER (ORDER BY kk DESC, doc_id DESC) AS rank
         |  FROM s) t
         |WHERE rank <= 50
         |ORDER BY rank""".stripMargin,

    "e3_word_topk" ->
      s"""SELECT word, COUNT(*) AS n FROM (
         |  SELECT unnest($toksSql) AS word FROM documents) t
         |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,

    "emb1_label_centroids" ->
      """WITH e AS (
        |  SELECT label,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT label, pos, COUNT(*) AS n,
        |       CAST(SUM(q) AS BIGINT) AS sum_fp,
        |       CAST(SUM(q) AS BIGINT) // COUNT(*) AS mean_fp
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "chk1_table_checksum" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(md5_number_lower(concat_ws(chr(1),
        |    coalesce(CAST(doc_id AS VARCHAR), chr(2)),
        |    coalesce(lang, chr(2)),
        |    coalesce(source, chr(2)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(2)))) AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM documents""".stripMargin,

    "ws1_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    POW((CAST(md5_number_lower('ws1:' || CAST(doc_id AS VARCHAR)) AS DOUBLE) + 1.0)
        |          / 18446744073709551616.0,
        |        1.0 / CAST(n_chars AS DOUBLE)) AS k
        |  FROM documents)
        |SELECT rank, doc_id, priority FROM (
        |  SELECT doc_id, ROUND(k, 6) AS priority,
        |    ROW_NUMBER() OVER (ORDER BY k DESC, doc_id DESC) AS rank
        |  FROM s) t
        |WHERE rank <= 20
        |ORDER BY rank""".stripMargin,

    "c2_training_assembly" ->
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         |d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents JOIN keep USING (doc_id)),
         |s AS (
         |  SELECT doc_id, n_toks,
         |    CASE WHEN substring(md5('c2:' || doc_id), 1, 8) < 'e6666666' THEN 'train'
         |         ELSE 'val' END AS split
         |  FROM d),
         |c AS (
         |  SELECT split, doc_id // 1024 AS shard, doc_id, n_toks,
         |    SUM(n_toks) OVER (PARTITION BY split, doc_id // 1024 ORDER BY doc_id) AS cum
         |  FROM s)
         |SELECT split, shard, CAST(FLOOR((cum - n_toks) / 512.0) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS seq_tokens
         |FROM c GROUP BY split, shard, seq_id
         |ORDER BY split, shard, seq_id""".stripMargin,

    "c3_export_manifest" ->
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         |d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents JOIN keep USING (doc_id)),
         |s AS (
         |  SELECT doc_id, n_toks,
         |    CASE WHEN substring(md5('c2:' || doc_id), 1, 8) < 'e6666666' THEN 'train'
         |         ELSE 'val' END AS split
         |  FROM d),
         |c AS (
         |  SELECT split, doc_id // 1024 AS shard, doc_id, n_toks,
         |    SUM(n_toks) OVER (PARTITION BY split, doc_id // 1024 ORDER BY doc_id) AS cum
         |  FROM s)
         |SELECT split, shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_toks,
         |  COUNT(DISTINCT CAST(FLOOR((cum - n_toks) / 512.0) AS BIGINT)) AS n_seqs,
         |  CAST(CAST(SUM(CAST(md5_number_lower(concat_ws(chr(1),
         |    coalesce(CAST(doc_id AS VARCHAR), chr(2)),
         |    coalesce(CAST(n_toks AS VARCHAR), chr(2)))) AS DECIMAL(38,0)))
         |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         |FROM c GROUP BY split, shard ORDER BY split, shard""".stripMargin,

    "z1_zorder_key" -> {
      // the same interleave algebra the Spark expression composes
      val zExpr = (0 until 6).flatMap(i => Seq(
        s"(((a >> $i) & 1) << ${2 * i})",
        s"(((b >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH ab AS (
         |  SELECT user_id % 64 AS a, event_id % 64 AS b FROM events),
         |zz AS (SELECT ($zExpr) AS z FROM ab)
         |SELECT z // 64 AS zbucket, COUNT(*) AS n,
         |       MIN(z) AS z_min, MAX(z) AS z_max
         |FROM zz GROUP BY zbucket ORDER BY zbucket""".stripMargin
    },

    "hh1_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest($toksSql) AS word FROM documents)
         |SELECT word, COUNT(*) AS freq FROM w
         |GROUP BY word
         |HAVING COUNT(*) * 29 > (SELECT COUNT(*) FROM w)
         |ORDER BY freq DESC, word""".stripMargin,

    // cm1: the whole sketch rebuilt — every (j, h_j mod 512) cell COUNTed,
    // estimates as MIN over rows — identical md5 integer arithmetic.
    "cm1_countmin" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS item FROM documents),
         |exact AS (
         |  SELECT item, COUNT(*) AS exact_n FROM tok GROUP BY item
         |  ORDER BY exact_n DESC, item LIMIT 20),
         |rows_j AS (SELECT CAST(j AS INTEGER) AS j FROM range(0, 4) t(j)),
         |cells AS (
         |  SELECT r.j,
         |    CAST(md5_number_lower(CAST(r.j AS VARCHAR) || ':' || t.item) % 512 AS BIGINT) AS idx,
         |    COUNT(*) AS cnt
         |  FROM tok t CROSS JOIN rows_j r GROUP BY 1, 2),
         |est AS (
         |  SELECT e.item, MIN(COALESCE(c.cnt, 0)) AS est_n
         |  FROM exact e CROSS JOIN rows_j r
         |  LEFT JOIN cells c ON c.j = r.j
         |    AND c.idx = CAST(md5_number_lower(CAST(r.j AS VARCHAR) || ':' || e.item) % 512 AS BIGINT)
         |  GROUP BY e.item)
         |SELECT e.item, e.exact_n, s.est_n, s.est_n >= e.exact_n AS ok_lower
         |FROM exact e JOIN est s ON s.item = e.item
         |ORDER BY e.exact_n DESC, e.item""".stripMargin,

    "e5_topk_error_types" -> (
      s"WITH ${v},\n${f},\n${ParityQueries.erroresCte}\n" +
      """SELECT "tipoError", COUNT(*) AS n FROM errores
        |GROUP BY "tipoError" ORDER BY n DESC, "tipoError"""".stripMargin),

    "e6_status_distribution" -> (
      s"WITH ${v},\n${f},\n${ParityQueries.erroresCte},\n" +
      """bit AS (
        |  SELECT COALESCE(ok."nombreArchivo", err."nombreArchivo") AS "nombreArchivo",
        |    COALESCE(ok.n, 0) AS oks, COALESCE(err.n, 0) AS errs,
        |    CASE WHEN COALESCE(err.n, 0) > 0 THEN 'Completado con errores'
        |         ELSE 'Completado' END AS estatus
        |  FROM (SELECT "nombreArchivo", COUNT(*) AS n FROM flagged2 WHERE is_valid GROUP BY 1) ok
        |  FULL OUTER JOIN (SELECT "nombreArchivo", COUNT(*) AS n FROM errores GROUP BY 1) err
        |    ON ok."nombreArchivo" = err."nombreArchivo")
        |SELECT estatus, COUNT(*) AS n_files,
        |  ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 4) AS pct
        |FROM bit GROUP BY estatus ORDER BY estatus""".stripMargin),

    "e6b_files_per_day" -> (
      s"WITH ${v},\n${f}\n" +
      """SELECT COALESCE(strftime(try_strptime(trim("Fecha envio"), '%d/%m/%Y %H:%M'), '%Y-%m-%d'),
        |    '(invalida)') AS dia,
        |  COUNT(DISTINCT "nombreArchivo") AS n_files,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
        |FROM flagged2 GROUP BY dia ORDER BY dia""".stripMargin),

    "e6c_success_quarantine" -> (
      s"WITH ${v},\n${f},\n${ParityQueries.erroresCte},\n" +
      """bit AS (
        |  SELECT COALESCE(ok."nombreArchivo", err."nombreArchivo") AS "nombreArchivo",
        |    COALESCE(ok.n, 0) AS oks, COALESCE(err.n, 0) AS errs,
        |    CASE WHEN COALESCE(err.n, 0) > 0 THEN 'Completado con errores'
        |         ELSE 'Completado' END AS estatus
        |  FROM (SELECT "nombreArchivo", COUNT(*) AS n FROM flagged2 WHERE is_valid GROUP BY 1) ok
        |  FULL OUTER JOIN (SELECT "nombreArchivo", COUNT(*) AS n FROM errores GROUP BY 1) err
        |    ON ok."nombreArchivo" = err."nombreArchivo")
        |SELECT COUNT(*) AS n_files,
        |  CAST(SUM(CASE WHEN estatus = 'Fallido' THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  ROUND(SUM(CASE WHEN estatus = 'Completado' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4) AS pct_clean,
        |  ROUND(SUM(oks) * 100.0 / (SUM(oks) + SUM(errs)), 4) AS pct_rows_ok
        |FROM bit""".stripMargin),

    "e8_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e8b_json_map" ->
      """WITH kv AS (SELECT unnest(json_keys(props)) AS key, props FROM events)
        |SELECT key, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT json_extract_string(props, '$.' || key)) AS BIGINT) AS n_vals,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS BIGINT) AS sum_val
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,

    "e9_hourly_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY hour_epoch""".stripMargin,

    "d2b_minhash_portable" ->
      s"""WITH $minhashPairsCtes
         |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.05 ORDER BY a, b""".stripMargin,

    // d2 (round 16 gate): the oracle recomputes the exact-Jaccard ground
    // truth over the SAME shingle domain (every pair sharing a shingle)
    // and pins the precision/strong-recall booleans TRUE — the xxhash64
    // signatures are engine-specific, their admitted pair set's QUALITY
    // is not.
    "d2_minhash_lsh" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sets AS (SELECT doc_id, list_distinct(${shinglesSql("toks")}) AS sh FROM tok),
         |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
         |  FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id),
         |jac AS (
         |  SELECT p.a, p.b,
         |    ROUND(CAST(p.n_common AS DOUBLE) /
         |      (len(sa.sh) + len(sb.sh) - p.n_common), 4) AS jaccard
         |  FROM pairs p JOIN sets sa ON sa.doc_id = p.a JOIN sets sb ON sb.doc_id = p.b)
         |SELECT CAST(COUNT(*) FILTER (WHERE jaccard >= 0.05) AS BIGINT) AS n_true_pairs,
         |  CAST(COUNT(*) FILTER (WHERE jaccard >= 0.5) AS BIGINT) AS n_strong_pairs,
         |  CAST(COUNT(*) FILTER (WHERE jaccard >= 0.05 AND jaccard < 0.5) AS BIGINT)
         |    AS n_weak_pairs,
         |  TRUE AS precision_ok, TRUE AS strong_recall_ok, TRUE AS weak_not_lost
         |FROM jac""".stripMargin,

    // d3 (round 16 gate): per-doc token count (oracle-exact) + the
    // signature-determinism boolean pinned TRUE; signature ARITHMETIC is
    // oracle-checked via the md5-nibble twins (d3c/d3d).
    "d3_simhash" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, TRUE AS dup_consistent
         |FROM tok ORDER BY doc_id""".stripMargin,

    // d3b (round 16 gate): n_exact_dup_pairs is the oracle-provable
    // near-dup floor (identical fingerprint ⇒ identical sigs ⇒ Hamming 0 ⇒
    // pigeonhole banding MUST emit); the booleans are pinned TRUE.
    "d3b_simhash_neardup" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b
        |      FROM fp x JOIN fp y ON x.fp = y.fp AND x.doc_id < y.doc_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_dup_pairs,
        |  TRUE AS all_exact_dups_found, TRUE AS pairs_nonempty
        |FROM p""".stripMargin,

    // e2c (round 16 gate): the oracle recomputes the exact all-pairs
    // cosine ground truth (e2Sql's arithmetic, unrestricted pair domain)
    // and pins precision/recall booleans TRUE.
    "e2c_embedding_neardup" ->
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SUM(x*x) AS nrm FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.x * b.x) AS dot
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
        |  WHERE a.vec_id < 200
        |  GROUP BY a.vec_id, b.vec_id),
        |cos AS (
        |  SELECT d.a, d.b, ROUND(d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots d JOIN norms na ON na.vec_id = d.a JOIN norms nb ON nb.vec_id = d.b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
        |  TRUE AS precision_ok, TRUE AS recall_ok
        |FROM cos WHERE cosine >= 0.4""".stripMargin,

    // c8 (round 16): the retrieval composition's oracle restates the CHUNK
    // derivation (t11's integer window math) and the query cut exactly —
    // n_queries/n_corpus pin the chunk hand-off; the k/score-plumbing/
    // rank/recall booleans are pinned TRUE (measured recall 1.0 at both
    // scales vs the 0.8 floor: duplicate chunk vectors land in the same
    // cell by construction, so the probe finds them; a probe/shortlist/
    // re-rank regression still collapses it).
    // pg1: the 4-iteration fixed-point power loop unrolled as chained
    // CTEs from the same constants the Spark lane uses.
    "pg1_pagerank" -> pg1Sql,

    // sft1: render, prefix-sum offsets, loss spans, conversation
    // fingerprint — all restated (md5 + string_agg ORDER BY = the sorted
    // piece fold).
    "sft1_chat_render" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    event_type || ' ' || COALESCE(props, '') AS text
        |  FROM events),
        |p AS (SELECT *, '<|' || role || '|>' || text || '<|end|>' AS piece FROM t),
        |o AS (
        |  SELECT user_id, role, piece,
        |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS turn_idx,
        |    COALESCE(SUM(CAST(length(piece) AS BIGINT)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |    CAST(SUM(length(piece)) AS BIGINT) AS n_chars,
        |    md5(string_agg(piece, '' ORDER BY ts, event_id)) AS render_fp
        |  FROM p GROUP BY user_id)
        |SELECT o.user_id, o.turn_idx, o.role,
        |  CASE WHEN role = 'assistant' THEN s + length(role) + 4 END AS loss_start,
        |  CASE WHEN role = 'assistant'
        |       THEN s + CAST(length(piece) AS BIGINT) - 7 END AS loss_end,
        |  c.render_fp, c.n_turns, c.n_chars
        |FROM o JOIN c USING (user_id)
        |ORDER BY user_id, turn_idx""".stripMargin,

    // dpo1: scoring + pair selection restated end to end — the shared
    // quality ladder in fixed point, injective arg_max/arg_min tie keys,
    // the integer margin test.
    "dpo1_preference_pairs" ->
      s"""WITH ${qfpScoredSql("documents")},
         |${dpoPairsSql("qscored")}
         |SELECT * FROM pairs ORDER BY prompt_id""".stripMargin,

    // sft2: the token-span twin of sft1's oracle — BPE pre-tokenizer
    // counts (t5's regex), +2 atomic delimiters per piece, the same
    // prefix-sum window, assistant spans offset past the role token.
    "sft2_token_spans" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    event_type || ' ' || COALESCE(props, '') AS text
        |  FROM events),
        |p AS (
        |  SELECT *, CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
        |    AS BIGINT) AS ntt
        |  FROM t),
        |o AS (
        |  SELECT user_id, role, ntt,
        |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS turn_idx,
        |    CAST(COALESCE(SUM(ntt + 2) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT user_id, CAST(SUM(ntt + 2) AS BIGINT) AS n_tokens
        |  FROM p GROUP BY user_id)
        |SELECT o.user_id, o.turn_idx, o.role,
        |  o.ntt AS n_text_tokens,
        |  CASE WHEN role = 'assistant' THEN s + 1 END AS tok_start,
        |  CASE WHEN role = 'assistant' THEN s + 1 + ntt END AS tok_end,
        |  c.n_tokens
        |FROM o JOIN c USING (user_id)
        |ORDER BY user_id, turn_idx""".stripMargin,

    // c10: spans → accounting → budget gate → pk2's recursive packing
    // fold → loss-token manifest, restated end to end.
    "c10_sft_assembly" ->
      """WITH RECURSIVE t AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    event_type || ' ' || COALESCE(props, '') AS text
        |  FROM events),
        |p AS (
        |  SELECT user_id, role, CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
        |    AS BIGINT) AS ntt
        |  FROM t),
        |c AS (
        |  SELECT user_id, SUM(ntt + 2) AS n_tokens,
        |    SUM(CASE WHEN role = 'assistant' THEN ntt ELSE 0 END) AS loss_tokens
        |  FROM p GROUP BY 1),
        |b AS (SELECT * FROM c WHERE n_tokens <= 600),
        |d AS (
        |  SELECT user_id, user_id // 64 AS shard, n_tokens AS tk, loss_tokens,
        |    row_number() OVER (PARTITION BY user_id // 64 ORDER BY user_id) AS pos
        |  FROM b),
        |r AS (
        |  SELECT shard, pos, user_id, tk, loss_tokens, tk AS fill,
        |    CAST(0 AS BIGINT) AS seq
        |  FROM d WHERE pos = 1
        |  UNION ALL
        |  SELECT d.shard, d.pos, d.user_id, d.tk, d.loss_tokens,
        |    CASE WHEN r.fill + d.tk > 2048 AND r.fill > 0 AND d.tk > 0
        |         THEN d.tk ELSE r.fill + d.tk END,
        |    CASE WHEN r.fill + d.tk > 2048 AND r.fill > 0 AND d.tk > 0
        |         THEN r.seq + 1 ELSE r.seq END
        |  FROM r JOIN d ON d.shard = r.shard AND d.pos = r.pos + 1)
        |SELECT shard, seq AS seq_id, COUNT(*) AS n_convs,
        |  CAST(SUM(tk) AS BIGINT) AS seq_tokens,
        |  CAST(SUM(loss_tokens) AS BIGINT) AS loss_tokens,
        |  greatest(2048 - CAST(SUM(tk) AS BIGINT), 0) AS padding
        |FROM r GROUP BY shard, seq ORDER BY shard, seq_id""".stripMargin,

    // dpo2: incremental == one-shot by monoid algebra — dpo1's oracle,
    // verbatim (the d6b/d12b discipline).
    "dpo2_incremental_pairs" ->
      s"""WITH ${qfpScoredSql("documents")},
         |${dpoPairsSql("qscored")}
         |SELECT * FROM pairs ORDER BY prompt_id""".stripMargin,

    // fim1: cut-point residues, the PSM render, and the char- AND
    // token-space loss arithmetic restated (piece token counts via t5's
    // regex); CASE keeps the modulus unevaluated on ineligible rows.
    "fim1_psm_transform" ->
      """WITH f AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
        |    (text IS NOT NULL AND length(text) >= 3 AND doc_id % 2 = 0) AS elig
        |  FROM documents),
        |g AS (
        |  SELECT *, CASE WHEN elig
        |    THEN ((doc_id * 7919) % (n - 2)) + 1 END AS c1
        |  FROM f),
        |h AS (
        |  SELECT *, CASE WHEN elig
        |    THEN c1 + 1 + ((doc_id * 104729) % (n - c1 - 1)) END AS c2
        |  FROM g),
        |pc AS (
        |  SELECT *,
        |    CASE WHEN elig THEN substr(text, 1, CAST(c1 AS INTEGER)) END AS pfx,
        |    CASE WHEN elig THEN substr(text, CAST(c2 + 1 AS INTEGER), CAST(n AS INTEGER)) END AS sfx,
        |    CASE WHEN elig THEN substr(text, CAST(c1 + 1 AS INTEGER), CAST(c2 - c1 AS INTEGER)) END AS mid
        |  FROM h),
        |tc AS (
        |  SELECT *,
        |    CAST(len(regexp_extract_all(COALESCE(pfx, ''), '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS ntp,
        |    CAST(len(regexp_extract_all(COALESCE(sfx, ''), '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS nts,
        |    CAST(len(regexp_extract_all(COALESCE(mid, ''), '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS ntm,
        |    CAST(len(regexp_extract_all(COALESCE(text, ''), '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS ntt
        |  FROM pc),
        |r AS (
        |  SELECT doc_id, n AS n_chars,
        |    CASE WHEN elig THEN 'psm' ELSE 'raw' END AS mode,
        |    CASE WHEN elig THEN '<|pre|>' || pfx || '<|suf|>' || sfx || '<|mid|>' || mid
        |         ELSE text END AS rendered,
        |    CASE WHEN elig THEN 7 + c1 + 7 + (n - c2) + 7 ELSE 0 END AS loss_start,
        |    CASE WHEN elig THEN 7 + c1 + 7 + (n - c2) + 7 + (c2 - c1)
        |         ELSE COALESCE(n, 0) END AS loss_end,
        |    CASE WHEN elig THEN 3 + ntp + nts + ntm ELSE ntt END AS n_tokens,
        |    CASE WHEN elig THEN 3 + ntp + nts ELSE 0 END AS tok_loss_start,
        |    CASE WHEN elig THEN 3 + ntp + nts + ntm ELSE ntt END AS tok_loss_end
        |  FROM tc)
        |SELECT doc_id, n_chars, mode, rendered, loss_start, loss_end,
        |  n_tokens, tok_loss_start, tok_loss_end,
        |  md5(COALESCE(rendered, '')) AS render_fp
        |FROM r ORDER BY doc_id""".stripMargin,

    // grp1: integer group moments, the cancelled-n z formula, and the
    // degenerate-group nulls restated. SUMs cast to BIGINT before the
    // moment arithmetic (DuckDB SUM yields HUGEINT).
    "grp1_group_advantage" ->
      s"""WITH ${qfpScoredSql("documents")},
         |m AS (
         |  SELECT doc_id % 64 AS prompt_id, COUNT(*) AS n,
         |    CAST(SUM(qfp) AS BIGINT) AS s,
         |    CAST(SUM(qfp * qfp) AS BIGINT) AS ss
         |  FROM qscored WHERE qfp IS NOT NULL GROUP BY 1)
         |SELECT m.prompt_id, q.doc_id,
         |  CAST(m.n AS BIGINT) AS n_candidates,
         |  ROUND(q.qfp / 10000.0, 4) AS q,
         |  CASE WHEN m.n >= 2 AND m.n * m.ss - m.s * m.s > 0
         |       THEN ROUND(CAST(m.n * q.qfp - m.s AS DOUBLE) /
         |                  sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)), 4)
         |  END AS advantage
         |FROM qscored q JOIN m ON q.doc_id % 64 = m.prompt_id
         |WHERE q.qfp IS NOT NULL ORDER BY q.doc_id""".stripMargin,

    // c9: every stage restated — fingerprint keepers, eval split, the
    // ≥2-shared-shingle pool decon, then the shared scoring + pair CTEs
    // over the CLEAN pool.
    "c9_dpo_assembly" ->
      s"""WITH fp AS (
         |  SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS f,
         |    MIN(doc_id) AS doc_id
         |  FROM documents GROUP BY 1),
         |cand AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN fp USING (doc_id)
         |  WHERE d.doc_id % 97 <> 0),
         |evd AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |cs AS (
         |  SELECT doc_id, unnest(list_distinct(${shinglesSql("toks")})) AS s
         |  FROM (SELECT doc_id, $toksSql AS toks FROM cand) t),
         |es AS (
         |  SELECT doc_id AS eval_id, unnest(list_distinct(${shinglesSql("toks")})) AS s
         |  FROM (SELECT doc_id, $toksSql AS toks FROM evd) t),
         |ov AS (SELECT cs.doc_id, eval_id, COUNT(*) AS n
         |       FROM cs JOIN es USING (s) GROUP BY 1, 2),
         |cont AS (SELECT DISTINCT doc_id FROM ov WHERE n >= 2),
         |clean AS (
         |  SELECT doc_id, text FROM cand
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |${qfpScoredSql("clean")},
         |${dpoPairsSql("qscored")}
         |SELECT * FROM pairs ORDER BY prompt_id""".stripMargin,

    // rrf1: the full hybrid stack restated — BM25 posting-list probe,
    // flattened-array cosine, both rank cuts, and the RRF arithmetic.
    "rrf1_hybrid_retrieval" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |q AS (
         |  SELECT doc_id AS q_id, unnest(list_distinct(toks)) AS word
         |  FROM tok WHERE doc_id < 8),
         |tfx AS (
         |  SELECT doc_id, word, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS word FROM tok) x
         |  GROUP BY doc_id, word),
         |dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
         |dfreq AS (SELECT word, COUNT(*) AS df FROM tfx GROUP BY word),
         |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |ad AS (SELECT AVG(dl) AS avgdl FROM dl),
         |bm AS (
         |  SELECT q_id, tfx.doc_id AS doc_id, ROUND(SUM(
         |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
         |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
         |  FROM q JOIN tfx USING (word)
         |  JOIN dl ON dl.doc_id = tfx.doc_id
         |  JOIN dfreq USING (word)
         |  CROSS JOIN nd CROSS JOIN ad
         |  WHERE tfx.doc_id <> q_id
         |  GROUP BY q_id, tfx.doc_id),
         |lex AS (
         |  SELECT q_id, doc_id, r_lex FROM (
         |    SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER
         |        (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_lex
         |    FROM bm) t WHERE r_lex <= 20),
         |nv AS (SELECT COUNT(*) AS n_vec FROM embeddings),
         |asg AS (
         |  SELECT d.doc_id, e.embedding
         |  FROM documents d CROSS JOIN nv
         |  JOIN embeddings e ON e.vec_id = (d.doc_id * 31 + 7) % n_vec),
         |flat AS (
         |  SELECT doc_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM asg),
         |norms AS (SELECT doc_id, SUM(x*x) AS nrm FROM flat GROUP BY doc_id),
         |dots AS (
         |  SELECT a.doc_id AS q_id, b.doc_id AS doc_id, SUM(a.x * b.x) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id < 8
         |  GROUP BY a.doc_id, b.doc_id),
         |cosv AS (
         |  SELECT q_id, dots.doc_id AS doc_id,
         |         ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.doc_id = q_id
         |  JOIN norms nb ON nb.doc_id = dots.doc_id),
         |den AS (
         |  SELECT q_id, doc_id, r_dense FROM (
         |    SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER
         |        (PARTITION BY q_id ORDER BY cosine DESC, doc_id) AS INTEGER) AS r_dense
         |    FROM cosv) t WHERE r_dense <= 20),
         |fused AS (
         |  SELECT COALESCE(l.q_id, dn.q_id) AS q_id,
         |         COALESCE(l.doc_id, dn.doc_id) AS doc_id,
         |         l.r_lex, dn.r_dense,
         |         ROUND(COALESCE(1.0 / (60 + l.r_lex), 0)
         |             + COALESCE(1.0 / (60 + dn.r_dense), 0), 6) AS rrf
         |  FROM lex l FULL OUTER JOIN den dn
         |    ON l.q_id = dn.q_id AND l.doc_id = dn.doc_id)
         |SELECT q_id, rn, doc_id, rrf, r_lex, r_dense FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER
         |      (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn
         |  FROM fused) t
         |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,

    "c8_retrieval_pipeline" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) <= 200 THEN 1
        |         ELSE (length(text) - 51) // 150 + 1 END AS nc
        |  FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, nc)) AS i FROM n),
        |ids AS (SELECT doc_id * 1000 + i AS cid FROM c)
        |SELECT CAST(COUNT(*) FILTER (WHERE cid < 8000) AS BIGINT) AS n_queries,
        |  CAST(COUNT(*) AS BIGINT) AS n_corpus,
        |  TRUE AS k_ok, TRUE AS scores_ok, TRUE AS rank_ok, TRUE AS recall_ok
        |FROM ids""".stripMargin,

    // e2d (round 16 gate): n_queries is oracle-exact; the k/score-plumbing/
    // rank/recall booleans are pinned TRUE (the e2h pattern — the sampled
    // k-means centroids are engine-specific, the returned rows' integrity
    // is not).
    "e2d_ann_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS k_ok,
        |  TRUE AS scores_ok, TRUE AS rank_ok, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 32""".stripMargin,

    "d7_decontamination" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct(${shinglesSql("toks")}) AS sh FROM tok),
         |inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |pairs AS (
         |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
         |  FROM inv t JOIN inv e ON t.s = e.s
         |  WHERE e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
         |  GROUP BY 1, 2)
         |SELECT train_id, eval_id, n_shared FROM pairs
         |WHERE n_shared >= 2 ORDER BY train_id, eval_id""".stripMargin,

    // d7b: the Bloom-prefiltered lane returns EXACTLY d7's pairs (no false
    // negatives; false positives die in the verify join), so the oracle is
    // d7's SQL verbatim — a hash match here checks the entire prefilter
    // machinery, not just row counts.
    "d7b_decontamination_bloom" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct(${shinglesSql("toks")}) AS sh FROM tok),
         |inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |pairs AS (
         |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
         |  FROM inv t JOIN inv e ON t.s = e.s
         |  WHERE e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
         |  GROUP BY 1, 2)
         |SELECT train_id, eval_id, n_shared FROM pairs
         |WHERE n_shared >= 2 ORDER BY train_id, eval_id""".stripMargin,

    // d3c / d3d: the portable simhash restated digit for digit — md5-nibble
    // votes, BIGINT bit packing, pigeonhole bands, xor/popcount verify
    // (32-bit/8-bit-band twin and the production 64-bit/16-bit-band
    // layout). Every step is the identical integer arithmetic the Spark
    // operator runs, so the pair sets hash-match exactly.
    // d3c's corpus is stride-anchored (identity at both checked scales —
    // see the query-side comment); d3d keeps the full corpus.
    "d3c_simhash_portable" -> simhashPortablePairsSql(bits = 32,
      corpusSql = strideAnchorSql("documents", "doc_id", docWitnessCap)),
    "d3d_simhash_portable64" -> simhashPortablePairsSql(bits = 64),

    // d5's corpus is stride-anchored (identity at both checked scales —
    // see the query-side comment; closes the r18 sf1 oracle timeout).
    "d5_levenshtein_neardup" ->
      s"""SELECT blk, a, b, dist FROM (
         |  SELECT x.lang AS blk, x.doc_id AS a, y.doc_id AS b,
         |    levenshtein(x.text, y.text) AS dist
         |  FROM ${strideAnchorSql("documents", "doc_id", docWitnessCap)} x
         |  JOIN ${strideAnchorSql("documents", "doc_id", docWitnessCap)} y
         |    ON x.lang = y.lang AND x.doc_id < y.doc_id
         |   AND abs(x.n_chars - y.n_chars) <= 16) t
         |WHERE dist <= 40 ORDER BY blk, a, b""".stripMargin,

    "c1_curation_pipeline" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |pairs AS (SELECT a, b FROM verified WHERE jaccard >= 0.5),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, comp) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
         |drops AS (SELECT id AS doc_id FROM labels WHERE id <> comp),
         |feat AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(length(d.text) AS INTEGER) AS n_chars,
         |    CAST(len(t.toks) AS INTEGER) AS n_tokens,
         |    CAST(length(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
         |    CAST(len(list_filter(t.toks, x -> x IN $stopList)) AS DOUBLE) AS hits
         |  FROM documents d JOIN tok t USING (doc_id)),
         |scored AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
         |        + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
         |        * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) AS quality
         |  FROM feat)
         |SELECT doc_id, lang, n_chars, quality FROM scored
         |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         |  AND n_chars BETWEEN 100 AND 10000 AND quality >= 0.53
         |ORDER BY doc_id""".stripMargin,

    "d6_neardup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |pairs AS (SELECT a, b FROM verified WHERE jaccard >= 0.05),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, comp) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
         |SELECT comp, COUNT(*) AS n_members, MAX(id) AS max_id
         |FROM labels GROUP BY comp ORDER BY comp""".stripMargin,

    // d6b: incremental CC provably equals batch CC over the full pair
    // graph — the oracle IS d6's recursive CTE, verbatim.
    "d6b_incremental_cc" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |pairs AS (SELECT a, b FROM verified WHERE jaccard >= 0.05),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, comp) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
         |SELECT comp, COUNT(*) AS n_members, MAX(id) AS max_id
         |FROM labels GROUP BY comp ORDER BY comp""".stripMargin,

    // e2b: the LSH bucket is deterministic integer arithmetic
    // (pmod(pmod(i*(j+13)*40503, 1000003), 7) - 3 hyperplane components), so the
    // approximate path itself is oracle-checkable end to end.
    "e2b_ann_lsh" -> e2bSql,

    // e2i: e2's brute-force cosine restated with the label-mismatch filter
    // applied BEFORE the per-query ranking — exactly the operator's join
    // order, so the top-5 cut is identical.
    "e2i_hard_negatives" ->
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |labels AS (SELECT vec_id, label FROM embeddings),
        |norms AS (SELECT vec_id, SUM(x*x) AS nrm FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.x * b.x) AS dot
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 32
        |  GROUP BY a.vec_id, b.vec_id),
        |cos AS (
        |  SELECT a_id, b_id, ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id),
        |neg AS (
        |  SELECT c.a_id, c.b_id, lb.label AS neg_label, c.cosine
        |  FROM cos c JOIN labels la ON la.vec_id = c.a_id
        |             JOIN labels lb ON lb.vec_id = c.b_id
        |  WHERE la.label <> lb.label)
        |SELECT a_id, rn, b_id, neg_label, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
        |  FROM neg) t
        |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin,

    // e2j: e2b's double-arithmetic bucket restatement with the label
    // residual before ranking (bucket dropped from the output — the
    // negative's identity, not its bucket, is the mining result).
    "e2j_hard_negatives_lsh" ->
      """WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        |  FROM embeddings),
        |labels AS (SELECT vec_id, label FROM embeddings),
        |planes AS (SELECT CAST(j AS INTEGER) AS j FROM range(0, 6) t(j)),
        |proj AS (
        |  SELECT f.vec_id, p.j,
        |    SUM(f.x * ((f.i * (p.j + 13) * 40503) % 1000003 % 7 - 3)) AS pr
        |  FROM flat f CROSS JOIN planes p GROUP BY f.vec_id, p.j),
        |buckets AS (
        |  SELECT vec_id, CAST(SUM(CASE WHEN pr >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |norms AS (SELECT vec_id, SUM(x * x) AS nrm FROM flat GROUP BY vec_id),
        |cand AS (
        |  SELECT q.vec_id AS a_id, c.vec_id AS b_id
        |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
        |  JOIN labels la ON la.vec_id = q.vec_id
        |  JOIN labels lb ON lb.vec_id = c.vec_id
        |  WHERE q.vec_id < 32 AND c.vec_id <> q.vec_id AND la.label <> lb.label),
        |dots AS (
        |  SELECT cd.a_id, cd.b_id, SUM(fa.x * fb.x) AS dot
        |  FROM cand cd
        |  JOIN flat fa ON fa.vec_id = cd.a_id
        |  JOIN flat fb ON fb.vec_id = cd.b_id AND fb.i = fa.i
        |  GROUP BY cd.a_id, cd.b_id),
        |cos AS (
        |  SELECT c.a_id, c.b_id, lb.label AS neg_label,
        |    ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots c JOIN norms na ON na.vec_id = c.a_id
        |              JOIN norms nb ON nb.vec_id = c.b_id
        |              JOIN labels lb ON lb.vec_id = c.b_id)
        |SELECT a_id, rn, b_id, neg_label, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
        |  FROM cos) t
        |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin,

    // d9: the SemDeDup chain restated — e2f's first-16-centroid assignment,
    // intra-cell pairs, rounded-cosine drop, anti-join survivors.
    "d9_semantic_dedup" -> d9Sql,

    // d9b: the incremental admission restated — corpus half batch-deduped
    // with d9's exact rule, delta admitted iff no >=0.4 neighbor in
    // (survivors ∪ smaller-id delta) within its cell.
    "d9b_semantic_dedup_incremental" -> d9bSql,

    // e2c2: the SRP near-dup witness restated digit for digit — fixed-point
    // BIGINT projections (floor(x·2^20) × the same integer-mixed plane
    // components), per-band bit pack, band equi-join, rounded-cosine verify.
    // Every step is the identical integer arithmetic the Spark operator
    // runs, so the pair set hash-matches exactly. Corpus stride-anchored
    // (identity at both checked scales — see the query-side comment).
    "e2c2_embedding_neardup_portable" ->
      s"""WITH flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        |  FROM ${strideAnchorSql("embeddings", "vec_id", embWitnessCap)} e),
        |fixq AS (
        |  SELECT vec_id, i, x, CAST(FLOOR(x * 1048576) AS BIGINT) AS q FROM flat),
        |planes AS (
        |  SELECT CAST(b AS INTEGER) AS band, CAST(j AS INTEGER) AS j
        |  FROM range(0, 4) t(b) CROSS JOIN range(0, 6) u(j)),
        |proj AS (
        |  SELECT f.vec_id, p.band, p.j,
        |    SUM(f.q * ((f.i * (p.band * 6 + p.j + 13) * 40503) % 1000003 % 7 - 3)) AS pr
        |  FROM fixq f CROSS JOIN planes p GROUP BY 1, 2, 3),
        |buckets AS (
        |  SELECT vec_id, band,
        |    CAST(SUM(CASE WHEN pr >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
        |  FROM buckets l JOIN buckets r
        |    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
        |norms AS (SELECT vec_id, SUM(x * x) AS nrm FROM flat GROUP BY 1),
        |dots AS (
        |  SELECT c.a, c.b, SUM(fa.x * fb.x) AS dot
        |  FROM cand c
        |  JOIN flat fa ON fa.vec_id = c.a
        |  JOIN flat fb ON fb.vec_id = c.b AND fb.i = fa.i
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT a, b, ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b)
        |SELECT a, b, cosine FROM cos WHERE cosine >= 0.4 ORDER BY a, b""".stripMargin,


    "e9c_hourly_gapfill" ->
      """WITH buys AS (
        |  SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch
        |  FROM events WHERE event_type = 'purchase'),
        |hourly AS (SELECT hour_epoch, COUNT(*) AS n FROM buys GROUP BY 1),
        |grid AS (
        |  SELECT unnest(generate_series((SELECT MIN(hour_epoch) FROM hourly),
        |                                (SELECT MAX(hour_epoch) FROM hourly),
        |                                3600)) AS hour_epoch)
        |SELECT g.hour_epoch, COALESCE(h.n, 0) AS n
        |FROM grid g LEFT JOIN hourly h USING (hour_epoch)
        |ORDER BY hour_epoch""".stripMargin,

    "t1_langid" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS INTEGER) AS hits
         |  FROM tok)
         |SELECT doc_id, n_tokens, hits,
         |  ROUND(CAST(hits AS DOUBLE) / greatest(n_tokens, 1), 4) AS stop_ratio,
         |  CASE WHEN ROUND(CAST(hits AS DOUBLE) / greatest(n_tokens, 1), 4) >= 0.05
         |       THEN 'en' ELSE 'unk' END AS lang_guess
         |FROM feat ORDER BY doc_id""".stripMargin,

    "t1b_langid_ngram" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '(the|and|ing|ion|ent|for|her)')) AS INTEGER) AS en_hits,
        |  CAST(len(regexp_extract_all(lower(text), '(der|und|sch|ein|ich|den)')) AS INTEGER) AS de_hits,
        |  CASE WHEN len(regexp_extract_all(lower(text), '(the|and|ing|ion|ent|for|her)'))
        |         >= len(regexp_extract_all(lower(text), '(der|und|sch|ein|ich|den)'))
        |       THEN 'en' ELSE 'de' END AS lang_guess
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS INTEGER) AS n_pieces,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  ROUND(CAST(length(text) AS DOUBLE) /
        |    greatest(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')), 1), 4) AS chars_per_piece
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality_score" ->
      s"""WITH tok AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS DOUBLE) AS tok_len_sum,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS DOUBLE) AS hits
         |  FROM tok)
         |SELECT doc_id, n_tokens, n_chars,
         |  ROUND(tok_len_sum / greatest(n_tokens, 1), 4) AS avg_token_len,
         |  ROUND(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
         |  ROUND(hits / greatest(n_tokens, 1), 4) AS stop_ratio,
         |  CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
         |      + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
         |      * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) AS quality
         |FROM feat ORDER BY doc_id""".stripMargin,

    // t13: every ratio recomputed from the shared tokenizer, each rule
    // restated on the ROUNDED ratio (so band-edge comparisons see the
    // identical 4-decimal value both engines produced).
    "t13_gopher_quality" ->
      s"""WITH tok AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS DOUBLE) AS tok_len_sum,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS n_alpha,
         |    CAST(len(list_filter(list_distinct(toks), x -> x IN $stopList)) AS INTEGER) AS n_stop_distinct,
         |    CAST((length(text) - length(replace(text, '...', ''))) // 3
         |       + (length(text) - length(replace(text, '#', ''))) AS DOUBLE) AS n_sym
         |  FROM tok),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    ROUND(tok_len_sum / greatest(n_tokens, 1), 4) AS mean_word_len,
         |    ROUND(n_alpha / greatest(n_tokens, 1), 4) AS alpha_ratio,
         |    n_stop_distinct,
         |    ROUND(n_sym / greatest(n_tokens, 1), 4) AS symbol_ratio
         |  FROM feat)
         |SELECT doc_id, n_tokens, mean_word_len, alpha_ratio, n_stop_distinct,
         |  symbol_ratio,
         |  n_tokens BETWEEN 30 AND 100000 AS rule_wc,
         |  mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mwl,
         |  alpha_ratio >= 0.8 AS rule_alpha,
         |  n_stop_distinct >= 2 AS rule_stop,
         |  symbol_ratio <= 0.1 AS rule_symbol,
         |  (n_tokens BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND (alpha_ratio >= 0.8) AND (n_stop_distinct >= 2)
         |    AND (symbol_ratio <= 0.1) AS gopher_pass
         |FROM r ORDER BY doc_id""".stripMargin,

    "t3_token_stats" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
         |  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS ttr
         |FROM tok ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t7_sentences" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
        |      x -> trim(x)), x -> len(x) > 0) AS sents
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sents) AS INTEGER) AS n_sents,
        |  ROUND(COALESCE(CAST(list_aggregate(list_transform(sents, x -> len(x)), 'sum') AS DOUBLE)
        |    / len(sents), 0.0), 4) AS avg_sent_chars
        |FROM s ORDER BY doc_id""".stripMargin,

    // t14: the dedup restated — unnest with subscripts, first-occurrence
    // keep (MIN pos per distinct sentence), string_agg in position order.
    "t14_sentence_dedup" ->
      """WITH sarr AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
        |      x -> trim(x)), x -> len(x) > 0) AS arr
        |  FROM documents),
        |flat AS (
        |  SELECT doc_id, unnest(arr) AS sent, generate_subscripts(arr, 1) AS pos
        |  FROM sarr),
        |kept AS (
        |  SELECT doc_id, sent, MIN(pos) AS pos, COUNT(*) AS cnt
        |  FROM flat GROUP BY doc_id, sent)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_sents,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  md5(string_agg(sent, ' ' ORDER BY pos)) AS cleaned_md5
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d10: t14's split arithmetic, then the cross-doc keeper rule —
    // min(doc_id) per md5(sentence) — and the same rebuild. string_agg over
    // only the kept rows via FILTER; a pure-boilerplate doc keeps zero
    // sentences and hashes the empty string, matching concat_ws on an
    // empty array.
    "d10_crossdoc_sentence_dedup" ->
      """WITH sarr AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
        |      x -> trim(x)), x -> len(x) > 0) AS arr
        |  FROM documents),
        |flat AS (
        |  SELECT doc_id, unnest(arr) AS sent, generate_subscripts(arr, 1) AS pos
        |  FROM sarr),
        |perdoc AS (
        |  SELECT doc_id, sent, MIN(pos) AS pos, COUNT(*) AS cnt
        |  FROM flat GROUP BY doc_id, sent),
        |keeper AS (
        |  SELECT md5(sent) AS fp, MIN(doc_id) AS keep_id
        |  FROM perdoc GROUP BY md5(sent))
        |SELECT p.doc_id,
        |  CAST(SUM(p.cnt) AS BIGINT) AS n_sents,
        |  CAST(COALESCE(SUM(CASE WHEN p.doc_id = k.keep_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(p.sent, ' ' ORDER BY p.pos)
        |    FILTER (WHERE p.doc_id = k.keep_id), '')) AS cleaned_md5
        |FROM perdoc p JOIN keeper k ON k.fp = md5(p.sent)
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    // t15: the same sentence split as t7/t14, the same tokenizer as every
    // t-lane, LIKE flags, and the rule conjunction restated.
    "t15_c4_filters" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
        |      x -> trim(x)), x -> len(x) > 0) AS sents
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    CAST(len(sents) AS BIGINT) AS n_sents,
        |    CAST(len(list_filter(sents, x ->
        |      len(list_filter(regexp_split_to_array(lower(x), '[^a-z0-9]+'),
        |        y -> len(y) > 0)) >= 3)) AS BIGINT) AS n_lines_kept
        |  FROM s)
        |SELECT doc_id, n_sents, n_lines_kept,
        |  (lower(text) LIKE '%lorem ipsum%') AS has_lorem,
        |  (text LIKE '%{%') AS has_brace,
        |  (lower(text) LIKE '%javascript%') AS has_js,
        |  regexp_matches(rtrim(text), '[.!?"'']$') AS ends_terminal,
        |  (n_lines_kept >= 5 AND NOT (lower(text) LIKE '%lorem ipsum%')
        |    AND NOT (text LIKE '%{%')
        |    AND NOT (lower(text) LIKE '%javascript%')) AS c4_pass
        |FROM f ORDER BY doc_id""".stripMargin,

    // d11: the identical window fingerprints (md5 of the space-joined
    // 10-token slice) and the same perdoc/global count chain.
    "d11_dup_span_stats" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, CAST(len(toks) AS INTEGER) - 9),
         |      i -> md5(array_to_string(toks[i+1:i+10], ' ')))) AS wh
         |  FROM tok WHERE len(toks) >= 10),
         |perdoc AS (SELECT doc_id, wh, COUNT(*) AS k FROM w GROUP BY doc_id, wh),
         |gl AS (SELECT wh, SUM(k) AS c FROM perdoc GROUP BY wh)
         |SELECT p.doc_id,
         |  CAST(SUM(p.k) AS BIGINT) AS n_windows,
         |  CAST(SUM(CASE WHEN g.c >= 2 THEN p.k ELSE 0 END) AS BIGINT) AS n_dup,
         |  ROUND(CAST(SUM(CASE WHEN g.c >= 2 THEN p.k ELSE 0 END) AS DOUBLE)
         |    / SUM(p.k), 4) AS dup_ratio
         |FROM perdoc p JOIN gl g USING (wh)
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    "t8_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_redacted,
        |  md5(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t6_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT doc_id, rn, word, tfidf FROM (
         |  SELECT doc_id, word,
         |    ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tf * ln((n_docs + 1.0) / (df + 1.0)) DESC, word) AS rn
         |  FROM tf JOIN dfreq USING (word) CROSS JOIN nd) t
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "t12_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
         |       WHERE word IN ('join', 'filter', 'stream') GROUP BY 1, 2),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
         |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |ad AS (SELECT AVG(dl) AS avgdl FROM dl)
         |SELECT doc_id,
         |  ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
         |FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (word)
         |CROSS JOIN nd CROSS JOIN ad
         |GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "d4_ngram_jaccard" ->
      s"""WITH tok AS (SELECT doc_id, lang AS blk, $toksSql AS toks FROM documents),
         |sets AS (SELECT doc_id, blk, list_distinct(${shinglesSql("toks")}) AS sh FROM tok),
         |inv AS (SELECT doc_id, blk, unnest(sh) AS shingle FROM sets),
         |pairs AS (
         |  SELECT x.blk, x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
         |  FROM inv x JOIN inv y ON x.blk = y.blk AND x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY x.blk, x.doc_id, y.doc_id),
         |sized AS (
         |  SELECT p.blk, p.a, p.b,
         |    ROUND(CAST(p.n_common AS DOUBLE) /
         |      (len(sa.sh) + len(sb.sh) - p.n_common), 4) AS jaccard
         |  FROM pairs p JOIN sets sa ON sa.doc_id = p.a JOIN sets sb ON sb.doc_id = p.b)
         |SELECT blk, a, b, jaccard FROM sized WHERE jaccard >= 0.05
         |ORDER BY blk, a, b""".stripMargin,

    // Byte-true oracle: iterate the UTF-8 BLOB's bytes via its hex encoding
    // (2 hex chars per byte), so multibyte text stays correct — the Spark
    // side decodes real bytes, not characters.
    "m1_multimodal_features" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    lower(hex(encode(text))) AS hx
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  'text/plain' AS media_type,
        |  n_bytes,
        |  substring(hx, 1, 16) AS head_hex,
        |  CAST(COALESCE(list_aggregate(list_transform(range(0, CAST(n_bytes AS INTEGER)),
        |      i -> (strpos('0123456789abcdef', substring(hx, 2*i+1, 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substring(hx, 2*i+2, 1)) - 1)), 'sum'), 0) AS DOUBLE)
        |    / greatest(n_bytes, 1) AS byte_mean
        |FROM h ORDER BY media_id""".stripMargin,

    // m2's generator is closed-form in doc_id (solid 16+id%17 x 16+id%23
    // PNG, channels id%256 / id*7%256 / id*13%256), so the oracle restates
    // the expected DECODE + aspect-fit RESIZE output as pure arithmetic —
    // the same integer floor math as Multimodal.fitDims.
    "m2_image_decode" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(16 + doc_id % 17 AS INT) AS in_width,
        |    CAST(16 + doc_id % 23 AS INT) AS in_height
        |  FROM documents)
        |SELECT doc_id, in_width, in_height,
        |  CASE WHEN GREATEST(in_width, in_height) <= 24 THEN in_width
        |       ELSE GREATEST(CAST(FLOOR(in_width * 24.0 / GREATEST(in_width, in_height)) AS INT), 1)
        |       END AS out_width,
        |  CASE WHEN GREATEST(in_width, in_height) <= 24 THEN in_height
        |       ELSE GREATEST(CAST(FLOOR(in_height * 24.0 / GREATEST(in_width, in_height)) AS INT), 1)
        |       END AS out_height,
        |  CAST(3 AS INT) AS n_channels,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
        |FROM base ORDER BY doc_id""".stripMargin,

    // m5: regenerate the synthetic s16le waveform sample by sample (pure
    // arithmetic in (doc_id, i)) and restate every exact-integer feature.
    // DuckDB SUM(BIGINT) returns HUGEINT, hence the explicit casts.
    "m5_audio_features" ->
      """WITH base AS (
        |  SELECT doc_id, 800 + doc_id % 257 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n, unnest(range(0, n)) AS i FROM base),
        |v AS (
        |  SELECT doc_id, n, i,
        |    ((doc_id * 31 + i * 7919) % 65536) - 32768 AS v
        |  FROM s),
        |lagd AS (
        |  SELECT doc_id, n, i, v,
        |    LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM v),
        |tot AS (
        |  SELECT doc_id, MAX(n) AS n_samples,
        |    CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |    CAST(SUM(CASE WHEN pv IS NOT NULL
        |                    AND ((v < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_cross
        |  FROM lagd GROUP BY doc_id),
        |frames AS (
        |  SELECT doc_id, i // 160 AS f, CAST(SUM(v * v) AS BIGINT) AS fssq
        |  FROM v WHERE i // 160 < n // 160
        |  GROUP BY doc_id, i // 160),
        |fr AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |    MAX(fssq) AS max_frame_ssq
        |  FROM frames GROUP BY doc_id)
        |SELECT t.doc_id AS media_id, CAST(n_samples AS BIGINT) AS n_samples,
        |  COALESCE(n_frames, 0) AS n_frames, sum_sq, n_zero_cross,
        |  COALESCE(max_frame_ssq, 0) AS max_frame_ssq
        |FROM tot t LEFT JOIN fr USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // m3: chunk windows of 64 bytes every 48 — count = ceil(n/48), byte
    // total = sum of min(64, n - i*48); byte-true via encode() like m1.
    "m3_chunking" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_bytes, CAST(CEIL(n_bytes / 48.0) AS BIGINT) AS n_chunks
        |  FROM h WHERE n_bytes > 0)
        |SELECT doc_id AS media_id, n_chunks,
        |  CAST(list_aggregate(list_transform(range(0, CAST(n_chunks AS INTEGER)),
        |      i -> least(64, n_bytes - i * 48)), 'sum') AS BIGINT) AS sum_chunk_bytes,
        |  n_chunks - 1 AS last_idx
        |FROM c ORDER BY media_id""".stripMargin,

    // m4: the dHash grid is closed-form in doc_id (block-constant gray
    // survives the real decode + exact integer block mean untouched), so
    // the oracle regenerates every signature from scratch — set bits via
    // the v(bx,by) > v(bx+1,by) comparisons, packed with the bit-63
    // two's-complement term (SUM runs in HUGEINT, where positives minus
    // 2^63 is exactly the signed 64-bit value) — then replays the d3d
    // banding: 16-bit keys, sign-safe shift+mask, xor/popcount verify.
    // m7: scene values from md5("id:scene") byte 0; a cut is any frame f>0
    // whose scene value differs from frame f-1's (frame-constant pixels
    // make the integer frame mean the scene value exactly).
    "m7_video_scenes" ->
      """WITH frames AS (
        |  SELECT doc_id, unnest(range(0, 24)) AS f FROM documents),
        |vals AS (
        |  SELECT doc_id, f,
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS v
        |  FROM (SELECT doc_id, f,
        |          md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f // 6 AS VARCHAR)) AS h
        |        FROM frames) x)
        |SELECT l.doc_id AS media_id, CAST(l.f AS BIGINT) AS frame_idx,
        |  CAST(p.v AS BIGINT) AS prev_mean, CAST(l.v AS BIGINT) AS next_mean
        |FROM vals l JOIN vals p ON p.doc_id = l.doc_id AND p.f = l.f - 1
        |WHERE l.v <> p.v
        |ORDER BY media_id, frame_idx""".stripMargin,

    // m6: m4's closed-form signature oracle in one dimension — frame values
    // from md5("group:j") bytes (bumped for the member's first r frames),
    // bit k = v_k > v_{k+1} (frame-constant amplitude makes energy order
    // identical to value order), then the same 4x16-bit banding restated.
    "m6_audio_neardup" ->
      """WITH frames AS (
        |  SELECT doc_id, j FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 65)) AS j)),
        |hx AS (
        |  SELECT doc_id, j,
        |    md5(CAST(doc_id // 4 AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h
        |  FROM frames),
        |vals AS (
        |  SELECT doc_id, j,
        |    CASE WHEN doc_id % 4 > 0 AND j < doc_id % 4
        |         THEN ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) + 97) % 256
        |         ELSE (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) END AS v
        |  FROM hx),
        |bits AS (
        |  SELECT l.doc_id, CAST(l.j AS INTEGER) AS k
        |  FROM vals l JOIN vals r
        |    ON r.doc_id = l.doc_id AND r.j = l.j + 1
        |  WHERE l.j < 64 AND l.v > r.v),
        |sig AS (
        |  SELECT d.doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN k = 63 THEN (-9223372036854775807 - 1)
        |                           ELSE CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS s
        |  FROM documents d LEFT JOIN bits ON bits.doc_id = d.doc_id
        |  GROUP BY d.doc_id),
        |banded AS (
        |  SELECT doc_id, s, band, (s >> (16 * band)) & 65535 AS key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
        |pairs AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.s AS sa, r.s AS sb
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
        |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin,

    "m4_image_neardup" ->
      s"""WITH ${dhashPairsCtes("SELECT doc_id AS img_id FROM documents")}
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM ipairs WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin,

    // c11: the image side restates the dHash chain over the ASSIGNED image
    // ids (2·doc_id + 13), maps surviving pairs back to caption space via
    // the inverse assignment (order-preserving, so a < b carries over), and
    // full-outer-merges with the MinHash text pairs — every flag row exact.
    "c11_crossmodal_pairing" ->
      s"""WITH ${dhashPairsCtes("SELECT 2 * doc_id + 13 AS img_id FROM documents")},
         |$minhashPairsCtes,
         |ip AS (
         |  SELECT (a - 13) // 2 AS a, (b - 13) // 2 AS b FROM ipairs
         |  WHERE bit_count(xor(sa, sb)) <= 3),
         |tp AS (SELECT a, b FROM verified WHERE jaccard >= 0.05)
         |SELECT COALESCE(ip.a, tp.a) AS a, COALESCE(ip.b, tp.b) AS b,
         |  (ip.a IS NOT NULL) AS img_dup, (tp.a IS NOT NULL) AS txt_dup
         |FROM ip FULL OUTER JOIN tp ON ip.a = tp.a AND ip.b = tp.b
         |ORDER BY a, b""".stripMargin,

    // c12: text-near pairs (verified MinHash) minus image-near pairs
    // (dHash chain over the assigned ids), expanded to both
    // (anchor caption, negative image) directions — every row exact.
    "c12_crossmodal_negatives" ->
      s"""WITH ${dhashPairsCtes("SELECT 2 * doc_id + 13 AS img_id FROM documents")},
         |$minhashPairsCtes,
         |ip AS (
         |  SELECT a, b FROM ipairs WHERE bit_count(xor(sa, sb)) <= 3),
         |hard AS (
         |  SELECT a, b, jaccard FROM verified tp
         |  WHERE jaccard >= 0.05 AND NOT EXISTS (
         |    SELECT 1 FROM ip
         |    WHERE ip.a = 2 * tp.a + 13 AND ip.b = 2 * tp.b + 13))
         |SELECT anchor_doc, neg_media_id, jaccard FROM (
         |  SELECT a AS anchor_doc, 2 * b + 13 AS neg_media_id, jaccard FROM hard
         |  UNION ALL
         |  SELECT b AS anchor_doc, 2 * a + 13 AS neg_media_id, jaccard FROM hard)
         |ORDER BY anchor_doc, neg_media_id""".stripMargin,

    // d8: the shared verified-pairs CTE covers every band collision, so
    // restricting to cross-membership pairs reproduces exactly the
    // delta-bands x corpus-bands candidates the Spark side generates.
    "d8_incremental_dedup" ->
      s"""WITH $minhashPairsCtes,
         |norm AS (
         |  SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |near_drop AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS d
         |  FROM verified
         |  WHERE jaccard >= 0.5 AND ((a % 10 = 0) <> (b % 10 = 0))),
         |exact_drop AS (
         |  SELECT dd.doc_id AS d
         |  FROM norm dd JOIN norm cc ON dd.fp = cc.fp
         |  WHERE dd.doc_id % 10 = 0 AND cc.doc_id % 10 <> 0)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id % 10 = 0
         |  AND doc_id NOT IN (SELECT d FROM near_drop)
         |  AND doc_id NOT IN (SELECT d FROM exact_drop)
         |ORDER BY doc_id""".stripMargin,

    // a5b: the oracle recomputes each group's exact count and pins the GK
    // rank-guarantee gates TRUE — the sketch's returned elements are
    // engine-specific, but their bounded rank error is not.
    "a5b_approx_percentiles" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // smp1: the oracle recomputes each stratum's exact population and pins
    // the binomial gate TRUE — the seeded Bernoulli draw is engine-specific,
    // but its 6-sigma concentration around f*n is not.
    "smp1_stratified_sample" ->
      """SELECT event_type, COUNT(*) AS n_total, TRUE AS within_bounds
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // smp2: the window form is the oracle's spec; the engine runs the
    // bounded-heap aggregate instead — same rows, bounded shuffle.
    "smp2_deterministic_sample" ->
      """SELECT lang, rn, doc_id, h FROM (
        |  SELECT lang, doc_id, md5('smp2:' || doc_id) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('smp2:' || doc_id), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    // up1: factor arithmetic restated verbatim (integer-sum-derived doubles,
    // IEEE-identical); per-doc copies reproduce the upsampler's md5-hex draw
    // against a printf('%08x') bound — deterministic on both engines.
    "up1_mixture_upsample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |bysrc AS (
         |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
         |  FROM tok GROUP BY source),
         |f AS (
         |  SELECT source,
         |    (SUM(src_tokens) OVER ()) / ((COUNT(*) OVER ()) * src_tokens) AS factor
         |  FROM bysrc),
         |c AS (
         |  SELECT t.doc_id, t.source, t.n_tokens, f.factor,
         |    CAST(FLOOR(f.factor) AS BIGINT)
         |      + CASE WHEN substring(md5('up1:' || t.doc_id), 1, 8)
         |             < printf('%08x', CAST(FLOOR((f.factor - FLOOR(f.factor)) * 4294967296) AS BIGINT))
         |        THEN 1 ELSE 0 END AS copies
         |  FROM tok t JOIN f USING (source))
         |SELECT source, ROUND(ANY_VALUE(factor), 6) AS factor,
         |  CAST(SUM(copies) AS BIGINT) AS n_rows_out,
         |  CAST(SUM(copies * n_tokens) AS BIGINT) AS n_tokens_out
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // sp1: same md5-hex CASE ladder verbatim — bounds are floor(f*2^32) in
    // lowercase hex (0.8 -> cccccccc, 0.9 -> e6666666); fixed-width same-case
    // hex compares lexicographically == numerically on both engines.
    "sp1_hash_split" ->
      """WITH s AS (
        |  SELECT lang,
        |    CASE WHEN substring(md5('sp1:' || doc_id), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substring(md5('sp1:' || doc_id), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT lang, split, COUNT(*) AS n_docs
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // sh1: the signed-shifted md5_number_lower key, pmod shard, and exact
    // per-shard rank — the whole permutation restated.
    "sh1_deterministic_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(CAST(md5_number_lower('sh1:' || CAST(doc_id AS VARCHAR)) AS HUGEINT)
        |      - 9223372036854775808 AS BIGINT) AS key
        |  FROM documents),
        |s AS (SELECT doc_id, key, CAST(((key % 8) + 8) % 8 AS INTEGER) AS shard FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    // sl1: d2b's pair CTEs crossed with sp1's CASE-ladder split (salt sl1)
    // — the audit's cell counts restated end to end.
    "sl1_split_leakage" ->
      s"""WITH $minhashPairsCtes,
         |pairs AS (SELECT a, b FROM verified WHERE jaccard >= 0.05),
         |asg AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5('sl1:' || doc_id), 1, 8) < 'cccccccc' THEN 'train'
         |         WHEN substring(md5('sl1:' || doc_id), 1, 8) < 'e6666666' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs
         |FROM pairs p
         |JOIN asg sa ON sa.doc_id = p.a
         |JOIN asg sb ON sb.doc_id = p.b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // sl2: the whole leakage-safe chain in SQL — pairs, d6's recursive-CTE
    // connected components, component-keyed CASE split (docs in no pair key
    // by their own id), per-split doc counts, and the leak join whose count
    // the construction forces to 0.
    "sl2_component_split" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |pairs AS (SELECT a, b FROM verified WHERE jaccard >= 0.05),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, comp) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
         |asg AS (
         |  SELECT d.doc_id,
         |    CASE WHEN substring(md5('sl2:' || COALESCE(l.comp, d.doc_id)), 1, 8) < 'cccccccc' THEN 'train'
         |         WHEN substring(md5('sl2:' || COALESCE(l.comp, d.doc_id)), 1, 8) < 'e6666666' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         |leaked AS (
         |  SELECT sa.split, COUNT(*) AS n_leaked
         |  FROM pairs p
         |  JOIN asg sa ON sa.doc_id = p.a
         |  JOIN asg sb ON sb.doc_id = p.b
         |  WHERE sa.split <> sb.split GROUP BY sa.split)
         |SELECT a.split, COUNT(*) AS n_docs, COALESCE(MAX(lk.n_leaked), 0) AS n_leaked
         |FROM asg a LEFT JOIN leaked lk ON lk.split = a.split
         |GROUP BY a.split ORDER BY a.split""".stripMargin,

    "pk1_sequence_packing" ->
      s"""WITH tok AS (
         |  SELECT lang, doc_id, doc_id // 1024 AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT lang, shard, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
         |  FROM tok)
         |SELECT lang, shard,
         |  CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         |FROM c GROUP BY lang, shard, seq_id
         |ORDER BY lang, shard, seq_id""".stripMargin,

    // pk2: the whole-doc overflow recurrence as a recursive CTE — one row
    // per shard per level, stepping doc positions; a doc overflows iff
    // fill + t > 512 AND fill > 0 (an oversized doc holds a sequence
    // alone; zero-token docs stay put), exactly packSequencesWhole's fold.
    "pk2_whole_doc_packing" ->
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, doc_id // 1024 AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS t
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, shard, t,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS pos
         |  FROM tok),
         |r AS (
         |  SELECT shard, pos, doc_id, t, t AS fill, CAST(0 AS BIGINT) AS seq
         |  FROM d WHERE pos = 1
         |  UNION ALL
         |  SELECT d.shard, d.pos, d.doc_id, d.t,
         |    CASE WHEN r.fill + d.t > 512 AND r.fill > 0 AND d.t > 0 THEN d.t
         |         ELSE r.fill + d.t END AS fill,
         |    CASE WHEN r.fill + d.t > 512 AND r.fill > 0 AND d.t > 0 THEN r.seq + 1
         |         ELSE r.seq END AS seq
         |  FROM r JOIN d ON d.shard = r.shard AND d.pos = r.pos + 1)
         |SELECT shard, seq AS seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(t) AS BIGINT) AS seq_tokens,
         |  greatest(512 - CAST(SUM(t) AS BIGINT), 0) AS padding
         |FROM r GROUP BY shard, seq ORDER BY shard, seq_id""".stripMargin,

    "t10_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, CAST(len(toks) AS INTEGER)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE CAST([] AS VARCHAR[]) END) AS g
         |  FROM tok),
         |bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
         |bgs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |               CAST(MAX(c) AS BIGINT) AS top_c FROM bgc GROUP BY doc_id),
         |tg AS (SELECT doc_id, unnest(${shinglesSql("toks")}) AS g FROM tok),
         |tgc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g),
         |tgs AS (SELECT doc_id,
         |          CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c,
         |          CAST(SUM(c) AS BIGINT) AS n_trigrams FROM tgc GROUP BY doc_id),
         |x AS (
         |  SELECT t.doc_id,
         |    COALESCE(n_bigrams, 0) AS n_bigrams,
         |    ROUND(CAST(COALESCE(top_c, 0) AS DOUBLE) / greatest(COALESCE(n_bigrams, 0), 1), 4) AS top_bigram_frac,
         |    ROUND(CAST(COALESCE(dup_c, 0) AS DOUBLE) / greatest(COALESCE(n_trigrams, 0), 1), 4) AS dup_trigram_frac
         |  FROM tok t LEFT JOIN bgs ON bgs.doc_id = t.doc_id LEFT JOIN tgs ON tgs.doc_id = t.doc_id)
         |SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac,
         |  (top_bigram_frac > 0.05 OR dup_trigram_frac > 0.2) AS repetitive
         |FROM x ORDER BY doc_id""".stripMargin,

    "t11_chunking" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 200 THEN 1
        |         ELSE (length(text) - 51) // 150 + 1 END AS nc
        |  FROM documents),
        |ix AS (SELECT doc_id, text, unnest(range(0, nc)) AS i FROM n)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  length(substr(text, CAST(i*150+1 AS INTEGER), 200)) AS chunk_len,
        |  md5(substr(text, CAST(i*150+1 AS INTEGER), 200)) AS chunk_md5
        |FROM ix ORDER BY doc_id, chunk_idx""".stripMargin,

    "mix1_source_mixing" ->
      """WITH x AS (
        |  SELECT source,
        |    CASE CAST(substr(source, 4) AS INTEGER) % 4
        |      WHEN 0 THEN 'g0000000' WHEN 1 THEN '80000000'
        |      WHEN 2 THEN '40000000' ELSE '20000000' END AS rate_hex,
        |    substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN h < rate_hex THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(CASE WHEN h < rate_hex THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS rate
        |FROM x GROUP BY source ORDER BY source""".stripMargin,

    // mix2: counts → rate = min(1, 0.5·sqrt(n_max/n_s)) (division and sqrt
    // are single correctly-rounded IEEE ops on integer inputs — bit-equal
    // across engines), gate on (md5_number_lower+1)/2^64.
    "mix2_temperature_mixing" ->
      """WITH counts AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM documents GROUP BY source),
        |nmax AS (SELECT MAX(n_total) AS n_max FROM counts),
        |rates AS (
        |  SELECT source, n_total,
        |    least(1.0, 0.5 * sqrt(CAST(n_max AS DOUBLE) / CAST(n_total AS DOUBLE))) AS r
        |  FROM counts CROSS JOIN nmax),
        |flags AS (
        |  SELECT d.source,
        |    CASE WHEN (CAST(md5_number_lower('mix2:' || CAST(d.doc_id AS VARCHAR)) AS DOUBLE) + 1.0)
        |              / 18446744073709551616.0 < r.r THEN 1 ELSE 0 END AS kept
        |  FROM documents d JOIN rates r ON r.source = d.source)
        |SELECT f.source, r.n_total, CAST(SUM(f.kept) AS BIGINT) AS n_kept,
        |  ROUND(r.r, 6) AS rate
        |FROM flags f JOIN rates r ON r.source = f.source
        |GROUP BY f.source, r.n_total, r.r
        |ORDER BY f.source""".stripMargin,

    "e10_embed_quantize" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, xs,
        |    list_aggregate(list_transform(xs, v -> abs(v)), 'max') AS maxabs,
        |    ROUND(sqrt(list_aggregate(list_transform(xs, v -> v*v), 'sum')), 4) AS l2_norm
        |  FROM base),
        |q AS (
        |  SELECT vec_id, maxabs, l2_norm, CAST(len(xs) AS INTEGER) AS n_dims,
        |    list_transform(xs, v -> CAST(CASE WHEN maxabs = 0 THEN 0
        |      ELSE floor(v * 127.0 / maxabs + 0.5) END AS BIGINT)) AS qs
        |  FROM m)
        |SELECT vec_id, n_dims, CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_sum,
        |  list_aggregate(qs, 'min') AS q_min, list_aggregate(qs, 'max') AS q_max, l2_norm
        |FROM q ORDER BY vec_id""".stripMargin,

    "d5b_blocked_edit_neardup" ->
      s"""WITH $minhashPairsCtes,
         |cand5b AS (SELECT a, b FROM verified WHERE jaccard >= 0.05),
         |scored AS (
         |  SELECT c.a, c.b, levenshtein(x.text, y.text) AS dist
         |  FROM cand5b c JOIN documents x ON x.doc_id = c.a
         |               JOIN documents y ON y.doc_id = c.b)
         |SELECT a, b, dist FROM scored WHERE dist <= 6 ORDER BY a, b""".stripMargin,

    "bpe1_pair_counts" ->
      s"""WITH $bpeWcSql,
         |v0 AS (SELECT $bpeSymbolizeSql AS syms, cnt FROM wc)
         |SELECT pr[1] AS lsym, pr[2] AS rsym, CAST(SUM(cnt) AS BIGINT) AS weight
         |FROM (${bpePairsSql("v0")})
         |GROUP BY 1, 2 ORDER BY weight DESC, lsym, rsym LIMIT 20""".stripMargin,

    // bpe2: the identical replace chain, fold-generated from the SAME
    // Scala merge list the Spark lane uses — per-symbol parens make plain
    // left-to-right replace exactly Sennrich-greedy on both engines (see
    // graft.operators.Bpe scaladoc).
    "bpe2_apply_merges" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |sym AS (SELECT doc_id, $bpeSymbolizeSql AS syms FROM tok),
         |m AS (SELECT doc_id, ${bpe2Merges.foldLeft("syms") { case (e, (l, r)) =>
               s"replace($e, '($l)($r)', '($l$r)')" }} AS s FROM sym)
         |SELECT doc_id, CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT) AS n_bpe_tokens
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bpe2b: the production applier must return EXACTLY bpe2's rows — the
    // oracle is bpe2's SQL verbatim (the d7b discipline).
    "bpe2b_apply_merges_scalable" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |sym AS (SELECT doc_id, $bpeSymbolizeSql AS syms FROM tok),
         |m AS (SELECT doc_id, ${bpe2Merges.foldLeft("syms") { case (e, (l, r)) =>
               s"replace($e, '($l)($r)', '($l$r)')" }} AS s FROM sym)
         |SELECT doc_id, CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT) AS n_bpe_tokens
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "bpe3_learned_merges" -> bpeLearnSql(bpe3NMerges),
    "bpe4_vocab" -> bpeVocabSql(bpe3NMerges),

    // c5: t2's quality formula + per-source rank/quota restated with a
    // plain window (the oracle runs at benchmark scale; the Spark side's
    // sliced ranker is the scale divergence under test).
    "c5_source_quota_pruning" ->
      s"""WITH tok AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |feat AS (
         |  SELECT doc_id, source,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS DOUBLE) AS hits
         |  FROM tok),
         |q AS (
         |  SELECT doc_id, source,
         |    CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
         |        + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
         |        * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) AS quality
         |  FROM feat),
         |r AS (
         |  SELECT source, doc_id, quality,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY COALESCE(quality, -1000000000) DESC, doc_id) AS BIGINT) AS pos,
         |    COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM q)
         |SELECT source, doc_id, quality, pos FROM r
         |WHERE pos <= CAST(CEIL(0.3 * n) AS BIGINT) ORDER BY source, pos""".stripMargin,

    // d12: the span-removal chain restated — 1-based window hashes, the
    // canonical-first rule via row_number over (doc, pos), interval
    // explode + NOT EXISTS cut, string_agg rebuild in position order.
    "d12_dup_span_removal" -> d12Sql,

    "d12b_incremental_span_removal" -> d12Sql,

    // c6: the export composition restated — dedup keeper, t2 quality +
    // per-source quota, bpe2's replace chain, sh1's shard key, chk1's
    // checksum cast ladder — one SQL statement end to end.
    "c6_tokenized_export" ->
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         |dd AS (SELECT doc_id, source, text FROM documents JOIN keep USING (doc_id)),
         |tokq AS (SELECT doc_id, source, text, $toksSql AS toks FROM dd),
         |feat AS (
         |  SELECT doc_id, source, toks,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS DOUBLE) AS hits
         |  FROM tokq),
         |q AS (
         |  SELECT doc_id, source, toks,
         |    CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
         |        + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
         |        * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) AS quality
         |  FROM feat),
         |r AS (
         |  SELECT doc_id, toks,
         |    row_number() OVER (PARTITION BY source ORDER BY COALESCE(quality, -1000000000) DESC, doc_id) AS qpos,
         |    COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM q),
         |pruned AS (SELECT doc_id, toks FROM r WHERE qpos <= CAST(CEIL(0.3 * n) AS BIGINT)),
         |sym AS (SELECT doc_id, $bpeSymbolizeSql AS syms
         |        FROM (SELECT doc_id, unnest(toks) AS word FROM pruned)),
         |mm AS (SELECT doc_id, ${bpe2Merges.foldLeft("syms") { case (e, (l, r)) =>
               s"replace($e, '($l)($r)', '($l$r)')" }} AS s FROM sym),
         |cnt AS (
         |  SELECT doc_id, CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT) AS n_bpe_tokens
         |  FROM mm GROUP BY doc_id),
         |k AS (
         |  SELECT p.doc_id, COALESCE(c.n_bpe_tokens, 0) AS n_bpe_tokens,
         |    CAST(CAST(md5_number_lower('c6:' || CAST(p.doc_id AS VARCHAR)) AS HUGEINT)
         |      - 9223372036854775808 AS BIGINT) AS key
         |  FROM pruned p LEFT JOIN cnt c ON c.doc_id = p.doc_id)
         |SELECT CAST(((key % 8) + 8) % 8 AS INTEGER) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(SUM(CAST(md5_number_lower('c6:' || CAST(doc_id AS VARCHAR)) AS DECIMAL(38,0)))
         |    AS DECIMAL(38,0)) AS VARCHAR) AS id_checksum
         |FROM k GROUP BY 1 ORDER BY shard""".stripMargin,

    // e2e1: the five-stage production path restated as one chain —
    // validate, exact-dedup keep-min, the recursive minhash+CC near-dup
    // chain over the DEDUPED frame, the exact-DECIMAL quality cut, and
    // c6's tokenize/shard/checksum manifest tail with the e2e1 salt.
    "e2e1_production_export" ->
      s"""WITH RECURSIVE vdocs AS (
         |  SELECT * FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM vdocs GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         |dd AS (SELECT v.* FROM vdocs v JOIN keep USING (doc_id)),
         |${minhashPairsCtesFrom("dd")},
         |pairs AS (SELECT a, b FROM verified WHERE jaccard >= 0.5),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, comp) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
         |drops AS (SELECT id AS doc_id FROM labels WHERE id <> comp),
         |nd AS (SELECT doc_id, text FROM dd
         |       WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         |tokq AS (SELECT doc_id, text, $toksSql AS toks FROM nd),
         |feat AS (
         |  SELECT doc_id, toks,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS DOUBLE) AS hits
         |  FROM tokq),
         |q AS (
         |  SELECT doc_id, toks, n_chars,
         |    CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
         |        + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
         |        * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) AS quality
         |  FROM feat),
         |curated AS (SELECT doc_id, toks FROM q
         |  WHERE n_chars BETWEEN 100 AND 10000 AND quality >= 0.53),
         |sym AS (SELECT doc_id, $bpeSymbolizeSql AS syms
         |        FROM (SELECT doc_id, unnest(toks) AS word FROM curated)),
         |mm AS (SELECT doc_id, ${bpe2Merges.foldLeft("syms") { case (e, (l, r)) =>
               s"replace($e, '($l)($r)', '($l$r)')" }} AS s FROM sym),
         |cnt AS (
         |  SELECT doc_id, CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT) AS n_bpe_tokens
         |  FROM mm GROUP BY doc_id),
         |k AS (
         |  SELECT p.doc_id, COALESCE(c.n_bpe_tokens, 0) AS n_bpe_tokens,
         |    CAST(CAST(md5_number_lower('e2e1:' || CAST(p.doc_id AS VARCHAR)) AS HUGEINT)
         |      - 9223372036854775808 AS BIGINT) AS key
         |  FROM curated p LEFT JOIN cnt c ON c.doc_id = p.doc_id)
         |SELECT CAST(((key % 8) + 8) % 8 AS INTEGER) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(SUM(CAST(md5_number_lower('e2e1:' || CAST(doc_id AS VARCHAR)) AS DECIMAL(38,0)))
         |    AS DECIMAL(38,0)) AS VARCHAR) AS id_checksum
         |FROM k GROUP BY 1 ORDER BY shard""".stripMargin,

    // c7: t2's quality formula + the fingerprint + per-source aggregates;
    // avg_quality via exact DECIMAL sum, double only at the last division.
    "c7_corpus_datacard" ->
      s"""WITH tok AS (SELECT doc_id, source, lang, text, $toksSql AS toks FROM documents),
         |feat AS (
         |  SELECT doc_id, source, lang,
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         |    CAST(len(toks) AS INTEGER) AS n_tokens,
         |    CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS DOUBLE) AS hits
         |  FROM tok),
         |q AS (
         |  SELECT doc_id, source, lang, fp, n_tokens,
         |    CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
         |        + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
         |        * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) AS quality
         |  FROM feat)
         |SELECT source,
         |  COUNT(*) AS n_docs,
         |  COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 4) AS pct_en,
         |  ROUND(CAST(SUM(CAST(quality AS DECIMAL(20,4))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 4) AS avg_quality,
         |  MIN(quality) AS min_quality,
         |  MAX(quality) AS max_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // d7c: the semi-join overlap fraction — eval inverted index, EXISTS
    // against the training shingle stream, per-doc totals, IEEE division
    // rounded 4, threshold flag.
    "d7c_contamination_fraction" -> d7cSql,

    // d7d: the INCREMENTAL gate must equal the whole-corpus audit — d7c's
    // SQL verbatim (the d6b/d7b discipline: the oracle computes the
    // one-shot form the incremental chain must reproduce).
    "d7d_incremental_contamination" -> d7cSql)

  /** d7c's whole-corpus contamination audit; shared verbatim with d7d's
    * two-batch incremental chain.
    */
  private def d7cSql: String =
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct(${shinglesSql("toks")}) AS sh FROM tok),
         |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0),
         |tot AS (SELECT eval_id, COUNT(*) AS n_shingles FROM ev GROUP BY 1),
         |mat AS (
         |  SELECT eval_id, COUNT(*) AS n_matched
         |  FROM ev WHERE EXISTS (SELECT 1 FROM tr WHERE tr.s = ev.s)
         |  GROUP BY 1)
         |SELECT t.eval_id,
         |  CAST(t.n_shingles AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  ROUND(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE), 4) AS overlap_frac,
         |  ROUND(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE), 4) >= 0.5 AS contaminated
         |FROM tot t LEFT JOIN mat m ON m.eval_id = t.eval_id
         |ORDER BY t.eval_id""".stripMargin

  /** Shared scoring-stage CTE ladder for the fine-tuning lanes (dpo1/c9):
    * t2's quality formula over `rel`, emitted as `qscored(doc_id, qfp)`
    * with the 4-decimal quality in FIXED-POINT 1e4 units — the same
    * constants the Spark lanes feed Preference.preferencePairs.
    */
  private def qfpScoredSql(rel: String): String =
    s"""qtok AS (SELECT doc_id, text, $toksSql AS toks FROM $rel),
       |qfeat AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS INTEGER) AS n_tokens,
       |    CAST(length(text) AS INTEGER) AS n_chars,
       |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
       |    CAST(len(list_filter(toks, x -> x IN $stopList)) AS DOUBLE) AS hits
       |  FROM qtok),
       |qscored AS (
       |  SELECT doc_id, CAST(ROUND(
       |    CAST(ROUND((CAST(ROUND(hits / greatest(n_tokens, 1), 4) AS DECIMAL(9,4))
       |        + 1 - CAST(ROUND(n_punct / greatest(n_chars, 1), 4) AS DECIMAL(9,4)))
       |        * CAST(0.5 AS DECIMAL(2,1)), 4) AS DOUBLE) * 10000) AS BIGINT) AS qfp
       |  FROM qfeat)""".stripMargin

  /** dpo1's pair selection restated: injective arg_max/arg_min keys, the
    * integer margin test, and the 1e-4 scale-back.
    */
  private def dpoPairsSql(scoredRel: String): String =
    s"""g AS (
       |  SELECT doc_id % 64 AS prompt_id, COUNT(*) AS n_candidates,
       |    arg_max(doc_id, qfp * 4294967296 - doc_id) AS chosen_id,
       |    arg_min(doc_id, qfp * 4294967296 + doc_id) AS rejected_id,
       |    MAX(qfp) AS cq, MIN(qfp) AS rq
       |  FROM $scoredRel WHERE qfp IS NOT NULL
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT prompt_id, CAST(n_candidates AS BIGINT) AS n_candidates,
       |    chosen_id, rejected_id,
       |    ROUND(cq / 10000.0, 4) AS chosen_q,
       |    ROUND(rq / 10000.0, 4) AS rejected_q,
       |    ROUND((cq - rq) / 10000.0, 4) AS margin
       |  FROM g WHERE n_candidates >= 2 AND cq - rq >= 500)""".stripMargin

  /** pg1's 4-iteration fixed-point PageRank unrolled (the bpe3 chained-CTE
    * discipline): edges, degrees, r0, then r1..r4 each one contribution
    * aggregate + damping in exact integer `//` arithmetic.
    */
  private def pg1Sql: String = {
    val iters = 4
    val base =
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 3 + 1) % n AS dst FROM documents CROSS JOIN nn
        |    UNION ALL
        |    SELECT doc_id, (doc_id * 5 + 2) % n FROM documents CROSS JOIN nn
        |    UNION ALL
        |    SELECT doc_id, (doc_id * 7 + 3) % n FROM documents CROSS JOIN nn) t
        |  WHERE src <> dst),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS authority FROM nodes)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT nodes.id,
         |    CAST(150000000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS authority
         |  FROM nodes LEFT JOIN (
         |    SELECT dst AS id, SUM(authority // outdeg) AS s
         |    FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.id = e.src
         |    GROUP BY dst) c ON c.id = nodes.id)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\nSELECT id, authority FROM r$iters ORDER BY authority DESC, id LIMIT 20"
  }

  /** Corpus word-frequency CTE matching [[Bpe.wordCounts]]. */
  private def bpeWcSql =
    s"""wc AS (
       |  SELECT word, COUNT(*) AS cnt
       |  FROM (SELECT unnest($toksSql) AS word FROM documents)
       |  GROUP BY word)""".stripMargin

  /** `(h)(e)(l)(l)(o)` — [[Bpe.symbolize]] over a `word` column. */
  private def bpeSymbolizeSql =
    "'(' || array_to_string(string_split(word, ''), ')(') || ')'"

  /** Exploded adjacent symbol pairs `(pr, cnt)` of a `(syms, cnt)` vocab
    * relation — [[Bpe.pairCounts]]'s explode. `generate_series(1, 0)` is
    * empty in DuckDB, so single-symbol words contribute nothing, matching
    * the Spark side's empty-array guard.
    */
  private def bpePairsSql(rel: String) =
    s"""SELECT unnest(list_transform(generate_series(1, CAST(len(sy) AS INTEGER) - 1),
       |    i -> [sy[i], sy[i+1]])) AS pr, cnt
       |  FROM (SELECT string_split(substr(syms, 2, length(syms) - 2), ')(') AS sy, cnt FROM $rel)""".stripMargin

  /** bpe3's oracle: the 8-iteration BPE training loop UNROLLED as chained
    * CTEs — per iteration a pair-count aggregate, a 1-row argmax with the
    * (weight DESC, l, r) tie-break, and the greedy replace applied to the
    * whole vocabulary. `MATERIALIZED` stops DuckDB inlining each `v_i`
    * into its two consumers (the reference chain would otherwise re-derive
    * `v0` 2^n times).
    */
  /** The learned-merge CTE block shared by the bpe3 and bpe4 oracles:
    * `(ctes, mergesSelect)` where mergesSelect yields the non-NULL
    * (merge_rank, lsym, rsym) rows. The NULL filter mirrors the trainer's
    * early stop: on a vocabulary that exhausts in k < nMerges iterations,
    * b_{k+1}.. are empty, their scalar subqueries read NULL, and the
    * Spark lane returns only k rows.
    */
  private def bpeLearnCtes(nMerges: Int): (String, String) = {
    val stages = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT pr[1] AS l, pr[2] AS r, SUM(cnt) AS w
         |  FROM (${bpePairsSql(s"v${i - 1}")})
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY w DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT replace(syms,
         |      '(' || (SELECT l FROM b$i) || ')(' || (SELECT r FROM b$i) || ')',
         |      '(' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ')') AS syms, cnt
         |  FROM v${i - 1})""".stripMargin
    }
    val sel = (1 to nMerges)
      .map(i => s"SELECT $i AS merge_rank, (SELECT l FROM b$i) AS lsym, (SELECT r FROM b$i) AS rsym")
      .mkString("\nUNION ALL\n")
    val ctes =
      s"""$bpeWcSql,
         |v0 AS MATERIALIZED (SELECT $bpeSymbolizeSql AS syms, cnt FROM wc),
         |${stages.mkString(",\n")}""".stripMargin
    val mergesSel =
      s"SELECT merge_rank, lsym, rsym FROM ($sel)\nWHERE lsym IS NOT NULL"
    (ctes, mergesSel)
  }

  private def bpeLearnSql(nMerges: Int): String = {
    val (ctes, mergesSel) = bpeLearnCtes(nMerges)
    s"""WITH $ctes
       |$mergesSel
       |ORDER BY merge_rank""".stripMargin
  }

  /** bpe4's oracle: the character inventory of the corpus vocabulary gets
    * ids 1..k in lexicographic order, then the learned merges (re-derived
    * by the same unrolled CTEs as bpe3) get k+rank — the vocab.json twin
    * of bpe3's merges.txt.
    */
  private def bpeVocabSql(nMerges: Int): String = {
    val (ctes, mergesSel) = bpeLearnCtes(nMerges)
    s"""WITH $ctes,
       |chars AS (
       |  SELECT DISTINCT c AS symbol
       |  FROM (SELECT unnest(string_split(word, '')) AS c FROM wc)),
       |nch AS (SELECT COUNT(*) AS k FROM chars),
       |mg AS ($mergesSel)
       |SELECT CAST(row_number() OVER (ORDER BY symbol) AS BIGINT) AS token_id,
       |  symbol, 'char' AS kind FROM chars
       |UNION ALL
       |SELECT CAST(nch.k + merge_rank AS BIGINT) AS token_id,
       |  lsym || rsym AS symbol, 'merge' AS kind FROM mg CROSS JOIN nch
       |ORDER BY token_id""".stripMargin
  }
}
