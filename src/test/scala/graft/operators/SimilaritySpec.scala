package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Vectors

/** E2 similarity family: exact brute-force baseline, LSH bucketing. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("dot / cosine expressions match hand math") {
    val d = vecs.filter(col("vec_id") === 4L)
      .select(Vectors.dot(col("embedding"), col("embedding")).as("d")).as[Double].head()
    assert(math.abs(d - 0.5) < 1e-9)
    val c = Seq((Array(1.0f, 0f), Array(0f, 1.0f))).toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b")).as("c")).as[Double].head()
    assert(math.abs(c) < 1e-9)
  }

  test("bruteForceTopK: correct neighbor order for a known geometry") {
    val out = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0L), vecs, 4)
      .orderBy("rn").select("b_id", "cosine").as[(Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 4L, 2L, 3L))
    assert(out.head._2 > 0.99 && out.last._2 == -1.0)
  }

  test("bruteForceTopK excludes self and respects k") {
    val out = Similarity.bruteForceTopK(vecs, vecs, 2)
    assert(out.filter(col("a_id") === col("b_id")).isEmpty)
    assert(out.groupBy("a_id").count().filter(col("count") > 2).isEmpty)
  }

  test("lshTopK: bucketed results are a subset of brute-force candidates with same scoring") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, 4)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toMap2
    // nPlanes=2: coarse buckets so the 3-dim toy vectors share buckets.
    val lsh = Similarity.lshTopK(vecs, vecs, 4, nPlanes = 2, dims = 3)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) => assert(bf.get((a, b)).forall(_ == c)) }
  }

  test("ivfTopK: probed cells find the true nearest neighbor, scores match brute force") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, 4)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toMap2
    val ivf = Similarity.ivfTopK(vecs, vecs, k = 4, nCells = 3, nProbe = 2)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (a, b, c) => assert(bf.get((a, b)).forall(_ == c)) }
    // vector 1's nearest (vector 0) is found through its probed cells
    val n1 = Similarity.ivfTopK(vecs.filter($"vec_id" === 1L), vecs, 1, nCells = 3, nProbe = 3)
      .select("b_id").as[Long].head()
    assert(n1 == 0L)
  }

  test("cosineNearDupPairs finds the near-identical pair") {
    val pairs = Similarity.cosineNearDupPairsBanded(vecs, 0.9,
      planesPerBand = 2, nBands = 2, dims = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    // auto-scaled entry point on the same toy corpus (planes clamp to 4)
    val auto = Similarity.cosineNearDupPairs(vecs, 0.9, nBands = 4, dims = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(auto.contains((0L, 1L)))
  }

  test("portable SRP near-dup (e2c2 witness): pairs == band-collisions ∩ cosine>=t, exactly") {
    // seeded corpus with planted near-duplicates: the witness must report
    // EXACTLY the pairs that (a) share a fixed-point band bucket in any of
    // the 4 bands and (b) pass the rounded-cosine threshold — soundness and
    // band-completeness in one set equality, against an independent
    // recomputation of both sides.
    val rnd = new scala.util.Random(11)
    val base = Vector.fill(60)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val planted = base.take(5).map(v => v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    val all = (base ++ planted).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = all.toDF("vec_id", "embedding")
    val thr = 0.9
    val got = Similarity.cosineNearDupPairsPortable(df, thr,
        planesPerBand = 4, nBands = 4, dims = 16)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet

    // independent bucket recomputation through the same public expression
    val bands = (0 until 4).map { t =>
      graft.functions.Vectors.lshBucketFixedPoint(
        org.apache.spark.sql.functions.col("embedding"), 4, 16, firstPlane = t * 4)
        .as(s"bk$t")
    }
    val buckets = df.select(org.apache.spark.sql.functions.col("vec_id") +: bands: _*)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def n2(v: Array[Float]) = v.map(x => x.toDouble * x.toDouble).sum
      dot / (math.sqrt(n2(a)) * math.sqrt(n2(b)))
    }
    val byId = all.toMap
    val expect = (for {
      (a, ba) <- buckets.toSeq; (b, bb) <- buckets.toSeq if a < b
      if ba.zip(bb).exists { case (x, y) => x == y } // collide in ANY band
      if BigDecimal(cos(byId(a), byId(b))).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= thr
    } yield (a, b)).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    assert(got.nonEmpty, "planted near-dups produced no pairs — weaken the seed")
  }

  test("planesForCorpus bounds expected bucket population by targetPop at every N") {
    // the documented invariant: 2^planes ≥ N/targetPop (so E[pop] ≤ targetPop),
    // with the [4, 48] clamp at the extremes
    for (n <- Seq(0L, 1L, 100L, 1000L, 64L * 16, 1L << 20, 1L << 40);
         pop <- Seq(1, 64, 1024)) {
      val p = Similarity.planesForCorpus(n, pop)
      assert(p >= 4 && p <= 48)
      if (p < 48 && p > 4)
        assert((1L << p) * pop >= n, s"n=$n pop=$pop planes=$p")
    }
    assert(Similarity.planesForCorpus(500, 64) == 4)   // sf0.01 corpus
    assert(Similarity.planesForCorpus(2000, 64) == 5)  // sf0.1 corpus
    assert(Similarity.planesForCorpus(20000, 64) == 9) // sf1 corpus
    assert(Similarity.planesForCorpus(1L << 40, 64) == 34) // 1T docs
    // these exact pins are ALSO e2c's recall-gate anchor: its floor is a
    // quarter of the banding expectation computed from THIS function's
    // output, so a planesForCorpus regression would move operator and
    // floor together — the gate's blind spot is exactly this spec's job
    // (round-18 review finding)
  }

  test("e2c collapse tripwire: exact banding hit counts on the real corpora (model-independent)") {
    // round-19 advice item 4: e2c's recall floor is a quarter of the SRP
    // banding expectation computed from the SAME planesForCorpus output
    // the operator bands with — a shared-model regression moves operator
    // and floor together, invisible to the gate. This pin is the second,
    // model-INDEPENDENT tripwire: the whole chain (planes, hash, bands,
    // verify) is deterministic over the fixed test corpora, so the truth-
    // hit counts are exact constants. A banding/signature regression of
    // any kind moves them; a legitimate model change must re-pin BOTH
    // scales with a CODE reason (the bench-pin discipline).
    // pins re-minted the same round for the planeComponent period-7 fix
    // (CODE reason): independent planes lift the deterministic hit counts
    // from 12/38 and 56/163 to 30/38 and 91/163 — aliasing had been
    // suppressing recall at every plane budget
    import graft.operators.Similarity
    for ((dir, expPlanes, expTruth, expHits) <- Seq(
        ("/root/testdata/sf0.01", 4, 38L, 30L),
        ("/root/testdata/sf0.1", 5, 163L, 91L))) {
      val emb = graft.Tables.embeddings(spark, dir)
      val planes = Similarity.planesForCorpus(emb.count(), 64)
      assert(planes == expPlanes, s"$dir planes $planes != $expPlanes")
      val emitted = Similarity
        .cosineNearDupPairsBanded(emb, 0.4, planes, 8).localCheckpoint()
      val qa = emb.filter(col("vec_id") < 200)
        .select(col("vec_id").as("a"), col("embedding").as("ea"))
        .withColumn("_na", Vectors.norm2(col("ea")))
      val qb = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
        .withColumn("_nb", Vectors.norm2(col("eb")))
      val truth = qb.join(broadcast(qa), col("a") < col("b"))
        .withColumn("cosine", round(
          Vectors.cosine(col("ea"), col("eb"), col("_na"), col("_nb")), 4))
        .filter(col("cosine") >= 0.4).select("a", "b")
      assert(truth.count() == expTruth, s"$dir truth != $expTruth")
      val hits = truth.join(emitted.select("a", "b"), Seq("a", "b"), "left_semi").count()
      assert(hits == expHits,
        s"$dir banding hits $hits != pinned $expHits — either a banding/" +
          "signature regression (collapse reads ~0) or an intentional model " +
          "change that must re-pin both scales")
    }
  }

  test("banded blocking: observed bucket population stays near N/2^planes on a seeded corpus") {
    // 2000 seeded random 16-dim vectors, planes from the scaling rule:
    // mean per-band bucket population must be within 4x of the uniform
    // expectation (sign bits of random vectors are near-uniform), i.e. the
    // candidate volume per band is O(N·targetPop), not O(N²)
    val rnd = new scala.util.Random(7)
    val n = 2000
    val dims = 16
    val corpus = (0 until n).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val targetPop = 64
    val planes = Similarity.planesForCorpus(n, targetPop)
    val pops = corpus.select(
      graft.functions.Vectors.lshBucketFast(col("embedding"), planes, dims).as("bucket"))
      .groupBy("bucket").count().select("count").as[Long].collect()
    assert(pops.sum == n)
    val mean = pops.sum.toDouble / pops.length
    assert(mean <= 4.0 * targetPop, s"mean bucket population $mean vs target $targetPop")
    // and the candidate volume this implies is far below all-pairs
    val candPairs = pops.map(c => c * (c - 1) / 2).sum
    assert(candPairs < n.toLong * n / 8, s"candidates $candPairs vs all-pairs ${n.toLong * n / 2}")
  }

  test("multi-probe LSH: correct scores, and recall dominates single-probe on a seeded corpus") {
    val rnd = new scala.util.Random(31)
    val dims = 16
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 16)
    val bf = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toMap2
    def recall(hits: Set[(Long, Long)]): Double =
      bf.keySet.intersect(hits).size.toDouble / bf.size
    val single = Similarity.lshTopK(queries, corpus, 5, nPlanes = 6, dims = dims)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    val multi = Similarity.lshTopKMultiProbe(queries, corpus, 5, nPlanes = 6, dims = dims)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    // scoring parity with brute force on every returned pair
    multi.foreach { case (a, b, c) => assert(bf.get((a, b)).forall(_ == c)) }
    val (rs, rm) = (recall(single.map(t => (t._1, t._2)).toSet),
      recall(multi.map(t => (t._1, t._2)).toSet))
    // probing all Hamming-1 buckets can only ADD candidates: recall dominates
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    // floor recalibrated with the round-19 plane fix: the period-7 planes
    // under-partitioned the space (more candidates per bucket ⇒ inflated
    // recall at quadratic cost); independent planes read 0.30 here — 7
    // probed buckets of 64 ≈ 33 candidates of 300 for top-5 of random
    // gaussians, which is the expected order
    assert(rm >= 0.25, s"multi-probe recall $rm implausibly low")
  }

  test("hardNegatives: top-k different-label neighbors, label filter BEFORE the rank cut") {
    val rnd = new scala.util.Random(17)
    val dims = 16
    val labeled = (0 until 200).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat), s"c${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val queries = labeled.filter($"vec_id" < 12)
    val got = Similarity.hardNegatives(queries, labeled, 5)
      .select("a_id", "rn", "b_id", "neg_label", "cosine")
      .as[(Long, Int, Long, String, Double)].collect()
    // no same-label pair can ever appear, and k is respected per query
    val labelOf = (0 until 200).map(i => i.toLong -> s"c${i % 3}").toMap
    got.foreach { case (a, _, b, nl, _) =>
      assert(labelOf(a) != nl && labelOf(b) == nl && a != b)
    }
    assert(got.groupBy(_._1).forall(_._2.length == 5))
    // truth: driver-side cosine over the different-label corpus, same
    // round + tie order — the filter-before-rank semantics exactly
    val all = { val r = new scala.util.Random(17)
      (0 until 200).map(i => i.toLong -> Array.fill(dims)(r.nextGaussian().toFloat)).toMap }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def n2(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / (n2(a) * n2(b)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (a <- 0L until 12L) {
      val expect = (0L until 200L)
        .filter(b => b != a && labelOf(b) != labelOf(a))
        .map(b => (b, cos(all(a), all(b))))
        .sortBy { case (b, c) => (-c, b) }.take(5)
      val mine = got.filter(_._1 == a).sortBy(_._2).map(t => (t._3, t._5)).toSeq
      assert(mine == expect, s"query $a: $mine vs $expect")
    }
  }

  test("hardNegativesLsh: subset of the exact miner's candidate space, same scoring, k respected") {
    val rnd = new scala.util.Random(29)
    val dims = 16
    val labeled = (0 until 300).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat), s"c${i % 4}"))
      .toDF("vec_id", "embedding", "label")
    val queries = labeled.filter($"vec_id" < 16)
    val exact = Similarity.hardNegatives(queries, labeled, 300)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toMap2
    val lsh = Similarity.hardNegativesLsh(queries, labeled, 5, nPlanes = 4, dims = dims)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // every LSH pick is a legal negative (present in the unbounded exact
    // ranking) with the identical rounded score
    lsh.foreach { case (a, b, c) =>
      assert(exact.contains((a, b)), s"($a,$b) not a legal negative")
      assert(exact((a, b)) == c)
    }
    assert(lsh.groupBy(_._1).forall(_._2.length <= 5))
  }

  test("kmeansCentroids: deterministic, unit-norm, k cells, and clusters separate") {
    // 3 well-separated direction clusters in 8 dims, 40 points each
    val rnd = new scala.util.Random(11)
    val dirs = Seq(Array.tabulate(8)(i => if (i < 3) 1.0f else 0.0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1.0f else 0.0f),
      Array.tabulate(8)(i => if (i >= 6) 1.0f else 0.0f))
    val pts = (0 until 120).map { i =>
      val d = dirs(i % 3)
      (i.toLong, d.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    }.toDF("vec_id", "embedding")
    val c1 = Similarity.kmeansCentroids(pts, 3, sampleSize = 120, iters = 8)
      .orderBy("cell").as[(Long, Array[Float])].collect()
    val c2 = Similarity.kmeansCentroids(pts, 3, sampleSize = 120, iters = 8)
      .orderBy("cell").as[(Long, Array[Float])].collect()
    assert(c1.length == 3)
    assert(c1.map(_._1).toSeq == c2.map(_._1).toSeq &&
      c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq) // deterministic
    c1.foreach { case (_, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-4, s"centroid not unit-norm: $n")
    }
    // each true direction has a dedicated nearest centroid (clusters found)
    val owners = dirs.map { d =>
      c1.indexWhere { case (_, c) =>
        c.zip(d).map { case (x, y) => x.toDouble * y }.sum >
          0.8 * math.sqrt(d.map(x => x.toDouble * x).sum)
      }
    }
    assert(owners.forall(_ >= 0) && owners.distinct.length == 3, s"owners=$owners")
  }

  test("kmeansCentroidsFromSample over a shared orderedSample equals the inline trainer") {
    // the c8/e2l one-sample-two-trainers shape (r22): centroids must be
    // BIT-identical to the inline form, which collects the same sample
    val rnd = new scala.util.Random(31)
    val pts = (0 until 100).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val sample = Similarity.orderedSample(pts, 64)
    val shared = Similarity.kmeansCentroidsFromSample(spark, sample, 4, iters = 8)
      .orderBy("cell").as[(Long, Array[Float])].collect()
    val inline = Similarity.kmeansCentroids(pts, 4, sampleSize = 64, iters = 8)
      .orderBy("cell").as[(Long, Array[Float])].collect()
    assert(shared.map(_._1).toSeq == inline.map(_._1).toSeq)
    assert(shared.map(_._2.toSeq).toSeq == inline.map(_._2.toSeq).toSeq)
  }

  test("kmeans IVF recall gate: recall@5 >= 0.8 on a clustered seeded corpus") {
    val rnd = new scala.util.Random(23)
    val dims = 16
    val centers = Array.fill(8)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val corpus = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.15f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 24)
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopKWithCentroids(queries, corpus,
      Similarity.kmeansCentroids(corpus, nCells = 8, sampleSize = 400, iters = 8),
      5, nProbe = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"kmeans IVF recall@5 = $recall")
  }

  test("kmeansCentroidsScalable: deterministic, unit-norm, k cells, clusters separate") {
    // same geometry as the driver-sample test — the distributed trainer must
    // find the same 3 direction clusters, stay unit-norm, and be
    // run-to-run deterministic (hash sample + fixed-point means)
    val rnd = new scala.util.Random(11)
    val dirs = Seq(Array.tabulate(8)(i => if (i < 3) 1.0f else 0.0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1.0f else 0.0f),
      Array.tabulate(8)(i => if (i >= 6) 1.0f else 0.0f))
    val pts = (0 until 120).map { i =>
      val d = dirs(i % 3)
      (i.toLong, d.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    }.toDF("vec_id", "embedding")
    var c1, c2: Array[(Long, Array[Float])] = null
    val left = leakedRdds {
      c1 = Similarity.kmeansCentroidsScalable(pts, 3, samplePerCell = 40, iters = 6)
        .orderBy("cell").as[(Long, Array[Float])].collect()
      c2 = Similarity.kmeansCentroidsScalable(pts, 3, samplePerCell = 40, iters = 6)
        .orderBy("cell").as[(Long, Array[Float])].collect()
    }
    // the centroid frame is driver-built, so the sample checkpoint every
    // Lloyd iteration re-reads is released before return
    assert(left.isEmpty, s"kmeansCentroidsScalable left ${left.size} persisted RDDs")
    assert(c1.length == 3)
    assert(c1.map(_._1).toSeq == c2.map(_._1).toSeq &&
      c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq) // deterministic
    c1.foreach { case (_, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-4, s"centroid not unit-norm: $n")
    }
    val owners = dirs.map { d =>
      c1.indexWhere { case (_, c) =>
        c.zip(d).map { case (x, y) => x.toDouble * y }.sum >
          0.8 * math.sqrt(d.map(x => x.toDouble * x).sum)
      }
    }
    assert(owners.forall(_ >= 0) && owners.distinct.length == 3, s"owners=$owners")
  }

  test("scalable-quantizer IVF recall gate: recall@5 >= 0.8 on a clustered seeded corpus") {
    // the e2h discipline over the DISTRIBUTED trainer — the recall gate
    // VERDICT r13 asked for before the >2048-cell path can be production
    val rnd = new scala.util.Random(23)
    val dims = 16
    val centers = Array.fill(8)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val corpus = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.15f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 24)
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopKWithCentroids(queries, corpus,
      Similarity.kmeansCentroidsScalable(corpus, nCells = 8, samplePerCell = 50, iters = 6),
      5, nProbe = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"scalable-quantizer IVF recall@5 = $recall")
  }

  test("semanticDedupAuto dispatches past the 2048-cell boundary and matches the explicit call") {
    // targetCell=1 over 2500 vectors → 2500 cells > DriverSampleMaxCells →
    // the scalable trainer; the dispatch must equal the explicit composition
    val rnd = new scala.util.Random(61)
    val corpus = (0 until 2500).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val cells = Similarity.cellsForCorpus(2500, 1, maxCells = Int.MaxValue)
    assert(cells == 2500 && cells > Similarity.DriverSampleMaxCells)
    val auto = Similarity.semanticDedupAuto(corpus, 0.9, targetCell = 1)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    val explicit = Similarity.semanticDedup(corpus,
      Similarity.kmeansCentroidsScalable(corpus, cells), 0.9)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    assert(auto == explicit && auto.nonEmpty)
    // and the default maxCells clamp still documents the driver boundary
    assert(Similarity.cellsForCorpus(2500, 1) == 2048)
  }

  test("ivfTopKIndexed: search over the persisted index == inline IVF with the same centroids") {
    // one persisted index, two consumers: the dedup gate AND ANN search.
    // The indexed search must reproduce ivfTopKWithCentroids exactly —
    // same assignment chain, same probe/score arithmetic, corpus side read
    // back instead of re-assigned.
    val rnd = new scala.util.Random(29)
    val dims = 16
    val centers = Array.fill(8)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val corpus = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.15f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 24)
    val cents = Similarity.kmeansCentroids(corpus, nCells = 8, sampleSize = 400, iters = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.buildSemanticIndex(corpus, cents, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "rn").as[(Long, Int, Long, Double)].collect().toSeq
    val inline = rows(Similarity.ivfTopKWithCentroids(queries, corpus, cents, 5, nProbe = 2))
    val indexed = rows(Similarity.ivfTopKIndexed(dir, queries, 5, nProbe = 2))
    assert(indexed == inline && inline.nonEmpty)
  }

  test("labelCentroids: fixed-point means track the true means, bit-stable across partitionings") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map(i => (i % 3, Array.fill(4)(rnd.nextGaussian().toFloat)))
    val df = spark.sparkContext.parallelize(rows, 8).toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .select("label", "pos", "mean_fp").as[(Int, Int, Long)].collect()
      .map { case (l, p, m) => (l, p) -> m / 1048576.0 }.toMap
    // truth via driver-side doubles
    val truth = rows.groupBy(_._1).flatMap { case (l, g) =>
      (0 until 4).map(p => (l, p) -> g.map(_._2(p).toDouble).sum / g.size)
    }
    truth.foreach { case (k, t) =>
      assert(math.abs(got(k) - t) < 1e-5, s"$k: got ${got(k)} vs $t")
    }
    // exact reproducibility: a different partitioning yields identical rows
    val again = Similarity.labelCentroids(
      spark.sparkContext.parallelize(rows.reverse, 3).toDF("label", "embedding"),
      "label", "embedding")
    assert(Similarity.labelCentroids(df, "label", "embedding").collect().toSeq ==
      again.collect().toSeq)
  }

  test("semanticDedup: known geometry — drops only the smaller-id near neighbor in-cell") {
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("cell", "cvec")
    // assignments: v0,v1,v4 -> cell 0 (v4 ties 0.7071/0.7071, lower cell
    // wins); v2,v3 -> cell 1 (cos(v3,c0) = -1 < 0). Within cell 0 only
    // (0,1) reaches 0.9 cosine -> v1 dropped; cell 1's pair is orthogonal.
    val out = Similarity.semanticDedup(vecs, cents, 0.9)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L), (0L, 4L), (1L, 2L), (1L, 3L)), s"got $out")
  }

  test("semanticDedup: threshold -1 keeps exactly the min id per non-empty cell; threshold > 1 keeps all") {
    val rnd = new scala.util.Random(31)
    val dims = 16
    val centers = Array.fill(6)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val corpus = (0 until 300).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.15f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, nCells = 6, sampleSize = 300)
    // every in-cell pair qualifies at -1 -> keep-smallest leaves min id/cell
    val minOnly = Similarity.semanticDedup(corpus, cents, -1.0)
      .orderBy("cell").as[(Long, Long)].collect().toSeq
    assert(minOnly.size == minOnly.map(_._1).distinct.size)
    val assignedMin = Similarity.semanticDedup(corpus, cents, 2.0)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (c, g) => (c, g.map(_._2).min) }
    minOnly.foreach { case (cell, id) => assert(assignedMin(cell) == id) }
    // no pair reaches cosine > 1 -> nothing dropped
    assert(Similarity.semanticDedup(corpus, cents, 2.0).count() == 300L)
  }

  test("semanticDedupIncremental: admitted == batch over (survivors ∪ delta) restricted to the delta") {
    // the d9b contract: corpus ids < delta ids, corpus passed in as its own
    // semanticDedup survivors. Batch over (surv ∪ delta) then equals the
    // incremental admission exactly — keep-smallest sees corpus ids first
    // and no survivor has a smaller-id >=t neighbor, so none is re-dropped.
    val rnd = new scala.util.Random(53)
    val corpusAll = (0 until 240).map { i =>
      val base = Array.tabulate(12)(j => if (j == i % 4) 1.0f else 0.0f)
      (i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.2f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.firstNCentroids(corpusAll, 4)
    val old = corpusAll.filter(col("vec_id") < 120)
    val delta = corpusAll.filter(col("vec_id") >= 120)
    val surv = Similarity.semanticDedup(old, cents, 0.6)
      .select("vec_id").join(corpusAll, Seq("vec_id"))
      .select("vec_id", "embedding")
    val admitted = Similarity.semanticDedupIncremental(surv, delta, cents, 0.6)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    val batch = Similarity.semanticDedup(surv.unionByName(delta), cents, 0.6)
      .filter(col("vec_id") >= 120)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    assert(admitted == batch, s"incremental $admitted != batch-restricted $batch")
    // non-degenerate: the frame both admits and drops delta vectors
    assert(admitted.nonEmpty && admitted.size < 120, s"size ${admitted.size}")
  }

  test("semantic index: indexed gate == inline; append extends; excludeIds replay is idempotent") {
    // the d8 build/gate/append discipline for embeddings: the persisted
    // (assignment + centroids) index must gate exactly like the inline
    // operator, batch after batch, and a replayed batch must recompute the
    // identical admission after its own rows were already appended
    val rnd = new scala.util.Random(71)
    val all = (0 until 300).map { i =>
      val base = Array.tabulate(12)(j => if (j == i % 4) 1.0f else 0.0f)
      (i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.2f))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val cents = Similarity.firstNCentroids(all, 4)
    val corpus = all.filter(col("vec_id") < 100)
    val delta1 = all.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val delta2 = all.filter(col("vec_id") >= 200)
    val surv = Similarity.semanticDedup(corpus, cents, 0.6)
      .select("vec_id").join(all, Seq("vec_id")).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semidx").toString

    Similarity.buildSemanticIndex(surv, cents, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    val inline1 = rows(Similarity.semanticDedupIncremental(surv, delta1, cents, 0.6))
    val indexed1 = rows(Similarity.semanticDedupIncrementalIndexed(dir, delta1, 0.6))
    assert(indexed1 == inline1 && inline1.nonEmpty && inline1.size < 100)

    // admit batch 1, gate batch 2: must equal the inline gate over the
    // grown corpus (survivors ∪ batch-1 admissions)
    val adm1 = all.join(
      Similarity.semanticDedupIncrementalIndexed(dir, delta1, 0.6).select("vec_id"),
      Seq("vec_id")).select("vec_id", "embedding")
    Similarity.appendToSemanticIndex(adm1, dir)
    val inline2 = rows(Similarity.semanticDedupIncremental(
      surv.unionByName(adm1), delta2, cents, 0.6))
    val indexed2 = rows(Similarity.semanticDedupIncrementalIndexed(dir, delta2, 0.6))
    assert(indexed2 == inline2)

    // crash-replay: batch 2's admissions already appended, the batch
    // replays — excluding its own ids must reproduce the identical set
    val adm2 = all.join(
      Similarity.semanticDedupIncrementalIndexed(dir, delta2, 0.6).select("vec_id"),
      Seq("vec_id")).select("vec_id", "embedding")
    Similarity.appendToSemanticIndex(adm2, dir)
    val replay = rows(Similarity.semanticDedupIncrementalIndexed(dir, delta2, 0.6,
      excludeIds = Some(delta2.select("vec_id"))))
    assert(replay == indexed2)
    // and WITHOUT exclusion the replayed rows veto themselves (cosine 1.0
    // self-pairs) — the failure mode excludeIds exists to prevent
    val unexcluded = rows(Similarity.semanticDedupIncrementalIndexed(dir, delta2, 0.6))
    assert(unexcluded.isEmpty)
  }

  test("semanticDedupIncremental: raw-union batch differs — a dropped corpus vector no longer vetoes") {
    // cosine is not transitive: v0 at 0°, v1 at 25°, v2 at 50°, t=cos(30°).
    // Batch over {v0,v1,v2}: v1 dropped by v0, v2 dropped by (dropped!) v1.
    // Incremental with surv={v0}: v2 vs v0 = cos(50°) < t -> admitted.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("cell", "cvec")
    val t = math.cos(math.toRadians(30)) // ≈0.866
    val corpus = Seq((0L, at(0)), (1L, at(25))).toDF("vec_id", "embedding")
    val delta = Seq((2L, at(50))).toDF("vec_id", "embedding")
    val surv = Similarity.semanticDedup(corpus, cents, t)
    assert(surv.as[(Long, Long)].collect().toSeq == Seq((0L, 0L)))
    val admitted = Similarity.semanticDedupIncremental(
      corpus.filter(col("vec_id") === 0L), delta, cents, t)
      .as[(Long, Long)].collect().toSeq
    assert(admitted == Seq((0L, 2L)), s"got $admitted") // admitted here...
    val rawBatch = Similarity.semanticDedup(corpus.unionByName(delta), cents, t)
      .as[(Long, Long)].collect().toSeq
    assert(rawBatch == Seq((0L, 0L)), s"got $rawBatch") // ...dropped there
  }

  test("cellsForCorpus bounds expected cell population; semanticDedupAuto matches the policy") {
    // E[|cell|] = n/cells <= targetCell at every n below the clamp boundary
    for (n <- Seq(1L, 100L, 5000L, 100000L, 500000L);
         t <- Seq(64, 256, 1024)) {
      val c = Similarity.cellsForCorpus(n, t)
      assert(c >= 1 && c <= 2048)
      if (c < 2048) assert(n.toDouble / c <= t, s"n=$n t=$t cells=$c")
    }
    // auto lane: same survivors as the explicit kmeans call it delegates to
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 200).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val auto = Similarity.semanticDedupAuto(corpus, 0.9, targetCell = 50)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    val explicit = Similarity.semanticDedup(corpus,
      Similarity.kmeansCentroids(corpus, Similarity.cellsForCorpus(200, 50)), 0.9)
      .orderBy("cell", "vec_id").as[(Long, Long)].collect().toSeq
    assert(auto == explicit && auto.nonEmpty)
  }

  private implicit class MapOps(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] = rows.map { case (a, b, c) => (a, b) -> c }.toMap
  }
}
