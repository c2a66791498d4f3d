package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE trainer + applier vs a naive single-node reference implementation
  * written independently below (symbol lists + explicit greedy scan, no
  * string replace) — so a representation bug in the space-joined form
  * cannot cancel itself out across both sides.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // --- naive reference: classic Sennrich dict-based BPE on symbol lists ---

  private def refPairCounts(vocab: Map[List[String], Long]): Map[(String, String), Long] =
    vocab.toSeq.flatMap { case (syms, cnt) =>
      syms.zip(syms.tail).map(p => p -> cnt)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }

  private def refMergeWord(syms: List[String], l: String, r: String): List[String] = {
    // explicit greedy left-to-right scan with resume-after-merge
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  private def refTrain(words: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    var vocab: Map[List[String], Long] =
      words.toSeq.groupBy(_._1.map(_.toString).toList).map { case (k, xs) => k -> xs.map(_._2).sum }
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    for (_ <- 1 to nMerges if !done) {
      val pc = refPairCounts(vocab)
      if (pc.isEmpty) done = true
      else {
        val (l, r) = pc.toSeq.minBy { case ((a, b), w) => (-w, a, b) }._1
        merges += ((l, r))
        vocab = vocab.toSeq.map { case (syms, cnt) => refMergeWord(syms, l, r) -> cnt }
          .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      }
    }
    merges.result()
  }

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the hat and the bat chat"),
    (3L, "that cat that hat that splat"),
    (4L, "thin moths thrash in the thicket"),
    (5L, "aaa aa aaaa banana bandana"),
    (6L, "on and on and on it went")
  ).toDF("doc_id", "text")

  private def refWordCounts: Map[String, Long] =
    docs.collect().flatMap(r => r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }

  test("wordCounts matches a driver-side tally") {
    val got = Bpe.wordCounts(docs, "text").as[(String, Long)].collect().toMap
    assert(got == refWordCounts)
  }

  test("learned merge sequence matches the naive reference exactly") {
    val wc = Bpe.wordCounts(docs, "text")
    val got = Bpe.trainMerges(wc, 12)
    val want = refTrain(refWordCounts, 12)
    assert(got == want)
  }

  test("overlapping pair merges greedily left-to-right (aaa -> [aa, a])") {
    // the representation trap: (a)(a)(a) must become (aa)(a), never (a)(aa)
    val out = Seq("aaa").toDF("word")
      .select(Bpe.applyMerge(Bpe.symbolize(col("word")), "a", "a").as("s"))
      .as[String].head()
    assert(out == "(aa)(a)")
  }

  test("back-to-back merges in an odd run group like Sennrich greedy (aaaaa -> [aa, aa, a])") {
    // the shared-separator trap a space-joined form falls into: the first
    // match must not consume the boundary the second match needs
    val out = Seq("aaaaa").toDF("word")
      .select(Bpe.applyMerge(Bpe.symbolize(col("word")), "a", "a").as("s"))
      .as[String].head()
    assert(out == "(aa)(aa)(a)")
  }

  test("symbol wrapping prevents cross-symbol matches (xa+b has no (a)(b) pair)") {
    val out = Seq(("xa b fake")).toDF("text")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .select(Bpe.applyMerge(Bpe.symbolize(col("w")), "a", "b").as("s"))
      .as[String].collect().toSet
    // tokens are xa, b, fake; none contains the adjacent pair (a, b)
    assert(out == Set("(x)(a)", "(b)", "(f)(a)(k)(e)"))
  }

  test("applyMerges + symbolCount reproduce the reference tokenization") {
    val wc = Bpe.wordCounts(docs, "text")
    val merges = Bpe.trainMerges(wc, 8)
    val got = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    // reference: tokenize each doc's words with the learned merges
    val want = docs.collect().map { r =>
      val words = r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val n = words.map { w =>
        merges.foldLeft(w.map(_.toString).toList) { case (s, (l, r2)) => refMergeWord(s, l, r2) }.length.toLong
      }.sum
      r.getLong(0) -> n
    }.toMap
    assert(got == want)
  }

  test("property: trainer matches the naive reference on random corpora (fixed seeds)") {
    // ScalaCheck generators sampled with fixed seeds (the InvariantsSpec
    // pattern — the scalatest bridge isn't in the offline cache). Words
    // skew toward shared prefixes/repeated runs so merges collide and
    // tie-breaks actually fire.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wordGen: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf("aa", "aaa", "aaaa", "ab", "abab", "ba"),
      3 -> Gen.oneOf("the", "then", "them", "than", "that"),
      2 -> (for {
        n <- Gen.choose(1, 6)
        cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString),
      1 -> Gen.oneOf("x", "zq9", "900"))
    val corpusGen: Gen[List[String]] = Gen.listOfN(60, wordGen)
    for (seed <- 1 to 5) {
      val words = corpusGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val wc = Bpe.wordCounts(df, "text")
      val got = Bpe.trainMerges(wc, 10)
      val want = refTrain(words.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }, 10)
      assert(got == want, s"seed=$seed: $got != $want")
      // and the two appliers agree under the learned merges
      val chain = Bpe.tokenCounts(df, "doc_id", "text", got).as[(Long, Long)].collect().toMap
      val fast = Bpe.tokenCountsScalable(df, "doc_id", "text", got).as[(Long, Long)].collect().toMap
      assert(fast == chain, s"seed=$seed applier divergence")
    }
  }

  test("trainer releases previous vocab snapshots (persistent-RDD count stays bounded)") {
    // Dataset.unpersist is a NO-OP for localCheckpointed frames (it only
    // routes through the CacheManager) — the fix unpersists the
    // checkpointed RDD inside the LogicalRDD. Without it each of the 12
    // iterations leaves one vocab snapshot behind.
    val left = leakedRdds(Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 12))
    // nothing may remain: the final snapshot is released on return too
    assert(left.isEmpty, s"leaked ${left.size} vocab snapshots")
  }

  test("hybrid trainer == distributed trainer on the learned corpus") {
    val wc = Bpe.wordCounts(docs, "text")
    assert(Bpe.trainMergesLocal(wc, 12) == Bpe.trainMerges(wc, 12))
  }

  test("hybrid trainer matches on random corpora incl. repeated-run traps (fixed seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wordGen: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf("aa", "aaa", "aaaa", "ab", "abab", "ba"),
      3 -> Gen.oneOf("the", "then", "them", "than", "that"),
      2 -> (for {
        n <- Gen.choose(1, 6)
        cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString),
      1 -> Gen.oneOf("x", "zq9", "900"))
    val corpusGen: Gen[List[String]] = Gen.listOfN(60, wordGen)
    for (seed <- 1 to 5) {
      val words = corpusGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val wc = Bpe.wordCounts(df, "text")
      val got = Bpe.trainMergesLocal(wc, 10)
      val want = refTrain(words.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }, 10)
      assert(got == want, s"seed=$seed: $got != $want")
    }
  }

  test("hybrid trainer vocab guard: prune is a no-op above the floor, over-budget raises") {
    val wc = Bpe.wordCounts(docs, "text")
    // every word in the learned corpus has cnt >= 1, so minCount=1 (the
    // default) and a generous maxVocab must change nothing
    val base = Bpe.trainMergesLocal(wc, 12)
    assert(Bpe.trainMergesLocal(wc, 12, minCount = 1L, maxVocab = 1000) == base)
    // a vocabulary over maxVocab must fail loudly, not collect unboundedly
    val ex = intercept[IllegalArgumentException] {
      Bpe.trainMergesLocal(wc, 12, minCount = 1L, maxVocab = 3)
    }
    assert(ex.getMessage.contains("maxVocab"))
    // a minCount prune that drops the long tail keeps the collect in budget
    // (docs has words with cnt >= 2: 'the', 'that', 'on', 'and', 'cat', 'hat')
    val pruned = Bpe.trainMergesLocal(wc, 3, minCount = 2L, maxVocab = 10)
    assert(pruned.nonEmpty)
  }

  test("hybrid trainer stops early on a fully merged vocabulary") {
    val tiny = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    assert(Bpe.trainMergesLocal(Bpe.wordCounts(tiny, "text"), 10) == Seq(("a", "b")))
  }

  test("hybrid trainer handles repeated-symbol runs (greedy resume-after grouping)") {
    // 'aaaaa' must contribute [aa][aa][a] after merge (a,a) — the
    // incremental rescan must subtract/re-add the overlapping run exactly
    val tiny = Seq((1L, "aaaaa aaa baaab")).toDF("doc_id", "text")
    val wc = Bpe.wordCounts(tiny, "text")
    for (n <- 1 to 6)
      assert(Bpe.trainMergesLocal(wc, n) == Bpe.trainMerges(wc, n), s"diverged at nMerges=$n")
  }

  test("vocab: char inventory ids 1..k lexicographic, merges fused at k+rank") {
    val tiny = Seq((1L, "ab ba ab")).toDF("doc_id", "text")
    val wc = Bpe.wordCounts(tiny, "text")
    val merges = Bpe.trainMerges(wc, 2) // (a,b) first (weight 2), then (b,a)
    assert(merges == Seq(("a", "b"), ("b", "a")))
    val got = Bpe.vocab(wc, merges).orderBy("token_id")
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, "a", "char"), (2L, "b", "char"),
      (3L, "ab", "merge"), (4L, "ba", "merge")))
  }

  test("trainer stops early on a fully merged vocabulary") {
    val tiny = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val wc = Bpe.wordCounts(tiny, "text")
    val merges = Bpe.trainMerges(wc, 10)
    assert(merges == Seq(("a", "b"))) // one merge exhausts all pairs
  }

  test("persisted merges round-trip in learned order; counts from disk == inline") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_model").toString
    Bpe.trainAndSave(docs, "text", nMerges = 8, dir)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded == Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 8))
    val fromDisk = Bpe.tokenCounts(docs, "doc_id", "text", loaded)
      .as[(Long, Long)].collect().toMap
    val inline = Bpe.tokenCounts(docs, "doc_id", "text",
      Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 8)).as[(Long, Long)].collect().toMap
    assert(fromDisk == inline)
    // retrain-and-save overwrites idempotently
    Bpe.trainAndSave(docs, "text", nMerges = 8, dir)
    assert(Bpe.loadMerges(spark, dir) == loaded)
  }

  test("loadMerges rejects an ill-ordered merge artifact loudly") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_bad").toString
    // (th,e) before (t,h): 'th' is not fused by any earlier rank
    Bpe.saveMerges(spark, Seq(("th", "e"), ("t", "h")), dir)
    val e = intercept[IllegalArgumentException] { Bpe.loadMerges(spark, dir) }
    assert(e.getMessage.contains("ill-ordered"))
    // a well-ordered table with the same pairs loads fine
    Bpe.saveMerges(spark, Seq(("t", "h"), ("th", "e")), dir)
    assert(Bpe.loadMerges(spark, dir) == Seq(("t", "h"), ("th", "e")))
    // a duplicated pair is rejected too: trainer output never repeats a
    // pair, and the replace chain vs a rank map would diverge on one
    Bpe.saveMerges(spark, Seq(("a", "b"), ("b", "c"), ("a", "b")), dir)
    val e2 = intercept[IllegalArgumentException] { Bpe.loadMerges(spark, dir) }
    assert(e2.getMessage.contains("already merged"))
  }

  test("tokenCountsScalable (rank-priority applier) == tokenCounts (replace chain) on learned merges") {
    val merges = Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 12)
    val chain = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    val fast = Bpe.tokenCountsScalable(docs, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(fast == chain)
    // adversarial shapes: repeated runs (greedy grouping), merged-symbol
    // reuse, null and token-free docs (both absent from both forms). The
    // list is WELL-ORDERED (every merged symbol is built by an earlier
    // rank) — the precondition both appliers share; an ill-ordered list
    // ((ab,c) before (a,b)) is not a BPE merge table.
    val tricky = Seq((1L, "aaaaa aaaa aaa"), (2L, "the then there that"),
      (3L, null.asInstanceOf[String]), (4L, "!!! ..."), (5L, "banana bandana"))
      .toDF("doc_id", "text")
    val m2 = Seq("a" -> "a", "t" -> "h", "th" -> "e", "aa" -> "aa", "a" -> "n", "an" -> "an")
    val c2 = Bpe.tokenCounts(tricky, "doc_id", "text", m2).as[(Long, Long)].collect().toMap
    val f2 = Bpe.tokenCountsScalable(tricky, "doc_id", "text", m2).as[(Long, Long)].collect().toMap
    assert(f2 == c2)
    assert(!c2.contains(3L) && !c2.contains(4L))
  }

  test("zero merges tokenize to per-doc character counts of the token stream") {
    val got = Bpe.tokenCounts(docs, "doc_id", "text", Nil).as[(Long, Long)].collect().toMap
    val want = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).map(_.length.toLong).sum
    }.toMap
    assert(got == want)
  }
}
