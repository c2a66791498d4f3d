package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Distributed byte-pair-encoding tokenizer induction (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * operation a frontier-lab pipeline runs BEFORE any token-count accounting
  * exists: learn the merge table from the corpus itself.
  *
  * Scale shape (the reason BPE training is feasible at 100 TB at all): the
  * corpus is touched EXACTLY ONCE, by [[wordCounts]] — a map-side-combined
  * `groupBy(word).count`, the cheapest shuffle in the engine. Every merge
  * iteration after that runs on the WORD-FREQUENCY TABLE, whose cardinality
  * is the corpus vocabulary (millions of rows, not billions of documents)
  * and which only SHRINKS in byte volume as merges fuse symbols. Per
  * iteration: one exploded pair count (map-side combined, bounded by
  * vocab x avg word length), one 1-row argmax collect (the only driver
  * traffic), one codegen'd `replace` over the vocab table. This is exactly
  * the classic single-node algorithm's word-dict trick, distributed.
  *
  * Representation: a word's current symbol sequence is a string of
  * INDIVIDUALLY PARENTHESIZED symbols (`"hello"` -> `"(h)(e)(l)(l)(o)"`).
  * Applying merge (a, b) is then `replace(syms, "(a)(b)", "(ab)")` — and
  * left-to-right non-overlapping string replace on this form is EXACTLY
  * the greedy merge order Sennrich's reference applier uses (merge at the
  * leftmost occurrence, resume scanning AFTER the merged pair). The wrap
  * must be per-symbol, not a shared separator: with space-joined symbols
  * (`" a a a a a "`) the pattern `" a a "` consumes the separator shared
  * with the next pair, so back-to-back merges in a repeated-symbol run
  * misgroup (`[aa, a, aa]` where greedy BPE gives `[aa, aa, a]`) — a bug
  * this module's first draft had and BpeSpec now pins. With per-symbol
  * parens, `"(a)(a)(a)(a)(a)"` -> `"(aa)(aa)(a)"`, and a pair match can
  * never straddle a symbol boundary (`"(xa)(b)"` does not contain
  * `"(a)(b)"`). Tokens are `[a-z0-9]+` ([[Text.tokens]]), so symbols never
  * contain a paren. The same replace semantics hold verbatim in ANSI SQL /
  * DuckDB, which is what makes the learned-merge lane (bpe3) fully
  * hash-checkable by an unrolled oracle.
  *
  * Determinism: pair weights are exact integer sums; the argmax tie-break
  * is (weight DESC, left ASC, right ASC) — a total order, so the learned
  * merge sequence is a pure function of the corpus, independent of
  * partitioning, rerun, or cluster size.
  */
object Bpe {

  /** Corpus word-frequency table: `(word, cnt)`. The ONLY corpus-sized pass
    * in the whole trainer; map-side combine collapses each partition's
    * token stream to its local vocabulary before the shuffle.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** `"(h)(e)(l)(l)(o)"` — the per-symbol-parenthesized form. The explicit
    * empty-string filter guards Spark's `split(s, "", -1)` trailing-empty
    * behavior (DuckDB's `string_split(s, '')` never emits one, and the two
    * sides must symbolize identically).
    */
  def symbolize(word: Column): Column =
    concat(lit("("),
      array_join(filter(split(word, ""), s => length(s) > 0), ")("),
      lit(")"))

  /** The symbol array of a symbolized word: strip the outer parens, split
    * on the `)(` joints (escaped — Spark's split is regex).
    */
  def symbols(syms: Column): Column =
    split(syms.substr(lit(2), length(syms) - 2), "\\)\\(")

  /** Adjacent symbol pairs of one symbolized word, as `array<struct<l,r>>`.
    * Single-symbol words produce an empty array — the `when` guard matters
    * because Spark's `sequence(1, 0)` counts DOWNWARD instead of returning
    * empty.
    */
  private def adjacentPairs(syms: Column): Column = {
    val parts = symbols(syms)
    when(size(parts) >= 2,
      transform(sequence(lit(1), size(parts) - 1),
        i => struct(element_at(parts, i).as("l"), element_at(parts, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
  }

  /** Weighted adjacent-pair counts over a `(syms, cnt)` vocab table:
    * `(l, r, weight)` where weight = sum over words of
    * (occurrences in word) x (word frequency) — one explode + one
    * map-side-combined aggregate, never corpus-sized.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(explode(adjacentPairs(col("syms"))).as("p"), col("cnt"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("weight"))

  /** One merge applied to a symbolized string: a codegen'd plain-string
    * `replace` (not regex — symbols are [a-z0-9]+ so either would do, but
    * plain replace is verbatim the oracle's replace()). See the
    * representation note above for why left-to-right replace IS greedy BPE.
    */
  def applyMerge(syms: Column, l: String, r: String): Column =
    replace(syms, lit(s"($l)($r)"), lit(s"($l$r)"))

  /** A whole merge table applied in learned order: a fold of replaces —
    * one flat codegen'd expression chain, no UDF, no shuffle.
    */
  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** Symbol count of a symbolized word — the BPE token count once the
    * merge chain has been applied: one `(` per symbol, so count them
    * (two codegen'd string ops, no split/array allocation).
    */
  def symbolCount(syms: Column): Column =
    length(syms) - length(replace(syms, lit("("), lit("")))

  /** Learn `nMerges` merges from a `(word, cnt)` table. Returns the merge
    * table in learned order. Driver traffic is ONE ROW per iteration (the
    * argmax); the vocab table is snapshotted each iteration
    * ([[Materialize.round]]) to keep the plan flat (same discipline as the
    * connected-components loop — without it the replace chain re-derives
    * from iteration 0 every pass).
    * Stops early when no pair remains (fully merged vocabulary).
    */
  def trainMerges(wc: DataFrame, nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = Materialize.round(
      wc.select(symbolize(col("word")).as("syms"), col("cnt").cast("long").as("cnt")))
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val best = pairCounts(vocab)
        .orderBy(desc("weight"), asc("l"), asc("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += ((l, r))
        // eager checkpoint truncates lineage off the OLD blocks, so the
        // previous snapshot can be released immediately — without this a
        // production 32k-merge train retains 32k vocab copies in the
        // block manager (the CC loop tolerates the same retention only
        // because its round count is log n)
        val next = Materialize.round(
          vocab.select(applyMerge(col("syms"), l, r).as("syms"), col("cnt")))
        Materialize.release(vocab)
        vocab = next
      }
      i += 1
    }
    // free the FINAL snapshot too — merges.result() is driver state, so
    // nothing reads the frame again
    Materialize.release(vocab)
    merges.result()
  }

  /** [[trainMerges]]'s hybrid production form: ONE distributed pass (the
    * corpus-sized [[wordCounts]] shuffle, collected — the word table is
    * corpus-VOCABULARY-sized, Heaps-law sub-linear in corpus bytes, the
    * same bounded-driver-state class as the merge table and PQ codebooks
    * this module already collects), then the merge loop runs driver-side
    * with incremental pair-count maintenance (Sennrich's learn_bpe index
    * trick: only words CONTAINING the merged pair are rescanned).
    *
    * Why it exists: the distributed loop pays one Spark job + checkpoint
    * per merge — correct, and flat in corpus size, but at a production
    * 32k-merge vocabulary that is 32k sequential jobs of ~0.25 s fixed
    * scheduling overhead (~2.2 h of pure scheduling, BASELINE.md's bpe3
    * reading). Here merges cost driver arithmetic only: the whole 32k-merge
    * train is one shuffle plus seconds of loop. Output is EXACTLY
    * [[trainMerges]]'s (same integer weights, same (weight DESC, l ASC,
    * r ASC) total-order tie-break, same greedy resume-after-merge replace,
    * same early exhaustion) — BpeSpec pins the two equal on learned and
    * adversarial corpora, and the naive reference implementation agrees
    * with both.
    */
  def trainMergesLocal(wc: DataFrame, nMerges: Int,
                       minCount: Long = 1L,
                       maxVocab: Int = 8000000): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    // < MaxValue: maxVocab + 1 below must not overflow into a negative limit
    require(maxVocab >= 1 && maxVocab < Int.MaxValue, s"maxVocab out of range: $maxVocab")
    // Guard the one driver-side collect: Heaps-law sub-linearity is honest
    // for clean tokenized text, but raw web corpora carry vocabulary long
    // tails (noise, ids, URLs) that would make an unbounded collect a
    // driver OOM at 100 TB. minCount is Sennrich's standard min-frequency
    // prune (zero semantic change when every word clears the floor — a
    // pruned word can only lower pair weights it contributes to, never
    // reorder merges among surviving words' pairs at minCount=1); the
    // limit(maxVocab+1) bounds the collect ITSELF, so an over-budget
    // vocabulary raises loudly instead of OOMing first.
    val rows = wc.select(col("word"), col("cnt").cast("long"))
      .filter(col("cnt") >= minCount)
      .limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"trainMergesLocal: corpus vocabulary exceeds maxVocab=$maxVocab after " +
        s"minCount=$minCount prune — raise minCount (min-frequency prune, " +
        s"Sennrich 2016) or maxVocab, or fall back to the distributed trainMerges")
    val syms = rows.map(r =>
      scala.collection.mutable.ArrayBuffer[String](r.getString(0).map(_.toString): _*))
    val cnts = rows.map(_.getLong(1))
    // exact pair weights + inverted index pair -> candidate word ids (the
    // index may go stale as words mutate; membership is re-verified by the
    // rescan, weights never are — they're maintained exactly)
    val stats = scala.collection.mutable.HashMap[(String, String), Long]()
    val index = scala.collection.mutable.HashMap[(String, String), scala.collection.mutable.HashSet[Int]]()
    def tally(i: Int, sign: Long): Unit = {
      val s = syms(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val w = stats.getOrElse(p, 0L) + sign * cnts(i)
        if (w == 0L) stats.remove(p) else stats.update(p, w)
        if (sign > 0)
          index.getOrElseUpdate(p, scala.collection.mutable.HashSet[Int]()) += i
        j += 1
      }
    }
    syms.indices.foreach(tally(_, 1L))
    val merges = Seq.newBuilder[(String, String)]
    var it = 0
    var exhausted = false
    while (it < nMerges && !exhausted) {
      // argmax under the same total order as the distributed orderBy
      var bestL: String = null; var bestR: String = null; var bestW = 0L
      stats.foreach { case ((l, r), w) =>
        if (w > 0 && (bestL == null || w > bestW || (w == bestW &&
          (l < bestL || (l == bestL && r < bestR))))) {
          bestL = l; bestR = r; bestW = w
        }
      }
      if (bestL == null) exhausted = true
      else {
        merges += ((bestL, bestR))
        val touched = index.remove((bestL, bestR))
          .getOrElse(scala.collection.mutable.HashSet.empty[Int])
        touched.foreach { i =>
          val s = syms(i)
          // stale-entry check: does the pair still occur in this word?
          var hit = false
          var j = 0
          while (!hit && j < s.length - 1) {
            hit = s(j) == bestL && s(j + 1) == bestR; j += 1
          }
          if (hit) {
            tally(i, -1L)
            // greedy left-to-right, resume AFTER each merged pair — the
            // same scan tokenCountsScalable runs, which is exactly the
            // parenthesized-replace semantics of the distributed trainer
            j = 0
            while (j < s.length - 1) {
              if (s(j) == bestL && s(j + 1) == bestR) {
                s(j) = bestL + bestR
                s.remove(j + 1)
              }
              j += 1
            }
            tally(i, 1L)
          }
        }
        // greedy resume-after replace can never leave an adjacent
        // (bestL, bestR) standing, so the tally(+1) above re-added zero
        // occurrences of it; drop any residual entry defensively
        stats.remove((bestL, bestR))
      }
      it += 1
    }
    merges.result()
  }

  /** Persist a learned merge table — the tokenizer artifact a training
    * pipeline trains ONCE and every downstream stage (token accounting,
    * packing, mixture budgeting, the streaming annotator) then loads
    * read-only, the same train-offline/apply-everywhere discipline as the
    * persisted NB model and dedup/semantic indexes. Stored as
    * `(merge_rank, lsym, rsym)` parquet; order IS the algorithm, so rank
    * travels with the rows rather than relying on file order.
    */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("merge_rank", "lsym", "rsym")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted merge table in learned order. Driver-side by design:
    * a merge table is tokenizer-vocabulary-sized (tens of thousands of
    * rows, NOT corpus-sized) and must become literal arguments of the
    * codegen'd replace chain — the same bounded-collect class as the
    * per-file ledgers.
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, String)] = {
    val merges = spark.read.parquet(dir)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym")))
      .toSeq
    // fail loudly on a corrupted/reordered artifact: both appliers assume
    // a WELL-ORDERED table (every multi-char operand fused by an earlier
    // rank); an ill-ordered one silently tokenizes non-BPE
    val fused = scala.collection.mutable.Set[String]()
    val seen = scala.collection.mutable.Set[(String, String)]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      Seq(l, r).foreach { s =>
        require(s.length == 1 || fused.contains(s),
          s"merge table ill-ordered at rank ${i + 1}: operand '$s' not fused by any earlier rank")
      }
      // a repeated pair is never trainer output (its first merge consumes
      // every occurrence), and the two appliers legitimately differ on it
      // (the chain honors the FIRST rank, a last-wins rank map the last) —
      // reject rather than let a corrupted artifact tokenize inconsistently
      require(seen.add((l, r)),
        s"merge table corrupt at rank ${i + 1}: pair ($l, $r) already merged at an earlier rank")
      fused += (l + r)
    }
    merges
  }

  /** Train on a corpus and persist in one call — the hybrid trainer (one
    * corpus pass, driver-side merge loop), since the artifact producer is
    * exactly where the 32k-merge production vocabulary shows up.
    */
  def trainAndSave(docs: DataFrame, textCol: String, nMerges: Int, dir: String): Unit =
    saveMerges(docs.sparkSession, trainMergesLocal(wordCounts(docs, textCol), nMerges), dir)

  /** The tokenizer VOCABULARY artifact — the vocab.json twin of the merge
    * table's merges.txt: base symbols (the corpus's character inventory,
    * ids 1..k in lexicographic order) followed by each merge's fused
    * symbol at k+rank. The character inventory is bounded by the token
    * alphabet ([a-z0-9] ⇒ ≤ 36 rows), so the driver-side collect is a
    * constant, not corpus-sized.
    */
  def vocab(wc: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = wc.sparkSession
    import spark.implicits._
    val chars = wc
      .select(explode(filter(split(col("word"), ""), s => length(s) > 0)).as("c"))
      .distinct().as[String].collect().sorted
    val rows =
      chars.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c, "char") } ++
        merges.zipWithIndex.map { case ((l, r), i) =>
          ((chars.length + i + 1).toLong, l + r, "merge")
        }
    rows.toSeq.toDF("token_id", "symbol", "kind")
  }

  /** Per-document BPE token count under a given merge table: symbolize
    * every token occurrence, fold the merge chain (codegen'd replaces),
    * sum symbol counts per document. Linear in corpus size, one shuffle
    * (the final per-doc aggregate); with an empty merge table this is
    * exactly the per-doc character count of the token stream.
    *
    * Scale caveat: the replace chain is one expression PER MERGE — perfect
    * for the oracle-checkable lanes (tens of merges), wrong for a
    * production 32k-merge tokenizer, where a 32k-deep expression tree
    * drowns the analyzer/codegen. That regime is [[tokenCountsScalable]];
    * BpeSpec pins the two equal on learned merges.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .select(col(idCol),
        symbolCount(applyMerges(symbolize(col("word")), merges)).as("n_syms"))
      .groupBy(col(idCol))
      .agg(sum(col("n_syms")).as("n_bpe_tokens"))

  /** [[tokenCounts]]'s production lane for REAL merge-table sizes: the
    * classic rank-priority applier (hash the merge table once per
    * partition, repeatedly merge the LOWEST-RANK pair present in the
    * word), run per partition — merge-table size costs one broadcast hash
    * map, never expression depth. Identical output to the replace chain:
    * applying learned merges in rank order sequentially equals
    * lowest-rank-first iteration because a merge only ever CREATES symbols
    * whose pairs were learned later (a new pair containing the merged
    * symbol cannot predate the symbol), so no lower-rank opportunity is
    * ever created after its own pass — BpeSpec pins the equivalence on
    * learned merges. Both appliers assume a WELL-ORDERED merge table
    * (every merged symbol built by an earlier rank — true of any trainer
    * output); an ill-ordered list is not a BPE merge table and the two
    * forms may legitimately differ on it. Tokenization is [[Text.tokens]]'s
    * contract restated in the JVM (lowercase, split on non-[a-z0-9], drop
    * empties); mapPartitions is justified here the same way as the
    * multimodal decoders: per-partition mutable state (the rank map) that
    * SQL expressions cannot hold.
    */
  def tokenCountsScalable(docs: DataFrame, idCol: String, textCol: String,
                          merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // integral ids only (the long encoder below) — fail loudly, not with a
    // null-encoder crash mid-job; the chain form has no such precondition
    val idType = docs.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(idType.typeName),
      s"tokenCountsScalable needs an integral id column, got $idCol: $idType")
    val rankArr = merges.toArray
    val out = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // keep the FIRST rank for a duplicated pair: the replace chain
        // honors the first occurrence (later duplicate replaces are
        // no-ops), so a last-wins map would make the two appliers diverge
        // on e.g. merges [(a,b),(b,c),(a,b)] (round-15 review finding;
        // loadMerges also rejects duplicates outright)
        val rank = rankArr.zipWithIndex.reverse.toMap
        // per-task word→count memo: the merge loop is a pure function of the
        // word, and corpus text repeats words heavily, so most occurrences
        // hit the memo instead of re-running the per-character merge loop.
        // Size-capped (new words past the cap just compute uncached) so task
        // memory stays bounded on an adversarially diverse 100 TB partition;
        // results are identical either way — the memo only short-circuits
        // recomputation of the same pure function.
        val memo = new java.util.HashMap[String, Long](1 << 12)
        val memoCap = 1 << 16
        def bpeCount(w: String): Long = {
          val cached = memo.getOrDefault(w, 0L)
          if (cached != 0L) return cached
          val syms = scala.collection.mutable.ArrayBuffer[String](w.map(_.toString): _*)
          var done = false
          while (!done && syms.length > 1) {
            // lowest-rank pair present
            var best = Int.MaxValue
            var i = 0
            while (i < syms.length - 1) {
              rank.get((syms(i), syms(i + 1))).foreach(r => if (r < best) best = r)
              i += 1
            }
            if (best == Int.MaxValue) done = true
            else {
              val (l, r) = rankArr(best)
              // greedy left-to-right, resume after each merged pair
              var j = 0
              while (j < syms.length - 1) {
                if (syms(j) == l && syms(j + 1) == r) {
                  syms(j) = l + r
                  syms.remove(j + 1)
                }
                j += 1
              }
            }
          }
          val n = syms.length.toLong // >= 1, so 0 stays the "absent" sentinel
          if (memo.size < memoCap) memo.put(w, n)
          n
        }
        it.flatMap { case (id, text) =>
          val words =
            if (text == null) Array.empty[String]
            // Locale.ROOT: default-locale toLowerCase diverges from SQL
            // lower() under e.g. tr_TR ('I' -> dotless 'ı', which then
            // fails [a-z0-9]) — the Bench.scala locale discipline
            else text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
          var total = 0L
          words.foreach { w => total += bpeCount(w) }
          // token-free docs are ABSENT, matching the chain form's explode
          if (words.isEmpty) None else Some((id, total))
        }
      }
      .toDF(idCol, "n_syms")
    out.groupBy(col(idCol)).agg(sum(col("n_syms")).as("n_bpe_tokens"))
  }
}
