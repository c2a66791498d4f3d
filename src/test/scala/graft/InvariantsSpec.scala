package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Prepare, Validate}

/** Property tests (SURVEY.md §5 item 4): partition invariants of the split,
  * G1 explode cardinality, A1 count conservation — over ScalaCheck-generated
  * batches mixing valid/invalid emails and dates. (The scalatest-scalacheck
  * bridge isn't in the offline cache, so generators are sampled with fixed
  * seeds directly — deterministic across runs.)
  */
class InvariantsSpec extends SparkSpec {
  import spark.implicits._

  private val emailGen: Gen[String] = Gen.oneOf(
    "a@x.com", "user.name@sub.domain.org", "u+tag@y.io",
    "", "   ", "nope", "a@b", "@x.com", "a b@c.com")
  private val dateGen: Gen[String] = Gen.oneOf(
    "01/01/2024 10:00", "29/02/2023 23:59", "31/12/1999 00:00",
    "", "banana", "32/01/2024 10:00", "01/01/2024 24:00", null)
  private val rowGen: Gen[(String, String, String, String)] =
    for { e <- emailGen; d1 <- dateGen; d2 <- dateGen; d3 <- dateGen } yield (e, d1, d2, d3)
  private val batchGen: Gen[List[(String, String, String, String)]] =
    Gen.listOfN(40, rowGen)

  private def batches(n: Int): Seq[List[(String, String, String, String)]] =
    (1 to n).map(i => batchGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("driver t1 smoke replica: SparkEntry.entry returns rows at sf0.001") {
    // the driver's first gate; a broken flagship entry would zero the whole
    // round's smoke check, so pin it here where sbt test catches it first
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry hygiene: no orphaned oracle keys, no cross-registry query shadowing") {
    // an oracleSql key with no matching query would dump nothing and surface
    // only as a read-error row in the driver's compare; a duplicated query
    // name across the three registries would SILENTLY shadow the earlier
    // implementation through the Map ++ merge — both made impossible here
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a registered query: $orphans")
    val regs = Seq(
      "parity" -> queries.ParityQueries.queries.keySet,
      "relational" -> queries.RelationalQueries.queries.keySet,
      "extension" -> queries.ExtensionQueries.queries.keySet)
    for (Seq((na, a), (nb, b)) <- regs.combinations(2)) {
      val dup = a intersect b
      assert(dup.isEmpty, s"query names in both $na and $nb: $dup")
    }
  }

  test("bench baseline pins exactly the registered query surface") {
    // the 2x perf gate reads vs_baseline from the pinned per-query
    // baseline; a query added without a pin silently reports
    // n_unbaselined>0 (its regressions invisible), and a pin for a
    // deleted/renamed query is a stale row that misleads audits. Keep the
    // pin set and the registry in lockstep — adding a query REQUIRES a
    // warm min-of-3 pin in the same change (BASELINE.md discipline).
    val in = getClass.getResourceAsStream("/graft/bench_baseline.json")
    assert(in != null, "bench_baseline.json missing from classpath")
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val pinned = """"([a-z0-9_]+)"\s*:""".r.findAllMatchIn(txt).map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    assert(registered -- pinned == Set.empty,
      s"queries with no baseline pin: ${(registered -- pinned).toSeq.sorted}")
    assert(pinned -- registered == Set.empty,
      s"stale baseline pins: ${(pinned -- registered).toSeq.sorted}")
  }

  test("sentinel baseline pins exactly the drift battery, under its own protocol") {
    // round-16 verdict item 2: the battery times back-to-back warm
    // min-of-3 but divided by interleaved-3-epoch / QBench pins — drift
    // read 0.66 while the surface read 1.09 (noise amplification). The
    // sentinel pins live in their OWN resource, minted from a quiet-host
    // Bench run's `sentinels_sec` output (the battery's own protocol);
    // this test keeps that file in lockstep with the battery membership.
    val in = getClass.getResourceAsStream("/graft/sentinel_baseline.json")
    assert(in != null, "sentinel_baseline.json missing from classpath")
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // numeric-valued keys only — Bench's parser shape (skips the _comment)
    val pinned = """"([a-z0-9_]+)"\s*:\s*[0-9.]+""".r.findAllMatchIn(txt).map(_.group(1)).toSet
    assert(pinned == Bench.sentinelNames.toSet,
      s"sentinel pins ${pinned.toSeq.sorted} != battery ${Bench.sentinelNames.sorted}")
  }

  test("BASELINE.md pin table stays in lockstep with bench_baseline.json") {
    // the enforced pins live in the json resource; the md table is the
    // human-audited record of the same numbers. Round 15's review found the
    // table six entries stale — a reader auditing a tripwire ratio for
    // those queries found no documented pin while the table read as
    // complete. Parse both and require identical key sets (tests run with
    // cwd = repo root, where BASELINE.md lives).
    val md = new java.io.File("BASELINE.md")
    assume(md.exists(), "BASELINE.md not present (non-repo checkout)")
    val tableKeys = scala.io.Source.fromFile(md, "UTF-8").getLines()
      .flatMap("""^\| ([a-z0-9_]+) \| [0-9.]+ \|$""".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    val in = getClass.getResourceAsStream("/graft/bench_baseline.json")
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val jsonKeys = """"([a-z0-9_]+)"\s*:""".r.findAllMatchIn(txt).map(_.group(1)).toSet
    assert(jsonKeys -- tableKeys == Set.empty,
      s"pins missing from the BASELINE.md table: ${(jsonKeys -- tableKeys).toSeq.sorted}")
    assert(tableKeys -- jsonKeys == Set.empty,
      s"stale BASELINE.md table rows: ${(tableKeys -- jsonKeys).toSeq.sorted}")
  }

  test("BASELINE.md pin-table total row equals the sum of its pin rows") {
    // the doc claims the total row is the arithmetic sum of the pin rows;
    // round-17 advice found it 8 s stale after the c11/c12 pins landed —
    // the key-set lockstep above can't see a drifted TOTAL, so check the
    // arithmetic too (±0.01 s for the 4-decimal rounding of ~200 addends)
    val md = new java.io.File("BASELINE.md")
    assume(md.exists(), "BASELINE.md not present (non-repo checkout)")
    val lines = scala.io.Source.fromFile(md, "UTF-8").getLines().toSeq
    val rowSum = lines
      .flatMap("""^\| ([a-z0-9_]+) \| ([0-9.]+) \|$""".r.findFirstMatchIn(_))
      .map(_.group(2).toDouble).sum
    val total = lines
      .flatMap("""^\| \*\*total\*\* \| \*\*([0-9.]+)\*\* \|$""".r.findFirstMatchIn(_))
      .headOption.map(_.group(1).toDouble)
    assert(total.isDefined, "no **total** row found in the BASELINE.md pin table")
    assert(math.abs(total.get - rowSum) < 0.01,
      f"BASELINE.md total row ${total.get}%.4f != pin-row sum $rowSum%.4f — " +
        "update the total when adding/re-minting pins")
  }

  /** Every Scala file under `src/main`: (file name, text). */
  private def mainSources(): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    assume(java.nio.file.Files.isDirectory(root), "src/main not present (non-repo checkout)")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally walk.close()
    files.filter(_.toString.endsWith(".scala")).map(p =>
      p.getFileName.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  /** `text` without its `/* */` and `//` comments. */
  private def code(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("checkpoints are taken and released only through Materialize") {
    // a direct checkpoint call bypasses spark.graft.materialize.mode and
    // the release contract, so only Materialize.scala may hold one
    val calls = Seq(".localCheckpoint(", ".checkpoint(", "Checkpoints.")
    val offenders = mainSources()
      .filter(_._1 != "Materialize.scala")
      .flatMap { case (f, text) => calls.filter(text.contains).map(c => s"$f: $c") }
    assert(offenders.isEmpty, s"checkpoint calls outside Materialize: ${offenders.mkString("; ")}")
  }

  test("checkpoints are released by scope, explicitly only in Bpe and Centrality") {
    // a hand-placed release cannot reach an operator's internal checkpoint;
    // Materialize.scoped does. Explicit release is left for a loop freeing
    // superseded rounds and a function returning its own checkpoint.
    val offenders = mainSources()
      .filter { case (_, text) => code(text).contains("Materialize.release") }
      .map(_._1).toSet -- Set("Bpe.scala", "Centrality.scala")
    assert(offenders.isEmpty, s"explicit Materialize.release in: ${offenders.mkString(", ")}")
  }

  test("every streaming sink starts through the one drain") {
    // (file, whether the call sits in the body of a `def drain`)
    val sites = mainSources().flatMap { case (f, text) =>
      val c = code(text)
      """\.foreachBatch\b""".r.findAllMatchIn(c).map { m =>
        val drain = c.lastIndexOf("def drain(", m.start)
        f -> (drain >= 0 && c.indexOf("def ", drain + 1) > m.start)
      }
    }
    assert(sites == Seq("StreamingPipeline.scala" -> true), s"foreachBatch calls: $sites")
  }

  test("committed-batch marker paths are built only by CommittedBatches") {
    val outside = mainSources().map { case (f, text) =>
      val c = code(text)
      f -> (if (f == "VersionedDir.scala") c.take(c.indexOf("object CommittedBatches")) else c)
    }.collect { case (f, c) if c.contains("_committed") => f }
    assert(outside.isEmpty,
      s"_committed paths built outside CommittedBatches in: ${outside.mkString(", ")}")
  }

  test("registry hygiene: intra-registry duplicate keys fail at construction") {
    // the cross-registry check above cannot see a key duplicated WITHIN one
    // Map literal — Scala dedupes it (last entry wins) before any spec runs,
    // which is exactly how the stale pk1 registration shadowed the scalable
    // packSequences form for five rounds. All six registries now build via
    // Registry.uniqueMap; prove it rejects a duplicate and accepts the real
    // registries (touched via .size so a lazy-val require would fire here).
    val e = intercept[IllegalArgumentException] {
      queries.Registry.uniqueMap[Int]("test")("a" -> 1, "b" -> 2, "a" -> 3)
    }
    assert(e.getMessage.contains("duplicate registry keys"))
    assert(e.getMessage.contains("a"))
    assert(queries.Registry.uniqueMap[Int]("test")("a" -> 1, "b" -> 2).size == 2)
    assert(queries.ParityQueries.queries.size == queries.ParityQueries.queries.keySet.size)
    assert(SparkEntry.queries.nonEmpty && SparkEntry.oracleSql.nonEmpty)
  }

  test("split is a partition and explode cardinality = Σ failed checks") {
    for (rows <- batches(8)) {
      val df = rows.toDF("email", "Fecha envio", "Fecha open", "Fecha click")
      val flagged = Validate.withValidityFlags(df).cache()
      try {
        val (ok, err) = Validate.split(flagged)
        assert(ok.count() + err.count() == flagged.count())

        // expected failures computed independently on the driver
        val expectedFailures = rows.map { case (e, d1, d2, d3) =>
          val emailOk = e != null && e.trim.nonEmpty &&
            e.trim.matches(operators.Layout.emailRegex)
          val dateFails = Seq(d1, d2, d3).count(d =>
            !(d == null || (d.trim.nonEmpty && d.trim.matches(operators.Layout.dateRegex))))
          (if (emailOk) 0 else 1) + dateFails
        }.sum
        assert(Prepare.explodeErrors(err).count() == expectedFailures)
      } finally flagged.unpersist()
    }
  }

  test("A1 conservation: sum(visitasTotales) = valid row count") {
    for (rows <- batches(4)) {
      val df = rows.toDF("email", "Fecha envio", "Fecha open", "Fecha click")
      val (ok, _) = Validate.split(Validate.withValidityFlags(df))
      val okTyped = ok.withColumn("fechaEnvio",
        to_timestamp(col("`Fecha envio`"), operators.Layout.datePattern))
      val vis = Prepare.visitantes(okTyped)
      val total = vis.agg(coalesce(sum("visitasTotales"), lit(0L))).head().getLong(0)
      assert(total == ok.count())
    }
  }

  test("a5/md1 domain guard: exact-percentile column has a bounded distinct domain") {
    // Exact percentile/median/mode buffer a value->count map per group, so
    // their memory scales with DISTINCT values per group, not rows. The
    // queries that use them (a5_percentiles, md1_mode_median) point at
    // l_quantity on that argument — assert the testdata actually honors it,
    // so a future re-target to an unbounded-domain column (price, float
    // measure) trips this spec instead of an executor OOM at scale.
    val distinctPerGroup = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_quantity")).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(distinctPerGroup <= 64,
      s"l_quantity domain grew to $distinctPerGroup distinct values per group — " +
        "exact percentile queries (a5, md1) assume a bounded domain; " +
        "use the a5b approx sketch for unbounded columns")
  }
}
