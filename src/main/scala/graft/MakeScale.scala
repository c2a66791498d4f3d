package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scaled-testdata builder for the SURVEY §6.2 full-surface scale
  * probe: upscales a testdata dir by an integer factor with JOIN INTEGRITY
  * and WITHOUT injecting artificial near-duplicates (the trap the §6.1
  * ladder documents — naive row copies make every dedup/similarity operator
  * measure the injected duplication instead of corpus-size scaling).
  *
  *  - fact/dim keys shift by copy * 10^8 per copy, so each copy is a
  *    self-consistent universe joining to the same fixed region/nation dims
  *    (which don't scale in TPC-H either);
  *  - document copies salt every 5th token with a copy-unique token (the
  *    SURVEY.md §6.1 scheme behind BENCH_sf1_probe*.json) and recompute
  *    n_chars, so no copy is a near-duplicate of its original under token/shingle/length metrics;
  *  - embedding copies circularly rotate the vector by `copy` positions —
  *    norm-preserving, decorrelates copies, no new near-dup pairs.
  *
  * Usage: `sbt "runMain graft.MakeScale /root/testdata/sf0.1 /tmp/sf1 10"`.
  * Writes ONLY to the destination dir (testdata stays read-only).
  */
object MakeScale {
  private val Stride = 100000000L // > any key in the source at probe scales

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: MakeScale <srcDir> <dstDir> <factor>")
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[makescale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def copies(df: DataFrame) =
      df.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
    def shift(c: String): Column = (col(c) + col("copy") * Stride).as(c)

    // fixed dims — bounded-cardinality reference tables
    for (t <- Seq("region", "nation")) wr(rd(t), t)

    wr(copies(rd("customer")).select(shift("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    wr(copies(rd("supplier")).select(shift("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier")
    wr(copies(rd("part")).select(shift("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")), "part")
    wr(copies(rd("orders")).select(shift("o_orderkey"), shift("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")
    wr(copies(rd("lineitem")).select(shift("l_orderkey"), shift("l_partkey"),
      shift("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")), "lineitem")
    // ts stays raw nanos-long (Tables.events converts on read)
    wr(copies(rd("events")).select(shift("event_id"), col("ts"),
      shift("user_id"), col("event_type"), col("value"), col("props")), "events")

    // documents: copy-unique salt token every 5th position (§6.1 scheme) so
    // copies are NOT near-duplicates; n_chars recomputed over the new text.
    val docs = copies(rd("documents")).select(
      (col("doc_id") + col("copy") * Stride).as("doc_id"),
      when(col("copy") === 0, col("text")).otherwise(
        array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(1), size(split(col("text"), " "))),
            (tok, i) => when(pmod(i, lit(5)) === 0,
              concat(lit("w"), col("copy"), lit("x"), i)).otherwise(tok)),
          " ")).as("text"),
      col("lang"), col("source"), col("copy"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    wr(docs, "documents")

    // embeddings: circular rotation by `copy` positions — norm-preserving
    // decorrelation, so cosine near-dup counts scale with corpus size, not
    // with injected self-similarity.
    val emb = copies(rd("embeddings")).select(
      (col("vec_id") + col("copy") * Stride).as("vec_id"),
      when(col("copy") === 0, col("embedding")).otherwise(
        concat(
          slice(col("embedding"), col("copy") + 1,
            size(col("embedding")) - col("copy")),
          slice(col("embedding"), lit(1), col("copy")))).as("embedding"),
      col("label"))
    wr(emb, "embeddings")
    spark.stop()
  }
}
