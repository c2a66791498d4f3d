package graft

/** The SQL surface [[GraftExtensions]] registers: every function's name,
  * arity check and INT-literal guard, with their error texts.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** The messages of the failure (and its causes) analysing `SELECT call`. */
  private def failure(call: String): String = {
    val e = intercept[Throwable](spark.sql(s"SELECT $call").collect())
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
  }

  test("registered functions keep their names, arity checks and INT-literal guards") {
    val expected = Seq(
      "dot_f32(1)" -> "dot_f32 requires exactly 2 arguments, got 1",
      "lev_bounded('a', 'b')" -> "lev_bounded requires exactly 3 arguments, got 2",
      "topk_struct(1)" -> "topk_struct requires exactly 3 arguments (key, payload, k), got 1",
      "mg_sketch(1)" -> "mg_sketch requires exactly 2 arguments (item, k), got 1",
      "pq_encode(1)" -> "pq_encode requires 4 arguments (emb, books, m, ksub), got 1",
      "pq_tables(1)" -> "pq_tables requires 4 arguments (emb, books, m, ksub), got 1",
      "pq_adc_score(1)" -> "pq_adc_score requires 2 arguments (codes, tables), got 1",
      "bloom_might_contain(1)" ->
        "bloom_might_contain requires 2 arguments (value, filterBytes), got 1",
      "lev_bounded('a', 'b', 1L)" -> "lev_bounded threshold must be an INT literal, got 1",
      "topk_struct(1, 2, 'k')" -> "topk_struct k must be an INT literal, got k",
      "mg_sketch(1, 2L)" -> "mg_sketch k must be an INT literal, got 2",
      "pq_encode(1, 2, 3L, 4)" -> "pq_encode m must be an INT literal, got 3",
      "pq_encode(1, 2, 3, 4L)" -> "pq_encode ksub must be an INT literal, got 4",
      "pq_tables(1, 2, 3L, 4)" -> "pq_tables m must be an INT literal, got 3",
      "pq_tables(1, 2, 3, 4L)" -> "pq_tables ksub must be an INT literal, got 4")
    expected.foreach { case (call, msg) =>
      val got = failure(call)
      assert(got.contains(msg), s"$call: $got")
    }
  }
}
