package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{BloomMightContain, DotF32, LevBounded, MisraGries, PqAdcScore, PqEncode, PqTables, TopKStruct, VectorizeDotProduct}

/** Session extensions: registers the engine's native expressions and
  * optimizer rules (SparkSessionExtensions is the supported injection
  * point — activated via `spark.sql.extensions=graft.GraftExtensions` in
  * [[Sessions.tuning]], so every engine session, including
  * `spark-submit`-launched ones, gets them without code changes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((
        new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (children: Seq[Expression]) => {
          require(children.size == f.arity, s"${f.name} requires ${f.usage}, got ${children.size}")
          f.build(children)
        }))
    }
    // HOF-form dot products (user-written or Vectors.dotHof) compile down
    // to the native expression automatically.
    ext.injectOptimizerRule(_ => VectorizeDotProduct)
  }
}

object GraftExtensions {

  /** One SQL function: name, expression class, arity, the arity phrase of
    * its error message, and the builder, called with exactly `arity`
    * children.
    */
  private final case class Fn(name: String, cls: Class[_], arity: Int, usage: String,
                              build: Seq[Expression] => Expression)

  /** An argument the expression is built with (a size or threshold), which
    * must therefore be an INT literal.
    */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an INT literal, got $other")
  }

  private val functions = Seq(
    Fn("dot_f32", classOf[DotF32], 2, "exactly 2 arguments", c => DotF32(c(0), c(1))),
    Fn("lev_bounded", classOf[LevBounded], 3, "exactly 3 arguments",
      c => LevBounded(c(0), c(1), intLit(c(2), "lev_bounded threshold"))),
    Fn("topk_struct", classOf[TopKStruct], 3, "exactly 3 arguments (key, payload, k)",
      c => TopKStruct(c(0), c(1), intLit(c(2), "topk_struct k"))),
    Fn("mg_sketch", classOf[MisraGries], 2, "exactly 2 arguments (item, k)",
      c => MisraGries(c(0), intLit(c(1), "mg_sketch k"))),
    // PQ codec ([[graft.functions.PqEncode]]/[[PqTables]]): (embedding,
    // flat codebooks literal, m, ksub)
    Fn("pq_encode", classOf[PqEncode], 4, "4 arguments (emb, books, m, ksub)",
      c => PqEncode(c(0), c(1), intLit(c(2), "pq_encode m"), intLit(c(3), "pq_encode ksub"))),
    Fn("pq_tables", classOf[PqTables], 4, "4 arguments (emb, books, m, ksub)",
      c => PqTables(c(0), c(1), intLit(c(2), "pq_tables m"), intLit(c(3), "pq_tables ksub"))),
    Fn("pq_adc_score", classOf[PqAdcScore], 2, "2 arguments (codes, tables)",
      c => PqAdcScore(c(0), c(1))),
    Fn("bloom_might_contain", classOf[BloomMightContain], 2,
      "2 arguments (value, filterBytes)", c => BloomMightContain(c(0), c(1))))
}
