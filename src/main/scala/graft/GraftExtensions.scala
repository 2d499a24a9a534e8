package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — registers the engine's custom
  * Catalyst functions so they are first-class in SQL:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * SELECT doc_id, cosine_sim(embedding, query) FROM docs
  * }}}
  *
  * This is the supported extension surface (injectFunction), not a fork of
  * the session builder: the functions resolve, optimize, and codegen like
  * any built-in, and Connect/classic sessions both pick them up from the
  * conf. Quantile sketches need no registration: Spark's built-in
  * `kll_sketch_*` functions serve SQL callers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(
        classOf[graft.functions.DotProduct].getName, "dot_product",
        "dot_product(a, b) - codegen'd dot product of two array<double> " +
          "columns (strict left-to-right summation)."),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product(a, b) needs 2 arguments")
        graft.functions.DotProduct(children(0), children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(
        classOf[graft.functions.CosineSim].getName, "cosine_sim",
        "cosine_sim(a, b) - fused single-pass cosine similarity of two " +
          "array<double> columns (0.0 when either norm is zero)."),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) needs 2 arguments")
        graft.functions.CosineSim(children(0), children(1))
      }))
  }
}
