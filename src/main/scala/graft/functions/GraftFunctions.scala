package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** graft's native Catalyst expressions.
  *
  * Two paths to the same registry entry:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *    build time (the idiomatic plugin route), or
  *  - [[graft.core.Session.install]] on a live session (used by every
  *    session graft builds or adopts).
  * Callers then use `call_function("graft_dot", a, b)` / SQL `graft_dot()`.
  */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (children: Seq[Expression]) => TopKAgg(children.head, children(1), children(2))),
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "graft_zorder"),
      (children: Seq[Expression]) => ZOrderKey(children.head, children(1))),
    (FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvAgg].getName, "graft_kmv"),
      (children: Seq[Expression]) => KmvAgg(children.head, children(1))),
    (FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CmsAgg].getName, "graft_cms"),
      (children: Seq[Expression]) => CmsAgg(children.head, children(1), children(2))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "graft_minhash"),
      (cs: Seq[Expression]) =>
        MinhashSigs(cs.head, litInt(cs(1), "shingleN"), litInt(cs(2), "numPerm"))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[Simhash].getName, "graft_simhash"),
      (cs: Seq[Expression]) => Simhash(cs.head, litInt(cs(1), "bits"))),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (cs: Seq[Expression]) => Shingles(cs.head, litInt(cs(1), "n"))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (cs: Seq[Expression]) => ShingleHashes(cs.head, litInt(cs(1), "n"))),
    (FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(classOf[CharEntropyMicro].getName, "graft_char_entropy"),
      (cs: Seq[Expression]) => CharEntropyMicro(cs.head)),
    (FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom"),
      (cs: Seq[Expression]) => BloomAgg(cs.head, cs(1), cs(2))),
    (FunctionIdentifier("graft_unaccent"),
      new ExpressionInfo(classOf[UnaccentExpr].getName, "graft_unaccent"),
      (cs: Seq[Expression]) => UnaccentExpr(cs.head)),
    (FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(classOf[BloomProbe].getName, "graft_bloom_probe"),
      (cs: Seq[Expression]) => BloomProbe(cs.head, cs(1), litInt(cs(2), "k"))),
    (FunctionIdentifier("graft_ngram_explode"),
      new ExpressionInfo(classOf[NGramExplode].getName, "graft_ngram_explode"),
      (cs: Seq[Expression]) => NGramExplode(cs.head, litInt(cs(1), "n"))))

  /** Static int parameters arrive as foldable literals (`lit(8)`). */
  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }
}

/** `spark.sql.extensions` entry point: the same functions, strategies and
  * optimizer rules [[graft.core.Session.install]] puts on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.core.Session.inject(ext)
}
