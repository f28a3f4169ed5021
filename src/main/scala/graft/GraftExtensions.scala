package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{CosineSim, DotProduct, KarpRabinHashes, NfcNormalize, RelevantTitle,
  SortedIntersectCount, SquaredL2, WindowMinima}
import graft.operators.TextAnalysis

/** Session extensions registering graft's native Catalyst expressions
  * (SURVEY.md §7.3 — custom `Expression`s as the perf upgrade path).
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * on the session builder; the functions then resolve by name through the
  * registry (SQL `relevant_title(...)` or `call_function`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** One row per native function: (signature, arity, expression class,
    * constructor). The registered name is the signature up to its `(`; the
    * signature also heads the arity error.
    */
  private val functions: Seq[(String, Int, Class[_], Seq[Expression] => Expression)] = Seq(
    ("relevant_title(title, long_name, ticker)", 3, classOf[RelevantTitle],
      a => RelevantTitle(a(0), a(1), a(2))),
    ("sorted_intersect_count(a, b)", 2, classOf[SortedIntersectCount],
      a => SortedIntersectCount(a(0), a(1))),
    ("dot_product(a, b)", 2, classOf[DotProduct], a => DotProduct(a(0), a(1))),
    ("cosine_sim(a, b)", 2, classOf[CosineSim], a => CosineSim(a(0), a(1))),
    ("squared_l2(a, b)", 2, classOf[SquaredL2], a => SquaredL2(a(0), a(1))),
    ("nfc_normalize(s)", 1, classOf[NfcNormalize], a => NfcNormalize(a(0))),
    ("karp_rabin_hashes(text, k)", 2, classOf[KarpRabinHashes],
      a => KarpRabinHashes(a(0), literalInt(a(1), "karp_rabin_hashes: k"),
        TextAnalysis.WinnowBase, TextAnalysis.WinnowMod)),
    ("window_minima(hashes, w)", 2, classOf[WindowMinima],
      a => WindowMinima(a(0), literalInt(a(1), "window_minima: w"))))

  private def literalInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((sig, arity, cls, build) <- functions) {
      val name = sig.takeWhile(_ != '(')
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == arity,
            s"$sig takes $arity argument${if (arity == 1) "" else "s"}, got ${args.length}")
          build(args)
        }))
    }
    // Whole-operator extension (SURVEY.md §7.3 option c): the native
    // as-of join's planner strategy + the optimizer rule restoring
    // predicate pushdown through the custom logical node.
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => new graft.plans.PushFilterThroughAsOfJoin)
  }
}
