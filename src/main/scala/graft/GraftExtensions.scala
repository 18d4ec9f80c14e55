package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharClassCounts, DamerauLevenshtein, JaroWinkler, MinHashBands, MisraGries, PolyHash, RollingFingerprint, SimHash64, TokenCount, TokenCountRewrite, TokenCountsStrategy, VectorDot, WhitespaceTokens, WinnowFingerprint}

/** Spark extension point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) registers every graft native
  * expression as a SQL function, so `spark.sql` users and higher-order-
  * function lambdas get them without touching the Scala API — the idiomatic
  * deployment route for custom Catalyst expressions on a shared cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_], builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** Evaluate a parameter that must be an integer literal (any integral
    * width), with a clear analysis-time error instead of a raw
    * ClassCastException on BIGINT literals or eval() failure on columns.
    */
  private def intLiteral(fun: String, param: String, e: Expression): Int = {
    require(e.foldable, s"$fun: $param must be an integer literal, got ${e.sql}")
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte => b.intValue()
      case other => throw new IllegalArgumentException(
        s"$fun: $param must be an integer literal, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_poly_hash", classOf[PolyHash],
      exprs => PolyHash(exprs.head)))
    ext.injectFunction(fn("graft_tokens", classOf[WhitespaceTokens],
      exprs => WhitespaceTokens(exprs.head)))
    ext.injectFunction(fn("graft_rolling_fp", classOf[RollingFingerprint],
      exprs => RollingFingerprint(exprs.head)))
    ext.injectFunction(fn("graft_winnow_fp", classOf[WinnowFingerprint],
      exprs => WinnowFingerprint(exprs.head)))
    ext.injectFunction(fn("graft_vector_dot", classOf[VectorDot],
      exprs => VectorDot(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_simhash64", classOf[SimHash64],
      exprs => SimHash64(exprs.head)))
    ext.injectFunction(fn("graft_minhash_bands", classOf[MinHashBands],
      exprs => MinHashBands(exprs(0),
        k = intLiteral("graft_minhash_bands", "k", exprs(1)),
        bands = intLiteral("graft_minhash_bands", "bands", exprs(2)))))
    // aggregate: the analyzer wraps the bare AggregateFunction
    ext.injectFunction(fn("graft_misra_gries", classOf[MisraGries],
      exprs => MisraGries(exprs.head,
        intLiteral("graft_misra_gries", "k", exprs(1)))))
    ext.injectFunction(fn("graft_token_count", classOf[TokenCount],
      exprs => TokenCount(exprs.head)))
    ext.injectFunction(fn("graft_jaro_winkler", classOf[JaroWinkler],
      exprs => JaroWinkler(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_damerau_levenshtein", classOf[DamerauLevenshtein],
      exprs => DamerauLevenshtein(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_char_counts", classOf[CharClassCounts],
      exprs => CharClassCounts(exprs.head)))
    // optimizer rule: size(whitespacetokens(x)) -> TokenCount(x), the
    // allocation-free count (see TokenCountRewrite doc)
    ext.injectOptimizerRule(_ => TokenCountRewrite)
    // physical planning of the map-side token combiner behind
    // WordCount.wordCount (see graft.functions.TokenCounts)
    ext.injectPlannerStrategy(_ => TokenCountsStrategy)
  }
}
