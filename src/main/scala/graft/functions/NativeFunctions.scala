package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one registry of graft's native SQL functions. Each `(name, builder)`
  * entry is declared beside its expression (the `functions` list of every
  * `*Expressions` object and [[BloomFunctions]]); [[graft.GraftExtensions]]
  * injects them all once per session, so DataFrame callers
  * (`call_function`) and plain SQL see the same functions with no per-call
  * registration. */
object NativeFunctions {
  type Builder = Seq[Expression] => Expression

  val all: Seq[(String, Builder)] = Seq(
    HashExpressions.functions, VectorExpressions.functions,
    BloomFunctions.functions, UrlExpressions.functions,
    BpeExpressions.functions, WordPieceExpressions.functions,
    UnigramExpressions.functions, AffineExpressions.functions,
    RepetitionExpressions.functions, SpanExpressions.functions,
    CompressExpressions.functions, AcExpressions.functions).flatten

  /** The analysis error a builder raises for a malformed call. */
  def userError(msg: String): AnalysisException =
    new AnalysisException("USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  /** The integer arguments at positions `at` of a builder's `exprs` (which
    * must number exactly `arity`). Their values are folded into generated
    * code, so each must be a foldable non-null integer literal — guarded
    * BEFORE eval() so a SQL caller passing a column or NULL gets an
    * analysis error naming the requirement instead of an opaque
    * NPE/ClassCastException at plan time. `subject` opens every message,
    * e.g. `"shingle_hashes(text, w): width argument"`. */
  def intLiterals(exprs: Seq[Expression], arity: Int, subject: String,
      at: Int*): Seq[Int] = {
    val one = at.length == 1
    def bad(what: String) = userError(s"$subject must be $what")
    if (exprs.length != arity)
      throw bad(s"present (exactly $arity arguments)")
    at.map { i =>
      if (!exprs(i).foldable)
        throw bad(if (one) "a foldable integer literal"
          else "foldable integer literals")
      val v = exprs(i).eval()
      if (v == null) throw bad("non-null")
      if (!v.isInstanceOf[Number]) throw bad(if (one) "an integer" else "integers")
      v.asInstanceOf[Number].intValue()
    }
  }
}
