package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_token_count(text)` — the number of BPE-style pre-tokenization
  * matches of the pattern
  * (`'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+`)
  * as ONE compiled character scan, replacing `regexp_count` on the hot
  * token-budgeting path (q48): the alternation is regular enough that a
  * hand scan with the engine's leftmost-first alternative preference is
  * exact, and it skips the regex engine's per-position backtracking
  * machinery entirely.
  *
  * Match rules at position i, in the pattern's alternative order (both
  * java.util.regex and RE2 resolve `|` leftmost-first here, which is why
  * the DuckDB oracle agrees with the builtin form):
  *   1. `'` followed by a contraction suffix s|t|re|ve|m|ll|d (single
  *      letters first, then the two-letter suffixes, mirroring the
  *      pattern's order — the scan tries the longest consistent suffix the
  *      alternation would pick);
  *   2. optional single space, then 1+ ASCII letters;
  *   3. optional single space, then 1+ ASCII digits;
  *   4. optional single space, then 1+ chars that are none of ASCII
  *      letter/digit/space (this is what absorbs a lone `'` that starts no
  *      contraction — and any non-ASCII character).
  * No alternative matching (a space before a space, or a trailing space)
  * advances the scan by one character, exactly like the regex engine's
  * bump-along. Scanning is over UTF-16 code units, matching Java's regex
  * input model; the ASCII classes make surrogate handling irrelevant.
  *
  * Null text → null; empty text → 0. Spec-asserted equal to the
  * `regexp_count` form on edge inputs and on the documents corpus. */
case class BpeTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_token_count requires a string column, got ${other.simpleString}")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "bpe_token_count"

  private def isLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def isPunct(c: Char): Boolean =
    c != ' ' && !isLetter(c) && !isDigit(c)

  /** Length of the contraction-suffix match starting AT the apostrophe, or
    * 0. Alternation order 's','t','re','ve','m','ll','d': a single-letter
    * suffix wins over a two-letter one starting with the same char ('s'
    * beats nothing here since no two-letter suffix starts with s or t; 'm'
    * is tried before 'll' but they can't collide; order still mirrored for
    * fidelity). */
  private def contractionLen(s: String, i: Int, n: Int): Int = {
    if (i + 1 >= n) return 0
    s.charAt(i + 1) match {
      case 's' | 't' | 'm' | 'd' => 2
      case 'r' => if (i + 2 < n && s.charAt(i + 2) == 'e') 3 else 0
      case 'v' => if (i + 2 < n && s.charAt(i + 2) == 'e') 3 else 0
      case 'l' => if (i + 2 < n && s.charAt(i + 2) == 'l') 3 else 0
      case _ => 0
    }
  }

  def compute(input: UTF8String): Int = {
    val s = input.toString
    val n = s.length
    var i = 0
    var count = 0
    while (i < n) {
      val c = s.charAt(i)
      var matched = 0
      if (c == '\'') matched = contractionLen(s, i, n)
      if (matched == 0) {
        // optional leading space shared by alternatives 2-4
        val j = if (c == ' ' && i + 1 < n) i + 1 else i
        val d = s.charAt(if (j < n) j else i)
        if (isLetter(d)) {
          var k = j
          while (k < n && isLetter(s.charAt(k))) k += 1
          matched = k - i
        } else if (isDigit(d)) {
          var k = j
          while (k < n && isDigit(s.charAt(k))) k += 1
          matched = k - i
        } else if (j > i && isPunct(d)) {
          // space-prefixed punct run (j > i means c was the space)
          var k = j
          while (k < n && isPunct(s.charAt(k))) k += 1
          matched = k - i
        } else if (c != ' ' && isPunct(c)) {
          var k = i
          while (k < n && isPunct(s.charAt(k))) k += 1
          matched = k - i
        }
      }
      if (matched > 0) { count += 1; i += matched }
      else i += 1 // bump-along: no alternative matched at this position
    }
    count
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTokenCount", this,
      classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}
