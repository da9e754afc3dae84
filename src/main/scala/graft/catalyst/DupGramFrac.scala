package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `dup_gram_frac_e6(text, n)` — fraction of a document's word n-grams that
  * duplicate an earlier n-gram, in micro-units: the Gopher/MassiveText
  * repetition signal, one compiled pass per row.
  *
  * Exactly equivalent to the builtin-HOF form (the spec's
  * `repetitionProfileBuiltin`): tokens = `split(trim(text),
  * ' ')` semantics (single-space separator, empty tokens preserved, trim
  * strips ' ' only, empty trimmed text → one empty token), grams joined with
  * a single space, `round((1 - distinct/total) * 1e6)` as a long, and 0 when
  * the document has fewer than n tokens.
  *
  * Why a custom Expression: the HOF chain (`transform(sequence(...)) →
  * slice → concat_ws → array_distinct`) is interpreted, and materializes
  * every gram string twice per row. Tokens are space-free, so the join of n
  * tokens with a space separator is a bijection from token sequences to gram
  * strings — distinct-counting token-id windows gives the identical answer
  * with zero gram allocation. Token ids are interned per row; windows pack
  * into one long (n·ceil(log2 vocab) ≤ 63 covers any real document) and are
  * counted in an open-addressed long set; the unbounded-vocabulary overflow
  * path falls back to a string set, still one pass. */
case class DupGramFracE6(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"dup_gram_frac_e6 n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dup_gram_frac_e6 requires a string column, got ${other.simpleString}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "dup_gram_frac_e6"

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    var st = 0
    var en = raw.length
    while (st < en && raw.charAt(st) == ' ') st += 1
    while (en > st && raw.charAt(en - 1) == ' ') en -= 1
    // tokenize to interned ids — split on every single space, empties kept
    // (matches split(trim(text), ' ') including its [""] result on empty)
    val vocab = new java.util.HashMap[String, Integer]()
    var ids = new Array[Int](math.max(8, (en - st) / 4))
    var m = 0
    var tokStart = st
    var i = st
    while (i <= en) {
      if (i == en || raw.charAt(i) == ' ') {
        val tok = raw.substring(tokStart, i)
        var id = vocab.get(tok)
        if (id == null) { id = Integer.valueOf(vocab.size); vocab.put(tok, id) }
        if (m == ids.length) ids = java.util.Arrays.copyOf(ids, m * 2)
        ids(m) = id.intValue(); m += 1
        tokStart = i + 1
      }
      i += 1
    }
    if (m < n) return 0L
    val total = m - n + 1
    val vocabSize = vocab.size
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(vocabSize - 1, 1)))
    // the packed path's power-of-two table needs cap >= 2·total to stay an
    // Int; past 2^29 windows (a ~4 GiB single document) the string-set path
    // is the safe one — `cap < total * 2` would overflow Int and leave an
    // undersized table whose linear probe never terminates
    val distinct =
      if (n.toLong * bits <= 63 && total <= (1 << 29)) distinctPacked(ids, m, bits)
      else distinctJoined(ids, m, vocab)
    Math.round((1.0 - distinct.toDouble / total.toDouble) * 1e6)
  }

  /** Distinct n-windows with each window packed into one non-negative long. */
  private def distinctPacked(ids: Array[Int], m: Int, bits: Int): Int = {
    val total = m - n + 1
    val mask = (1L << (n * bits)) - 1L
    // total <= 2^29 (guarded by the caller), so cap <= 2^30 fits an Int;
    // the long compare keeps the loop safe even if that guard moves
    var cap = 8
    while (cap.toLong < total.toLong * 2) cap <<= 1
    val table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    val capMask = cap - 1
    var distinct = 0
    var v = 0L
    var i = 0
    while (i < m) {
      v = ((v << bits) | ids(i).toLong) & mask
      if (i >= n - 1) {
        var slot = ((v * 0x9E3779B97F4A7C15L) >>> 33).toInt & capMask
        while (table(slot) != -1L && table(slot) != v) slot = (slot + 1) & capMask
        if (table(slot) == -1L) { table(slot) = v; distinct += 1 }
      }
      i += 1
    }
    distinct
  }

  /** Overflow path (n·bits > 63 — a vocabulary in the millions within one
    * document): distinct gram strings rebuilt from the interned tokens. */
  private def distinctJoined(ids: Array[Int], m: Int,
      vocab: java.util.HashMap[String, Integer]): Int = {
    val toks = new Array[String](vocab.size)
    vocab.forEach((t, id) => toks(id.intValue()) = t)
    val seen = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= m - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(ids(i + j)))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.size
  }

  override protected def withNewChildInternal(newChild: Expression): DupGramFracE6 =
    copy(child = newChild)
}
