package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{toColumn, toExpr}

/** Text-analysis building blocks for the training-data pipeline
  * operators (SURVEY §2 D8-D11), each with an exact DuckDB
  * counterpart used by the oracles.
  *
  * The hot path is [[TokenStats]]: higher-order functions
  * (`filter`/`transform`/`aggregate`) evaluate their lambdas
  * INTERPRETED per element, so the old formulation made 4-6 boxed
  * passes over every token array per row — the engine's worst
  * interpreted loop (`git show 6c9821a:SURVEY.md` §8.4). TokenStats
  * is one codegen'd pass producing every per-token statistic the text
  * operators consume (token count, stopword counts, BPE-ish piece
  * count); `lang_id`, `quality_score` and `token_count` all read its
  * struct fields.
  */
object TextFunctions {

  /** Whitespace tokens (keeps empties, same as DuckDB string_split). */
  def tokens(text: Column): Column = split(text, " ")

  private val TokThe = UTF8String.fromString("the")
  private val TokA = UTF8String.fromString("a")
  private val TokData = UTF8String.fromString("data")
  private val TokJoin = UTF8String.fromString("join")

  /** One-pass kernel (also called from generated code): token count,
    * per-stopword counts, BPE-ish piece sum `Σ ⌈len/4⌉`. */
  def tokenStatsKernel(arr: ArrayData): GenericInternalRow = {
    val n = arr.numElements()
    var nThe = 0; var nA = 0; var nData = 0; var nJoin = 0; var nAlpha = 0
    var bpe = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t.equals(TokThe)) nThe += 1
      else if (t.equals(TokA)) nA += 1
      else if (t.equals(TokData)) nData += 1
      else if (t.equals(TokJoin)) nJoin += 1
      bpe += (t.numChars() + 3) / 4
      // token contains an ASCII letter (≡ rlike "[a-zA-Z]"): a byte
      // scan is exact in UTF-8 — letter bytes can't appear inside
      // multi-byte sequences (continuation bytes are ≥ 0x80)
      val bytes = t.getBytes
      var j = 0
      var hasAlpha = false
      while (j < bytes.length && !hasAlpha) {
        val b = bytes(j)
        hasAlpha = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
        j += 1
      }
      if (hasAlpha) nAlpha += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](n, nThe, nA, nData, nJoin, bpe, nAlpha))
  }

  /** All token statistics the text operators need, in ONE codegen'd
    * pass over the token array (vs 4-6 interpreted HOF passes). */
  case class TokenStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tok", IntegerType, nullable = false),
      StructField("n_the", IntegerType, nullable = false),
      StructField("n_a", IntegerType, nullable = false),
      StructField("n_data", IntegerType, nullable = false),
      StructField("n_join", IntegerType, nullable = false),
      StructField("n_bpe", LongType, nullable = false),
      StructField("n_alpha", IntegerType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): TokenStats = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      tokenStatsKernel(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextFunctions.tokenStatsKernel($c);")
  }

  def tokenStats(toks: Column): Column = toColumn(TokenStats(toExpr(toks)))

  /** Distinct word 3-gram shingles, `w_i '_' w_i+1 '_' w_i+2`.
    * 1-based positions mirror DuckDB list indexing so the oracle SQL is
    * a literal transliteration. */
  def shingles3(toks: Column): Column =
    when(size(toks) >= lit(3),
      array_distinct(
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws("_", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Exact Jaccard similarity of two distinct-element arrays, computed
    * as |∩| / (|a|+|b|-|∩|) in double — integer-derived, so
    * bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("double")
    i / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  /** Heuristic language ID from a [[TokenStats]] struct (deterministic
    * integer cross-multiplications; SURVEY §2 D8). */
  def langIdFromStats(st: Column): Column = {
    val n = st.getField("n_tok")
    when(st.getField("n_the") * 12 >= n, "en")
      .when(st.getField("n_a") * 12 >= n, "fr")
      .when(st.getField("n_data") * 15 >= n, "de")
      .when(st.getField("n_join") * 15 >= n, "es")
      .otherwise("zh")
  }

  /** Heuristic language ID over a token array — one TokenStats pass
    * (codegen'd subexpression elimination dedupes the field reads). */
  def langId(toks: Column): Column = langIdFromStats(tokenStats(toks))

  /** Composite quality score in [0,1] from pre-computed counts:
    * length, stopword ratio, mean word length (SURVEY §2 D9). Fixed
    * evaluation order for reproducibility — term order and float ops
    * must not change (oracle hash-matches). */
  def qualityFromCounts(nTok: Column, nStop: Column, nChars: Column): Column = {
    // score = 0.4·min(n_tok,300)/300 + 0.3·(1 − n_stop/n_tok)
    //       + 0.3·min(mean_word_len, 8)/8, restated as ONE ratio of
    // exact integers over common denominator 6000·n_tok. A single
    // correctly-rounded IEEE division is bit-identical in every
    // engine; the old round(…, 6) of a composite double disagreed
    // with DuckDB's float rounding when a value straddled a 6-decimal
    // boundary (3 of 5000 docs at sf0.1 — caught by the sf0.1 oracle
    // sweep, invisible at the sf0.01 gate).
    val t = nTok.cast("long"); val s = nStop.cast("long"); val c = nChars.cast("long")
    val m = least(c - t + 1, t * 8) // min(meanWl, 8) · n_tok, exact
    val num = t * least(t, lit(300L)) * 8 + (t - s) * 1800 + m * 225
    num.cast("double") / (t * 6000).cast("double")
  }

  /** One-pass repetition kernel (also called from generated code):
    * token count, distinct-token count, max single-token frequency,
    * distinct adjacent-bigram count. Per-row maps only — the operator
    * built on this is entirely map-side, no shuffle. Bigram identity
    * is the literal `"tok_i tok_{i+1}"` string (tokens are
    * space-split, so the separator is unambiguous), matching the
    * DuckDB oracle's list semantics exactly. */
  def repStatsKernel(arr: ArrayData): GenericInternalRow = {
    val n = arr.numElements()
    val freq = new java.util.HashMap[UTF8String, Int](n * 2)
    var top = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val c = freq.merge(t, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    val bigrams = new java.util.HashSet[String](if (n > 1) (n - 1) * 2 else 4)
    i = 0
    while (i < n - 1) {
      bigrams.add(arr.getUTF8String(i).toString + " " + arr.getUTF8String(i + 1).toString)
      i += 1
    }
    new GenericInternalRow(Array[Any](n, freq.size(), top, bigrams.size()))
  }

  /** Kernel for [[DistinctBigrams]] (also called from generated code):
    * first-occurrence-distinct adjacent bigrams `"tok_i tok_{i+1}"`.
    * Built directly on UTF8String bytes — no java.lang.String
    * round-trips in the hot path. */
  def bigramsKernel(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String]((n - 1) * 2)
    var i = 0
    while (i < n - 1) {
      seen.add(UTF8String.concat(arr.getUTF8String(i), Space, arr.getUTF8String(i + 1)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  private val Space = UTF8String.fromString(" ")

  /** Distinct adjacent word bigrams in ONE codegen'd pass — the
    * native replacement for `array_distinct(transform(sequence(...),
    * concat_ws(element_at, element_at)))`, whose lambdas evaluate
    * interpreted per element (and re-evaluate the `split` per
    * `element_at` when subexpression elimination doesn't reach inside
    * the lambda) — measured ~50× slower than this kernel on the
    * bench corpus. */
  case class DistinctBigrams(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): DistinctBigrams = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      bigramsKernel(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextFunctions.bigramsKernel($c);")
  }

  def distinctBigrams(toks: Column): Column = toColumn(DistinctBigrams(toExpr(toks)))

  /** Within-document repetition statistics in ONE codegen'd pass
    * (SURVEY §2 D16) — the Gopher-style repetition signals (duplicate
    * token fraction, dominant-token fraction, duplicate-bigram
    * fraction) all derive from this struct with integer-exact
    * arithmetic. */
  case class RepStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tok", IntegerType, nullable = false),
      StructField("n_uniq", IntegerType, nullable = false),
      StructField("top_n", IntegerType, nullable = false),
      StructField("n_uniq_bi", IntegerType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def withNewChildInternal(c: Expression): RepStats = copy(child = c)

    override def nullSafeEval(v: Any): Any =
      repStatsKernel(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextFunctions.repStatsKernel($c);")
  }

  def repStats(toks: Column): Column = toColumn(RepStats(toExpr(toks)))
}
