package graft.ops

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text primitives for the tokenize/shingle hot path. The HOF
  * forms (`filter(split(...))`, `transform(sequence(...), i -> ...)`)
  * evaluate an interpreted lambda per ELEMENT — and tokenization/
  * shingling is the innermost loop of every text-curation operator
  * (dedup signatures, n-gram stats, LM scoring), exactly the per-row
  * heavy compute the scale rules route through compiled code. Each of
  * these runs ONE compiled scan per row and stays inside whole-stage
  * codegen (same design as [[VectorExprs]]).
  *
  * Semantics are BIT-IDENTICAL to the HOF forms the DuckDB oracles
  * were generated against (pinned by `TextPropertySpec`):
  *  - [[WsTokens]] ≡ `filter(split(s, "\\s+"), t -> length(t) > 0)`:
  *    split on runs of Java-regex `\s` = `[ \t\n\x0B\f\r]` (ASCII
  *    only — exactly bytes 0x09-0x0D and 0x20, so a byte scan is safe
  *    in UTF-8: multibyte sequences never contain ASCII bytes);
  *  - [[WordNgrams]] ≡ `transform(sequence(0, size-n),
  *    i -> concat_ws(" ", tokens[i+1..i+n]))`, empty below n;
  *  - [[CharShingles]] ≡ `array_distinct(transform(sequence(0, len-n),
  *    i -> substr(i+1, n)))`, empty below n: CODEPOINT n-grams,
  *    distinct keeping first-occurrence order; byte offsets of
  *    codepoints are walked once, so shingling is O(len), not the
  *    O(len²) of per-shingle substring scans.
  */
object TextExprs {
  private[ops] val Space = UTF8String.fromString(" ")

  @inline private[ops] def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)
}

/** whitespace-run tokenizer, empties dropped — one compiled byte scan. */
case class WsTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[AnyRef](8)
    var i = 0
    while (i < n) {
      while (i < n && TextExprs.isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !TextExprs.isWs(bytes(i))) i += 1
      if (i > start)
        out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(s: Any): Any =
    compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wsTokens", this, classOf[WsTokens].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WsTokens = copy(child = newChild)
}

/** space-joined word n-grams of a token array — one compiled pass;
  * fewer than n tokens → empty array (the HOF wrapper's guard). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  def compute(a: ArrayData): ArrayData = {
    val sz = a.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) { toks(i) = a.getUTF8String(i); i += 1 }
    val out = new Array[Any](sz - n + 1)
    i = 0
    while (i <= sz - n) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(toks, i, parts, 0, n)
      out(i) = UTF8String.concatWs(TextExprs.Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this, classOf[WordNgrams].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordNgrams = copy(child = newChild)
}

/** distinct codepoint n-gram shingles, first-occurrence order — one
  * compiled pass over precomputed codepoint offsets; strings shorter
  * than n (in codepoints) → empty array. */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // codepoint start offsets (UTF-8: continuation bytes are 10xxxxxx)
    var chars = 0
    var i = 0
    while (i < nb) {
      if ((bytes(i) & 0xC0) != 0x80) chars += 1
      i += 1
    }
    if (chars < n) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](chars + 1)
    var c = 0
    i = 0
    while (i < nb) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(chars) = nb
    val seen = new java.util.LinkedHashSet[UTF8String]((chars - n + 1) * 2)
    i = 0
    while (i + n <= chars) {
      seen.add(UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i)))
      i += 1
    }
    new GenericArrayData(seen.toArray[AnyRef](new Array[AnyRef](seen.size)))
  }

  override def nullSafeEval(s: Any): Any =
    compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charShingles", this, classOf[CharShingles].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharShingles = copy(child = newChild)
}

/** per-codepoint split: array of 1-codepoint strings, order kept,
  * duplicates kept ([[CharShingles]] n=1 minus the distinct) — the
  * initial symbol state of BPE training. One compiled byte scan. */
case class CharSplit(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_split"

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val out = new java.util.ArrayList[AnyRef](nb)
    var start = 0
    var i = 1
    while (i <= nb) {
      // codepoint boundary: next non-continuation byte (or end)
      if (i == nb || (bytes(i) & 0xC0) != 0x80) {
        out.add(UTF8String.fromBytes(bytes, start, i - start))
        start = i
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(s: Any): Any =
    compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charSplit", this, classOf[CharSplit].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharSplit = copy(child = newChild)
}

/** one greedy left-to-right BPE merge pass over a symbol array:
  * every non-overlapping adjacent (left, right) pair collapses to
  * the concatenated symbol, scanning resumes AFTER each merge (so
  * [a,a,a] under (a,a) → [aa,a]). These are exactly the semantics of
  * a leftmost non-overlapping string `replace` on a delimiter-wrapped
  * join of the symbols — the form the DuckDB oracle unrolls — and of
  * the reference BPE regex (Sennrich et al. 2016). One compiled scan
  * per row. */
case class MergePair(child: Expression, left: String, right: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "merge_pair"

  @transient private lazy val lSym = UTF8String.fromString(left)
  @transient private lazy val rSym = UTF8String.fromString(right)
  @transient private lazy val merged = UTF8String.fromString(left + right)

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && lSym.equals(a.getUTF8String(i))
          && rSym.equals(a.getUTF8String(i + 1))) {
        out.add(merged)
        i += 2
      } else {
        out.add(a.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergePair", this, classOf[MergePair].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MergePair = copy(child = newChild)
}

/** Per-word unigram-LM Viterbi segmentation (Kudo 2018, inference):
  * segment `child` into vocabulary pieces minimizing summed
  * micro-nat cost, unknown single chars at `unkPenalty`. The DP runs
  * as ONE compiled pass per word with the ≤vocabSize-entry vocab
  * riding the expression as a reference object — replacing the
  * equivalent 16-round Bellman-Ford relaxation over the position
  * graph (A/B in MEASUREMENTS.md §r7: the rounds were per-round
  * join+shuffle-bound, ~7.8 s at sf0.1; this projection is corpus-
  * parallel with NO shuffle). Tie rule replicated EXACTLY: among
  * equal-cost paths the lexicographically smallest seg wins,
  * compared in UTF-8 binary order (what both `min(struct(cost,
  * seg))` and DuckDB's `ORDER BY cost, seg` compare) — the rule is
  * compositional because two same-node segs contain identical
  * non-space chars, so neither can strictly prefix the other and
  * appending a common suffix preserves their order.
  *
  * Returns struct(cost_micro, seg); '' segments to (0, ''). */
case class UnigramViterbi(child: Expression, pieces: Array[String],
    scores: Array[Long], unkPenalty: Long, maxPieceLen: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("cost_micro", LongType, nullable = false),
    StructField("seg", StringType, nullable = false)))
  override def prettyName: String = "unigram_viterbi"

  @transient private lazy val vocab: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    var i = 0
    while (i < pieces.length) {
      val prev = m.get(pieces(i))
      if (prev == null || prev.longValue() < scores(i))
        m.put(pieces(i), scores(i)) // duplicate piece keeps best score
      i += 1
    }
    m
  }

  def compute(w: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    // positions are CODEPOINTS (Spark's substring(word, i+1, l) and
    // DuckDB's substring both count codepoints — Java code units
    // would drift on astral chars)
    val cp = w.toString.codePoints().toArray
    val n = cp.length
    val cost = new Array[Long](n + 1)
    val seg = new Array[String](n + 1)
    java.util.Arrays.fill(cost, Long.MaxValue)
    cost(0) = 0L
    seg(0) = ""
    var j = 1
    while (j <= n) {
      var bestC = Long.MaxValue
      var bestS: String = null
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (cost(i) != Long.MaxValue) {
          val piece = new String(cp, i, j - i)
          val sc = vocab.get(piece)
          var edge = if (sc != null) -sc.longValue() else Long.MaxValue
          if (j - i == 1 && unkPenalty < edge) edge = unkPenalty
          if (edge != Long.MaxValue) {
            val c = cost(i) + edge
            if (c < bestC) {
              bestC = c
              bestS = if (seg(i).isEmpty) piece else seg(i) + " " + piece
            } else if (c == bestC) {
              val cand = if (seg(i).isEmpty) piece
                else seg(i) + " " + piece
              // rare: resolve the tie in UTF-8 binary order
              if (UTF8String.fromString(cand)
                  .compareTo(UTF8String.fromString(bestS)) < 0)
                bestS = cand
            }
          }
        }
        i += 1
      }
      cost(j) = bestC
      seg(j) = bestS
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cost(n), UTF8String.fromString(seg(n))))
  }

  override def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramViterbi", this,
      classOf[UnigramViterbi].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnigramViterbi = copy(child = newChild)
}

/** Greedy longest-match-first WordPiece segmentation (Schuster &
  * Nakajima 2012; the BERT tokenizer, Devlin et al. 2019 — Wu et al.
  * 2016 §4.1 describe the greedy inference): walk the word left to
  * right, at each position take the LONGEST vocabulary piece that
  * matches (word-initial pieces match bare, continuations match with
  * the `##` prefix); if no piece matches at some position the WHOLE
  * word degrades to `[UNK]` — BERT's rule, not a per-char fallback.
  * Third member of the subword trio: BPE replays learned merges,
  * unigram optimizes a global score, WordPiece is the greedy
  * longest-match — all three run as one compiled projection pass per
  * DISTINCT word with the control-plane vocab riding the expression
  * as a reference object (no shuffle; the oracle replays the greedy
  * walk as unrolled left-join rounds, one per consumed position).
  *
  * Positions are CODEPOINTS (both Spark's and DuckDB's `substring`
  * count codepoints). Deterministic: the only choice per position is
  * max length, which is unique. Returns the space-joined piece
  * sequence, or the literal `[UNK]`. */
case class WordpieceSegment(child: Expression, vocab: Array[String],
    maxPieceLen: Int) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "wordpiece_segment"

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }

  def compute(w: UTF8String): UTF8String = {
    val cp = w.toString.codePoints().toArray
    val n = cp.length
    if (n == 0) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      var l = math.min(maxPieceLen, n - i)
      var found: String = null
      while (l >= 1 && found == null) {
        val raw = new String(cp, i, l)
        val key = if (i == 0) raw else "##" + raw
        if (set.contains(key)) found = key else l -= 1
      }
      if (found == null) return UTF8String.fromString("[UNK]")
      if (sb.length > 0) sb.append(' ')
      sb.append(found)
      i += l
    }
    UTF8String.fromString(sb.toString)
  }

  override def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordpieceSegment", this,
      classOf[WordpieceSegment].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordpieceSegment = copy(child = newChild)
}
