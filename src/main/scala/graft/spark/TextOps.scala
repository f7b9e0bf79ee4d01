package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftCatalystBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text/shingle kernels for the training-data pipeline. Semantically
  * identical to the SQL they replace — each kernel's scaladoc quotes the
  * exact expression and KernelParitySpec pins the equality, corner cases
  * included. The point is the constant factor: the HOF forms allocate a
  * slice array + a joined string (+ a 32-char hex digest later parsed back
  * by unhex) PER GRAM and dispatch a lambda per element; these run one
  * tight pass per document over the UTF8 bytes with a reused MessageDigest,
  * allocating only the output values.
  */
object TextOps extends Serializable {

  // @transient: the module object rides into codegen references (and thus
  // task closures); ThreadLocal is not serializable and re-initializes
  // lazily per JVM anyway (Scala modules readResolve to the singleton)
  @transient private lazy val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val SPACE: Byte = ' '.toByte

  /** The k=3 Bloom positions of gram `g` under prefix `prefix` and modulus
    * `m` — semantically identical to (with h = md5(concat(prefix, g))):
    *
    *   array(P(0), P(1), P(2)) where P(j) =
    *     pmod(aggregate(transform(sequence(1, 10),
    *            i -> cast(instr('0123456789abcdef',
    *                   substr(h, j*10 + i, 1)) - 1 as bigint)),
    *          cast(0 as bigint), (a, x) -> a * 16 + x), m)
    *
    * i.e. the 32-nibble digest split into 3 disjoint 10-nibble (40-bit)
    * big-endian windows, each reduced mod m. One digest, no hex string, no
    * per-nibble instr/substr calls.
    */
  def bloomPos3(g: UTF8String, prefix: Array[Byte], m: Int): ArrayData = {
    val md = md5Local.get()
    md.reset()
    md.update(prefix)
    md.update(g.getBytes)
    val d = md.digest()
    def nib(t: Int): Long = {
      val b = d(t >> 1)
      (if ((t & 1) == 0) (b >> 4) & 0xF else b & 0xF).toLong
    }
    val out = new Array[Long](3)
    var j = 0
    while (j < 3) {
      var v = 0L
      var i = j * 10
      val end = i + 10
      while (i < end) { v = v * 16 + nib(i); i += 1 }
      out(j) = v % m
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Token spans of `text` under split(text, ' ') semantics: token j is
    * the byte range [starts(j), ends(j)) — every single space is a
    * separator, empty tokens (consecutive/leading/trailing spaces) are
    * kept, and n tokens = n spaces + 1. Because the separator is the
    * single byte 0x20 (never part of a multi-byte UTF8 sequence), any run
    * of k consecutive tokens joined by ' ' equals the ORIGINAL byte span
    * [starts(j), ends(j+k-1)) verbatim — the identity every span-fused
    * kernel below rests on.
    */
  private def tokenize(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == SPACE) spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 1)
    val ends = new Array[Int](spaces + 1)
    var tok = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (bytes(i) == SPACE) { ends(tok) = i; tok += 1; starts(tok) = i + 1 }
      i += 1
    }
    ends(tok) = n
    (starts, ends)
  }

  /** Binary md5 digests of the consecutive 4-word shingles of
    * split(text, ' ') — semantically identical to fourGramMd5 over the
    * split word array (whose scaladoc quotes the SQL form), with the word
    * array never materialized: each gram digest runs over the original
    * byte span of its 4 tokens (see tokenize's span identity; split
    * output has no null elements, so array_join's null-skip is
    * unreachable).
    */
  def fourGramMd5Text(t: UTF8String): ArrayData = {
    val bytes = t.getBytes
    val (starts, ends) = tokenize(bytes)
    val nTok = starts.length
    if (nTok < 4) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val out = new Array[Any](nTok - 3)
    var i = 0
    while (i <= nTok - 4) {
      md.reset()
      md.update(bytes, starts(i), ends(i + 3) - starts(i))
      out(i) = md.digest()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The consecutive 4-word shingles of split(text, ' ') as strings —
    * fourGrams over the split array, word array never materialized (each
    * gram IS the byte span of its 4 tokens).
    */
  def fourGramsText(t: UTF8String): ArrayData = {
    val bytes = t.getBytes
    val (starts, ends) = tokenize(bytes)
    val nTok = starts.length
    if (nTok < 4) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nTok - 3)
    var i = 0
    while (i <= nTok - 4) {
      out(i) = UTF8String.fromBytes(bytes, starts(i), ends(i + 3) - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Binary md5 digests of the consecutive non-overlapping 4-word segments
    * of split(text, ' ') — segmentMd5 over the split array, word array
    * never materialized. split yields >= 1 token, so the size-0 sequence
    * corner is unreachable here.
    */
  def segmentMd5Text(t: UTF8String): ArrayData = {
    val bytes = t.getBytes
    val (starts, ends) = tokenize(bytes)
    val nTok = starts.length
    val md = md5Local.get()
    val nseg = (nTok + 3) / 4
    val out = new Array[Any](nseg)
    var k = 0
    while (k < nseg) {
      val a = k * 4
      val b = math.min(a + 3, nTok - 1)
      md.reset()
      md.update(bytes, starts(a), ends(b) - starts(a))
      out(k) = md.digest()
      k += 1
    }
    new GenericArrayData(out)
  }

  /** langScores over split(text, ' ') with the word array never
    * materialized — one tokenize pass, one hash probe per token.
    */
  def langScoresText(t: UTF8String): InternalRow = {
    val bytes = t.getBytes
    val (starts, ends) = tokenize(bytes)
    val counts = new Array[Int](5)
    var j = 0
    while (j < starts.length) {
      val idx = langLookup.get(
        UTF8String.fromBytes(bytes, starts(j), ends(j) - starts(j)))
      if (idx != null) counts(idx.intValue()) += 1
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](counts(0), counts(1), counts(2), counts(3), counts(4)))
  }

  private val MINHASH_P = 1000000007L

  /** The first-15-nibble fold of the md5 digest over bytes[off, off+len) —
    * the portable 60-bit hash `aggregate(sequence(1,15), 0L, (acc,i) ->
    * acc*16 + (instr('0123456789abcdef', substr(md5(s),i,1)) - 1))`, i.e.
    * digest nibbles 0..14 big-endian.
    */
  private def md5Fold15(md: java.security.MessageDigest,
      bytes: Array[Byte], off: Int, len: Int): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var v = 0L
    var t = 0
    while (t < 15) {
      val b = d(t >> 1)
      val nib = if ((t & 1) == 0) (b >> 4) & 0xF else b & 0xF
      v = v * 16 + nib
      t += 1
    }
    v
  }

  private def xxh64(bytes: Array[Byte], off: Int, len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, 42L)

  /** The 64-lane MinHash signature of `text`, whole chain fused —
    * semantically identical to (the d_dedup_minhash_lsh construction):
    *
    *   w        = split(text, ' ')
    *   shingles = CASE WHEN size(w) >= 3
    *                THEN transform(sequence(0, size(w)-3),
    *                       i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3]))
    *                ELSE array(text) END
    *   hb       = portable: transform(shingles, s -> md5-15-nibble fold)
    *              fast:     transform(shingles, s -> pmod(xxhash64(s), P))
    *   sig      = VecOps.minhashSig(hb)     (64 lanes, min over shingles)
    *
    * with no word/shingle/hash array ever materialized: each 3-gram IS the
    * byte span of its tokens (tokenize's identity), the hash runs over
    * that span, and the 64 lanes fold in place. Lane arithmetic matches
    * VecOps.minhashSig exactly (all values in [0, 2^37), `%` == pmod).
    */
  def minhashSigText(t: UTF8String, portable: Boolean): ArrayData = {
    val bytes = t.getBytes
    val (starts, ends) = tokenize(bytes)
    val nTok = starts.length
    val md = if (portable) md5Local.get() else null
    val acc = Array.fill(64)(Long.MaxValue)
    def fold(off: Int, len: Int): Unit = {
      val v =
        if (portable) md5Fold15(md, bytes, off, len)
        else { val x = xxh64(bytes, off, len) % MINHASH_P
               if (x < 0) x + MINHASH_P else x }
      val pm = v % MINHASH_P // portable v is 60-bit positive; fast already reduced
      var h = 0
      while (h < 64) {
        val lane = ((h * 2 + 1) * pm + h * 12345 + 1) % MINHASH_P
        if (lane < acc(h)) acc(h) = lane
        h += 1
      }
    }
    if (nTok >= 3) {
      var i = 0
      while (i <= nTok - 3) { fold(starts(i), ends(i + 2) - starts(i)); i += 1 }
    } else fold(0, bytes.length)
    new GenericArrayData(acc)
  }

  /** The folded simhash of `text`, whole chain fused — semantically
    * identical to (the d_dedup_simhash construction):
    *
    *   hs  = portable: transform(split(text,' '), w -> md5-15-nibble fold)   (nbits 60)
    *         fast:     transform(split(text,' '), w -> xxhash64(w))          (nbits 64)
    *   sim = VecOps.simhashFold(hs, nbits)
    *
    * with no word/hash array materialized: one tokenize pass, the hash per
    * token byte span, the nbits majority counters folded in place. split
    * output is never null/empty and has no null elements, so the fold's
    * corner semantics are unreachable; the counting matches simhashFold's
    * main path bit for bit.
    */
  def simhashText(t: UTF8String, portable: Boolean): Long = {
    val bytes = t.getBytes
    val (starts, ends) = tokenize(bytes)
    val nTok = starts.length
    val nbits = if (portable) 60 else 64
    val md = if (portable) md5Local.get() else null
    val counts = new Array[Int](nbits)
    var j = 0
    while (j < nTok) {
      val v =
        if (portable) md5Fold15(md, bytes, starts(j), ends(j) - starts(j))
        else xxh64(bytes, starts(j), ends(j) - starts(j))
      var b = 0
      while (b < nbits) {
        counts(b) += ((v >>> b) & 1L).toInt
        b += 1
      }
      j += 1
    }
    var acc = 0L
    var b = 0
    while (b < nbits) {
      if (counts(b).toLong * 2 >= nTok) acc += 1L << b
      b += 1
    }
    acc
  }

  /** One-pass quality stats over `text` — a struct of
    *
    *   n_words   = size(split(text, ' '))                          (int)
    *   stop_hits = size(filter(split(text,' '), x -> x IN ('the','a'))) (int)
    *   punct     = length(text)
    *             - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '')) (int)
    *
    * computed in a single scan of the UTF8 bytes: split on the single
    * space byte keeps empty tokens (Java split semantics, limit -1), punct
    * counts CODE POINTS outside [a-zA-Z0-9 ] (a multi-byte character is
    * one code point — matching length()'s numChars), and no word array,
    * match array, or replaced string is ever materialized.
    */
  def qualityStats(t: UTF8String): InternalRow = {
    val nb = t.numBytes()
    var nWords = 1
    var stop = 0
    var punct = 0
    var tokStart = 0
    def closeToken(end: Int): Unit = {
      val len = end - tokStart
      if (len == 1) {
        if (t.getByte(tokStart) == 'a'.toByte) stop += 1
      } else if (len == 3) {
        if (t.getByte(tokStart) == 't'.toByte &&
            t.getByte(tokStart + 1) == 'h'.toByte &&
            t.getByte(tokStart + 2) == 'e'.toByte) stop += 1
      }
    }
    var i = 0
    while (i < nb) {
      val b = t.getByte(i)
      if (b == SPACE) {
        closeToken(i); nWords += 1; tokStart = i + 1; i += 1
      } else {
        val l = UTF8String.numBytesForFirstByte(b)
        if (l == 1) {
          val ok = (b >= 'a'.toByte && b <= 'z'.toByte) ||
            (b >= 'A'.toByte && b <= 'Z'.toByte) ||
            (b >= '0'.toByte && b <= '9'.toByte)
          if (!ok) punct += 1
          i += 1
        } else { punct += 1; i += l }
      }
    }
    closeToken(nb)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, stop, punct))
  }

  val qualityStatsSchema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false)))

  /** The 5 language-id stopword sets (t_language_id / the pipeline's
    * language gate) — pairwise disjoint, so one hash probe per word
    * replaces 5 `size(filter(w, x IN (...)))` passes.
    */
  @transient private lazy val langLookup: java.util.HashMap[UTF8String, Integer] = {
    val sets = Array(
      Array("the", "a", "fast", "slow"),
      Array("join", "hash", "merge", "batch"),
      Array("data", "table", "row", "scan"),
      Array("filter", "order", "column", "small"),
      Array("customer", "query", "value", "part"))
    val m = new java.util.HashMap[UTF8String, Integer]()
    var s = 0
    while (s < sets.length) {
      sets(s).foreach(w => m.put(UTF8String.fromString(w), Integer.valueOf(s)))
      s += 1
    }
    m
  }

  // One-pass language-id scores (struct of s_en..s_zh ints) — semantically
  //   s_xx = size(filter(split(text,' '), x -> x IN (<set xx>)))
  // per set; the sets are pairwise disjoint, so one hash probe per token is
  // exhaustive. See langScoresText.
  val langScoresSchema: StructType = StructType(
    Seq("s_en", "s_de", "s_es", "s_fr", "s_zh")
      .map(f => StructField(f, IntegerType, nullable = false)))

  def fourGramMd5TextCol(text: Column): Column =
    GraftCatalystBridge.column(FourGramMd5Text(GraftCatalystBridge.expression(text)))

  def fourGramsTextCol(text: Column): Column =
    GraftCatalystBridge.column(FourGramsText(GraftCatalystBridge.expression(text)))

  def segmentMd5TextCol(text: Column): Column =
    GraftCatalystBridge.column(SegmentMd5Text(GraftCatalystBridge.expression(text)))

  def langScoresTextCol(text: Column): Column =
    GraftCatalystBridge.column(LangScoresText(GraftCatalystBridge.expression(text)))

  def minhashSigTextCol(text: Column, portable: Boolean): Column =
    GraftCatalystBridge.column(
      MinhashSigText(GraftCatalystBridge.expression(text), portable))

  def simhashTextCol(text: Column, portable: Boolean): Column =
    GraftCatalystBridge.column(
      SimhashText(GraftCatalystBridge.expression(text), portable))

  def bloomPos3Col(g: Column, prefix: String, m: Int): Column =
    GraftCatalystBridge.column(
      BloomPos3(GraftCatalystBridge.expression(g), prefix, m))

  def qualityStatsCol(text: Column): Column =
    GraftCatalystBridge.column(QualityStats(GraftCatalystBridge.expression(text)))
}

/** See [[TextOps.bloomPos3]]. */
case class BloomPos3(child: Expression, prefix: String, m: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_bloom_pos3"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  private lazy val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(a: Any): Any =
    TextOps.bloomPos3(a.asInstanceOf[UTF8String], prefixBytes, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    val pref = ctx.addReferenceObj("prefix", prefixBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.bloomPos3($a, $pref, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomPos3 =
    copy(child = newChild)
}

/** See [[TextOps.qualityStats]]. */
case class QualityStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextOps.qualityStatsSchema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_quality_stats"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(a: Any): Any =
    TextOps.qualityStats(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.qualityStats($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): QualityStats =
    copy(child = newChild)
}

/** Shared scaffolding for the STRING-input text kernels. */
abstract class GraftTextKernel extends UnaryExpression {
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")
}

/** See [[TextOps.fourGramMd5Text]]. */
case class FourGramMd5Text(child: Expression) extends GraftTextKernel {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "graft_four_gram_md5"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.fourGramMd5Text(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.fourGramMd5Text($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): FourGramMd5Text =
    copy(child = newChild)
}

/** See [[TextOps.fourGramsText]]. */
case class FourGramsText(child: Expression) extends GraftTextKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_four_grams"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.fourGramsText(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.fourGramsText($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): FourGramsText =
    copy(child = newChild)
}

/** See [[TextOps.segmentMd5Text]]. */
case class SegmentMd5Text(child: Expression) extends GraftTextKernel {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "graft_segment_md5"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.segmentMd5Text(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.segmentMd5Text($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SegmentMd5Text =
    copy(child = newChild)
}

/** See [[TextOps.langScoresText]]. */
case class LangScoresText(child: Expression) extends GraftTextKernel {
  override def dataType: DataType = TextOps.langScoresSchema
  override def prettyName: String = "graft_lang_scores"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.langScoresText(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.langScoresText($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangScoresText =
    copy(child = newChild)
}

/** See [[TextOps.minhashSigText]]. */
case class MinhashSigText(child: Expression, portable: Boolean)
    extends GraftTextKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig_text"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.minhashSigText(a.asInstanceOf[UTF8String], portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.minhashSigText($a, $portable);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigText =
    copy(child = newChild)
}

/** See [[TextOps.simhashText]]. */
case class SimhashText(child: Expression, portable: Boolean)
    extends GraftTextKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_text"

  override protected def nullSafeEval(a: Any): Any =
    TextOps.simhashText(a.asInstanceOf[UTF8String], portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mod = ctx.addReferenceObj("textOps", TextOps, "graft.spark.TextOps$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mod.simhashText($a, $portable);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashText =
    copy(child = newChild)
}
