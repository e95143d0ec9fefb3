package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A document's MinHash signature as ONE per-row expression: with the
  * tokens of `regexp_extract_all(text, '\\S+', 0)` and shingle i = tokens
  * i..i+n-1 joined by one space (`#tokens − n + 1` shingles), component s
  * of the result is
  * {{{
  *   min over shingles of  md5(shingle) bytes 2s, 2s+1  as an unsigned 16-bit value
  * }}}
  * rendered as 4 lowercase hex characters — exactly the built-in formula
  * `min(substring(md5(shingle), 4s+1, 4))` over the exploded distinct
  * shingles grouped by document (equal-width lowercase hex orders like
  * its value; a minimum ignores duplicates, so no distinct is needed).
  * Spec-pinned against that formula in both codegen modes.
  *
  * The formula needs a generator row per shingle and a shuffle to group
  * them back per document; a signature depends on one document only, so
  * here it is one pass over the text's bytes: split on the six ASCII
  * bytes Java's `\s` matches (they never occur inside a multi-byte UTF-8
  * sequence, so the byte split is the character split), re-join the
  * tokens with single spaces into one buffer — every shingle is then a
  * contiguous slice of it — and digest each slice once. Text that is not
  * valid UTF-8 is first decoded and re-encoded, as the regex path's
  * string round trip does.
  *
  * Null for null text and for text with fewer than `n` tokens (the
  * formula emits no shingle, hence no row, for those documents). The
  * result array has `numHashes` non-null elements.
  */
case class MinhashSignature(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {
  require(shingleN >= 1, s"minhash_signature needs shingleN >= 1, got $shingleN")
  require(numHashes >= 1 && numHashes <= 8,
    s"minhash_signature needs 1 <= numHashes <= 8 (one md5 yields 8 " +
      s"16-bit chunks), got $numHashes")

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argument of $prettyName must be a string, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else MinhashSignature.signature(MinhashSignature.Scratches.get(),
      t.asInstanceOf[UTF8String], shingleN, numHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    // one scratch (md5 digest + token buffers) per generated-class
    // instance, i.e. per task: never shared across threads, never looked
    // up per row
    val scratch = ctx.addMutableState(classOf[MinhashScratch].getName, "mhScratch",
      v => s"$v = new ${classOf[MinhashScratch].getName}();")
    val isNull = ctx.freshName("sigIsNull")
    val arrayData = classOf[ArrayData].getName
    ev.copy(code = code"""
      |${c.code}
      |boolean $isNull = ${c.isNull};
      |$arrayData ${ev.value} = null;
      |if (!$isNull) {
      |  ${ev.value} = graft.functions.MinhashSignature.signature(
      |    $scratch, ${c.value}, $shingleN, $numHashes);
      |  $isNull = ${ev.value} == null;
      |}
      """.stripMargin, isNull = JavaCode.isNullVariable(isNull))
  }

  override protected def withNewChildInternal(c: Expression): MinhashSignature =
    copy(child = c)
}

object MinhashSignature {
  /** Interpreted-path scratch, one per thread. */
  private val Scratches: ThreadLocal[MinhashScratch] =
    ThreadLocal.withInitial(() => new MinhashScratch)

  private val Hex = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** The bytes Java's default `\s` class matches: space and 0x09-0x0D (tab, LF, VT, FF, CR). */
  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** The UTF-8 bytes the regex path tokenizes: `text`'s own, or its
    * decode/re-encode round trip when it is not valid UTF-8.
    */
  private def utf8(text: UTF8String): Array[Byte] =
    if (text.isValid) text.getBytes
    else text.toString.getBytes(StandardCharsets.UTF_8)

  /** Number of `\S+` tokens in `text`, counting no further than `cap`. */
  def tokenCount(text: UTF8String, cap: Int): Int = {
    val bytes = utf8(text)
    val nb = bytes.length
    var i = 0
    var toks = 0
    while (i < nb && toks < cap) {
      while (i < nb && isSpace(bytes(i))) i += 1
      if (i < nb) {
        toks += 1
        while (i < nb && !isSpace(bytes(i))) i += 1
      }
    }
    toks
  }

  /** The signature of one non-null text, or null below `n` tokens. */
  def signature(s: MinhashScratch, text: UTF8String, n: Int, k: Int): ArrayData = {
    val bytes = utf8(text)
    // pass 1: tokens re-joined by single spaces into s.joined; s.starts(t)
    // is token t's offset there, and s.starts(nTok) closes the last one
    // (one past its end + the would-be separator)
    val nb = bytes.length
    s.ensure(nb)
    var nTok = 0
    var w = 0
    var i = 0
    while (i < nb) {
      while (i < nb && isSpace(bytes(i))) i += 1
      if (i < nb) {
        if (nTok > 0) { s.joined(w) = ' '; w += 1 }
        s.starts(nTok) = w
        nTok += 1
        while (i < nb && !isSpace(bytes(i))) {
          s.joined(w) = bytes(i); w += 1; i += 1
        }
      }
    }
    s.starts(nTok) = w + 1
    if (nTok < n) return null
    // pass 2: shingle g spans [starts(g), starts(g + n) − 1)
    val mins = s.mins
    java.util.Arrays.fill(mins, 0, k, Int.MaxValue)
    val h = s.digest
    var g = 0
    while (g + n <= nTok) {
      val from = s.starts(g)
      s.md.update(s.joined, from, s.starts(g + n) - 1 - from)
      s.md.digest(h, 0, 16)
      var c = 0
      while (c < k) {
        val v = ((h(2 * c) & 0xff) << 8) | (h(2 * c + 1) & 0xff)
        if (v < mins(c)) mins(c) = v
        c += 1
      }
      g += 1
    }
    val out = new Array[Any](k)
    var c = 0
    while (c < k) {
      val v = mins(c)
      out(c) = UTF8String.fromBytes(Array(Hex(v >>> 12), Hex((v >>> 8) & 0xf),
        Hex((v >>> 4) & 0xf), Hex(v & 0xf)))
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-task working state of [[MinhashSignature]]: the md5 digest plus
  * buffers that grow to the largest document seen and are then reused.
  */
final class MinhashScratch {
  val md: MessageDigest = MessageDigest.getInstance("MD5")
  val digest: Array[Byte] = new Array[Byte](16)
  val mins: Array[Int] = new Array[Int](8)
  var joined: Array[Byte] = new Array[Byte](256)
  var starts: Array[Int] = new Array[Int](64)

  /** Room for a text of `nb` bytes: at most nb bytes re-joined and
    * (nb + 1) / 2 tokens, plus the closing offset.
    */
  def ensure(nb: Int): Unit = {
    if (joined.length < nb) joined = new Array[Byte](math.max(nb, joined.length * 2))
    val need = (nb + 1) / 2 + 1
    if (starts.length < need) starts = new Array[Int](math.max(need, starts.length * 2))
  }
}

/** True when `text` is non-null and has at least `n` `\S+` tokens — the
  * cheap row screen in front of [[MinhashSignature]] (it scans bytes and
  * digests nothing). A signature frame needs its short documents dropped,
  * and a null filter on the signature itself would be pushed below the
  * projection and evaluate every digest twice.
  */
case class HasTokens(child: Expression, n: Int) extends UnaryExpression {
  override def prettyName: String = "has_tokens"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argument of $prettyName must be a string, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    t != null && MinhashSignature.tokenCount(t.asInstanceOf[UTF8String], n) >= n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.value} = !${c.isNull} &&
      |  graft.functions.MinhashSignature.tokenCount(${c.value}, $n) >= $n;
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): HasTokens =
    copy(child = c)
}
