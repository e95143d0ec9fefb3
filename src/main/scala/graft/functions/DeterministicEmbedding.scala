package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The deterministic token embedder as ONE evaluate-once expression:
  * component j of `token`'s embedding is
  * {{{
  *   u_j = first 4 bytes of md5(utf8(token + ":" + j)) as an unsigned int
  *   x_j = u_j / 4294967296.0 * 2.0 - 1.0          -- uniform [-1, 1)
  *   e_j = x_j / sqrt(x_0² + x_1² + … + x_{dim-1}²)  -- sum in index order
  * }}}
  * in double, cast to float when `asFloat`. That is exactly the built-in
  * column formula `transform(raw, x => x / sqrt(aggregate(raw, 0.0,
  * (a, x) => a + x * x)))` over `raw = transform(sequence(0, dim-1), j =>
  * conv(substring(md5(concat(token, ':', j)), 1, 8), 16, 10) / 2^32 * 2 -
  * 1)` — bit for bit (spec-pinned against that formula) — but without its
  * cost: a higher-order-function lambda re-evaluates every nested
  * expression per element, so that formula recomputes the norm (and with
  * it the whole raw array) for each component, dim + dim² md5s per token.
  * Here each of the dim md5s runs once, into a primitive array.
  *
  * Null semantics follow the formula: a null token gives an array of
  * `dim` null elements (every md5 input is null), never a null array. A
  * zero norm (every u_j exactly 2^31, out of practical reach) gives null
  * elements too — the non-ANSI quotient of the formula's division.
  */
case class DeterministicEmbedding(child: Expression, dim: Int, asFloat: Boolean)
    extends UnaryExpression {
  require(dim >= 1, s"deterministic_embedding needs dim >= 1, got $dim")

  override def prettyName: String = "deterministic_embedding"
  override def dataType: DataType =
    ArrayType(if (asFloat) FloatType else DoubleType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argument of $prettyName must be a string, got ${other.catalogString}")
  }

  private lazy val digits = DeterministicEmbedding.digitBytes(dim)

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) return new GenericArrayData(new Array[Any](dim))
    val tok = t.asInstanceOf[UTF8String].getBytes
    val md = DeterministicEmbedding.Md5.get()
    val raw = new Array[Double](dim)
    var ss = 0.0
    var j = 0
    while (j < dim) {
      md.update(tok)
      md.update(':'.toByte)
      md.update(digits(j))
      val h = md.digest()
      val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val x = u.toDouble / 4294967296.0 * 2.0 - 1.0
      raw(j) = x
      ss += x * x
      j += 1
    }
    val norm = math.sqrt(ss)
    if (norm == 0.0) new GenericArrayData(new Array[Any](dim))
    else if (asFloat) ArrayData.toArrayData(raw.map(x => (x / norm).toFloat))
    else ArrayData.toArrayData(raw.map(_ / norm))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    // one digest per generated-class instance, i.e. per task: never
    // shared across threads, never looked up per row
    val md = ctx.addMutableState("java.security.MessageDigest", "md5",
      v => s"$v = graft.functions.DeterministicEmbedding.newDigest();")
    val dref = ctx.addReferenceObj("digits", digits, "byte[][]")
    val tok = ctx.freshName("tok")
    val raw = ctx.freshName("raw")
    val ss = ctx.freshName("ss")
    val j = ctx.freshName("j")
    val k = ctx.freshName("k")
    val h = ctx.freshName("h")
    val u = ctx.freshName("u")
    val norm = ctx.freshName("norm")
    val out = ctx.freshName("out")
    val elem = if (asFloat) "float" else "double"
    val arrayData = classOf[ArrayData].getName
    val generic = classOf[GenericArrayData].getName
    val unsafe = "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData"
    ev.copy(code = code"""
      |${c.code}
      |$arrayData ${ev.value};
      |if (${c.isNull}) {
      |  ${ev.value} = new $generic(new Object[$dim]);
      |} else {
      |  byte[] $tok = ${c.value}.getBytes();
      |  double[] $raw = new double[$dim];
      |  double $ss = 0.0d;
      |  for (int $j = 0; $j < $dim; $j++) {
      |    $md.update($tok);
      |    $md.update((byte) ':');
      |    $md.update($dref[$j]);
      |    byte[] $h = $md.digest();
      |    long $u = (($h[0] & 0xffL) << 24) | (($h[1] & 0xffL) << 16) |
      |      (($h[2] & 0xffL) << 8) | ($h[3] & 0xffL);
      |    $raw[$j] = (double) $u / 4294967296.0d * 2.0d - 1.0d;
      |    $ss += $raw[$j] * $raw[$j];
      |  }
      |  double $norm = java.lang.Math.sqrt($ss);
      |  if ($norm == 0.0d) {
      |    ${ev.value} = new $generic(new Object[$dim]);
      |  } else {
      |    $elem[] $out = new $elem[$dim];
      |    for (int $k = 0; $k < $dim; $k++) {
      |      $out[$k] = ($elem) ($raw[$k] / $norm);
      |    }
      |    ${ev.value} = $unsafe.fromPrimitiveArray($out);
      |  }
      |}
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): DeterministicEmbedding =
    copy(child = c)
}

object DeterministicEmbedding {
  /** A fresh md5 digest; generated code cannot call `getInstance` itself,
    * whose checked exception Janino requires to be caught.
    */
  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  /** Interpreted-path digests, one per thread. */
  private val Md5: ThreadLocal[MessageDigest] = ThreadLocal.withInitial(() => newDigest())

  /** ASCII decimal bytes of 0 until dim — the `:j` suffixes. */
  private def digitBytes(dim: Int): Array[Array[Byte]] =
    Array.tabulate(dim)(_.toString.getBytes(StandardCharsets.US_ASCII))
}
