package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector math over `array<float>` / `array<double>` columns.
  *
  * These are the hot path of SEARCHSIMILAR (reference surface:
  * `/root/reference/src/command/types.rs:121-132`): every candidate row is
  * scored against the query vector, so a boxed Scala UDF (per-element
  * `WrappedArray` boxing) would dominate the scan at 100 TB. Each expression
  * therefore implements `doGenCode` with a tight primitive loop over
  * `ArrayData`, keeping the scoring inside whole-stage codegen; the
  * interpreted `nullSafeEval` path exists for completeness (e.g. when codegen
  * is disabled or the expression appears in a non-codegen context).
  *
  * Null semantics: a null array yields null (standard `BinaryExpression`
  * null-intolerance); null *elements* are treated as 0.0, matching how
  * `aggregate(zip_with(...))` built-in compositions would propagate absent
  * dimensions without poisoning the whole score.
  */
trait VectorExpressionHelpers { self: Expression =>

  protected def elemType(dt: DataType): DataType =
    dt.asInstanceOf[ArrayType].elementType

  /** Interpreted accessor: element i of `arr` as double (null element → 0).
    * Integral element types are accepted so scoring runs DIRECTLY on stored
    * quantized vectors (array<tinyint> SQ8 columns) with no conversion
    * projection in the scan.
    */
  protected def getD(arr: ArrayData, et: DataType, i: Int): Double =
    if (arr.isNullAt(i)) 0.0
    else et match {
      case FloatType   => arr.getFloat(i).toDouble
      case DoubleType  => arr.getDouble(i)
      case ByteType    => arr.getByte(i).toDouble
      case ShortType   => arr.getShort(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case _ => throw new IllegalStateException(s"unsupported element type $et")
    }

  /** Codegen accessor: java source for element i of `arr` as double. */
  protected def genGetD(arr: String, et: DataType, i: String): String = {
    val raw = et match {
      case FloatType   => s"(double) $arr.getFloat($i)"
      case DoubleType  => s"$arr.getDouble($i)"
      case ByteType    => s"(double) $arr.getByte($i)"
      case ShortType   => s"(double) $arr.getShort($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case _ => throw new IllegalStateException(s"unsupported element type $et")
    }
    s"($arr.isNullAt($i) ? 0.0d : $raw)"
  }

  /** Shared input validation (ExpectsInputTypes' AbstractDataType machinery
    * is private[sql] in Spark 4, so we check directly).
    */
  protected def checkVectorType(which: String, dt: DataType): Option[String] =
    dt match {
      case ArrayType(FloatType | DoubleType | ByteType | ShortType | IntegerType, _) => None
      case other => Some(s"$which argument of $prettyName must be an array of " +
        s"float/double/byte/short/int, got ${other.catalogString}")
    }
}

abstract class BinaryVectorExpression extends BinaryExpression
    with VectorExpressionHelpers {
  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorType("left", left.dataType)
      .orElse(checkVectorType("right", right.dataType))
      .map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  protected def leftElem: DataType  = elemType(left.dataType)
  protected def rightElem: DataType = elemType(right.dataType)

  /** Fold both arrays; subclasses define accumulators + finish. All java
    * accumulator names derive from `acc` — a `ctx.freshName` — because two
    * instances of the same expression can land in ONE generated function
    * scope (e.g. `least(l2_dist(v, c1), l2_dist(v, c2))`): a fixed name
    * there is a Janino "Redefinition of local variable" compile error and
    * the whole stage silently falls back to interpreted evaluation.
    * Per-element temporaries take `ctx.freshName`s too: a loop-body local
    * may not shadow a same-named local of an enclosing generated scope.
    */
  protected def accDecl(acc: String): String          // java: accumulator decls
  protected def accStep(ctx: CodegenContext, acc: String, x: String,
      y: String): String                               // per-element
  protected def accFinish(acc: String): String        // java: expr producing double

  protected def evalLoop(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    require(a.numElements() == b.numElements(),
      s"$prettyName: vector length mismatch ${a.numElements()} != ${b.numElements()}")
    evalLoop(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException("$prettyName: vector length mismatch");
         |}
         |${accDecl(acc)}
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${genGetD(a, leftElem, i)};
         |  double $y = ${genGetD(b, rightElem, i)};
         |  ${accStep(ctx, acc, x, y)}
         |}
         |${ev.value} = ${accFinish(acc)};
       """.stripMargin
    })
}

/** cosine(a, b) = dot(a,b) / (||a|| * ||b||); 0.0 when either norm is 0. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "cosine_sim"
  override protected def accDecl(acc: String): String =
    s"double ${acc}dot = 0.0d, ${acc}na = 0.0d, ${acc}nb = 0.0d;"
  override protected def accStep(ctx: CodegenContext, acc: String, x: String,
      y: String): String =
    s"${acc}dot += $x * $y; ${acc}na += $x * $x; ${acc}nb += $y * $y;"
  override protected def accFinish(acc: String): String =
    s"(${acc}na == 0.0d || ${acc}nb == 0.0d) ? 0.0d : " +
      s"${acc}dot / (Math.sqrt(${acc}na) * Math.sqrt(${acc}nb))"
  override protected def evalLoop(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = getD(a, leftElem, i); val y = getD(b, rightElem, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Euclidean (L2) distance between two vectors. */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "l2_dist"
  override protected def accDecl(acc: String): String = s"double ${acc}s = 0.0d;"
  override protected def accStep(ctx: CodegenContext, acc: String, x: String,
      y: String): String = {
    val d = ctx.freshName("d")
    s"double $d = $x - $y; ${acc}s += $d * $d;"
  }
  override protected def accFinish(acc: String): String = s"Math.sqrt(${acc}s)"
  override protected def evalLoop(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) {
      val d = getD(a, leftElem, i) - getD(b, rightElem, i)
      s += d * d; i += 1
    }
    math.sqrt(s)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Inner product of two vectors. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "dot_product"
  override protected def accDecl(acc: String): String = s"double ${acc}s = 0.0d;"
  override protected def accStep(ctx: CodegenContext, acc: String, x: String,
      y: String): String =
    s"${acc}s += $x * $y;"
  override protected def accFinish(acc: String): String = s"${acc}s"
  override protected def evalLoop(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { s += getD(a, leftElem, i) * getD(b, rightElem, i); i += 1 }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** L2 norm of a single vector. */
case class L2Norm(child: Expression) extends UnaryExpression
    with VectorExpressionHelpers {
  override def prettyName: String = "l2_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorType("only", child.dataType)
      .map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def dataType: DataType = DoubleType
  private def et: DataType = elemType(child.dataType)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { val x = getD(a, et, i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${genGetD(a, et, i)};
         |  $s += $x * $x;
         |}
         |${ev.value} = Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
}

/** Hamming distance between two equal-length integral arrays (used for IVF
  * bucket probing: buckets within hamming radius of the query's bucket).
  * Operates on array<int> sign-bit codes rather than packed longs so the
  * bucket code stays a plain partition column.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "hamming_dist"
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var d = 0; var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) { if (a.getInt(i) != b.getInt(i)) d += 1; i += 1 }
    d + math.abs(a.numElements() - b.numElements())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $d = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getInt($i) != $b.getInt($i)) $d++;
         |}
         |${ev.value} = $d + java.lang.Math.abs($a.numElements() - $b.numElements());
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** argmin over a LITERAL codebook: the 1-based id of the centroid with
  * the smallest `round(l2_dist(v, c_j), 6)`, ties to the smallest id —
  * semantically identical to the expanded
  * `array_min(array(struct(round(l2_dist(v, lit(c_j)), 6), j+1))).getField("c")`
  * tree, collapsed into ONE compact expression. The expansion (m
  * subspaces × ksub centroids of l2 trees inside a single Generate/
  * Project consume) grows the generated method past Janino's 64 KB
  * limit, dropping whole PQ training/encoding stages to interpreted
  * eval (the r9 wide-literal-matrix failure mode, measured on q127);
  * this form codegens to two nested primitive loops.
  *
  * Arithmetic parity, term for term: the distance is the same
  * element-order squared-diff sum + `Math.sqrt` as [[L2Distance]]; the
  * rounding is Spark `Round(_, 6)`'s exact double path
  * (`BigDecimal.valueOf(x).setScale(6, HALF_UP)`, NaN/Inf passed
  * through); the comparison is Spark's double ordering
  * (`java.lang.Double.compare` — NaN greatest, first minimum wins on
  * ties = smallest centroid id).
  */
case class NearestCentroidId(child: Expression,
    cents: Array[Array[Double]])
    extends UnaryExpression with VectorExpressionHelpers {
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "nearest_centroid_id needs a non-empty rectangular codebook")

  override def prettyName: String = "nearest_centroid_id"
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    checkVectorType("vector", child.dataType)
      .map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val elem = elemType(child.dataType)

  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val dsub = cents.head.length
    require(a.numElements() == dsub,
      s"$prettyName: vector length mismatch ${a.numElements()} != $dsub")
    var best = 0.0
    var bestJ = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var s = 0.0
      var i = 0
      while (i < dsub) {
        val d = getD(a, elem, i) - c(i)
        s += d * d
        i += 1
      }
      val dist = round6(math.sqrt(s))
      if (bestJ == 0 || java.lang.Double.compare(dist, best) < 0) {
        best = dist
        bestJ = j + 1
      }
      j += 1
    }
    bestJ
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val cs = ctx.freshName("cs")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val dist = ctx.freshName("dist")
      val best = ctx.freshName("best")
      val bestJ = ctx.freshName("bestJ")
      val d = ctx.freshName("d")
      s"""
         |double[][] $cs = $cref;
         |if ($a.numElements() != $cs[0].length) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector length mismatch");
         |}
         |double $best = 0.0d;
         |int $bestJ = 0;
         |for (int $j = 0; $j < $cs.length; $j++) {
         |  double $s = 0.0d;
         |  for (int $i = 0; $i < $cs[0].length; $i++) {
         |    double $d = ${genGetD(a, elem, i)} - $cs[$j][$i];
         |    $s += $d * $d;
         |  }
         |  double $dist = Math.sqrt($s);
         |  if (!(Double.isNaN($dist) || Double.isInfinite($dist))) {
         |    $dist = java.math.BigDecimal.valueOf($dist)
         |      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |  if ($bestJ == 0 || java.lang.Double.compare($dist, $best) < 0) {
         |    $best = $dist;
         |    $bestJ = $j + 1;
         |  }
         |}
         |${ev.value} = $bestJ;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
