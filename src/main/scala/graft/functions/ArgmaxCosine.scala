package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd argmax-cosine of a vector against a FIXED centroid
  * matrix (the IVF cell-assignment kernel — `Similarity.assignedCells`'
  * literal path, and every Lloyd iteration of `trainIvfCentroids`).
  *
  * Why an Expression (SURVEY.md §7.3, the [[PqEncode]] rationale): the
  * superseded form built `array_max(array(struct(cos(c_i, v), i), …))`
  * — one [[CosineSimilarity]] node per centroid. Each cosine's inner
  * loop was already native, but the tree around them is O(nlist) plan
  * nodes: nlist struct allocations + an nlist-element array per ROW,
  * Janino output growing with nlist (at nlist ≈ 2000 the generated
  * methods blow past the JIT's ~8 KB bytecode ceiling and run in the
  * bytecode interpreter), and every per-centroid call re-derives the
  * vector's norm. This node is O(1) in the plan; the matrix rides as a
  * reference object; the fused loop hoists the vector norm (computed
  * once, not per centroid) and reads PRECOMPUTED centroid norms — the
  * same double values in the same accumulation order, so every score,
  * and therefore the argmax, is bit-identical (spec-pinned in
  * ArgmaxCosineSpec).
  *
  * Semantics replicated exactly from the struct-max form:
  *  - score_i = dot(c_i, v) / (sqrt(|c_i|²)·sqrt(|v|²)), doubles,
  *    left-to-right accumulation over float-promoted components
  *    ([[CosineSimilarity]]'s arithmetic, zero-norm → 0.0);
  *  - winner = lexicographic max over (score, index) with Spark's
  *    double ordering (NaN above every real, -0.0 == 0.0), so score
  *    ties break to the LARGER index — `array_max`'s struct order;
  *  - dimension mismatch throws ([[CosineSimilarity]]'s contract).
  * One DELIBERATE divergence: a NULL input vector returns null, where
  * the struct-max form returned the last index (every per-centroid
  * cosine nulled, so the max fell through to the index field).
  * Observable only for null embeddings — whose downstream pairs a
  * null cosine always threshold-drops — and `assignedCells`' callers
  * on the search path already filter `isNotNull`.
  */
case class ArgmaxCosineMatrix(child: Expression, cents: Array[Array[Double]])
  extends UnaryExpression {

  private val nlist = cents.length
  private val dim = if (nlist == 0) 0 else cents(0).length
  require(nlist >= 1 && dim >= 1, "empty centroid matrix")
  require(cents.forall(_.length == dim), "ragged centroid matrix")

  /** Matrix flattened through the SAME float truncation the literal
    * plan applied (`floatLits` emitted `lit(x.toFloat)`), promoted back
    * to double exactly as the FloatType literal entered the cosine. */
  private lazy val flat: Array[Double] = {
    val out = new Array[Double](nlist * dim)
    var i = 0
    while (i < nlist) {
      var d = 0
      while (d < dim) { out(i * dim + d) = cents(i)(d).toFloat.toDouble; d += 1 }
      i += 1
    }
    out
  }

  /** Per-centroid squared norms, the same left-to-right fold
    * [[CosineSimilarity]] runs — hoisting them is pure reuse of an
    * input-independent subcomputation, bit-identical by determinism. */
  private lazy val normsSq: Array[Double] = {
    val out = new Array[Double](nlist)
    var i = 0
    while (i < nlist) {
      var na = 0.0
      var d = 0
      while (d < dim) { val x = flat(i * dim + d); na += x * x; d += 1 }
      out(i) = na
      i += 1
    }
    out
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${dt.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_cosine"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"cosine_similarity: dimension mismatch ($dim vs ${v.numElements()})")
    var nb = 0.0
    var d = 0
    while (d < dim) { val y = v.getFloat(d).toDouble; nb += y * y; d += 1 }
    var bestS = Double.NaN
    var bestI = -1
    var i = 0
    while (i < nlist) {
      var dot = 0.0
      var t = 0
      while (t < dim) { dot += flat(i * dim + t) * v.getFloat(t).toDouble; t += 1 }
      val na = normsSq(i)
      val s = if (na == 0.0 || nb == 0.0) 0.0
              else dot / (math.sqrt(na) * math.sqrt(nb))
      // Spark struct-max order: NaN above reals, ties → larger index
      // (we scan ascending, so >= replaces on ties); -0.0 == 0.0 under
      // nanSafeCompare, and 0.0 >= -0.0 in IEEE too, so plain >= plus
      // an explicit NaN arm reproduces it exactly.
      if (bestI < 0 || java.lang.Double.isNaN(s) ||
          (!java.lang.Double.isNaN(bestS) && s >= bestS)) { bestS = s; bestI = i }
      i += 1
    }
    bestI
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("centFlat", flat, "double[]")
      val normRef = ctx.addReferenceObj("centNormsSq", normsSq, "double[]")
      val nb = ctx.freshName("nb")
      val d = ctx.freshName("d")
      val y = ctx.freshName("y")
      val bestS = ctx.freshName("bestS")
      val bestI = ctx.freshName("bestI")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val t = ctx.freshName("t")
      val na = ctx.freshName("na")
      val s = ctx.freshName("s")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "cosine_similarity: dimension mismatch ($dim vs " + $v.numElements() + ")");
         |}
         |double $nb = 0.0;
         |for (int $d = 0; $d < $dim; $d++) {
         |  double $y = (double) $v.getFloat($d); $nb += $y * $y;
         |}
         |double $bestS = Double.NaN;
         |int $bestI = -1;
         |for (int $i = 0; $i < $nlist; $i++) {
         |  double $dot = 0.0;
         |  for (int $t = 0; $t < $dim; $t++) {
         |    $dot += $flatRef[$i * $dim + $t] * (double) $v.getFloat($t);
         |  }
         |  double $na = $normRef[$i];
         |  double $s = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |    $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  if ($bestI < 0 || Double.isNaN($s) ||
         |      (!Double.isNaN($bestS) && $s >= $bestS)) { $bestS = $s; $bestI = $i; }
         |}
         |${ev.value} = $bestI;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Broadcast-table twin of [[ArgmaxCosineMatrix]]: argmax-cosine of a
  * vector against a COLUMN carrying `array<struct<i int, v array<float>>>`
  * (the `_cents` one-row broadcast of `Similarity.centroidArrayDf`, and
  * each two-level group of `twoLevelArrayDf`). Replaces
  * `array_max(transform(cents, c => struct(cos(c.v, v), c.i))).getField("i")`
  * — the `transform` dispatch was an interpreted lambda + struct
  * allocation per centroid per row (CodegenFallback), so the whole
  * projection fell out of whole-stage codegen.
  *
  * Returns the stored `i` field of the winning element (NOT the
  * positional index — two-level groups store original cell ids).
  * Winner selection is the same lexicographic (score, i) max as the
  * struct form: NaN above reals, -0.0 equal to 0.0, and on score ties
  * the larger stored `i` wins, whatever order the elements come in
  * (`centroidArrayDf`/`twoLevelArrayDf` sort by `i`, but the winner
  * does not depend on it). Empty array
  * → null (`array_max` of empty). Null input (either side) → null;
  * the struct form funneled a null VECTOR to the largest `i` — same
  * deliberate divergence as [[ArgmaxCosineMatrix]], unobservable
  * downstream (null-vector pairs are threshold-dropped).
  */
case class ArgmaxCosineOver(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StructType(Array(f1, f2)), _), ArrayType(FloatType, _))
      if f1.dataType == IntegerType && f2.dataType.isInstanceOf[ArrayType] &&
        f2.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<i int, v array<float>>>, array<float>), " +
        s"got (${l.simpleString}, ${r.simpleString})")
  }
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_cosine_over"

  override protected def nullSafeEval(centsAny: Any, vAny: Any): Any = {
    val cents = centsAny.asInstanceOf[ArrayData]
    val v = vAny.asInstanceOf[ArrayData]
    val n = cents.numElements()
    if (n == 0) return null
    val dim = v.numElements()
    var nb = 0.0
    var d = 0
    while (d < dim) { val y = v.getFloat(d).toDouble; nb += y * y; d += 1 }
    var bestS = Double.NaN
    var bestI = 0
    var found = false
    var j = 0
    while (j < n) {
      val e = cents.getStruct(j, 2)
      val ci = e.getInt(0)
      val cv = e.getArray(1)
      if (cv.numElements() != dim)
        throw new IllegalArgumentException(
          s"cosine_similarity: dimension mismatch (${cv.numElements()} vs $dim)")
      var dot = 0.0; var na = 0.0
      var t = 0
      while (t < dim) {
        val x = cv.getFloat(t).toDouble
        dot += x * v.getFloat(t).toDouble; na += x * x
        t += 1
      }
      val s = if (na == 0.0 || nb == 0.0) 0.0
              else dot / (math.sqrt(na) * math.sqrt(nb))
      if (!found || ArgmaxCosineOver.outranks(s, ci, bestS, bestI)) {
        bestS = s; bestI = ci; found = true
      }
      j += 1
    }
    bestI
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, v) => {
      val n = ctx.freshName("n")
      val dim = ctx.freshName("dim")
      val nb = ctx.freshName("nb")
      val d = ctx.freshName("d")
      val y = ctx.freshName("y")
      val bestS = ctx.freshName("bestS")
      val bestI = ctx.freshName("bestI")
      val found = ctx.freshName("found")
      val j = ctx.freshName("j")
      val e = ctx.freshName("e")
      val ci = ctx.freshName("ci")
      val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val t = ctx.freshName("t")
      val x = ctx.freshName("x")
      val s = ctx.freshName("s")
      s"""
         |int $n = $cents.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |int $dim = $v.numElements();
         |double $nb = 0.0;
         |for (int $d = 0; $d < $dim; $d++) {
         |  double $y = (double) $v.getFloat($d); $nb += $y * $y;
         |}
         |double $bestS = Double.NaN;
         |int $bestI = 0;
         |boolean $found = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  org.apache.spark.sql.catalyst.InternalRow $e = $cents.getStruct($j, 2);
         |  int $ci = $e.getInt(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $e.getArray(1);
         |  if ($cv.numElements() != $dim) {
         |    throw new IllegalArgumentException(
         |      "cosine_similarity: dimension mismatch (" + $cv.numElements() + " vs " + $dim + ")");
         |  }
         |  double $dot = 0.0, $na = 0.0;
         |  for (int $t = 0; $t < $dim; $t++) {
         |    double $x = (double) $cv.getFloat($t);
         |    $dot += $x * (double) $v.getFloat($t); $na += $x * $x;
         |  }
         |  double $s = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |    $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  if (!$found || graft.functions.ArgmaxCosineOver.outranks($s, $ci, $bestS, $bestI)) {
         |    $bestS = $s; $bestI = $ci; $found = true;
         |  }
         |}
         |${ev.value} = $bestI;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArgmaxCosineOver {

  /** Whether `(s, i)` is above `(bestS, bestI)` in Spark's struct order
    * over (double, int): NaN above every real and equal to NaN, -0.0
    * equal to 0.0, then the larger `i`. */
  def outranks(s: Double, i: Int, bestS: Double, bestI: Int): Boolean =
    if (java.lang.Double.isNaN(s)) !java.lang.Double.isNaN(bestS) || i > bestI
    else !java.lang.Double.isNaN(bestS) && (s > bestS || (s == bestS && i > bestI))
}
