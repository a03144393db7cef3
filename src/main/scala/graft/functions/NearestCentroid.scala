package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Centroid matrix payload for NearestCentroid with O(1)
  * equals/hashCode/toString. The payload is a constructor arg of a
  * Catalyst expression, and Catalyst hashes, compares and renders
  * constructor args CONSTANTLY during analysis (canonicalization,
  * semanticEquals, constraint propagation, argString) — naked
  * IndexedSeq args made every one of those walks O(k·dim), which the
  * IVF sweep measured as 14 s of planning at IVF-correct k=141 (vs
  * 0.5 s at k=64). The content hash is folded ONCE at construction;
  * equality fast-paths on it; toString prints the shape, not the
  * matrix.
  *
  * OWNERSHIP CONTRACT: construction transfers ownership of the
  * arrays — callers must NOT mutate them afterwards, or the cached
  * hashCode desynchronizes from equals and corrupts Catalyst
  * canonicalization. All call sites build fresh arrays. */
final class CentroidData(
    val ids: Array[Int],
    val vecs: Array[Array[Double]],
    val nrms: Array[Double]) extends Serializable {

  override val hashCode: Int = {
    var h = java.util.Arrays.hashCode(ids)
    h = h * 31 + java.util.Arrays.hashCode(nrms)
    var i = 0
    while (i < vecs.length) {
      h = h * 31 + java.util.Arrays.hashCode(vecs(i)); i += 1
    }
    h
  }

  override def equals(o: Any): Boolean = o match {
    case that: CentroidData =>
      (this eq that) || (hashCode == that.hashCode &&
        java.util.Arrays.equals(ids, that.ids) &&
        java.util.Arrays.equals(nrms, that.nrms) &&
        vecs.length == that.vecs.length &&
        vecs.indices.forall(i => java.util.Arrays.equals(vecs(i), that.vecs(i))))
    case _ => false
  }

  override def toString: String =
    s"centroids(k=${ids.length}, dim=${if (vecs.isEmpty) 0 else vecs(0).length}, " +
      s"#${Integer.toHexString(hashCode)})"
}

/** Nearest-centroid argmax as ONE constant-size native expression.
  *
  * The centroid matrix rides along as plain Scala data (shipped to
  * executors inside the expression's reference objects, exactly how
  * Catalyst ships any literal), NOT as k child expressions. The
  * alternative — k `dot/greatest/when` branches built from typedlit
  * columns — produces an O(k²·dim) expression tree whose analysis +
  * Janino compilation dwarfs execution once k grows (at IVF-correct
  * k≈√n the tree is unbuildable). Here the tree is 2 children
  * regardless of k; the k-loop lives in the generated code; and the
  * matrix hides behind CentroidData so tree bookkeeping is O(1) in k
  * too.
  *
  * Semantics (bit-compatible with the expression-chain form it
  * replaces, and with the probe-side `dotD / (nrm * cnrm)` scoring):
  * per centroid c, cos_c = fold_left(v[i] * cv[i]) / (nrm * cnrm_c),
  * each float widened to double before multiply; result is the id of
  * the max cosine, ties and all-NaN resolving to the lowest id (ids
  * are sorted ascending by construction).
  *
  * With `l2 = true` the score is the EUCLIDEAN argmin in dot form —
  * argmin ‖v−c‖² = argmax (v·c − ‖c‖²/2) — the metric product
  * quantization codebooks are trained and encoded under. In that mode
  * `data.nrms` carries the SQUARED centroid norms and the `right`
  * (norm) child is ignored.
  */
case class NearestCentroid(
    left: Expression,
    right: Expression,
    data: CentroidData,
    l2: Boolean = false)
  extends BinaryExpression {

  private def idsArr: Array[Int] = data.ids
  private def matrix: Array[Array[Double]] = data.vecs
  private def nrmsArr: Array[Double] = data.nrms

  private def isFloatVec: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if right.dataType == DoubleType =>
      if (data.ids.nonEmpty && data.ids.length == data.vecs.length &&
          data.ids.length == data.nrms.length)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroid: ids/vecs/nrms sizes differ or empty " +
          s"(${data.ids.length}/${data.vecs.length}/${data.nrms.length})")
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid expects (array<float|double>, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nrm = b.asInstanceOf[Double]
    val fl = isFloatVec
    var best = idsArr(0)
    var bestCos = Double.NegativeInfinity
    // strict dimension check (the DotProductD contract): silently
    // truncating to min(n, dim) would turn a caller's slicing bug
    // into plausible-but-wrong assignments with no error
    if (v.numElements() != matrix(0).length)
      throw new IllegalArgumentException(
        s"graft_nearest_centroid: vector dim ${v.numElements()} != " +
          s"centroid dim ${matrix(0).length}")
    var c = 0
    while (c < matrix.length) {
      val cv = matrix(c)
      val n = cv.length
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x: Double = if (fl) v.getFloat(i).toDouble else v.getDouble(i)
        acc += x * cv(i)
        i += 1
      }
      val cos = if (l2) acc - nrmsArr(c) / 2 else acc / (nrm * nrmsArr(c))
      if (cos > bestCos) { bestCos = cos; best = idsArr(c) }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm) => {
      val m = ctx.addReferenceObj("centVecs", matrix, "double[][]")
      val nr = ctx.addReferenceObj("centNrms", nrmsArr, "double[]")
      val idRef = ctx.addReferenceObj("centIds", idsArr, "int[]")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val cos = ctx.freshName("cos")
      val cv = ctx.freshName("cv")
      val best = ctx.freshName("best")
      val bestCos = ctx.freshName("bestCos")
      val get =
        if (isFloatVec) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      val score =
        if (l2) s"$acc - $nr[$c] / 2" else s"$acc / ($nrm * $nr[$c])"
      s"""
         |if ($v.numElements() != $m[0].length) {
         |  throw new IllegalArgumentException(
         |    "graft_nearest_centroid: vector dim " + $v.numElements() +
         |    " != centroid dim " + $m[0].length);
         |}
         |int $best = $idRef[0];
         |double $bestCos = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $m.length; $c++) {
         |  double[] $cv = $m[$c];
         |  int $n = $cv.length;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $get * $cv[$i];
         |  }
         |  double $cos = $score;
         |  if ($cos > $bestCos) { $bestCos = $cos; $best = $idRef[$c]; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}
