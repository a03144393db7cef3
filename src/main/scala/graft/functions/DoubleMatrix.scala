package graft.functions

/** Reference-object payload for native expressions that carry a
  * double matrix (hyperplanes, centroid rows) as a constructor arg.
  *
  * Catalyst hashes, compares and renders expression constructor args
  * constantly during analysis (canonicalization, semanticEquals,
  * constraint propagation, argString) — a naked collection arg makes
  * every one of those walks O(rows·dim). The content hash is folded
  * ONCE at construction, equality fast-paths on it, and toString
  * prints the shape instead of the data (a 141×64 matrix rendered
  * into every plan string is megabytes of noise). Same lesson as
  * CentroidData, which the IVF sweep measured at 14 s of planning per
  * query before the fix.
  *
  * OWNERSHIP CONTRACT: construction transfers ownership of `rows` to
  * this object — callers must NOT mutate the arrays afterwards. The
  * content hash is folded once into a val, so a post-construction
  * mutation silently desynchronizes hashCode from equals and corrupts
  * Catalyst canonicalization/semanticEquals. (A defensive copy would
  * cost O(rows·dim) per plan-side construction; all call sites build
  * fresh arrays, so the contract is cheaper and sufficient.)
  */
final class DoubleMatrix(val rows: Array[Array[Double]])
    extends Serializable {

  override val hashCode: Int = {
    var h = rows.length
    var i = 0
    while (i < rows.length) {
      h = h * 31 + java.util.Arrays.hashCode(rows(i)); i += 1
    }
    h
  }

  override def equals(o: Any): Boolean = o match {
    case that: DoubleMatrix =>
      (this eq that) || (hashCode == that.hashCode &&
        rows.length == that.rows.length &&
        rows.indices.forall(i => java.util.Arrays.equals(rows(i), that.rows(i))))
    case _ => false
  }

  override def toString: String =
    s"matrix(${rows.length}x${if (rows.isEmpty) 0 else rows(0).length}, " +
      s"#${Integer.toHexString(hashCode)})"
}
