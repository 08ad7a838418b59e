package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd vector kernels for the similarity operators.
  *
  * Spark's higher-order functions (zip_with/aggregate) evaluate an
  * interpreted lambda per element — measured as the dominant cost of
  * cosine scoring over the fixtures (3 dots × 64 elements × every
  * candidate pair). Each kernel here is one tight Java loop over the
  * raw ArrayData, safe inside whole-stage codegen.
  *
  * Numeric contract: [[VectorKernels.dot]] accumulates in double,
  * strictly left-to-right, exactly like the HOF form
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` after an array<double>
  * cast — so results stay bit-identical to DuckDB's
  * `list_dot_product(a::DOUBLE[], b::DOUBLE[])` and the oracle checks
  * keep passing.
  */
object VectorKernels {

  /** Strict left-to-right double dot product of two float arrays.
    * Null result (matching `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
    * semantics) when lengths differ or any element is null — a
    * truncated or corrupt embedding must fall OUT of rankings, not
    * score a plausible partial product.
    */
  def dotFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Same kernel over double arrays. */
  def dotDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Lexicographic argmin over a constant centroid matrix: exact
    * integer squared-L2 distance to every centroid, winner = min
    * (distance, label) — ONE fused loop per row where the HOF form
    * (transform → zip_with → aggregate → array_min) pays an
    * interpreted lambda per element: measured ~100 µs/row at
    * k = 64 × dim = 64 vs ~1 µs here — the difference between a
    * k-means assignment pass that is scan-bound and one that is
    * lambda-bound at corpus scale. Null (the [[dotFF]] convention)
    * on a dimension mismatch or null element — a corrupt vector must
    * fall out of the assignment, not land in a plausible cluster.
    * Same integer ops and tie-break as the HOF form on admissible
    * input, so the DuckDB kmeans-CTE twins stay bit-identical.
    */
  def kmeansArgmin(q: ArrayData, cents: Array[Array[Long]],
                   labels: Array[Long]): org.apache.spark.sql.catalyst.InternalRow = {
    val dim = q.numElements()
    var bd = Long.MaxValue
    var bl = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (c.length != dim) return null
      var d = 0L
      var i = 0
      while (i < dim) {
        if (q.isNullAt(i)) return null
        // overflow-CHECKED (the LongVecSum doctrine): the session runs
        // ANSI, so the HOF form this kernel replaced THREW on a Long
        // wrap — and the DuckDB twins error likewise. A silent
        // wraparound here would instead land the row in a plausible
        // wrong cluster with no symptom. Exact intrinsics, ~free.
        val x = Math.subtractExact(q.getLong(i), c(i))
        d = Math.addExact(d, Math.multiplyExact(x, x))
        i += 1
      }
      val l = labels(j)
      if (d < bd || (d == bd && l < bl)) { bd = d; bl = l }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bl, bd))
  }

  /** Cell-indexed variant of [[kmeansArgmin]] for two-level (coarse →
    * fine) k-means: the row's coarse cell selects which fine-centroid
    * slice to argmin over, so the per-row cost is O(k_fine·dim)
    * regardless of how many TOTAL fine centroids exist (kc·kf — the
    * whole point of the hierarchy). Null on an out-of-range cell or a
    * cell with no centroids (can only happen on input the fit never
    * saw — a corrupt cell id must fall out, not alias cell 0), and on
    * the inner kernel's own null conditions.
    */
  def kmeansArgmin2l(cell: Long, q: ArrayData,
                     cents: Array[Array[Array[Long]]],
                     labels: Array[Array[Long]]): org.apache.spark.sql.catalyst.InternalRow = {
    if (cell < 0 || cell >= cents.length) return null
    val cs = cents(cell.toInt)
    if (cs.length == 0) return null
    kmeansArgmin(q, cs, labels(cell.toInt))
  }

  /** |A ∩ B| of two SORTED long arrays via linear merge — no hash set,
    * no allocation. Callers sort once per row before the pair join.
    * Null on any null ELEMENT (the [[dotFF]] convention): an unguarded
    * getLong over a null slot reads 0 from UnsafeArrayData and would
    * silently count a phantom element into the similarity.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }
}

/** Double dot product of two array<float> (or array<double>) columns. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires two array<float> or two array<double> args, " +
          s"got ${left.dataType} and ${right.dataType}")
    }

  private def kernel: String =
    if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType) "dotFF" else "dotDD"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (kernel == "dotFF")
      VectorKernels.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VectorKernels.dotDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double ${ev.value}_r = graft.expressions.VectorKernels.$kernel($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)

  override def prettyName: String = "dot_product"
}

/** Intersection size of two sorted array<long> columns (merge scan). */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires two array<long> args, " +
          s"got ${left.dataType} and ${right.dataType}")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Integer ${ev.value}_r = graft.expressions.VectorKernels.sortedIntersectCount($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.intValue(); }""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)

  override def prettyName: String = "sorted_intersect_count"
}

/** Zero-shuffle k-means assignment: argmin of the exact quantized
  * squared-L2 distance over a DRIVER-HELD centroid matrix, returned
  * as struct(cluster, qdist). The matrix and labels are constructor
  * constants (bound through ColumnBridge, the PqEncode pattern)
  * riding codegen as references — the expression tree is O(1) in k,
  * so analysis stays flat, and the per-row work is one fused JVM loop
  * ([[VectorKernels.kmeansArgmin]]) instead of k interpreted
  * higher-order lambdas. Tie-break: smaller label on equal distance
  * (lexicographic min over (qdist, label)) — exactly the
  * row_number-over-(dist, cid) order of the DuckDB kmeans twins.
  */
case class KmeansArgmin(child: Expression, cents: Seq[Seq[Long]],
                        labels: Seq[Long]) extends UnaryExpression {
  require(cents.nonEmpty && cents.size == labels.size,
    s"kmeans_argmin needs one label per centroid (non-empty), " +
      s"got ${cents.size} centroids / ${labels.size} labels")
  require(cents.map(_.size).distinct.size == 1,
    "kmeans_argmin centroids must share one dimensionality")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("qdist", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmeans_argmin requires array<bigint> input, got $other")
  }

  override def nullable: Boolean = true

  @transient private lazy val centsArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray
  @transient private lazy val labelsArr: Array[Long] = labels.toArray

  override protected def nullSafeEval(q: Any): Any =
    VectorKernels.kmeansArgmin(q.asInstanceOf[ArrayData], centsArr, labelsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", centsArr, "long[][]")
    val labelsRef = ctx.addReferenceObj("kmLabels", labelsArr, "long[]")
    nullSafeCodeGen(ctx, ev, q =>
      s"""org.apache.spark.sql.catalyst.InternalRow ${ev.value}_r =
         |  graft.expressions.VectorKernels.kmeansArgmin($q, $centsRef, $labelsRef);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r; }""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): KmeansArgmin =
    copy(child = c)

  override def prettyName: String = "kmeans_argmin"
}

/** Two-level k-means assignment: the row's coarse cell (left child)
  * indexes a DRIVER-HELD per-cell fine-centroid table, and the argmin
  * runs over that cell's slice only — per-row cost O(k_fine·dim), not
  * O(kc·kf·dim), which is what makes effective cluster counts of
  * kc·kf (up to 64·64 = 4096) affordable: two fused ≤64-centroid
  * scans per row instead of one 4096-centroid scan. Same constant
  * binding, codegen, tie-break, and null conventions as
  * [[KmeansArgmin]]; ragged per-cell centroid counts are expected
  * (cells smaller than k_fine seed fewer centroids).
  */
case class KmeansArgmin2L(left: Expression, right: Expression,
                          cents: Seq[Seq[Seq[Long]]],
                          labels: Seq[Seq[Long]]) extends BinaryExpression {
  require(cents.nonEmpty && cents.size == labels.size,
    s"kmeans_argmin_2l needs one label row per cell, " +
      s"got ${cents.size} cells / ${labels.size} label rows")
  require(cents.zip(labels).forall { case (c, l) => c.size == l.size },
    "kmeans_argmin_2l: per-cell centroid and label counts must agree")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("qdist", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmeans_argmin_2l requires (bigint cell, array<bigint> q), got $other")
    }

  override def nullable: Boolean = true

  @transient private lazy val centsArr: Array[Array[Array[Long]]] =
    cents.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val labelsArr: Array[Array[Long]] =
    labels.map(_.toArray).toArray

  override protected def nullSafeEval(cell: Any, q: Any): Any =
    VectorKernels.kmeansArgmin2l(cell.asInstanceOf[Long],
      q.asInstanceOf[ArrayData], centsArr, labelsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("km2Cents", centsArr, "long[][][]")
    val labelsRef = ctx.addReferenceObj("km2Labels", labelsArr, "long[][]")
    nullSafeCodeGen(ctx, ev, (cell, q) =>
      s"""org.apache.spark.sql.catalyst.InternalRow ${ev.value}_r =
         |  graft.expressions.VectorKernels.kmeansArgmin2l($cell, $q, $centsRef, $labelsRef);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r; }""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmeansArgmin2L =
    copy(left = l, right = r)

  override def prettyName: String = "kmeans_argmin_2l"
}
