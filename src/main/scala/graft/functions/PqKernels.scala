package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, DoubleType, StructField, StructType}

/** PQ codebooks flattened for kernel consumption and shipped as ONE
  * Spark broadcast instead of per-subspace `typedLit`s. Why this
  * matters beyond codegen size: every Dataset ACTION renders the full
  * physical-plan description string for the SQL listener event, and a
  * plan tree whose projections embed nSub×PqK×subDim double literals
  * (≈32k doubles, repeated once per hop join and once per cached
  * child) costs ~2 s of driver CPU PER ACTION in string building —
  * PqServeProbe measured `ann_graph_pq`'s 4.6 s serve as ~0.6 s of
  * task time plus plan-string rendering. The broadcast keeps every
  * plan O(1) in the book size (the [[IvfModel]] discipline: the IVF
  * quantizer also ships as one broadcast, at every m).
  *
  * Layout: codewords grouped by subspace, ascending k within each
  * group (`offs(s) until offs(s+1)` indexes group s); `flat` holds
  * centroid components codeword-major; `cv2(i)` = sequential
  * dot(cv,cv) precomputed with [[VecKernels.dot]]'s exact
  * left-to-right order; `dense(s)` = max codeword id + 1 — the length
  * of subspace s's position-indexed distance table (Lloyd drops empty
  * codewords, so ids can be sparse; dead slots hold null and are
  * never indexed because codes are argmin assignments over the
  * surviving words).
  */
final class PqBookModel(val nSub: Int, val subDim: Int,
    val offs: Array[Int], val ks: Array[Int], val flat: Array[Double],
    val cv2: Array[Double], val dense: Array[Int]) extends Serializable

object PqBookModel {
  /** Flatten a (s, k, cv) model — the shape every book builder and
    * every persisted book table already produces.
    */
  def of(model: Seq[(Int, Long, Seq[Double])], subDim: Int): PqBookModel = {
    val nSub = model.iterator.map(_._1).max + 1
    val grouped = (0 until nSub).map(s =>
      model.filter(_._1 == s).sortBy(_._2))
    val n = grouped.map(_.length).sum
    val offs = new Array[Int](nSub + 1)
    val ks = new Array[Int](n)
    val flat = new Array[Double](n * subDim)
    val cv2 = new Array[Double](n)
    val dense = new Array[Int](nSub)
    var i = 0
    var s = 0
    while (s < nSub) {
      offs(s) = i
      grouped(s).foreach { case (_, k, cv) =>
        ks(i) = k.toInt
        var d = 0
        while (d < subDim && d < cv.length) {
          flat(i * subDim + d) = cv(d); d += 1
        }
        var acc = 0.0
        d = 0
        while (d < subDim) { acc += flat(i * subDim + d) * flat(i * subDim + d); d += 1 }
        cv2(i) = acc
        i += 1
      }
      dense(s) = if (grouped(s).isEmpty) 0 else grouped(s).map(_._2).max.toInt + 1
      s += 1
    }
    offs(nSub) = i
    new PqBookModel(nSub, subDim, offs, ks, flat, cv2, dense)
  }
}

/** Subspace-`s` ADC distance table for one query/residual vector as a
  * DENSE position-indexed array: slot k holds ‖v[s·subDim, subDim) −
  * cv_k‖² computed EXACTLY as the literal column path did —
  * (dot(sub,sub) − 2·dot(sub,cv)) + dot(cv,cv), every dot sequential
  * left-to-right — so ADC sums stay bit-identical to the DuckDB
  * oracle. Lookup is element_at(array, code+1): O(1) positional
  * indexing where the old 256-entry map literal paid a linear key
  * scan per lookup.
  */
case class PqDistTablesExpr(vec: Expression, model: Broadcast[PqBookModel],
    s: Int) extends UnaryExpression {
  override def child: Expression = vec
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override protected def nullSafeEval(v: Any): Any =
    PqKernels.distTable(v.asInstanceOf[ArrayData], model.value, s)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pqBookBc", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.PqKernels.distTable($v, " +
        s"(graft.functions.PqBookModel) $bcRef.value(), $s)")
  }
  override protected def withNewChildInternal(c: Expression): PqDistTablesExpr =
    copy(vec = c)
}

/** Argmin codeword for one SUBvector against the broadcast book:
  * returns struct(d, k) of the best (distance asc, k asc) codeword —
  * the same element the literal transform→array_sort→element_at(…,1)
  * path produced, with the identical distance arithmetic (ascending-k
  * iteration + strict-less update ⇒ lowest k wins ties, matching the
  * struct sort order).
  */
case class PqAssignExpr(sub: Expression, sIdx: Expression,
    model: Broadcast[PqBookModel]) extends BinaryExpression {
  override def left: Expression = sub
  override def right: Expression = sIdx
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("k", DataTypes.LongType, nullable = false)))
  override protected def nullSafeEval(x: Any, s: Any): Any =
    PqKernels.assignBest(x.asInstanceOf[ArrayData], model.value,
      s.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pqBookBc", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, (x, s) =>
      s"graft.functions.PqKernels.assignBest($x, " +
        s"(graft.functions.PqBookModel) $bcRef.value(), $s)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAssignExpr =
    copy(sub = l, sIdx = r)
}

object PqKernels {

  def distTables(vec: Column, model: Broadcast[PqBookModel], s: Int): Column =
    columnOf(PqDistTablesExpr(expressionOf(vec), model, s))

  def assign(sub: Column, sIdx: Column, model: Broadcast[PqBookModel]): Column =
    columnOf(PqAssignExpr(expressionOf(sub), expressionOf(sIdx), model))

  /** Dense distance table for subspace s of full vector `v`. */
  def distTable(v: ArrayData, m: PqBookModel, s: Int): ArrayData = {
    val off0 = s * m.subDim
    val lim = math.min(m.subDim, math.max(0, v.numElements() - off0))
    var ss = 0.0
    var d = 0
    while (d < lim) {
      val x = v.getDouble(off0 + d); ss += x * x; d += 1
    }
    val out = new Array[Any](m.dense(s))
    var i = m.offs(s)
    while (i < m.offs(s + 1)) {
      var dk = 0.0
      val co = i * m.subDim
      d = 0
      while (d < lim) { dk += v.getDouble(off0 + d) * m.flat(co + d); d += 1 }
      out(m.ks(i)) = (ss - 2.0 * dk) + m.cv2(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Best (d asc, k asc) codeword of subspace s for SUBvector `x`. */
  def assignBest(x: ArrayData, m: PqBookModel, s: Int): InternalRow = {
    val lim = math.min(m.subDim, x.numElements())
    var ss = 0.0
    var d = 0
    while (d < lim) { val v = x.getDouble(d); ss += v * v; d += 1 }
    var bestD = Double.PositiveInfinity
    var bestK = Long.MaxValue
    var i = m.offs(s)
    while (i < m.offs(s + 1)) {
      var dk = 0.0
      val co = i * m.subDim
      d = 0
      while (d < lim) { dk += x.getDouble(d) * m.flat(co + d); d += 1 }
      val dist = (ss - 2.0 * dk) + m.cv2(i)
      if (dist < bestD) { bestD = dist; bestK = m.ks(i).toLong }
      i += 1
    }
    InternalRow(bestD, bestK)
  }
}
