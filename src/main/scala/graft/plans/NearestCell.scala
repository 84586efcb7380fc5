package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid (argmin ‖v−c‖²) over a TRAINED centroid table —
  * the IVF/k-means cell assignment as ONE native expression.
  *
  * The Column-algebra form (per cell: `lit(c²) − 2·DotProduct(v,
  * array(64 literals))`, then `array_min(array(structs))`) inlines
  * k·dim literal nodes into the plan. At the gate's 8 cells that
  * codegens fine; at reindex scale the √n rule gives 448 cells at
  * 100× and 1414 at 1000× — 28k–90k literal nodes — and janino's
  * 64 KB method limit rejects the stage, silently falling back to
  * interpreted projection with per-expression dispatch over 1414
  * DotProducts per row (the r17 100× bench logged exactly this
  * fallback, as a D=8192 typedlit weight array once did for the
  * classifier's training aggregate).
  * Here the centroid matrix rides `ctx.addReferenceObj` (kilobytes,
  * broadcast with the plan) and the generated code is one static
  * call — small, codegen-stable at ANY cell count, with the scan
  * loop in compiled Scala.
  *
  * PARITY: bit-identical to the algebra it replaces — same
  * float→double widening per element, same ascending-position
  * summation, same `c² − 2.0·dot` expression shape, the same
  * HALF_UP 6-dp round when `replayExact` (scala BigDecimal(double)
  * == java BigDecimal.valueOf — Spark's Round path), and argmin
  * ties resolve to the SMALLEST cell id (array_min on struct(s, j)
  * ordering). Pinned against the Column algebra in SaltingAndIvfSpec.
  *
  * `cents` is an IndexedSeq-of-IndexedSeq so structurally equal
  * expressions canonicalize equal and CSE merges repeated
  * assignments (the ClassifierMargin lesson — Array fields defeat
  * CSE via reference equality).
  */
case class NearestCell(child: Expression,
                       cents: IndexedSeq[IndexedSeq[Double]],
                       replayExact: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell requires an array<float|double> child, got $other")
  }

  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  // c² per cell, the same Scala `map(x*x).sum` the algebra folded
  // into lit(c2) at plan-build time — identical doubles
  @transient private lazy val c2Arr: Array[Double] =
    centArr.map(c => c.map(x => x * x).sum)

  override protected def nullSafeEval(v: Any): Any =
    NearestCellUtil.nearest(v.asInstanceOf[ArrayData],
      elemType == FloatType, centArr, c2Arr, replayExact)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val c2Ref = ctx.addReferenceObj("c2s", c2Arr, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.plans.NearestCellUtil.nearest(
         |  $v, ${elemType == FloatType}, $cRef, $c2Ref, $replayExact);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

object NearestCellUtil {
  /** Spark Round(HALF_UP, 6) for finite doubles: scala
    * BigDecimal(double) routes through java BigDecimal.valueOf
    * (Double.toString canonicalization), so valueOf here is the same
    * decimal. NaN/Inf pass through like Spark's Round. */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** argmin_j round?(c²_j − 2·⟨v, c_j⟩); strict `<` with ascending j
    * == array_min's smallest-id tie policy. */
  def nearest(arr: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
              c2: Array[Double], replayExact: Boolean): Int = {
    var best = Double.PositiveInfinity
    var bestJ = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(arr.numElements(), c.length)
      var acc = 0.0d
      var i = 0
      if (isFloat) {
        while (i < n) { acc += arr.getFloat(i).toDouble * c(i); i += 1 }
      } else {
        while (i < n) { acc += arr.getDouble(i) * c(i); i += 1 }
      }
      var s = c2(j) - 2.0d * acc
      if (replayExact) s = round6(s)
      if (s < best) { best = s; bestJ = j }
      j += 1
    }
    bestJ
  }

  /** Two-level nearest-cell ([[TwoLevelCell]]'s scan): stage 1 picks
    * the nearest GROUP centroid (same round₆/strict-< ascending-index
    * discipline as [[nearest]]), stage 2 runs the cell argmin
    * RESTRICTED to that group's member cells — members are stored in
    * ascending global-id order, so the strict-< scan keeps the
    * lowest-global-id tie policy within the group. Per-row cost
    * O(g + k/g) instead of O(k). */
  def twoLevelNearest(arr: ArrayData, isFloat: Boolean,
                      groupCents: Array[Array[Double]],
                      g2: Array[Double],
                      members: Array[Array[Int]],
                      cents: Array[Array[Double]],
                      c2: Array[Double], replayExact: Boolean): Int = {
    // stage 1: group argmin
    var best = Double.PositiveInfinity
    var bestG = 0
    var j = 0
    while (j < groupCents.length) {
      val c = groupCents(j)
      val n = math.min(arr.numElements(), c.length)
      var acc = 0.0d
      var i = 0
      if (isFloat) {
        while (i < n) { acc += arr.getFloat(i).toDouble * c(i); i += 1 }
      } else {
        while (i < n) { acc += arr.getDouble(i) * c(i); i += 1 }
      }
      var s = g2(j) - 2.0d * acc
      if (replayExact) s = round6(s)
      if (s < best) { best = s; bestG = j }
      j += 1
    }
    // stage 2: cell argmin restricted to the winning group's members
    val mem = members(bestG)
    best = Double.PositiveInfinity
    var bestCell = if (mem.length > 0) mem(0) else 0
    var mIdx = 0
    while (mIdx < mem.length) {
      val cell = mem(mIdx)
      val c = cents(cell)
      val n = math.min(arr.numElements(), c.length)
      var acc = 0.0d
      var i = 0
      if (isFloat) {
        while (i < n) { acc += arr.getFloat(i).toDouble * c(i); i += 1 }
      } else {
        while (i < n) { acc += arr.getDouble(i) * c(i); i += 1 }
      }
      var s = c2(cell) - 2.0d * acc
      if (replayExact) s = round6(s)
      if (s < best) { best = s; bestCell = cell }
      mIdx += 1
    }
    bestCell
  }

  /** Per-cell (round₆(c²_j − 2·⟨v,c_j⟩), ⟨v,c_j⟩) score table —
    * [[CellScores]]' scan. Same widening/summation/round discipline
    * as [[nearest]]; the raw dot rides along because the probe path
    * carries ⟨q, c_cell⟩ into the residual ADC. */
  def cellScores(arr: ArrayData, isFloat: Boolean,
                 cents: Array[Array[Double]],
                 c2: Array[Double]): ArrayData = {
    val out = new Array[Any](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(arr.numElements(), c.length)
      var acc = 0.0d
      var i = 0
      if (isFloat) {
        while (i < n) { acc += arr.getFloat(i).toDouble * c(i); i += 1 }
      } else {
        while (i < n) { acc += arr.getDouble(i) * c(i); i += 1 }
      }
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        round6(c2(j) - 2.0d * acc), acc)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** argmin_j round₆(offs[cell][j] − 2·dcs[j]) — [[OffsetArgmin]]'s
    * scan; null on an out-of-table cell id (a DELIBERATE divergence
    * from the replaced algebra, which on an OOB cell nulls every
    * struct score and its nulls-first argmin returns j=0 — see the
    * case-class scaladoc). */
  def offsetArgmin(cell: Long, dcs: ArrayData,
                   offs: Array[Array[Double]]): Integer = {
    if (cell < 0 || cell >= offs.length) return null
    val row = offs(cell.toInt)
    val n = math.min(row.length, dcs.numElements())
    var best = Double.PositiveInfinity
    var bestJ = -1
    var j = 0
    while (j < n) {
      val s = round6(row(j) - 2.0d * dcs.getDouble(j))
      if (s < best) { best = s; bestJ = j }
      j += 1
    }
    if (bestJ < 0) null else Integer.valueOf(bestJ)
  }
}

/** Residual-PQ code assignment under a cell-dependent offset table —
  * the second literal-inlined argmin in the coding path ([[NearestCell]]'s
  * scaladoc): code_sub = argmin_j round₆(off[cell][sub][j] − 2·dc_j),
  * where the dc_j dot products are already projected as columns. The
  * algebra form (`element_at(array(ncells literals), cell+1)` per
  * (sub, j)) inlines 4·8·ncells literal nodes — 45k at the 1000×
  * reindex cell count — and suffers the same janino 64 KB fallback.
  * `offs` ([cell][j] for ONE subspace) rides addReferenceObj.
  * Parity: identical round/tie semantics to the algebra for every
  * in-table cell id — the only ids [[NearestCell]] can produce
  * ([0, k)), which is the pinned domain (SaltingAndIvfSpec). On an
  * out-of-table cell id the kernel INTENTIONALLY DIVERGES: it
  * returns null (no code assignable), where the algebra's
  * `element_at` OOB null propagates into every struct score and the
  * nulls-first struct argmin silently yields j=0 — a wrong-looking
  * "first sub-centroid" code for a row that matched no cell. Null is
  * the honest answer; the divergence is unreachable on the engine's
  * own coding path. */
case class OffsetArgmin(cell: Expression, dcs: Expression,
                        offs: IndexedSeq[IndexedSeq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = cell
  override def right: Expression = dcs
  override def dataType: DataType = IntegerType
  override def prettyName: String = "offset_argmin"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (cell.dataType, dcs.dataType) match {
      case (IntegerType | LongType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"offset_argmin requires (int|long cell, array<double> dcs), got $other")
    }

  @transient private lazy val offArr: Array[Array[Double]] =
    offs.map(_.toArray).toArray

  override protected def nullSafeEval(c: Any, d: Any): Any = {
    val cellIdx = c match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case l: Long => l
      case i: Int => i.toLong
    }
    NearestCellUtil.offsetArgmin(cellIdx, d.asInstanceOf[ArrayData], offArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val oRef = ctx.addReferenceObj("offs", offArr, "double[][]")
    // fresh name: 4 OffsetArgmins (one per subspace) share one codegen
    // scope — a literal `r` redefines and janino rejects the stage
    // (the DotProduct loop-variable lesson)
    val r = ctx.freshName("oam")
    nullSafeCodeGen(ctx, ev, (c, d) => {
      s"""
         |Object $r = graft.plans.NearestCellUtil.offsetArgmin((long) $c, $d, $oRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Integer) $r).intValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OffsetArgmin =
    copy(cell = newLeft, dcs = newRight)
}

/** Query-side cell scoring as ONE native expression — the probe
  * phase's twin of [[NearestCell]]: for a query vector, the full
  * per-cell table struct(cs = round₆(c²_j − 2·⟨v,c_j⟩), qd =
  * ⟨v,c_j⟩), posexploded by the caller into (cell, cscore, qcdot)
  * rows for the probe ranking. The Column-algebra form it replaces
  * (`array(ncells × struct(round(lit(c²)−2·DotProduct(v, 64
  * literals)), dot))`) inlines k·dim literal nodes and hits janino's
  * 64 KB method limit at reindex cell counts (the r17 1000× dump
  * logged the interpreted fallback on the query frame — bounded by
  * |Q| but the last fallback site in the ANN family). Centroids ride
  * `ctx.addReferenceObj`; codegen is one static call at any cell
  * count. Parity with the algebra is pinned in SaltingAndIvfSpec
  * (same widening, summation order, HALF_UP 6-dp round on cs, raw
  * dot on qd). `cents` is IndexedSeq-of-IndexedSeq for CSE (the
  * ClassifierMargin lesson). */
case class CellScores(child: Expression,
                      cents: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cs", DoubleType, nullable = false),
      StructField("qd", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cell_scores"

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cell_scores requires an array<float|double> child, got $other")
  }

  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val c2Arr: Array[Double] =
    centArr.map(c => c.map(x => x * x).sum)

  override protected def nullSafeEval(v: Any): Any =
    NearestCellUtil.cellScores(v.asInstanceOf[ArrayData],
      elemType == FloatType, centArr, c2Arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val c2Ref = ctx.addReferenceObj("c2s", c2Arr, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.plans.NearestCellUtil.cellScores(
         |  $v, ${elemType == FloatType}, $cRef, $c2Ref);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CellScores =
    copy(child = newChild)
}

/** Hierarchical (two-level) nearest-cell assignment — the executable
  * form of the autoCells scaladoc's "past wide cell counts, go
  * hierarchical": stage 1 argmins over ~√k GROUP centroids, stage 2
  * argmins over the winning group's member cells only, cutting the
  * per-row coding cost from O(k) to O(√k). At the √n reindex rule
  * that turns the full re-code pass from O(n·√n) into O(n·n^¼) — the
  * r18 10,000× board's one super-linear growth law, removed.
  *
  * SEMANTICS, not an approximation of [[NearestCell]]: the index's
  * assignment function IS this deterministic two-level rule when the
  * cell count exceeds Similarity.TwoLevelThreshold (a vector whose
  * globally-nearest cell lives outside its nearest GROUP lands in the
  * best cell of its group — standard coarse-quantizer behavior, cf.
  * the inverted-multi-index family). Both engines replay the same
  * rule: the grouping is a deterministic driver-side function of the
  * centroid table (Similarity.groupCells), so the oracle SQL rebuilds
  * the identical (groupCents, members) literals from the stored
  * centroids. Same round₆/strict-< discipline as [[NearestCell]] in
  * both stages; members ascend by global id so in-group ties keep the
  * lowest-id policy. Group/member/centroid tables ride
  * `ctx.addReferenceObj`; IndexedSeq fields for CSE canonicalization
  * (the ClassifierMargin lesson). */
case class TwoLevelCell(child: Expression,
                        groupCents: IndexedSeq[IndexedSeq[Double]],
                        members: IndexedSeq[IndexedSeq[Int]],
                        cents: IndexedSeq[IndexedSeq[Double]],
                        replayExact: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "two_level_cell"

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"two_level_cell requires an array<float|double> child, got $other")
  }

  @transient private lazy val gArr: Array[Array[Double]] =
    groupCents.map(_.toArray).toArray
  @transient private lazy val g2Arr: Array[Double] =
    gArr.map(c => c.map(x => x * x).sum)
  @transient private lazy val memArr: Array[Array[Int]] =
    members.map(_.toArray).toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val c2Arr: Array[Double] =
    centArr.map(c => c.map(x => x * x).sum)

  override protected def nullSafeEval(v: Any): Any =
    NearestCellUtil.twoLevelNearest(v.asInstanceOf[ArrayData],
      elemType == FloatType, gArr, g2Arr, memArr, centArr, c2Arr,
      replayExact)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gRef = ctx.addReferenceObj("gcents", gArr, "double[][]")
    val g2Ref = ctx.addReferenceObj("g2s", g2Arr, "double[]")
    val mRef = ctx.addReferenceObj("members", memArr, "int[][]")
    val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val c2Ref = ctx.addReferenceObj("c2s", c2Arr, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.plans.NearestCellUtil.twoLevelNearest(
         |  $v, ${elemType == FloatType}, $gRef, $g2Ref, $mRef, $cRef, $c2Ref, $replayExact);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelCell =
    copy(child = newChild)
}
