package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression, UnsafeArrayData, UnsafeProjection, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Native vector math for the similarity operators (SURVEY.md §2.11).
  *
  * Same rationale as MinHashLsh: the higher-order-function equivalents
  * (`aggregate(zip_with(a,b,*),0,+)`) evaluate interpreted — one boxed
  * lambda call per element per row. Inside a crossJoin these are the
  * innermost loop of brute-force similarity: at 10⁶ pairs × 64 dims
  * that is 10⁸ interpreted lambda dispatches where a fused JIT loop
  * does 10⁸ fused multiply-adds.
  *
  * Every expression here implements doGenCode, so it fuses INTO
  * whole-stage codegen (no per-row virtual call, no codegen fence
  * around the join's innermost loop). The interpreted nullSafeEval
  * mirrors the generated loop exactly — summation order is sequential
  * (index 0..n-1), matching the HOF fold, so oracle-rounded similarity
  * values are identical on both paths. The nearest-centroid kernel
  * (NearestExpr) calls one shared body from both paths instead.
  */
object VectorExprs {

  /** Σ a(i)·b(i); null if either side or any element is null; arrays
    * must be the same length (mismatch → null, mirroring zip_with's
    * null-padding propagation). */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(
      DotExpr(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** √(Σ x²) — L2 norm. */
  def norm(a: Column): Column =
    ColumnShim.column(NormExpr(ColumnShim.expression(a)))

  /** Sign-random-projection signature: bit b of the result is the sign
    * of Σ_d s(b,d)·vec(d), with s(b,d) ∈ {−1, +1} derived from
    * xxhash64(b·γ + d) — a deterministic projection matrix that never
    * materializes. */
  def srpSign(vec: Column, bits: Int): Column =
    ColumnShim.column(SrpSignExpr(ColumnShim.expression(vec), bits))

  /** The `k` nearest centroid ids of `v` (with L2 norm `vnorm`) in one
    * centroid table — `cids` array<long>, `cvecs` array<array<double>>,
    * `cnorms` array<double>, index-aligned — as array<long>, best
    * first. Scores are `cosine(v, c)`, rounded half-up at `digits`
    * when given; see NearestExpr for the order. */
  def nearest(v: Column, vnorm: Column, cids: Column, cvecs: Column,
      cnorms: Column, k: Int, digits: Option[Int]): Column =
    ColumnShim.column(NearestExpr(ColumnShim.expression(v),
      ColumnShim.expression(vnorm), ColumnShim.expression(cids),
      ColumnShim.expression(cvecs), ColumnShim.expression(cnorms), k, digits))

  /** `row` as a column of type `schema`, shipped to executors by one
    * Spark broadcast variable (see BroadcastRowExpr). */
  def broadcastRow(spark: SparkSession, schema: StructType,
      row: InternalRow): Column = {
    val unsafe = UnsafeProjection.create(schema)(row).copy()
    ColumnShim.column(BroadcastRowExpr(
      spark.sparkContext.broadcast[InternalRow](unsafe), schema))
  }

  /** The NearestExpr body, shared by its interpreted and generated
    * paths so both score and order bit-identically. Null when the
    * table arrays disagree in length; a null `v` or `vnorm` scores
    * null against every centroid; a null cid is not a centroid. */
  def nearestIds(v: ArrayData, vnormNull: Boolean, vnorm: Double,
      cids: ArrayData, cvecs: ArrayData, cnorms: ArrayData,
      k: Int, rounded: Boolean, digits: Int): ArrayData = {
    val n = cids.numElements()
    if (cvecs.numElements() != n || cnorms.numElements() != n) return null
    val kk = math.min(k, n)
    val bestCid = new Array[Long](kk)
    val bestScore = new Array[Double](kk)
    val bestNull = new Array[Boolean](kk)
    var filled = 0
    val vOk = v != null && !vnormNull
    var j = 0
    while (j < n) {
      if (!cids.isNullAt(j)) {
        val cid = cids.getLong(j)
        var sNull = true
        var s = 0.0
        if (vOk && !cvecs.isNullAt(j) && !cnorms.isNullAt(j)) {
          val c = cvecs.getArray(j)
          val m = v.numElements()
          if (m == c.numElements()) {
            // DotExpr's sequential fold, then Catalyst's
            // dot / nullif(vnorm * cnorm, 0) and Round (HALF_UP)
            var acc = 0.0
            var i = 0
            while (i < m && !v.isNullAt(i) && !c.isNullAt(i)) {
              acc += v.getDouble(i) * c.getDouble(i)
              i += 1
            }
            val prod = vnorm * cnorms.getDouble(j)
            if (i == m && prod != 0.0) {
              s = acc / prod
              if (rounded && !s.isNaN && !s.isInfinite)
                s = java.math.BigDecimal.valueOf(s)
                  .setScale(digits, java.math.RoundingMode.HALF_UP).doubleValue()
              sNull = false
            }
          }
        }
        // insertion into the best-first buffer
        var p = filled
        while (p > 0 &&
            ranksBefore(sNull, s, cid, bestNull(p - 1), bestScore(p - 1),
              bestCid(p - 1))) p -= 1
        if (p < kk) {
          val last = math.min(filled, kk - 1)
          System.arraycopy(bestCid, p, bestCid, p + 1, last - p)
          System.arraycopy(bestScore, p, bestScore, p + 1, last - p)
          System.arraycopy(bestNull, p, bestNull, p + 1, last - p)
          bestCid(p) = cid
          bestScore(p) = s
          bestNull(p) = sNull
          if (filled < kk) filled += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (filled == kk) bestCid else java.util.Arrays.copyOf(bestCid, filled))
  }

  /** Score descending with nulls last (Spark's double order: NaN
    * highest, -0.0 == 0.0), then the smallest cid. */
  private def ranksBefore(aNull: Boolean, a: Double, aCid: Long,
      bNull: Boolean, b: Double, bCid: Long): Boolean =
    if (aNull != bNull) bNull
    else {
      val c = if (aNull) 0 else SQLOrderingUtil.compareDoubles(a, b)
      c > 0 || (c == 0 && aCid < bCid)
    }

  private[plans] def requireDoubleArray(
      name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$name needs array<double>, got $other")
  }
}

case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // null on length mismatch / null element, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.requireDoubleArray("dot", left.dataType) match {
      case TypeCheckResult.TypeCheckSuccess =>
        VectorExprs.requireDoubleArray("dot", right.dataType)
      case fail => fail
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc: java.lang.Double
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotExpr = copy(left = l, right = r)
}

case class NormExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.requireDoubleArray("vec_norm", child.dataType)

  override def nullSafeEval(input: Any): Any =
    NormExpr.of(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $v = $a.getDouble($i);
         |  $acc += $v * $v;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = java.lang.Math.sqrt($acc);
         |}
       """.stripMargin
    })

  override def prettyName: String = "vec_norm"
  override protected def withNewChildInternal(c: Expression): NormExpr =
    copy(child = c)
}

object NormExpr {
  /** √(Σ x²) in index order; null if any element is null — the fold
    * the generated code runs, for driver-side norms. */
  def of(x: ArrayData): java.lang.Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i)
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }
}

/** Nearest-centroid kernel `vec_nearest(v, vnorm, cids, cvecs, cnorms,
  * k, digits)`: the `k` best centroid ids of `v` as array<long>.
  *
  * Centroid j scores `dot(v, c_j) / nullif(vnorm * cnorm_j, 0)`,
  * rounded at `digits` unless it is None (SQL: NULL): DotExpr's fold
  * and Round's HALF_UP on the decimal string, so the score is
  * bit-identical to the Catalyst expression. Order: score descending,
  * null scores last, ties to the smallest cid — the order of both
  * `max(struct(score, -cid))` and a `(score DESC NULLS LAST, cid)`
  * row_number. So element 0 with k = 1 is the argmax assignment and
  * k = nprobe the probe list, computed map-side with no
  * per-(row, centroid) rows.
  *
  * Fewer than k ids only when the table has fewer; null when a table
  * column is null or their lengths disagree.
  */
case class NearestExpr(v: Expression, vnorm: Expression, cids: Expression,
    cvecs: Expression, cnorms: Expression, k: Int, digits: Option[Int])
    extends Expression {
  require(k > 0, "vec_nearest needs k >= 1")

  override def children: Seq[Expression] = Seq(v, vnorm, cids, cvecs, cnorms)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    // element nullability is not checked: null elements score null
    def fits(dt: DataType, want: DataType): Boolean = (dt, want) match {
      case (ArrayType(e, _), ArrayType(w, _)) => fits(e, w)
      case _ => dt == want
    }
    val dbl = ArrayType(DoubleType)
    Seq(v -> dbl, vnorm -> DoubleType, cids -> ArrayType(LongType),
        cvecs -> ArrayType(dbl), cnorms -> dbl)
      .collectFirst { case (e, want) if !fits(e.dataType, want) =>
        TypeCheckResult.TypeCheckFailure(s"vec_nearest needs " +
          s"${want.simpleString} for ${e.sql}, got ${e.dataType.simpleString}")
      }
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override def eval(input: InternalRow): Any = {
    val ids = cids.eval(input)
    val vecs = cvecs.eval(input)
    val norms = cnorms.eval(input)
    if (ids == null || vecs == null || norms == null) return null
    val nv = vnorm.eval(input)
    VectorExprs.nearestIds(v.eval(input).asInstanceOf[ArrayData],
      nv == null, if (nv == null) 0.0 else nv.asInstanceOf[Double],
      ids.asInstanceOf[ArrayData], vecs.asInstanceOf[ArrayData],
      norms.asInstanceOf[ArrayData], k, digits.isDefined, digits.getOrElse(0))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(ve, ne, ie, ce, me) = children.map(_.genCode(ctx))
    val kernel = VectorExprs.getClass.getName + ".MODULE$"
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${ve.code}
      ${ne.code}
      ${ie.code}
      ${ce.code}
      ${me.code}
      boolean ${ev.isNull} = ${ie.isNull} || ${ce.isNull} || ${me.isNull};
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.nearestIds(${ve.isNull} ? null : ${ve.value},
          ${ne.isNull}, ${ne.value}, ${ie.value}, ${ce.value}, ${me.value},
          $k, ${digits.isDefined}, ${digits.getOrElse(0)});
        ${ev.isNull} = ${ev.value} == null;
      }
    """)
  }

  override def prettyName: String = "vec_nearest"
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): NearestExpr =
    copy(v = c(0), vnorm = c(1), cids = c(2), cvecs = c(3), cnorms = c(4))
}

/** One driver-held row, shipped to executors by a Spark broadcast
  * variable: once per executor, not inside every task's plan, and
  * never folded into constants — a literal table would be serialized
  * with each task and would compile fresh code for each table. A
  * non-foldable leaf, so Catalyst keeps it as a reference. */
case class BroadcastRowExpr(row: Broadcast[InternalRow], dataType: StructType)
    extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = row.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bcRow", row, classOf[Broadcast[_]].getName)
    ev.copy(code = code"final InternalRow ${ev.value} = (InternalRow) $ref.value();",
      isNull = FalseLiteral)
  }

  override def toString: String = s"broadcast_row(${row.id})"
}

case class SrpSignExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits > 0 && bits <= 63, "bits must be in 1..63")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.requireDoubleArray("srp_sign", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    var sig = 0L
    var b = 0
    while (b < bits) {
      val base = b.toLong * MinHashLsh.GoldenGamma
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (x.isNullAt(d)) return null
        val sign =
          if ((XXH64.hashLong(base + d, MinHashLsh.Seed) & 1L) == 1L) 1.0
          else -1.0
        acc += sign * x.getDouble(d)
        d += 1
      }
      if (acc >= 0) sig |= (1L << b)
      b += 1
    }
    sig: java.lang.Long
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val sig = ctx.freshName("sig")
      val base = ctx.freshName("base")
      val sgn = ctx.freshName("sgn")
      val xxh = classOf[XXH64].getName
      s"""
         |final int $n = $a.numElements();
         |long $sig = 0L;
         |for (int $b = 0; $b < $bits && !${ev.isNull}; $b++) {
         |  final long $base = (long) $b * ${MinHashLsh.GoldenGamma}L;
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    if ($a.isNullAt($d)) { ${ev.isNull} = true; break; }
         |    final double $sgn =
         |      (($xxh.hashLong($base + $d, ${MinHashLsh.Seed}L) & 1L) == 1L)
         |        ? 1.0 : -1.0;
         |    $acc += $sgn * $a.getDouble($d);
         |  }
         |  if (!${ev.isNull} && $acc >= 0) $sig |= (1L << $b);
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })

  override def prettyName: String = "srp_sign"
  override protected def withNewChildInternal(c: Expression): SrpSignExpr =
    copy(child = c)
}
