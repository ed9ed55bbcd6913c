package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen'd dot product over array<float>/array<double> columns.
  *
  * Why a custom Catalyst Expression: Spark's higher-order functions
  * (`aggregate`, `zip_with`) are interpreted per element — a lambda
  * closure allocation and virtual dispatch per array slot — and they
  * break whole-stage codegen. For pairwise similarity over N×N candidate
  * pairs × 64 dims that interpretation dominated the entire benchmark
  * (97 s of a 140 s total at sf0.1). This expression compiles to a tight
  * primitive loop inside whole-stage codegen (preference order (b) of the
  * build brief: native Expression with doGenCode beats a Scala UDF).
  *
  * Accumulation is sequential left-to-right in double, identical to the
  * `aggregate(zip_with(...))` formulation it replaces, so results are
  * bit-for-bit unchanged — including on LENGTH MISMATCH, where zip_with
  * null-pads the shorter side and the aggregate propagates null: a
  * mismatched pair yields null, never a silently-truncated product.
  * Array elements must be non-null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true // null on length mismatch

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType | ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"DotProduct requires array<float|double|tinyint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def get(x: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType => x.getFloat(i).toDouble
    case ByteType  => x.getByte(i).toDouble
    case _         => x.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      val lt = elemType(left)
      val rt = elemType(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += get(x, lt, i) * get(y, rt, i)
        i += 1
      }
      acc
    }
  }

  private def getter(dt: DataType): String = dt match {
    case FloatType => "getFloat"
    case ByteType  => "getByte"
    case _         => "getDouble"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = getter(elemType(left))
    val rGet = getter(elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Densify sparse (index, value) entries into a fixed-width
  * array<float> — the hashing-trick feature-assembly step
  * ([[graft.operators.Classifier.hashedBow]]).
  *
  * Why a custom Expression: the declarative alternatives are all
  * super-linear per row — `element_at` over a `map_from_entries` map is
  * a LINEAR SCAN of the map per probed index (O(width × entries) per
  * doc), and an `aggregate` HOF rebuilding an immutable array per entry
  * is O(width × entries) allocations — where this is one float[width]
  * allocation and one pass over the entries, O(width + entries), inside
  * whole-stage codegen. Entries out of [0, width) are ignored (callers
  * pmod first); duplicate indices accumulate. */
case class SparseFill(child: Expression, width: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(f0, f1)), _)
        if f0.dataType == IntegerType && f1.dataType == DoubleType =>
      if (width > 0) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"width must be positive, got $width")
    case t => TypeCheckResult.TypeCheckFailure(
      s"SparseFill requires array<struct<int,double>> input, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val entries = a.asInstanceOf[ArrayData]
    val out = new Array[Float](width)
    var i = 0
    val n = entries.numElements()
    while (i < n) {
      // null entries and null fields are SKIPPED (the type check can't
      // forbid them — ArrayType/StructType nullability is advisory)
      if (!entries.isNullAt(i)) {
        val e = entries.getStruct(i, 2)
        if (!e.isNullAt(0) && !e.isNullAt(1)) {
          val b = e.getInt(0)
          if (b >= 0 && b < width) out(b) += e.getDouble(1).toFloat
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val e = ctx.freshName("e")
      val b = ctx.freshName("b")
      s"""
         |float[] $out = new float[$width];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    org.apache.spark.sql.catalyst.InternalRow $e = $a.getStruct($i, 2);
         |    if (!$e.isNullAt(0) && !$e.isNullAt(1)) {
         |      int $b = $e.getInt(0);
         |      if ($b >= 0 && $b < $width) $out[$b] += (float) $e.getDouble(1);
         |    }
         |  }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SparseFill =
    copy(child = newChild)
}

/** All L random-hyperplane LSH signatures of a vector in ONE expression:
  * array of `numTables` longs, table t's H-bit signature at index t.
  *
  * Why a custom Expression: the Column formulation —
  * `array(lshBucket(t=0), ..., lshBucket(t=L-1))`, each bucket H
  * `when(DotProduct(v, literal plane) > 0, 1L << h)` terms — inlines
  * L·H·dim literal doubles into the projection's generated Java. At the
  * planner-sized 11-plane/79-table banding that class crosses janino's
  * 64 KB method limit ("Code grows beyond 64 KB"), and Spark silently
  * evaluates the signing stage INTERPRETED at exactly the large configs
  * where LSH is working hardest (measured: 33 s candidate stage at
  * 11x79/sf0.1). Here the plane matrix is one flat double[] reference
  * object and signing is a three-deep primitive loop — generated code
  * size is constant in L/H/dim, fully inside whole-stage codegen. Same
  * rationale as [[PqEncode]].
  *
  * Bit-compatible with the formulation it replaces: per plane a
  * sequential left-to-right double dot ([[DotProduct]] order — double
  * multiply is commutative, so operand order is immaterial), sign test
  * `> 0`, bit h set via exact power-of-two addition. A null vector or a
  * length-mismatched vector yields ALL-ZERO signatures, exactly as
  * `when(null > 0, ...).otherwise(0)` summed did — never a null array —
  * so the expression is non-nullable. Array elements must be non-null
  * (the DotProduct contract).
  *
  * `planes` is laid out (t·numPlanes + h)·dim + d. */
case class SignBands(child: Expression, planes: Array[Double],
    numPlanes: Int, numTables: Int, dim: Int)
    extends UnaryExpression {

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      if (numPlanes < 1 || numPlanes > 60 || numTables < 1 || dim < 1)
        TypeCheckResult.TypeCheckFailure(
          s"SignBands needs 1<=numPlanes<=60, numTables>=1, dim>=1, " +
            s"got ($numPlanes, $numTables, $dim)")
      else if (planes.length != numTables * numPlanes * dim)
        TypeCheckResult.TypeCheckFailure(
          s"SignBands: plane matrix length ${planes.length} != " +
            s"$numTables*$numPlanes*$dim")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SignBands requires array<float|double> input, got ${other.simpleString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Long](numTables)
    val a = child.eval(input)
    if (a != null) {
      val v = a.asInstanceOf[ArrayData]
      if (v.numElements() == dim) {
        val fl = isFloat
        var t = 0
        while (t < numTables) {
          var sig = 0L
          var h = 0
          while (h < numPlanes) {
            var acc = 0.0
            val off = (t * numPlanes + h) * dim
            var i = 0
            while (i < dim) {
              val e = if (fl) v.getFloat(i).toDouble else v.getDouble(i)
              acc += e * planes(off + i)
              i += 1
            }
            if (acc > 0) sig |= (1L << h)
            h += 1
          }
          out(t) = sig
          t += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val pRef = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    val out = ctx.freshName("out")
    val t = ctx.freshName("t")
    val h = ctx.freshName("h")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    val sig = ctx.freshName("sig")
    val off = ctx.freshName("off")
    val resultCode =
      code"""
         |${childGen.code}
         |long[] $out = new long[$numTables];
         |if (!${childGen.isNull} && ${childGen.value}.numElements() == $dim) {
         |  for (int $t = 0; $t < $numTables; $t++) {
         |    long $sig = 0L;
         |    for (int $h = 0; $h < $numPlanes; $h++) {
         |      double $acc = 0.0;
         |      int $off = ($t * $numPlanes + $h) * $dim;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $acc += ((double) ${childGen.value}.$get($i)) * $pRef[$off + $i];
         |      }
         |      if ($acc > 0) $sig |= (1L << $h);
         |    }
         |    $out[$t] = $sig;
         |  }
         |}
         |org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBands =
    copy(child = newChild)
}

/** Packs L H-bit LSH signatures into ⌈L/(60/H)⌉ longs (lane layout of
  * [[graft.operators.Similarity.lshCandidates]]): output j ORs together
  * `bks(t) << ((t − j·lanes)·numPlanes)` for the tables in its lane
  * group. One expression instead of nPk shiftleft/element_at/OR Column
  * chains — at 79 tables those chains (with [[FirstCollision]]'s CASE
  * tower) pushed the stage's generated methods past HotSpot's 8 KB JIT
  * ceiling, so janino SUCCEEDED but the JVM ran the stage in its
  * bytecode interpreter: measured 2× slower than even Spark's
  * expression-interpreted fallback. Tiny constant-size code here keeps
  * the whole stage JIT-compiled. */
case class PackLanes(child: Expression, numPlanes: Int, numTables: Int)
    extends UnaryExpression {

  private def lanes: Int = math.max(1, 60 / numPlanes)
  private def nPk: Int = (numTables + lanes - 1) / lanes

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) =>
      if (numPlanes < 1 || numPlanes > 60 || numTables < 1)
        TypeCheckResult.TypeCheckFailure(
          s"PackLanes needs 1<=numPlanes<=60 and numTables>=1, got ($numPlanes, $numTables)")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"PackLanes requires array<bigint> signatures, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bks = input.asInstanceOf[ArrayData]
    val out = new Array[Long](nPk)
    if (bks.numElements() == numTables) {
      var t = 0
      while (t < numTables) {
        out(t / lanes) |= bks.getLong(t) << ((t % lanes) * numPlanes)
        t += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bks => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      s"""
         |long[] $out = new long[$nPk];
         |if ($bks.numElements() == $numTables) {
         |  for (int $t = 0; $t < $numTables; $t++) {
         |    $out[$t / $lanes] |= $bks.getLong($t) << (($t % $lanes) * $numPlanes);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackLanes =
    copy(child = newChild)
}

/** First table index where two lane-packed signature sets collide —
  * exact lane equality, or Hamming ≤ 1 under multiprobe (`f & (f−1) == 0`
  * tests popcount ≤ 1 without a bit_count call) — or null when none do.
  * Replaces the `least(when(collides(0), 0), ..., when(collides(L−1),
  * L−1))` Column tower that ran per JOINED row (collision mass × L
  * terms) and, at 79 tables, helped push the join stage past the JIT's
  * huge-method ceiling (see [[PackLanes]]). Null/short inputs yield
  * null, matching least-of-all-null. */
case class FirstCollision(left: Expression, right: Expression,
    numPlanes: Int, numTables: Int, multiProbe: Boolean)
    extends BinaryExpression {

  private def lanes: Int = math.max(1, 60 / numPlanes)
  private def nPk: Int = (numTables + lanes - 1) / lanes
  private def laneMask: Long = (1L << numPlanes) - 1

  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ok(left) || !ok(right)) TypeCheckResult.TypeCheckFailure(
      s"FirstCollision requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    else if (numPlanes < 1 || numPlanes > 60 || numTables < 1)
      TypeCheckResult.TypeCheckFailure(
        s"FirstCollision needs 1<=numPlanes<=60 and numTables>=1, got ($numPlanes, $numTables)")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != nPk || y.numElements() != nPk) return null
    var t = 0
    while (t < numTables) {
      val off = (t % lanes) * numPlanes
      val f = ((x.getLong(t / lanes) ^ y.getLong(t / lanes)) >> off) & laneMask
      if (if (multiProbe) (f & (f - 1)) == 0 else f == 0) return t
      t += 1
    }
    null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val t = ctx.freshName("t")
      val f = ctx.freshName("f")
      val off = ctx.freshName("off")
      val hit = ctx.freshName("hit")
      val test = if (multiProbe) s"($f & ($f - 1L)) == 0L" else s"$f == 0L"
      s"""
         |if ($a.numElements() != $nPk || $b.numElements() != $nPk) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $hit = false;
         |  for (int $t = 0; $t < $numTables && !$hit; $t++) {
         |    int $off = ($t % $lanes) * $numPlanes;
         |    long $f = (($a.getLong($t / $lanes) ^ $b.getLong($t / $lanes)) >> $off) & ${laneMask}L;
         |    if ($test) { ${ev.value} = $t; $hit = true; }
         |  }
         |  ${ev.isNull} = !$hit;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstCollision =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface for the vector expressions. */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def normSq(a: Column): Column = dot(a, a)

  /** Driver-side twin of [[normSq]]: Σ x², accumulated left to right in
    * double, so a collected vector's norm is bit-identical to the
    * column's. */
  def normSq(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  def norm(v: Array[Double]): Double = math.sqrt(normSq(v))

  /** Zero-norm-safe cosine from a precomputed dot and the two norms:
    * a zero-norm vector is DEFINED orthogonal to everything (cos = 0),
    * so it never crosses a positive threshold and sorts last under
    * top-k — and the division never executes when the denominator is
    * 0, which keeps the whole cosine family ANSI-mode safe
    * (spark.sql.ansi.enabled would otherwise raise DIVIDE_BY_ZERO
    * where non-ANSI silently dropped the pair as NaN). */
  def cosFrom(dot: Column, normA: Column, normB: Column): Column = {
    val den = normA * normB
    org.apache.spark.sql.functions.when(den > 0d, dot / den).otherwise(0d)
  }

  /** Driver-side scalar twin of [[cosFrom]] — same cos = 0 semantics
    * for the mapPartitions / collected-centroid code paths. */
  @inline def cosScalar(dot: Double, normA: Double, normB: Double): Double = {
    val den = normA * normB
    if (den > 0) dot / den else 0.0
  }

  def sparseFill(entries: Column, width: Int): Column =
    ColumnBridge.column(SparseFill(ColumnBridge.expression(entries), width))

  def signBands(v: Column, planes: Array[Double],
      numPlanes: Int, numTables: Int, dim: Int): Column =
    ColumnBridge.column(SignBands(
      ColumnBridge.expression(v), planes, numPlanes, numTables, dim))

  def packLanes(bks: Column, numPlanes: Int, numTables: Int): Column =
    ColumnBridge.column(PackLanes(
      ColumnBridge.expression(bks), numPlanes, numTables))

  def firstCollision(a: Column, b: Column, numPlanes: Int, numTables: Int,
      multiProbe: Boolean): Column =
    ColumnBridge.column(FirstCollision(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      numPlanes, numTables, multiProbe))
}
