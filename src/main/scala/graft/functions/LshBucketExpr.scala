package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression computing the random-hyperplane LSH bucket
  * of an embedding (`array<float>` or `array<double>`) — `nPlanes`
  * sign-bits of integer hyperplane dot products packed into a long.
  *
  * Why a custom expression: the Column-algebra formulation inlines
  * nPlanes × dim (= 768) `element_at` terms, which blows up whole-stage
  * codegen (~4 s compile per query in round 1) and falls back to
  * interpreted eval for large trees. Here `doGenCode` emits a compact
  * two-level loop — O(nPlanes·dim) compiled arithmetic per row, fully
  * inside whole-stage codegen, zero shuffle (the operator stays
  * map-side, which is what makes LSH the 100 TB ANN path).
  *
  * Portability contract (oracle parity): elements are quantized to
  * integer micro-units — floor(x · 2^20) — and all dot-product
  * arithmetic is integer, so the result is exact, associative, and
  * engine-portable (float→double is exact, ×2^20 is exact power-of-two
  * scaling, floor is IEEE-exact; DuckDB reproduces it verbatim).
  * Plane weights are the deterministic grid
  * `((p·73 + d·31) % 19) − 9 ∈ [−9, 9]` — no weight table to ship.
  *
  * Null elements (parquet list elements are `optional`, so Spark reads
  * `containsNull = true` even for never-null data): a null element makes
  * every plane's SQL sum NULL, `NULL > 0` is false, every bit falls to
  * 0 — so the expression returns bucket 0, matching the oracle instead
  * of reading garbage from the null slot.
  */
case class LshBucketExpr(child: Expression, nPlanes: Int, dim: Int)
    extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 63, "bucket bits must fit a long")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires array<float> or array<double>, got ${other.sql}")
  }

  override def dataType: DataType = LongType

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    val n = math.min(dim, arr.numElements())
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var s = 0L
      var d = 0
      while (d < n) {
        val x = if (isF) arr.getFloat(d).toDouble else arr.getDouble(d)
        val qx = math.floor(x * 1048576.0).toLong
        s += qx * (((p * 73 + d * 31) % 19) - 9)
        d += 1
      }
      if (s > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val bk = ctx.freshName("lshBucket")
      val nn = ctx.freshName("lshN")
      val pp = ctx.freshName("lshP")
      val ss = ctx.freshName("lshS")
      val d = ctx.freshName("lshD")
      val qx = ctx.freshName("lshQx")
      val getX = if (elemIsFloat) s"(double) $arr.getFloat($d)" else s"$arr.getDouble($d)"
      val hasNull = ctx.freshName("lshHasNull")
      val ni = ctx.freshName("lshNi")
      s"""
         |long $bk = 0L;
         |int $nn = java.lang.Math.min($dim, $arr.numElements());
         |boolean $hasNull = false;
         |for (int $ni = 0; $ni < $nn; $ni++) {
         |  if ($arr.isNullAt($ni)) { $hasNull = true; break; }
         |}
         |if (!$hasNull) {
         |  for (int $pp = 0; $pp < $nPlanes; $pp++) {
         |    long $ss = 0L;
         |    for (int $d = 0; $d < $nn; $d++) {
         |      long $qx = (long) java.lang.Math.floor(($getX) * 1048576.0D);
         |      $ss += $qx * (long) ((($pp * 73 + $d * 31) % 19) - 9);
         |    }
         |    if ($ss > 0) $bk |= (1L << $pp);
         |  }
         |}
         |${ev.value} = $bk;
         |""".stripMargin
    })

  override def prettyName: String = "lsh_bucket"

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

/** Native winnowing fingerprint kernel (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03): Karp-Rabin polynomial hash per k-char gram, minimum per
  * sliding window of `w` grams, sorted distinct mins. Value-identical to
  * `TextAnalysis.winnowingFingerprints`'s Column-algebra form (same
  * Horner fold mod the same prime over the same space-padded code
  * points) — but one compiled pass instead of interpreted
  * transform/slice/array_min lambdas over O(n·w) elements.
  */
case class WinnowFingerprintsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires string, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    WinnowFingerprintsExpr.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFingerprintsExpr.compute($c.toString(), $k, $w);")

  override def prettyName: String = "winnow_fingerprints"

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprintsExpr =
    copy(child = newChild)
}

/** Nearest-centroid assignment for IVF-style ANN: index (0-based) of the
  * centroid with the highest cosine similarity to the input embedding —
  * the coarse-quantizer step, map-side over a plan-reference centroid
  * table (no shuffle; the corpus never moves to find its list).
  *
  * Bit-parity contract: the dot/norm folds run in sequential element
  * order (== a left-associated SQL `+` chain) and the scan keeps the
  * FIRST strictly-greatest cosine — identical to
  * `row_number() OVER (ORDER BY cos DESC, centroid_id ASC) = 1` when
  * `cents` is ordered by centroid id.
  *
  * @param cents flattened centroid matrix [c0d0, c0d1, …, c1d0, …],
  *              doubles, ordered by centroid id
  */
case class NearestCentroidExpr(child: Expression, cents: Array[Double], dim: Int)
    extends UnaryExpression {

  require(cents.length % dim == 0, "centroid matrix shape mismatch")
  private val nCent = cents.length / dim

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<float|double>, got ${other.sql}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val centNorms: Array[Double] = {
    val out = new Array[Double](nCent)
    var c = 0
    while (c < nCent) {
      var s = 0.0; var d = 0
      while (d < dim) { val v = cents(c * dim + d); s += v * v; d += 1 }
      out(c) = math.sqrt(s)
      c += 1
    }
    out
  }

  /** Shared by eval and codegen (via plan reference). Null elements
    * (nullable parquet list slots): every cosine's SQL sum goes NULL,
    * NULLS sort last under `ORDER BY cos DESC`, tie falls to
    * `cent_id ASC` — centroid 0, same as the all-NaN fallback below.
    */
  def nearest(arr: ArrayData): Int = {
    val isF = elemIsFloat
    val n = math.min(dim, arr.numElements())
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return 0; i += 1 }
    var nx = 0.0
    var d = 0
    while (d < n) {
      val x = if (isF) arr.getFloat(d).toDouble else arr.getDouble(d)
      nx += x * x; d += 1
    }
    val normX = math.sqrt(nx)
    var best = -1
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < nCent) {
      var dot = 0.0
      d = 0
      while (d < n) {
        val x = if (isF) arr.getFloat(d).toDouble else arr.getDouble(d)
        dot += x * cents(c * dim + d)
        d += 1
      }
      val cos = dot / (normX * centNorms(c))
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    // all-NaN cosines (zero-norm input): fall back to centroid 0 — the
    // same choice the oracle's ORDER BY cos DESC, cent_id ASC makes
    // (DuckDB sorts NaN above everything), and it keeps the result a
    // valid centroid id
    if (best < 0) 0 else best
  }

  override protected def nullSafeEval(input: Any): Any =
    nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftNearestCentroid", this,
      classOf[NearestCentroidExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.nearest($c);")
  }

  override def prettyName: String = "nearest_centroid"

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
}

/** Cosine similarity of two embeddings in ONE compiled loop (dot and
  * both norms accumulate together). Bit-compatible with the
  * Column-algebra form it replaces and with the SQL oracle: every
  * accumulator's additions run in sequential element order — the same
  * sum sequence as three separate left-associated folds — and the final
  * combination is dot / (sqrt(na) * sqrt(nb)). The Column form
  * evaluated three interpreted 64-element lambda folds per PAIR, which
  * multiplies across the O(n·q) brute-force scorer and every
  * candidate re-rank.
  */
case class CosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // a null ELEMENT (nullable parquet list slot) nulls the whole result,
  // exactly like the oracle's explicit `a[i] * b[i]` sum would
  override def nullable: Boolean = true

  private def okType(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine requires array<float|double> args, got (${left.dataType.sql}, ${right.dataType.sql})")

  private def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType

  /** Boxed so a null array ELEMENT can surface as SQL NULL (the oracle's
    * explicit term sum goes NULL the same way). Null-free inputs take the
    * identical single-loop fold as before.
    */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val aF = isFloat(left.dataType)
    val bF = isFloat(right.dataType)
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var dot = 0.0; var na = 0.0; var nb = 0.0
    i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val r = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftCosine", this, classOf[CosineExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cosRes")
      s"""
         |java.lang.Double $r = $self.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  }

  override def prettyName: String = "cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

/** Distinct k-word shingles of a whitespace-normalized text, as one
  * compiled pass (split → sliding join → first-occurrence dedup). The
  * Column-algebra form (k aligned slices zip_with-concatenated, then
  * array_distinct) evaluates its lambdas interpreted per element; this
  * kernel feeds every dedup operator so the constant factor multiplies.
  * Semantics identical to the SQL mirror: tokens = split on whitespace
  * runs, shingle = k tokens joined by single spaces, docs with fewer
  * than k tokens yield an empty array.
  */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles requires string, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    ShinglesExpr.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShinglesExpr.compute($c.toString(), $k);")

  override def prettyName: String = "shingles"

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + k <= words.length) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[AnyRef](out.size())
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

object WinnowFingerprintsExpr {
  import graft.functions.{TextAnalysis => TA}

  /** Static entry shared by eval and codegen (loop logic stays compiled
    * Scala; the generated code is one call).
    */
  def compute(text: String, k: Int, w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // code points, space-padded to at least k (same as rpad(…, k, ' '))
    val raw = text.codePoints().toArray
    val codes = if (raw.length >= k) raw else raw ++ Array.fill(k - raw.length)(' '.toInt)
    val n = codes.length
    val nGrams = n - k + 1
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * TA.WinnowB + codes(i + j)) % TA.WinnowP; j += 1 }
      grams(i) = h
      i += 1
    }
    // min per sliding window of w grams (w is small; direct scan)
    val nWin = math.max(nGrams - w + 1, 1)
    val mins = new java.util.TreeSet[java.lang.Long]()
    i = 0
    while (i < nWin) {
      var m = grams(i)
      var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) { if (grams(j) < m) m = grams(j); j += 1 }
      mins.add(m)
      i += 1
    }
    val out = new Array[Long](mins.size())
    val it = mins.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
