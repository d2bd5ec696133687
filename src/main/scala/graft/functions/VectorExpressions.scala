package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The higher-order-function form
  * (`aggregate(zip_with(a,b,(x,y)=>x*y),0d,_+_)`) is semantically identical
  * but interpreted (HOFs are CodegenFallback in Spark), which made the
  * all-pairs cosine queries the bench hotspot (~3µs/pair at 64 dims). This
  * expression generates a tight primitive loop inside whole-stage codegen —
  * the SURVEY §7 "benchmark-gated custom Expression" upgrade path: compose
  * builtins first, drop to a native Expression only where measured.
  *
  * Summation order is the same left-to-right fold as the HOF form and the
  * DuckDB oracle's loop, so results stay bit-identical.
  *
  * Null semantics deliberately MATCH the HOF chain (so the
  * [[RewriteHofDotProduct]] rewrite is semantics-preserving for every
  * input, not just the curated equal-length tables): `zip_with` pads the
  * shorter array with nulls, making the aggregate null on length mismatch
  * or any null element — ArrayDot returns null in exactly those cases.
  * When neither input's element type is nullable the per-element checks
  * are compiled out, keeping the tight primitive loop.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null on length mismatch / null element, independent of input nullability
  override def nullable: Boolean = true

  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, cn) => cn
    case _ => false
  })

  // Exposed as a SQL function (array_dot): without this check an
  // array<int> argument would be read through getDouble over 4-byte
  // slots — garbage, not an error.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"array_dot requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    if (elemNullable) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i); i += 1
      }
    } else {
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("sum")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val nullCheck =
        if (elemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $s;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Static kernels + deterministic hyperplanes for the LSH bucket
  * expression (object without a companion class → static forwarders
  * callable from generated code, like [[graft.functions.TextOps]]).
  */
object VectorOps {

  /** Deterministic pseudo-random hyperplanes: component d of plane p is
    * derived from md5(p:d) → uniform in [-1, 1). Portable and seedless —
    * any worker (or the DuckDB oracle) regenerates the same planes.
    */
  def planeComponent(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    val v = ((hex(0) & 0xff) << 8) | (hex(1) & 0xff)
    v / 32768.0 - 1.0
  }

  def planes(nPlanes: Int, dim: Int, offset: Int = 0): Array[Array[Double]] =
    Array.tabulate(nPlanes)(p =>
      Array.tabulate(dim)(d => planeComponent(offset + p, d)))

  /** Driver-side dot product of `b` with `a`'s elements from `off`: the
    * 0.0-seeded left-to-right fold [[ArrayDot]] runs, so a score or norm
    * computed on the driver (a probe ranking, an ADC table entry, a
    * query norm) is bit-identical to the same fold run in a plan. The
    * one copy of this loop in the engine (ContractSpec guards it).
    */
  def dot(a: Array[Double], off: Int, b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { s += a(off + i) * b(i); i += 1 }
    s
  }

  /** Sentinel for "dimension mismatch or null element" from [[lshBucket]]
    * — valid buckets are non-negative (nPlanes ≤ 62).
    */
  val LshBucketNull: Long = -1L

  /** First-max cosine argmax of `v` against the centroid rows — the
    * IVF E-step kernel. Bit-identical to the HOF reference
    * (`array_position(transform(cents, cv -> dot/(|v||cv|)), array_max(..)) - 1`):
    * the dot and both norm folds run left-to-right per element exactly as
    * `aggregate(zip_with(...))` does, comparison uses
    * `java.lang.Double.compare` (Spark SQL's total order, NaN greatest —
    * what array_max/array_position apply), and a strict `>` keeps the
    * FIRST maximum (smallest index) on ties. Returns
    * [[NearestCentroidNull]] on dimension mismatch or a null element
    * (no defined cosine), matching zip_with's null propagation.
    */
  val NearestCentroidNull: Int = -1

  def nearestCentroid(v: ArrayData, cents: Array[Array[Double]]): Int = {
    val dim = cents(0).length
    if (v.numElements() != dim) return NearestCentroidNull
    var d = 0
    while (d < dim) { if (v.isNullAt(d)) return NearestCentroidNull; d += 1 }
    var vn = 0.0
    d = 0
    while (d < dim) { val x = v.getDouble(d); vn += x * x; d += 1 }
    val nv = math.sqrt(vn)
    var best = 0.0
    var bestIdx = 0
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var s = 0.0
      var cn = 0.0
      d = 0
      while (d < dim) {
        val x = v.getDouble(d)
        s += x * cv(d); cn += cv(d) * cv(d); d += 1
      }
      val score = s / (nv * math.sqrt(cn))
      if (c == 0 || java.lang.Double.compare(score, best) > 0) {
        best = score; bestIdx = c
      }
      c += 1
    }
    bestIdx
  }

  /** Packed PQ code word: nibble `s` is the first-min squared-L2 argmin of
    * subvector `s` against codebook `books(s)` — the whole m-subspace
    * encode in ONE compiled pass, packed 4 bits per code into a single
    * long (m ≤ 16, entries ≤ 16 ⇒ exactly 64 bits: the "~m bytes per
    * vector" serving layout is literally 8 bytes + key here).
    * Bit-identical to the per-subspace HOF argmin
    * (`array_position(transform(entries, cv -> Σ(x-c)²), array_min(..)) - 1`,
    * [[graft.llm.Similarity]]'s pqArgmin): same left-to-right fold, same
    * total-order comparison, strict `<` keeps the first minimum on ties.
    * Returns boxed null on dimension mismatch or a null element — an
    * in-band long sentinel is impossible here because EVERY 64-bit word
    * is a legal code vector (all-15 nibbles = -1L, observed in the wild
    * at 500 vectors).
    */
  def pqCodesWord(v: ArrayData, books: Array[Array[Array[Double]]]): java.lang.Long = {
    val m = books.length
    val subDim = books(0)(0).length
    if (v.numElements() != m * subDim) return null
    var d = 0
    val n = v.numElements()
    while (d < n) { if (v.isNullAt(d)) return null; d += 1 }
    var word = 0L
    var s = 0
    while (s < m) {
      val base = s * subDim
      val entries = books(s)
      var best = 0.0
      var bestIdx = 0
      var c = 0
      while (c < entries.length) {
        val cv = entries(c)
        var acc = 0.0
        d = 0
        while (d < subDim) {
          val t = v.getDouble(base + d) - cv(d); acc += t * t; d += 1
        }
        if (c == 0 || java.lang.Double.compare(acc, best) < 0) {
          best = acc; bestIdx = c
        }
        c += 1
      }
      word |= bestIdx.toLong << (4 * s)
      s += 1
    }
    java.lang.Long.valueOf(word)
  }

  /** ADC table sum for one packed code word: tables[pid][s][nibble_s] is
    * this (query, cell) pair's per-subspace lookup, and the kernel folds
    * the m entries left-to-right from a 0.0 seed — the EXACT IEEE
    * expression tree of the interpreted
    * `aggregate(zip_with(tbl, nibbles, element_at), 0.0, _+_)` HOF it
    * replaces (LlmSpec pins bit-identity), in one primitive loop with the
    * table as a codegen reference object instead of a plan Literal. A
    * double has no in-band sentinel either (any value is a legal sum), so
    * null comes back boxed: pid outside the table (a code row whose cell
    * joined to no pair — upstream bug, surfaced as null not garbage).
    */
  def adcTableSum(pid: Int, codes: Long,
      tables: Array[Array[Array[Double]]]): java.lang.Double = {
    if (pid < 0 || pid >= tables.length) return null
    val t = tables(pid)
    var acc = 0.0
    var s = 0
    while (s < t.length) {
      val code = ((codes >>> (4 * s)) & 15L).toInt
      if (code >= t(s).length) return null // stale/corrupt code word
      acc += t(s)(code)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Per-element micro-unit floor quantization `floor(x * 1e6)::long` —
    * the stats-pass input of int8 scalar quantization, one compiled pass
    * instead of the interpreted `transform(v, x -> floor(x*1e6)::long)`
    * HOF it replaces. Element semantics match the HOF exactly: a null
    * element stays null, every other element is
    * `(long) Math.floor(x * 1e6)` — the same double→long cast Spark's
    * Floor(double) compiles to (saturating at Long.MIN/MAX, NaN → 0).
    */
  def quantizeVec(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i))
        out(i) = java.lang.Long.valueOf(
          math.floor(v.getDouble(i) * 1000000.0).toLong)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Int8 code vector from micro-quantized longs + per-dim min/max stats:
    * element i is `CASE WHEN mx[i] = mn[i] THEN 0 ELSE
    * ((xq[i] - mn[i]) * 255) div (mx[i] - mn[i]) END :: int` — the exact
    * integer expression of the interpreted HOF it replaces
    * (graft.llm.Similarity.quantizeEmbeddings), with Java long arithmetic
    * (Spark's non-ANSI wrap) and truncating division (Spark's `div`; the
    * operands are nonneg-by-construction at the call site, where
    * truncation ≡ floor ≡ DuckDB's `//`). Null element when the stats
    * slot or the input element is null, or when `i` runs past the stats
    * arrays (the HOF's out-of-bounds element access) — constant dims
    * (mx = mn) code as 0 even for a null input element, exactly as the
    * CASE does.
    */
  def quantCodes(xq: ArrayData, mn: ArrayData, mx: ArrayData): ArrayData = {
    val n = xq.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val statsOk = i < mn.numElements() && i < mx.numElements() &&
        !mn.isNullAt(i) && !mx.isNullAt(i)
      if (statsOk) {
        val lo = mn.getLong(i)
        val hi = mx.getLong(i)
        if (hi == lo) out(i) = java.lang.Integer.valueOf(0)
        else if (!xq.isNullAt(i))
          out(i) = java.lang.Integer.valueOf(
            (((xq.getLong(i) - lo) * 255L) / (hi - lo)).toInt)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Approximate reconstruction `mn[i] + c * (mx[i] - mn[i]) / 255D` from
    * int8 codes + per-dim stats — the exact IEEE expression tree of the
    * interpreted HOF it replaces (graft.llm.Similarity.dequantized): the
    * code×range product is LONG arithmetic (int promoted, Java wrap),
    * widened once to double for the /255 divide, then added to the
    * widened min. Null element when the code or either stats slot is
    * null or `i` runs past the stats arrays.
    */
  def dequantizeVec(codes: ArrayData, mn: ArrayData, mx: ArrayData): ArrayData = {
    val n = codes.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val ok = i < mn.numElements() && i < mx.numElements() &&
        !mn.isNullAt(i) && !mx.isNullAt(i) && !codes.isNullAt(i)
      if (ok) {
        val lo = mn.getLong(i)
        val hi = mx.getLong(i)
        out(i) = java.lang.Double.valueOf(
          lo.toDouble + (codes.getInt(i).toLong * (hi - lo)).toDouble / 255.0)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Residual `v − cents(cell)` against a bounded centroid table — the
    * IVF-PQ residual pass as one compiled loop. Element semantics match
    * the `zip_with(v, element_at(centsLit, cell+1), (x, c) => x − c)`
    * HOF it replaces exactly: zip_with pads the shorter side with nulls,
    * so the output has max(len) elements with null where either side is
    * missing (or the v element is null); a cell outside the table made
    * element_at null and zip_with(v, null) a NULL result — returned
    * boxed null here.
    */
  def residualVec(v: ArrayData, cell: Int,
      cents: Array[Array[Double]]): ArrayData = {
    if (cell < 0 || cell >= cents.length) return null
    val cv = cents(cell)
    val vn = v.numElements()
    val n = math.max(vn, cv.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < vn && i < cv.length && !v.isNullAt(i))
        out(i) = java.lang.Double.valueOf(v.getDouble(i) - cv(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `v − s·b` against a reference-object vector — the whitening
    * center/projection step as one compiled loop (round 16: the
    * whitenEmbeddingsK zip_with chain was the last interpreted HOF on an
    * embedding corpus path). Element semantics match the
    * `zip_with(v, bLit, (x, vv) => x − s·vv)` HOF exactly: output length
    * max(len(v), len(b)); null element where either side is missing or
    * the v element is null; the same IEEE tree (multiply then subtract
    * per element — and `x − 1.0·m ≡ x − m` bit-for-bit, so the centering
    * call with s = 1 matches the plain-subtraction reference).
    */
  def axpyVec(v: ArrayData, s: Double, b: Array[Double]): ArrayData = {
    val vn = v.numElements()
    val n = math.max(vn, b.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < vn && i < b.length && !v.isNullAt(i))
        out(i) = java.lang.Double.valueOf(v.getDouble(i) - s * b(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All-null array of length n — the HOF's `x − NULL·vv` row shape when
    * the scale input is null but the vector is not (zip_with still emits
    * a max-length array; every element is null).
    */
  def nullVec(n: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](n))

  /** Σ floor(x·10⁶)² in wrapping long arithmetic — the
    * `aggregate(transform(v, x -> floor(x·1e6)::long), 0L, (a, q) -> a + q·q)`
    * HOF chain (q_embed_norm_hist) as one compiled loop. Fold semantics
    * match exactly: empty array → 0; any null element poisons the fold to
    * null (returned as boxed null); terms accumulate left-to-right in
    * Java long arithmetic (wrap, not saturate — same as the non-ANSI
    * fold).
    */
  def quantNorm2(v: ArrayData): java.lang.Long = {
    val n = v.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val q = math.floor(v.getDouble(i) * 1000000.0).toLong
      acc += q * q
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Sign-bucket one vector against the precomputed planes using the
    * QUANTIZED dot product (each term `floor(x * w * 2^30)` is an
    * exactly-representable long, so the sum is order-independent and the
    * bucket bit-identical in any engine — the CLAUDE.md float invariant).
    * Identical math to the `aggregate(zip_with(floor))` HOF chain it
    * replaces, in one primitive pass.
    */
  def lshBucket(v: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Array[Double]]): Long = {
    val dim = planes(0).length
    if (v.numElements() != dim) return LshBucketNull
    // a vector with a null component has no defined projection — return
    // the null sentinel, matching the HOF reference where zip_with
    // null-propagates (getDouble on a null slot would silently read 0.0)
    var d = 0
    while (d < dim) { if (v.isNullAt(d)) return LshBucketNull; d += 1 }
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      var s = 0L
      d = 0
      while (d < dim) {
        s += math.floor(v.getDouble(d) * w(d) * 1073741824.0).toLong
        d += 1
      }
      if (s >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}

/** Fused LSH sign-bucket expression over an `array<double>` vector: all
  * `nPlanes` quantized dots + sign bits in one codegen-resident pass.
  * The per-plane `aggregate(zip_with(floor))` HOF chain it replaces is
  * interpreted (8 planes × 64 dims of boxed lambda calls per row) and
  * was the inner loop of q_dedup_embed/q_sim_ann. Null on dimension
  * mismatch or any null element (the curated tables are uniform dense
  * dim-64; a ragged or holey vector has no defined bucket — matching the
  * HOF reference, whose zip_with null-propagates).
  */
case class LshBucket(child: Expression, nPlanes: Int, dim: Int,
    planeOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bucket requires array<double>, got ${other.simpleString}")
    }

  @transient private lazy val planes: Array[Array[Double]] =
    VectorOps.planes(nPlanes, dim, planeOffset)

  override def nullSafeEval(input: Any): Any = {
    val r = VectorOps.lshBucket(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes)
    if (r == VectorOps.LshBucketNull) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.VectorOps.lshBucket($c, $planesRef);
         |if (${ev.value} == graft.functions.VectorOps.LshBucketNull()) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** Nearest-centroid index (first-max cosine argmax) of an `array<double>`
  * vector against a bounded centroid table shipped as a reference object —
  * the IVF E-step as ONE codegen-resident kernel call. The HOF form
  * (`transform` over a typedLit matrix + array_position/array_max) is
  * interpreted, which made √n-cell assignment the training hotspot once
  * the coarse grid stopped being a fixed 16 (round-13 derived-grid work);
  * [[VectorOps.nearestCentroid]] documents the bit-identity argument and
  * LlmSpec pins it against the HOF reference. Null on dimension mismatch
  * or null element.
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(cents.nonEmpty && cents.forall(_.length == cents(0).length),
    "nearest_centroid needs a non-empty, rectangular centroid table")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid requires array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val r = VectorOps.nearestCentroid(
      input.asInstanceOf[ArrayData], cents)
    if (r == VectorOps.NearestCentroidNull) null else java.lang.Integer.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.VectorOps.nearestCentroid($c, $centsRef);
         |if (${ev.value} == graft.functions.VectorOps.NearestCentroidNull()) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Packed PQ code word (m 4-bit codes in one long) of an `array<double>`
  * vector against the m per-subspace codebooks — the whole encode pass as
  * one codegen-resident kernel call over a reference-object codebook.
  * See [[VectorOps.pqCodesWord]] for the bit-identity argument vs the
  * per-subspace HOF argmin (LlmSpec pins equality with
  * [[graft.llm.Similarity.pqEncode]]'s exploded form). Null on dimension
  * mismatch or null element.
  */
case class PqCodesWord(child: Expression, books: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(books.nonEmpty && books.length <= 16 &&
    books.forall(b => b.nonEmpty && b.length <= 16),
    "pq_codes_word packs 4-bit codes: needs 1..16 subspaces of 1..16 entries")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_codes_word requires array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    VectorOps.pqCodesWord(input.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxedWord")
      s"""
         |java.lang.Long $boxed = graft.functions.VectorOps.pqCodesWord($c, $booksRef);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodesWord =
    copy(child = newChild)
}

/** ADC table sum of one packed code word against a (pairs × m × entries)
  * lookup table shipped as a codegen REFERENCE OBJECT (round 14,
  * VERDICT-r13 #3): `adc_table_sum(pid, codes64)` =
  * Σ_s tables[pid][s][nibble_s(codes64)]. The plan-Literal form this
  * replaces was correct but taxed twice — every Catalyst rule pass
  * re-hashes every Literal it visits (ONE copy of the table per
  * typedLit was already the round-13 fix for the measured 29.6 s of pure
  * rule-pass hashing), and at the 65536-cell cap a 64-query batch's two
  * tables are ~2 × 16 MB of plan shipped to every task. A reference
  * object rides the broadcast-free codegen references array instead:
  * zero plan bytes, zero rule-pass hashing, and the interpreted
  * zip_with/aggregate decode becomes one primitive loop
  * ([[VectorOps.adcTableSum]] documents the bit-identity fold).
  */
case class AdcTableSum(left: Expression, right: Expression,
    tables: Array[Array[Array[Double]]]) extends BinaryExpression {

  require(tables.nonEmpty && tables.forall(_.nonEmpty),
    "adc_table_sum needs a non-empty pair-table array")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_table_sum requires (int pid, bigint codes64), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(pid: Any, codes: Any): Any =
    VectorOps.adcTableSum(pid.asInstanceOf[Int],
      codes.asInstanceOf[Long], tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tablesRef = ctx.addReferenceObj("adcTables", tables, "double[][][]")
    nullSafeCodeGen(ctx, ev, (p, c) => {
      val boxed = ctx.freshName("boxedSum")
      s"""
         |java.lang.Double $boxed = graft.functions.VectorOps.adcTableSum($p, $c, $tablesRef);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcTableSum =
    copy(left = newLeft, right = newRight)
}

/** Per-element micro-unit floor quantization of an `array<double>` vector
  * (`floor(x * 1e6)::long` per element) — the stats-pass input of int8
  * scalar quantization as one codegen-resident kernel call. The
  * interpreted `transform` HOF it replaces ran per row over the whole
  * embedding corpus in quantizeEmbeddings (shared by q_sim_quant,
  * q_embed_quant and the int8 serving path); see
  * [[VectorOps.quantizeVec]] for the element-identity argument (LlmSpec
  * pins bit-identity vs the HOF reference). Null iff the input array is
  * null; null elements stay null, matching `transform`.
  */
case class QuantizeVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_vec requires array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    VectorOps.quantizeVec(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorOps.quantizeVec($c);")

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

/** Int8 code vector `quant_codes(xq, q_min, q_max)` — the encode pass of
  * scalar quantization as one codegen-resident kernel call over the
  * micro-quantized longs and the broadcast per-dim stats columns. See
  * [[VectorOps.quantCodes]] for the element-identity argument vs the
  * interpreted CASE/div HOF it replaces (LlmSpec pins bit-identity;
  * q_embed_quant hash-gates the codes end-to-end against DuckDB's
  * restatement). Null iff any input array is null — at the only call
  * site the stats columns are a global-aggregate output joined by
  * crossJoin(broadcast), which is never null.
  */
case class QuantCodes(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = true)

  override def nullable: Boolean = true

  private def longArray(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (longArray(first.dataType) && longArray(second.dataType) &&
        longArray(third.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quant_codes requires three array<bigint> arguments, got " +
          s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString}")

  override def nullSafeEval(xq: Any, mn: Any, mx: Any): Any =
    VectorOps.quantCodes(xq.asInstanceOf[ArrayData],
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xq, mn, mx) =>
      s"${ev.value} = graft.functions.VectorOps.quantCodes($xq, $mn, $mx);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): QuantCodes =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Dequantized reconstruction `dequantize_vec(codes, q_min, q_max)` —
  * the decode half of the int8 path as one codegen-resident kernel call.
  * See [[VectorOps.dequantizeVec]] for the IEEE expression-tree identity
  * vs the interpreted HOF it replaces (LlmSpec pins bit-identity — the
  * reconstructed doubles feed quantizedTopK's coarse cosine, whose
  * shortlist boundary must not move). Null iff any input array is null
  * (same call-site argument as [[QuantCodes]]).
  */
case class DequantizeVec(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = true)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def intArray(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    }
    def longArray(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (intArray(first.dataType) && longArray(second.dataType) &&
        longArray(third.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dequantize_vec requires (array<int>, array<bigint>, array<bigint>), got " +
          s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString}")
  }

  override def nullSafeEval(codes: Any, mn: Any, mx: Any): Any =
    VectorOps.dequantizeVec(codes.asInstanceOf[ArrayData],
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, mn, mx) =>
      s"${ev.value} = graft.functions.VectorOps.dequantizeVec($c, $mn, $mx);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): DequantizeVec =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Residual `v − cents(cell)` of an `array<double>` vector against a
  * reference-object centroid table — the IVF-PQ residual pass as one
  * codegen-resident kernel call (round 16: the last interpreted zip_with
  * on a corpus path; see [[VectorOps.residualVec]] for the element-
  * identity argument vs the HOF, LlmSpec pins it). Null iff the vector
  * or cell input is null, or the cell is outside the table (element_at's
  * null propagated through zip_with in the reference).
  */
case class ResidualVec(left: Expression, right: Expression,
    cents: Array[Array[Double]]) extends BinaryExpression {

  require(cents.nonEmpty, "residual_vec needs a non-empty centroid table")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = true)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(DoubleType, _),
          org.apache.spark.sql.types.IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"residual_vec requires (array<double>, int cell), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(v: Any, cell: Any): Any =
    VectorOps.residualVec(v.asInstanceOf[ArrayData],
      cell.asInstanceOf[Int], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, cell) =>
      s"""
         |${ev.value} = graft.functions.VectorOps.residualVec($v, $cell, $centsRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResidualVec =
    copy(left = newLeft, right = newRight)
}

/** `v − s·b` of an `array<double>` vector against a reference-object
  * vector, with a per-row double scale — the whitening center (s = 1, b =
  * μ) and deflation-projection (s = ⟨c, vⱼ⟩, b = vⱼ) steps as codegen
  * kernel calls (see [[VectorOps.axpyVec]] for the element-identity
  * argument vs the zip_with HOF; LlmSpec pins it). Null iff the vector is
  * null; a null SCALE with a non-null vector yields the max-length
  * all-null array — exactly the HOF's `x − NULL·vv` row — so this cannot
  * use nullSafeEval/nullSafeCodeGen.
  */
case class AxpyVec(left: Expression, right: Expression,
    b: Array[Double]) extends BinaryExpression {

  require(b.nonEmpty, "axpy_vec needs a non-empty reference vector")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = true)

  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"axpy_vec requires (array<double>, double scale), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    val vd = v.asInstanceOf[ArrayData]
    val s = right.eval(input)
    if (s == null)
      VectorOps.nullVec(math.max(vd.numElements(), b.length))
    else VectorOps.axpyVec(vd, s.asInstanceOf[Double], b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val bRef = ctx.addReferenceObj("bvec", b, "double[]")
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${rightGen.code}
          if (${rightGen.isNull}) {
            ${ev.value} = graft.functions.VectorOps.nullVec(
              java.lang.Math.max(${leftGen.value}.numElements(), $bRef.length));
          } else {
            ${ev.value} = graft.functions.VectorOps.axpyVec(
              ${leftGen.value}, ${rightGen.value}, $bRef);
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AxpyVec =
    copy(left = newLeft, right = newRight)
}

/** Σ floor(x·10⁶)² of an `array<double>` vector in wrapping long
  * arithmetic — the q_embed_norm_hist per-row norm as one codegen kernel
  * call (see [[VectorOps.quantNorm2]] for the fold-identity argument vs
  * the aggregate/transform HOF chain; LlmSpec pins it). Null iff the
  * vector is null or any element is null (the poisoned fold).
  */
case class QuantNorm2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quant_norm2 requires array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    VectorOps.quantNorm2(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("qn2")
      s"""
         |java.lang.Long $tmp = graft.functions.VectorOps.quantNorm2($v);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantNorm2 =
    copy(child = newChild)
}

/** Element-wise vector sum as a typed Aggregator: the scale-safe M-step
  * primitive for k-means/IVF training. Aggregating WHOLE vectors per
  * centroid keeps the shuffle at one `dim`-length buffer per (centroid ×
  * map partition) — the posexplode(cent_id, dim) formulation it replaces
  * shuffled `dim` rows per INPUT vector (a 64× row expansion at dim 64,
  * the wrong constant at 100 TB). Partial aggregation (map-side combine)
  * comes from the Aggregator contract's merge.
  *
  * The empty buffer stands for "no input yet" so `zero` needs no dim
  * parameter; null input vectors are ignored (cosine-undefined rows must
  * not kill the job).
  */
object VectorSum extends org.apache.spark.sql.expressions.Aggregator[
    Seq[Double], Array[Double], Seq[Double]] {
  def zero: Array[Double] = Array.emptyDoubleArray
  def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
    if (a == null) b
    else if (b.isEmpty) a.toArray
    else {
      require(a.length == b.length,
        s"vector_sum over ragged vectors: ${a.length} vs ${b.length}")
      var i = 0
      while (i < b.length) { b(i) += a(i); i += 1 }
      b
    }
  def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      require(b1.length == b2.length,
        s"vector_sum over ragged vectors: ${b1.length} vs ${b2.length}")
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }
  def finish(r: Array[Double]): Seq[Double] = r.toSeq
  def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

/** Flattened outer-product sum Σ x·xᵀ (row-major d² buffer) in ONE typed
  * aggregate — the second-moment pass of covariance/PCA. Same scale
  * rationale as [[VectorSum]]: the buffer is d² doubles per map
  * partition (32 KB at d = 64) merged once per partition — the
  * treeAggregate shape — where the declarative alternative
  * (`flatten(transform(v, x -> transform(v, y -> x*y)))` under a
  * vector_sum) pays d² interpreted HOF lambda evaluations per ROW
  * (HOFs never enter whole-stage codegen — CLAUDE.md's kernel rule);
  * here the accumulation is one JIT-compiled nested while loop.
  */
object OuterProductSum extends org.apache.spark.sql.expressions.Aggregator[
    Seq[Double], Array[Double], Seq[Double]] {
  def zero: Array[Double] = Array.emptyDoubleArray
  def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
    if (a == null) b
    else {
      val x = a.toArray
      val d = x.length
      val buf = if (b.isEmpty) new Array[Double](d * d) else b
      require(buf.length == d * d,
        s"outer_product_sum over ragged vectors: ${buf.length} vs ${d * d}")
      var i = 0
      while (i < d) {
        val xi = x(i); val off = i * d; var j = 0
        while (j < d) { buf(off + j) += xi * x(j); j += 1 }
        i += 1
      }
      buf
    }
  def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      require(b1.length == b2.length,
        s"outer_product_sum over ragged vectors: ${b1.length} vs ${b2.length}")
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }
  def finish(r: Array[Double]): Seq[Double] = r.toSeq
  def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

/** Element-wise min/max over quantized (long) vectors in ONE typed
  * aggregate: the stats pass of scalar quantization. Same scale rationale
  * as [[VectorSum]] — whole-vector buffers keep the shuffle at two
  * dim-length arrays per map partition instead of posexplode's dim rows
  * per input vector. Output is `[mins, maxs]` (a 2-element array of
  * dim-length arrays) so one hash-agg computes both bounds.
  */
object VectorMinMax extends org.apache.spark.sql.expressions.Aggregator[
    Seq[Long], (Array[Long], Array[Long]), Seq[Seq[Long]]] {
  def zero: (Array[Long], Array[Long]) =
    (Array.emptyLongArray, Array.emptyLongArray)
  private def ragged(a: Int, b: Int) =
    require(a == b, s"vector_minmax over ragged vectors: $a vs $b")
  def reduce(b: (Array[Long], Array[Long]), a: Seq[Long]): (Array[Long], Array[Long]) =
    if (a == null) b
    else if (b._1.isEmpty) (a.toArray, a.toArray)
    else {
      ragged(a.length, b._1.length)
      var i = 0
      while (i < a.length) {
        if (a(i) < b._1(i)) b._1(i) = a(i)
        if (a(i) > b._2(i)) b._2(i) = a(i)
        i += 1
      }
      b
    }
  def merge(b1: (Array[Long], Array[Long]), b2: (Array[Long], Array[Long]))
      : (Array[Long], Array[Long]) =
    if (b1._1.isEmpty) b2
    else if (b2._1.isEmpty) b1
    else {
      ragged(b1._1.length, b2._1.length)
      var i = 0
      while (i < b1._1.length) {
        if (b2._1(i) < b1._1(i)) b1._1(i) = b2._1(i)
        if (b2._2(i) > b1._2(i)) b1._2(i) = b2._2(i)
        i += 1
      }
      b1
    }
  def finish(r: (Array[Long], Array[Long])): Seq[Seq[Long]] =
    Seq(r._1.toSeq, r._2.toSeq)
  def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Array[Long])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Array[Long])]()
  def outputEncoder: org.apache.spark.sql.Encoder[Seq[Seq[Long]]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Seq[Long]]]()
}

object VectorExpressions {
  /** Column-level entry: codegen'd dot(a, b) for array<double> columns. */
  def arrayDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level entry: element-wise vector-sum aggregate. */
  val vectorSum: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(VectorSum)

  /** Column-level entry: element-wise [mins, maxs] aggregate over
    * quantized long vectors. */
  val vectorMinMax: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(VectorMinMax)

  /** Column-level entry: flattened Σ x·xᵀ second-moment aggregate. */
  val outerProductSum: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(OuterProductSum)

  /** Column-level entry: first-max cosine argmax against a bounded
    * centroid table (IVF E-step kernel). */
  def nearestCentroid(v: Column, cents: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(v), cents))

  /** Column-level entry: packed m×4-bit PQ code word against the
    * per-subspace codebooks. */
  def pqCodesWord(v: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqCodesWord(ColumnBridge.expression(v), books))

  /** Column-level entry: ADC per-pair table sum of a packed code word
    * (reference-object tables — zero plan bytes). */
  def adcTableSum(pid: Column, codes: Column,
      tables: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(AdcTableSum(ColumnBridge.expression(pid),
      ColumnBridge.expression(codes), tables))

  /** Column-level entry: residual v − cents(cell) against a bounded
    * reference-object centroid table (IVF-PQ residual kernel). */
  def residualVec(v: Column, cell: Column,
      cents: Array[Array[Double]]): Column =
    ColumnBridge.column(ResidualVec(ColumnBridge.expression(v),
      ColumnBridge.expression(cell), cents))

  /** Column-level entry: v − s·b against a reference-object vector
    * (whitening center/projection kernel). */
  def axpyVec(v: Column, s: Column, b: Array[Double]): Column =
    ColumnBridge.column(AxpyVec(ColumnBridge.expression(v),
      ColumnBridge.expression(s), b))

  /** Column-level entry: Σ floor(x·1e6)² wrapping-long row norm
    * (embedding-norm health kernel). */
  def quantNorm2(v: Column): Column =
    ColumnBridge.column(QuantNorm2(ColumnBridge.expression(v)))

  /** Column-level entry: per-element micro-unit floor quantization
    * (`floor(x*1e6)::long` per element). */
  def quantizeVec(v: Column): Column =
    ColumnBridge.column(QuantizeVec(ColumnBridge.expression(v)))

  /** Column-level entry: int8 encode against per-dim min/max stats. */
  def quantCodes(xq: Column, qMin: Column, qMax: Column): Column =
    ColumnBridge.column(QuantCodes(ColumnBridge.expression(xq),
      ColumnBridge.expression(qMin), ColumnBridge.expression(qMax)))

  /** Column-level entry: dequantized reconstruction from int8 codes. */
  def dequantizeVec(codes: Column, qMin: Column, qMax: Column): Column =
    ColumnBridge.column(DequantizeVec(ColumnBridge.expression(codes),
      ColumnBridge.expression(qMin), ColumnBridge.expression(qMax)))

  /** Column-level entry: fused quantized LSH sign-bucket. `planeOffset`
    * selects which contiguous run of the global md5 plane family the
    * bucket reads — band t of an OR-construction uses offset t·nPlanes.
    */
  def lshBucket(v: Column, nPlanes: Int, dim: Int = 64,
      planeOffset: Int = 0): Column =
    ColumnBridge.column(
      LshBucket(ColumnBridge.expression(v), nPlanes, dim, planeOffset))
}
