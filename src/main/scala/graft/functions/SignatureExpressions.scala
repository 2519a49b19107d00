package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native Catalyst expressions for the LSH signature hot path (r14).
  *
  * The hyperplane/band signatures are the corpus-wide map pass of every
  * embedding index build, append and index-side probe recompute. As scala
  * UDFs they paid the full boundary tax per row — ArrayData → boxed
  * Seq[Float] conversion plus the ScalaUDF call machinery — measured by
  * SigPerfProbe at 200k × 64-dim rows, local[32]: +3.1 s for the 32-plane
  * signature and +8.4 s for the 8×12-band signature over a 0.1 s scan,
  * where the bare dot-product loop costs ~10 µs/row single-threaded
  * (~30× overhead). These expressions run the same loop over ArrayData
  * inside WholeStageCodegen — no boxing, no codegen stage break.
  *
  * BIT-IDENTICAL to the UDFs they replace: the plane matrix is the same
  * seeded `Array.fill(rows, dim)(rnd.nextGaussian())` draw (flattened
  * row-major — the identical draw order), the dot accumulates
  * plane(double) × element(float→double exact widening) in the identical
  * index order, and the sign/bit packing is unchanged
  * (SignatureExpressionSpec pins expression ≡ UDF on random vectors,
  * including short/long/empty arrays). Indexes built before this change
  * probe identically after it.
  *
  * `markNondeterministic` carries the ndExplode contract (see
  * DedupEmbeddingOp.hyperplaneSig): at un-persisted explode sites it stops
  * InferFiltersFromGenerate / filter-pushdown substitution from
  * duplicating the evaluation. The value is deterministic either way.
  *
  * The plane matrix is `@transient lazy` and REGENERATED from (seed, dim,
  * rows) on each deserialization — the expression ships four scalars, not
  * an h×dim matrix, so task binaries stay small at any signature width.
  */
private[graft] object SignatureExpressions {
  def planes(rows: Int, dim: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(rows * dim)(rnd.nextGaussian())
  }

  /** [[MinhashBands]]' loop: per band, XXH64 (seed 42, as `xxhash64`) over
    * the UTF-8 decimal text of its non-null longs joined by '_', written
    * into one reused byte buffer — no per-band strings. */
  def bandHashes(sig: ArrayData, bands: Int, r: Int): GenericArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Long](bands)
    val buf = new Array[Byte](r * 21) // 20 digits and a sign, or a separator, per long
    var b = 0
    while (b < bands) {
      var len = 0
      var i = b * r
      val end = math.min(i + r, n)
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = '_'; len += 1 }
          len = writeDecimal(buf, len, sig.getLong(i))
        }
        i += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      b += 1
    }
    new GenericArrayData(out)
  }

  private val MinLong = Long.MinValue.toString.getBytes("UTF-8")

  /** `v` as decimal ASCII at `buf(pos)`; returns the end position */
  private def writeDecimal(buf: Array[Byte], pos: Int, v: Long): Int =
    if (v == Long.MinValue) {
      System.arraycopy(MinLong, 0, buf, pos, MinLong.length)
      pos + MinLong.length
    } else {
      var p = pos
      var x = v
      if (x < 0) { buf(p) = '-'; p += 1; x = -x }
      var digits = 1
      var t = x / 10
      while (t > 0) { digits += 1; t /= 10 }
      var j = p + digits - 1
      while (j >= p) { buf(j) = ('0' + x % 10).toByte; x /= 10; j -= 1 }
      p + digits
    }
}

/** MinHash signature over an array<long> of shingle hashes → ARRAY<LONG>
  * of k permutation minima (Shingles.minhashSignature's math verbatim:
  * h_i(x) = (a_i·x + b_i) mod p over x = ((h0 mod p) + p) mod p,
  * p = 2^31-1; coefficients regenerated from (k, seed) — integer
  * arithmetic, so bit-identity with the UDF is by construction). The
  * per-row UDF boundary tax here multiplied by |shingles| elements per
  * document across every minhash/ngram build and probe. */
case class MinhashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // (a, b) pairs flattened [a0, b0, a1, b1, ...]; regenerated per JVM
  @transient private lazy val coeffs: Array[Long] = {
    val cs = graft.operators.Shingles.minhashCoefficients(k, seed)
    val out = new Array[Long](2 * k)
    var i = 0
    cs.foreach { case (a, b) => out(i) = a; out(i + 1) = b; i += 2 }
    out
  }
  private val p = 2147483647L // Shingles.MersennePrime

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val cs = coeffs
    val sig = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var e = 0
    while (e < n) {
      val x = ((hs.getLong(e) % p) + p) % p
      var i = 0
      while (i < k) {
        val v = (cs(2 * i) * x + cs(2 * i + 1)) % p
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      e += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val cs = ctx.addReferenceObj("coeffs", coeffs, "long[]")
      val n = ctx.freshName("n"); val e = ctx.freshName("e")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val v = ctx.freshName("v"); val sig = ctx.freshName("sig")
      s"""
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |int $n = $hs.numElements();
         |for (int $e = 0; $e < $n; $e++) {
         |  long $x = (($hs.getLong($e) % ${p}L) + ${p}L) % ${p}L;
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $v = ($cs[2 * $i] * $x + $cs[2 * $i + 1]) % ${p}L;
         |    if ($v < $sig[$i]) $sig[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The LSH band keys of a minhash signature → ARRAY<LONG> of `bands`
  * entries: band b hashes the longs at [b·r, b·r + r) — the value of
  * `transform(sequence(0, bands-1), b -> xxhash64(concat_ws('_',
  * slice(sig, b*r+1, r))))`, byte for byte (null elements skipped as
  * `concat_ws` skips them, a short or null signature giving empty bands),
  * in one loop over the array instead of an interpreted lambda formatting
  * a string per band.
  * SignatureExpressionSpec pins the equality; indexes and band joins are
  * unchanged by it. */
case class MinhashBands(child: Expression, bands: Int, r: Int) extends UnaryExpression {
  require(bands >= 1 && r >= 0, s"minhash_bands: bands >= 1 and r >= 0, got $bands, $r")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<bigint>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_bands"

  override def eval(input: InternalRow): Any =
    SignatureExpressions.bandHashes(child.eval(input).asInstanceOf[ArrayData], bands, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sig = child.genCode(ctx)
    ev.copy(code = code"""
       |${sig.code}
       |${CodeGenerator.javaType(dataType)} ${ev.value} =
       |  graft.functions.SignatureExpressions$$.MODULE$$.bandHashes(
       |    ${sig.isNull} ? null : ${sig.value}, $bands, $r);
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** h-bit hyperplane signature of an array<float> column → LONG. */
case class HyperplaneSignature(child: Expression, dim: Int, h: Int, seed: Long,
    markNondeterministic: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig requires array<float>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override lazy val deterministic: Boolean =
    !markNondeterministic && child.deterministic

  @transient private lazy val planes: Array[Double] =
    SignatureExpressions.planes(h, dim, seed)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val p = planes
    var sig = 0L
    var i = 0
    while (i < h) {
      var dot = 0.0
      val base = i * dim
      var j = 0
      while (j < n) { dot += p(base + j) * v.getFloat(j); j += 1 }
      if (dot >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.addReferenceObj("planes", planes, "double[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val dot = ctx.freshName("dot")
      val base = ctx.freshName("base"); val sig = ctx.freshName("sig")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long $sig = 0L;
         |for (int $i = 0; $i < $h; $i++) {
         |  double $dot = 0.0;
         |  int $base = $i * $dim;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += $p[$base + $j] * $v.getFloat($j);
         |  }
         |  if ($dot >= 0) $sig |= (1L << $i);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bands` independent r-bit hyperplane signatures → ARRAY<LONG>
  * (bands entries, no nulls). */
case class BandSignatures(child: Expression, dim: Int, bands: Int, r: Int,
    seed: Long, markNondeterministic: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_sigs requires array<float>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_sigs"
  override lazy val deterministic: Boolean =
    !markNondeterministic && child.deterministic

  @transient private lazy val planes: Array[Double] =
    SignatureExpressions.planes(bands * r, dim, seed)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val p = planes
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var i = 0
      while (i < r) {
        var dot = 0.0
        val base = (b * r + i) * dim
        var j = 0
        while (j < n) { dot += p(base + j) * v.getFloat(j); j += 1 }
        if (dot >= 0) sig |= (1L << i)
        i += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.addReferenceObj("planes", planes, "double[]")
      val n = ctx.freshName("n"); val b = ctx.freshName("b")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val dot = ctx.freshName("dot"); val base = ctx.freshName("base")
      val sig = ctx.freshName("sig"); val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $sig = 0L;
         |  for (int $i = 0; $i < $r; $i++) {
         |    double $dot = 0.0;
         |    int $base = ($b * $r + $i) * $dim;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $dot += $p[$base + $j] * $v.getFloat($j);
         |    }
         |    if ($dot >= 0) $sig |= (1L << $i);
         |  }
         |  $out[$b] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
