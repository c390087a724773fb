package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the extension operators' hot loops.
  * Both implement `doGenCode`, so they stay inside whole-stage codegen
  * (a Scala UDF here would box every row and break the codegen span).
  */

/** 64-bit polynomial rolling hash over a string's UTF-8 bytes
  * (h = h * 31 + byte). Deterministic, order-sensitive: a document
  * fingerprint for exact/near-exact duplicate detection at any scale.
  */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fingerprint expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31L + bytes(i); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("fpBytes")
      val i = ctx.freshName("fpI")
      val h = ctx.freshName("fpH")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 1125899906842597L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + $bytes[$i];
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** round(d · 10^scale) as an unscaled LONG — the hot half of a
  * CAST(double AS DECIMAL(18, scale)) without the string round-trip:
  * Spark's double→decimal cast goes through BigDecimal.valueOf, i.e.
  * Double.toString plus a re-parse, ~1µs per value; this is two FP ops.
  * Rounding is half-away-from-zero on the BINARY double value — the same
  * rule DuckDB's double→decimal cast applies — where Spark rounds the
  * shortest decimal representation instead. The two disagree only when
  * d·10^s falls within one ulp of a half-integer; exact-decimal inputs
  * (prices, quantities) never do. Out-of-range / NaN / ±Inf → NULL,
  * mirroring the cast's overflow-to-null behavior.
  *
  * Intended use: `sum(DoubleScaled(c, s).cast(DECIMAL(18,0)))` — the
  * decimal sum then stays on the compact long-backed fast path end to
  * end (no BigDecimal is ever allocated), ~10× the throughput of
  * summing CAST(c AS DECIMAL(18,s)) directly.
  */
case class DoubleScaled(child: Expression, scale: Int)
    extends UnaryExpression {
  require(scale >= 0 && scale <= 12, s"scale $scale out of range")

  private val pow: Double = math.pow(10, scale)
  // Decimal(18, _) bound: unscaled magnitude must stay under 10^18.
  private val limit: Double = 1e18

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"double_scaled expects DOUBLE, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double] * pow
    if (java.lang.Double.isNaN(v) || v >= limit || v <= -limit) null
    else if (v >= 0) math.floor(v + 0.5d).toLong
    else math.ceil(v - 0.5d).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("dsV")
      s"""
         |double $v = $c * ${pow}D;
         |if (java.lang.Double.isNaN($v) || $v >= ${limit}D || $v <= -${limit}D) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $v >= 0 ? (long) java.lang.Math.floor($v + 0.5d)
         |                        : (long) java.lang.Math.ceil($v - 0.5d);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine similarity between two ARRAY<FLOAT> embeddings, accumulated in
  * double. One fused pass computes dot product and both norms — the
  * composite `aggregate(zip_with(...))` form walks the arrays three times
  * through interpreted higher-order functions. Zero-norm or length
  * mismatch yields 0.0 (defined, never NaN).
  */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes() = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine expects two ARRAY<FLOAT>, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("csN")
      val i = ctx.freshName("csI")
      val dot = ctx.freshName("csDot")
      val na = ctx.freshName("csNa")
      val nb = ctx.freshName("csNb")
      val x = ctx.freshName("csX")
      val y = ctx.freshName("csY")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact Jaccard similarity of the two strings' distinct lowercased
  * k-CHARACTER shingle sets, fused into one pass: build a hash set of the
  * left side's windows, probe with the right side's. Matches the
  * composite array_distinct(transform(...substr...)) + array_intersect
  * plan value-for-value (char windows, substr clamping for short
  * strings), but allocates two string sets per PAIR instead of
  * thousands of interpreted per-window Column evaluations — profiling
  * showed the interpreted form's repeated substr/hash dominating the
  * whole near-dup verify stage. Either side empty => 0.0.
  */
case class ShingleJaccard(left: Expression, right: Expression, shingleK: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes() = {
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_jaccard expects two STRING, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ShingleJaccard.jaccard(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ShingleJaccard.jaccard($a, $b, $shingleK);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShingleJaccard {
  /** Static entry point shared by eval and generated code (the set loop
    * is a plain JIT-compiled JVM method either way). */
  def jaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = shingles(a, k)
    val sb = shingles(b, k)
    if (sa.isEmpty || sb.isEmpty) return 0.0
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Distinct k-char windows of the lowercased string; one clamped window
    * when the string is shorter than k — same semantics as
    * transform(sequence(0, max(len-k, 0)), i -> substr(t, i+1, k)).
    * "Char" means Unicode CODE POINT, matching Spark's substr/length over
    * UTF8String: windows step by code point (surrogate pairs — emoji, CJK
    * extensions — count once), not by UTF-16 unit, so the equivalence
    * with the composite plan holds beyond the BMP. ASCII/BMP input takes
    * the branch with no surrogate bookkeeping. */
  private def shingles(s: UTF8String, k: Int): java.util.HashSet[String] = {
    val t = s.toLowerCase.toString
    val out = new java.util.HashSet[String](math.max(16, t.length * 2))
    if (t.isEmpty) return out
    val cpCount = t.codePointCount(0, t.length)
    if (cpCount == t.length) {
      // no surrogate pairs: UTF-16 index == code-point index
      val n = math.max(1, t.length - k + 1)
      var i = 0
      while (i < n) {
        out.add(t.substring(i, math.min(t.length, i + k)))
        i += 1
      }
    } else {
      val n = math.max(1, cpCount - k + 1)
      var i = 0
      var start = 0 // UTF-16 offset of code point i
      while (i < n) {
        val end = t.offsetByCodePoints(start, math.min(k, cpCount - i))
        out.add(t.substring(start, end))
        if (i + 1 < n) start = t.offsetByCodePoints(start, 1)
        i += 1
      }
    }
    out
  }
}

/** MinHash signature in one codegen'd pass: slide a k-byte window over the
  * string's UTF-8 bytes, XXH64 each window once, and derive the
  * `numHashes` hash families from that single value via affine transforms
  * (h·A_j + B_j, the universal-hashing MinHash construction) while
  * min-tracking. Replaces a transform(sequence(...), h =>
  * array_min(transform(shingles, ...))) plan whose interpreted
  * higher-order functions cost ~µs per element — ~10^5 slower per doc and
  * never inside whole-stage codegen. NULL for empty strings (no shingles).
  */
case class MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression {
  import MinHashSignature.{SEED, coeffA, coeffB}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects STRING, got ${child.dataType.sql}")
  }

  private lazy val aArr: Array[Long] = coeffA(numHashes)
  private lazy val bArr: Array[Long] = coeffB(numHashes)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val nw = math.max(1, n - shingleK + 1)
    var i = 0
    while (i < nw) {
      val len = math.min(shingleK, n - i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + i, len, SEED)
      var j = 0
      while (j < numHashes) {
        val v = h * aArr(j) + bArr(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("mhN")
      val nw = ctx.freshName("mhNw")
      val mins = ctx.freshName("mhMins")
      val i = ctx.freshName("mhI")
      val j = ctx.freshName("mhJ")
      val h = ctx.freshName("mhH")
      val v = ctx.freshName("mhV")
      val len = ctx.freshName("mhLen")
      s"""
         |int $n = $c.numBytes();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  int $nw = java.lang.Math.max(1, $n - $shingleK + 1);
         |  for (int $i = 0; $i < $nw; $i++) {
         |    int $len = java.lang.Math.min($shingleK, $n - $i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $c.getBaseObject(), $c.getBaseOffset() + $i, $len, ${SEED}L);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $v = $h * $aRef[$j] + $bRef[$j];
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  val SEED = 42L

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def coeffA(n: Int): Array[Long] = Array.tabulate(n)(j => splitmix64(2L * j + 1) | 1L)
  def coeffB(n: Int): Array[Long] = Array.tabulate(n)(j => splitmix64(2L * j + 2))
}

/** Random-hyperplane LSH signature of an ARRAY<FLOAT> vector: one int
  * per band, bit j of band b set iff dot(vec, plane[b*width+j]) > 0.
  * Fused single pass over the planes; the composite per-plane
  * aggregate(zip_with(...)) form evaluates interpreted higher-order
  * lambdas per element per plane (bands*width*dim Column evaluations
  * per row). Accumulation order matches that form exactly (sequential
  * double adds), so bucket assignments are bit-identical.
  */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]],
    bands: Int, width: Int = 8) extends UnaryExpression {
  require(width >= 1 && width <= 30, s"width=$width out of range")
  require(planes.length == bands * width,
    s"need ${bands * width} planes, got ${planes.length}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == ArrayType(FloatType, containsNull = false) ||
        child.dataType == ArrayType(FloatType, containsNull = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig expects ARRAY<FLOAT>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    UnsafeArrayData.fromPrimitiveArray(
      HyperplaneSig.sig(v, planes, bands, width))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("hpPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.HyperplaneSig.sig($c, $pRef, $bands, $width));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSig {
  /** Shared by eval and generated code (JIT-compiled either way). */
  def sig(vec: ArrayData, planes: Array[Array[Double]], bands: Int,
      width: Int = 8): Array[Int] = {
    val out = new Array[Int](bands)
    val nv = vec.numElements()
    var b = 0
    while (b < bands) {
      var bits = 0
      var j = 0
      while (j < width) {
        val plane = planes(b * width + j)
        val n = math.min(nv, plane.length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += vec.getFloat(i) * plane(i); i += 1 }
        if (dot > 0) bits |= (1 << j)
        j += 1
      }
      out(b) = bits
      b += 1
    }
    out
  }
}

/** 64-bit SimHash in one codegen'd pass: tokenize on ASCII whitespace,
  * XXH64 each token (seed 42, matching `xxhash64`), per-bit ±1 vote,
  * sign-fold into one long. Occurrence-weighted (duplicate tokens vote
  * again). Empty/whitespace-only input → 0L, mirroring the HOF form it
  * replaces (aggregate over an empty token array).
  */
case class SimHashSignature(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash_sig expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && SimHashSignature.isSpace(bytes(i))) i += 1
      val start = i
      while (i < n && !SimHashSignature.isSpace(bytes(i))) i += 1
      if (i > start) {
        val h = XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          i - start, 42L)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
          k += 1
        }
      }
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (votes(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("shBytes")
      val votes = ctx.freshName("shVotes")
      val i = ctx.freshName("shI")
      val k = ctx.freshName("shK")
      val n = ctx.freshName("shN")
      val start = ctx.freshName("shStart")
      val h = ctx.freshName("shH")
      val sig = ctx.freshName("shSig")
      val b = ctx.freshName("shB")
      s"""
         |byte[] $bytes = $c.getBytes();
         |int[] $votes = new int[64];
         |int $n = $bytes.length;
         |int $i = 0;
         |while ($i < $n) {
         |  byte $b = $bytes[$i];
         |  if ($b == ' ' || ($b >= 9 && $b <= 13)) { $i++; continue; }
         |  int $start = $i;
         |  while ($i < $n) {
         |    $b = $bytes[$i];
         |    if ($b == ' ' || ($b >= 9 && $b <= 13)) break;
         |    $i++;
         |  }
         |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |    $bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + $start,
         |    $i - $start, 42L);
         |  for (int $k = 0; $k < 64; $k++) {
         |    if ((($h >>> $k) & 1L) == 1L) $votes[$k]++; else $votes[$k]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $k = 0; $k < 64; $k++) {
         |  if ($votes[$k] > 0) $sig |= (1L << $k);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashSignature {
  def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)
}

/** Build-time function injection for `spark.sql.extensions` deployments:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` makes
  * every graft function available to pure-SQL users on session startup —
  * no driver code required. (GraftFunctions.register covers the
  * programmatic path on an already-running session.)
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  private def info(name: String, usage: String) =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[GraftExtensions].getName, null, name)

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "64-bit rolling hash of a string"),
      (es: Seq[Expression]) => RollingFingerprint(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "cosine similarity of two ARRAY<FLOAT>"),
      (es: Seq[Expression]) => FloatCosine(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "64-bit SimHash of a string"),
      (es: Seq[Expression]) => SimHashSignature(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "MinHash signature (k=5 shingles, 64 hashes)"),
      (es: Seq[Expression]) => MinHashSignature(es.head, 5, 64)))
  }
}

/** Product-quantization encode: split the vector into `m` subspaces of
  * `subDim` dims and emit, per subspace, the index of the L2-nearest
  * codebook entry (first minimum wins — deterministic, matching a
  * row_number-over-distance replay with code-id tiebreak). The codebook
  * is a driver-side constant (codes × dim doubles, LSH-plane-sized), so
  * the encode is a NARROW codegen'd projection — the only PQ stage that
  * touches every corpus row scales at full scan speed with no shuffle.
  * codebook(mi)(code)(j): subspace mi, entry code, component j.
  */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(codebook.nonEmpty && codebook.forall(_.length == codebook.head.length),
    "pq_encode: ragged codebook")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == ArrayType(FloatType, containsNull = false) ||
        child.dataType == ArrayType(FloatType, containsNull = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects ARRAY<FLOAT>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      PqEncode.encode(input.asInstanceOf[ArrayData], codebook))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.PqEncode.encode($c, $cbRef));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  /** Shared by eval and generated code. */
  def encode(vec: ArrayData, codebook: Array[Array[Array[Double]]]): Array[Int] = {
    val m = codebook.length
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val entries = codebook(mi)
      val subDim = entries(0).length
      val off = mi * subDim
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < entries.length) {
        val e = entries(c)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = vec.getFloat(off + j).toDouble - e(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(mi) = best
      mi += 1
    }
    out
  }
}

/** Per-query ADC lookup table, flattened: lut(mi·codes + c) = dot of the
  * query's subspace-mi slice with codebook entry c. Computed ONCE per
  * query row (queries are broadcast-small); pair scoring then costs m
  * table adds instead of a full dim-wide dot — the whole point of PQ.
  */
case class PqLut(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == ArrayType(FloatType, containsNull = false) ||
        child.dataType == ArrayType(FloatType, containsNull = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_lut expects ARRAY<FLOAT>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      PqLut.lut(input.asInstanceOf[ArrayData], codebook))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.PqLut.lut($c, $cbRef));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqLut {
  def lut(vec: ArrayData, codebook: Array[Array[Array[Double]]]): Array[Double] = {
    val m = codebook.length
    val codes = codebook(0).length
    val out = new Array[Double](m * codes)
    var mi = 0
    while (mi < m) {
      val entries = codebook(mi)
      val subDim = entries(0).length
      val off = mi * subDim
      var c = 0
      while (c < codes) {
        val e = entries(c)
        var dot = 0.0
        var j = 0
        while (j < subDim) { dot += vec.getFloat(off + j).toDouble * e(j); j += 1 }
        out(mi * codes + c) = dot
        c += 1
      }
      mi += 1
    }
    out
  }
}

/** ADC pair score: sum of m LUT entries selected by the corpus row's PQ
  * codes — the hot N×Q loop of PQ search, codegen'd, m adds per pair.
  * Summation runs in ascending subspace order (deterministic). */
case class PqAdc(left: Expression, right: Expression, codes: Int)
    extends BinaryExpression {
  require(codes > 0, "pq_adc: codes must be positive")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes() = {
    if (left.dataType.isInstanceOf[ArrayType] &&
        left.dataType.asInstanceOf[ArrayType].elementType == IntegerType &&
        right.dataType.isInstanceOf[ArrayType] &&
        right.dataType.asInstanceOf[ArrayType].elementType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (ARRAY<INT>, ARRAY<DOUBLE>), got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(cs: Any, lt: Any): Any =
    PqAdc.score(cs.asInstanceOf[ArrayData], lt.asInstanceOf[ArrayData], codes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, lt) =>
      s"${ev.value} = graft.functions.PqAdc.score($cs, $lt, $codes);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  def score(codesArr: ArrayData, lut: ArrayData, codes: Int): Double = {
    val m = codesArr.numElements()
    var s = 0.0
    var mi = 0
    while (mi < m) { s += lut.getDouble(mi * codes + codesArr.getInt(mi)); mi += 1 }
    s
  }
}

/** IVF index-build assignment: id of the centroid with the highest cosine
  * to the input vector (same double-accumulated cosine as [[FloatCosine]],
  * zero norms score 0.0). The centroid table is a driver-side constant
  * (nlist × dim doubles — algorithm-sized like the PQ codebook, never
  * data-sized), so assignment is a NARROW codegen'd projection: the
  * corpus is never shuffled, unlike a crossJoin+max_by build pass.
  *
  * `ids` must be in ascending order; ties keep the FIRST (= smallest) id,
  * matching `max_by(struct(cosine, -id))` and a
  * `row_number() OVER (ORDER BY cosine DESC, id) = 1` oracle replay.
  */
case class NearestCentroid(child: Expression, ids: Array[Long],
    centroids: Array[Array[Double]]) extends UnaryExpression {
  require(ids.nonEmpty && ids.length == centroids.length,
    "nearest_centroid: ids/centroids size mismatch or empty")
  require((1 until ids.length).forall(i => ids(i - 1) < ids(i)),
    "nearest_centroid: ids must be strictly ascending")

  override def dataType: DataType = LongType

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid expects ARRAY<FLOAT>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.assign(input.asInstanceOf[ArrayData], ids, centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
    val centsRef = ctx.addReferenceObj("centroidVecs", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestCentroid.assign($c, $idsRef, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`nprobe` centroids by cosine (ties by centroid id ascending) as
  * one codegen'd pass — the probe-list step of IVF serving WITHOUT a
  * broadcast of the query side: [[NearestCentroid]] generalized from
  * argmax to arg-top-n. Returns ARRAY<BIGINT> of centroid ids, best
  * first. Replaces the `crossJoin(broadcast(centroids)) + groupBy(qid)
  * TopK` probe shape when the QUERY relation is corpus-sized (mining
  * hard negatives for a whole training set): the centroid table rides
  * as a reference object inside the expression, so probing is a narrow
  * projection and the query relation never shuffles or broadcasts. */
case class TopCentroids(child: Expression, ids: Array[Long],
    centroids: Array[Array[Double]], nprobe: Int) extends UnaryExpression {
  require(ids.nonEmpty && ids.length == centroids.length,
    "top_centroids: ids/centroids size mismatch or empty")
  require((1 until ids.length).forall(i => ids(i - 1) < ids(i)),
    "top_centroids: ids must be strictly ascending")
  require(nprobe >= 1 && nprobe <= ids.length,
    s"top_centroids: nprobe=$nprobe out of range [1, ${ids.length}]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_centroids expects ARRAY<FLOAT>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TopCentroids.probe(input.asInstanceOf[ArrayData], ids, centroids, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
    val centsRef = ctx.addReferenceObj("centroidVecs", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TopCentroids.probe($c, $idsRef, $centsRef, $nprobe);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopCentroids {
  /** Shared by eval and generated code. Insertion top-n over the
    * centroid scan: O(nlist · nprobe) worst case, nprobe is small. */
  def probe(vec: ArrayData, ids: Array[Long],
      cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val topIdx = new Array[Int](nprobe)
    val topS = new Array[Double](nprobe)
    var filled = 0
    var ci = 0
    while (ci < cents.length) {
      val e = cents(ci)
      val n = math.min(vec.numElements(), e.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val x = vec.getFloat(j).toDouble
        val y = e(j)
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      val s = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      // insert: strictly-greater score wins; equal score keeps the
      // earlier (lower-id) centroid — the (cosine desc, id asc) order
      var pos = filled
      while (pos > 0 && s > topS(pos - 1)) pos -= 1
      if (pos < nprobe) {
        val end = math.min(filled, nprobe - 1)
        var m = end
        while (m > pos) { topIdx(m) = topIdx(m - 1); topS(m) = topS(m - 1); m -= 1 }
        topIdx(pos) = ci; topS(pos) = s
        if (filled < nprobe) filled += 1
      }
      ci += 1
    }
    val out = new Array[Long](filled)
    var i = 0
    while (i < filled) { out(i) = ids(topIdx(i)); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object NearestCentroid {
  /** Shared by eval and generated code. */
  def assign(vec: ArrayData, ids: Array[Long],
      cents: Array[Array[Double]]): Long = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var ci = 0
    while (ci < cents.length) {
      val e = cents(ci)
      val n = math.min(vec.numElements(), e.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val x = vec.getFloat(j).toDouble
        val y = e(j)
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      val s = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      if (s > bestS) { bestS = s; best = ci }
      ci += 1
    }
    ids(best)
  }
}

/** Distinct word n-grams of the lowercased text, as one codegen'd pass —
  * the native form of the composite
  * `array_distinct(flatten(transform(array(tokens), ts => transform(
  * sequence(...), i => concat_ws(" ", slice(ts, i+1, n))))))` that every
  * token-gram dedup operator shares. The composite is an interpreted
  * higher-order-function tree that re-evaluates per gram and costs a
  * full corpus pass each time a plan references it (the d16 prefix-join
  * references its gram frame three times — measured ~45% of the whole
  * operator). Semantics are matched exactly: tokens = whitespace-split
  * (Java regex "\\s+") of UTF8String.toLowerCase, empties dropped; for
  * fewer than n tokens the single gram is all tokens joined; grams
  * joined with a single space; first-occurrence-distinct. Null => null.
  * ZERO tokens (empty / whitespace-only text) => the single EMPTY gram
  * [""], exactly like the composite (concat_ws over an empty slice) and
  * like the DuckDB oracle replays — all-whitespace docs therefore pair
  * with each other at jaccard 1.0, which is the wanted dedup outcome;
  * callers excluding them filter on the text, not the gram count.
  */
case class TokenNGrams(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n out of range: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_ngrams expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenNGrams.grams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNGrams.grams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenNGrams {
  /** Static entry point shared by eval and generated code. */
  def grams(text: UTF8String, n: Int): ArrayData = {
    // toLowerCase then Java-regex split: identical tokenization to the
    // composite plan (Spark's lower + split use the same primitives).
    val tokens0 = text.toLowerCase.toString.split("\\s+")
    var nTok = 0
    val tokens = new Array[String](tokens0.length)
    var i = 0
    while (i < tokens0.length) {
      if (tokens0(i).nonEmpty) { tokens(nTok) = tokens0(i); nTok += 1 }
      i += 1
    }
    if (nTok == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.EMPTY_UTF8))
    val nGrams = math.max(nTok - n, 0) + 1
    val seen = new java.util.LinkedHashSet[String](nGrams * 2)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + n, nTok)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** [[TokenNGrams]] emitting the grams' 8-byte xxhash64 fingerprints
  * (seed 42 — Spark's own `xxhash64`) instead of the gram STRINGS, in
  * one codegen'd pass that never allocates a per-gram string: token
  * bytes are copied into one reused buffer per gram and hashed in
  * place, and dedup is a primitive sort + unique instead of a string
  * hash set. The r13 x300 probe showed the decontam family's probe
  * stage is dominated by exactly that per-gram assembly + dedup — this
  * is the "hashed-gram probe relation" backlog candidate, A/B-measured
  * in SCALEPROBE_r14.
  *
  * Hash parity is pinned by spec: element set == `xxhash64(gram)` over
  * [[TokenNGrams]]' output (so a benchmark-side relation built with
  * plain SQL `xxhash64` joins exactly). Output is SORTED ascending
  * (join/count consumers are order-blind). Same empty-text convention:
  * no tokens → the hash of the empty gram. The injective-or-loudly-
  * wrong contract of the d4/d16 hashed keys applies: consumers must
  * either verify candidates exactly or (like contamination REPORTS)
  * tolerate a ~2⁻⁶⁴-per-pair overcount. */
case class TokenNGramHashes(child: Expression, n: Int, seed: Long = 42L)
    extends UnaryExpression {
  require(n >= 1, s"n out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_ngram_hashes expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenNGramHashes.hashes(input.asInstanceOf[UTF8String], n, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNGramHashes.hashes($c, $n, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenNGramHashes {
  private val BYTE_ARRAY_OFFSET =
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** Static entry point shared by eval and generated code. The `seed`
    * parameter (default 42 = Spark's xxhash64) lets a MULTI-length
    * consumer mix the gram length into the hash itself (seed 42+n), so
    * a one-scan curve needs no per-element struct tagging — the
    * interpreted transform lambda that made the first hashed-curve
    * variant SLOWER than strings in the SCALEPROBE_r14 A/B. */
  def hashes(text: UTF8String, n: Int, seed: Long): ArrayData = {
    // identical tokenization to TokenNGrams.grams (same primitives)
    val tokens0 = text.toLowerCase.toString.split("\\s+")
    var nTok = 0
    val tokens = new Array[Array[Byte]](tokens0.length)
    var total = 0
    var i = 0
    while (i < tokens0.length) {
      if (tokens0(i).nonEmpty) {
        val b = tokens0(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        tokens(nTok) = b
        total += b.length
        nTok += 1
      }
      i += 1
    }
    if (nTok == 0)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUnsafeBytes(Array.emptyByteArray,
          BYTE_ARRAY_OFFSET, 0, seed)))
    val nGrams = math.max(nTok - n, 0) + 1
    // one reused buffer: the longest gram is bounded by the whole text
    val buf = new Array[Byte](total + nTok)
    val out = new Array[Long](nGrams)
    i = 0
    while (i < nGrams) {
      var off = 0
      var j = i
      val end = math.min(i + n, nTok)
      while (j < end) {
        if (j > i) { buf(off) = ' '; off += 1 }
        val t = tokens(j)
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      out(i) = XXH64.hashUnsafeBytes(buf, BYTE_ARRAY_OFFSET, off, seed)
      i += 1
    }
    java.util.Arrays.sort(out)
    var m = 1
    i = 1
    while (i < nGrams) {
      if (out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == nGrams) out else java.util.Arrays.copyOf(out, m))
  }
}

/** Intersection SIZE of two ASCENDING-sorted string arrays by linear
  * two-pointer merge. Replaces `size(array_intersect(a, b))` in verify
  * stages whose sides are pre-sorted (`sort_array` in the per-doc
  * projection — paid once per document): array_intersect builds a hash
  * set PER PAIR, and a candidate-heavy exact verify (PPJoin at a low
  * threshold evaluates ~80x more candidates than surviving pairs on the
  * d16 gate corpus) spends its whole budget re-hashing the same arrays.
  * The merge does one allocation-free O(na+nb) scan with binary
  * UTF8String compares — the same order `sort_array` produces.
  * Inputs must be duplicate-free (array_distinct upstream) or common
  * duplicates count multiply. Either side null => null.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count expects two ARRAY<STRING>, got ${l.sql}, ${r.sql}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectCount.count(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectCount.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Static entry point shared by eval and generated code. Null array
    * ELEMENTS sort first under sort_array and compare via the null
    * checks below (a null never equals anything, matching
    * array_intersect's null-excluding semantics for counting). */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    // skip leading nulls (sort_array places them first by default)
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** ASCENDING-sorted xxhash64 fingerprints of a string array's elements,
  * one codegen'd pass — the 8-byte form of a per-doc gram set for
  * verify stages that only COUNT matches ([[SortedLongIntersectCount]]):
  * candidate joins then carry 8 bytes per gram instead of the gram
  * text, and the per-pair merge compares longs instead of UTF8 byte
  * strings. Same trust contract as [[RollingFingerprint]]-based exact
  * dedup: counts are exact unless two DISTINCT grams of the same two
  * documents collide in 64 bits, in which case the downstream
  * hash-gate mismatches loudly rather than silently. Null elements are
  * skipped (array_intersect's null-excluding counting semantics). */
case class SortedXxhash64Array(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_xxhash64_array expects ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    SortedXxhash64Array.hashSorted(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SortedXxhash64Array.hashSorted($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedXxhash64Array {
  /** Shared by eval and generated code. Seed 42 = Spark's xxhash64. */
  def hashSorted(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        out(m) = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        m += 1
      }
      i += 1
    }
    val trimmed = if (m == n) out else java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(trimmed)
    UnsafeArrayData.fromPrimitiveArray(trimmed)
  }
}

/** LSH band hashes of a MinHash signature in ONE fused pass: element b
  * of the output is bit-identical to Spark's
  * `xxhash64(lit(b), slice(sig, b*rowsPerBand+1, rowsPerBand))` — the
  * seed-chained XXH64 fold over (int band-index, then each slice
  * element) — but with none of that form's costs: the per-band `slice`
  * allocated an array per band per row, and the `array(bands × ...)`
  * wrapper put ~5·bands expression nodes into the plan, which every
  * task of every stage containing the banding re-deserialized (the
  * r18 d23 profile read 3.5-5.3 s of pure task deserialization on the
  * signature stages). One node, zero per-band allocations, same
  * hashes — so persisted index postings and LSH candidate sets are
  * unchanged (pinned by a test against the SQL form). */
case class BandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1, s"bands=$bands r=$rowsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"band_hashes expects ARRAY<BIGINT>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    BandHashes.hash(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BandHashes.hash($c, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BandHashes {
  /** Shared by eval and generated code. Seed 42 = Spark's xxhash64;
    * the fold order (band index int first, then the band's signature
    * longs in order) replays `xxhash64(lit(b), slice(...))` exactly. */
  def hash(sig: ArrayData, bands: Int, r: Int): ArrayData = {
    require(sig.numElements() >= bands * r,
      s"signature has ${sig.numElements()} hashes, need ${bands * r}")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var j = b * r
      val end = j + r
      while (j < end) {
        h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** All ordered pairs (es[i], es[j]), i < j, of one sorted bucket's
  * element list (bare ids or structs carrying a payload) in ONE fused
  * pass, identical in values AND order to the SQL form the in-bucket
  * expansions used (nested `transform` lambdas pairing each element with
  * a `slice` of its tail, then `flatten`), without that form's per-element
  * tail copies and flatten re-copy, and without its `CodegenFallback`
  * lambdas, which kept the expanding `Generate` out of whole-stage
  * codegen. Each element is read once and shared by its n-1 pairs.
  * Upstream is always `sort_array(collect_list(...))`, which cannot emit
  * null elements; an actual null THROWS (the [[SortedLongIntersectCount]]
  * loudly-wrong convention) rather than silently pairing a fabricated
  * element. */
case class SortedIdPairs(child: Expression) extends UnaryExpression {

  private def elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elementType, nullable = false),
      StructField("b", elementType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case _: ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_id_pairs expects an ARRAY, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    SortedIdPairs.pairs(input.asInstanceOf[ArrayData], elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elementType", elementType,
      classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SortedIdPairs.pairs($c, $et);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedIdPairs {
  /** Shared by eval and generated code. Pair order is the SQL form's:
    * outer index ascending, inner index ascending. */
  def pairs(es: ArrayData, elementType: DataType): ArrayData = {
    val n = es.numElements()
    val total = n.toLong * (n - 1L) / 2L
    require(total <= Int.MaxValue,
      s"sorted_id_pairs: $n elements expand to $total pairs (> 2^31-1); " +
        "cap the bucket (maxDocsPerGram) before expanding")
    val elems = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (es.isNullAt(i)) throw new IllegalArgumentException(
        s"sorted_id_pairs: null element at index $i")
      elems(i) = es.get(i, elementType)
      i += 1
    }
    val out = new Array[Any](total.toInt)
    var k = 0
    i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](elems(i), elems(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** The eight Gopher quality metrics (Rae et al. 2021, table A1) of one
  * document and their verdict, in ONE pass over its UTF-8 bytes. The
  * SQL form this replaces split the text twelve times, ran four
  * `regexp_replace`s, interpreted `filter`/`transform` lambdas and a
  * per-word `rlike`, and kept the quality `Filter` out of whole-stage
  * codegen. Every metric is bit-identical to that form for valid UTF-8
  * (pinned by a differential spec against it):
  *
  *   - words are maximal runs of non-`\s` characters, where `\s` is
  *     Java's six ASCII whitespace characters;
  *   - `sum_word_len` is the non-whitespace character count, characters
  *     counted as `UTF8String.numChars` counts them;
  *   - `n_symbols` is `#` count plus `...` count, left to right without
  *     overlap;
  *   - lines split on `\n`; a line counts if it has a character other
  *     than `' '` (`ltrim`/`rtrim` strip only `' '`), is a bullet line if
  *     its first such character is `-`, `*` or `•`, an ellipsis line if
  *     its last one closes a `...`;
  *   - an alpha word holds an ASCII letter;
  *   - stop hits count DISTINCT words whose Spark `lower` is one of the
  *     eight stop words (non-ASCII words go through `lower`'s own case
  *     mapping).
  *
  * Output: a struct of the eight metrics and `is_quality` (every ratio
  * threshold a cross-multiplication, never a float division); null for
  * null text. */
case class GopherQuality(child: Expression, minWords: Long, maxWords: Long,
    minStopHits: Long) extends UnaryExpression {

  override def dataType: DataType = GopherQuality.dataType

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gopher_quality expects STRING, got ${child.dataType.sql}")
  }

  // The case mapping Spark's `lower` uses for non-ASCII words, read from
  // the same conf at the same point.
  private lazy val useICU: Boolean = org.apache.spark.sql.internal.SQLConf.get
    .getConf(org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(input: Any): Any =
    GopherQuality.compute(input.asInstanceOf[UTF8String], minWords, maxWords,
      minStopHits, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GopherQuality.compute($c, ${minWords}L, " +
        s"${maxWords}L, ${minStopHits}L, $useICU);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherQuality {
  val dataType: StructType = StructType(
    Seq("n_words", "sum_word_len", "n_symbols", "n_lines", "n_bullet_lines",
      "n_ellipsis_lines", "n_alpha_words", "n_stop_hits")
      .map(StructField(_, LongType, nullable = false)) :+
      StructField("is_quality", BooleanType, nullable = false))

  private val stops: Array[UTF8String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")
      .map(UTF8String.fromString)

  /** Bit k set iff the word's bytes, ASCII-lowercased, are stop word k. */
  private def asciiStopBit(base: AnyRef, off: Long, len: Int): Int = {
    var k = 0
    while (k < stops.length) {
      val sw = stops(k)
      if (sw.numBytes == len) {
        var j = 0
        while (j < len && {
            val b = org.apache.spark.unsafe.Platform.getByte(base, off + j)
            (if (b >= 'A' && b <= 'Z') b + 32 else b) == sw.getByte(j)
          }) j += 1
        if (j == len) return 1 << k
      }
      k += 1
    }
    0
  }

  private def stopBit(lowered: UTF8String): Int = {
    var k = 0
    while (k < stops.length) {
      if (stops(k) == lowered) return 1 << k
      k += 1
    }
    0
  }

  private def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Shared by eval and generated code. */
  def compute(s: UTF8String, minWords: Long, maxWords: Long, minStopHits: Long,
      useICU: Boolean): InternalRow = {
    import org.apache.spark.unsafe.Platform.getByte
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var nChars, nWs, nWords, nAlpha, nHash, nDots3 = 0L
    var nLines, nBullet, nEll = 0L
    var stopMask = 0
    var inWord = false
    var wStart = 0
    var wAlpha = false
    var wAscii = true
    var dotRun = 0   // '.' run ending here, reset after each "..." match
    var lineSeen = false
    var lineDots = 0 // '.' run ending at the line's last non-' ' character
    var lineGap = false // a ' ' since that character
    // One loop step past the last byte reads a virtual '\n' that closes
    // the last word and line (no closure: captured vars would be boxed).
    var i = 0
    var more = true
    while (more) {
      more = i < n
      val b = if (more) getByte(base, off + i) else '\n'.toByte
      if (more) nChars += 1
      if (isWs(b)) {
        if (more) nWs += 1
        if (inWord) {
          inWord = false
          if (wAlpha) nAlpha += 1
          val len = math.min(i, n) - wStart
          if (wAscii) {
            if (len >= 2 && len <= 4) stopMask |= asciiStopBit(base, off + wStart, len)
          } else stopMask |= stopBit(
            org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(
              UTF8String.fromAddress(base, off + wStart, len),
              org.apache.spark.sql.catalyst.util.CollationFactory
                .UTF8_BINARY_COLLATION_ID, useICU))
        }
      } else {
        if (!inWord) {
          inWord = true
          wStart = i
          wAlpha = false
          wAscii = true
          nWords += 1
        }
        if (b < 0) wAscii = false
        else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) wAlpha = true
      }
      if (b == '#') nHash += 1
      if (b == '.') {
        dotRun += 1
        if (dotRun == 3) { nDots3 += 1; dotRun = 0 }
      } else dotRun = 0
      if (b == '\n') {
        if (lineSeen) {
          nLines += 1
          if (lineDots >= 3) nEll += 1
        }
        lineSeen = false
        lineDots = 0
        lineGap = false
      } else if (b == ' ') lineGap = true
      else {
        if (!lineSeen) {
          lineSeen = true
          if (b == '-' || b == '*' ||
              (b == 0xE2.toByte && i + 2 < n &&
                getByte(base, off + i + 1) == 0x80.toByte &&
                getByte(base, off + i + 2) == 0xA2.toByte)) nBullet += 1
        }
        lineDots = if (b != '.') 0 else if (lineGap) 1 else lineDots + 1
        lineGap = false
      }
      i += UTF8String.numBytesForFirstByte(b)
    }

    val sumLen = nChars - nWs
    val nSym = nHash + nDots3
    val nStop = Integer.bitCount(stopMask).toLong
    val ok = nWords >= minWords && nWords <= maxWords &&
      sumLen >= nWords * 3 && sumLen <= nWords * 10 &&
      nSym * 10 <= nWords &&
      nBullet * 10 <= nLines * 9 &&
      nEll * 10 <= nLines * 3 &&
      nAlpha * 10 >= nWords * 8 &&
      nStop >= minStopHits
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nWords, sumLen, nSym, nLines, nBullet, nEll, nAlpha, nStop, ok))
  }
}

/** [[SortedIntersectCount]] for ASCENDING-sorted long arrays — the
  * allocation-free two-pointer merge over 8-byte fingerprints. Inputs
  * must be duplicate-free or common duplicates count multiply.
  * Nullable ELEMENT types are accepted (a parquet round-trip of a
  * fingerprint column — d23's index serve — resurfaces as nullable
  * elements, and Spark's file sources force the relaxation even under
  * an explicit schema), but an actual null element THROWS — wherever it
  * sits, including the un-merged tail (both arrays are null-scanned up
  * front): silently reading it as 0 could fabricate an intersection. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "sorted_long_intersect_count expects two ARRAY<BIGINT>, " +
            s"got ${l.sql}, ${r.sql}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedLongIntersectCount.count(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedLongIntersectCount.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  /** Static entry point shared by eval and generated code. Null elements
    * are rejected by an UP-FRONT scan of BOTH arrays (not inside the
    * merge): a null in the un-merged tail after one side is exhausted —
    * or one that a writer sorted ahead of real values, terminating the
    * merge early — must throw just as loudly as one the merge reaches,
    * or the documented contract would depend on element position. The
    * pre-scan is a branch-per-element over primitive null words —
    * negligible next to the merge itself. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var p = 0
    while (p < na) {
      if (a.isNullAt(p))
        throw new IllegalArgumentException(
          "sorted_long_intersect_count: null fingerprint element")
      p += 1
    }
    p = 0
    while (p < nb) {
      if (b.isNullAt(p))
        throw new IllegalArgumentException(
          "sorted_long_intersect_count: null fingerprint element")
      p += 1
    }
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** One left-to-right NON-OVERLAPPING merge round of byte-pair encoding
  * (Sennrich et al. 2016): every adjacent (left, right) symbol pair in
  * the array becomes the single symbol left+right; after a merge the
  * scan resumes AFTER the merged symbol, so "a a a" under (a,a) yields
  * ["aa","a"], matching the reference BPE implementations. Drives the
  * vocab-table merge loop in [[graft.ext.Bpe]]; left/right are
  * per-round literals, so each round stays codegen'd.
  */
case class BpeMergePair(child: Expression, mergeLeft: String, mergeRight: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_merge_pair expects ARRAY<STRING>, got ${t.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    BpeMergePair.merge(input.asInstanceOf[ArrayData],
      UTF8String.fromString(mergeLeft), UTF8String.fromString(mergeRight))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("mergeLeft", UTF8String.fromString(mergeLeft))
    val r = ctx.addReferenceObj("mergeRight", UTF8String.fromString(mergeRight))
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeMergePair.merge($c, $l, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeMergePair {
  /** Static entry point shared by eval and generated code. */
  def merge(syms: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new Array[Any](n)
    var i = 0
    var o = 0
    while (i < n) {
      val cur = syms.getUTF8String(i)
      if (i + 1 < n && cur.equals(l) && syms.getUTF8String(i + 1).equals(r)) {
        out(o) = UTF8String.concat(l, r)
        i += 2
      } else {
        out(o) = cur
        i += 1
      }
      o += 1
    }
    if (o == n)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    else
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], o))
  }
}

/** Full BPE tokenization of a text in ONE codegen'd pass: whitespace
  * words (case preserved — tokenizers are case-sensitive), each word
  * split to code-point symbols plus a final "</w>" end-of-word marker,
  * the learned merge list applied IN ORDER to each word, all words'
  * symbols concatenated. The merge list is a compile-time reference
  * (driver-learned, bounded), so per-row cost is
  * O(len · merges-that-apply) with zero interpreted HOF evaluation —
  * the shape a tokenize-100-TB pass needs. An empty merge list yields
  * the initial symbol sequences (used by [[graft.ext.Bpe]] to seed the
  * vocab table).
  */
case class BpeTokenize(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_tokenize expects STRING, got ${child.dataType.sql}")
  }

  @transient private lazy val mergeArr: Array[Array[UTF8String]] =
    BpeTokenize.toMergeArr(merges)

  override def nullSafeEval(input: Any): Any =
    BpeTokenize.tokenize(input.asInstanceOf[UTF8String], mergeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("merges", mergeArr,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeTokenize.tokenize($c, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeTokenize {
  val EndOfWord = "</w>"

  def toMergeArr(merges: Seq[(String, String)]): Array[Array[UTF8String]] =
    merges.map { case (l, r) =>
      Array(UTF8String.fromString(l), UTF8String.fromString(r))
    }.toArray

  /** Static entry point shared by eval and generated code. */
  def tokenize(text: UTF8String, merges: Array[Array[UTF8String]]): ArrayData = {
    val words = text.toString.split("\\s+")
    val out = new java.util.ArrayList[Any]()
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        // code-point symbols + end-of-word marker
        var syms = new java.util.ArrayList[UTF8String](w.length + 1)
        var ci = 0
        while (ci < w.length) {
          val cp = w.codePointAt(ci)
          val cc = Character.charCount(cp)
          syms.add(UTF8String.fromString(w.substring(ci, ci + cc)))
          ci += cc
        }
        syms.add(UTF8String.fromString(EndOfWord))
        var mi = 0
        while (mi < merges.length) {
          val l = merges(mi)(0)
          val r = merges(mi)(1)
          val next = new java.util.ArrayList[UTF8String](syms.size)
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms.get(i).equals(l) &&
                syms.get(i + 1).equals(r)) {
              next.add(UTF8String.concat(l, r))
              i += 2
            } else {
              next.add(syms.get(i))
              i += 1
            }
          }
          syms = next
          mi += 1
        }
        out.addAll(syms)
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** BPE-dropout serving (Provilkov, Emelianenko & Voita, "BPE-Dropout:
  * Simple and Effective Subword Regularization", ACL 2020): apply the
  * learned merge table in rank order as [[BpeTokenize]] does, but drop
  * each individual merge SITE with probability `dropoutPpm`/1e6,
  * yielding stochastic finer-grained segmentations — the BPE-family
  * twin of [[UnigramSampleTokenize]]'s l-best sampling, and the same
  * determinism contract that makes a sampling operator gateable: each
  * site's coin is a pure function of (word bytes, word occurrence
  * ordinal, merge rank, match-site ordinal, seed), an XXH64 draw
  * reduced mod 1e6 against the integer threshold, so runs agree
  * bit-for-bit under any partitioning and a new `seed` resamples the
  * epoch. A dropped site keeps the pair split for THIS merge pass
  * (the scan advances one symbol, so the right symbol may still merge
  * as a left symbol later in the pass — the published reference
  * behavior); `dropoutPpm = 0` degrades to exactly [[BpeTokenize]] and
  * `dropoutPpm = 1000000` always fully character-splits. Independent
  * replay: tools/gen_bpe_dropout_oracle.py.
  */
case class BpeDropoutTokenize(child: Expression,
    merges: Seq[(String, String)], dropoutPpm: Int, seed: Long)
  extends UnaryExpression {

  require(dropoutPpm >= 0 && dropoutPpm <= 1000000,
    s"dropoutPpm out of range: $dropoutPpm")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_dropout_tokenize expects STRING, got ${child.dataType.sql}")
  }

  @transient private lazy val mergeArr: Array[Array[UTF8String]] =
    BpeTokenize.toMergeArr(merges)

  override def nullSafeEval(input: Any): Any =
    BpeDropoutTokenize.tokenize(
      input.asInstanceOf[UTF8String], mergeArr, dropoutPpm, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("merges", mergeArr,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeDropoutTokenize.tokenize(" +
        s"$c, $m, $dropoutPpm, ${seed}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeDropoutTokenize {
  // Distinct odd mix constants (golden-ratio / XXH64 P2) keep the
  // (wordOrdinal, mergeRank, site) triples from colliding in the seed
  // space; both sides compute the sum mod 2^64.
  private val WI_MIX = 0x9E3779B97F4A7C15L
  private val MI_MIX = 0xC2B2AE3D27D4EB4FL

  /** Static entry point shared by eval and generated code. */
  def tokenize(text: UTF8String, merges: Array[Array[UTF8String]],
      dropoutPpm: Int, seed: Long): ArrayData = {
    val words = text.toString.split("\\s+")
    val out = new java.util.ArrayList[Any]()
    var wi = 0 // occurrence ordinal over emitted (non-empty) words
    var idx = 0
    while (idx < words.length) {
      val w = words(idx)
      if (w.nonEmpty) {
        val u = UTF8String.fromString(w)
        var syms = new java.util.ArrayList[UTF8String](w.length + 1)
        var ci = 0
        while (ci < w.length) {
          val cp = w.codePointAt(ci)
          val cc = Character.charCount(cp)
          syms.add(UTF8String.fromString(w.substring(ci, ci + cc)))
          ci += cc
        }
        syms.add(UTF8String.fromString(BpeTokenize.EndOfWord))
        var mi = 0
        while (mi < merges.length) {
          val l = merges(mi)(0)
          val r = merges(mi)(1)
          val next = new java.util.ArrayList[UTF8String](syms.size)
          var i = 0
          var site = 0 // ordinal of MATCHED sites in this pass
          while (i < syms.size) {
            if (i + 1 < syms.size && syms.get(i).equals(l) &&
                syms.get(i + 1).equals(r)) {
              val drop = dropoutPpm > 0 && {
                val h = XXH64.hashUnsafeBytes(
                  u.getBaseObject, u.getBaseOffset, u.numBytes,
                  seed + wi * WI_MIX + mi * MI_MIX + site)
                java.lang.Long.remainderUnsigned(h, 1000000L) < dropoutPpm
              }
              site += 1
              if (drop) {
                next.add(syms.get(i))
                i += 1
              } else {
                next.add(UTF8String.concat(l, r))
                i += 2
              }
            } else {
              next.add(syms.get(i))
              i += 1
            }
          }
          syms = next
          mi += 1
        }
        out.addAll(syms)
        wi += 1
      }
      idx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Scalar (int8) quantization of a float vector against per-dimension
  * corpus [min, max] ranges — the 4x-compression tier between raw
  * floats and product quantization (FAISS SQ8): each dimension maps
  * affinely onto 0..255, `round((x-min)·255/(max-min))` clamped. The
  * stats are 2·dim doubles broadcast with the plan (vs a PQ codebook's
  * m·k·subDim), the encode is one codegen'd narrow pass, and the
  * quantization arithmetic is plain double ops in a pinned order so an
  * independent engine replays codes bit-identically. A degenerate
  * dimension (max == min) encodes 0.
  */
case class Sq8Encode(child: Expression, mins: Array[Double],
    maxs: Array[Double]) extends UnaryExpression {
  require(mins.length == maxs.length, "sq8_encode: mins/maxs length mismatch")

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sq8_encode expects ARRAY<FLOAT>, got ${t.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    Sq8Encode.encode(input.asInstanceOf[ArrayData], mins, maxs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8Mins", mins, "double[]")
    val mx = ctx.addReferenceObj("sq8Maxs", maxs, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Sq8Encode.encode($c, $mn, $mx);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Sq8Encode {
  /** Shared by eval and generated code. Mirrored by the s12 oracle:
    * LEAST(255, GREATEST(0, round((x - mn)·255/(mx - mn)))). */
  def encode(vec: ArrayData, mins: Array[Double],
      maxs: Array[Double]): Array[Byte] = {
    val d = math.min(vec.numElements(), mins.length)
    val out = new Array[Byte](d)
    var j = 0
    while (j < d) {
      val x = vec.getFloat(j).toDouble
      val span = maxs(j) - mins(j)
      val q =
        if (span == 0.0) 0L
        else Math.round((x - mins(j)) * 255 / span)
      out(j) = Math.min(255L, Math.max(0L, q)).toByte
      j += 1
    }
    out
  }
}

/** Asymmetric SQ8 distance (ADC): the dot product of a FLOAT query
  * against the affine reconstruction of an [[Sq8Encode]] code,
  * `Σ_j q_j · (min_j + code_j · (max_j−min_j)/255)`, accumulated in
  * dimension order so the double sum is bit-reproducible across
  * engines. One fused codegen'd loop per (query, code) pair — the
  * scan-side scorer that reads 1 byte/dim instead of 4.
  */
case class Sq8Adc(codes: Expression, query: Expression,
    mins: Array[Double], maxs: Array[Double]) extends BinaryExpression {
  require(mins.length == maxs.length, "sq8_adc: mins/maxs length mismatch")

  override def left: Expression = codes
  override def right: Expression = query
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes() = {
    (codes.dataType, query.dataType) match {
      case (BinaryType, ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sq8_adc expects (BINARY, ARRAY<FLOAT>), got (${l.sql}, ${r.sql})")
    }
  }

  override def nullSafeEval(c: Any, q: Any): Any =
    Sq8Adc.adc(c.asInstanceOf[Array[Byte]], q.asInstanceOf[ArrayData],
      mins, maxs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8Mins", mins, "double[]")
    val mx = ctx.addReferenceObj("sq8Maxs", maxs, "double[]")
    nullSafeCodeGen(ctx, ev, (c, q) =>
      s"${ev.value} = graft.functions.Sq8Adc.adc($c, $q, $mn, $mx);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(codes = newLeft, query = newRight)
}

object Sq8Adc {
  /** Shared by eval and generated code. Mirrored by the s12 oracle:
    * list_aggregate(list_transform(..., j -> q[j]·(mn[j] +
    * code[j]·((mx[j]−mn[j])/255))), 'sum') — same term form, same
    * left-to-right accumulation. */
  def adc(codes: Array[Byte], query: ArrayData, mins: Array[Double],
      maxs: Array[Double]): Double = {
    val d = math.min(codes.length, query.numElements())
    var sum = 0.0
    var j = 0
    while (j < d) {
      val step = (maxs(j) - mins(j)) / 255
      sum += query.getFloat(j).toDouble *
        (mins(j) + (codes(j) & 0xFF).toDouble * step)
      j += 1
    }
    sum
  }
}

/** Sorts a gram array into a consistent corpus-global "rarest-first"
  * order using a BOUNDED driver-collected heavy-gram table shipped with
  * the plan: grams found in the table sort by their true document
  * frequency (then bytewise), all others by the floor df=1 (then
  * bytewise). The prefix-filter theorem (Chaudhuri et al., ICDE 2006)
  * needs only SOME consistent total order of tokens shared by all
  * documents — true-df rarest-first is purely a candidate-minimizing
  * heuristic, and by Zipf the candidate surface is governed by where
  * the HEAVY grams sort (last), which the top-K table captures exactly;
  * ordering the rare tail among itself by bytes instead of df changes
  * candidate counts marginally and results not at all. What the bounded
  * table buys at scale: per-document ordering becomes this one
  * codegen'd narrow projection — no corpus-sized df join and no
  * doc-keyed regroup shuffle (the exact-df formulation pays both).
  */
case class RarestFirstSort(child: Expression,
    hot: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]])
    extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rarest_first_sort expects ARRAY<STRING>, got ${t.sql}")
    }
  }

  // Hoisted out of the per-row path, as in GramHitCount.
  @transient private lazy val map: java.util.HashMap[UTF8String, java.lang.Long] =
    RarestFirstSort.mapFor(hot)

  override def nullSafeEval(input: Any): Any =
    RarestFirstSort.sort(input.asInstanceOf[ArrayData], map)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("hotGramsBc", hot,
      "org.apache.spark.broadcast.Broadcast")
    val m = ctx.addMutableState("java.util.HashMap", "hotGrams",
      v => s"$v = graft.functions.RarestFirstSort.mapFor($b);")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RarestFirstSort.sort($c, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RarestFirstSort {
  // df map via broadcast handle + per-JVM BroadcastSideCache, NOT a
  // value baked into the expression: a hotCap-sized table (65536
  // entries) serialized into every task binary cost ~0.1 s of
  // deserialization per task on every d16 stage (r18 profile).
  private def build(hot: Array[(String, Long)])
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](
      math.max(16, hot.length * 2))
    hot.foreach { case (g, d) => m.put(UTF8String.fromString(g), d) }
    m
  }

  def mapFor(bc: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]])
      : java.util.HashMap[UTF8String, java.lang.Long] =
    BroadcastSideCache.get(bc, build)

  /** Static entry point shared by eval and generated code. */
  def sort(arr: ArrayData,
      hot: java.util.HashMap[UTF8String, java.lang.Long]): ArrayData = {
    val n = arr.numElements()
    val elems = new Array[UTF8String](n)
    val dfs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val g = arr.getUTF8String(i)
      elems(i) = g
      val d = hot.get(g)
      dfs(i) = if (d == null) 1L else d.longValue
      i += 1
    }
    val idx = Array.range(0, n).sortWith { (a, b) =>
      if (dfs(a) != dfs(b)) dfs(a) < dfs(b)
      else elems(a).compareTo(elems(b)) < 0
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      idx.map(elems(_)).asInstanceOf[Array[Any]])
  }
}

/** Unigram-LM (SentencePiece-style) subword tokenization with a learned
  * piece vocabulary — the serving half of [[graft.ext.Unigram]]; one
  * codegen'd pass per row, no joins, no state. Each whitespace word is
  * segmented by EXACT Viterbi under the unigram model p(piece) =
  * count/total: segmentation likelihoods are compared with
  * cross-multiplied BigIntegers (prodA·T^kB vs prodB·T^kA), never
  * floating point, so serving reproduces the trainer's segmentations
  * bit-for-bit on every engine — the same exactness discipline as the
  * trainer itself (ties: fewer pieces, then lexicographically smaller
  * piece sequence). A single character absent from the vocabulary is
  * segmented as itself with count 1 (UNK-as-char floor), keeping every
  * word segmentable. A per-invocation word cache makes repeated words
  * (the Zipf mass of any corpus) cost one lookup.
  */
case class UnigramTokenize(child: Expression, vocab: Seq[(String, Long)],
    maxPieceLen: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"unigram_tokenize expects STRING, got ${child.dataType.sql}")
  }

  @transient private lazy val model: UnigramTokenize.Model =
    UnigramTokenize.buildModel(vocab, maxPieceLen)

  override def nullSafeEval(input: Any): Any =
    UnigramTokenize.tokenize(input.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("model", model,
      "graft.functions.UnigramTokenize.Model")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnigramTokenize.tokenize($c, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramTokenize {

  /** Piece counts + precomputed BigInteger powers of the total, shipped
    * once per plan (kilobytes at any practical vocab size). */
  final class Model(val counts: java.util.HashMap[String, java.lang.Long],
      val total: java.math.BigInteger, val maxLen: Int) extends Serializable {
    // T^0..T^63 — words longer than 64 pieces extend on demand.
    @transient private var pows: Array[java.math.BigInteger] = _
    def pow(k: Int): java.math.BigInteger = {
      var p = pows
      if (p == null) {
        // Fill a local array and publish it fully built: a Model is a
        // codegen reference object, so a racing reader must never see a
        // partially-initialized table.
        p = new Array[java.math.BigInteger](64)
        p(0) = java.math.BigInteger.ONE
        var i = 1
        while (i < 64) { p(i) = p(i - 1).multiply(total); i += 1 }
        pows = p
      }
      if (k < p.length) p(k) else total.pow(k)
    }
  }

  def buildModel(vocab: Seq[(String, Long)], maxPieceLen: Int): Model = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    var t = java.math.BigInteger.ZERO
    vocab.foreach { case (p, c) =>
      require(c > 0, s"unigram piece '$p' has non-positive count $c")
      m.put(p, c)
      t = t.add(java.math.BigInteger.valueOf(c))
    }
    require(t.signum > 0, "unigram vocab is empty")
    new Model(m, t, maxPieceLen)
  }

  /** Exact Viterbi segmentation of one word (given as code points).
    * Shared by the TRAINER's EM loop ([[graft.ext.Unigram]]) and the
    * serving expression, so the two can never drift. */
  def viterbi(cps: Array[String], model: Model): Array[String] = {
    val n = cps.length
    if (n == 0) return Array.empty
    // DP cell per prefix length: product of piece counts, piece count k,
    // and the path. best(0) is the empty segmentation.
    val prod = new Array[java.math.BigInteger](n + 1)
    val k = new Array[Int](n + 1)
    val path = new Array[List[String]](n + 1)
    prod(0) = java.math.BigInteger.ONE
    path(0) = Nil
    val sb = new java.lang.StringBuilder
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - model.maxLen)
      while (i < j) {
        sb.setLength(0)
        var q = i
        while (q < j) { sb.append(cps(q)); q += 1 }
        val piece = sb.toString
        val boxed: java.lang.Long = model.counts.get(piece)
        val cnt: Long =
          if (boxed != null) boxed.longValue
          else if (j - i == 1) 1L // UNK-as-char floor
          else -1L
        if (cnt > 0 && prod(i) != null) {
          val cp = prod(i).multiply(java.math.BigInteger.valueOf(cnt))
          val ck = k(i) + 1
          val better =
            if (prod(j) == null) true
            else {
              // cp/T^ck vs prod(j)/T^k(j), exactly.
              val cmp = cp.multiply(model.pow(k(j)))
                .compareTo(prod(j).multiply(model.pow(ck)))
              if (cmp != 0) cmp > 0
              else if (ck != k(j)) ck < k(j)
              else lexLess(piece :: path(i), path(j))
            }
          if (better) { prod(j) = cp; k(j) = ck; path(j) = piece :: path(i) }
        }
        i += 1
      }
      j += 1
    }
    path(n).reverse.toArray
  }

  /** Is reversed path a lexicographically smaller than reversed path b?
    * Paths are stored last-piece-first; compare from the WORD START. */
  private[functions] def lexLess(a: List[String], b: List[String]): Boolean = {
    val ra = a.reverse; val rb = b.reverse
    val it = ra.iterator.zip(rb.iterator)
    while (it.hasNext) {
      val (x, y) = it.next()
      val c = x.compareTo(y)
      if (c != 0) return c < 0
    }
    ra.size < rb.size
  }

  def codePoints(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var ci = 0
    while (ci < w.length) {
      val cp = w.codePointAt(ci)
      val cc = Character.charCount(cp)
      out += w.substring(ci, ci + cc)
      ci += cc
    }
    out.toArray
  }

  /** Static entry point shared by eval and generated code. */
  def tokenize(text: UTF8String, model: Model): ArrayData = {
    val words = text.toString.split("\\s+")
    val out = new java.util.ArrayList[Any]()
    // Per-invocation memo: Zipf-repeated words segment once per row.
    val memo = new java.util.HashMap[String, Array[UTF8String]]()
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var pieces = memo.get(w)
        if (pieces == null) {
          pieces = viterbi(codePoints(w), model)
            .map(UTF8String.fromString)
          memo.put(w, pieces)
        }
        var i = 0
        while (i < pieces.length) { out.add(pieces(i)); i += 1 }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Subword-regularization SAMPLING tokenizer (Kudo, "Subword
  * Regularization", ACL 2018 §3: sample a segmentation from the l-best
  * list with probability proportional to p(seg)^alpha) — the serving
  * mode that turns one corpus into many stochastic tokenizations per
  * epoch, the published data-augmentation companion of
  * [[UnigramTokenize]]'s deterministic Viterbi mode.
  *
  * Determinism contract (what makes a SAMPLING operator gateable and a
  * distributed epoch reproducible): the draw for a word is a pure
  * function of (word bytes, occurrence ordinal within the row, seed) —
  * an XXH64 draw reduced modulo the exact integer weight total — so
  * the same row always resamples identically under the same seed, any
  * two cluster runs agree bit-for-bit regardless of partitioning, and
  * varying `seed` per epoch resamples the whole corpus. All weight
  * arithmetic is exact: candidate probabilities prod/T^k are compared
  * and accumulated by cross-multiplying into the common denominator
  * T^(alpha*kMax) in BigInteger, so there is no float path for
  * platforms to disagree on (`alpha` is an integer exponent for the
  * same reason). With `nbest = 1` the operator degrades to exactly
  * [[UnigramTokenize]] (same comparator, single candidate).
  *
  * The n-best lattice enumeration is the standard per-prefix top-n DP;
  * the engine's exact comparator (likelihood by cross-multiplication,
  * then fewer pieces, then lexicographic path) makes the list total-
  * ordered, and extension by a common piece preserves the order (two
  * distinct candidate paths at the same position can never be
  * sequence-prefixes of one another — they concatenate to the same
  * prefix string — so the lex comparison is extension-stable).
  * Independent replay: tools/gen_unigram_sample_oracle.py.
  *
  * FRACTIONAL smoothing exponents (SentencePiece's published default
  * is alpha = 0.1, not an integer) keep the exact-integer contract via
  * `alphaDen`: the effective exponent is alpha/alphaDen and each
  * candidate's weight is the FLOOR integer alphaDen-th root of the
  * integer-exponent weight prod^alpha * T^(alpha*(kMax-k)) — a pure
  * big-int computation (Newton iteration, no float path), identical on
  * every platform. The floor rounding is the one documented deviation
  * from the real-valued p^(a/b) distribution, and its size depends on
  * the ROOT's bit length, not the radicand's: the alphaDen-th root
  * compresses an n-bit weight to ~n/alphaDen bits, so for short
  * high-frequency words (small likelihood products) the roots are
  * small integers and flooring distorts candidate RATIOS at the
  * percent level — or collapses nearly-equal weights to the same
  * integer, making those candidates exactly uniform. Long/rare words
  * (hundreds-of-bits weights) round negligibly. Sampling stays
  * deterministic and the gate stays a hash gate either way — both
  * engines floor the same root — but treat the fractional path as
  * "p^(a/b)-shaped with quantized low-resolution tails", not a
  * faithful p^(a/b) sampler. `alphaDen = 1` is bit-identical to the
  * original integer path (no root taken). Independent replay:
  * tools/gen_unigram_frac_oracle.py.
  */
case class UnigramSampleTokenize(child: Expression,
    vocab: Seq[(String, Long)], maxPieceLen: Int, nbest: Int, alpha: Int,
    seed: Long, alphaDen: Int = 1) extends UnaryExpression {

  require(nbest >= 1 && nbest <= 64, s"nbest out of range: $nbest")
  require(alpha >= 0 && alpha <= 16, s"alpha out of range: $alpha")
  require(alphaDen >= 1 && alphaDen <= 64, s"alphaDen out of range: $alphaDen")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"unigram_sample_tokenize expects STRING, got ${child.dataType.sql}")
  }

  @transient private lazy val model: UnigramTokenize.Model =
    UnigramTokenize.buildModel(vocab, maxPieceLen)

  override def nullSafeEval(input: Any): Any =
    UnigramSampleTokenize.tokenize(
      input.asInstanceOf[UTF8String], model, nbest, alpha, seed, alphaDen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("model", model,
      "graft.functions.UnigramTokenize.Model")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnigramSampleTokenize.tokenize(" +
        s"$c, $m, $nbest, $alpha, ${seed}L, $alphaDen);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramSampleTokenize {
  import java.math.BigInteger

  /** One segmentation candidate: exact piece-count product, piece
    * count, and the path stored last-piece-first (the trainer's
    * convention). */
  private final case class Cand(prod: BigInteger, k: Int, path: List[String])

  /** Is `a` strictly better than `b` under the engine's exact order:
    * higher likelihood (prod/T^k by cross-multiplication), then fewer
    * pieces, then lexicographically smaller path. */
  private def better(a: Cand, b: Cand, model: UnigramTokenize.Model): Boolean = {
    val cmp = a.prod.multiply(model.pow(b.k))
      .compareTo(b.prod.multiply(model.pow(a.k)))
    if (cmp != 0) cmp > 0
    else if (a.k != b.k) a.k < b.k
    else UnigramTokenize.lexLess(a.path, b.path)
  }

  /** Exact n-best Viterbi over one word's lattice: each prefix position
    * keeps its top-n candidates; a single-char UNK floor (count 1)
    * keeps every position reachable, so the list is never empty. */
  private def nbestSegs(cps: Array[String], model: UnigramTokenize.Model,
      n: Int): Array[Cand] = {
    val len = cps.length
    if (len == 0) return Array.empty
    val cands = new Array[Array[Cand]](len + 1)
    cands(0) = Array(Cand(BigInteger.ONE, 0, Nil))
    val sb = new java.lang.StringBuilder
    var j = 1
    while (j <= len) {
      val all = scala.collection.mutable.ArrayBuffer.empty[Cand]
      var i = math.max(0, j - model.maxLen)
      while (i < j) {
        sb.setLength(0)
        var q = i
        while (q < j) { sb.append(cps(q)); q += 1 }
        val piece = sb.toString
        val boxed: java.lang.Long = model.counts.get(piece)
        val cnt: Long =
          if (boxed != null) boxed.longValue
          else if (j - i == 1) 1L
          else -1L
        if (cnt > 0) {
          val bc = BigInteger.valueOf(cnt)
          cands(i).foreach { c =>
            all += Cand(c.prod.multiply(bc), c.k + 1, piece :: c.path)
          }
        }
        i += 1
      }
      cands(j) = all.sortWith(better(_, _, model)).take(n).toArray
      j += 1
    }
    cands(len)
  }

  private val U64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  /** Per-word sampling state memoized within a row: the candidate piece
    * arrays (best-first) and their exact integer weights
    * prod^alpha * T^(alpha*(kMax-k)). */
  private final class WordDraws(val pieces: Array[Array[UTF8String]],
      val weights: Array[BigInteger], val sum: BigInteger)

  /** Floor integer `n`-th root of a non-negative BigInteger by Newton
    * iteration with an over-estimate start (2^ceil(bits/n)), verified
    * exact at the fixed point: result r satisfies r^n <= x < (r+1)^n.
    * Pure big-int — the fractional-alpha weight path stays float-free. */
  private[graft] def nthRoot(x: BigInteger, n: Int): BigInteger = {
    require(x.signum >= 0 && n >= 1)
    if (n == 1 || x.signum == 0 || x == BigInteger.ONE) return x
    val bn = BigInteger.valueOf(n.toLong)
    var r = BigInteger.ONE.shiftLeft((x.bitLength + n - 1) / n)
    var done = false
    while (!done) {
      // next = ((n-1)*r + x / r^(n-1)) / n  — monotone from above.
      val next = r.multiply(BigInteger.valueOf((n - 1).toLong))
        .add(x.divide(r.pow(n - 1))).divide(bn)
      if (next.compareTo(r) < 0) r = next else done = true
    }
    r
  }

  private def drawsOf(w: String, model: UnigramTokenize.Model, n: Int,
      alpha: Int, alphaDen: Int): WordDraws = {
    val cs = nbestSegs(UnigramTokenize.codePoints(w), model, n)
    val pieces = cs.map(_.path.reverse.map(UTF8String.fromString).toArray)
    var kMax = 0
    cs.foreach(c => if (c.k > kMax) kMax = c.k)
    val weights = cs.map { c =>
      val base = c.prod.pow(alpha).multiply(model.pow((kMax - c.k) * alpha))
      if (alphaDen == 1) base else nthRoot(base, alphaDen)
    }
    var s = BigInteger.ZERO
    weights.foreach(w0 => s = s.add(w0))
    new WordDraws(pieces, weights, s)
  }

  /** Static entry point shared by eval and generated code. */
  def tokenize(text: UTF8String, model: UnigramTokenize.Model, nbest: Int,
      alpha: Int, seed: Long, alphaDen: Int): ArrayData = {
    val words = text.toString.split("\\s+")
    val out = new java.util.ArrayList[Any]()
    val memo = new java.util.HashMap[String, WordDraws]()
    var wi = 0 // occurrence ordinal over emitted (non-empty) words
    var idx = 0
    while (idx < words.length) {
      val w = words(idx)
      if (w.nonEmpty) {
        var d = memo.get(w)
        if (d == null) {
          d = drawsOf(w, model, nbest, alpha, alphaDen); memo.put(w, d)
        }
        var chosen = 0
        if (d.weights.length > 1) {
          val u = UTF8String.fromString(w)
          val h = XXH64.hashUnsafeBytes(
            u.getBaseObject, u.getBaseOffset, u.numBytes, seed + wi)
          val r = BigInteger.valueOf(h).and(U64).mod(d.sum)
          var cum = BigInteger.ZERO
          var ci = 0
          var found = false
          while (ci < d.weights.length && !found) {
            cum = cum.add(d.weights(ci))
            if (cum.compareTo(r) > 0) { chosen = ci; found = true }
            ci += 1
          }
        }
        val pieces = d.pieces(chosen)
        var pi = 0
        while (pi < pieces.length) { out.add(pieces(pi)); pi += 1 }
        wi += 1
      }
      idx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Count of array elements present in a FIXED string set shipped with
  * the plan — the join-free probe for decontamination-style "does this
  * doc share a gram with the (small) benchmark set" checks. The set is
  * a single reference object per plan (hashed once, probed O(1) per
  * gram), so the corpus is scanned in one stateless narrow projection:
  * no explode, no join, no aggregation — which is also what makes the
  * operator run UNCHANGED on a streaming corpus, where the exploded
  * broadcast-join formulation would need a stateful per-doc re-count.
  * Bounded by the premise that eval sets are MBs (collected driver-side
  * once), while the corpus is TBs.
  */
case class GramHitCount(child: Expression,
    bench: org.apache.spark.broadcast.Broadcast[Array[String]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_hit_count expects ARRAY<STRING>, got ${t.sql}")
    }
  }

  // Derived-structure lookup hoisted OUT of the per-row path (the
  // BroadcastSideCache get is synchronized): once per deserialized
  // expression instance here, once per codegen object below.
  @transient private lazy val set: java.util.HashSet[UTF8String] =
    GramHitCount.setFor(bench)

  override def nullSafeEval(input: Any): Any =
    GramHitCount.count(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("benchBc", bench,
      "org.apache.spark.broadcast.Broadcast")
    val s = ctx.addMutableState("java.util.HashSet", "benchSet",
      v => s"$v = graft.functions.GramHitCount.setFor($b);")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramHitCount.count($c, $s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHitCount {
  // Probe set built ONCE PER JVM per broadcast (BroadcastSideCache):
  // the set previously rode the expression/codegen references and was
  // therefore serialized into EVERY task binary (an eval-set gram table
  // is ~1 MB serialized — the bench's ubiquitous "Broadcasting large
  // task binary" warnings) and re-deserialized by every task, ~0.1 s
  // per task across every stage whose plan referenced the probe. The
  // broadcast handle is bytes-sized; the value ships once per executor.
  private def build(bench: Array[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, bench.length * 2))
    bench.foreach(b => s.add(UTF8String.fromString(b)))
    s
  }

  def setFor(bc: org.apache.spark.broadcast.Broadcast[Array[String]])
      : java.util.HashSet[UTF8String] =
    BroadcastSideCache.get(bc, build)

  /** Static entry point shared by eval and generated code. */
  def count(grams: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = grams.numElements()
    var i = 0
    var c = 0
    while (i < n) {
      if (!grams.isNullAt(i) && set.contains(grams.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

/** Bloom-filter membership probe over a 64-bit key, with the
  * serialized filter shipped as a BROADCAST handle instead of the
  * `BloomFilterMightContain(Literal(bytes))` shape [[graft.ext.Scale]]
  * used before: a literal blob (hundreds of KB to 8 MB at the build
  * caps) is serialized into every task binary of every stage whose
  * plan contains the probe — g1's wedge stages each paid the blob per
  * task — while the broadcast handle is bytes-sized and the decoded
  * filter is built once per JVM ([[BroadcastSideCache]]). NULL keys
  * probe to NULL (dropped by a WHERE — inner-join semantics), exactly
  * as the literal form did. */
case class BloomMightContainBc(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[Array[Byte]])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes() = {
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain_bc expects BIGINT, got ${t.sql}")
    }
  }

  // Hoisted out of the per-row path (the probe runs once per RAW
  // WEDGE in g1 — a synchronized cache get per row serialized the
  // whole wedge stage: measured 5.7 -> 15.5 s before this hoist).
  @transient private lazy val filter
      : org.apache.spark.util.sketch.BloomFilter =
    BloomMightContainBc.filterFor(bloom)

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    val f = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "bloomFilter",
      v => s"$v = graft.functions.BloomMightContainBc.filterFor($b);")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $f.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomMightContainBc {
  def filterFor(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      : org.apache.spark.util.sketch.BloomFilter =
    BroadcastSideCache.get(bc, (bytes: Array[Byte]) =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes)))
}

/** Per-JVM cache of structures DERIVED from a broadcast value (hash
  * sets, lookup maps, decoded bloom filters), keyed by broadcast id —
  * so the derived structure is built once per executor instead of once
  * per task (a deserialized task re-instantiates its expressions, so a
  * per-expression lazy val rebuilds per task). Bounded LRU: entries
  * from completed queries age out; capacity errs large because values
  * are shared references, not copies. */
private[functions] object BroadcastSideCache {
  private val MaxEntries = 64
  private val cache =
    new java.util.LinkedHashMap[Long, AnyRef](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, AnyRef]): Boolean =
        size() > MaxEntries
    }

  def get[V, D <: AnyRef](bc: org.apache.spark.broadcast.Broadcast[V],
      build: V => D): D = cache.synchronized {
    val hit = cache.get(bc.id)
    if (hit != null) hit.asInstanceOf[D]
    else {
      val d = build(bc.value)
      cache.put(bc.id, d)
      d
    }
  }
}

/** Unicode normalization (UAX #15) to NFC / NFKC / NFD / NFKD via
  * `java.text.Normalizer`. Corpus text arrives in mixed normal forms
  * (combining sequences from OCR, compatibility ligatures and
  * full-width forms from PDFs); tokenizers, dedup fingerprints and
  * exact-match decontamination all key on raw bytes, so un-normalized
  * text silently splits what should be one key. One codegen'd pass
  * here, upstream of fingerprint/shingle/BPE, fixes every consumer.
  * The fast path skips allocation when `isNormalized` already holds —
  * true for the overwhelmingly-ASCII bulk of a web corpus.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  private val nf = java.text.Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType

  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"unicode_normalize expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], nf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val formRef = ctx.addReferenceObj("unNf", nf, "java.text.Normalizer.Form")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnicodeNormalize.normalize($c, $formRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNormalize {
  /** Static entry point shared by eval and generated code. */
  def normalize(s: UTF8String, form: java.text.Normalizer.Form): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, form))
  }
}

/** REAL image container header parsing — pure JVM byte walking, no codec
  * libraries: PNG IHDR, JPEG SOF marker scan (skipping APPn/COM/DQT
  * segments, fill bytes, standalone markers), GIF logical screen
  * descriptor (87a/89a), BMP BITMAPINFOHEADER and BITMAPCOREHEADER
  * (top-down negative heights normalized). Unlike Multimodal.StubCodec
  * this is not a stand-in: these are the published container layouts and
  * the parser returns the true pixel dimensions without decoding any
  * pixel data — the metadata-extraction pass a 100 TB multimodal corpus
  * runs at scan speed before any GPU decode.
  *
  * Returns STRUCT<format STRING, width INT, height INT>, or NULL when
  * the payload is not a recognized image header (truncated counts as
  * unrecognized — never throws on arbitrary bytes).
  */
case class ImageHeaderParse(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"image_header expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    ImageHeaderParse.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ImageHeaderParse.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageHeaderParse {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def beU32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leS32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    if (w <= 0 || h <= 0) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(fmt), w, h))

  /** Static entry point shared by eval and generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    val n = b.length
    // PNG: 8-byte signature, IHDR must be the first chunk (spec-required)
    if (n >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && u8(b, 4) == 0x0d && u8(b, 5) == 0x0a &&
        u8(b, 6) == 0x1a && u8(b, 7) == 0x0a &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      return row("png", beU32(b, 16), beU32(b, 20))
    // GIF87a / GIF89a: logical screen descriptor follows the 6-byte magic
    if (n >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row("gif", leU16(b, 6), leU16(b, 8))
    // BMP: BITMAPINFOHEADER (>=40) or the legacy 12-byte core header;
    // negative height = top-down row order, dimensions unchanged
    if (n >= 26 && b(0) == 'B' && b(1) == 'M') {
      val hdr = leS32(b, 14)
      if (hdr >= 40 && n >= 14 + 12)
        return row("bmp", leS32(b, 18), math.abs(leS32(b, 22)))
      if (hdr == 12)
        return row("bmp", leU16(b, 18), leU16(b, 20))
      return null
    }
    // JPEG: walk the marker stream to the first SOFn frame header
    if (n >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 3 < n) {
        if (u8(b, i) != 0xff) return null // desynchronized marker stream
        var j = i
        while (j + 1 < n && u8(b, j + 1) == 0xff) j += 1 // fill bytes
        val m = u8(b, j + 1)
        if (m == 0xd9 || m == 0xda) return null // EOI / scan start: no SOF
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) { i = j + 2 }
        else {
          if (j + 3 >= n) return null
          val len = beU16(b, j + 2)
          if (len < 2) return null
          val sof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (sof) {
            if (j + 8 >= n) return null
            return row("jpeg", beU16(b, j + 7), beU16(b, j + 5))
          }
          i = j + 2 + len
        }
      }
      null
    } else null
  }
}

/** REAL audio/video container header parsing — the same pure-JVM byte
  * walking discipline as [[ImageHeaderParse]], over the published
  * layouts: WAV (RIFF chunk walk, `fmt ` + `data`), MP4/ISO-BMFF (box
  * walk to `moov/mvhd` for timescale+duration, `moov/trak/tkhd` for
  * 16.16-fixed display dimensions; 64-bit largesize and version-1 boxes
  * handled), FLAC (`fLaC` STREAMINFO bit unpacking: 20-bit sample rate,
  * 3-bit channels, 36-bit total samples). No codec decodes anything —
  * this is the scan-speed metadata pass that catalogs a 100 TB
  * audio/video corpus (duration, rate, shape) before any transcode is
  * scheduled.
  *
  * Returns STRUCT<format STRING, duration_ms BIGINT, sample_rate INT,
  * channels INT, width INT, height INT> — fields that do not apply to a
  * format (e.g. width for WAV) are NULL; the whole struct is NULL when
  * the payload is not a recognized container (truncated counts as
  * unrecognized — never throws on arbitrary bytes).
  */
case class MediaHeaderParse(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"media_header expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    MediaHeaderParse.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MediaHeaderParse.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MediaHeaderParse {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def beU32(b: Array[Byte], i: Int): Long =
    ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)) & 0xffffffffL
  private def beU64(b: Array[Byte], i: Int): Long =
    (beU32(b, i) << 32) | beU32(b, i + 4)
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xffffffffL
  private def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def row(fmt: String, durMs: Long, rate: Int, ch: Int,
      w: Int, h: Int): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(fmt),
        if (durMs < 0) null else java.lang.Long.valueOf(durMs),
        if (rate <= 0) null else java.lang.Integer.valueOf(rate),
        if (ch <= 0) null else java.lang.Integer.valueOf(ch),
        if (w <= 0) null else java.lang.Integer.valueOf(w),
        if (h <= 0) null else java.lang.Integer.valueOf(h)))

  /** Static entry point shared by eval and generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && tag(b, 8) == "WAVE") return parseWav(b)
    if (n >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      return parseFlac(b)
    if (n >= 12 && tag(b, 4) == "ftyp") return parseMp4(b)
    null
  }

  /** RIFF chunk walk: `fmt ` gives rate/channels/byteRate, `data` gives
    * payload size; duration = dataBytes * 1000 / byteRate. Chunk bodies
    * are skipped by declared size (word-aligned per the RIFF spec), so
    * the walk never touches sample data. */
  private def parseWav(b: Array[Byte]): InternalRow = {
    val n = b.length
    var i = 12L // Long cursor: a hostile 4 GiB declared size must not overflow
    var rate = 0; var ch = 0; var byteRate = 0L; var dataBytes = -1L
    while (i + 8 <= n && (rate == 0 || dataBytes < 0)) {
      val ii = i.toInt
      val id = tag(b, ii); val size = leU32(b, ii + 4)
      if (id == "fmt " && size >= 16 && i + 24 <= n) {
        ch = leU16(b, ii + 10)
        rate = leU32(b, ii + 12).toInt
        byteRate = leU32(b, ii + 16)
      } else if (id == "data") dataBytes = size
      i += 8 + size + (size & 1L) // RIFF chunks pad to even
    }
    if (rate <= 0 || ch <= 0 || byteRate <= 0 || dataBytes < 0) null
    else row("wav", dataBytes * 1000L / byteRate, rate, ch, -1, -1)
  }

  /** STREAMINFO must be the first metadata block (spec-required): bytes
    * 10-17 of its payload pack sampleRate(20) channels-1(3) bps-1(5)
    * totalSamples(36) big-endian. */
  private def parseFlac(b: Array[Byte]): InternalRow = {
    // 4 magic + 4 block header + 34 STREAMINFO
    if (b.length < 42 || (u8(b, 4) & 0x7f) != 0) return null
    val p = 8
    val rate = (u8(b, p + 10) << 12) | (u8(b, p + 11) << 4) | (u8(b, p + 12) >>> 4)
    val ch = ((u8(b, p + 12) >>> 1) & 0x7) + 1
    val samples = ((u8(b, p + 13) & 0xf).toLong << 32) |
      (u8(b, p + 14).toLong << 24) | (u8(b, p + 15) << 16) |
      (u8(b, p + 16) << 8) | u8(b, p + 17)
    if (rate <= 0) return null
    row("flac", samples * 1000L / rate, rate, ch, -1, -1)
  }

  /** ISO-BMFF box walk. Boxes: size BE32 (1 => 64-bit largesize follows
    * the type; 0 => to end-of-enclosure). `moov/mvhd` v0/v1 gives
    * timescale+duration; the first `moov/trak/tkhd` with nonzero
    * dimensions gives width/height (stored 16.16 fixed). */
  private def parseMp4(b: Array[Byte]): InternalRow = {
    val n = b.length
    var durMs = -1L; var w = 0; var h = 0
    var i = 0
    while (i + 8 <= n) {
      val (size0, hdr) = boxSize(b, i, n)
      if (size0 < hdr || i + size0 > n) return finishMp4(durMs, w, h)
      val size = size0.toInt // bounded by n above, so the cast is safe
      val t = tag(b, i + 4)
      if (t == "moov") {
        var j = i + hdr
        val end = i + size
        while (j + 8 <= end) {
          val (s20, h2) = boxSize(b, j, end)
          if (s20 < h2 || j + s20 > end) return finishMp4(durMs, w, h)
          val s2 = s20.toInt
          val t2 = tag(b, j + 4)
          if (t2 == "mvhd" && j + h2 + 4 <= end) {
            val p = j + h2
            val v = u8(b, p)
            if (v == 0 && p + 20 <= end) {
              val ts = beU32(b, p + 12)
              if (ts > 0) durMs = beU32(b, p + 16) * 1000L / ts
            } else if (v == 1 && p + 32 <= end) {
              val ts = beU32(b, p + 20)
              if (ts > 0) durMs = beU64(b, p + 24) * 1000L / ts
            }
          } else if (t2 == "trak" && (w == 0 || h == 0)) {
            var q = j + h2
            val tEnd = j + s2
            while (q + 8 <= tEnd) {
              val (s30, h3) = boxSize(b, q, tEnd)
              if (s30 < h3 || q + s30 > tEnd) { q = tEnd }
              else {
                if (tag(b, q + 4) == "tkhd") {
                  val p = q + h3
                  val v = u8(b, p)
                  val dimOff = if (v == 1) 88 else 76
                  if (p + dimOff + 8 <= tEnd) {
                    w = (beU32(b, p + dimOff) >>> 16).toInt
                    h = (beU32(b, p + dimOff + 4) >>> 16).toInt
                  }
                }
                q += s30.toInt
              }
            }
          }
          j += s2
        }
        return finishMp4(durMs, w, h)
      }
      i += size
    }
    finishMp4(durMs, w, h)
  }

  private def finishMp4(durMs: Long, w: Int, h: Int): InternalRow =
    if (durMs < 0 && w <= 0 && h <= 0) null
    else row("mp4", durMs, -1, -1, w, h)

  /** (total box size, header length) honoring size==1 largesize and
    * size==0 to-end-of-enclosure. */
  private def boxSize(b: Array[Byte], i: Int, end: Int): (Long, Int) = {
    val s = beU32(b, i)
    if (s == 1L) {
      if (i + 16 > end) (-1L, 16) else (beU64(b, i + 8), 16)
    } else if (s == 0L) ((end - i).toLong, 8)
    else (s, 8)
  }
}

/** robots.txt compliance decision (RFC 9309, the prefix subset): given
  * a robots.txt body and a URL path, is `agent` allowed to fetch it?
  * Group selection per the RFC: if ANY group names the agent
  * (case-insensitive token match), only those groups' rules apply,
  * else the `*` groups. Decision: the most-specific matching rule
  * (longest pattern, RFC 9309 §2.2.2) wins; an allow/disallow tie at
  * equal length resolves to ALLOW; no matching rule means allow; an
  * empty `Disallow:` is allow-all (the classic idiom). The RFC's
  * special characters are implemented: `*` matches any character
  * sequence (including `/`) and a trailing `$` anchors the pattern to
  * the end of the path — so a `Disallow` of `/x*.pdf$` or `/private*`
  * blocks what it says. NULL robots text means
  * no robots.txt was served: allow (the RFC's absent-file semantics).
  *
  * Per-row parse: correct, and fine when robots bodies ride a
  * host-joined frame; a production crawler pre-parses per host
  * (hosts are metadata-sized) and broadcasts the rule table.
  */
case class RobotsAllowed(left: Expression, right: Expression, agent: String)
    extends BinaryExpression {
  require(agent.nonEmpty && agent.indexOf('\n') < 0, s"agent=$agent")

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes() = {
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"robots_allowed expects (STRING robots, STRING path), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  // Standard null-safe semantics; the operator layer coalesces an
  // absent robots body to "" (no rules => allow, the RFC's
  // absent-file behavior), so NULL here only means a NULL input row.
  override def nullSafeEval(robots: Any, path: Any): Any =
    RobotsAllowed.allowed(robots.asInstanceOf[UTF8String].toString,
      path.asInstanceOf[UTF8String].toString, agent)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentLit = ctx.addReferenceObj("agent", agent, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (r, p) => s"""
      ${ev.value} = graft.functions.RobotsAllowed.allowed(
        $r.toString(), $p.toString(), $agentLit);
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object RobotsAllowed {
  /** Static entry point shared by eval and generated code. */
  def allowed(robots: String, path: String, agent: String): Boolean = {
    if (robots == null) return true
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    // One pass: collect (isAllow, prefix) rules for specific-agent
    // groups and star groups separately.
    val specific = new scala.collection.mutable.ArrayBuffer[(Boolean, String)]
    val star = new scala.collection.mutable.ArrayBuffer[(Boolean, String)]
    var groupAgents = List.empty[String]
    var inGroupRules = false
    robots.split("\n").foreach { raw =>
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            // Consecutive user-agent lines share the group; a user-agent
            // after rules starts a NEW group (RFC grouping).
            if (inGroupRules) { groupAgents = Nil; inGroupRules = false }
            groupAgents ::= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" =>
            inGroupRules = true
            val isAllow = key == "allow"
            // Empty Disallow: = allow-all idiom (no rule).
            if (value.nonEmpty) {
              if (groupAgents.contains(agentLc))
                specific += ((isAllow, value))
              if (groupAgents.contains("*"))
                star += ((isAllow, value))
            }
          case _ => () // crawl-delay, sitemap, unknown keys: ignored
        }
      }
    }
    val rules = if (specific.nonEmpty) specific else star
    var bestLen = -1
    var bestAllow = true
    rules.foreach { case (isAllow, pattern) =>
      if (patternMatches(pattern, path)) {
        // Specificity = octet length of the full pattern (RFC 9309
        // §2.2.2 "most specific match"; Google's matcher does the same).
        val l = pattern.length
        if (l > bestLen) { bestLen = l; bestAllow = isAllow }
        else if (l == bestLen && isAllow) bestAllow = true // tie -> allow
      }
    }
    if (bestLen < 0) true else bestAllow
  }

  /** RFC 9309 path-pattern match: the pattern is a path prefix where
    * `*` matches any run of characters (including none, including `/`)
    * and a trailing `$` anchors the end of the pattern to the end of
    * the path. A `$` anywhere else is a literal octet. Greedy leftmost
    * placement of the inter-`*` segments is exact here: matching a
    * middle segment as early as possible leaves maximal room for the
    * segments after it, so an overall match exists iff the greedy scan
    * finds one (the classic glob argument).
    */
  private[functions] def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val segs = pat.split("\\*", -1) // "" segments encode adjacent/edge stars
    if (segs.length == 1) {
      // No wildcard: plain prefix, or exact match when anchored.
      if (anchored) path == pat else path.startsWith(pat)
    } else {
      if (!path.startsWith(segs(0))) return false
      var pos = segs(0).length
      var i = 1
      while (i < segs.length - 1) {
        val idx = path.indexOf(segs(i), pos)
        if (idx < 0) return false
        pos = idx + segs(i).length
        i += 1
      }
      val last = segs(segs.length - 1)
      if (anchored)
        path.length - last.length >= pos && path.endsWith(last)
      else
        path.indexOf(last, pos) >= 0
    }
  }
}

/** Text extraction from UNCOMPRESSED PDF content streams — the extract
  * stage behind the [[PdfMetaParse]] triage: literal strings shown by
  * `Tj` operators inside `BT`/`ET` text blocks, with the PDF string
  * escapes (\\( \\) \\\\ \\n \\r \\t, octal \\ddd) and balanced nested
  * parentheses decoded per the published COS grammar. Exact for the
  * classic uncompressed layout; Flate-compressed streams need a real
  * PDF library and are out of scan-speed scope (they extract as
  * nothing, never garbage). Encrypted documents return the empty
  * string (their strings are ciphertext — extracting would emit
  * noise). NULL for non-PDF payloads; never throws.
  */
case class PdfTextExtract(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pdf_text expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    PdfTextExtract.extract(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfTextExtract.extract($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfTextExtract {
  private def isDelim(c: Char): Boolean =
    c <= ' ' || c == '(' || c == ')' || c == '<' || c == '>' ||
      c == '[' || c == ']' || c == '/' || c == '%'

  /** Static entry point shared by eval and generated code. */
  def extract(b: Array[Byte]): UTF8String = {
    if (PdfMetaParse.parse(b) == null) return null
    val s = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (s.contains("/Encrypt")) return UTF8String.fromString("")
    val out = new StringBuilder
    var i = 0
    val n = s.length
    while (i >= 0 && i < n) {
      val bt = findToken(s, "BT", i)
      if (bt < 0) { i = -1 }
      else {
        val et = findToken(s, "ET", bt + 2)
        val end = if (et < 0) n else et
        var j = bt + 2
        while (j < end) {
          if (s.charAt(j) == '(') {
            val (text, after) = literal(s, j, end)
            // Emit only strings SHOWN by a Tj that follows.
            var m = after
            while (m < end && s.charAt(m) <= ' ') m += 1
            if (m + 2 <= end && s.charAt(m) == 'T' && s.charAt(m + 1) == 'j') {
              if (out.nonEmpty) out.append(' ')
              out.append(text)
            }
            j = after
          } else j += 1
        }
        i = if (et < 0) n else et + 2
      }
    }
    UTF8String.fromString(out.toString)
  }

  /** Token-boundary search: `tok` delimited per the COS grammar (so a
    * BT inside a literal string or a name does not open a block). */
  private def findToken(s: String, tok: String, from: Int): Int = {
    var i = s.indexOf(tok, from)
    while (i >= 0) {
      val okL = i == 0 || isDelim(s.charAt(i - 1))
      val okR = i + tok.length >= s.length || isDelim(s.charAt(i + tok.length))
      if (okL && okR) return i
      i = s.indexOf(tok, i + 1)
    }
    -1
  }

  /** Decode one literal string starting at `open` (a '('): returns the
    * unescaped text and the index just past the closing ')'. Balanced
    * unescaped parens nest, per spec. */
  private def literal(s: String, open: Int, end: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var i = open + 1
    while (i < end && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < end) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = i + 1
            while (k < end && k < i + 4 && s.charAt(k) >= '0' &&
              s.charAt(k) <= '7') { v = v * 8 + (s.charAt(k) - '0'); k += 1 }
            sb.append((v & 0xff).toChar); i = k
          // Backslash-EOL is a LINE CONTINUATION (PDF 32000-1 §7.3.4.2):
          // it contributes no characters — a wrapped literal string must
          // not extract with a spurious newline. \<CR><LF> consumes both.
          case '\r' =>
            i += 2; if (i < end && s.charAt(i) == '\n') i += 1
          case '\n' => i += 2
          case other => sb.append(other); i += 2 // incl. \( \) \\
        }
      } else {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        if (depth > 0) sb.append(c)
        i += 1
      }
    }
    (sb.toString, i)
  }
}

/** Content-defined chunking (the FastCDC/gear-hash family, Xia et al.
  * 2016): split a byte payload at positions where a gear rolling hash
  * masks to zero, so chunk boundaries depend on CONTENT, not offset —
  * insert one byte near the front of a file and fixed-size chunking
  * reshuffles every downstream block, while CDC boundaries resync
  * within one gear window and every later chunk fingerprint survives.
  * That resync property is what makes chunk-level dedup work on 100 TB
  * of mutating blobs (backup dedup, container layers, crawl snapshots).
  *
  * Emits array<struct<off,len,fp>> — offset, length, and a 64-bit
  * polynomial fingerprint per chunk. Boundary rule: cut after byte i
  * when the chunk is >= minSize and the gear hash masks to zero over
  * avgBits bits (expected chunk = 2^avgBits bytes), or at maxSize
  * unconditionally; the remainder is the final chunk. The gear table
  * is 256 constants from the standard 64-bit avalanche mix — pure
  * integer, deterministic, independently replayable.
  */
case class CdcChunks(child: Expression, avgBits: Int, minSize: Int,
    maxSize: Int) extends UnaryExpression {
  require(avgBits >= 4 && avgBits <= 24, s"avgBits=$avgBits")
  require(minSize >= 1 && minSize < maxSize,
    s"minSize=$minSize maxSize=$maxSize")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("off", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    CdcChunks.chunk(input.asInstanceOf[Array[Byte]], avgBits, minSize, maxSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CdcChunks.chunk($c, $avgBits, $minSize, $maxSize);
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunks {
  /** 256 gear constants from the standard fmix64 avalanche — the same
    * published mix the fixture avalanche uses; any independent replay
    * regenerates them from this definition alone. */
  private[graft] val Gear: Array[Long] = Array.tabulate(256) { i =>
    var h = i.toLong * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  /** Static entry point shared by eval and generated code. */
  def chunk(b: Array[Byte], avgBits: Int, minSize: Int,
      maxSize: Int): ArrayData = {
    val n = b.length
    val avgMask = (1L << avgBits) - 1
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    var s = 0
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h << 1) + Gear(b(i) & 0xff)
      val len = i - s + 1
      if ((len >= minSize && (h & avgMask) == 0L) || len >= maxSize) {
        out += fpRow(b, s, len)
        s = i + 1
        h = 0L
      }
      i += 1
    }
    if (s < n) out += fpRow(b, s, n - s)
    ArrayData.toArrayData(out.toArray)
  }

  private def fpRow(b: Array[Byte], off: Int, len: Int): InternalRow = {
    var fp = 1125899906842597L
    var i = off
    while (i < off + len) { fp = fp * 31L + b(i); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](off, len, fp))
  }
}

/** Per-window integer energy of a mono 16-bit PCM WAV payload — real
  * audio feature extraction with ZERO codec dependencies (PCM is raw
  * samples, a byte layout like the BMP pixels [[DHash64]] decodes):
  * walk the RIFF chunks to `fmt `/`data`, then mean |sample| per
  * `windowMs` window in exact integer arithmetic (the last partial
  * window averages over its own length). Emits (sample_rate,
  * energies[]) — the voice-activity / silence-triage primitive that
  * decides which slices of a 100 TB audio corpus are worth a real
  * model's time. NULL for anything that is not mono 16-bit PCM WAV;
  * never throws on truncated or hostile payloads.
  */
case class WavEnergy(child: Expression, windowMs: Int)
    extends UnaryExpression {
  require(windowMs >= 1 && windowMs <= 60000, s"windowMs=$windowMs")

  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("energies", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wav_energy expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    WavEnergy.parse(input.asInstanceOf[Array[Byte]], windowMs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WavEnergy.parse($c, $windowMs);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WavEnergy {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leS16(b: Array[Byte], i: Int): Int = leU16(b, i).toShort.toInt
  private def leU32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xffffffffL

  /** Static entry point shared by eval and generated code. */
  def parse(b: Array[Byte], windowMs: Int): InternalRow = {
    val n = b.length
    if (n < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    // RIFF chunk walk (even-padded, Long cursor against hostile sizes).
    var rate = -1
    var dataOff = -1L
    var dataLen = 0L
    var i = 12L
    while (i + 8 <= n && (rate < 0 || dataOff < 0)) {
      val id = new String(b, i.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = leU32(b, i.toInt + 4)
      if (id == "fmt " && i + 8 + 16 <= n) {
        val fmt = leU16(b, i.toInt + 8)
        val ch = leU16(b, i.toInt + 10)
        val bits = leU16(b, i.toInt + 22)
        if (fmt != 1 || ch != 1 || bits != 16) return null // mono 16-bit PCM only
        rate = leU32(b, i.toInt + 12).toInt
        if (rate <= 0 || rate > 1000000) return null
      } else if (id == "data") {
        dataOff = i + 8
        dataLen = math.min(sz, n - dataOff)
      }
      i += 8 + sz + (sz & 1L)
    }
    if (rate < 0 || dataOff < 0) return null
    val samples = (dataLen / 2).toInt
    val perWindow = math.max(1, (rate.toLong * windowMs / 1000).toInt)
    val nWindows = (samples + perWindow - 1) / perWindow
    val energies = new Array[Long](nWindows)
    var w = 0
    while (w < nWindows) {
      val s0 = w * perWindow
      val s1 = math.min(samples, s0 + perWindow)
      var sum = 0L
      var s = s0
      while (s < s1) {
        sum += math.abs(leS16(b, (dataOff + s * 2L).toInt))
        s += 1
      }
      energies(w) = if (s1 > s0) sum / (s1 - s0) else 0L
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](rate,
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(energies)))
  }
}

/** PDF catalog scan — the same pure-JVM byte-walking discipline as
  * [[ImageHeaderParse]]/[[MediaHeaderParse]] over the PDF COS surface
  * that is readable without a full parser: header version (`%PDF-x.y`,
  * within the first 1024 bytes per the published spec tolerance), page
  * object count (`/Type /Page` token occurrences with a boundary check
  * so `/Pages` never counts — exact for the uncompressed page trees
  * fixtures and classic PDFs use; pages inside compressed object
  * streams need a real PDF library and are out of scan-speed scope),
  * `/Encrypt` and `/Linearized` presence, and a `%%EOF` trailer check
  * in the last 1024 bytes (`well_formed`). NULL for payloads with no
  * PDF header; never throws on truncation or junk.
  */
case class PdfMetaParse(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("pages", IntegerType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false),
    StructField("linearized", BooleanType, nullable = false),
    StructField("well_formed", BooleanType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pdf_meta expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    PdfMetaParse.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfMetaParse.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfMetaParse {
  private def indexOf(b: Array[Byte], pat: Array[Byte], from: Int,
      until: Int): Int = {
    val end = math.min(until, b.length) - pat.length
    var i = math.max(from, 0)
    while (i <= end) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }
  private def isAlpha(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Static entry point shared by eval and generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    val n = b.length
    val hdr = indexOf(b, "%PDF-".getBytes, 0, math.min(n, 1024))
    if (hdr < 0) return null
    // Version: chars after "%PDF-" up to whitespace/EOL (bounded).
    var vEnd = hdr + 5
    while (vEnd < n && vEnd < hdr + 13 && b(vEnd) > ' ') vEnd += 1
    val version = new String(b, hdr + 5, vEnd - (hdr + 5),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // Count "/Type <ws> /Page" with a token-boundary check (never /Pages).
    val typeTok = "/Type".getBytes
    val pageTok = "/Page".getBytes
    var pages = 0
    var i = indexOf(b, typeTok, hdr, n)
    while (i >= 0) {
      var k = i + typeTok.length
      while (k < n && (b(k) == ' ' || b(k) == '\r' || b(k) == '\n' ||
        b(k) == '\t')) k += 1
      if (k + pageTok.length <= n && indexOf(b, pageTok, k,
          k + pageTok.length) == k) {
        val after = k + pageTok.length
        if (after >= n || !isAlpha(b(after))) pages += 1
      }
      i = indexOf(b, typeTok, i + 1, n)
    }
    val encrypted = indexOf(b, "/Encrypt".getBytes, hdr, n) >= 0
    val linearized = indexOf(b, "/Linearized".getBytes, hdr, n) >= 0
    val wellFormed = indexOf(b, "%%EOF".getBytes, math.max(0, n - 1024), n) >= 0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(version), pages, encrypted,
        linearized, wellFormed))
  }
}

/** Perceptual difference-hash (dHash) of an UNCOMPRESSED 24-bpp BMP
  * payload: decode the raw pixel grid (the one mainstream container
  * decodable with zero codec libraries — byte layout only, like the
  * header walks above), integer-grayscale, average-pool to a 9×8 grid,
  * and emit one bit per horizontally-adjacent cell pair (left < right).
  * Two images that LOOK alike pool to similar grids and so to signatures
  * a few Hamming bits apart — the standard near-duplicate-image key.
  *
  * Returns NULL for anything that is not a well-formed ≥9×8 24-bpp
  * uncompressed BMP (PNG/JPEG/GIF need real codecs; route those through
  * a production decoder and feed the pixels to the same pooling). Never
  * throws on truncated or hostile payloads. Top-down (negative height)
  * row order is normalized, so byte order on disk does not change the
  * signature. Pure integer arithmetic throughout — bit-replayable.
  */
case class DHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dhash64 expects BINARY, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    DHash64.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}_boxed = graft.functions.DHash64.hash($c);
      ${ev.isNull} = ${ev.value}_boxed == null;
      ${ev.value} = ${ev.isNull} ? -1L : ${ev.value}_boxed.longValue();
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DHash64 {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leS32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Static entry point shared by eval and generated code. Returns a
    * boxed Long so NULL (undecodable) needs no sentinel in the domain. */
  def hash(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOff = leS32(b, 10)
    if (leS32(b, 14) < 40) return null           // BITMAPINFOHEADER only
    val w = leS32(b, 18)
    val hRaw = leS32(b, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w < 9 || h < 8 || w > (1 << 20) || h > (1 << 20)) return null
    if (leU16(b, 28) != 24 || leS32(b, 30) != 0) return null // 24bpp, BI_RGB
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff < 54 || dataOff.toLong + stride.toLong * h > b.length) return null

    // Average-pool the grayscale grid to 9x8: cell (cx, cy) covers
    // x in [cx*w/9, (cx+1)*w/9), y in [cy*h/8, (cy+1)*h/8).
    val cells = new Array[Long](9 * 8)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8; val y1 = (cy + 1) * h / 8
      var cx = 0
      while (cx < 9) {
        val x0 = cx * w / 9; val x1 = (cx + 1) * w / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          val srcRow = if (topDown) y else h - 1 - y
          val rowOff = dataOff + srcRow * stride
          var x = x0
          while (x < x1) {
            val p = rowOff + x * 3
            // BGR on disk; ITU-R 601 integer luma in thousandths.
            sum += (u8(b, p + 2) * 299 + u8(b, p + 1) * 587 +
              u8(b, p) * 114) / 1000
            x += 1
          }
          y += 1
        }
        cells(cy * 9 + cx) = sum / ((y1 - y0).toLong * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      val cyi = i / 8; val cxi = i % 8
      if (cells(cyi * 9 + cxi + 1) > cells(cyi * 9 + cxi))
        sig |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

/** Exclusive prefix counts of TRUE over a boolean array: out[i] = the
  * number of true elements at positions < i (null elements count as
  * false). The one-pass running counter that replaces "re-filter the
  * whole array per element" prefix queries — e.g.
  * [[graft.ext.TextAnalysis.spanCorrupt]]'s sentinel numbering, where
  * the per-block "how many selected blocks precede j" was O(blocks²)
  * per document as a nested `filter` and is O(blocks) here. */
case class PrefixCountsTrue(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(BooleanType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"prefix_counts_true expects ARRAY<BOOLEAN>, got ${t.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    PrefixCountsTrue.counts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PrefixCountsTrue.counts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PrefixCountsTrue {
  /** Static entry point shared by eval and generated code. */
  def counts(flags: ArrayData): ArrayData = {
    val n = flags.numElements()
    val out = new Array[Int](n)
    var c = 0
    var i = 0
    while (i < n) {
      out(i) = c
      if (!flags.isNullAt(i) && flags.getBoolean(i)) c += 1
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Next-fit sequence assignment over an ordered array of token counts:
  * out[i] = the 0-based sequence index of example i when examples are
  * packed greedily in array order into sequences of capacity `seqLen`
  * (open a new sequence when the current one cannot hold the next
  * example whole — the NO-STRADDLE packing SFT/preference training
  * uses, where an example must not leak across sequence boundaries).
  * An example longer than `seqLen` occupies a sequence alone (callers
  * truncate or drop). Next-fit is inherently sequential (each boundary
  * depends on the running remainder — not a prefix sum), which is why
  * it runs as ONE in-row pass over a bounded per-shard array instead
  * of pretending to be distributed arithmetic. Null counts take a
  * sequence alone (defensive; callers filter). */
case class NextFitSeqIdx(child: Expression, seqLen: Long)
    extends UnaryExpression {
  require(seqLen > 0, s"next_fit_seq_idx: seqLen=$seqLen")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"next_fit_seq_idx expects ARRAY<BIGINT>, got ${t.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    NextFitSeqIdx.assign(input.asInstanceOf[ArrayData], seqLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NextFitSeqIdx.assign($c, ${seqLen}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NextFitSeqIdx {
  /** Static entry point shared by eval and generated code. */
  def assign(counts: ArrayData, seqLen: Long): ArrayData = {
    val n = counts.numElements()
    val out = new Array[Int](n)
    var seq = -1
    var used = 0L
    var i = 0
    while (i < n) {
      val c = if (counts.isNullAt(i)) Long.MaxValue else counts.getLong(i)
      // compare against the remainder (never overflows: used <= seqLen)
      if (seq < 0 || c > seqLen - used) { seq += 1; used = 0L }
      out(i) = seq
      // saturate: an overlong (or null) example fills its sequence, so
      // the next example necessarily opens a new one
      used = if (c >= seqLen) seqLen else used + math.max(c, 0L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** PADDED next-fit batch assignment over an ordered array of sequence
  * lengths: out[i] = the 0-based batch index of row i when rows are
  * grouped greedily in array order into inference/training batches
  * whose COST is the PADDED token count — every row in a batch pads to
  * the batch's longest row, so a batch of n rows with max length L
  * costs n·L tokens, the rectangle an accelerator actually allocates.
  * A new batch opens when adding the next row would push the padded
  * cost over `maxTokens` or the row count over `maxRows`. Callers sort
  * DESC by length first (the published dynamic-batching recipe —
  * similar lengths batch together and the max is the head row), but
  * the fold tracks the running max so the semantics hold for any
  * order. A single row longer than `maxTokens` sits in a batch alone
  * (callers truncate or drop — the [[NextFitSeqIdx]] oversize
  * contract). Null lengths take a batch alone (defensive; callers
  * filter). Like next-fit, the fold is inherently sequential (each
  * boundary depends on the running count AND max — not a prefix sum),
  * so it runs as ONE in-row pass over a bounded per-shard array. */
case class PaddedNextFitIdx(child: Expression, maxTokens: Long, maxRows: Int)
    extends UnaryExpression {
  require(maxTokens > 0, s"padded_next_fit_idx: maxTokens=$maxTokens")
  require(maxRows > 0, s"padded_next_fit_idx: maxRows=$maxRows")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"padded_next_fit_idx expects ARRAY<BIGINT>, got ${t.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    PaddedNextFitIdx.assign(input.asInstanceOf[ArrayData], maxTokens, maxRows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PaddedNextFitIdx.assign($c, " +
        s"${maxTokens}L, $maxRows);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PaddedNextFitIdx {
  /** Static entry point shared by eval and generated code. */
  def assign(lens: ArrayData, maxTokens: Long, maxRows: Int): ArrayData = {
    val n = lens.numElements()
    val out = new Array[Int](n)
    var batch = -1
    var rows = 0
    var maxLen = 0L
    var i = 0
    while (i < n) {
      val c = if (lens.isNullAt(i)) Long.MaxValue else lens.getLong(i)
      val newMax = math.max(maxLen, math.max(c, 0L))
      // padded cost if this row joins: (rows+1) * newMax — compared by
      // division to avoid Long overflow when a null sentinel rides in
      val fits = batch >= 0 && rows < maxRows &&
        newMax <= maxTokens / (rows + 1)
      if (!fits) { batch += 1; rows = 0; maxLen = 0L }
      out(i) = batch
      rows += 1
      maxLen = math.max(maxLen, math.max(c, 0L))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Column-level entry points + SQL registration. */
object GraftFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression => expr}

  def fingerprint(c: Column): Column = column(RollingFingerprint(expr(c)))
  def dhash64(c: Column): Column = column(DHash64(expr(c)))
  def pdfMeta(c: Column): Column = column(PdfMetaParse(expr(c)))
  def wavEnergy(c: Column, windowMs: Int): Column =
    column(WavEnergy(expr(c), windowMs))
  def cdcChunks(c: Column, avgBits: Int, minSize: Int, maxSize: Int): Column =
    column(CdcChunks(expr(c), avgBits, minSize, maxSize))
  def pdfText(c: Column): Column = column(PdfTextExtract(expr(c)))
  def robotsAllowed(robots: Column, path: Column, agent: String): Column =
    column(RobotsAllowed(expr(robots), expr(path), agent))
  def cosine(a: Column, b: Column): Column = column(FloatCosine(expr(a), expr(b)))
  def doubleScaled(c: Column, scale: Int): Column = column(DoubleScaled(expr(c), scale))
  def shingleJaccard(a: Column, b: Column, k: Int): Column =
    column(ShingleJaccard(expr(a), expr(b), k))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expr(a), expr(b)))
  def sortedGramHashes(c: Column): Column =
    column(SortedXxhash64Array(expr(c)))
  def bandHashes(c: Column, bands: Int, rowsPerBand: Int): Column =
    column(BandHashes(expr(c), bands, rowsPerBand))
  def sortedIdPairs(c: Column): Column = column(SortedIdPairs(expr(c)))
  def gopherQuality(c: Column, minWords: Long, maxWords: Long,
      minStopHits: Long): Column =
    column(GopherQuality(expr(c), minWords, maxWords, minStopHits))
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    column(SortedLongIntersectCount(expr(a), expr(b)))
  def tokenNGrams(c: Column, n: Int): Column = column(TokenNGrams(expr(c), n))
  def tokenNGramHashes(c: Column, n: Int, seed: Long = 42L): Column =
    column(TokenNGramHashes(expr(c), n, seed))
  def gramHitCount(c: Column,
      bench: org.apache.spark.broadcast.Broadcast[Array[String]]): Column =
    column(GramHitCount(expr(c), bench))
  def prefixCountsTrue(c: Column): Column = column(PrefixCountsTrue(expr(c)))
  def nextFitSeqIdx(c: Column, seqLen: Long): Column =
    column(NextFitSeqIdx(expr(c), seqLen))
  def paddedNextFitIdx(c: Column, maxTokens: Long, maxRows: Int): Column =
    column(PaddedNextFitIdx(expr(c), maxTokens, maxRows))
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    column(UnicodeNormalize(expr(c), form))
  def bpeMergePair(c: Column, left: String, right: String): Column =
    column(BpeMergePair(expr(c), left, right))
  def bpeTokenize(c: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokenize(expr(c), merges))
  def bpeDropoutTokenize(c: Column, merges: Seq[(String, String)],
      dropoutPpm: Int, seed: Long): Column =
    column(BpeDropoutTokenize(expr(c), merges, dropoutPpm, seed))
  def unigramTokenize(c: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int): Column =
    column(UnigramTokenize(expr(c), vocab, maxPieceLen))
  def unigramSampleTokenize(c: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int, nbest: Int, alpha: Int, seed: Long,
      alphaDen: Int = 1): Column =
    column(UnigramSampleTokenize(expr(c), vocab, maxPieceLen, nbest, alpha,
      seed, alphaDen))
  def rarestFirstSort(c: Column,
      hot: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]]): Column =
    column(RarestFirstSort(expr(c), hot))
  def bloomMightContain(c: Column,
      bloom: org.apache.spark.broadcast.Broadcast[Array[Byte]]): Column =
    column(BloomMightContainBc(expr(c), bloom))
  def sq8Encode(c: Column, mins: Array[Double], maxs: Array[Double]): Column =
    column(Sq8Encode(expr(c), mins, maxs))
  def sq8Adc(codes: Column, query: Column, mins: Array[Double],
      maxs: Array[Double]): Column =
    column(Sq8Adc(expr(codes), expr(query), mins, maxs))
  def hyperplaneSig(c: Column, planes: Array[Array[Double]], bands: Int,
      width: Int = 8): Column =
    column(HyperplaneSig(expr(c), planes, bands, width))
  def minhashSig(c: Column, shingleK: Int, numHashes: Int): Column =
    column(MinHashSignature(expr(c), shingleK, numHashes))
  def simhashSig(c: Column): Column = column(SimHashSignature(expr(c)))
  def pqEncode(c: Column, codebook: Array[Array[Array[Double]]]): Column =
    column(PqEncode(expr(c), codebook))
  def pqLut(c: Column, codebook: Array[Array[Array[Double]]]): Column =
    column(PqLut(expr(c), codebook))
  def pqAdc(codes: Column, lut: Column, codebookSize: Int): Column =
    column(PqAdc(expr(codes), expr(lut), codebookSize))
  def nearestCentroid(c: Column, ids: Array[Long],
      centroids: Array[Array[Double]]): Column =
    column(NearestCentroid(expr(c), ids, centroids))
  def topCentroids(c: Column, ids: Array[Long],
      centroids: Array[Array[Double]], nprobe: Int): Column =
    column(TopCentroids(expr(c), ids, centroids, nprobe))
  def imageHeader(c: Column): Column = column(ImageHeaderParse(expr(c)))
  def mediaHeader(c: Column): Column = column(MediaHeaderParse(expr(c)))

  /** Make the functions available to `spark.sql` as graft_fingerprint /
    * graft_cosine. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_fingerprint", es => RollingFingerprint(es.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_cosine", es => FloatCosine(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_simhash", es => SimHashSignature(es.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_token_ngrams", es => TokenNGrams(es(0),
        es(1).eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_sorted_intersect_count",
      es => SortedIntersectCount(es(0), es(1)), "built-in")
  }
}
