package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the scalar functions that column
  * pipelines need (SURVEY.md §2.2 "Functions, not UDFs"): a custom
  * `Expression` with `doGenCode` stays inside whole-stage codegen — no
  * lambda boxing, no Row marshaling — unlike a Scala `udf()`.
  */
object PyFuncs {
  /** Called from generated code. Unicode NFC via the JDK's ICU-derived
    * normalizer — composed/decomposed sequences ('é' vs 'e'+U+0301)
    * canonicalize to one form, matching utf8proc's nfc_normalize. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan and almost every
    // real string is already NFC — avoid the allocation on the 10^12-row
    // hot path
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str,
      java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization as a codegen'd unary expression — the
  * canonicalization pass content-hash dedup needs BEFORE hashing: a
  * composed 'é' (U+00E9) and its decomposed twin ('e' + U+0301) are
  * different byte strings that render identically, so without NFC every
  * copy-paste round-trip through a decomposing editor defeats exact
  * dedup. Complements the homoglyph skeleton (p115), which handles
  * CONFUSABLE codepoints; NFC handles CANONICAL equivalence. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires STRING, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    PyFuncs.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PyFuncs.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** Column-API access to the expressions (Spark 4: Column↔Expression
  * bridging goes through GraftColumnBridge). */
object functions {
  import org.apache.spark.sql.GraftColumnBridge._
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def sign_lsh_bucket(c: Column, planes: Array[Array[Double]]): Column =
    column(SignLshBucket(expression(c), planes))
  def deflate_len(c: Column): Column = column(DeflateLength(expression(c)))
  def nfc_normalize(c: Column): Column = column(NfcNormalize(expression(c)))
  def common_prefix_len(a: Column, b: Column): Column =
    column(CommonPrefixLen(expression(a), expression(b)))
  def d_hash64(c: Column): Column = column(DHash64(expression(c)))
}

/** Cosine similarity over two array<double> columns as ONE codegen'd
  * expression. The `zip_with`+`aggregate` formulation is correct but runs
  * interpreted — Catalyst higher-order functions evaluate their lambda per
  * element through the expression interpreter, outside whole-stage codegen.
  * This kernel is a tight fused loop (dot + both norms in one pass, no
  * intermediate array), accumulating in index order so the result is
  * bit-identical to the sequential left-to-right folds the HOF version and
  * the DuckDB oracles compute. Null if lengths differ or any element is
  * null (the HOF version's null propagation). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.ArrayType

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires ARRAY<DOUBLE> args, got $l, $r")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot /
         |      (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** Sign-random-projection LSH bucket id over an array<double> embedding:
  * all `planes.length` hyperplane dots in ONE codegen'd pass (the column
  * formulation recomputes an interpreted zip_with/aggregate per bit). The
  * plane matrix rides along as a referenced object in the generated class.
  * Bit-identical to the per-bit fold: each dot accumulates in index order
  * and bit b contributes 1L<<b when its dot >= 0. Null (like
  * CosineSimilarity, and like the HOF fold's null propagation) when the
  * embedding's length differs from the planes' dimensionality or any
  * element is null — a malformed row must not be silently bucketed on a
  * truncated dot.
  *
  * Equality is STRUCTURAL over the plane contents (case-class equality on
  * an Array field is reference-based, which would defeat canonicalization,
  * subexpression elimination and exchange reuse for two semantically
  * identical expressions). */
case class SignLshBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, LongType}

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh_bucket requires ARRAY<DOUBLE>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (!SignLshBucket.wellFormed(a, planes)) null
    else SignLshBucket.bucketOf(a, planes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
       |if (!graft.functions.SignLshBucket.wellFormed($c, $planesRef)) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.SignLshBucket.bucketOf($c, $planesRef);
       |}
     """.stripMargin)
  }

  override def equals(other: Any): Boolean = other match {
    case s: SignLshBucket => child == s.child &&
      java.util.Arrays.deepEquals(planes.asInstanceOf[Array[AnyRef]],
        s.planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(newChild: Expression): SignLshBucket =
    copy(child = newChild)
  override def prettyName: String = "sign_lsh_bucket"
}

/** Broadcast-Bloom membership probe as a codegen'd unary expression — the
  * probe side of `BloomJoin.bloomReducedJoin`. A `udf()` here costs a boxed
  * lambda call per probe row on the ONE operator whose whole point is
  * cutting probe-side cost; this stays inside whole-stage codegen. The
  * sketch rides along as a referenced object in the generated class (same
  * pattern as SignLshBucket's plane matrix) and ships with the task binary,
  * which Spark broadcasts once per stage. String keys hash via their UTF-8
  * bytes — `BloomFilter.putString`/`mightContainString` delegate to exactly
  * those bytes, so `mightContainBinary(getBytes)` is bit-equivalent without
  * the per-row String allocation. */
case class BloomMightContain(child: Expression,
    filter: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires BIGINT, INT or STRING key, got $t")
  }

  override def nullSafeEval(input: Any): Any = child.dataType match {
    case StringType =>
      filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)
    case IntegerType => filter.mightContainLong(input.asInstanceOf[Int].toLong)
    case _ => filter.mightContainLong(input.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary(($c).getBytes())")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainLong((long)($c))")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

object SignLshBucket {
  /** Input contract check shared by interpreted eval and generated code:
    * embedding length must equal every plane's dimensionality and no
    * element may be null. The null scan is O(n) next to the O(n·bits)
    * bucket computation — negligible, and it keeps `bucketOf` a pure
    * primitive-long kernel (no per-row boxing). */
  def wellFormed(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 planes: Array[Array[Double]]): Boolean = {
    val n = a.numElements()
    var b = 0
    while (b < planes.length) {
      if (planes(b).length != n) return false
      b += 1
    }
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Shared by interpreted eval and generated code. Callers must have
    * checked `wellFormed` first. */
  def bucketOf(a: org.apache.spark.sql.catalyst.util.ArrayData,
               planes: Array[Array[Double]]): Long = {
    var bucket = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = p.length
      var dot = 0.0
      var i = 0
      while (i < n) { dot += a.getDouble(i) * p(i); i += 1 }
      if (dot >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }
}

/** DEFLATE-compressed byte count of a string's UTF-8 bytes as a codegen'd
  * unary expression — the kernel of the compression-ratio quality signal
  * (highly repetitive/templated text compresses far below natural prose;
  * production curation stacks use exactly this as a cheap perplexity
  * stand-in). zlib level 6, zlib wrapper, per-thread `Deflater` reused via
  * reset() so the hot path allocates only the UTF-8 byte copy. The count is
  * deterministic for a fixed input on a fixed JDK zlib (the engine computes
  * it ONCE and dumps it; the oracle only re-aggregates the dump — it never
  * recomputes compression), so cross-engine hashing is unaffected. */
case class DeflateLength(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"deflate_len requires STRING, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    DeflateLength.lenOf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateLength.lenOf($c)")
  override protected def withNewChildInternal(newChild: Expression): DeflateLength =
    copy(child = newChild)
  override def prettyName: String = "deflate_len"
}

object DeflateLength {
  private val deflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, false)
  }
  private val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }
  /** Called from generated code. */
  def lenOf(s: UTF8String): Int = {
    val d = deflater.get()
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    val b = buf.get()
    var total = 0
    while (!d.finished()) total += d.deflate(b)
    total
  }
}

/** Length (in bytes) of the longest common prefix of two strings as one
  * codegen'd comparison loop — the adjacent-suffix LCP kernel of
  * [[graft.ops.SuffixOps.lcpCensus]]. Byte-wise equals codepoint-wise on
  * the engine's ASCII corpus contract (same rationale as SuffixOps' packed
  * base-129 init ranks: UTF-8 byte order == codepoint order there); on
  * general UTF-8 a byte-level common prefix could split a multi-byte
  * codepoint, so the ASCII contract is load-bearing and pinned by the
  * SuffixOps spec. The equivalent HOF fold
  * (`aggregate(sequence(1, n), 0, (acc, k) -> IF(substring(a,1,k) =
  * substring(b,1,k), k, acc))`) re-compares O(n²) chars through the
  * expression interpreter; this is one O(n) pass inside whole-stage
  * codegen. */
case class CommonPrefixLen(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"common_prefix_len requires STRING args, got " +
        s"${left.dataType}, ${right.dataType}")
  override def nullSafeEval(l: Any, r: Any): Any =
    CommonPrefixLen.lenOf(l.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.CommonPrefixLen.lenOf($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CommonPrefixLen =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "common_prefix_len"
}

object CommonPrefixLen {
  /** Called from generated code. */
  def lenOf(a: UTF8String, b: UTF8String): Int = {
    val n = math.min(a.numBytes, b.numBytes)
    var i = 0
    while (i < n && a.getByte(i) == b.getByte(i)) i += 1
    i
  }
}

/** 64-bit difference hash (dHash) over a media payload — the perceptual
  * fingerprint image dedup buckets on (the standard web-scale image-dedup
  * primitive; LAION-style pipelines pair it with a hamming-band join).
  * The real op downsamples the decoded image to a 9×8 grayscale grid and
  * emits one bit per horizontal gradient (pixel < right neighbor). The
  * decoded-pixel source here is the engine's deterministic payload
  * surrogate (the media bytes themselves, tiled over the grid — locality
  * preserving: a small payload edit flips few grid cells, exactly like a
  * small image edit; see `MultimodalOps.fakeDecode` for the surrogate
  * contract), so a codec-backed grid drops in behind the same loop. One
  * fused byte pass, inside whole-stage codegen; ASCII payloads make the
  * byte/codepoint reading identical to the SQL oracle's ord(substr(…)).
  * Empty input → 0 (filtered upstream; total function keeps codegen
  * simple). */
case class DHash64(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.LongType
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"d_hash64 requires STRING input, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    DHash64.hashOf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DHash64.hashOf($c)")
  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
  override def prettyName: String = "d_hash64"
}

object DHash64 {
  /** Called from generated code. Grid cell i = (byte[i mod len]·37 +
    * 11·i) mod 256 — the multiplicative+positional spread stands in for
    * real images' pixel variety (raw bytes alone are degenerate: digit
    * payloads that preserve byte ORDER collide at hamming 0 in the tens
    * of thousands). Locality survives — an edited byte still only
    * touches the ~64/len cells that read it — while a ±1 digit change
    * moves those cells by ±37 mod 256 and actually flips gradients.
    * Bit y·8+x set iff cell(y·9+x) < cell(y·9+x+1). */
  def hashOf(s: UTF8String): Long = {
    val n = s.numBytes
    if (n == 0) return 0L
    var h = 0L
    var k = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val base = y * 9 + x
        val p1 = ((s.getByte(base % n) & 0xff) * 37 + 11 * base) & 0xff
        val p2 = ((s.getByte((base + 1) % n) & 0xff) * 37 +
          11 * (base + 1)) & 0xff
        if (p1 < p2) h |= 1L << k
        k += 1
        x += 1
      }
      y += 1
    }
    h
  }
}
