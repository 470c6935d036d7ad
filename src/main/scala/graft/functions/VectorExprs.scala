package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expressions for the vector hot paths.
  *
  * An unrolled 64-term column expression works but generates a method
  * past the JVM's JIT limits, so all-pairs loops ran interpreted; a
  * dimension-independent codegen'd loop stays small, JITs, and remains
  * inside whole-stage codegen (SURVEY.md §2.10 escalation order).
  * Summation order is left-to-right like `aggregate(zip_with(...))`,
  * so results are bit-identical to the higher-order-function form.
  * Null array elements are not supported (harness vectors are dense).
  */
case class DotProductF64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f64"
  // analysis-time rejection of non-double arrays: ArrayData.getDouble on
  // an int array would silently reinterpret 4-byte slots as garbage
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF64 =
    copy(left = l, right = r)
}

/** popcount(a AND b) over two equal-length array<bigint> bitsets —
  * the per-pair kernel of the dense-vocabulary exact-Jaccard path.
  */
case class BitsetIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bitset_intersect_count"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0
    var i = 0
    while (i < n) { s += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |int $s = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitsetIntersectCount =
    copy(left = l, right = r)
}

/** Packed char-bigram extraction: string → array<bigint> of
  * consecutive codepoint pairs (cp1·0x110000 + cp2) — the langid /
  * perplexity hot path. Replaces the interpreted
  * transform(split(...)) + zip_with chain (two higher-order lambdas
  * per row, one string op per element) with one codegen'd codepoint
  * walk; the packing is identical, so every downstream grouping is
  * unchanged. Codepoint iteration matches DuckDB's character
  * semantics on BMP text (the harness corpus; surrogate pairs would
  * diverge from Spark's split('')-by-Java-char behavior, not ours).
  */
case class PackedCharBigrams(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "packed_char_bigrams"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any = {
    val js = input.toString
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    var prev = -1
    while (i < js.length) {
      val cp = js.codePointAt(i)
      if (prev >= 0) out += prev * 1114112L + cp
      prev = cp
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val js = ctx.freshName("js")
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      val idx = ctx.freshName("idx")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val prev = ctx.freshName("prev")
      s"""
         |String $js = $s.toString();
         |int $n = $js.codePointCount(0, $js.length());
         |long[] $arr = new long[$n < 2 ? 0 : $n - 1];
         |int $idx = 0;
         |int $i = 0;
         |int $prev = -1;
         |while ($i < $js.length()) {
         |  int $cp = $js.codePointAt($i);
         |  if ($prev >= 0) { $arr[$idx++] = $prev * 1114112L + $cp; }
         |  $prev = $cp;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackedCharBigrams =
    copy(child = newChild)
}

/** Distinct word-bigram shingles: string → array<string> of adjacent
  * "a b" word pairs, first-occurrence order, split on single spaces
  * with empty tokens KEPT (exactly Spark's split(s, " ") + zip_with +
  * array_distinct chain it replaces — ExtensionsSpec pins the
  * equivalence). The per-row work runs in one compiled kernel
  * (static call from generated code) instead of three interpreted
  * higher-order lambdas; feeds the exact-jaccard / MinHash / winnow
  * shingle tables.
  */
case class WordBigramShingles(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_bigram_shingles"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordBigramShingles(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.wordBigramShingles($s);")

  override protected def withNewChildInternal(newChild: Expression): WordBigramShingles =
    copy(child = newChild)
}

/** Distinct winnowing anchors of an ASCII-sanitized string — see
  * TextKernels.winnowFingerprints. Replaces the interpreted
  * per-position polynomial transform + cascaded zip_with minima.
  */
case class WinnowFingerprints(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.winnowFingerprints(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.winnowFingerprints($s);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Whole-string Karp-Rabin (base-256 mod 1e9+7) hash — see
  * TextKernels.hornerModHash. The engine-portable document
  * fingerprint: the same residue arithmetic is a one-line
  * list_reduce in ANSI-ish SQL, so the oracle recomputes it exactly
  * where xxhash64 cannot be cross-checked.
  */
case class KarpRabinHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = LongType
  override def prettyName: String = "karp_rabin_hash"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.hornerModHash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.hornerModHash($s);")

  override protected def withNewChildInternal(newChild: Expression): KarpRabinHash =
    copy(child = newChild)
}

/** The k min-hash values of a shingle array (32 by default — the
  * SQL-registered unary form) — see TextKernels.minhashSignature.
  * Output element type is nullable: empty shingle sets produce null
  * minima like the array_min(transform(...)) form it replaces.
  */
case class MinhashSignature(child: Expression, k: Int = 32)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_signature"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a positive permutation count, got $k")
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.minhashSignature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.minhashSignature($s, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash of a normalized text — see TextKernels.simhash64. */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.simhash64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.simhash64($s);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit engine-portable SimHash of an ASCII-sanitized text — see
  * TextKernels.simhashPortable. The oracle-gradable twin of simhash64:
  * word hashes are two packed Karp-Rabin residues instead of xxhash64,
  * so DuckDB can rebuild the identical signature (and hence the
  * identical near-dup pair set) from the raw text.
  */
case class SimHashPortable(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_portable"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.simhashPortable(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.simhashPortable($s);")

  override protected def withNewChildInternal(newChild: Expression): SimHashPortable =
    copy(child = newChild)
}

/** All `tables` hyperplane-LSH band signatures of a dense double
  * vector in one pass — see VecKernels.hyperplaneSigs. The plane set
  * is derived deterministically from (seed, tables, bits, dim), so the
  * expression is a pure function of its input column: same signatures
  * on every executor, every run, every partition layout.
  */
case class HyperplaneSigs(child: Expression, seed: Long, tables: Int, bits: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(tables >= 1, s"hyperplane_sigs: tables must be >= 1, got $tables")
  // bits caps at 31: the highest shift is 1 << (bits-1), so bits = 31
  // still yields a non-negative Int signature (bit 30 is the top);
  // only bits = 32 would reach the sign bit
  require(bits >= 1 && bits <= 31, s"hyperplane_sigs: bits must be in [1, 31], got $bits")
  require(dim >= 1, s"hyperplane_sigs: dim must be >= 1, got $dim")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<double> argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    VecKernels.hyperplaneSigs(input.asInstanceOf[ArrayData], seed, tables, bits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.VecKernels.hyperplaneSigs($s, ${seed}L, $tables, $bits, $dim);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
}

/** Compiled vector kernels called from generated code. */
object VecKernels {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  // Plane sets are small (tables*bits*dim doubles) and reused across
  // every row of a stage, so they are memoized per parameter tuple.
  // java.util.Random's nextGaussian algorithm is specified by its
  // javadoc, hence stable across JVM vendors/versions — the planes are
  // reproducible build-to-build.
  //
  // The memo is BOUNDED: hyperplane_sigs is SQL-registered, so a user
  // sweeping seed/parameter literals would otherwise grow a plane set
  // per distinct tuple on every executor forever. Each set is capped
  // at MaxPlaneDoubles (8 MB) and the map at MaxPlaneSets entries —
  // on overflow the map resets and evicted tuples just recompute
  // (reads stay lock-free on the immutable snapshot; only the rare
  // insert synchronizes).
  private val MaxPlaneSets = 8
  // visible to embedPairs' feasibility require, which pre-checks the
  // tables×bits×dim product against this budget so an infeasible
  // (τ, dim) combination fails with the derivation and remediation
  // instead of the generic plane-budget message deep in codegen
  private[graft] val MaxPlaneDoubles = 1 << 20
  @volatile private var planeCache: Map[(Long, Int, Int, Int), Array[Double]] = Map.empty

  private[functions] def planes(seed: Long, tables: Int, bits: Int, dim: Int): Array[Double] =
    planeCache.getOrElse((seed, tables, bits, dim), {
      require(tables.toLong * bits * dim <= MaxPlaneDoubles,
        s"hyperplane_sigs: tables*bits*dim = ${tables.toLong * bits * dim} exceeds " +
          s"the $MaxPlaneDoubles-double plane-set budget")
      val rnd = new java.util.Random(seed)
      val arr = Array.fill(tables * bits * dim)(rnd.nextGaussian())
      synchronized {
        if (planeCache.size >= MaxPlaneSets) planeCache = Map.empty
        planeCache += (seed, tables, bits, dim) -> arr
      }
      arr
    })

  /** For each of `tables` bands, the packed `bits` sign bits of the
    * vector's dot products with that band's Gaussian hyperplanes
    * (bit i set ⇔ v·h_i > 0). One flat loop over tables*bits*dim
    * multiplies per row; no allocation beyond the result array.
    * Vectors shorter than `dim` use only their own length (trailing
    * plane coordinates are ignored); null elements are unsupported
    * (harness vectors are dense, as with dot_f64).
    */
  def hyperplaneSigs(v: ArrayData, seed: Long, tables: Int, bits: Int, dim: Int): ArrayData = {
    val p = planes(seed, tables, bits, dim)
    val n = math.min(v.numElements(), dim)
    val out = new Array[Any](tables)
    var t = 0
    var off = 0
    while (t < tables) {
      var sig = 0
      var b = 0
      while (b < bits) {
        var d = 0.0
        var i = 0
        while (i < n) { d += v.getDouble(i) * p(off + i); i += 1 }
        if (d > 0) sig |= 1 << b
        off += dim
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Compiled per-row text kernels called from generated code (the
  * static-invoke escape hatch: logic stays in Scala, the call site
  * stays inside whole-stage codegen).
  */
object TextKernels {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  // Winnowing parameters — MUST match graft.operators.LlmData.Winnow
  // (which also feeds the DuckDB oracle SQL); ExtensionsSpec pins the
  // kernel against the expression chain built from Winnow's values,
  // so a drift fails the suite loudly.
  private val WinK = 8
  private val WinW = 4
  private val WinM = 1000000007L
  private val WinPows: Array[Long] = Array.iterate(1L, WinK)(p => p * 256L % WinM).reverse

  /** Distinct w-window minima of the Karp-Rabin k-gram rolling hashes
    * of an ASCII-sanitized string (the SIGMOD'03 winnowing anchor
    * set), first-occurrence order. Same residue arithmetic as the
    * oracle SQL: h = (Σⱼ c·B^j' mod M) mod M.
    */
  def winnowFingerprints(s: UTF8String): ArrayData = {
    val js = s.toString
    val nf = js.length - (WinK - 1)
    if (nf < WinW) return new GenericArrayData(Array.empty[Any])
    val fps = new Array[Long](nf)
    var p = 0
    while (p < nf) {
      var h = 0L
      var j = 0
      while (j < WinK) { h += js.charAt(p + j).toLong * WinPows(j) % WinM; j += 1 }
      fps(p) = h % WinM
      p += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= nf - WinW) {
      var mn = fps(i)
      var k = 1
      while (k < WinW) { if (fps(i + k) < mn) mn = fps(i + k); k += 1 }
      seen.add(mn)
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var j2 = 0
    while (it.hasNext) { arr(j2) = it.next().longValue(); j2 += 1 }
    new GenericArrayData(arr)
  }

  /** Whole-string Karp-Rabin hash by Horner's scheme over the same
    * (base 256, mod 1e9+7) residue arithmetic as the winnowing
    * k-gram hashes: h = fold(0, (a, c) → (a·256 + c) mod M). Callers
    * sanitize to ASCII first (same reason as winnowFingerprints:
    * per-char iteration must agree with DuckDB's per-codepoint
    * string_split), and every intermediate stays under 2⁶³
    * (a < M ⇒ a·256 + c < 2.6·10¹¹). The portable whole-document
    * fingerprint — unlike xxhash64, reproducible in any engine with
    * int64 arithmetic.
    */
  def hornerModHash(s: UTF8String): Long = {
    val js = s.toString
    var h = 0L
    var i = 0
    while (i < js.length) { h = (h * 256L + js.charAt(i)) % WinM; i += 1 }
    h
  }

  // MinHash parameters — the 32-perm default MUST match qDedupMinhash's
  // scheme (prefix "mh<i>:"); ExtensionsSpec pins this kernel against
  // the array(array_min(transform(...xxhash64...))) expression it
  // replaces. Other permutation counts (the derived-band scale path)
  // share the same prefix family, so perm i hashes identically at any
  // k — a k=64 signature's first 32 minima equal the k=32 signature.
  private val MhK = 32
  // per-k prefix memo, same bounded-reset discipline as planeCache
  @volatile private var mhPrefixCache: Map[Int, Array[Array[Byte]]] =
    Map(MhK -> Array.tabulate(MhK)(i => s"mh$i:".getBytes("UTF-8")))
  private val MaxMhPrefixSets = 8

  private def mhPrefixes(k: Int): Array[Array[Byte]] =
    mhPrefixCache.getOrElse(k, {
      val arr = Array.tabulate(k)(i => s"mh$i:".getBytes("UTF-8"))
      synchronized {
        if (mhPrefixCache.size >= MaxMhPrefixSets) mhPrefixCache = Map.empty
        mhPrefixCache += k -> arr
      }
      arr
    })

  def minhashSignature(shingles: ArrayData): ArrayData =
    minhashSignature(shingles, MhK)

  /** All k min-hash values of a shingle array in one pass: for each
    * permutation i, min over shingles of xxhash64('mh<i>:' || shingle)
    * (Spark's XxHash64, seed 42, over the concatenated UTF-8 bytes).
    * Empty shingle arrays yield k nulls, exactly like
    * array_min(transform([], ...)); null ELEMENTS are skipped, exactly
    * like the chain (xxhash64(null) = null, which array_min ignores) —
    * the function is SQL-registered, so arbitrary user arrays with
    * null entries must not throw.
    */
  def minhashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val prefixes = mhPrefixes(k)
    val n = shingles.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var buf = new Array[Byte](64)
    var sawValue = false
    var i = 0
    while (i < n) {
      if (shingles.isNullAt(i)) { i += 1 }
      else {
      sawValue = true
      val sh = shingles.getUTF8String(i).getBytes
      var j = 0
      while (j < k) {
        val p = prefixes(j)
        val len = p.length + sh.length
        if (buf.length < len) buf = new Array[Byte](len * 2)
        System.arraycopy(p, 0, buf, 0, p.length)
        System.arraycopy(sh, 0, buf, p.length, sh.length)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
      }
    }
    if (!sawValue) return new GenericArrayData(new Array[Any](k)) // nulls
    new GenericArrayData(mins.map(x => x: Any))
  }

  /** 64-bit SimHash of a normalized text: per non-empty
    * space-separated word occurrence, xxhash64(word) (Spark XXH64,
    * seed 42) votes +1/−1 per bit; bit set iff its vote sum is
    * strictly positive. One per-row pass — replaces the word explode
    * + 64-column vote aggregate (and its shuffle).
    */
  def simhash64(s: UTF8String): Long = {
    // one UTF-8 buffer per row, words hashed as in-place slices: a
    // 0x20 byte never occurs inside a multi-byte UTF-8 sequence, so
    // byte-level splitting equals character-level splitting and each
    // slice's bytes equal word.getBytes("UTF-8") — zero per-word
    // allocation (cf. the MinhashSignature buffer-reuse note)
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        if (i > start) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sim |= 1L << j; j += 1 }
    sim
  }

  /** 60-bit ENGINE-PORTABLE SimHash of an ASCII-sanitized text: per
    * non-empty space-separated word occurrence, the word's hash packs
    * two MIXED Karp-Rabin residues side by side — r1/r2 are Horner
    * folds (base 256 mod 1e9+7 / base 131 mod 1e9+9), then
    * h1 = (r1·2654435761 + r2) mod 1073741789 and
    * h2 = (r2·2654435789 + r1) mod 1073741789 (Knuth multiplicative
    * mixing; both < 2³⁰ so bits 0..29 and 30..59 never overlap) —
    * voting +1/−1 per bit; bit set iff its vote sum is strictly
    * positive. The mixing matters: a plain Horner fold of a short word
    * ("a" → 97) leaves its high bits zero, giving every signature the
    * same cold bits and collapsing Hamming distances corpus-wide
    * (measured 3.7× more ≤-threshold pairs without it). Unlike
    * simhash64's xxhash64 word hash, the whole chain is exact int64
    * arithmetic in DuckDB (two list_reduce + two mults), so the pair
    * set is oracle-gradable. Callers sanitize to ASCII first (same
    * reason as winnowFingerprints: per-char iteration must agree with
    * DuckDB's per-codepoint string_split). Every intermediate stays
    * under 2⁶³ (r < 2³⁰ ⇒ r·2654435789 + r < 2.9·10¹⁸).
    */
  def simhashPortable(s: UTF8String): Long = {
    val js = s.toString
    val votes = new Array[Int](60)
    val n = js.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || js.charAt(i) == ' ') {
        if (i > start) {
          var r1 = 0L
          var r2 = 0L
          var p = start
          while (p < i) {
            val c = js.charAt(p).toLong
            r1 = (r1 * 256L + c) % 1000000007L
            r2 = (r2 * 131L + c) % 1000000009L
            p += 1
          }
          val h1 = (r1 * 2654435761L + r2) % 1073741789L
          val h2 = (r2 * 2654435789L + r1) % 1073741789L
          val h = h1 | (h2 << 30)
          var j = 0
          while (j < 60) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) sim |= 1L << j; j += 1 }
    sim
  }

  def wordBigramShingles(s: UTF8String): ArrayData = {
    // limit -1: KEEP trailing empty tokens, matching Spark's
    // split(s, " ") (limit defaults to -1) on which the oracles'
    // string_split also agrees
    val words = s.toString.split(" ", -1)
    if (words.length < 2) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < words.length - 1) {
      seen.add(words(i) + " " + words(i + 1))
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(arr)
  }
}

/** Whole-row exact k-NN kernel: for one probe vector, scan a broadcast
  * corpus array<struct<id bigint, e array<double>, nm double>> and
  * return the k nearest neighbors as SORTED encoded BIGINT keys,
  * (1e6 − c6)·2⁴⁰ + id with c6 = round(cosine, 6)·1e6 — ascending key
  * order IS (rounded cosine DESC, id ASC), the oracle's rank order.
  *
  * Why a kernel and not transform()+array_sort(): the higher-order
  * form evaluates the lambda body interpreted once per (probe,
  * candidate) — measured 6.5 s at 2000×2000; the kernel runs one
  * compiled loop per probe ROW (0.3 s same corpus). Rounding matches
  * Catalyst Round (BigDecimal HALF_UP on the canonical double repr)
  * but is only PAID for candidates that can still enter the current
  * top-k: a candidate with cos·1e6 < c6_k − 0.51 cannot round to
  * ≥ c6_k (rounding moves the scaled value < 0.501) and is rejected
  * on the cheap double compare — after warm-up nearly every candidate
  * takes that branch, so BigDecimal cost is O(k + near-boundary), not
  * O(n). KnnKernelSpec pins kernel ≡ the higher-order chain.
  *
  * Every argument must be non-nullable: the kernel reads its inputs
  * without null checks, so a nullable argument is rejected when the
  * plan is analyzed (the Column builder `VectorExprs.knnTopkKeys`
  * asserts non-null on its nullable inputs instead).
  */
case class KnnTopkKeys(corpus: Expression, vec: Expression, nrm: Expression,
    selfId: Expression, k: Int) extends Expression {
  import org.apache.spark.sql.types.StructType
  override def children: Seq[Expression] = Seq(corpus, vec, nrm, selfId)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "knn_topk_keys"
  override lazy val deterministic: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val corpusOk = corpus.dataType match {
      case ArrayType(st: StructType, _) if st.length == 3 =>
        val eOk = st(1).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }
        st(0).dataType == LongType && eOk && st(2).dataType == DoubleType
      case _ => false
    }
    if (!corpusOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: corpus must be array<struct<id bigint, e array<double>, nm double>>, got ${corpus.dataType.sql}")
    else if (!vec.dataType.isInstanceOf[ArrayType] ||
             vec.dataType.asInstanceOf[ArrayType].elementType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: vec must be array<double>")
    else if (nrm.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: nrm must be double")
    else if (selfId.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: selfId must be bigint")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1, got $k")
    else if (children.exists(_.nullable))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: arguments must be non-nullable, but " +
        children.filter(_.nullable).map(_.sql).mkString(", ") + " may be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  private val Shift = 1L << 40

  // Catalyst Round semantics for scale 6 (HALF_UP on the canonical
  // decimal representation of the double)
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernelEval(corpus.eval(input).asInstanceOf[ArrayData],
      vec.eval(input).asInstanceOf[ArrayData],
      nrm.eval(input).asInstanceOf[Double],
      selfId.eval(input).asInstanceOf[Long])

  /** The top-k loop over evaluated inputs — shared by the interpreted
    * eval and the generated path (doGenCode calls back in, so results
    * are identical by construction and the projection stays inside
    * whole-stage codegen — guide §4).
    */
  def kernelEval(corpusIn: AnyRef, vecIn: AnyRef, myNrm: Double,
      me: Long): ArrayData = {
    val corpusArr = corpusIn.asInstanceOf[ArrayData]
    val v = vecIn.asInstanceOf[ArrayData]
    val n = corpusArr.numElements()
    val dim = v.numElements()
    val keys = new Array[Long](k)
    var filled = 0
    // kth rounded-cosine micro-units currently required to enter
    var c6k = Long.MinValue
    var i = 0
    while (i < n) {
      val row = corpusArr.getStruct(i, 3)
      val id = row.getLong(0)
      // ids share the low 40 bits of the packed key — an id outside
      // [0, 2^40) would silently corrupt neighbor_id and cosine.
      require(id >= 0L && id < Shift,
        s"knn_topk_keys: id $id outside the [0, 2^40) packed-key space")
      if (id != me) {
        val e = row.getArray(1)
        // Dimension mismatch is a data bug — truncating the product
        // would silently diverge from the full-length oracle cosine.
        require(e.numElements() == dim,
          s"knn_topk_keys: corpus vector $id has dim ${e.numElements()}, probe has $dim")
        var s = 0.0
        var j = 0
        while (j < dim) { s += v.getDouble(j) * e.getDouble(j); j += 1 }
        val cos = s / (myNrm * row.getDouble(2))
        // Degenerate cosines (zero-norm vectors → NaN/Inf) rank as
        // -inf similarity: skip, matching the higher-order chain this
        // kernel replaced (BigDecimal.valueOf throws on non-finite).
        // cheap reject: cannot round into the current top-k
        if (java.lang.Double.isFinite(cos) &&
            (filled < k || cos * 1e6 >= c6k - 0.51)) {
          val c6 = math.round(round6(cos) * 1e6)
          val key = (1000000L - c6) * Shift + id
          if (filled < k) {
            // insertion into the sorted prefix
            var p = filled - 1
            while (p >= 0 && keys(p) > key) { keys(p + 1) = keys(p); p -= 1 }
            keys(p + 1) = key
            filled += 1
            if (filled == k) c6k = 1000000L - keys(k - 1) / Shift
          } else if (key < keys(k - 1)) {
            var p = k - 2
            while (p >= 0 && keys(p) > key) { keys(p + 1) = keys(p); p -= 1 }
            keys(p + 1) = key
            c6k = 1000000L - keys(k - 1) / Shift
          }
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(keys, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("kernel", this)
    val cCode = corpus.genCode(ctx)
    val vCode = vec.genCode(ctx)
    val nCode = nrm.genCode(ctx)
    val idCode = selfId.genCode(ctx)
    ev.copy(code = code"""
      |${cCode.code}
      |${vCode.code}
      |${nCode.code}
      |${idCode.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  $ref.kernelEval(${cCode.value}, ${vCode.value}, ${nCode.value}, ${idCode.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KnnTopkKeys =
    copy(corpus = newChildren(0), vec = newChildren(1),
      nrm = newChildren(2), selfId = newChildren(3))
}

/** Per-document packed char-bigram occurrence counts:
  * string → array<struct<bg: bigint, occ: bigint>> SORTED by bg
  * ascending. The packing is PackedCharBigrams' (cp1·0x110000 + cp2),
  * so the (bg, occ) rows equal exactly what
  * `explode(packed_char_bigrams(t)) → groupBy(bg) count` produced —
  * computed per ROW with no exploded stream through a hash aggregate.
  * The langid/perplexity doc-side table derives from this kernel; the
  * model side aggregates these already-counted rows (a shuffle of
  * distinct-bigrams-per-doc rows with map-side partial aggregation,
  * not of every bigram occurrence).
  */
case class PackedBigramCounts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("bg", LongType, nullable = false),
                   StructField("occ", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "packed_bigram_counts"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any = {
    val js = input.toString
    val n = js.codePointCount(0, js.length)
    val arr = new Array[Long](if (n < 2) 0 else n - 1)
    var idx = 0
    var i = 0
    var prev = -1
    while (i < js.length) {
      val cp = js.codePointAt(i)
      if (prev >= 0) { arr(idx) = prev * 1114112L + cp; idx += 1 }
      prev = cp
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(arr)
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow]()
    var j = 0
    while (j < arr.length) {
      var k = j
      while (k < arr.length && arr(k) == arr(j)) k += 1
      out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](arr(j), (k - j).toLong))
      j = k
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Public handle for the generated path — doGenCode calls back into
    * the SAME compiled loop as the interpreted eval, so results are
    * identical by construction; what changes is that the surrounding
    * projection stays inside whole-stage codegen instead of falling
    * back to an interpreted stage (guide §4).
    */
  def kernelEval(input: AnyRef): ArrayData =
    nullSafeEval(input).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernelEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PackedBigramCounts =
    copy(child = newChild)
}

/** Per-document n-gram-LM scores for EVERY language in one pass: given
  * the sorted (bg, occ) counts of a doc (PackedBigramCounts) and a
  * driver-built term table (bgs sorted ascending; terms(l)(j) = the
  * nano-unit-quantized log term of language l for bgs(j) — the same
  * `round(log((cnt+1)/(tot+4096))·1e9)` longs the join-based scoring
  * summed), returns array<bigint> of length L+1:
  * [s_0 … s_{L−1}, Σocc]. Each s_l = Σ occ·terms(l)(bg) in exact
  * int64 — identical values, partition-order independent, zero
  * shuffle. The term table is O(langs · corpus bigram vocabulary) —
  * the same driver/broadcast bound the pivoted-model join carried.
  * Every doc bigram MUST be in bgs (the model is self-trained on the
  * same corpus); a miss fails fast rather than mis-scoring.
  */
case class LangScores(child: Expression, bgs: Array[Long],
                      terms: Array[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StructType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_scores"
  override lazy val deterministic: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(st: StructType, _)
          if st.length == 2 && st(0).dataType == LongType && st(1).dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<bg bigint, occ bigint>>, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any = {
    val counts = input.asInstanceOf[ArrayData]
    val l = terms.length
    val out = new Array[Long](l + 1)
    var i = 0
    val n = counts.numElements()
    while (i < n) {
      val row = counts.getStruct(i, 2)
      val bg = row.getLong(0)
      val occ = row.getLong(1)
      val j = java.util.Arrays.binarySearch(bgs, bg)
      require(j >= 0,
        s"lang_scores: bigram $bg absent from the model term table " +
          "(the model must be trained on the same corpus)")
      var m = 0
      while (m < l) { out(m) += occ * terms(m)(j); m += 1 }
      out(l) += occ
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Public handle for the generated path — the SAME compiled loop as
    * the interpreted eval (results identical by construction); the
    * surrounding projection stays inside whole-stage codegen instead
    * of falling back to an interpreted stage (guide §4).
    */
  def kernelEval(input: AnyRef): ArrayData =
    nullSafeEval(input).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernelEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)
}

/** Per-row product-quantization code assignment: for each of the M
  * subspaces, the index of the nearest codebook centroid (L2, ties →
  * smallest index — the array_position-of-min rule of the higher-order
  * chain it replaces). The codebook arrives as a driver-side
  * [M][K][subDim] array (the LangScores model-embedding idiom), so one
  * compiled argmin loop per row replaces M·K interpreted
  * zip_with/aggregate lambda evals — the same escalation that took
  * q_emb_knn from 6.5 s to 1.7 s. Distances accumulate left-to-right
  * per element, bit-identical to `aggregate(zip_with(...))`.
  */
case class PqCodes(child: Expression, cb: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override lazy val deterministic: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${t.sql}")
    }
  private val m = cb.length
  private val k = cb(0).length
  private val subDim = cb(0)(0).length

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // dimension mismatch is a data bug — truncating would silently
    // assign codes from a prefix (the knn_topk_keys rule)
    require(v.numElements() == m * subDim,
      s"pq_codes: vector dim ${v.numElements()} != M·subDim = ${m * subDim}")
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val base = mi * subDim
      var best = 0
      var bestD = Double.PositiveInfinity
      var ki = 0
      while (ki < k) {
        val c = cb(mi)(ki)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val t = v.getDouble(base + j) - c(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      out(mi) = best
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }


  /** Public handle for the generated path — the SAME compiled loop as
    * the interpreted eval (results identical by construction); the
    * surrounding projection stays inside whole-stage codegen instead
    * of falling back to an interpreted stage (guide §4).
    */
  def kernelEval(input: AnyRef): ArrayData =
    nullSafeEval(input).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernelEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Per-row centered dense mat-vec: out[i] = Σ_d mat[i][d]·(v[d] − mean[d])
  * — the orthonormal rotation step of the OPQ path (q_emb_opq_ann): the
  * PCA basis rows arrive permuted by the eigenvalue-allocation order, so
  * the output's consecutive subDim-blocks are the variance-balanced OPQ
  * subspaces. The matrix is a driver-side [outDim][dim] model array (the
  * PqCodes idiom); one compiled loop per row replaces outDim interpreted
  * aggregate(zip_with(...)) lambda evals. Rotation + centering preserve
  * L2 distances exactly, so downstream exact re-ranks stay honest.
  */
case class MatVec(child: Expression, mat: Array[Array[Double]],
    mean: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_vec"
  override lazy val deterministic: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${t.sql}")
    }
  private val outDim = mat.length
  private val dim = if (outDim == 0) 0 else mat(0).length

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // dimension mismatch is a data bug — a silent prefix matvec would
    // rotate into garbage (the pq_codes rule)
    require(v.numElements() == dim,
      s"mat_vec: vector dim ${v.numElements()} != matrix dim $dim")
    val centered = new Array[Double](dim)
    var d = 0
    while (d < dim) { centered(d) = v.getDouble(d) - mean(d); d += 1 }
    val out = new Array[Double](outDim)
    var i = 0
    while (i < outDim) {
      val row = mat(i)
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += row(j) * centered(j); j += 1 }
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }


  /** Public handle for the generated path — the SAME compiled loop as
    * the interpreted eval (results identical by construction); the
    * surrounding projection stays inside whole-stage codegen instead
    * of falling back to an interpreted stage (guide §4).
    */
  def kernelEval(input: AnyRef): ArrayData =
    nullSafeEval(input).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernelEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MatVec =
    copy(child = newChild)
}

/** Per-row top-`keep` centroid pick over a bounded model table
  * (`top_cells`): for each row vector, score every centroid — cosine
  * dot(v,cv)/(nrm·cn) when `cosine`, else the left-to-right L2 fold —
  * and return the best `keep` as (cell, score) structs in the rank
  * order of the per-vector window this kernel replaces: (score DESC
  * for cosine / ASC for L2, by java.lang.Double.compare — the SQL
  * double sort order — then cell id ascending, which is the iteration
  * order since the centroid arrays MUST arrive cell-id-ascending).
  * Replaces crossJoin(broadcast(cents)) + row_number window: the
  * O(N·k1) joined rows and the per-vector window shuffle disappear;
  * every score is the identical IEEE fold, so argmax/argmin and
  * rounded readouts are bit-unchanged (oracle-checked downstream).
  */
case class TopCells(vec: Expression, nrm: Expression,
    ids: Array[Long], cvs: Array[Array[Double]], cns: Array[Double],
    keep: Int, cosine: Boolean)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = nrm
  override def prettyName: String = "top_cells"
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = b.asInstanceOf[Double]
    val k = ids.length
    val kk = math.min(keep, k)
    val selIds = new Array[Long](kk)
    val selSc = new Array[Double](kk)
    var filled = 0
    var ci = 0
    while (ci < k) {
      val cv = cvs(ci)
      val len = math.min(v.numElements(), cv.length)
      var sc = 0.0
      if (cosine) {
        var j = 0
        while (j < len) { sc += v.getDouble(j) * cv(j); j += 1 }
        sc = sc / (n * cns(ci))
      } else {
        var j = 0
        while (j < len) { val t = v.getDouble(j) - cv(j); sc += t * t; j += 1 }
      }
      // insertion: move up past entries STRICTLY worse than sc; equal
      // scores keep the earlier (smaller-id) entry ahead
      var pos = filled
      while (pos > 0 && {
        val c = java.lang.Double.compare(selSc(pos - 1), sc)
        if (cosine) c < 0 else c > 0
      }) pos -= 1
      if (pos < kk) {
        var q = math.min(filled, kk - 1)
        while (q > pos) { selIds(q) = selIds(q - 1); selSc(q) = selSc(q - 1); q -= 1 }
        selIds(pos) = ids(ci); selSc(pos) = sc
        if (filled < kk) filled += 1
      }
      ci += 1
    }
    val rows = new Array[Any](filled)
    var i = 0
    while (i < filled) {
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](selIds(i), selSc(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }


  /** Public handle for the generated path — the SAME compiled loop as
    * the interpreted eval (results identical by construction); the
    * surrounding projection stays inside whole-stage codegen instead
    * of falling back to an interpreted stage (guide §4).
    */
  def kernelEval(v: AnyRef, n: Double): ArrayData =
    nullSafeEval(v, n.asInstanceOf[AnyRef]).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, (v, n) => s"${ev.value} = $ref.kernelEval($v, $n);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopCells =
    copy(vec = l, nrm = r)
}

/** Whole-table BPE tokenization in one eval (`bpe_encode`): applies the
  * ENTIRE learned merge table to a symbol array, replacing the
  * one-higher-order-fold-per-merge chain whose expression tree grows
  * linearly in merge count (fine at the registered 10 merges, fatal at
  * a tokenizer-realistic 32k). The merge table arrives as a driver-side
  * rank-ordered model array (the PqCodes idiom), so the plan carries
  * ONE node regardless of merge depth.
  *
  * Semantics are exactly the fold chain's (spec-pinned): merges apply
  * in rank order, each as ONE left-to-right non-overlapping pass (the
  * carry/emit machine — "aaa" under (a,a) → [aa, a]). The kernel skips
  * straight to the next APPLICABLE rank instead of evaluating all B
  * passes: it scans the current adjacent pairs for the minimum table
  * rank STRICTLY ABOVE the last applied rank (a pair formed by a later
  * merge never reaches an earlier pass in the fold, so lower ranks are
  * dead — and a completed pass leaves no occurrence of its own pair
  * behind: the merged symbol l+r is strictly longer than l, so it can
  * never recreate (l, r) across a boundary). Each applied merge
  * shortens the array, so per-word work is O(len² · lookup) —
  * merge-count-INDEPENDENT, the property that makes 32k-deep
  * tokenizers viable. Ranks come from a hash map keyed on the raw
  * symbol pair; absent pairs never merge.
  */
case class BpeEncode(child: Expression, merges: Array[(String, String)])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"
  override lazy val deterministic: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${t.sql}")
    }
  // Rank map is rebuilt per deserialized instance (executor-side), not
  // shipped: keys join the pair on NUL (symbols are NUL-free text).
  // A pair CAN legitimately appear at several ranks (a later merge can
  // recreate an earlier pair's adjacency — e.g. ("ab", c) learned,
  // then ("a", "b") re-exposes it next to c — and the trainer recounts
  // fresh every round), so each key maps to its ASCENDING rank list
  // and lookups take the first rank above the cursor: exactly the fold
  // chain's next applicable pass.
  // escaped, not a literal NUL byte in source: a raw 0x00 is invisible
  // in editors and makes grep treat the file as binary
  private val NulSep = "\u0000"
  @transient private lazy val ranksOf: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < merges.length) {
      m.computeIfAbsent(merges(i)._1 + NulSep + merges(i)._2,
        _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += (i + 1)
      i += 1
    }
    val out = new java.util.HashMap[String, Array[Int]](m.size * 2)
    m.forEach((k, v) => out.put(k, v.toArray)) // buffer order = ascending
    out
  }

  // first rank of `key` strictly above `cursor`, or Int.MaxValue
  private def nextRank(key: String, cursor: Int): Int = {
    val rs = ranksOf.get(key)
    if (rs == null) Int.MaxValue
    else {
      var lo = 0; var hi = rs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (rs(mid) > cursor) hi = mid else lo = mid + 1
      }
      if (lo < rs.length) rs(lo) else Int.MaxValue
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var len = arr.numElements()
    val syms = new Array[String](len)
    var i = 0
    while (i < len) {
      val u = arr.getUTF8String(i)
      // null symbols are a data bug (the split/filter chain never
      // yields them) — fail with the kernel-family message, not an NPE
      require(u != null, "bpe_encode: null symbol element is not supported")
      syms(i) = u.toString; i += 1
    }
    var rCur = 0
    var more = len > 1
    while (more) {
      var best = Int.MaxValue
      var j = 0
      while (j < len - 1) {
        val r = nextRank(syms(j) + NulSep + syms(j + 1), rCur)
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) more = false
      else {
        val l = merges(best - 1)._1
        val rt = merges(best - 1)._2
        val merged = l + rt
        var w = 0
        var rd = 0
        while (rd < len) {
          if (rd < len - 1 && syms(rd) == l && syms(rd + 1) == rt) {
            syms(w) = merged; rd += 2
          } else { syms(w) = syms(rd); rd += 1 }
          w += 1
        }
        len = w
        rCur = best
        if (len <= 1) more = false
      }
    }
    val out = new Array[Any](len)
    var k = 0
    while (k < len) { out(k) = UTF8String.fromString(syms(k)); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }


  /** Public handle for the generated path — the SAME compiled loop as
    * the interpreted eval (results identical by construction); the
    * surrounding projection stays inside whole-stage codegen instead
    * of falling back to an interpreted stage (guide §4).
    */
  def kernelEval(input: AnyRef): ArrayData =
    nullSafeEval(input).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernelEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object VectorExprs {
  def bpeEncode(syms: Column, merges: Array[(String, String)]): Column =
    GraftColumnShim.column(BpeEncode(GraftColumnShim.expression(syms),
      merges.clone))

  def pqCodes(v: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftColumnShim.column(PqCodes(GraftColumnShim.expression(v),
      cb.map(_.map(_.clone))))

  def packedBigramCounts(s: Column): Column =
    GraftColumnShim.column(PackedBigramCounts(GraftColumnShim.expression(s)))

  def langScores(counts: Column, bgs: Array[Long], terms: Array[Array[Long]]): Column =
    GraftColumnShim.column(LangScores(GraftColumnShim.expression(counts), bgs, terms))

  /** [[KnnTopkKeys]] over columns that may be declared nullable (a
    * parquet read declares every column so): each argument is asserted
    * non-null, so a null fails the task with the argument's name
    * instead of reaching the kernel. */
  def knnTopkKeys(corpus: Column, vec: Column, nrm: Column, selfId: Column, k: Int): Column = {
    def nonNull(c: Column, name: String): Expression =
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
        GraftColumnShim.expression(c), Seq(s"knn_topk_keys argument $name"))
    GraftColumnShim.column(KnnTopkKeys(nonNull(corpus, "corpus"), nonNull(vec, "vec"),
      nonNull(nrm, "nrm"), nonNull(selfId, "selfId"), k))
  }

  def dotF64(a: Column, b: Column): Column =
    GraftColumnShim.column(DotProductF64(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  def bitsetIntersectCount(a: Column, b: Column): Column =
    GraftColumnShim.column(BitsetIntersectCount(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  def packedCharBigrams(s: Column): Column =
    GraftColumnShim.column(PackedCharBigrams(GraftColumnShim.expression(s)))

  def wordBigramShingles(s: Column): Column =
    GraftColumnShim.column(WordBigramShingles(GraftColumnShim.expression(s)))

  def winnowFingerprints(s: Column): Column =
    GraftColumnShim.column(WinnowFingerprints(GraftColumnShim.expression(s)))

  def karpRabinHash(s: Column): Column =
    GraftColumnShim.column(KarpRabinHash(GraftColumnShim.expression(s)))

  def minhashSignature(shingles: Column, k: Int = 32): Column =
    GraftColumnShim.column(MinhashSignature(GraftColumnShim.expression(shingles), k))

  def simhash64(s: Column): Column =
    GraftColumnShim.column(SimHash64(GraftColumnShim.expression(s)))

  def simhashPortable(s: Column): Column =
    GraftColumnShim.column(SimHashPortable(GraftColumnShim.expression(s)))

  def hyperplaneSigs(v: Column, seed: Long, tables: Int, bits: Int, dim: Int): Column =
    GraftColumnShim.column(HyperplaneSigs(GraftColumnShim.expression(v), seed, tables, bits, dim))

  def topCells(v: Column, nrm: Column, ids: Array[Long], cvs: Array[Array[Double]],
      cns: Array[Double], keep: Int, cosine: Boolean): Column =
    GraftColumnShim.column(TopCells(GraftColumnShim.expression(v),
      GraftColumnShim.expression(nrm), ids, cvs, cns, keep, cosine))

  def matVec(v: Column, mat: Array[Array[Double]], mean: Array[Double]): Column =
    GraftColumnShim.column(MatVec(GraftColumnShim.expression(v),
      mat.map(_.clone), mean.clone))
}
