package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for dense-vector dot products.
  *
  * Why not built-ins: `aggregate`/`zip_with` higher-order lambdas are
  * interpreted per element (measured 67 s for the 2M-pair cosine scan at
  * sf0.1), and unrolling 64 `element_at` terms bloats the expression
  * tree until planning+codegen dominates (110 s). This expression
  * generates a single primitive `for` loop over the two `ArrayData`
  * buffers — no boxing, no per-element virtual dispatch — and stays
  * inside whole-stage codegen (SURVEY §7 "custom Expression only if
  * bench demands": it did).
  *
  * Null elements inside the arrays are treated as 0-contribution
  * undefined behavior (embeddings are dense); a NULL array yields NULL.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
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
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature in one codegen'd pass: for pre-hashed shingles
  * h_j (array<long>), emits [min_j((2i+1)·(h_j mod P) + i·c mod P) for
  * i < numHashes]. The Column-API fallback (nested `transform`s) is
  * interpreted per element per hash function — 32 lambda passes per
  * row; this is one primitive double loop. Empty input yields an
  * all-P sentinel signature (never collides with real minima < P).
  */
case class MinHashSig(child: Expression, numHashes: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val P = 2038074743L
  private val C = 2654435761L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig requires array<bigint>, got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = Array.fill(numHashes)(P)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val h = ((arr.getLong(j) % P) + P) % P
      var i = 0
      while (i < numHashes) {
        val v = ((2L * i + 1) * h + (i * C) % P) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val buf = ctx.freshName("buf")
      s"""
         |long[] $buf = new long[$numHashes];
         |java.util.Arrays.fill($buf, ${P}L);
         |int $n = $a.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  long $h = (($a.getLong($j) % ${P}L) + ${P}L) % ${P}L;
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $v = ((2L * $i + 1) * $h + ($i * ${C}L) % ${P}L) % ${P}L;
         |    if ($v < $buf[$i]) $buf[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($buf);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Winnowing fingerprint selection in one codegen'd pass: Rabin-Karp
  * POLYNOMIAL ROLLING HASH over the UTF-8 bytes of the (normalized)
  * text — O(1) per position, the "rolling" the fingerprinting
  * literature means — then the window-of-w minimum per position
  * (duplicates kept; callers `array_distinct`). The Column-API form
  * (per-gram md5/xxhash via `transform` lambdas) is interpreted per
  * element — measured to dominate the fingerprint row at sf0.1 — while
  * this is one primitive loop inside whole-stage codegen. Hash domain:
  * byte k-grams mod 2⁶⁴ (natural overflow, base 1000003); any injective
  * hash under any fixed total order satisfies the winnowing guarantee,
  * so this is the PRODUCTION selection — the md5 Column form remains
  * the oracle-portable mode. Inputs shorter than k bytes yield an
  * empty array (the caller filters them anyway); fewer than w grams
  * winnow a single whole-run window.
  */
case class WinnowSig(child: Expression, k: Int, w: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
  private val B = 1000003L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"winnow_sig requires string, got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val n = bytes.length
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val m = n - k + 1
    var bk = 1L
    var i = 0
    while (i < k - 1) { bk *= B; i += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      h = (h - (bytes(i - 1) & 0xffL) * bk) * B + (bytes(i + k - 1) & 0xffL)
      hs(i) = h
      i += 1
    }
    val win = if (m <= w) m else w
    val nw = m - win + 1
    val out = new Array[Long](nw)
    var s = 0
    while (s < nw) {
      var mn = hs(s)
      var j = 1
      while (j < win) { if (hs(s + j) < mn) mn = hs(s + j); j += 1 }
      out(s) = mn
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bts = ctx.freshName("bts")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val bk = ctx.freshName("bk")
      val hs = ctx.freshName("hs")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val win = ctx.freshName("win")
      val nw = ctx.freshName("nw")
      val mn = ctx.freshName("mn")
      val out = ctx.freshName("out")
      s"""
         |byte[] $bts = $a.getBytes();
         |int $n = $bts.length;
         |if ($n < $k) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  int $m = $n - $k + 1;
         |  long $bk = 1L;
         |  for (int $i = 0; $i < $k - 1; $i++) $bk *= ${B}L;
         |  long[] $hs = new long[$m];
         |  long $h = 0L;
         |  for (int $i = 0; $i < $k; $i++) $h = $h * ${B}L + ($bts[$i] & 0xffL);
         |  $hs[0] = $h;
         |  for (int $i = 1; $i < $m; $i++) {
         |    $h = ($h - ($bts[$i - 1] & 0xffL) * $bk) * ${B}L + ($bts[$i + $k - 1] & 0xffL);
         |    $hs[$i] = $h;
         |  }
         |  int $win = ($m <= $w) ? $m : $w;
         |  int $nw = $m - $win + 1;
         |  long[] $out = new long[$nw];
         |  for (int $s = 0; $s < $nw; $s++) {
         |    long $mn = $hs[$s];
         |    for (int $j = 1; $j < $win; $j++) {
         |      if ($hs[$s + $j] < $mn) $mn = $hs[$s + $j];
         |    }
         |    $out[$s] = $mn;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowSig =
    copy(child = newChild)
}

/** Shared banded-Levenshtein kernel: one static entry point used by BOTH
  * the interpreted eval and the generated code of [[LevenshteinBand]], so
  * the two paths cannot diverge (the risk WinnowSig needed a parity spec
  * for). Distance is over Unicode CODEPOINTS — the same unit Spark's
  * built-in `levenshtein` counts — via Ukkonen's band: only cells within
  * `maxDist` of the diagonal are evaluated (O(len·maxDist) primitive int
  * ops), and a row whose band minimum exceeds the threshold exits early.
  * Returns -1 past the threshold, mirroring `levenshtein(l, r, t)`.
  *
  * Why not the built-in: UTF8String.levenshteinDistance re-steps UTF-8
  * byte sequences inside the DP (measured ~1.2 ms for a 290-char pair at
  * threshold 60 — banded no faster than full); decoding to an int[] of
  * codepoints once and running the band over primitive arrays is ~40×
  * cheaper, which turns the edit-distance verify stage from the
  * dominant bench row into noise.
  */
object LevKernel {
  def compute(a: org.apache.spark.unsafe.types.UTF8String,
              b: org.apache.spark.unsafe.types.UTF8String, maxDist: Int): Int = {
    val sa = a.toString.codePoints().toArray
    val sb = b.toString.codePoints().toArray
    // DP rows sized by the shorter string: distance is symmetric and the
    // band over the shorter side is the smaller work area
    val (x, y) = if (sa.length <= sb.length) (sb, sa) else (sa, sb)
    val n = x.length; val m = y.length
    if (n - m > maxDist) return -1
    if (m == 0) return if (n <= maxDist) n else -1
    val INF = Int.MaxValue - 1
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= maxDist) j else INF; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - maxDist)
      val hi = math.min(m, i + maxDist)
      cur(lo - 1) = if (i - (lo - 1) <= maxDist && lo - 1 == 0) i else INF
      var rowMin = cur(lo - 1)
      val xi = x(i - 1)
      j = lo
      while (j <= hi) {
        val del = if (prev(j) == INF) INF else prev(j) + 1
        val ins = if (cur(j - 1) == INF) INF else cur(j - 1) + 1
        val sub = if (prev(j - 1) == INF) INF
                  else prev(j - 1) + (if (xi == y(j - 1)) 0 else 1)
        var v = if (del < ins) del else ins
        if (sub < v) v = sub
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < m) cur(hi + 1) = INF
      if (rowMin > maxDist) return -1
      System.arraycopy(cur, lo - 1, prev, lo - 1, hi - lo + 2 + (if (hi < m) 1 else 0))
      i += 1
    }
    if (prev(m) <= maxDist) prev(m) else -1
  }
}

/** Codegen'd thresholded edit distance — see [[LevKernel]] for the
  * algorithm and the measured case against the built-in. NULL-intolerant
  * like the built-in; `maxDist` is a plan-time literal.
  */
case class LevenshteinBand(left: Expression, right: Expression, maxDist: Int)
  extends BinaryExpression {

  require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == org.apache.spark.sql.types.StringType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lev_band requires string inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lev_band"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LevKernel.compute(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LevKernel.compute($a, $b, $maxDist);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): LevenshteinBand =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column-API access for the vector expressions. */
object VectorFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

  private def entry(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The engine's native SQL functions, one (identifier, info, builder)
    * each — the single table both [[graft.GraftExtensions]] (declarative
    * injection) and [[register]] (imperative, per session) install.
    * Non-column arguments must be int literals: each kernel bakes them
    * into generated code.
    */
  val builders: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("vec_dot", classOf[VecDot])(exprs => VecDot(exprs.head, exprs(1))),
    entry("minhash_sig", classOf[MinHashSig])(exprs => exprs(1) match {
      case Literal(k: Int, _) => MinHashSig(exprs.head, k)
      case other => throw new IllegalArgumentException(
        s"minhash_sig(arr, k): k must be an int literal, got $other")
    }),
    entry("winnow_sig", classOf[WinnowSig])(exprs => (exprs(1), exprs(2)) match {
      case (Literal(k: Int, _), Literal(w: Int, _)) => WinnowSig(exprs.head, k, w)
      case other => throw new IllegalArgumentException(
        s"winnow_sig(text, k, w): k and w must be int literals, got $other")
    }),
    entry("lev_band", classOf[LevenshteinBand])(exprs => exprs(2) match {
      case Literal(t: Int, _) => LevenshteinBand(exprs.head, exprs(1), t)
      case other => throw new IllegalArgumentException(
        s"lev_band(a, b, t): t must be an int literal, got $other")
    }))

  /** Idempotent per-session registration (the analyzer resolves
    * `call_function("vec_dot", ...)` against the session's registry, so
    * every session that runs these plans must register first). Names the
    * registry already holds — injected by [[graft.GraftExtensions]] or
    * registered earlier — are left as they are.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }

  /** Codegen'd dot product of two array<double> columns. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Codegen'd MinHash signature over an array<long> of shingle hashes. */
  def minHashSig(hashes: Column, numHashes: Int): Column =
    call_function("minhash_sig", hashes, org.apache.spark.sql.functions.lit(numHashes))

  /** Codegen'd banded edit distance: `levenshtein(a, b, maxDist)`
    * semantics (-1 past the threshold) at primitive-array speed.
    */
  def levBand(a: Column, b: Column, maxDist: Int): Column =
    call_function("lev_band", a, b, org.apache.spark.sql.functions.lit(maxDist))

  /** Codegen'd winnowing selection (rolling byte-k-gram hash, window-w
    * minima, duplicates kept) over a string column.
    */
  def winnowSig(text: Column, k: Int, w: Int): Column =
    call_function("winnow_sig", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
}
