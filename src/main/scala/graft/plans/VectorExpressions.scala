package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ArrayDoubleBinaryExpression, ArrayDoubleUnaryExpression, Bridge}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the ANN/dedup hot path: dot product
  * of two array<double> columns without materializing the intermediate
  * array that zip_with + aggregate would allocate per row. Generated
  * code is a tight primitive loop inside whole-stage codegen.
  *
  * Declares array<double> input types (via ImplicitCastInputTypes), so
  * SQL-registered calls get analysis-time coercion — array<float> is
  * cast, strings fail analysis — instead of reading garbage at
  * runtime. A NULL element in either array, or a length mismatch,
  * nulls the result — matching the zip_with + aggregate SQL this
  * replaces (zip_with pads the shorter array with NULLs), so a
  * truncated embedding surfaces as NULL instead of a plausible
  * partial-sum score.
  */
case class DotProduct(left: Expression, right: Expression)
    extends ArrayDoubleBinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native L2-normalize for array<double> columns — replaces the
  * `transform(a, x -> x / sqrt(aggregate(zip_with(a, a, *), ...)))`
  * higher-order-function tree, which Spark evaluates INTERPRETED with
  * per-element copies and re-evaluates the norm subtree per element
  * (measured ~100× slower for comparable per-row loops, SURVEY.md §5).
  * Sits in the scan path of every ANN operator and the embedding
  * dedup, so it must stay inside whole-stage codegen.
  *
  * Floating-point contract matches the HOF chain it replaces (and the
  * DuckDB oracle): sum of squares accumulated in element order, one
  * sqrt, then per-element division by the norm — bit-identical
  * results. A NULL element nulls the whole result (the HOF version
  * produced an array of NULLs; all-or-nothing is the saner contract
  * and the oracle tables carry no NULL elements). A zero vector yields
  * IEEE NaNs, same as the division it replaces.
  */
case class L2Normalize(child: Expression) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_normalize"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      out(i) = x
      s += x * x
      i += 1
    }
    val norm = java.lang.Math.sqrt(s)
    i = 0
    while (i < n) { out(i) = out(i) / norm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val vals = ctx.freshName("vals")
      val norm = ctx.freshName("norm")
      s"""
         |int $n = $a.numElements();
         |double[] $vals = new double[$n];
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $a.getDouble($i);
         |  $vals[$i] = $x;
         |  $s += $x * $x;
         |}
         |if (!${ev.isNull}) {
         |  double $norm = java.lang.Math.sqrt($s);
         |  for (int $i = 0; $i < $n; $i++) { $vals[$i] = $vals[$i] / $norm; }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($vals);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native nearest-centroid assignment — the N×K ANN/dedup build pass
  * (SURVEY's named residual ANN cost), previously a per-row ScalaUDF
  * with Seq boxing and catalyst↔scala conversion per vector. The
  * codebook travels as a FLAT primitive double[] (K·dim,
  * row-major) reference object into generated code; the row vector is
  * copied once to a local double[] and scanned K times — a tight
  * two-level primitive loop inside whole-stage codegen, no allocation
  * beyond the one local copy.
  *
  * BIT-EXACT contract with the ScalaUDF it replaces (oracle replays
  * are pinned on it, spec-asserted at every graded SF): dots
  * accumulate in element order, `s > bestDot` with first-index
  * tie-break (IEEE >, so a NaN dot never wins and ±0.0 ties keep the
  * earlier index). Vectors shorter than `dim` dot over their own
  * length (the UDF's loop bound); a NULL element nulls the result
  * (the corpus never carries one — same all-or-nothing rule as
  * [[DotProduct]]).
  */
case class NearestCentroid(child: Expression, centroids: Array[Double],
    dim: Int) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_nearest"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = if (n < dim) n else dim
    val v = new Array[Double](m)
    var i = 0
    while (i < m) {
      if (a.isNullAt(i)) return null
      v(i) = a.getDouble(i)
      i += 1
    }
    val k = centroids.length / dim
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0
      val off = c * dim
      i = 0
      while (i < m) { s += v(i) * centroids(off + i); i += 1 }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("graftCentroids", centroids, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val bestDot = ctx.freshName("bestDot")
      val k = centroids.length / dim
      s"""
         |int $n = $a.numElements();
         |int $m = $n < $dim ? $n : $dim;
         |double[] $v = new double[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $v[$i] = $a.getDouble($i);
         |}
         |int $best = 0;
         |if (!${ev.isNull}) {
         |  double $bestDot = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $s = 0.0;
         |    int $off = $c * $dim;
         |    for (int $i = 0; $i < $m; $i++) { $s += $v[$i] * $cs[$off + $i]; }
         |    if ($s > $bestDot) { $bestDot = $s; $best = $c; }
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native nProbe-nearest-centroid list — [[NearestCentroid]]'s probe
  * sibling, replacing the query-side ScalaUDF that sorted a boxed
  * (−dot, index) tuple Seq per row. Selection replays the UDF's
  * `sorted.take(nProbe)` ordering EXACTLY — the (neg, idx)
  * lexicographic total order under java.lang.Double.compare (so
  * −0.0/0.0 and NaN order as the tuple sort did, index ascending on
  * ties) — via a bounded worst-at-root heap + heap-sort extraction:
  * O(K log nProbe) per row (round 12; the previous repeated-minimum
  * scan was O(K·nProbe) — ~2×10⁹ ops/row at the two-level
  * quantizer's 2^18-list ceiling with nProbe = K/32, measured 605×
  * slower there, SURVEY.md round-12 probe). Allocation: two nProbe-sized
  * primitive arrays per row, spec-pinned identical output against
  * the UDF at K up to 512 with dense ties (VectorAssignSpec).
  */
case class ProbeCentroids(child: Expression, centroids: Array[Double],
    dim: Int, nProbe: Int) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_probes"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = if (n < dim) n else dim
    val v = new Array[Double](m)
    var i = 0
    while (i < m) {
      if (a.isNullAt(i)) return null
      v(i) = a.getDouble(i)
      i += 1
    }
    val k = centroids.length / dim
    val neg = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      val off = c * dim
      i = 0
      while (i < m) { s += v(i) * centroids(off + i); i += 1 }
      neg(c) = -s
      c += 1
    }
    val take = if (nProbe < k) nProbe else k
    // nProbe = 0 (take = 0) selects nothing: return the empty list the
    // pre-heap repeated scan returned, instead of reading slot 0 of
    // zero-length heap arrays (round-12 advice — unreachable from the
    // drivers, which size nProbe >= 1, but a silent contract tightening)
    if (take <= 0)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(new Array[Int](0))
    // Bounded worst-at-root heap over the (neg, idx) total order
    // (round-12, SURVEY gap #2): O(K log nProbe) selection instead of
    // the O(K·nProbe) repeated scan — at the 2^18-list ceiling with
    // nProbe ~ K/32 that scan was ~2×10⁹ ops per query row. Same
    // selection and same OUTPUT ORDER as the scan, ties to the lower
    // index, via exactly Double.compare (spec-pinned against the UDF).
    val hNeg = new Array[Double](take)
    val hIdx = new Array[Int](take)
    // a candidate is WORSE than heap slot j iff (neg, idx) compares
    // greater lexicographically
    def worse(n1: Double, i1: Int, n2: Double, i2: Int): Boolean = {
      val cmp = java.lang.Double.compare(n1, n2)
      cmp > 0 || (cmp == 0 && i1 > i2)
    }
    def siftDown(root: Int, size: Int): Unit = {
      var p = root
      var done = false
      while (!done) {
        val l = 2 * p + 1
        val r = l + 1
        var w = p
        if (l < size && worse(hNeg(l), hIdx(l), hNeg(w), hIdx(w))) w = l
        if (r < size && worse(hNeg(r), hIdx(r), hNeg(w), hIdx(w))) w = r
        if (w == p) done = true
        else {
          val tn = hNeg(p); val ti = hIdx(p)
          hNeg(p) = hNeg(w); hIdx(p) = hIdx(w)
          hNeg(w) = tn; hIdx(w) = ti
          p = w
        }
      }
    }
    c = 0
    while (c < take) { hNeg(c) = neg(c); hIdx(c) = c; c += 1 }
    var h = take / 2 - 1
    while (h >= 0) { siftDown(h, take); h -= 1 }
    c = take
    while (c < k) {
      if (worse(hNeg(0), hIdx(0), neg(c), c)) { // candidate beats the worst kept
        hNeg(0) = neg(c); hIdx(0) = c
        siftDown(0, take)
      }
      c += 1
    }
    // heap-sort: pop the worst to the back → out ascending by (neg, idx)
    val out = new Array[Int](take)
    var size = take
    while (size > 0) {
      out(size - 1) = hIdx(0)
      size -= 1
      hNeg(0) = hNeg(size); hIdx(0) = hIdx(size)
      siftDown(0, size)
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("graftCentroids", centroids, "double[]")
    // the worst-at-root sift shared by build, stream, and sort phases
    // — same (neg, idx) total order as the interpreted eval
    val sift = ctx.freshName("graftProbeSift")
    val siftFull = ctx.addNewFunction(sift,
      s"""
         |private void $sift(double[] hNeg, int[] hIdx, int root, int size) {
         |  int p = root;
         |  while (true) {
         |    int l = 2 * p + 1;
         |    int r = l + 1;
         |    int w = p;
         |    int cl, cr;
         |    if (l < size && ((cl = java.lang.Double.compare(hNeg[l], hNeg[w])) > 0 ||
         |        (cl == 0 && hIdx[l] > hIdx[w]))) w = l;
         |    if (r < size && ((cr = java.lang.Double.compare(hNeg[r], hNeg[w])) > 0 ||
         |        (cr == 0 && hIdx[r] > hIdx[w]))) w = r;
         |    if (w == p) return;
         |    double tn = hNeg[p]; int ti = hIdx[p];
         |    hNeg[p] = hNeg[w]; hIdx[p] = hIdx[w];
         |    hNeg[w] = tn; hIdx[w] = ti;
         |    p = w;
         |  }
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val neg = ctx.freshName("neg")
      val out = ctx.freshName("out")
      val hNeg = ctx.freshName("hNeg")
      val hIdx = ctx.freshName("hIdx")
      val sz = ctx.freshName("sz")
      val cmp = ctx.freshName("cmp")
      val k = centroids.length / dim
      val take = if (nProbe < k) nProbe else k
      // take is a plan-time constant: a zero-probe expression compiles
      // to the empty-list literal outright (same guard as the
      // interpreted eval — no zero-length heap reads)
      if (take <= 0) s"""
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(new int[0]);
       """.stripMargin
      else s"""
         |int $n = $a.numElements();
         |int $m = $n < $dim ? $n : $dim;
         |double[] $v = new double[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $v[$i] = $a.getDouble($i);
         |}
         |if (!${ev.isNull}) {
         |  double[] $neg = new double[$k];
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $s = 0.0;
         |    int $off = $c * $dim;
         |    for (int $i = 0; $i < $m; $i++) { $s += $v[$i] * $cs[$off + $i]; }
         |    $neg[$c] = -$s;
         |  }
         |  // bounded worst-at-root heap: O(K log nProbe) selection,
         |  // same output order as the interpreted eval (spec-pinned)
         |  double[] $hNeg = new double[$take];
         |  int[] $hIdx = new int[$take];
         |  for (int $c = 0; $c < $take; $c++) { $hNeg[$c] = $neg[$c]; $hIdx[$c] = $c; }
         |  for (int $c = $take / 2 - 1; $c >= 0; $c--) $siftFull($hNeg, $hIdx, $c, $take);
         |  for (int $c = $take; $c < $k; $c++) {
         |    int $cmp = java.lang.Double.compare($hNeg[0], $neg[$c]);
         |    if ($cmp > 0 || ($cmp == 0 && $hIdx[0] > $c)) {
         |      $hNeg[0] = $neg[$c]; $hIdx[0] = $c;
         |      $siftFull($hNeg, $hIdx, 0, $take);
         |    }
         |  }
         |  int[] $out = new int[$take];
         |  for (int $sz = $take; $sz > 0; ) {
         |    $out[$sz - 1] = $hIdx[0];
         |    $sz--;
         |    $hNeg[0] = $hNeg[$sz]; $hIdx[0] = $hIdx[$sz];
         |    $siftFull($hNeg, $hIdx, 0, $sz);
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** In-cell nearest sub-centroid — the second level of the two-level
  * coarse quantizer (round-11): `books` holds k1·k2 sub-centroids
  * row-major by (cell, sub); a row assigned to coarse cell c scans
  * ONLY its cell's k2 sub-books, so the full assignment costs
  * N·(k1 + k2) dots instead of N·(k1·k2) — the factorization that
  * lifts the list count past the flat cap without the flat cost.
  * Same dot/tie contract as [[NearestCentroid]] (element order,
  * strict >, first index wins). A cell id outside [0, k1) nulls the
  * result (it cannot occur from a composed assignment; conservative
  * over garbage).
  */
case class NearestInCell(left: Expression, right: Expression,
    books: Array[Double], dim: Int, k2: Int)
    extends org.apache.spark.sql.graftbridge.ArrayDoubleIntBinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_nearest_in_cell"

  override protected def nullSafeEval(input: Any, cellAny: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val cell = cellAny.asInstanceOf[Int]
    // Long arithmetic: a garbage cell id near Int.MaxValue must not
    // overflow the bound check and slip past the guard (round-11
    // advice); unreachable from the composed assignment (cell < k1)
    // but the conservative-over-garbage contract holds regardless.
    if (cell < 0 || (cell.toLong + 1L) * k2 * dim > books.length) return null
    val n = a.numElements()
    val m = if (n < dim) n else dim
    val v = new Array[Double](m)
    var i = 0
    while (i < m) {
      if (a.isNullAt(i)) return null
      v(i) = a.getDouble(i)
      i += 1
    }
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < k2) {
      var s = 0.0
      val off = (cell * k2 + c) * dim
      i = 0
      while (i < m) { s += v(i) * books(off + i); i += 1 }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("graftSubBooks", books, "double[]")
    nullSafeCodeGen(ctx, ev, (a, cell) => {
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val bestDot = ctx.freshName("bestDot")
      s"""
         |int $best = 0;
         |if ($cell < 0 || ((long) $cell + 1L) * $k2 * $dim > ${books.length}L) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  int $m = $n < $dim ? $n : $dim;
         |  double[] $v = new double[$m];
         |  for (int $i = 0; $i < $m; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $v[$i] = $a.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    double $bestDot = Double.NEGATIVE_INFINITY;
         |    for (int $c = 0; $c < $k2; $c++) {
         |      double $s = 0.0;
         |      int $off = ($cell * $k2 + $c) * $dim;
         |      for (int $i = 0; $i < $m; $i++) { $s += $v[$i] * $bk[$off + $i]; }
         |      if ($s > $bestDot) { $bestDot = $s; $best = $c; }
         |    }
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native PQ coding — the per-row nearest-codeword ids over every
  * subspace (the N-row pass of every PQ build/query/index). Books
  * travel flat row-major by (subspace m, codeword c): slice
  * [(m·ksub + c)·sub, +sub). BIT-EXACT with the ScalaUDF it replaces
  * (the oracle replays the codes): per codeword, cc and x·c
  * accumulate in element order, distance is cc − 2·x·c, strict <
  * with first-index tie-break. A NULL element or a vector shorter
  * than nSub·sub nulls the result (the UDF threw there; no corpus
  * row can hit it — all vectors are fixed-dim).
  */
case class PqCodes(child: Expression, books: Array[Double],
    nSub: Int, ksub: Int, sub: Int) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_pq_codes"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n < nSub * sub) return null
    val v = new Array[Double](nSub * sub)
    var i = 0
    while (i < nSub * sub) {
      if (a.isNullAt(i)) return null
      v(i) = a.getDouble(i)
      i += 1
    }
    val out = new Array[Int](nSub)
    var m = 0
    while (m < nSub) {
      var best = 0
      var bestd = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val off = (m * ksub + c) * sub
        var cc = 0.0
        var xc = 0.0
        i = 0
        while (i < sub) {
          val b = books(off + i)
          cc += b * b
          xc += v(m * sub + i) * b
          i += 1
        }
        val d = cc - 2.0 * xc
        if (d < bestd) { bestd = d; best = c }
        c += 1
      }
      out(m) = best
      m += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("graftPqBooks", books, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      val best = ctx.freshName("best")
      val bestd = ctx.freshName("bestd")
      val cc = ctx.freshName("cc")
      val xc = ctx.freshName("xc")
      val b = ctx.freshName("b")
      val d = ctx.freshName("d")
      val off = ctx.freshName("off")
      val total = nSub * sub
      s"""
         |int $n = $a.numElements();
         |if ($n < $total) { ${ev.isNull} = true; }
         |double[] $v = new double[$total];
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $total; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $v[$i] = $a.getDouble($i);
         |  }
         |}
         |if (!${ev.isNull}) {
         |  int[] $out = new int[$nSub];
         |  for (int $m = 0; $m < $nSub; $m++) {
         |    int $best = 0;
         |    double $bestd = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      int $off = ($m * $ksub + $c) * $sub;
         |      double $cc = 0.0;
         |      double $xc = 0.0;
         |      for (int $i = 0; $i < $sub; $i++) {
         |        double $b = $bk[$off + $i];
         |        $cc += $b * $b;
         |        $xc += $v[$m * $sub + $i] * $b;
         |      }
         |      double $d = $cc - 2.0 * $xc;
         |      if ($d < $bestd) { $bestd = $d; $best = $c; }
         |    }
         |    $out[$m] = $best;
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native ADC score — Σ_m (q_subᵐ · codebook[m][codeᵐ]), each
  * subspace's partial summed FIRST and then added to the total: the
  * exact floating-point summation tree the ScalaUDF and the DuckDB
  * oracle use (one running sum would differ by ulps and could flip
  * candidates at the nCand boundary). Runs on every probed-list
  * candidate row — the PQ family's scan-side hot loop. A code
  * outside [0, ksub) or a NULL element nulls the result.
  */
case class PqScore(left: Expression, right: Expression,
    books: Array[Double], nSub: Int, ksub: Int, sub: Int)
    extends org.apache.spark.sql.graftbridge.ArrayIntArrayDoubleBinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_pq_score"

  override protected def nullSafeEval(codesAny: Any, qvAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val qv = qvAny.asInstanceOf[ArrayData]
    val mCount = codes.numElements()
    if (mCount > nSub || qv.numElements() < mCount * sub) return null
    var s = 0.0
    var m = 0
    while (m < mCount) {
      if (codes.isNullAt(m)) return null
      val c = codes.getInt(m)
      if (c < 0 || c >= ksub) return null
      val off = (m * ksub + c) * sub
      var pm = 0.0
      var i = 0
      while (i < sub) {
        if (qv.isNullAt(m * sub + i)) return null
        pm += qv.getDouble(m * sub + i) * books(off + i)
        i += 1
      }
      s += pm
      m += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("graftPqBooks", books, "double[]")
    nullSafeCodeGen(ctx, ev, (codes, qv) => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val mc = ctx.freshName("mc")
      val s = ctx.freshName("s")
      val pm = ctx.freshName("pm")
      val off = ctx.freshName("off")
      s"""
         |int $mc = $codes.numElements();
         |double $s = 0.0;
         |if ($mc > $nSub || $qv.numElements() < $mc * $sub) { ${ev.isNull} = true; }
         |else {
         |  for (int $m = 0; $m < $mc; $m++) {
         |    if ($codes.isNullAt($m)) { ${ev.isNull} = true; break; }
         |    int $c = $codes.getInt($m);
         |    if ($c < 0 || $c >= $ksub) { ${ev.isNull} = true; break; }
         |    int $off = ($m * $ksub + $c) * $sub;
         |    double $pm = 0.0;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      if ($qv.isNullAt($m * $sub + $i)) { ${ev.isNull} = true; break; }
         |      $pm += $qv.getDouble($m * $sub + $i) * $bk[$off + $i];
         |    }
         |    if (${ev.isNull}) break;
         |    $s += $pm;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native multi-table SRP bucket ids — the LSH bucketing pass over
  * every corpus row (ann_lsh, embeddingDups): nTables·bits
  * hyperplane projections per vector, each table's sign bits packed
  * into one long. Planes travel flat row-major by (global plane
  * index t·bits+b, dim) — the SAME deterministic splitmix planes the
  * ScalaUDF builds per executor, precomputed once on the driver.
  * BIT-EXACT for fixed-dim vectors (projections accumulate in
  * element order, `proj >= 0` sets the bit); a vector whose length
  * differs from the plane dim nulls the result (the UDF would build
  * DIFFERENT planes for that length — no corpus row has one).
  */
case class SrpBuckets(child: Expression, planes: Array[Double],
    nTables: Int, bits: Int, dim: Int) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_srp_buckets"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != dim) return null
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      v(i) = a.getDouble(i)
      i += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var proj = 0.0
        i = 0
        while (i < dim) { proj += v(i) * planes(off + i); i += 1 }
        if (proj >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("graftSrpPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      val bucket = ctx.freshName("bucket")
      val proj = ctx.freshName("proj")
      val off = ctx.freshName("off")
      s"""
         |int $n = $a.numElements();
         |if ($n != $dim) { ${ev.isNull} = true; }
         |double[] $v = new double[$dim];
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $v[$i] = $a.getDouble($i);
         |  }
         |}
         |if (!${ev.isNull}) {
         |  long[] $out = new long[$nTables];
         |  for (int $t = 0; $t < $nTables; $t++) {
         |    long $bucket = 0L;
         |    for (int $b = 0; $b < $bits; $b++) {
         |      int $off = ($t * $bits + $b) * $dim;
         |      double $proj = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) { $proj += $v[$i] * $pl[$off + $i]; }
         |      if ($proj >= 0) $bucket |= (1L << $b);
         |    }
         |    $out[$t] = $bucket;
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign bit per dimension packed into one 64-bit word — the native
  * twin of Ann.signBitsUdf (round-12: the last two per-row UDF
  * families in the vector hot path move into whole-stage codegen;
  * this one sits in every binary-ANN build, append, and query pass).
  * Contract pinned bit-for-bit by VectorAssignSpec: bit i set iff
  * element i > 0, dimensions beyond 64 ignored, shorter vectors pack
  * what they have. A NULL element nulls the result (conservative —
  * the UDF would have thrown; corpus vectors carry no NULLs).
  */
case class SignBits(child: Expression) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_sign_bits"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = if (n < 64) n else 64
    var w = 0L
    var i = 0
    while (i < m) {
      if (a.isNullAt(i)) return null
      if (a.getDouble(i) > 0) w |= (1L << i)
      i += 1
    }
    w
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val w = ctx.freshName("w")
      s"""
         |int $n = $a.numElements();
         |int $m = $n < 64 ? $n : 64;
         |long $w = 0L;
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  if ($a.getDouble($i) > 0) $w |= (1L << $i);
         |}
         |${ev.value} = $w;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The int8 symmetric-quantization SCALE: 127 / max(|v_i|, 1e-30) —
  * one max pass, the exact op chain of Ann.quantizeUdf's scale half
  * (Math.max/Math.abs fold in element order). Shares its input pass
  * with [[Int8Codes]]; the two stay separate expressions (no struct
  * construction in the hot loop) and the re-scan of a ≤64-element
  * array is noise next to the UDF boxing they remove.
  */
case class Int8Scale(child: Expression) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_int8_scale"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      mx = java.lang.Math.max(mx, java.lang.Math.abs(a.getDouble(i)))
      i += 1
    }
    127.0 / java.lang.Math.max(mx, 1e-30)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val mx = ctx.freshName("mx")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $mx = Math.max($mx, Math.abs($a.getDouble($i)));
         |}
         |${ev.value} = 127.0 / Math.max($mx, 1e-30);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The int8 quantized CODES as packed bytes: component i is
  * floor(v_i * scale + 0.5) narrowed to byte — floor(x + 0.5), not a
  * library round, so the DuckDB oracle's replay stays bit-identical
  * (library rounds differ on negative halves), and the double→byte
  * narrowing is the same round-toward-zero saturating chain in Java
  * and Scala. Scale recomputed internally with [[Int8Scale]]'s exact
  * fold — the two expressions agree by construction.
  */
case class Int8Codes(child: Expression) extends ArrayDoubleUnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_int8_codes"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      mx = java.lang.Math.max(mx, java.lang.Math.abs(a.getDouble(i)))
      i += 1
    }
    val s = 127.0 / java.lang.Math.max(mx, 1e-30)
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = java.lang.Math.floor(a.getDouble(i) * s + 0.5).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val mx = ctx.freshName("mx")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $mx = Math.max($mx, Math.abs($a.getDouble($i)));
         |}
         |byte[] $out = new byte[$n];
         |if (!${ev.isNull}) {
         |  double $s = 127.0 / Math.max($mx, 1e-30);
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (byte) Math.floor($a.getDouble($i) * $s + 0.5);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The RAW int8 dot: exact integer product sum of two packed byte
  * arrays accumulated in a long (≤ 127²·dim, nowhere near overflow —
  * candidate scores stay order-independent by construction). The
  * caller divides by the two scales in plain column arithmetic, which
  * reproduces Ann.quantDotUdf's `acc.toDouble / (sa * sb)` exactly.
  * A length mismatch nulls (the UDF would have walked off the shorter
  * side; equal dims by construction).
  */
case class Int8Dot(left: Expression, right: Expression)
    extends org.apache.spark.sql.graftbridge.BinaryBinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_int8_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) return null
    var acc = 0L
    var i = 0
    while (i < x.length) { acc += x(i).toLong * y(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |long $acc = 0L;
         |if ($a.length != $b.length) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    $acc += ((long) $a[$i]) * $b[$i];
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native intersection of two SORTED-ASCENDING, duplicate-free
  * array<long> columns — the triangle counting hot path (r14, guide
  * §1.2 "per-task work"): `array_intersect` builds a hash set PER CALL
  * (allocation + hashing per element per edge row — the profiled
  * dominant stage of graph_triangles, ~17 s of CPU at sf0.1 across
  * 1.2M edge rows), while a linear merge over two sorted primitive
  * arrays is a branchy long-compare loop with ONE output allocation.
  * The caller sorts each adjacency list ONCE at build (N·deg·log deg
  * total) and every edge row's intersection then costs |nu| + |nv|
  * compares — same asymptotics, ~10× less constant work, and the
  * intersection of sorted duplicate-free inputs is the same SET
  * array_intersect produced (order within the result differs — sorted
  * here, first-array order there — which the consumers, size() and
  * explode() into a re-aggregation, cannot observe).
  *
  * Contract: inputs MUST be sorted ascending with distinct elements —
  * the output is garbage otherwise (no runtime check; the two call
  * sites build via sort_array(collect_list) over deduped edges).
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends org.apache.spark.sql.graftbridge.ArrayLongBinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_sorted_intersect"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n1 = x.numElements()
    val n2 = y.numElements()
    val out = new Array[Long](math.min(n1, n2))
    var i = 0; var j = 0; var k = 0
    while (i < n1 && j < n2) {
      val u = x.getLong(i)
      val v = y.getLong(j)
      if (u < v) i += 1
      else if (u > v) j += 1
      else { out(k) = u; k += 1; i += 1; j += 1 }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |int $n1 = $a.numElements();
         |int $n2 = $b.numElements();
         |long[] $out = new long[$n1 < $n2 ? $n1 : $n2];
         |int $i = 0, $j = 0, $k = 0;
         |while ($i < $n1 && $j < $n2) {
         |  long $u = $a.getLong($i);
         |  long $v = $b.getLong($j);
         |  if ($u < $v) { $i++; }
         |  else if ($u > $v) { $j++; }
         |  else { $out[$k++] = $u; $i++; $j++; }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray(java.util.Arrays.copyOf($out, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  /** Column API for [[DotProduct]]; inputs are cast to array<double>. */
  def dotNative(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** Column API for [[L2Normalize]]; input is cast to array<double>. */
  def normalizeNative(a: Column): Column =
    Bridge.column(L2Normalize(Bridge.expression(a.cast("array<double>"))))

  /** Column API for [[SortedIntersect]]; inputs must be sorted
    * ascending and duplicate-free (see the expression contract).
    */
  def sortedIntersectNative(a: Column, b: Column): Column =
    Bridge.column(SortedIntersect(
      Bridge.expression(a.cast("array<long>")),
      Bridge.expression(b.cast("array<long>"))))

  private def flat(cs: Array[Array[Double]]): (Array[Double], Int) = {
    val dim = cs(0).length
    val f = new Array[Double](cs.length * dim)
    var c = 0
    while (c < cs.length) {
      System.arraycopy(cs(c), 0, f, c * dim, dim)
      c += 1
    }
    (f, dim)
  }

  /** Column API for [[NearestCentroid]] over a per-row array<double>. */
  def nearestNative(a: Column, cs: Array[Array[Double]]): Column = {
    val (f, dim) = flat(cs)
    Bridge.column(NearestCentroid(
      Bridge.expression(a.cast("array<double>")), f, dim))
  }

  /** Column API for [[ProbeCentroids]] over a per-row array<double>. */
  def probesNative(a: Column, cs: Array[Array[Double]], nProbe: Int): Column = {
    val (f, dim) = flat(cs)
    Bridge.column(ProbeCentroids(
      Bridge.expression(a.cast("array<double>")), f, dim, nProbe))
  }

  /** Column API for [[NearestInCell]]: the sub-index of the nearest
    * sub-centroid within `cell`'s slice of the flat `books`.
    */
  def nearestInCellNative(a: Column, cell: Column, books: Array[Double],
      dim: Int, k2: Int): Column =
    Bridge.column(NearestInCell(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(cell.cast("int")), books, dim, k2))

  private def flatPq(books: Array[Array[Array[Double]]]): (Array[Double], Int, Int, Int) = {
    val nSub = books.length
    val ksub = books(0).length
    val sub = books(0)(0).length
    val f = new Array[Double](nSub * ksub * sub)
    for (m <- 0 until nSub; c <- 0 until ksub)
      System.arraycopy(books(m)(c), 0, f, (m * ksub + c) * sub, sub)
    (f, nSub, ksub, sub)
  }

  /** Column API for [[PqCodes]] over a per-row array<double>. */
  def pqCodesNative(a: Column, books: Array[Array[Array[Double]]]): Column = {
    val (f, nSub, ksub, sub) = flatPq(books)
    Bridge.column(PqCodes(
      Bridge.expression(a.cast("array<double>")), f, nSub, ksub, sub))
  }

  /** Column API for [[PqScore]] over (codes, query vector) columns. */
  def pqScoreNative(codes: Column, qv: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val (f, nSub, ksub, sub) = flatPq(books)
    Bridge.column(PqScore(
      Bridge.expression(codes.cast("array<int>")),
      Bridge.expression(qv.cast("array<double>")), f, nSub, ksub, sub))
  }

  /** Column API for [[SrpBuckets]] with precomputed flat planes. */
  def srpBucketsNative(a: Column, planes: Array[Double],
      nTables: Int, bits: Int, dim: Int): Column =
    Bridge.column(SrpBuckets(
      Bridge.expression(a.cast("array<double>")), planes, nTables, bits, dim))

  /** Column API for [[SignBits]]. */
  def signBitsNative(a: Column): Column =
    Bridge.column(SignBits(Bridge.expression(a.cast("array<double>"))))

  /** Column API for [[Int8Scale]]. */
  def int8ScaleNative(a: Column): Column =
    Bridge.column(Int8Scale(Bridge.expression(a.cast("array<double>"))))

  /** Column API for [[Int8Codes]]. */
  def int8CodesNative(a: Column): Column =
    Bridge.column(Int8Codes(Bridge.expression(a.cast("array<double>"))))

  /** Column API for [[Int8Dot]] (the raw long sum; divide by the two
    * scales in column arithmetic).
    */
  def int8DotNative(a: Column, b: Column): Column =
    Bridge.column(Int8Dot(Bridge.expression(a), Bridge.expression(b)))
}
