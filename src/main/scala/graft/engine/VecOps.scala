package graft.engine

import org.apache.spark.sql.catalyst.util.ArrayData

/** Static vector kernels called from generated code: by
  * Expressions.VecDotExpr / VecCosineExpr, and by the `StaticInvoke`s of
  * the vector rows of GraftFunctions.functions and of the IVF, PQ and
  * dedup operators (GraftFunctions.kernel), which pass centroid matrices
  * and codebooks as plan-embedded constants. Operate directly on
  * ArrayData — for UnsafeArrayData this reads doubles straight out of the
  * row buffer, no boxing, no copy.
  *
  * Accumulation is strictly left-to-right so results are bit-identical to
  * the HOF `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)`
  * chain these kernels replace (and to DuckDB's list_dot_product on the
  * oracle side).
  */
object VecOps {

  /** PRECONDITION: equal lengths — the owning expressions return NULL for
    * ragged pairs before calling in (matching the HOF chain, where
    * zip_with null-pads and the aggregate yields NULL), so a corrupt
    * embedding row surfaces as null, never as a plausible partial dot.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val d = dot(a, b)
    val na = math.sqrt(dot(a, a))
    val nb = math.sqrt(dot(b, b))
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }

  /** Cosine over ARRAY<FLOAT> ArrayData, reading floats in place — the
    * exact accumulation order of AnnLsh.cosine (fused dot/na/nb loop,
    * min-length, float→double widening per element), so the native
    * call reproduces AnnLsh.cosine bit-for-bit without
    * the per-row array<float>→array<double> Cast allocation.
    */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine DISTANCE from a primitive centroid row to an ArrayData vector —
    * the exact operation order of IvfIndex.cosineDist, so native assignment
    * reproduces the boxed UDF's clusters bit-for-bit.
    */
  def cosineDistCent(cent: Array[Double], v: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(cent.length, v.numElements())
    while (i < n) {
      val a = cent(i); val b = v.getDouble(i)
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Index of the nearest centroid (first minimum on ties — same as the
    * UDF's minBy).
    */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = cosineDistCent(cents(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cosine distance where BOTH sides are ArrayData — the per-element
    * arithmetic and operation order of cosineDistCent (dot/na/nb fused,
    * min-length, zero-norm → 1.0), so two-level assignment agrees exactly
    * with what flat assignment would compute on the same centroid values.
    */
  def cosineDistAD(cent: ArrayData, v: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(cent.numElements(), v.numElements())
    while (i < n) {
      val a = cent.getDouble(i); val b = v.getDouble(i)
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Argmin over a COLUMN-carried codebook (array<array<double>>) — the
    * fine level of the two-level IVF quantizer, where the centroid matrix
    * arrives via a join instead of riding in the serialized plan (the
    * flat path's ceiling). First minimum on ties, like nearestCentroid.
    */
  def nearestInCodebook(v: ArrayData, cents: ArrayData): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    val k = cents.numElements()
    while (c < k) {
      val d = cosineDistAD(cents.getArray(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The n nearest centroid indices, distance asc with index tie-break —
    * same ordering as Model.nearest's stable sortBy.
    */
  def nearestCentroids(v: ArrayData, cents: Array[Array[Double]], n: Int): ArrayData = {
    val dists = Array.tabulate(cents.length)(c => cosineDistCent(cents(c), v))
    val idx = dists.indices.sortBy(i => (dists(i), i)).take(n).toArray
    ArrayData.toArrayData(idx)
  }

  /** PQ training assignment: the nearest code of subvector `sv` in the
    * `sub`-th codebook. */
  def pqAssign(books: Array[Array[Array[Double]]], sub: Int, sv: ArrayData): Int =
    nearestSubCode(books(sub), sv)

  /** Nearest code in one PQ subspace codebook by L2² — the exact loop of
    * the boxed assignment UDF it replaces (first minimum on ties).
    */
  def nearestSubCode(cb: Array[Array[Double]], sv: ArrayData): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      val row = cb(c)
      var d = 0.0; var i = 0
      while (i < row.length) {
        val x = sv.getDouble(i) - row(i); d += x * x; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** L2-normalized primitive copy — the arithmetic of
    * ProductQuantizer.l2normalize (zero vector → zeros).
    */
  def l2normalize(v: ArrayData): Array[Double] = {
    val n = v.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = v.getDouble(i) * inv; i += 1 }
    out
  }

  def l2normalized(v: ArrayData): ArrayData = ArrayData.toArrayData(l2normalize(v))

  /** PQ-encode a full vector: nearest code per dsub-wide subvector by L2²
    * (first-min ties) — PQModel.encodeOne without the Seq boxing.
    */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Double]]], dsub: Int,
               normalize: Boolean): ArrayData =
    ArrayData.toArrayData(pqEncodeArr(
      if (normalize) l2normalize(v) else v.toDoubleArray(), books, dsub))

  private def pqEncodeArr(nv: Array[Double], books: Array[Array[Array[Double]]],
                          dsub: Int): Array[Int] = {
    val m = books.length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = books(s); val off = s * dsub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val row = cb(c)
        var d = 0.0; var i = 0
        while (i < row.length) { val x = nv(off + i) - row(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  /** ADC score: Σ_sub table(sub)(code) — the boxed per-row lookup loop. */
  def adcDist(table: Array[Array[Double]], codes: ArrayData): Double = {
    var d = 0.0; var s = 0
    val n = codes.numElements()
    while (s < n) { d += table(s)(codes.getInt(s)); s += 1 }
    d
  }

  /** ADC score against a plan-embedded per-query table map. */
  def adcLookup(tables: scala.collection.immutable.Map[Long, Array[Array[Double]]],
                key: Long, codes: ArrayData): Double =
    adcDist(tables(key), codes)

  /** Residual of the normalized vector against its nearest cell's unit
    * centroid: l2normalize(v) − unitCents(argmin cosineDist) — the exact
    * composition of IvfPq's residual UDFs (nearest on the NORMALIZED
    * vector, like Model.nearest there).
    */
  def ivfResidual(v: ArrayData, cents: Array[Array[Double]],
                  unitCents: Array[Array[Double]]): ArrayData = {
    val nv = l2normalize(v)
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = cosineDistArr(cents(c), nv)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    val ch = unitCents(best)
    val out = new Array[Double](nv.length)
    var i = 0
    while (i < nv.length) { out(i) = nv(i) - ch(i); i += 1 }
    ArrayData.toArrayData(out)
  }

  /** cosineDistCent over a primitive vector (same op order). */
  private def cosineDistArr(cent: Array[Double], v: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(cent.length, v.length)
    while (i < n) {
      val a = cent(i); val b = v(i)
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Combined IVFADC index row: (cluster, residual PQ codes) in one pass —
    * the nearest-cell argmin runs once for both outputs.
    */
  def ivfResidualEncode(v: ArrayData, cents: Array[Array[Double]],
      unitCents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      dsub: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nv = l2normalize(v)
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = cosineDistArr(cents(c), nv)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    val ch = unitCents(best)
    val r = new Array[Double](nv.length)
    var i = 0
    while (i < nv.length) { r(i) = nv(i) - ch(i); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best, ArrayData.toArrayData(pqEncodeArr(r, books, dsub))))
  }
}

/** Static sorted-set kernels for the exact-dedup verify joins
  * (Expressions.SortedIntersectCountExpr). PRECONDITION: both arrays are
  * DISTINCT and SORTED ASCENDING (binary UTF8 order for strings, signed
  * order for longs — exactly what array_sort over array_distinct output
  * produces) with no null elements. A single merge walk then counts the
  * intersection in O(|a|+|b|): no per-row hash set, no boxing, and no
  * intersected-array allocation (`size(array_intersect(a, b))` builds the
  * whole result array just to take its length).
  */
object SetOps {

  def intersectCountUtf8(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  def intersectCountLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Static bitset kernels for the plan-embedded Bloom filter
  * (Dedup.bloomDedup). The filter is a fixed Array[Long] —
  * m/64 words regardless of corpus size — so it rides in the serialized
  * plan like the ANN codebooks.
  */
object BitsetOps {

  /** True iff every position in `ps` has its bit set (the Bloom
    * "maybe present" test; any clear bit proves absence).
    */
  def allSet(words: Array[Long], ps: ArrayData): Boolean = {
    val n = ps.numElements()
    var i = 0
    while (i < n) {
      val p = ps.getInt(i)
      if ((words(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }
}
