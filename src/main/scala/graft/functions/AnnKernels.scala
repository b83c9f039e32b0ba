package graft.functions

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftshim.AnsiErrors

/** The ANN hot-path kernels shared by the interpreted eval and the
  * generated code of `VectorExpressions`' `binary_sign_words`,
  * `hamming_words`, `sq_dist`, `nearest_cell`, `nearest_cells` and
  * `adc_sum` (the `FwhtKernel` discipline: both paths call the SAME JVM
  * method, so they are bit-identical by construction; a top-level class
  * because Janino-generated code references it by source name).
  *
  * Contract: each kernel returns exactly what the Spark built-in
  * formulation it replaced returns, for every input — the same
  * left-to-right summation from 0.0, the same SQL ordering of
  * (d², cell) ties (`SQLOrderingUtil.compareDoubles`: NaN sorts last,
  * −0.0 equals 0.0; a null d² sorts first), the same null results and
  * the same ANSI `element_at` failures (`failOnError`). The replaced
  * formulations are spelled out in each method's doc and pinned by
  * `VectorExpressionsSpec`.
  */
class AnnKernels extends Serializable {

  /** `array(Σ_b CASE WHEN element_at(vec, 32w+b+1) > 0.0 THEN 1<<b ELSE 0
    * END, …)`: bit b of word w is set iff coordinate 32w+b is greater
    * than 0.0 under SQL double ordering (so NaN sets it, −0.0 does not).
    * A null vector or null coordinate clears the bit; a vector shorter
    * than `dim` clears the missing bits, or under ANSI fails at the
    * first missing index as `element_at` does.
    */
  def signWords(vec: ArrayData, isFloat: Boolean, dim: Int,
      failOnError: Boolean): ArrayData = {
    val words = new Array[Long]((dim + 31) / 32)
    if (vec != null) {
      val n = vec.numElements()
      if (n < dim && failOnError)
        throw AnsiErrors.elementAtIndex(n + 1, n)
      val top = math.min(n, dim)
      var i = 0
      while (i < top) {
        if (!vec.isNullAt(i)) {
          val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          if (x > 0.0 || java.lang.Double.isNaN(x)) words(i >> 5) |= 1L << (i & 31)
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  /** Whether `zip_with(a, b, f)` folded by `aggregate(…, acc + _)` is
    * non-null: equal lengths (zip_with pads the shorter side with
    * nulls) and no null element on either side.
    */
  def zipDefined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** `aggregate(zip_with(a, b, (x, y) => bit_count(x ^ y)), 0L, _ + _)`
    * for [[zipDefined]] inputs.
    */
  def hamming(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }

  /** `aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), 0.0, _ + _)`
    * for [[zipDefined]] inputs: left to right from 0.0.
    */
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** One centroid entry's (d², cell) key, as the struct
    * `struct(sq_dist(e, c.ce) AS d2, c.cell AS cell)` holds it.
    */
  private final class CellKey {
    var d2Null = false
    var d2 = 0.0
    var cellNull = false
    var cell = 0L

    def load(cents: ArrayData, i: Int, e: ArrayData, nFields: Int,
        cellOrd: Int, ceOrd: Int): Unit = {
      val c = if (cents.isNullAt(i)) null else cents.getStruct(i, nFields)
      cellNull = c == null || c.isNullAt(cellOrd)
      cell = if (cellNull) 0L else c.getLong(cellOrd)
      val ce = if (c == null || c.isNullAt(ceOrd)) null else c.getArray(ceOrd)
      d2Null = e == null || ce == null || !zipDefined(e, ce)
      d2 = if (d2Null) 0.0 else sqDist(e, ce)
    }

    def set(o: CellKey): Unit = {
      d2Null = o.d2Null; d2 = o.d2; cellNull = o.cellNull; cell = o.cell
    }

    /** Spark's ascending struct ordering: nulls first per field, d² by
      * SQL double ordering, then cell.
      */
    def compare(o: CellKey): Int = {
      val byD2 =
        if (d2Null || o.d2Null) java.lang.Boolean.compare(!d2Null, !o.d2Null)
        else SQLOrderingUtil.compareDoubles(d2, o.d2)
      if (byD2 != 0) byD2
      else if (cellNull || o.cellNull) java.lang.Boolean.compare(!cellNull, !o.cellNull)
      else java.lang.Long.compare(cell, o.cell)
    }
  }

  /** `array_min(transform(cents, c => struct(d2, c.cell))).cell`: the
    * first entry with the least (d², cell); null for a null or empty
    * centroid array. A null `e` gives every entry a null d², so the
    * least cell wins, as in the replaced expression.
    */
  def nearestCell(cents: ArrayData, e: ArrayData, nFields: Int,
      cellOrd: Int, ceOrd: Int): java.lang.Long = {
    if (cents == null) return null
    val n = cents.numElements()
    if (n == 0) return null
    val best = new CellKey
    val cur = new CellKey
    best.load(cents, 0, e, nFields, cellOrd, ceOrd)
    var i = 1
    while (i < n) {
      cur.load(cents, i, e, nFields, cellOrd, ceOrd)
      if (cur.compare(best) < 0) best.set(cur)
      i += 1
    }
    if (best.cellNull) null else java.lang.Long.valueOf(best.cell)
  }

  /** `slice(sort_array(transform(cents, c => struct(d2, c.cell))), 1,
    * nProbe)`: the (d2, cell) structs in a stable ascending sort, first
    * `nProbe` kept.
    */
  def nearestCells(cents: ArrayData, e: ArrayData, nProbe: Int,
      nFields: Int, cellOrd: Int, ceOrd: Int): ArrayData = {
    if (cents == null) return null
    if (nProbe < 0)
      throw AnsiErrors.sliceLength(nProbe)
    val n = cents.numElements()
    val keys = Array.tabulate(n) { i =>
      val k = new CellKey
      k.load(cents, i, e, nFields, cellOrd, ceOrd)
      k
    }
    val order = Array.tabulate[Integer](n)(Integer.valueOf)
    // TimSort is stable: equal keys keep their array order, as
    // sort_array's does
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => keys(a).compare(keys(b)))
    val out = new Array[Any](math.min(n, nProbe))
    var r = 0
    while (r < out.length) {
      val k = keys(order(r))
      out(r) = new GenericInternalRow(Array[Any](
        if (k.d2Null) null else k.d2,
        if (k.cellNull) null else k.cell))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** `element_at(arr, index)`'s slot: 0-based position, or −1 when the
    * result is null (null array, null element, or — without ANSI — an
    * index past the end). Index 0 always fails; under ANSI so does an
    * index past the end.
    */
  private def slot(arr: ArrayData, index: Int, failOnError: Boolean): Int = {
    if (arr == null) return -1
    val n = arr.numElements()
    if (n < math.abs(index)) {
      if (failOnError)
        throw AnsiErrors.elementAtIndex(index, n)
      return -1
    }
    if (index == 0) throw AnsiErrors.indexOfZero()
    val i = if (index > 0) index - 1 else n + index
    if (arr.isNullAt(i)) -1 else i
  }

  /** The ADC lookup sum `aggregate(sequence(0, m − 1), 0.0, (acc, s) =>
    * acc + element_at(element_at(dtabs, s + 1),
    * CAST(element_at(codes, s + 1) + 1 AS INT)))`, term by term: the
    * first null term nulls the sum and, as `acc + x` never evaluates
    * `x` once `acc` is null, stops evaluation there.
    */
  def adcSum(dtabs: ArrayData, codes: ArrayData, m: Int,
      failOnError: Boolean): java.lang.Double = {
    var acc = 0.0
    var s = 0
    while (s < m) {
      val t = slot(dtabs, s + 1, failOnError)
      if (t < 0) return null
      val tab = dtabs.getArray(t)
      val c = slot(codes, s + 1, failOnError)
      if (c < 0) return null
      val code = codes.getLong(c)
      val idx =
        if (failOnError) {
          if (code == Long.MaxValue)
            throw AnsiErrors.longAddOverflow()
          val next = code + 1
          if (next.toInt != next)
            throw AnsiErrors.longToIntOverflow(next)
          next.toInt
        } else (code + 1).toInt
      val d = slot(tab, idx, failOnError)
      if (d < 0) return null
      acc += tab.getDouble(d)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

object AnnKernels {
  val instance = new AnnKernels
}
