package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native vector kernels for the ANN and dedup hot paths. The composable
  * alternative — `aggregate(zip_with(a, b, _*_), 0, _+_)` — materializes an
  * intermediate array and evaluates two interpreted higher-order lambdas
  * PER CANDIDATE PAIR; these walk the two UnsafeArrayData buffers in one
  * primitive loop, no allocation. Each is one plain method called through
  * [[Kernel]], so whole-stage codegen emits a direct static call to it.
  * Exactness unchanged (same integer / IEEE double op sequence), so oracle
  * hashes are unaffected.
  */
object VectorExpressions {
  private val Longs: DataType = ArrayType(LongType)
  private val Doubles: DataType = ArrayType(DoubleType)

  def longDot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  def longDot(a: Column, b: Column): Column =
    Kernel.column("long_dot", this, "longDot", LongType)(a -> Longs, b -> Longs)

  /** All hyperplane sign bits in ONE pass over the quantized vector. Plane
    * j's weight for 0-based element i is ((i+1)*(j+3)) % 3 - 1 ∈ {-1,0,1}
    * (same formula as [[Ann.NumPlanes]]'s per-plane `zip_with` form and the
    * generated DuckDB oracle SQL — identical integer math, identical bucket
    * values); bit j of the result is set iff the projection is > 0. The
    * composable form re-walked the 64-element array once per plane through
    * two interpreted lambdas each — this walks it once total.
    */
  def hyperplaneBucket(x: ArrayData, planes: Int): Long = {
    val n = x.numElements()
    val acc = new Array[Long](planes)
    var i = 0
    while (i < n) {
      val v = x.getLong(i)
      var j = 0
      while (j < planes) { acc(j) += v * (((i + 1) * (j + 3)) % 3 - 1); j += 1 }
      i += 1
    }
    var b = 0L
    var j = 0
    while (j < planes) { if (acc(j) > 0) b |= 1L << j; j += 1 }
    b
  }

  def hyperplaneBucket(q: Column, planes: Int): Column =
    Kernel.column("hyperplane_bucket", this, "hyperplaneBucket", LongType)(
      q -> Longs, lit(planes) -> IntegerType)

  def doubleDot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  def doubleDot(a: Column, b: Column): Column =
    Kernel.column("double_dot", this, "doubleDot", DoubleType)(a -> Doubles, b -> Doubles)

  /** Order-preserving double -> long key for [[TopKByScore]] over POSITIVE
    * doubles: the IEEE-754 bit pattern of non-negative doubles is
    * order-isomorphic to their numeric order, so ranking by `double_bits`
    * equals ranking by the double itself — which lets grouped top-N over a
    * double measure use the bounded-heap partial aggregate instead of a
    * window sort. Callers must guarantee non-negative input (asserted here:
    * negative input raises, rather than silently mis-ranking). */
  def doubleBits(d: Double): Long = {
    if (d < 0) throw new IllegalArgumentException(s"double_bits requires non-negative input, got $d")
    java.lang.Double.doubleToRawLongBits(d)
  }

  def doubleBits(a: Column): Column =
    Kernel.column("double_bits", this, "doubleBits", LongType)(a -> DoubleType)

  /** |a ∩ b| for two ASCENDING-sorted long arrays with distinct elements —
    * one merge walk, no per-row hash set or intermediate array (the
    * `size(array_intersect(a, b))` composition it replaces allocates both,
    * measured at ~4x the whole verify stage of the q23 prefix-filter plan).
    * Caller contract: both inputs sorted ascending and duplicate-free
    * (the jaccardPairs array build sorts its distinct-by-construction tids).
    */
  def sortedInterCount(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var acc = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { acc += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    acc
  }

  def sortedInterCount(a: Column, b: Column): Column =
    Kernel.column("sorted_inter_count", this, "sortedInterCount", LongType)(a -> Longs, b -> Longs)
}
