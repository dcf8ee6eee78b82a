package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, LongType}

/** Dense model arrays as UNSAFE array literals — the encoding that
  * makes dense serving flat in B all the way to 1M buckets.
  *
  * The r11 ceiling sweep (NOTES_r11 / SCALE_DECADES_r11) found the
  * dense NB scorer growing 0.28 → 2.34 s from B=16k to 1M even though
  * `element_at` on an array literal is O(1): the cost was not lookup
  * but literal SERIALIZATION — `typedlit(IndexedSeq[Long])` wraps a
  * boxed object graph (GenericArrayData over java.lang.Long) that the
  * JavaSerializer walks into the taskBinary on EVERY action. The
  * isolation A/B (same records, 1000-row corpus so per-row work is
  * negligible): boxed 0.19/0.18/0.45/2.32 s at B=16k/64k/256k/1M vs
  * the same values as one [[UnsafeArrayData]] over the primitive
  * array — 0.22/0.11/0.12/0.18 s, FLAT. UnsafeArrayData is a single
  * flat byte region, so serialization is a memcpy and the
  * executor-side `getLong(i)` is the same O(1) offset read.
  *
  * Same bit-for-bit values, same plan shape (one Literal node), same
  * stream-legality — only the wire encoding changes; the dense
  * serving specs pin equality against the map-literal reference
  * unchanged. With this encoding the dense forms have NO soft
  * ceiling below driver memory (8·B bytes for the values array).
  */
object DenseLit {

  /** `array<long not null>` literal over a primitive long array. */
  def longs(a: Array[Long]): Column =
    GraftSqlShim.column(Literal(
      UnsafeArrayData.fromPrimitiveArray(a),
      ArrayType(LongType, containsNull = false)))

  /** `array<boolean not null>` literal over a primitive boolean array. */
  def booleans(a: Array[Boolean]): Column =
    GraftSqlShim.column(Literal(
      UnsafeArrayData.fromPrimitiveArray(a),
      ArrayType(BooleanType, containsNull = false)))

  /** `array<double not null>` literal over a primitive double array —
    * the flat encoding for STRUCT-SHAPED model constants (PQ codebooks
    * m×codes×sub, IVF centroids k×dim): pack row-major into one
    * primitive array and index with O(1) offset arithmetic instead of
    * nesting `typedlit(Seq[Seq[Double]])` (boxed object graph, the same
    * heap-hostile curve the r11 16M probe OOMed on — production cells
    * grow as √N, so the nested widths won't stay small). Values are
    * bit-identical; only the wire encoding and the lookup arithmetic
    * change (specs pin equality per consumer).
    */
  def doubles(a: Array[Double]): Column =
    GraftSqlShim.column(Literal(
      UnsafeArrayData.fromPrimitiveArray(a),
      ArrayType(DoubleType, containsNull = false)))
}
