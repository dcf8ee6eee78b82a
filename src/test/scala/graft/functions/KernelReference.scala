package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.llm.TextHash.{h32, words}

/** The portable higher-order (HOF) forms of the native kernels, built
  * from Spark built-ins only. The operators call the kernels; these
  * forms live here as the specifications the kernel specs compare
  * against bit for bit, not as code paths.
  */
object KernelReference {

  /** `dot_native`: sequential left-fold dot product. NULL when an
    * element is NULL or the lengths differ (zip_with null-pads). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** `plane_buckets`: bit p of group g set iff v·plane_{g,p} > 0, with
    * the planes as one nested-array literal. */
  def planeBuckets(v: Column, planes: Seq[Seq[Seq[Double]]]): Column = {
    val weights = typedLit(Seq.tabulate(planes.head.length)(1L << _))
    transform(typedLit(planes), g =>
      aggregate(
        transform(g, (plane, p) =>
          when(dot(v, plane) > 0, element_at(weights, p + 1)).otherwise(0L)),
        lit(0L), (acc, x) => acc + x))
  }

  /** `simhash_native`: 60 vote folds, one per bit, over the hashes. */
  def simhash(hashes: Column): Column =
    aggregate(
      sequence(lit(0), lit(59)),
      lit(0L),
      (acc, j) => {
        val votes = aggregate(hashes, lit(0L), (a, h) =>
          a + when(call_function("shiftright", h, j.cast("int")).bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L))
        acc + when(votes > 0, call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(0L)
      })

  /** `minhash_sig`: `numPerm` affine permutations `(h·a_j + b_j) mod P`
    * (P the Mersenne prime 2³¹−1) folded to their minima. */
  def minhashSignature(hashesCol: Column, numPerm: Int): Column =
    transform(sequence(lit(0), lit(numPerm - 1)), j =>
      array_min(transform(hashesCol, h =>
        (h * (lit(1L) + j.cast("long") * 7919L) + (lit(1L) + j.cast("long") * 104729L)) %
          2147483647L)))

  /** `wordgram_h32(words(text), n, "", 0, distinct = true)`: distinct
    * hashed word n-grams. The `when` guard matters: `sequence(1, 0)`
    * would descend, not return empty. */
  def gramHashes(text: Column, n: Int): Column =
    element_at(transform(array(words(text)), w => {
      val cnt = size(w) - (n - 1)
      when(cnt <= 0, array().cast("array<bigint>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), cnt),
          i => h32(array_join(slice(w, i, lit(n)), " ")))))
    }), 1)
}
