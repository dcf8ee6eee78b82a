package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout key: `Layout.zValue` is the Morton interleave, and
  * clustering by it keeps a 2-d box inside few range partitions.
  */
class LayoutSpec extends SparkSpec {

  test("zValue: known Morton answers and bijectivity on the grid") {
    import spark.implicits._
    val grid = (for (x <- 0 until 8; y <- 0 until 8) yield (x, y)).toDF("x", "y")
    val z = grid.withColumn("z", Layout.zValue(Seq(col("x"), col("y")), 3))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // classic Morton: x interleaves into odd bits, y into even
    assert(z((0, 0)) === 0L)
    assert(z((0, 1)) === 1L)
    assert(z((1, 0)) === 2L)
    assert(z((1, 1)) === 3L)
    assert(z((2, 3)) === 13L)
    assert(z((7, 7)) === 63L)
    // bijective on the 8x8 grid
    assert(z.values.toSet === (0L until 64L).toSet)
  }

  test("z-order clustering touches fewer partitions than single-column sort on a 2-d box") {
    import spark.implicits._
    // 32x32 grid; box = the [0,8) x [0,8) corner (1/16 of the space)
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x, y)).toDF("x", "y")
    def touched(clusterKey: org.apache.spark.sql.Column): Long = {
      grid.withColumn("k", clusterKey)
        .repartitionByRange(16, col("k"))
        // capture the partition id BEFORE filtering — the
        // non-deterministic projection stops Catalyst pushing the box
        // predicate below the repartition (which would re-range only
        // the matching rows and defeat the measurement)
        .withColumn("pid", spark_partition_id())
        .filter(col("x") < 8 && col("y") < 8)
        .select("pid").distinct().count()
    }
    val zTouched = touched(Layout.zValue(Seq(col("x"), col("y")), 5))
    val xTouched = touched(col("x") * 32 + col("y")) // lexicographic (x, y)
    info(s"partitions touched: zorder=$zTouched lexicographic=$xTouched")
    // the box is one contiguous z-range but spreads across the x-range
    assert(zTouched < xTouched)
    assert(zTouched <= 2)
  }
}
