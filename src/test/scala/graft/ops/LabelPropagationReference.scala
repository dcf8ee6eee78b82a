package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label propagation exactly as the rule states it: every node starts
  * labelled with its own id, and every round, from round 1 on, joins
  * the edges to the previous labels, counts each (node, neighbour
  * label) and keeps the most frequent label, then the smallest. It
  * lives here as the specification that
  * [[Communities.labelPropagation]], whose round 1 is a closed form,
  * must equal, not as a code path.
  */
object LabelPropagationReference {

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, "need at least one propagation round")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val und = e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
      .localCheckpoint(eager = false)
    var labels = und.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to iters) {
      val c = und.join(labels, und("b") === labels("id"))
        .groupBy(und("a").as("n"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      labels = c
        .groupBy(col("n").as("id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("lbl"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("id"), col("lbl").as("community"))
  }
}
