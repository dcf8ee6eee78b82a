package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF delta assignment in its batch form: a broadcast crossJoin of the
  * vectors with the quantizer's training centroids, then a rank window
  * per vector keeping the argmin of ‖v‖² + ‖c‖² − 2·v·c with ties to
  * the smallest cell. [[AnnIndex.ivfAssignStream]] is the operator the
  * system runs (the same argmin map-side, stream-legal); this form
  * lives here as the specification it must equal bit for bit, not as a
  * code path.
  */
object IvfAssignReference {

  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val base = Similarity.withNorm(
      df.select(col(idCol).cast("long").as("corpus_id"),
        Similarity.toDoubleVec(col(vecCol)).as("v")), "v")
    val scored = base.crossJoin(broadcast(
        centroids.select(col("c_cell"), col("cv"), col("cn"))))
      .select(col("corpus_id"), col("c_cell"), col("v"), col("__norm"),
        (col("__norm") + col("cn") -
          lit(2.0) * Similarity.dot(col("v"), col("cv"))).as("dist"))
    val w = Window.partitionBy("corpus_id").orderBy(col("dist"), col("c_cell"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("corpus_id"), col("c_cell").as("cell"), col("v"),
        col("__norm").as("nrm"))
  }
}
