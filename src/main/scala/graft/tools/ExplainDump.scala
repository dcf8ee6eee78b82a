package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.Session

/** Prints the formatted physical plan of registry queries (plus a few
  * named non-registry operator shapes) — the source for EXPLAIN.md
  * sections. Dev-side only.
  *
  * Usage: tools/run.sh graft.tools.ExplainDump [sfDir] name [name...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val spark = Session.local(4)

    def extras: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "neardup_vs_index" -> (() => {
        val docs = graft.Tables.documents(spark, sfDir)
          .select(col("doc_id").as("id"), col("text"))
        val index = graft.llm.Dedup.bandedIndex(docs, "id", "text",
          numPerm = 32, bands = 8, maxBucket = 64)
        graft.stream.StreamDedup.nearDupMatches(
          docs.withColumn("id", col("id") + 100000L), index,
          "id", "text", numPerm = 32, bands = 8, tau = 0.7)
      })
    )

    names.foreach { name =>
      val df = extras.get(name).map(_.apply()).getOrElse(
        graft.queries.Registry.byName(name).fn(spark, sfDir))
      println(s"===== $name =====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
