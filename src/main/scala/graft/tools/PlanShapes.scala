package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

import graft.Session

/** Plan-shape ledger (r11 verdict #6 — drift_check's PLAN-level twin):
  * dumps, per registry query, the structural facts the flagship
  * PlanSpec assertions cover only for a handful of queries — Exchange
  * counts, join strategy mix, scan count + pushed-filter count,
  * whole-stage codegen spans — as one committed JSON
  * (`PLAN_SHAPES_r{N}.json`). A Spark upgrade or refactor that inserts
  * an Exchange, downgrades a broadcast join to sort-merge, or loses a
  * pushed filter ANYWHERE in the registry then surfaces as a
  * `tools/plan_drift.py` diff against the previous round's ledger,
  * instead of as an unexplained bench blip.
  *
  * Method: plans are BUILT, not executed (structure, not timing), on
  * a fixed-config session with AQE OFF — the static planner's view is
  * deterministic and comparable round-over-round, while an
  * un-executed adaptive plan is just a wrapper whose final shape
  * depends on runtime stats. Queries whose construction itself runs
  * jobs (model training, stream replay) still run those; sf0.001
  * keeps that cheap. Broadcast-vs-shuffle choices can legitimately
  * differ at other scale factors — the ledger pins ONE observation
  * point and watches it move.
  *
  * Pushed filters are recorded as a total and per scanned relation
  * (`pushed_by_relation`: the relation's file or directory name → the
  * pushed-filter count of each of its scans), so `plan_drift.py` can
  * tell a scan that lost a filter from a scan that is only reused.
  *
  * Usage: tools/run.sh graft.tools.PlanShapes [sfDir] [outJson] [names...]
  */
object PlanShapes {

  final case class Shape(shuffles: Int, broadcasts: Int,
                         joins: Map[String, Int], aggregates: Int,
                         windows: Int, sorts: Int, scans: Int,
                         pushedByRelation: Map[String, Seq[Int]],
                         wholeStage: Int) {
    def pushedFilters: Int = pushedByRelation.values.flatten.sum

    def json: String = {
      val js = joins.toSeq.sorted
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val pr = pushedByRelation.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${Json.esc(k)}":${v.sorted.mkString("[", ",", "]")}""" }
        .mkString("{", ",", "}")
      s"""{"shuffles":$shuffles,"broadcasts":$broadcasts,"joins":$js,""" +
        s""""aggregates":$aggregates,"windows":$windows,"sorts":$sorts,""" +
        s""""scans":$scans,"pushed_filters":$pushedFilters,""" +
        s""""pushed_by_relation":$pr,"wholestage_spans":$wholeStage}"""
    }
  }

  /** Number of filters in a scan's `PushedFilters` metadata string,
    * e.g. `[IsNotNull(event_type), EqualTo(event_type,purchase)]` → 2:
    * the commas outside every parenthesis and inner bracket, plus one
    * unless the list is empty.
    */
  def pushedFilterCount(pushed: String): Int = {
    val body = pushed.trim.stripPrefix("[").stripSuffix("]")
    if (body.trim.isEmpty) 0
    else {
      var depth = 0
      var commas = 0
      body.foreach {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => commas += 1
        case _ =>
      }
      commas + 1
    }
  }

  def shapeOf(plan: SparkPlan): Shape = {
    val nodes = plan.collect { case p => p }
    def cnt(names: String*): Int =
      nodes.count(n => names.contains(n.getClass.getSimpleName))
    val joinNames = Seq("BroadcastHashJoinExec", "SortMergeJoinExec",
      "ShuffledHashJoinExec", "BroadcastNestedLoopJoinExec",
      "CartesianProductExec")
    val joins = joinNames.map(j => j -> cnt(j)).filter(_._2 > 0).toMap
    val pushed = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).sorted.mkString(",") ->
        s.metadata.get("PushedFilters").map(pushedFilterCount).getOrElse(0)
    }.groupMap(_._1)(_._2)
    Shape(
      shuffles = cnt("ShuffleExchangeExec"),
      broadcasts = cnt("BroadcastExchangeExec"),
      joins = joins,
      aggregates = cnt("HashAggregateExec", "ObjectHashAggregateExec",
        "SortAggregateExec"),
      windows = cnt("WindowExec", "WindowGroupLimitExec"),
      sorts = cnt("SortExec"),
      scans = cnt("FileSourceScanExec", "BatchScanExec"),
      pushedByRelation = pushed,
      wholeStage = cnt("WholeStageCodegenExec"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outJson = args.lift(1).getOrElse("PLAN_SHAPES.json")
    val only = args.drop(2).flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty).toSet
    val spark = Session.local(32)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val qs = graft.queries.Registry.all
      .filter(q => only.isEmpty || only(q.name))
    val rows = qs.map { q =>
      val entry =
        try {
          val sh = shapeOf(q.fn(spark, sfDir).queryExecution.executedPlan)
          sh.json
        } catch {
          case e: Exception =>
            s"""{"err":"${Json.esc(e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).take(120))}"}"""
        }
      println(s"${q.name} $entry")
      s""" "${q.name}":$entry"""
    }
    val doc = s"""{"sf":"${Json.esc(sfDir)}","aqe":false,""" +
      s""""queries":{\n${rows.mkString(",\n")}\n}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (doc + "\n").getBytes("UTF-8"))
    println(s"wrote $outJson (${qs.size} queries)")
    spark.stop()
  }
}
