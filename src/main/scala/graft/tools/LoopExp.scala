package graft.tools

import graft.{Session, SparkEntry}

/** Interleaved A/B harness for runtime-knob experiments (dev-side, not
  * part of the driver contract). Sequential whole-process benchmarks
  * proved useless for <2× effects here: container drift between runs
  * reached ±30% on UNTOUCHED queries (r5 notes), swamping any per-knob
  * signal. This harness removes the drift term by alternating arms
  * WITHIN one JVM — per sweep every arm runs back-to-back under the
  * same ambient conditions — and reporting the per-(arm, query) median
  * across sweeps.
  *
  * Usage:
  *   tools/run.sh graft.tools.LoopExp <sfDir> <nSweeps> <q1,q2,...> \
  *     "armName" "armName:prop=v;prop=v" ...
  *
  * An arm spec sets the listed system properties for its runs and
  * restores the previous values afterwards; the empty spec is the
  * code-default arm. The operators have one code path each and read
  * no properties, so an experiment adds its own property read for as
  * long as it runs (e.g. an arm `"wide:exp.batch=16"` against a
  * temporary `sys.props.getOrElse("exp.batch", "8")`), or compares
  * two builds by running the default arm in alternating processes.
  */
object LoopExp {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nSweeps = args(1).toInt
    val queries = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val arms: Seq[(String, Map[String, String])] = args.drop(3).toSeq.map { spec =>
      spec.split(":", 2) match {
        case Array(name) => name -> Map.empty[String, String]
        case Array(name, kvs) => name -> kvs.split(";").filter(_.nonEmpty)
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      }
    }
    val spark = Session.local()

    def withProps[T](props: Map[String, String])(body: => T): T = {
      val saved = props.keys.map(k => k -> sys.props.get(k)).toMap
      props.foreach { case (k, v) => sys.props(k) = v }
      try body
      finally saved.foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None) => sys.props.remove(k)
      }
    }

    def runOne(q: String, dir: String): Double = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets the optimizer prune every
      // column no aggregate needs, so arms that differ only in
      // projection-tail / output-column work would measure as ties
      // (guide §1.4; Bench.force uses the same action)
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      dt
    }

    val warmDir = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
    for ((_, props) <- arms; q <- queries)
      withProps(props) { runOne(q, warmDir) }

    val t = collection.mutable.Map.empty[(String, String), Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (s <- 1 to nSweeps; (arm, props) <- arms; q <- queries)
      withProps(props) { t((arm, q)) = t((arm, q)) :+ runOne(q, sfDir) }

    def med(xs: Vector[Double]) = { val s = xs.sorted; s(s.size / 2) }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    println(f"${"query"}%-22s " + arms.map(a => f"${a._1}%12s").mkString)
    for (q <- queries) {
      val meds = arms.map { case (arm, _) => med(t((arm, q))) }
      println(f"$q%-22s " + meds.map(m => f"${r3(m)}%12.3f").mkString)
    }
    val totals = arms.map { case (arm, _) => queries.map(q => med(t((arm, q)))).sum }
    println(f"${"TOTAL(med)"}%-22s " + totals.map(m => f"${r3(m)}%12.3f").mkString)
    spark.stop()
  }
}
