package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** The official record must not depend on ambient driver heap: G1 on a
    * 48 GB heap costs `supplier_pagerank` ~3x vs 8 GB (measured, NOTES_r4
    * — old-gen region sizing makes the iterative loop's short-lived
    * allocation pattern pause-bound). Pin the bench JVM: if launched with
    * a far-off heap (e.g. the driver exports SPARK_DRIVER_MEM=48g), run
    * once more in a child JVM with exactly -Xmx8g + G1 and report that.
    */
  private val PinnedHeap = 8L << 30

  private def reexecPinned(args: Array[String]): Int = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java"
    ).getAbsolutePath
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx8g", "-XX:+UseG1GC",
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-Dgraft.bench.pinned=true",
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench") ++ args
    val pb = new ProcessBuilder(cmd: _*).inheritIO()
    pb.start().waitFor()
  }

  def main(args: Array[String]): Unit = {
    val heapPinned = sys.props.get("graft.bench.pinned").contains("true")
    val max = Runtime.getRuntime.maxMemory
    if (!heapPinned && (max > PinnedHeap * 3 / 2 || max < PinnedHeap / 2)) {
      sys.exit(reexecPinned(args))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // n timed sweeps after one warmup sweep: the reported per-query value
    // is the MEDIAN of n, so one GC/scheduler hiccup can't set the record;
    // min/median/max per query land in BENCH_LOCAL.json so jitter claims
    // are checkable from the artifact.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = Session.local()
    // Warmup (untimed): run every query once at the smallest sf so
    // JIT + codegen + parquet-footer caches are hot before any timed
    // measurement — n=1 cold timings are dominated by first-run
    // compilation, not the plan (standard steady-state methodology).
    // optional comma-list subset for local A/B iteration; the driver
    // never sets it, so the official record always covers every query
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => subset.forall(_.contains(n)))
    // Prune-proof action: `.count()` lets the optimizer drop every
    // column no aggregate needs — rank windows (`window_ranks` sat
    // flat at 30x data), final joins (`dsir_weights` benched 0.24 s
    // vs its real ~4 s chain), projection-tail expression work. The
    // noop sink is Spark's canonical bench action: every output
    // column of the unmodified plan is computed and handed to a sink
    // that discards rows, so the timed work is the query's real work.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // A query (or canary) that throws in any run is recorded with the
    // first exception's class as its status, gets no time, and makes
    // Bench exit 1: a failure is never timed as a fast success.
    val failures = collection.mutable.LinkedHashMap.empty[String, String]
    def attempt(name: String)(body: => Unit): Boolean =
      try { body; true }
      catch { case e: Throwable =>
        failures.getOrElseUpdate(name, e.getClass.getName)
        System.err.println(s"[bench] $name failed: $e")
        false
      }
    val warmDir = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory) {
      names.foreach { name =>
        attempt(name)(force(SparkEntry.queries(name)(spark, warmDir)))
        spark.catalog.clearCache()
      }
    }
    // Drift canaries (r8 VERDICT #3): three frozen trivial shapes —
    // never edited, not part of the driver contract — timed once per
    // sweep so any cross-round per-query comparison can normalize by
    // them instead of guessing at box noise (the r8 tail showed
    // UNTOUCHED operators reading 1.3-1.7x slower purely from ambient
    // load). Rule, restated in NOTES: per-query deltas between rounds
    // are read canary-normalized.
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val canaries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "canary_scan" -> ((s, dir) => Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice")),
      "canary_agg" -> ((s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag").agg(fsum("l_quantity").as("q"))),
      "canary_join" -> ((s, dir) => Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").count()))
    canaries.foreach { case (cname, fn) => attempt(cname)(force(fn(spark, warmDir))) }
    val samples = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val canarySamples = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to nRuns) {
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok = attempt(name)(force(fn(spark, sfDir)))
        val dt = (System.nanoTime() - t0) / 1e9
        // operators may persist() self-join inputs; drop them so later
        // queries aren't squeezed by accumulated storage memory, and GC
        // (untimed) so one query's garbage isn't billed to the next
        spark.catalog.clearCache()
        System.gc()
        if (ok) samples(name) = samples(name) :+ dt
      }
      canaries.foreach { case (cname, fn) =>
        val t0 = System.nanoTime()
        if (attempt(cname)(force(fn(spark, sfDir))))
          canarySamples(cname) = canarySamples(cname) :+ (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
      }
    }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2) // n is odd by default; for even n the upper median
    }
    val timed = names.filterNot(failures.contains)
    val med = timed.map(n => n -> median(samples(n)))
    val qs = med.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = med.map(_._2).sum
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // File record additionally carries the full [min, median, max] per
    // query so dispersion survives independent of any stdout capture.
    val triples = timed.map { n =>
      val s = samples(n).sorted
      "\"" + n + "\":[" + r3(s.head) + "," + r3(median(s)) + "," + r3(s.last) + "]"
    }.mkString("{", ",", "}")
    // canaries carry their RAW per-sweep series (sweep order, not
    // sorted): drift within a capture is as diagnostic as drift
    // between captures
    val canaryRuns = canaries.map { case (n, _) =>
      "\"" + n + "\":[" + canarySamples(n).map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val status = (names ++ canaries.map(_._1)).map { n =>
      "\"" + n + "\":\"" + failures.get(n).fold("ok")("error:" + _) + "\""
    }.mkString("{", ",", "}")
    val fileLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_runs":$nRuns,"failed":${failures.size},"queries":$qs,"runs_min_med_max":$triples,"status":$status,"canary_runs_sec":$canaryRuns,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (fileLine + "\n").getBytes("UTF-8"))
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // Full line first, then a short self-contained total line LAST: the
    // driver's bounded tail capture truncated the ~4 kB full line in r3
    // and r4 ("parsed": null) — the compact line always fits any tail.
    println(line)
    // r12 VERDICT #2: the single ~6 kB per-query line exceeded the
    // driver's bounded tail capture two rounds running, so PERF lost
    // the round-over-round comparison (n_common: 0). Re-emit the same
    // per-query map (and the canary series, which otherwise lives only
    // in BENCH_LOCAL.json) as SELF-CONTAINED chunks of ≤ ~1.2 kB each:
    // any bounded tail then retains whole, machine-parseable chunk
    // lines. Additions only — the full line stays first and the
    // compact total line stays LAST (the existing parse contract). Each
    // chunk carries its map under its own key (`queries_<i>`), so a
    // parser that merges the lines into one object keeps every chunk.
    val entries = med.map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val chunks = {
      val bufs = collection.mutable.ArrayBuffer(collection.mutable.ArrayBuffer.empty[String])
      var len = 0
      entries.foreach { e =>
        if (len + e.length > 1100) { bufs += collection.mutable.ArrayBuffer.empty[String]; len = 0 }
        bufs.last += e; len += e.length + 1
      }
      bufs.filter(_.nonEmpty)
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_chunk","i":${i + 1},"of":${chunks.size},"queries_${i + 1}":${c.mkString("{", ",", "}")}}""")
    }
    println(s"""{"metric":"canaries","canary_runs_sec":$canaryRuns}""")
    println(s"""{"metric":"total","value":${r3(total)},"n":${names.size},"failed":${failures.size},"n_runs":$nRuns,"unit":"sec"}""")
    System.out.flush()
    if (failures.nonEmpty) sys.exit(1)
  }
}
