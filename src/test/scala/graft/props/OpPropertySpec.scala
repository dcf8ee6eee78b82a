package graft.props

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.ops.{Compaction, RangeJoin, Sessions}

/** Property tests for the scale-shape operators: each must equal its
  * brute-force / direct counterpart on arbitrary generated inputs
  * (seed-pinned so failures reproduce).
  */
class OpPropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** (id, ts) rows over a ~2-hour microsecond range — dense enough
    * that tolerance windows hold multiple events.
    */
  private val eventsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 60)
    rows <- Gen.listOfN(n, Gen.choose(0L, 7200L * 1000000L))
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("bucketized range join == brute-force theta join (5 seeds)") {
    import spark.implicits._
    (1L to 5L).foreach { seed =>
      val rows = sample(eventsGen, seed)
      // exact-microsecond timestamps (Timestamp ctor is only ms-grain)
      val exact = rows.toDF("event_id", "us")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      val tol = 600L * 1000000L // 10 min
      val fast = RangeJoin.selfPairs(exact, "event_id", "ts", tol)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val base = exact.select(col("event_id"), unix_micros(col("ts")).as("t"))
      val brute = base.as("a").crossJoin(base.as("b"))
        .filter(col("a.event_id") < col("b.event_id") &&
          abs(col("b.t") - col("a.t")) <= tol)
        .select(col("a.event_id"), col("b.event_id"), col("b.t") - col("a.t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fast === brute, s"seed=$seed")
    }
  }

  /** (user, ts) rows; gap chosen prime-ish so generated integer ts
    * essentially never differ by EXACTLY the threshold (the one case
    * where the two session forms are defined to agree anyway —
    * SessionsSpec pins it — but equality of full outputs needs the
    * generic case).
    */
  private val userEventsGen: Gen[List[(Long, Long, Long)]] = for {
    n <- Gen.choose(2, 80)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 4L)
      t <- Gen.choose(0L, 7200L * 1000000L)
      v <- Gen.choose(1L, 99999L)
    } yield (u, t, v))
  } yield rows

  test("window-form sessions == native session_window sessions (5 seeds)") {
    (1L to 5L).foreach { seed =>
      val rows = sample(userEventsGen, seed)
      import spark.implicits._
      val df = rows.toDF("user_id", "us", "cents")
        .withColumn("ts", expr("timestamp_micros(us)"))
        .withColumn("value", col("cents") / 100.0)
        .drop("us", "cents")
      val gapSec = 601L
      val cols = Seq("user_id", "session_start", "session_end", "n_events",
        "sum_value", "duration_us")
      val a = Sessions.stats(df, "user_id", "ts", "value", gapSec)
        .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      val b = Sessions.statsNative(df, "user_id", "ts", "value", gapSec)
        .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      assert(a === b, s"seed=$seed")
    }
  }

  test("merged latest-state == direct latest-per-key under random splits (5 seeds)") {
    (1L to 5L).foreach { seed =>
      val rows = sample(userEventsGen, seed)
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((u, t, v), i) => (u, t, v, i.toLong) }
        .toDF("k", "us", "v", "uid")
      val parts = Seq(0, 1, 2).map(i => df.filter(pmod(col("uid"), lit(3)) === i))
        .filter(_.count() > 0)
      val merged = Compaction.latestMerge(
          parts.map(p => Compaction.latest(p, Seq("k"), Seq("us", "uid"))),
          Seq("k"), Seq("us", "uid"))
        .collect().map(_.toSeq).toSet
      val direct = Compaction.latest(df, Seq("k"), Seq("us", "uid"))
        .collect().map(_.toSeq).toSet
      assert(merged === direct, s"seed=$seed")
    }
  }

  test("merged incremental stats == direct full aggregate under random splits (5 seeds)") {
    (1L to 5L).foreach { seed =>
      val rows = sample(userEventsGen, seed)
      import spark.implicits._
      val df = rows.toDF("k", "us", "cents")
        .withColumn("value", col("cents") / 100.0)
        .withColumn("dec_value", col("value").cast(DecimalType(20, 4)))
      // random 3-way split keyed off the timestamp column
      val parts = Seq(0, 1, 2).map(i => df.filter(pmod(col("us"), lit(3)) === i))
      val merged = Compaction.finish(Compaction.merge(
          parts.map(p => Compaction.stats(p, Seq("k"), "dec_value", "value")),
          Seq("k")))
        .collect().map(_.toSeq).toSet
      val direct = Compaction.finish(
          Compaction.stats(df, Seq("k"), "dec_value", "value"))
        .collect().map(_.toSeq).toSet
      assert(merged === direct, s"seed=$seed")
    }
  }

  private val valuesGen: Gen[List[Double]] = for {
    n <- Gen.choose(5, 80)
    vs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
  } yield vs

  test("winsorize: row-preserving, idempotent, outputs inside the envelope (5 seeds)") {
    import spark.implicits._
    import graft.ops.Quantiles
    (1L to 5L).foreach { seed =>
      val vs = sample(valuesGen, seed)
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
        .toDF("k", "id", "v")
      val once = Quantiles.winsorize(df, "k", "v", "id", 10, 90)
      assert(once.count() === vs.length.toLong, s"seed=$seed row loss")
      val rows = once.select("v_wins", "lo", "hi").collect()
      assert(rows.forall(r => r.getDouble(0) >= r.getDouble(1) &&
        r.getDouble(0) <= r.getDouble(2)), s"seed=$seed outside envelope")
      // idempotence: clipping the clipped column with the same bounds
      // changes nothing (quantiles of the clipped data can only move
      // inward, and every value already sits inside the fences)
      val twice = Quantiles.winsorize(
        once.select(col("k"), col("id"), col("v_wins").as("v")), "k", "v", "id", 10, 90)
      assert(twice.filter(col("v_wins") =!= col("v")).count() === 0L, s"seed=$seed")
    }
  }

  test("vwap lies within [min, max] price of its group (5 seeds)") {
    import spark.implicits._
    import graft.ops.Indicators
    (1L to 5L).foreach { seed =>
      val vs = sample(valuesGen, seed)
      val df = vs.zipWithIndex.map { case (v, i) =>
        ("g" + (i % 3), math.abs(v), 1.0 + (i % 7)) // price >= 0, qty > 0
      }.toDF("k", "p", "q")
      val bounds = df.groupBy("k")
        .agg(min(col("p")).as("mn"), max(col("p")).as("mx"))
      val out = Indicators.vwap(df, Seq("k"), "p", "q").join(bounds, "k")
      val bad = out.filter(col("vwap") < col("mn") - lit(1e-9) ||
        col("vwap") > col("mx") + lit(1e-9))
      assert(bad.count() === 0L, s"seed=$seed")
    }
  }

  test("pagerank: mass bounded, every node >= teleport floor, reruns bit-identical (3 seeds)") {
    import spark.implicits._
    import graft.ops.PageRank
    (1L to 3L).foreach { seed =>
      val edges = sample(Gen.listOfN(25,
        Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))), seed)
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("s", "d")
        val out = PageRank.ranks(df, "s", "d", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        val n = out.length
        val floor = 15L * (PageRank.FP / n) / 100
        assert(out.forall(_._2 >= floor), s"seed=$seed below teleport floor")
        // truncating integer division only LOSES mass: total <= FP
        assert(out.map(_._2).sum <= PageRank.FP, s"seed=$seed mass created")
        val again = PageRank.ranks(df, "s", "d", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        assert(out.toMap === again.toMap, s"seed=$seed nondeterministic")
      }
    }
  }

  test("asof nearest: |match distance| <= both backward and forward distances (3 seeds)") {
    import spark.implicits._
    import graft.ops.AsOfJoin
    (1L to 3L).foreach { seed =>
      val ts = sample(eventsGen, seed)
      val left = ts.take(10).map { case (i, t) =>
        (1L, new java.sql.Timestamp(t / 1000), i)
      }.toDF("k", "ts", "lid")
      val right = ts.drop(10).map { case (i, t) =>
        (1L, new java.sql.Timestamp(t / 1000), i)
      }.toDF("k", "rts", "rid")
      if (right.count() > 0) {
        def dist(dir: String) = AsOfJoin.directional(left, right, "k", "ts", "rts",
            expr("INTERVAL 2 HOURS"), dir)
          .select(col("lid"),
            abs(unix_micros(col("rts")) - unix_micros(col("ts"))).as("d"))
          .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
          .toMap
        val near = dist("nearest")
        val back = dist("backward")
        val fwd = dist("forward")
        near.foreach { case (lid, nd) =>
          Seq(back(lid), fwd(lid)).flatten.foreach { other =>
            assert(nd.exists(_ <= other), s"seed=$seed lid=$lid nearest $nd > $other")
          }
        }
      }
    }
  }
}
