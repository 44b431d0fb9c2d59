package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Semantic invariants of the event-series operators, beyond the
  * DuckDB hash compare: EWMA frame semantics at partition starts,
  * LOCF fill completeness, and z-score cut symmetry.
  */
class EventQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  test("q_ewma: a user's first event smooths to exactly its own value") {
    val ewma = EventQueries.ewma.run(spark, dir)
    val firsts = graft.util.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
        .as("event_id"))
    val rows = ewma.join(firsts, Seq("user_id", "event_id"))
      .select(col("value"), col("ewma_r"))
      .as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, e) =>
      assert(e == BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, s"first-event ewma $e != round(value) for value $v")
    }
  }

  test("q_ewma: smoothed value lies within the frame's min/max (convexity)") {
    // Weights are positive and renormalized over present lags, so the
    // EWMA is a convex combination of the last ≤8 values.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-7, 0)
    val frame = graft.util.Tables.events(spark, dir)
      .select(col("event_id"),
        min(col("value")).over(w).as("lo"),
        max(col("value")).over(w).as("hi"))
    val bad = EventQueries.ewma.run(spark, dir)
      .join(frame, Seq("event_id"))
      .filter(col("ewma_r") < col("lo") - 1e-6 ||
        col("ewma_r") > col("hi") + 1e-6)
    assert(bad.count() == 0)
  }

  test("q_gap_fill: fill is complete, first row per user is an observation") {
    val out = EventQueries.gapFill.run(spark, dir).cache()
    try {
      assert(out.filter(col("v_fill").isNull).count() == 0,
        "LOCF left a null after the first observation")
      val firstRows = out.groupBy(col("user_id"))
        .agg(min_by(col("is_gap"), col("h_ms")).as("first_gap"))
        .filter(col("first_gap") =!= 0)
      assert(firstRows.count() == 0, "a user's spine starts on a gap hour")
      // spine density: per user, rows == (h1-h0)/3600000 + 1
      val dense = out.groupBy(col("user_id"))
        .agg(count(lit(1)).as("rows"),
          ((max(col("h_ms")) - min(col("h_ms"))) / 3600000 + 1).as("want"))
        .filter(col("rows") =!= col("want"))
      assert(dense.count() == 0, "hour spine has holes or duplicates")
    } finally out.unpersist()
  }

  test("q_gap_fill: an observed hour carries that hour's own value") {
    val observed = EventQueries.gapFill.run(spark, dir)
      .filter(col("is_gap") === 0)
    val hourly = graft.util.Tables.events(spark, dir)
      .withColumn("h_ms", unix_millis(date_trunc("hour", col("ts"))))
      .groupBy(col("user_id"), col("h_ms"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val mismatched = observed.join(hourly, Seq("user_id", "h_ms"))
      .filter(col("v_fill") =!= col("v"))
    assert(mismatched.count() == 0)
    assert(observed.count() == hourly.count())
  }

  test("q_attribution: every attributed purchase has its view at or before it, within 7 days") {
    val rows = EventQueries.attribution.run(spark, dir)
      .collect().map(r => (r.isNullAt(3), if (r.isNullAt(3)) 0L else r.getLong(3),
        r.getLong(2), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (noView, viewUs, purchaseUs, attributed) =>
      if (attributed == 1L) {
        assert(!noView && viewUs <= purchaseUs)
        assert(purchaseUs - viewUs <= 604800000000L)
      } else {
        assert(noView || purchaseUs - viewUs > 604800000000L)
      }
    }
  }

  test("q_transitions: probabilities are row-stochastic per source state") {
    val sums = EventQueries.transitions.run(spark, dir)
      .groupBy(col("prev_type"))
      .agg(sum(col("p_r")).as("total"))
      .as[(String, Double)].collect()
    assert(sums.length == 5)
    sums.foreach { case (t, p) =>
      assert(math.abs(p - 1.0) < 1e-4, s"$t rows sum to $p")
    }
  }

  test("q_rolling_median: a user's first event is its own median") {
    val firsts = graft.util.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
        .as("event_id"))
    val rows = EventQueries.rollingMedian.run(spark, dir)
      .join(firsts, Seq("user_id", "event_id"))
      .select(col("value"), col("med")).as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, m) => assert(m == v) }
  }

  test("q_outlier_mad: flags are a strict subset of the distribution's far tail") {
    val flagged = EventQueries.outlierMad.run(spark, dir).cache()
    try {
      val scores = flagged.select(col("score_r")).as[Double].collect()
      assert(scores.forall(_ > 3.5))
      val total = graft.util.Tables.events(spark, dir).count()
      assert(scores.length < total / 4, "MAD flagged too much of the stream")
    } finally flagged.unpersist()
  }

  test("q_outlier_mad: census-weighted medians equal the full-multiset percentile") {
    // r21 rewrite: med/mad run over the (event_type, value) census with
    // percentile(col, p, c) instead of buffering every row. Pin the
    // weighted form bit-equal to the raw aggregate on the real fixture —
    // identical multiset, identical interpolation, so == not ≈.
    val ev = graft.util.Tables.events(spark, dir)
    val full = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("m"))
      .as[(String, Double)].collect().toMap
    val census = ev.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D, c)").as("m"))
      .as[(String, Double)].collect().toMap
    assert(census.keySet == full.keySet)
    census.foreach { case (k, m) =>
      assert(m == full(k), s"weighted median $m != raw ${full(k)} for $k")
    }
  }

  test("q_abtest: variant means bracket the global mean; z is finite") {
    val row = EventQueries.abtest.run(spark, dir).collect().head
    val (nA, mA, nB, mB, z) = (row.getLong(0), row.getDouble(1),
      row.getLong(2), row.getDouble(3), row.getDouble(4))
    assert(nA > 0 && nB > 0)
    val global = graft.util.Tables.events(spark, dir)
      .agg(avg(col("value"))).as[Double].collect().head
    assert(math.min(mA, mB) <= global && global <= math.max(mA, mB))
    assert(!z.isNaN && !z.isInfinite)
    // a random hash split of the same distribution shouldn't "win"
    assert(math.abs(z) < 10, s"implausible z $z for an A/A-style split")
  }

  test("q_autocorr: coefficient is a valid correlation in [-1, 1]") {
    val (n, r) = EventQueries.autocorr.run(spark, dir)
      .as[(Long, Double)].collect().head
    assert(n > 100, "hourly series long enough to be meaningful")
    assert(r >= -1.0 && r <= 1.0)
  }

  test("q_changepoint: matches an independent sequential CUSUM scan") {
    // Fold the hourly series single-threaded with the same integer
    // scaling (H·Sₖ − k·total) and the same tie-break (max |cusum|,
    // then earliest hour) — the distributed window must land on the
    // identical argmax row.
    val hourly = graft.util.Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("h"))
      .as[(java.sql.Timestamp, Long)].collect()
    assert(hourly.length > 100, "hourly series long enough to be meaningful")
    val total = hourly.map(_._2).sum
    val hours = hourly.length.toLong
    var s = 0L
    val scored = hourly.zipWithIndex.map { case ((_, n), i) =>
      s += n
      (i + 1L, hours * s - (i + 1L) * total)
    }
    val expect = scored.minBy { case (k, c) => (-math.abs(c), k) }
    val got = EventQueries.changepoint.run(spark, dir)
      .select(col("k"), col("cusum_scaled"))
      .as[(Long, Long)].collect().head
    assert(got === expect, "distributed CUSUM argmax diverged from replica")
  }

  test("q_anomaly: every flagged row is beyond 2 sigma and flags are rare") {
    // The value distribution is bounded below (≥0), so only the upper
    // tail can clear 2σ — don't assert a left tail that can't exist.
    val out = EventQueries.anomaly.run(spark, dir)
      .select(col("z_r")).as[Double].collect()
    assert(out.nonEmpty)
    assert(out.forall(z => math.abs(z) > 2.0))
    val total = graft.util.Tables.events(spark, dir).count()
    assert(out.length < total / 10, "more than 10% of events flagged")
  }

  test("q_seq_pairs matches an independent exists-join over raw events") {
    // The span reduction (min(a) < max(b)) is an OPTIMIZATION of the
    // definitional semantics "some a-event strictly before some
    // b-event of the same user". Replay the definition directly as a
    // raw-event pair join + distinct users and demand identical
    // support counts — two algorithms, one answer.
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val raw = ev.as("x").join(ev.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.event_type") =!= col("y.event_type") &&
        col("x.ts") < col("y.ts"))
      .select(col("x.event_type").as("a"), col("y.event_type").as("b"),
        col("x.user_id").as("u"))
      .distinct()
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_users"))
      .as[(String, String, Long)].collect().toSet
    val got = EventQueries.seqPairs.run(spark, dir)
      .as[(String, String, Long)].collect().toSet
    assert(got === raw, "span-reduced support diverged from definition")
  }

  test("q_interval_union matches brute-force distinct-second coverage") {
    // The sweep-line construction is an optimization of "how many
    // distinct seconds fall inside at least one activity window".
    // Replay that definition literally — explode every interval into
    // its seconds, count distinct per user — and demand equality.
    val brute = graft.util.Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("t0"))
      .distinct()
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t0") + 299L)).as("sec"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("sec")).as("covered_sec"))
      .as[(Long, Long)].collect().toMap
    val got = EventQueries.intervalUnion.run(spark, dir)
      .select(col("user_id"), col("covered_sec"))
      .as[(Long, Long)].collect().toMap
    assert(got === brute, "island length sum diverged from definition")
  }

  test("q_backtest: n_scored covers all but the first day of hours") {
    val (nScored, wape, bias) = EventQueries.backtest.run(spark, dir)
      .as[(Long, Double, Double)].collect().head
    val nHours = graft.util.Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(nScored === nHours - 24, "every hour past the seasonal lag scores")
    assert(wape >= 0.0, "WAPE is a ratio of nonnegative sums")
    assert(math.abs(bias) <= wape + 1e-12,
      "|signed bias| can never exceed the absolute-error mass")
  }

  test("q_stickiness: window nesting and ratio bounds hold on every day") {
    import spark.implicits._
    val rows = WindowQueries.stickiness.run(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, dau, wau, mau, dw, dm) =>
      assert(dau >= 1 && dau <= wau && wau <= mau,
        s"$d: trailing windows must nest (dau=$dau wau=$wau mau=$mau)")
      assert(dw > 0.0 && dw <= 1.0 && dm > 0.0 && dm <= dw + 1e-12,
        s"$d: DAU/MAU can never exceed DAU/WAU")
    }
    val first = rows.minBy(_._1)
    assert(first._2 === first._3 && first._3 === first._4,
      "the corpus's first day has no history — all three windows equal")
  }
}
