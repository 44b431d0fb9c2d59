package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.VectorMean

/** Non-oracle analytics behavior: the HLL sketch (engine-specific
  * estimates, excluded from the DuckDB compare by design — SURVEY §7.3)
  * and the typed Aggregator extension point.
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  test("approx_count_distinct lands within 5% of exact at 10k distinct keys") {
    val df = spark.range(10000).select((col("id") % 7).as("g"), col("id"))
    val rows = df.groupBy("g")
      .agg(
        countDistinct(col("id")).as("exact"),
        approx_count_distinct(col("id"), 0.02).as("approx"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (_, exact, approx) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.05,
        s"approx=$approx exact=$exact")
    }
  }

  test("sketch accuracy holds at the 40x ScaleSmoke scale (HLL rsd + GK rank error)") {
    // r08 verdict #7: the rsd-0.02 HLL and the 1/10000-rank-error GK
    // percentile sketch were asserted at sf0.1 only, where the inputs
    // are small enough that the sketches barely compress. Rebuild the
    // 40x ScaleSmoke lineitem (2.4M rows, same hash formulas) plus the
    // l_returnflag column the smoke corpus omits, and hold the SAME
    // bounds where the sketch error is actually exercised: ~30k
    // distinct parts and ~800k values per flag group.
    val dir = java.nio.file.Files.createTempDirectory("sketch40").toString
    spark.range(2400000).select(
      pmod(hash(col("id") * 7 + 1), lit(30000)).cast("long").as("l_partkey"),
      (pmod(hash(col("id") * 43 + 19), lit(9000000)) / lit(100.0) + lit(900.0))
        .as("l_extendedprice"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        pmod(hash(col("id") + 3), lit(3)) + 1).as("l_returnflag"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // HLL at rsd 0.02: each flag's approx distinct within 3 sigma (6%)
    val exactNd = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd"))
      .as[(String, Long)].collect().toMap
    assert(exactNd.values.forall(_ > 20000L), "cardinality too low to exercise HLL")
    // both queries now emit their error-bound verdicts as columns
    // (r11 verdict #4 — the same booleans the DuckDB oracle pins), so
    // the 40× accuracy gate is: every verdict true, and the in-query
    // exact counts agree with the spec's own recount
    val hllRows = SketchQueries.hllDistinct.run(spark, dir)
      .select(col("l_returnflag"), col("nd_parts"), col("hll_within_3rsd"))
      .as[(String, Long, Boolean)].collect()
    assert(hllRows.map(r => r._1 -> r._2).toMap === exactNd)
    hllRows.foreach { case (flag, _, ok) =>
      assert(ok, s"$flag: HLL estimate drifts past 3x rsd at 40x")
    }
    // GK sketch at accuracy 10000 over ~800k values per group: both
    // quantile estimates inside the q ± 2/accuracy rank bound
    SketchQueries.approxPercentile.run(spark, dir)
      .select(col("l_returnflag"), col("p50_in_rank_bound"), col("p90_in_rank_bound"))
      .as[(String, Boolean, Boolean)].collect()
      .foreach { case (flag, ok50, ok90) =>
        assert(ok50 && ok90,
          s"$flag at 40x: approx percentile outside its rank bound " +
            s"(p50=$ok50 p90=$ok90)")
      }
  }

  test("q_approx_percentile estimates sit inside the GK rank bound") {
    val dir = "/root/testdata/sf0.01"
    val rows = SketchQueries.approxPercentile.run(spark, dir)
      .select(col("l_returnflag"), col("p50_in_rank_bound"), col("p90_in_rank_bound"))
      .as[(String, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, ok50, ok90) =>
      assert(ok50 && ok90,
        s"$flag: approx percentile outside its rank bound (p50=$ok50 p90=$ok90)")
    }
  }

  test("q_setops flag-OR rewrite matches literal set ops when flags are NULL") {
    // NULL segment/balance means "not in that set" — the literal
    // UNION/INTERSECT/EXCEPT form drops NULL predicates row-wise; the
    // flag-OR rewrite must coalesce, not let max(NULL) poison the XOR.
    val dir = java.nio.file.Files.createTempDirectory("setops").toString
    Seq[(Long, String, Option[Double])](
      (1L, "BUILDING", Some(9000.0)), // in both -> excluded
      (2L, "BUILDING", None),         // a only (NULL balance) -> kept
      (3L, null, Some(9000.0)),       // b only (NULL segment) -> kept
      (4L, null, None),               // neither -> excluded
      (5L, "AUTOMOBILE", Some(100.0)) // neither -> excluded
    ).toDF("c_custkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = JoinQueries.setOps.run(spark, dir)
      .as[Long].collect().toSeq
    assert(got === Seq(2L, 3L))
  }

  test("q_grouping_sets: grouping() separates a genuine NULL key from a subtotal row") {
    // Fixture with a REAL NULL status alongside non-NULL ones: the
    // (status) grouping set must emit a (NULL, g_status=0) row for the
    // genuine NULL group, distinct from the ()-set subtotal where
    // status is NULL only because it's not grouped (g_status=1) — the
    // disambiguation coalesce('ALL') cannot make.
    val dir = java.nio.file.Files.createTempDirectory("gsets").toString
    Seq[(String, String, Double)](
      (null, "1-URGENT", 10.0),
      (null, "2-HIGH", 20.0),
      ("F", "1-URGENT", 30.0),
      ("F", "2-HIGH", 40.0))
      .toDF("o_orderstatus", "o_orderpriority", "o_totalprice")
      // the query nullifs 'O'; feed statuses through untouched
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = GroupingQueries.groupingSetsQ.run(spark, dir)
      .select("status", "g_status", "g_priority", "gid", "n")
      .as[(Option[String], Long, Long, Long, Long)].collect()
    // genuine-NULL group from the (status) set: flag says "grouped"
    assert(rows.contains((None, 0L, 1L, 1L, 2L)))
    // grand-total subtotal: same NULL key slot, flags say "not grouped"
    assert(rows.contains((None, 1L, 1L, 3L, 4L)))
    // and the two are different rows — gid tells them apart (1 vs 3)
    assert(rows.count(_._1.isEmpty) === 2 + 2) // +2 priority-set rows (status ungrouped, gid=2)
  }

  test("q_scd2: versions chain gaplessly per user, repeats collapse, exactly one current") {
    val rows = WindowQueries.scd2.run(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_type", "valid_from_us", "valid_to_us", "is_current")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (u, vs0) =>
      val vs = vs0.sortBy(_.getLong(2))
      assert(vs.count(_.getBoolean(4)) === 1, s"user $u: exactly one current version")
      assert(vs.last.getBoolean(4) && vs.last.isNullAt(3),
        s"user $u: the open-ended version must be the last")
      vs.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(3) && a.getLong(3) === b.getLong(2),
            s"user $u: valid_to must equal the next valid_from (no gaps/overlaps)")
          assert(a.getString(1) !== b.getString(1),
            s"user $u: consecutive versions with the same state were not collapsed")
        case _ =>
      }
    }
  }

  test("q_moments matches a sequential JVM replica of the exact power-sum formulas") {
    val rows = StatsQueries.moments.run(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val data = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_returnflag", "l_quantity")
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    data.groupBy(_._1).foreach { case (flag, xs0) =>
      val xs = xs0.map(_._2)
      val n = xs.length.toDouble
      def p(k: Int) = xs.map(x => math.pow(x, k)).sum / n
      val m1 = p(1); val v = p(2) - m1 * m1; val sd = math.sqrt(v)
      val skew = (p(3) - 3 * m1 * p(2) + 2 * m1 * m1 * m1) / (sd * sd * sd)
      val kurt = (p(4) - 4 * m1 * p(3) + 6 * m1 * m1 * p(2) - 3 * math.pow(m1, 4)) / (v * v) - 3
      val (gn, gm, gs, gsk, gku) = rows(flag)
      assert(gn === xs.length.toLong)
      assert(math.abs(gm - m1) < 1e-5, s"$flag mean")
      assert(math.abs(gs - sd) < 1e-5, s"$flag std")
      assert(math.abs(gsk - skew) < 1e-4, s"$flag skew")
      assert(math.abs(gku - kurt) < 1e-4, s"$flag kurt")
    }
  }

  test("q_zorder: every coarse z-cell keeps BOTH dimensions' ranges tight (<= 15)") {
    val rows = WindowQueries.zorder.run(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cell, maxX, minX, maxY, minY) =
        (r.getLong(0), r.getInt(3), r.getInt(2), r.getInt(5), r.getInt(4))
      // zcell fixes the top 4 bits of each 8-bit dimension, so within a
      // cell each dimension spans at most its low 4 bits.
      assert(maxX - minX <= 15, s"cell $cell: x range ${maxX - minX} not tight")
      assert(maxY - minY <= 15, s"cell $cell: y range ${maxY - minY} not tight")
    }
  }

  test("q_basket: a planted mega-basket is dropped BEFORE pair expansion") {
    // 10 small baskets of 5 items (C(5,2)=10 pairs each) plus one
    // 200-item mega-basket (C(200,2)=19,900 pairs if it ever reached
    // the self-join). The cap must collapse the pair count to the
    // small baskets' 100, and the anti-join must broadcast (the
    // oversize list is tiny by construction — replication, not a
    // shuffle of the items frame).
    val small = for (ok <- 1L to 10L; p <- 1L to 5L) yield (ok, p)
    val mega = (1L to 200L).map(p => (999L, p))
    val items = (small ++ mega).toDF("ok", "p")
    val capped = GroupingQueries.capBasketSize(items, GroupingQueries.MaxBasketItems)
    assert(capped.filter(col("ok") === 999L).count() === 0L)
    assert(capped.count() === small.size.toLong)
    def nPairs(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("ok"), col("p").as("x"))
        .join(df.select(col("ok"), col("p").as("y")), Seq("ok"))
        .filter(col("x") < col("y"))
        .count()
    assert(nPairs(items) === 100L + 19900L, "uncapped blow-up baseline")
    assert(nPairs(capped) === 100L, "cap must remove the quadratic key")
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"basket cap should be a broadcast anti-join\n$plan")
  }

  test("graft bloom surface: zero false negatives, genuinely selective pruning") {
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders")
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem")
    val r = spark.sql("""
      WITH sel AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000),
      bf AS (SELECT graft_bloom_agg(o_orderkey, 10000L, 80000L) AS b FROM sel)
      SELECT
        count(*) AS total,
        count_if(graft_bloom_contains((SELECT b FROM bf), l_orderkey)) AS kept,
        count_if(l_orderkey IN (SELECT o_orderkey FROM sel)) AS true_match
      FROM lineitem""").collect().head
    val (total, kept, trueMatch) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(trueMatch > 0, "selective predicate selected nothing — test is vacuous")
    assert(kept >= trueMatch, "bloom dropped a TRUE match (false negative) — broken")
    assert(kept < total / 2,
      s"bloom kept $kept of $total rows — not pruning anything")
    assert(kept <= trueMatch + total / 20,
      s"false-positive tail too fat: kept=$kept true=$trueMatch total=$total")
  }

  test("VectorMean aggregator: element-wise mean, partial+final merge") {
    val ds = Seq(
      (0, Seq(1.0f, 2.0f)),
      (0, Seq(3.0f, 4.0f)),
      (1, Seq(10.0f, 20.0f))).toDS()
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(VectorMean.toColumn.name("mean"))
      .collect().toMap
    assert(out(0) === Seq(2.0, 3.0))
    assert(out(1) === Seq(10.0, 20.0))
  }

  test("q_benford: digit census is exhaustive and expected law is exact") {
    val rows = StatsQueries.benford.run(spark, dir)
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet.subsetOf((1L to 9L).toSet),
      "a leading digit outside 1..9")
    val orders = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(rows.map(_._2).sum == orders, "digit counts must partition orders")
    // expected shares are floor(log10(1+1/d)·1e6) — pin the law itself
    rows.foreach { case (d, _, _, exp) =>
      assert(exp == math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)
    }
    // observed ppm shares sum to ~1e6 (integer floor loses < 9 ppm)
    val ppmSum = rows.map(_._3).sum
    assert(ppmSum > 999990L && ppmSum <= 1000000L)
  }

  test("q_gini: coefficients are valid and match a sequential replica") {
    val out = StatsQueries.gini.run(spark, dir)
      .select(col("segment"), col("n_cust"), col("gini_r"))
      .as[(String, Long, Double)].collect()
    assert(out.length == 5)
    out.foreach { case (_, n, g) =>
      assert(n > 1)
      assert(g >= 0.0 && g < 1.0, s"gini $g out of range")
    }
    // independent fold: collect per-customer cents and apply the
    // textbook formula single-threaded
    val spend = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg((sum(col("o_totalprice").cast(
        org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
        .cast("long").as("x"))
      .as[(String, Long, Long)].collect()
    val bySeg = spend.groupBy(_._1)
    out.foreach { case (seg, n, g) =>
      val xs = bySeg(seg).sortBy(r => (r._3, r._2)).map(_._3)
      val sx = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
      val expect = BigDecimal((2.0 * six - (n + 1.0) * sx) / (n.toDouble * sx))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(g - expect) < 1e-9, s"$seg: $g vs replica $expect")
    }
  }

  test("q_window_dist: cume_dist and percent_rank bracket each partition") {
    val rows = WindowQueries.windowDist.run(spark, dir)
      .select(col("s_nationkey"), col("cd"), col("pr"))
      .as[(Int, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, cd, pr) =>
      assert(cd > 0.0 && cd <= 1.0)
      assert(pr >= 0.0 && pr <= 1.0)
      assert(pr < cd + 1e-12, "percent_rank must sit at or below cume_dist")
    }
    // each nation's distribution tops out at exactly 1 and starts at pr 0
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).max == 1.0)
      assert(g.map(_._3).min == 0.0)
    }
  }

  test("q_survival matches a sequential Kaplan-Meier fold and is monotone") {
    // Rebuild the duration/event pairs single-threaded from raw
    // orders, fold the KM product in plain order with the SAME
    // 9-decimal ln quantization, and demand the distributed curve
    // agrees point-for-point; also pin the curve's shape invariants.
    val snap = java.time.LocalDate.parse("1998-08-02")
    val perCust = graft.util.Tables.t(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey"))
      .as[(Long, java.sql.Date, Long)].collect()
      .groupBy(_._1)
    val durations = perCust.values.map { rows =>
      val sorted = rows.sortBy(r => (r._2.toLocalDate.toEpochDay, r._3))
      val t1 = sorted.head._2.toLocalDate
      sorted.lift(1) match {
        case Some((_, d2, _)) =>
          (java.time.temporal.ChronoUnit.DAYS.between(t1, d2.toLocalDate), 1L)
        case None =>
          (java.time.temporal.ChronoUnit.DAYS.between(t1, snap), 0L)
      }
    }.toSeq
    val census = durations.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, g) => (d, g.size.toLong, g.map(_._2).sum) }
    var atRisk = durations.size.toLong
    var lnSum = 0.0
    var collapsed = false
    val expect = scala.collection.mutable.Map[Long, Double]()
    census.foreach { case (d, n, ev) =>
      if (ev > 0) {
        if (ev == atRisk) collapsed = true
        else lnSum += BigDecimal(math.log(1.0 - ev.toDouble / atRisk))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        expect(d) =
          if (collapsed) 0.0
          else BigDecimal(math.exp(lnSum))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      atRisk -= n
    }
    val got = StatsQueries.survival.run(spark, dir)
      .select(col("duration_days"), col("surv_r"))
      .as[(Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (d, sr) =>
      assert(math.abs(sr - expect(d)) < 1e-9, s"day $d: $sr vs ${expect(d)}")
    }
    val curve = got.sortBy(_._1).map(_._2)
    assert(curve.zip(curve.tail).forall { case (a, b) => b <= a + 1e-12 },
      "survival must be non-increasing")
    assert(curve.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("q_emd matches a sequential CDF-integral replica") {
    // Fold |CDF_base - CDF_target| x gap over the sorted cent scores
    // single-threaded in exact Long/BigInt arithmetic and demand the
    // distributed statistic agrees to the rounding digit.
    val rows = graft.util.Tables.t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("score"),
        (col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .cast("long").as("tgt"))
      .as[(Long, Long)].collect()
    val grouped = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, g) => (s, g.count(_._2 == 0L).toLong, g.count(_._2 == 1L).toLong) }
    val tb = grouped.map(_._2).sum; val tt = grouped.map(_._3).sum
    var cb = 0L; var ct = 0L; var mass = BigInt(0)
    grouped.sliding(2).foreach {
      case Seq((s1, nb, nt), (s2, _, _)) =>
        cb += nb; ct += nt
        mass += (BigInt(cb) * tt - BigInt(ct) * tb).abs * (s2 - s1)
      case _ => ()
    }
    val expect = BigDecimal(
      mass.toDouble / (BigInt(tb) * tt).toDouble / 100.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (nB, nT, got) = StatsQueries.emd.run(spark, dir)
      .as[(Long, Long, Double)].collect().head
    assert((nB, nT) === ((tb, tt)))
    assert(math.abs(got - expect) < 1e-9, s"$got vs replica $expect")
    assert(got > 0.0, "the two windows genuinely differ")
  }

  test("q_kanon: risk bands partition every customer exactly once") {
    // The band census must be a PARTITION of the customer table: no
    // row lost to a dropped class, none double-counted across bands —
    // the property that makes the audit trustworthy as a release gate.
    val out = PrivacyQueries.kanon.run(spark, dir)
      .select(col("k_band"), col("n_classes"), col("n_rows"))
      .as[(String, Long, Long)].collect()
    val nCustomers = graft.util.Tables.t(spark, dir, "customer").count()
    assert(out.map(_._3).sum === nCustomers,
      "band row counts must sum to the full customer table")
    assert(out.map(_._1).distinct.length === out.length, "one row per band")
    out.foreach { case (band, nc, nr) =>
      assert(nc >= 1 && nr >= nc, s"$band: $nc classes cannot hold $nr rows")
    }
  }

  test("q_confusion: kappa and MCC match a sequential replica of the cell formulas") {
    val r = ModelEvalQueries.confusion.run(spark, dir).collect().head
    val (tp, fp, fn, tn) =
      (r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble)
    val n = tp + fp + fn + tn
    val po = (tp + tn) / n
    val pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    val kappa = (po - pe) / (1.0 - pe)
    val mcc = (tp * tn - fp * fn) /
      math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    val (kappaR, mccR) = (r.getDouble(8), r.getDouble(9))
    assert(math.abs(kappaR - kappa) < 1e-6, s"$kappaR vs replica $kappa")
    assert(math.abs(mccR - mcc) < 1e-6, s"$mccR vs replica $mcc")
    assert(kappaR >= -1.0 && kappaR <= 1.0 && mccR >= -1.0 && mccR <= 1.0)
    assert(math.abs(kappaR) <= math.abs(mccR) + 1e-6,
      "for binary tables |kappa| cannot exceed |MCC|")
  }

  test("q_anova matches a sequential cents replica and bounds hold") {
    val xs = graft.util.Tables.t(spark, dir, "customer")
      .select(col("c_mktsegment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("x"))
      .as[(String, Long)].collect()
    val groups = xs.groupBy(_._1).values.map(_.map(_._2.toDouble))
    val n = xs.length.toDouble; val k = groups.size.toDouble
    val grand = xs.map(_._2.toDouble).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(v => (v - m) * (v - m)).sum }).sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val eta2 = ssb / (ssb + ssw)
    val r = StatsQueries.anova.run(spark, dir).collect().head
    assert(r.getLong(0) === groups.size.toLong)
    assert(math.abs(r.getDouble(2) - f) < 1e-4, s"${r.getDouble(2)} vs replica $f")
    assert(math.abs(r.getDouble(3) - eta2) < 1e-6)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("q_dp_release: noise matches the sequential Laplace inverse-CDF replica") {
    val rows = PrivacyQueries.dpRelease.run(spark, dir).collect()
    assert(rows.nonEmpty)
    val exact = graft.util.Tables.t(spark, dir, "customer")
      .join(graft.util.Tables.t(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("n_nationkey")).count()
      .as[(String, Int, Long)].collect()
      .map { case (nm, k, n) => nm -> (k, n) }.toMap
    var sawNoise = false
    rows.foreach { r =>
      val (nm, n, noisy) = (r.getString(0), r.getLong(1), r.getDouble(2))
      val (key, trueN) = exact(nm)
      assert(n === trueN, s"$nm: census count drifted")
      val h = ((key.toLong % 2147483647L) * 2654435761L) % 2147483647L
      val u = (h + 1).toDouble / 2147483648.0
      val noise = (if (u < 0.5) 1.0 else -1.0) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      assert(math.abs(noisy - (n + noise)) < 1e-6, s"$nm: $noisy vs ${n + noise}")
      // b=1 noise from a 31-bit grid is bounded by ln(2^31) ~ 21.5
      assert(math.abs(noisy - n) <= 22.0, s"$nm: noise ${noisy - n} out of bound")
      if (math.abs(noisy - n) > 1e-9) sawNoise = true
    }
    assert(sawNoise, "every group drew exactly zero noise - draw is broken")
  }

  test("q_cramers_v: chi2 nonnegative, V in [0,1], dims match the census") {
    val r = StatsQueries.cramersV.run(spark, dir).collect().head
    val (n, rr, c, chi2, v) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4))
    assert(chi2 >= 0.0)
    assert(v >= 0.0 && v <= 1.0)
    assert(math.abs(v - math.sqrt(chi2 / (n.toDouble * math.min(rr - 1, c - 1))))
      < 1e-6, "V must be the normalized chi2 by definition")
    val cells = graft.util.Tables.t(spark, dir, "customer")
      .join(graft.util.Tables.t(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(countDistinct(col("n_name")), countDistinct(col("c_mktsegment")))
      .as[(Long, Long)].collect().head
    assert((rr, c) === cells, "marginal dimensions must match the data")
  }

  test("KMV merges: per-day sketch partials unioned == one-shot sketch") {
    // The associativity that makes KMV a 100 TB sketch: union two
    // partials, keep the k smallest distinct hashes, and you have
    // EXACTLY the sketch of the union — daily partials never re-scan
    // history. (HLL has the same property but opaque registers; KMV's
    // retained values are plain doubles, so the equality is exact.)
    import spark.implicits._
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.01")
    def sk(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] =
      SketchQueries.kmvSketch(df, 64)
        .select(col("event_type"), col("h")).as[(String, Double)]
        .collect().toSeq.groupBy(_._1).map { case (t, hs) =>
          t -> hs.map(_._2).sorted
        }
    val day1 = sk(ev.filter(col("event_id") % 2 === 0))
    val day2 = sk(ev.filter(col("event_id") % 2 =!= 0))
    val merged = (day1.keySet ++ day2.keySet).map { t =>
      t -> (day1.getOrElse(t, Nil) ++ day2.getOrElse(t, Nil))
        .distinct.sorted.take(64)
    }.toMap
    assert(merged === sk(ev), "merged KMV partials diverged from one-shot")
  }

  test("q_kmv: small sets report exactly; estimator lands near truth at 150 users") {
    import spark.implicits._
    // Planted small segment: 10 distinct users -> exact path (est == 10).
    val dir = java.nio.file.Files.createTempDirectory("kmv").toString
    (0 until 40).map(i =>
      (i.toLong, (i % 10).toLong,
        new java.sql.Timestamp(1704067200000L + i * 1000L), "view", "{}", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val small = SketchQueries.kmvQ.run(spark, dir)
      .select(col("k_used"), col("est_r")).as[(Long, Double)].collect().head
    assert(small === ((10L, 10.0)), "<= k distinct users must report exactly")
    // Driver corpus: 150 distinct users per segment, k=64 -> rsd ~13%;
    // 35% is a loose 2.5-sigma band (the estimate is deterministic, so
    // this is a regression pin, not a flaky statistical test).
    val est = SketchQueries.kmvQ.run(spark, "/root/testdata/sf0.01")
      .select(col("est_r")).as[Double].collect()
    est.foreach(e => assert(math.abs(e - 150.0) / 150.0 < 0.35,
      s"KMV estimate $e strayed from the exact 150"))
  }
}
