package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._

/** Join shapes and set operations: sort-merge, hash, semi, outer,
  * range, interval, as-of, salted and Bloom-pruned joins, MERGE,
  * snapshot diffs, and set and multiset operations. */
object JoinQueries extends QueryModule {

  /** Set operations — symmetric difference of two customer key sets.
    * The literal UNION/INTERSECT/EXCEPT form (kept verbatim in the
    * oracle) scans `customer` four times; since both sets derive from
    * the SAME table, one scan computes per-row membership flags and one
    * aggregation ORs them per key — symmetric difference is then the
    * XOR filter. 4× less I/O at 100 TB, one shuffle instead of three
    * set-op exchanges. Rows in neither set are dropped BEFORE the
    * shuffle (safe: max-ORing in a false,false row never changes the
    * flags, and all-false keys fail the XOR anyway).
    * Plan shape (1 FileScan, ≤2 shuffles) pinned in PlanContractSpec.
    */
  val setOps = Q(
    "q_setops",
    (s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          // coalesce: a NULL segment/balance means "not in the set",
          // matching the set-op form (NULL predicates drop rows there
          // too); without it max(NULL-flag) poisons the XOR filter.
          coalesce(col("c_mktsegment") === "BUILDING", lit(false)).as("in_a"),
          coalesce(col("c_acctbal") > 5000, lit(false)).as("in_b"))
        .filter(col("in_a") || col("in_b"))
        .groupBy(col("c_custkey"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        .filter(col("in_a") =!= col("in_b"))
        .select(col("c_custkey"))
        .orderBy(col("c_custkey")),
    Some("""
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      EXCEPT
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      ORDER BY c_custkey""")
  )

  /** MULTISET set operations — INTERSECT ALL / EXCEPT ALL over two
    * year-slices of (customer, status) order rows, a different algebra
    * from [[setOps]]'s distinct semantics: duplicates carry
    * multiplicity (min of counts for intersect, truncated difference
    * for except). Catalyst's RewriteIntersectAll/RewriteExceptAll turn
    * these into per-key count aggregates + a Generate that replicates
    * each key min/diff times — ONE keyed shuffle per side, never a
    * row-pairing join, which is exactly the multiset form that scales.
    * Output is the op census (sizes), so the result stays 3 rows at
    * any SF.
    */
  val setOpsAll = Q(
    "q_setops_all",
    (s, dir) => {
      def slice(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"), col("o_orderstatus"))
      val a = slice(1994)
      val b = slice(1995)
      a.intersectAll(b).agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("n"))
        .union(a.exceptAll(b).agg(count(lit(1)).as("n"))
          .select(lit("except_all").as("op"), col("n")))
        .union(a.union(b).agg(count(lit(1)).as("n"))
          .select(lit("union_all").as("op"), col("n")))
        .orderBy(col("op"))
    },
    Some("""
      WITH a AS (SELECT o_custkey, o_orderstatus FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1994-01-01'
                   AND o_orderdate < TIMESTAMP '1995-01-01'),
      b AS (SELECT o_custkey, o_orderstatus FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1996-01-01')
      SELECT 'intersect_all' AS op, count(*) AS n
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'except_all', count(*)
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'union_all', count(*)
      FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      ORDER BY op""")
  )

  /** Sort-merge equi-join — fact⋈fact (lineitem⋈orders): both sides
    * grow with SF, so broadcast is impossible at scale; the merge hint
    * pins the plan Spark would choose there (shuffle both sides on the
    * key, sort, merge). Locally AQE would broadcast 15k orders — the
    * hint keeps the bench measuring the 100-TB-shaped plan.
    */
  val joinSmj = Q(
    "q_join_smj",
    (s, dir) => {
      val o = t(s, dir, "orders").hint("merge")
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_lines,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Left-semi join — existence check without fact duplication (the
    * relational form of the reference's id-membership test,
    * `__init__.py:532-533` kept-side). Semi joins ship only the join
    * key of the probe side — no payload shuffle.
    */
  val semiJoin = Q(
    "q_semi_join",
    (s, dir) => {
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey"))
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      ORDER BY c_custkey""")
  )

  /** Range (theta) join — bucket assignment by value range. The bucket
    * table is tiny and broadcast, so the non-equi predicate is evaluated
    * as a broadcast nested-loop join — the correct plan when one side is
    * bounded; a band/binning column + equi-join is the rewrite when both
    * sides are large.
    */
  val rangeJoin = Q(
    "q_range_join",
    (s, dir) => {
      val buckets = t(s, dir, "region")
        .select(
          col("r_regionkey").as("bucket"),
          (col("r_regionkey") * 2000).cast(DoubleType).as("lo"),
          ((col("r_regionkey") + 1) * 2000).cast(DoubleType).as("hi"))
      t(s, dir, "customer")
        .join(
          broadcast(buckets),
          col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 2).as("sum_bal"))
        .orderBy(col("bucket"))
    },
    Some("""
      SELECT bucket, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN (SELECT r_regionkey AS bucket,
                   CAST(r_regionkey * 2000 AS DOUBLE) AS lo,
                   CAST((r_regionkey + 1) * 2000 AS DOUBLE) AS hi
            FROM region) b
        ON c_acctbal >= lo AND c_acctbal < hi
      GROUP BY bucket ORDER BY bucket""")
  )

  /** Interval-OVERLAP join between two LARGE interval sets — distinct
    * from [[rangeJoin]]'s point-in-broadcast-bucket shape: both sides
    * here are intervals and neither broadcasts at scale. The
    * distributed form is GRID BLOCKING: each interval explodes to the
    * coarse cells (months) it covers, candidates meet by cell
    * equi-join, the exact overlap predicate filters, and each pair
    * reports from exactly ONE cell — the month of its overlap start
    * (`cell == month(greatest(slo, lo))`) — the dedup-FREE form of
    * grid blocking: no pair-distinct shuffle, and right-side rows
    * that are genuine duplicates (this synthetic lineitem has no
    * unique key) count once per row, exactly like the oracle's
    * direct join. Σ per-cell work, never |L|×|R|. (The oracle runs the textbook quadratic
    * predicate join — two different algorithms, same counts.) Left
    * side: sampled order fulfilment windows (30 days); right side:
    * every lineitem's ship + 14-day delivery interval.
    */
  val intervalJoin = Q(
    "q_interval_join",
    (s, dir) => {
      val left = t(s, dir, "orders")
        .filter(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey").as("lkey"),
          col("o_orderdate").cast("date").as("lo"),
          date_add(col("o_orderdate").cast("date"), 30).as("hi"))
      val right = t(s, dir, "lineitem")
        .select(
          col("l_shipdate").cast("date").as("slo"),
          date_add(col("l_shipdate").cast("date"), 14).as("shi"))
      def cells(lo: Column, hi: Column): Column =
        explode(sequence(
          date_trunc("month", lo), date_trunc("month", hi),
          expr("interval 1 month")))
      val lc = left.select(col("lkey"), col("lo"), col("hi"),
        cells(col("lo"), col("hi")).as("cell"))
      val rc = right.select(col("slo"), col("shi"),
        cells(col("slo"), col("shi")).as("cell"))
      lc.join(rc, Seq("cell"))
        .filter(col("slo") <= col("hi") && col("shi") >= col("lo"))
        .filter(col("cell") ===
          date_trunc("month", greatest(col("slo"), col("lo"))))
        .groupBy(col("lkey"))
        .agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("lkey"))
    },
    Some("""
      WITH l AS (
        SELECT o_orderkey AS lkey,
               CAST(o_orderdate AS DATE) AS lo,
               CAST(o_orderdate AS DATE) + 30 AS hi
        FROM orders WHERE o_orderkey % 1000 = 0)
      SELECT lkey, count(*) AS n_overlap
      FROM l JOIN lineitem
        ON CAST(l_shipdate AS DATE) <= hi
       AND CAST(l_shipdate AS DATE) + 14 >= lo
      GROUP BY 1 ORDER BY 1""")
  )

  /** Shuffled-hash-join strategy control — the third physical join
    * beside broadcast ([[graft.transform.RefCoreQueries.lookupEnrich]])
    * and sort-merge ([[joinSmj]]): when the build side is too big to
    * broadcast but small enough to hash per partition, SHJ skips BOTH
    * the broadcast and the two sorts. The hint pins the strategy so a
    * planner drift can't silently reintroduce sorts; the plan contract
    * asserts ShuffledHashJoin is actually picked. Same shuffle count
    * as SMJ (both sides exchange on the key) — the win is sort
    * elimination, which at 100 TB is the difference between a hash
    * probe and spilling a terabyte-scale sort per side.
    */
  val joinShj = Q(
    "q_join_shj",
    (s, dir) =>
      t(s, dir, "orders")
        .join(
          t(s, dir, "customer").hint("SHUFFLE_HASH"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy(col("c_mktsegment")),
    Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** FULL OUTER join — the one join type the surface lacked. The
    * two sides are filtered differently (positive balance vs big
    * orders) so all three match classes genuinely occur; output is the
    * compact match-class census (both/left_only/right_only), which
    * exercises the null-fill semantics on both
    * sides without dumping the joined table. Spark plans full outer as
    * SortMergeJoin (broadcast can't do full outer on the build side) —
    * the correct shape at any scale.
    */
  val outerJoin = Q(
    "q_outer_join",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_totalprice") > 250000)
        .select(col("o_custkey"), col("o_orderkey"))
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
            .when(col("o_custkey").isNull, "left_only")
            .otherwise("right_only").as("side"))
        .groupBy(col("side")).agg(count(lit(1)).as("n"))
        .orderBy(col("side"))
    },
    Some("""
      SELECT CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
                  WHEN o_custkey IS NULL THEN 'left_only'
                  ELSE 'right_only' END AS side,
             count(*) AS n
      FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 0) c
      FULL OUTER JOIN (SELECT o_custkey, o_orderkey FROM orders
                       WHERE o_totalprice > 250000) o
        ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY side""")
  )

  /** MERGE/upsert — CDC application as a JOIN, not row-at-a-time: a
    * derived changes feed (delete / update / insert ops keyed like the
    * base) full-outer-joins the base table once; deletes drop, updates
    * take the new value, inserts survive from the right side, untouched
    * rows pass through. This is how a 100 TB corpus absorbs a day of
    * changes — one co-partitioned join (bucket both sides on the key
    * and even that shuffle disappears), never a per-record mutate. The
    * output is the post-merge census (count + exact balance sum per
    * action class), which pins every branch of the CASE.
    */
  val mergeUpsert = Q(
    "q_merge_upsert",
    (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("k"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
      // One scan derives the whole changes feed (a three-branch
      // filter+union would read the base table once per op class).
      val mod = pmod(col("k"), lit(7))
      val changes = base
        .withColumn("op",
          when(mod === 0, "delete").when(mod === 1, "update")
            .when(mod === 2, "insert"))
        .filter(col("op").isNotNull)
        .select(
          when(col("op") === "insert", col("k") + 1000000)
            .otherwise(col("k")).as("k"),
          col("op"),
          when(col("op") === "update", col("bal") + 1000)
            .when(col("op") === "insert", col("bal") * 2)
            .cast(DecimalType(18, 2)).as("new_bal"))
      base.join(changes, Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "delete")
        .select(
          coalesce(col("op"), lit("keep")).as("action"),
          when(col("op").isin("update", "insert"), col("new_bal"))
            .otherwise(col("bal")).as("out_bal"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"), dsum(col("out_bal"), 2).as("sum_bal"))
        .orderBy(col("action"))
    },
    Some("""
      WITH base AS (
        SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
      changes AS (
        SELECT k, 'delete' AS op, CAST(NULL AS DECIMAL(18,2)) AS new_bal
        FROM base WHERE k % 7 = 0
        UNION ALL
        SELECT k, 'update', CAST(bal + 1000 AS DECIMAL(18,2)) FROM base WHERE k % 7 = 1
        UNION ALL
        SELECT k + 1000000, 'insert', CAST(bal * 2 AS DECIMAL(18,2))
        FROM base WHERE k % 7 = 2)
      SELECT coalesce(op, 'keep') AS action,
             count(*) AS n,
             CAST(sum(CASE WHEN op IN ('update', 'insert') THEN new_bal ELSE bal END)
                  AS DOUBLE) AS sum_bal
      FROM base FULL OUTER JOIN changes USING (k)
      WHERE op IS NULL OR op != 'delete'
      GROUP BY 1 ORDER BY action""")
  )

  /** Salted skew-join, oracle-proven result-identical to the plain
    * join: the fact side's hot keys spread over 8 salt buckets
    * (`Scale.saltedJoin` — deterministic row-id salt, small side
    * exploded to every salt), and the DuckDB oracle runs the UNSALTED
    * join — so the rewrite's result equivalence is hash-checked, not
    * just asserted in a spec. This is the fallback when one key is so
    * hot that even AQE's skew split blows a partition; the aggregate on
    * top keeps the checked output small.
    */
  val saltedJoinQ = Q(
    "q_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey").as("k"), col("l_quantity"))
      val pt = t(s, dir, "part").filter(col("p_size") <= 5)
        .select(col("p_partkey").as("k"), col("p_brand"))
      graft.util.Scale.saltedJoin(li, pt, "k", salts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size <= 5) p
        ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")
  )

  /** Snapshot diff — the CDC census "what changed between T1 and T2"
    * computed in ONE scan: both snapshots are conditional aggregates
    * over the same pass (never two scans + a self-join), the T2 bound
    * pushes to the scan, and per-customer state classifies into
    * new / increased / unchanged. Spend stays DECIMAL-exact through
    * both conditional sums, so the status comparison has no float
    * boundary.
    */
  val diffSnapshot = Q(
    "q_diff_snapshot",
    (s, dir) => {
      val t1 = ts("1997-01-01")
      val t2 = ts("1999-01-01")
      t(s, dir, "orders")
        .filter(col("o_orderdate") < t2)
        .groupBy(col("o_custkey"))
        .agg(
          dsum(when(col("o_orderdate") < t1, col("o_totalprice"))
            .otherwise(lit(0.0)), 2).as("spend_t1"),
          dsum(col("o_totalprice"), 2).as("spend_t2"),
          sum(when(col("o_orderdate") < t1, 1L).otherwise(0L)).as("n1"))
        .withColumn("status",
          when(col("n1") === 0, "new")
            .when(col("spend_t2") > col("spend_t1"), "increased")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("spend_t2") - col("spend_t1"), 2).as("delta_spend"))
        .orderBy(col("status"))
    },
    Some("""
      WITH st AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                             THEN CAST(o_totalprice AS DECIMAL(18,2))
                             ELSE CAST(0.0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 AS spend_t1,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS spend_t2,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY 1),
      cl AS (
        SELECT CASE WHEN n1 = 0 THEN 'new'
                    WHEN spend_t2 > spend_t1 THEN 'increased'
                    ELSE 'unchanged' END AS status,
               spend_t2 - spend_t1 AS delta
        FROM st)
      SELECT status, count(*) AS n_customers,
             CAST(sum(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS delta_spend
      FROM cl GROUP BY status ORDER BY status""")
  )

  /** As-of join (SURVEY §2.5 joins stretch goal) — each event picks up
    * the latest hourly checkpoint at-or-before its timestamp, per
    * event_type. Implemented with the union+ordered-window trick: tag
    * both streams, sort by (time, tag) inside each key, and carry the
    * last checkpoint forward with `last(_, ignoreNulls)` — one shuffle
    * on the key, no range join, no per-row probe. The oracle runs
    * DuckDB's native ASOF JOIN, so two independent algorithms must
    * agree row-for-row. At 100 TB the window key becomes (type, day)
    * with boundary carry-over to bound partition size.
    */
  val asofJoin = Q(
    "q_asof_join",
    (s, dir) => {
      val ev = events(s, dir)
      val cp = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("cutoff"))
        .agg(count(lit(1)).as("n_cp"))
      val tagged = cp
        .select(col("event_type"), col("cutoff").as("t"), lit(0).as("tag"),
          col("n_cp"), lit(null).cast(LongType).as("event_id"))
        .unionByName(ev.select(col("event_type"), col("ts").as("t"), lit(1).as("tag"),
          lit(null).cast(LongType).as("n_cp"), col("event_id")))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("cutoff_ms",
          last(when(col("tag") === 0, unix_millis(col("t"))), ignoreNulls = true).over(w))
        .withColumn("cp_n",
          last(when(col("tag") === 0, col("n_cp")), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("event_type"), col("cutoff_ms"),
          col("cp_n").as("n_cp"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH cp AS (
        SELECT event_type, date_trunc('hour', ts) AS cutoff, count(*) AS n_cp
        FROM events GROUP BY 1, 2)
      SELECT e.event_id, e.event_type, epoch_ms(cp.cutoff) AS cutoff_ms, cp.n_cp
      FROM events e
      ASOF JOIN cp ON e.event_type = cp.event_type AND e.ts >= cp.cutoff
      ORDER BY e.event_id""")
  )

  /** Bloom-pruned fact join — the pre-shuffle pruning pattern behind
    * every selective dim⋈fact at 100 TB (and behind Spark's own
    * runtime row-level filters, whose exact expressions this query
    * uses via the graft_bloom_agg/graft_bloom_contains injections):
    * the selective order-key set folds into ONE broadcast bloom
    * sketch; the fact scan drops non-matching rows MAP-SIDE, before
    * any exchange, so the join shuffles only plausible rows. False
    * positives die in the exact equi-join that follows — the output
    * is exactly the plain join's (which is what the oracle runs), the
    * bloom only moves work off the shuffle. Plan-pinned: the
    * might_contain filter sits under the fact side's exchange.
    */
  val bloomPrune = Q(
    "q_bloom_prune",
    (s, dir) => {
      // might_contain requires its sketch as a CONSTANT or scalar
      // subquery (never a join-produced column) — same contract as
      // Spark's injected runtime filters, so the SQL front door is
      // the honest surface for this one.
      sql(s, dir, """
        WITH sel AS (
          SELECT o_orderkey FROM orders WHERE o_totalprice > 450000),
        pruned AS (
          SELECT l_orderkey, l_extendedprice, l_discount
          FROM lineitem
          WHERE graft_bloom_contains(
            (SELECT graft_bloom_agg(o_orderkey, 10000L, 80000L) FROM sel),
            l_orderkey))
        SELECT o_orderkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round((CAST(1 AS DOUBLE) - l_discount) * 100) AS BIGINT))
                    AS DOUBLE) / 1e4 AS revenue,
               count(*) AS n_items
        FROM sel JOIN pruned ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""", "orders", "lineitem")
    },
    Some("""
      WITH sel AS (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
      SELECT o_orderkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round((CAST(1 AS DOUBLE) - l_discount) * 100) AS BIGINT))
                  AS DOUBLE) / 1e4 AS revenue,
             count(*) AS n_items
      FROM sel JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""")
  )

  override def all: Seq[Q] = Seq(
    setOps, joinSmj, semiJoin, rangeJoin, asofJoin, saltedJoinQ,
    outerJoin, mergeUpsert, joinShj, diffSnapshot, bloomPrune, intervalJoin,
    setOpsAll)
}
