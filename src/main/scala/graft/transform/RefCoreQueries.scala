package graft.transform

import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.util.Tables._

/** The reference's per-record transform core (`process_demo_data`,
  * reference `FetchBulkData/__init__.py:357-536`) re-expressed as
  * declarative Spark operators over the star schema (SURVEY.md §2.2).
  *
  * The reference mutates nested JSON record-by-record on one thread;
  * here every op is a Catalyst expression over columnar parquet, so
  * filters push to the scan, struct/array rewrites run inside
  * whole-stage codegen, and the anti-join family becomes a real join
  * instead of a second parse pass (SURVEY §2 hazard 7).
  *
  * Nested/array inputs are built *inside* each query from star-schema
  * columns (`collect_list(struct(..))` over orders→lineitem) so the
  * DuckDB oracle reads the same parquet (SURVEY §7.3 step 2). Lists are
  * always `sort_array`-ed for hash determinism.
  */
object RefCoreQueries extends QueryModule {

  /** P1 — equality filter on record key (ref `__init__.py:408,445`:
    * "update only the record whose id == demo_patient_id"). Key
    * predicate pushes to the parquet scan (row-group pruning at scale).
    */
  val filterById = Q(
    "q_filter_by_id",
    (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_custkey") === 421)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer WHERE c_custkey = 421""")
  )

  /** P2/P4 — conditional constant overwrite of one record's field plus a
    * blanket constant column (ref `__init__.py:410,414-419,448`: set the
    * demo patient's identifier; stamp every Condition with a constant
    * code/date). `when/otherwise` keeps it one codegen'd projection —
    * no per-record branching like the reference's if/else loop.
    */
  val fieldUpdate = Q(
    "q_field_update",
    (s, dir) =>
      t(s, dir, "customer")
        .withColumn(
          "c_mktsegment",
          when(col("c_custkey") === 421, lit("MBI-UPDATED"))
            .otherwise(col("c_mktsegment")))
        .withColumn("record_status", lit("verified"))
        .select(col("c_custkey"), col("c_mktsegment"), col("record_status"))
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey,
             CASE WHEN c_custkey = 421 THEN 'MBI-UPDATED' ELSE c_mktsegment END AS c_mktsegment,
             'verified' AS record_status
      FROM customer ORDER BY c_custkey""")
  )

  /** P3 — column drop (ref `__init__.py:447,487,425-428`:
    * `del resource_json['meta']` / `['medicationReference']`). In a
    * columnar engine a drop is free: the pruned columns are never read
    * off disk (check ReadSchema in the plan).
    */
  val fieldDrop = Q(
    "q_field_drop",
    (s, dir) =>
      t(s, dir, "orders")
        .drop("o_orderpriority", "o_orderstatus")
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders ORDER BY o_orderkey""")
  )

  /** P5 — multi-level nested field set (ref `__init__.py:430-437,454-456`:
    * `dispenseRequest.validityPeriod.start/end`, `.numberOfRepeatsAllowed`).
    * Builds the nested struct, mutates it with `Column.withField`
    * (no full-struct rewrite), then projects the mutated leaves out flat
    * so the oracle can compare scalars.
    */
  val nestedSet = Q(
    "q_nested_set",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn(
          "dispense",
          struct(
            struct(
              to_date(col("o_orderdate")).as("start"),
              date_add(to_date(col("o_orderdate")), 30).as("end")
            ).as("validityPeriod")))
        .withColumn(
          "dispense",
          col("dispense")
            .withField("validityPeriod.end", date_add(to_date(col("o_orderdate")), 90))
            .withField("numberOfRepeatsAllowed", lit(3)))
        .select(
          col("o_orderkey"),
          col("dispense.validityPeriod.start").as("start_date"),
          col("dispense.validityPeriod.end").as("end_date"),
          col("dispense.numberOfRepeatsAllowed").as("repeats"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS start_date,
             CAST(o_orderdate AS DATE) + 90 AS end_date,
             3 AS repeats
      FROM orders ORDER BY o_orderkey""")
  )

  /** P6 — positional array element set (ref `__init__.py:489-493`:
    * `supportingInfo[0].valueQuantity.value = 0`; `[1] = 30 or 90` by
    * record id). The line list is built per order (sorted by linenumber
    * = the reference's array order), then rewritten with an
    * index-aware `transform` lambda — Catalyst's codegen'd equivalent
    * of the reference's positional assignment.
    */
  val arrayPosSet = Q(
    "q_array_pos_set",
    (s, dir) => {
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
          .as("items"))
      items
        .withColumn("qty", transform(col("items"), x => x.getField("l_quantity")))
        .withColumn(
          "qty",
          transform(
            col("qty"),
            (x, i) =>
              when(i === 0, lit(0.0))
                .when(i === 1,
                  when(col("l_orderkey") % 2 === 0, lit(30.0)).otherwise(lit(90.0)))
                .otherwise(x)))
        .select(
          col("l_orderkey"),
          lsize(col("qty")).as("n_items"),
          try_element_at(col("qty"), lit(1)).as("qty0"),
          // single-line orders have no position 1 → NULL (ANSI-safe)
          try_element_at(col("qty"), lit(2)).as("qty1"))
        .orderBy(col("l_orderkey"))
    },
    Some("""
      WITH q AS (
        SELECT l_orderkey, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_quantity) AS pos,
               count(*) OVER (PARTITION BY l_orderkey) AS n
        FROM lineitem)
      SELECT l_orderkey,
             CAST(max(n) AS BIGINT) AS n_items,
             max(CASE WHEN pos = 1 THEN CAST(0 AS DOUBLE) END) AS qty0,
             max(CASE WHEN pos = 2 THEN
                   CASE WHEN l_orderkey % 2 = 0 THEN CAST(30 AS DOUBLE)
                        ELSE CAST(90 AS DOUBLE) END END) AS qty1
      FROM q GROUP BY l_orderkey ORDER BY l_orderkey""")
  )

  /** P7 — predicate on a nested path (ref `__init__.py:466-467`: keep
    * EOB only if `patient.reference == 'Patient/…'`). The struct is
    * built then filtered through its dotted path; Catalyst collapses
    * the alias so the predicate still pushes down to the scan.
    */
  val nestedFilter = Q(
    "q_nested_filter",
    (s, dir) =>
      t(s, dir, "customer")
        .withColumn(
          "profile",
          struct(col("c_mktsegment").as("segment"), col("c_nationkey").as("nation")))
        .filter(col("profile.segment") === "BUILDING")
        .select(col("c_custkey"), col("profile.nation").as("nationkey_out"))
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, c_nationkey AS nationkey_out
      FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""")
  )

  /** P8/P9 — array scan → scalar extract, then filter on the extracted
    * value (ref `__init__.py:469-475`: find the `coding[]` entry with
    * the claim-type system, keep the record only when it's 'pharmacy').
    * `filter(array, λ)` + `element_at` replaces the reference's leaky
    * loop-variable scan (SURVEY §2 hazard 2 — we require an explicit
    * match instead of inheriting the previous record's value).
    */
  val arrayExtract = Q(
    "q_array_extract",
    (s, dir) => {
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(
          collect_list(struct(col("l_linenumber"), col("l_returnflag"), col("l_quantity"))))
          .as("items"))
      items
        .withColumn("r_items",
          filter(col("items"), x => x.getField("l_returnflag") === "R"))
        .filter(size(col("r_items")) > 0)
        .select(
          col("l_orderkey"),
          element_at(col("r_items"), 1).getField("l_quantity").as("first_r_qty"),
          lsize(col("r_items")).as("n_r"))
        .orderBy(col("l_orderkey"))
    },
    Some("""
      WITH q AS (
        SELECT l_orderkey, l_quantity, l_returnflag,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_returnflag, l_quantity) AS pos
        FROM lineitem),
      r AS (
        SELECT l_orderkey, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey ORDER BY pos) AS rpos,
               count(*) OVER (PARTITION BY l_orderkey) AS n_r
        FROM q WHERE l_returnflag = 'R')
      SELECT l_orderkey, l_quantity AS first_r_qty, CAST(n_r AS BIGINT) AS n_r
      FROM r WHERE rpos = 1 ORDER BY l_orderkey""")
  )

  /** P10 — last-wins array element (ref `__init__.py:477-478`: the loop
    * keeps the LAST item's `servicedDate`). Replicated exactly with
    * `element_at(items, -1)` over the linenumber-ordered list.
    */
  val arrayLast = Q(
    "q_array_last",
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_shipdate"))))
          .as("items"))
        .select(
          col("l_orderkey"),
          to_date(element_at(col("items"), -1).getField("l_shipdate")).as("last_ship"))
        .orderBy(col("l_orderkey"))
    },
    Some("""
      SELECT l_orderkey, CAST(l_shipdate AS DATE) AS last_ship
      FROM (SELECT l_orderkey, l_shipdate,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber DESC, l_shipdate DESC) AS rn
            FROM lineitem)
      WHERE rn = 1 ORDER BY l_orderkey""")
  )

  /** P11 — date-threshold filter (ref `__init__.py:481-482`: drop if
    * `serviced_date < '2019-10-30'`, compared lexicographically). Done
    * with a real timestamp compare (SURVEY §2 hazard 4 fixed); the
    * predicate reaches the parquet scan → row-group stats pruning, the
    * mechanism that makes an incremental cursor cheap at 100 TB.
    */
  val dateFilter = Q(
    "q_date_filter",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1998-06-15"))
        .groupBy(to_date(col("l_shipdate")).as("ship_date"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("ship_date")),
    Some("""
      SELECT CAST(l_shipdate AS DATE) AS ship_date, count(*) AS n
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-15'
      GROUP BY 1 ORDER BY 1""")
  )

  /** P12 — array append (ref `__init__.py:498-522`: append an RxNorm
    * coding struct to `productOrService.coding[]`). `concat(array, …)`
    * is a pure expression — no explode/regroup shuffle round-trip.
    */
  val arrayAppend = Q(
    "q_array_append",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(concat_ws("-", col("l_returnflag"), col("l_linestatus"))))
          .as("codes"))
        .withColumn("codes", concat(col("codes"), array(lit("RX"))))
        .select(
          col("l_orderkey"),
          lsize(col("codes")).as("n_codes"),
          array_join(col("codes"), ",").as("code_str"))
        .orderBy(col("l_orderkey")),
    Some("""
      SELECT l_orderkey,
             CAST(count(*) + 1 AS BIGINT) AS n_codes,
             string_agg(l_returnflag || '-' || l_linestatus, ','
                        ORDER BY l_returnflag || '-' || l_linestatus) || ',RX' AS code_str
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")
  )

  /** P13/P14 — lookup enrichment + miss-drop (ref `__init__.py:504-515`:
    * per-record HTTP GET to RxNorm, drop the record when the lookup
    * returns nothing). The per-row-HTTP anti-pattern becomes a broadcast
    * hash join against a prefetched dim (SURVEY §4); the miss-drop is the
    * post-join null filter. The dim here is `part` restricted to
    * p_size <= 20 so real misses exist. Broadcast is safe at any SF:
    * the dim is a *filtered/deduped lookup table*, bounded by the code
    * domain, not by fact growth.
    */
  val lookupEnrich = Q(
    "q_lookup_enrich",
    (s, dir) => {
      val dim = t(s, dir, "part")
        .filter(col("p_size") <= 20)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2)
        .join(broadcast(dim), col("l_partkey") === col("p_partkey"), "left")
        .filter(col("p_brand").isNotNull)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("p_brand"), col("p_retailprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_partkey, p_brand, p_retailprice
      FROM lineitem
      LEFT JOIN (SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size <= 20) d
        ON l_partkey = d.p_partkey
      WHERE l_quantity <= 2 AND p_brand IS NOT NULL
      ORDER BY l_orderkey, l_linenumber""")
  )

  /** P15 — conditional struct rewrite by record id (ref
    * `__init__.py:523-528`: quantity = (10,'ml') for one id, (90,'tabs')
    * otherwise). Built as a struct to mirror the reference's nested
    * quantity object, projected flat for the oracle.
    */
  val conditionalUpdate = Q(
    "q_conditional_update",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn(
          "quantity",
          when(col("o_orderkey") % 10 === 0,
            struct(lit(10).as("value"), lit("ml").as("unit")))
            .otherwise(struct(lit(90).as("value"), lit("tabs").as("unit"))))
        .select(
          col("o_orderkey"),
          col("quantity.value").as("qty_value"),
          col("quantity.unit").as("qty_unit"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN 10 ELSE 90 END AS qty_value,
             CASE WHEN o_orderkey % 10 = 0 THEN 'ml' ELSE 'tabs' END AS qty_unit
      FROM orders ORDER BY o_orderkey""")
  )

  /** P16 — anti-join removal (ref `__init__.py:532-533`: re-parse every
    * record and drop ids collected in `ndjson_removed`). One
    * `left_anti` — single pass, no second parse (SURVEY §2 hazard 7).
    * At scale the removed-id side is small → AQE turns this into a
    * broadcast null-safe anti join.
    */
  val antiJoin = Q(
    "q_anti_join",
    (s, dir) => {
      val removed = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      t(s, dir, "lineitem")
        .join(removed, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"), dsum(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n_kept,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** P17 — kept-vs-total count (ref `__init__.py:532`:
    * `len(ndjson) - len(ndjson_removed)` log line). Conditional count
    * in one aggregate pass — observable via `df.observe` in a real
    * pipeline without a second job.
    */
  val countKept = Q(
    "q_count_kept",
    (s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("l_quantity") > 10, lit(1))).as("n_kept"))
        .withColumn("n_removed", col("n_total") - col("n_kept")),
    Some("""
      SELECT count(*) AS n_total,
             count(CASE WHEN l_quantity > 10 THEN 1 END) AS n_kept,
             count(*) - count(CASE WHEN l_quantity > 10 THEN 1 END) AS n_removed
      FROM lineitem""")
  )

  override def all: Seq[Q] = Seq(
    filterById, fieldUpdate, fieldDrop, nestedSet, arrayPosSet, nestedFilter,
    arrayExtract, arrayLast, dateFilter, arrayAppend, lookupEnrich,
    conditionalUpdate, antiJoin, countKept)
}
