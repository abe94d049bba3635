package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Relational
import QueryShared._

/** The remaining TPC-H shapes expressible over the fixture schema
  * (Q3/Q5/Q17/Q18 live in [[RelationalQueries]]; Q4/Q13/Q19/Q22 ship as
  * the adapted q159-q162). Q2/Q9/Q11/Q16/Q20 need `partsupp` — synthesized
  * once per run as an md5-derived parquet fixture ([[ensurePartsupp]]) that
  * BOTH engines read back (the q126/q150 staged-artifact pattern); Q12/Q21
  * need commit/receipt dates, derived INLINE from the portable md5 hash of
  * (l_orderkey, l_linenumber) in both engines — no staged join, because the
  * fixture's (orderkey, linenumber) pair is NOT unique and a keyed re-attach
  * would fan out.
  *
  * Every revenue aggregate goes through [[Relational.exactSum]] (decimal
  * accumulation surfaced as double) so both engines agree bit-for-bit;
  * derived ratios divide two such exact doubles ONCE, which is the one
  * IEEE operation both engines share exactly.
  *
  * Scale notes (the 100 TB lens): nation/region/supplier/part are dim
  * tables — every plan broadcasts them into the lineitem/orders fact
  * side; the only shuffles are the fact-fact joins on orderkey/custkey
  * and the final small aggregations. Date filters sit directly on the
  * scan (parquet min/max row-group pruning applies on a date-sorted
  * layout).
  */
object TpchQueries {

  /** 60-bit portable hash: both engines read the same 15 hex digits of
    * md5 as a positive BIGINT (the q16 recipe —
    * [[graft.expr.PortableMinHash]] rationale). */
  private def hash15(x: Column): Column =
    conv(substring(md5(x), 1, 15), 16, 10).cast("long")
  private def sqlHash15(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** Synthetic commit/receipt dates for Q12/Q21, derived per line from
    * ONE md5 of (orderkey, linenumber): commit reads hex digits 1–15,
    * receipt reads 16–30 (the [[graft.expr.PortableMinHash]] dual-slice
    * trick — one digest feeds both families, and codegen's subexpression
    * elimination evaluates the md5 once per row). Commit lands within
    * ±30 days of ship, receipt 1–30 days after ship — a pure function of
    * stored columns, identical in DuckDB via
    * [[sqlCommitDate]]/[[sqlReceiptDate]]. */
  private def dateDigest: Column =
    md5(concat_ws(":", lit("dt"), col("l_orderkey"), col("l_linenumber")))
  private def slice15(c: Column, off: Int): Column =
    conv(substring(c, off, 15), 16, 10).cast("long")
  private def commitDate: Column =
    date_add(to_date(col("l_shipdate")),
      (pmod(slice15(dateDigest, 1), lit(61L)) - 30L).cast("int"))
  private def receiptDate: Column =
    date_add(to_date(col("l_shipdate")),
      (pmod(slice15(dateDigest, 16), lit(30L)) + 1L).cast("int"))
  private val sqlDateDigest = "md5('dt:' || l_orderkey || ':' || l_linenumber)"
  private def sqlCommitDate: String =
    "CAST(l_shipdate AS DATE) + CAST(" +
      s"CAST('0x' || substr($sqlDateDigest, 1, 15) AS BIGINT)" +
      " % 61 - 30 AS INT)"
  private def sqlReceiptDate: String =
    "CAST(l_shipdate AS DATE) + CAST(" +
      s"CAST('0x' || substr($sqlDateDigest, 16, 15) AS BIGINT)" +
      " % 30 + 1 AS INT)"

  /** Stage the md5-derived `partsupp` fixture (4 distinct suppliers per
    * part, availqty/supplycost from the portable hash) to parquet once per
    * JVM per SF-tagged path — memoized IN PROCESS, never via an on-disk
    * marker: a persistent marker would survive a fixture regeneration and
    * let five queries (and their oracles, which read the SAME files via
    * `read_parquet`) silently run over a partsupp keyed to the OLD
    * fixtures, green forever because both engines share the stale bits.
    * Every fresh process re-derives; within one Verify or perfbench run
    * the five sharers stage once.
    * Supplier keys are mapped through a dense rank (never assume key
    * contiguity in a fixture); the rank window runs on the supplier DIM
    * (10k rows/SF1 — single-partition sort is fine at any target scale).
    * Costs are exact cents (BIGINT) so every downstream aggregate is
    * integer-exact. */
  private val stagedPartsupp = scala.collection.mutable.Set.empty[String]

  private[graft] def ensurePartsupp(s: SparkSession, dir: String): String = {
    val path = predsPath("tpch_partsupp")
    // ONE synchronized block around check-stage-add: a split
    // check-then-act (separate contains()/add() critical sections) lets
    // two concurrent callers both pass the check and overwrite the same
    // parquet path mid-read (round-9 ADVICE). Staging holds the monitor
    // for its duration — the write is seconds, once per JVM, and the
    // sharers would have to wait for the file anyway.
    stagedPartsupp.synchronized {
      if (!stagedPartsupp.contains(path)) {
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"))
      val nSup = sup.count()
      require(nSup >= 4,
        s"partsupp needs >= 4 suppliers for distinct spread, got $nSup")
      val supIdx = sup.withColumn("sidx",
        row_number().over(Window.orderBy(col("s_suppkey"))).cast("long") - 1)
      // supplier spread: index (p + floor(i·S/4)) mod S — the four
      // offsets 0, ⌊S/4⌋, ⌊S/2⌋, ⌊3S/4⌋ are strictly increasing below S
      // for S >= 4, so the four suppliers of a part are DISTINCT at any
      // supplier count (dbgen's step formula degenerates when its step
      // divides S — e.g. 10 suppliers, parts 81..90 all four collapse)
      val ps = Tables.part(s, dir).select(col("p_partkey"))
        .withColumn("i", explode(sequence(lit(0L), lit(3L))))
        .withColumn("sidx", pmod(
          col("p_partkey") + expr(s"(i * $nSup) div 4"),
          lit(nSup)))
        .withColumn("h", hash15(
          concat_ws(":", lit("ps"), col("p_partkey"), col("i"))))
        .withColumn("ps_availqty", (pmod(col("h"), lit(9999L)) + 1L))
        .withColumn("ps_supplycost_cents",
          pmod(expr("h div 10000"), lit(99901L)) + 100L)
      sources.Sources.writeParquet(
        ps.join(broadcast(supIdx), Seq("sidx"))
          .select(col("p_partkey").as("ps_partkey"),
            col("s_suppkey").as("ps_suppkey"),
            col("ps_availqty"), col("ps_supplycost_cents")),
        path)
      stagedPartsupp.add(path)
      }
    }
    path
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q6: scan-local filter + one scalar aggregate — the canonical
    // predicate-pushdown probe. No join, no wide shuffle; the plan is a
    // single WholeStageCodegen span over the pruned scan.
    "q201_tpch_q6" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) >= lit("1996-01-01") &&
          to_date(col("l_shipdate")) < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          Relational.exactSum(col("l_extendedprice") * col("l_discount"), 6)
            .as("revenue"))),


    // TPC-H Q7 (volume shipping between two nations): both nation filters
    // push into the BROADCAST dim sides (supplier and customer shrink to
    // the two nations BEFORE touching the facts), so the fact-side work
    // is lineitem⋈orders on orderkey plus two broadcast probes — the
    // or-of-pairs residual never becomes its own join.
    "q202_tpch_q7" -> ((s, dir) => {
      val nations = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")).between("1996-01-01", "1997-12-31"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(to_date(col("l_shipdate"))).cast("long").as("l_year"))
        .agg(Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
    }),


    // TPC-H Q8 (national market share): numerator and denominator are the
    // SAME exact decimal sum over different predicates — one grouped
    // pass, then a single double division. Customer-side region prune
    // and part-type prune both ride broadcasts.
    "q203_tpch_q8" -> ((s, dir) => {
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val supNation = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val econParts = Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(econParts), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
            .filter(to_date(col("o_orderdate")).between("1995-01-01", "1996-12-31"))
            .select(col("o_orderkey"), col("o_custkey"),
              year(to_date(col("o_orderdate"))).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(
          Relational.exactSum(
            when(col("supp_nation") === "NATION_7",
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .otherwise(0.0), 6).as("nation_volume"),
          Relational.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("total_volume"))
        .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
    }),


    // TPC-H Q10 (returned-item reporting): grouped revenue over one
    // quarter of orders restricted to returned lines, top-20 by revenue
    // with a deterministic custkey tiebreak. The nation name re-attach
    // is a broadcast; the only shuffles are the two fact joins and the
    // final grouped aggregate.
    "q204_tpch_q10" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
              to_date(col("o_orderdate")) < lit("1996-04-01"))
            .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),


    // TPC-H Q14 (promo revenue share): two exact sums over one broadcast
    // join + month filter, one double division — the % rides as
    // 100·promo/total evaluated in the same order on both engines.
    "q205_tpch_q14" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) >= lit("1996-01-01") &&
          to_date(col("l_shipdate")) < lit("1996-02-01"))
        .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          Relational.exactSum(
            when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .otherwise(0.0), 6).as("promo_revenue"),
          Relational.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("total_revenue"))
        .withColumn("promo_pct",
          lit(100.0) * col("promo_revenue") / col("total_revenue"))),


    // TPC-H Q15 (top supplier): the quarter's per-supplier revenue is a
    // single grouped pass; the scalar max broadcasts back over that tiny
    // frame (supplier-count rows, NOT lineitem rows), so the "view used
    // twice" of the reference formulation costs one aggregation, not
    // two scans. Exact sums make the max-equality a safe double compare.
    "q206_tpch_q15" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) >= lit("1996-01-01") &&
          to_date(col("l_shipdate")) < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("total_revenue"))
        .localCheckpoint(true) // feeds both the max and the equi probe
      val mx = rev.agg(max(col("total_revenue")).as("mr"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(mx), col("total_revenue") === col("mr"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),


    // TPC-H Q2 (min-cost supplier, region-scoped): partsupp is the fact;
    // the European supplier roster and the part filter both BROADCAST into
    // it, and the per-part minimum rides ONE window over the partkey
    // shuffle instead of a groupBy + re-join (halves the shuffles). The
    // top-100 sort key chain (acctbal desc, nation, supplier name, part)
    // is a total order — (part, supplier) pairs are unique in partsupp and
    // names are unique per supplier — so LIMIT is deterministic in both
    // engines.
    "q287_tpch_q2" -> ((s, dir) => {
      val ps = s.read.parquet(ensurePartsupp(s, dir))
      val eurSup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val pfil = Tables.part(s, dir)
        .filter(col("p_size") <= 25 && col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      ps.join(broadcast(pfil), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(eurSup), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("min_cost", min(col("ps_supplycost_cents"))
          .over(Window.partitionBy(col("ps_partkey"))))
        .filter(col("ps_supplycost_cents") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("ps_partkey").as("p_partkey"), col("ps_supplycost_cents"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),


    // TPC-H Q9 (product-type profit by nation × year): lineitem is the
    // fact — the filtered part broadcasts, partsupp re-attaches on the
    // (partkey, suppkey) shuffle, orders on the orderkey shuffle, and the
    // supplier→nation roster broadcasts. Profit combines the price side
    // and the cents-exact supplycost side in ONE double expression ordered
    // identically in both engines, then exactSum makes the aggregation
    // order-invariant.
    "q288_tpch_q9" -> ((s, dir) => {
      val ps = s.read.parquet(ensurePartsupp(s, dir))
      val pfil = Tables.part(s, dir)
        .filter(col("p_name").like("%re%")).select(col("p_partkey"))
      val supN = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, dir)
        .join(broadcast(pfil), col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"),
            year(to_date(col("o_orderdate"))).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            (col("ps_supplycost_cents") / lit(100.0)) * col("l_quantity"), 6)
          .as("sum_profit"))
    }),


    // TPC-H Q11 (important stock): partsupp × broadcast European supplier
    // roster, per-part value in exact cents accumulated as decimal(38,0)
    // (BIGINT sums wrap silently at extreme scale — the round-8 ADVICE
    // lesson), threshold = 1/5000 of the broadcast scalar total compared
    // in exact integers on both engines.
    "q289_tpch_q11" -> ((s, dir) => {
      val ps = s.read.parquet(ensurePartsupp(s, dir))
      val eurSup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val vals = ps
        .join(broadcast(eurSup), col("ps_suppkey") === col("s_suppkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum((col("ps_supplycost_cents") * col("ps_availqty"))
          .cast("decimal(38,0)")).as("value_dec"))
        .localCheckpoint(true) // feeds both the scalar total and the probe
      val total = vals.agg(sum(col("value_dec")).as("tot"))
      vals.join(broadcast(total))
        .filter(col("value_dec") * 5000 > col("tot"))
        .select(col("ps_partkey"),
          col("value_dec").cast("long").as("value_cents"))
    }),


    // TPC-H Q12 (late-shipment priority split, returnflag standing in for
    // the fixture's missing shipmode): the commit/receipt dates derive
    // inline from the portable md5 — every filter sits directly on the
    // scan, and the only shuffle is the orderkey join to orders.
    "q290_tpch_q12" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("l_commitdate", commitDate)
        .withColumn("l_receiptdate", receiptDate)
        .filter(col("l_commitdate") < col("l_receiptdate") &&
          to_date(col("l_shipdate")) < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1997-01-01") &&
          col("l_receiptdate") < lit("1998-01-01"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))),


    // TPC-H Q16 (supplier relationship, acctbal<0 standing in for the
    // missing comment-complaints set): partsupp × broadcast part filter,
    // broadcast ANTI join against the bad-supplier roster, then a distinct
    // supplier count per (brand, type, size) — the classic
    // anti-join + count-distinct planner shape.
    "q291_tpch_q16" -> ((s, dir) => {
      val ps = s.read.parquet(ensurePartsupp(s, dir))
      val badSup = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val pfil = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#5" &&
          col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"))
      ps.join(broadcast(pfil), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(badSup), col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
    }),


    // TPC-H Q20 (potential part promotion — the nested-IN shape): the
    // inner aggregate (1997 shipped qty per (part, supplier)) joins
    // partsupp on its natural key, the availqty > half-shipped filter
    // compares 2·availqty to the exact integral double sum, and the
    // surviving suppliers reach the roster as a LEFT SEMI probe — each IN
    // becomes a semi join, never a re-scan.
    "q292_tpch_q20" -> ((s, dir) => {
      val ps = s.read.parquet(ensurePartsupp(s, dir))
      val pfil = Tables.part(s, dir)
        .filter(col("p_name").like("small%")).select(col("p_partkey"))
      val shipped = Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) >= lit("1997-01-01") &&
          to_date(col("l_shipdate")) < lit("1998-01-01"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val candSup = ps
        .join(broadcast(pfil), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("qty"))
        .select(col("ps_suppkey"))
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      Tables.supplier(s, dir)
        .join(candSup, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("s_acctbal"))
    }),


    // TPC-H Q21 (suppliers who kept orders waiting — the last untested
    // planner shape: a semi AND an anti probe against the SAME fact): late
    // lines of 'F' orders from European suppliers, semi-joined to "some
    // other supplier shipped in this order" and anti-joined to "no other
    // supplier was late" — both probes are orderkey hash joins with a
    // suppkey-inequality residual, never a re-scan explosion (pinned by
    // PlanAuditSpec).
    "q293_tpch_q21" -> ((s, dir) => {
      val eurSup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      // checkpoint-materialized: `late` feeds BOTH the driving side and
      // the anti probe — without it each use re-scans lineitem and
      // re-evaluates two md5 date derivations per row (measured 3.8 s →
      // the md5 work dominates this query's cost at sf0.1)
      val late = Tables.lineitem(s, dir)
        .filter(receiptDate > commitDate)
        .select(col("l_orderkey"), col("l_suppkey"))
        .localCheckpoint(true)
      val l1 = late
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(eurSup), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("l_suppkey"), col("s_name"))
      val others = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val lateOthers = late
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      l1.join(others, col("l_orderkey") === col("o2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("o3") &&
          col("l_suppkey") =!= col("s3"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),


    // TPC-H Q13 (customer order-count distribution) — the LAST member of
    // the 22-query battery (Q4/Q19/Q22 live as the adapted
    // q160/q161/q162 shapes): LEFT OUTER customer⋈orders with the
    // order-side exclusion filter (fixture has no o_comment, so the
    // "special requests" gate adapts to the 1-URGENT priority class —
    // same plan shape: the filter prunes the PROBE side before the
    // join), count(o_orderkey) per customer — count of a NULLABLE column
    // so no-order customers land in the c_count = 0 bucket, Q13's whole
    // point — then the tiny distribution re-aggregation. One shuffle
    // join on custkey + one order-count-grain hash agg; no window, no
    // global sort.
    "q417_tpch_q13" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),
  )

  val sql: Map[String, String] = Map(

    "q201_tpch_q6" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_items,
         |       ${dSum("l_extendedprice * l_discount", 6, "revenue")}
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q202_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       CAST(date_part('year', CAST(l.l_shipdate AS DATE)) AS BIGINT)
         |         AS l_year,
         |       ${dSum("l.l_extendedprice * (1.0 - l.l_discount)", 6, "revenue")}
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         |WHERE CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
         |                                     AND DATE '1997-12-31'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY 1, 2, 3""".stripMargin,

    "q203_tpch_q8" ->
      s"""WITH vol AS (
         |  SELECT CAST(date_part('year', CAST(o.o_orderdate AS DATE)) AS BIGINT)
         |           AS o_year,
         |         l.l_extendedprice * (1.0 - l.l_discount) AS v,
         |         ns.n_name AS supp_nation
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
         |  JOIN region r ON nc.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
         |  WHERE CAST(o.o_orderdate AS DATE) BETWEEN DATE '1995-01-01'
         |                                        AND DATE '1996-12-31'
         |)
         |SELECT o_year,
         |       ${dSum("CASE WHEN supp_nation = 'NATION_7' THEN v ELSE 0.0 END",
               6, "nation_volume")},
         |       ${dSum("v", 6, "total_volume")},
         |       ${dSum("CASE WHEN supp_nation = 'NATION_7' THEN v ELSE 0.0 END", 6)}
         |         / ${dSum("v", 6)} AS mkt_share
         |FROM vol GROUP BY 1""".stripMargin,

    "q204_tpch_q10" ->
      s"""SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
         |       ${dSum("l.l_extendedprice * (1.0 - l.l_discount)", 6, "revenue")}
         |FROM customer c
         |JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
         |  AND l.l_returnflag = 'R'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c.c_custkey
         |LIMIT 20""".stripMargin,

    "q205_tpch_q14" ->
      s"""SELECT
         |  ${dSum(
           "CASE WHEN p.p_type = 'PROMO' " +
             "THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END",
           6, "promo_revenue")},
         |  ${dSum("l.l_extendedprice * (1.0 - l.l_discount)", 6, "total_revenue")},
         |  100.0 * ${dSum(
           "CASE WHEN p.p_type = 'PROMO' " +
             "THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END", 6)}
         |    / ${dSum("l.l_extendedprice * (1.0 - l.l_discount)", 6)} AS promo_pct
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(l.l_shipdate AS DATE) < DATE '1996-02-01'""".stripMargin,

    "q206_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         ${dSum("l_extendedprice * (1.0 - l_discount)", 6,
               "total_revenue")}
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
         |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
         |  GROUP BY 1
         |)
         |SELECT s.s_suppkey, s.s_name, r.total_revenue
         |FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
         |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s.s_suppkey""".stripMargin,

    "q287_tpch_q2" ->
      s"""WITH ps AS (
         |  SELECT * FROM read_parquet('${predsPath("tpch_partsupp")}/*.parquet')
         |), eur AS (
         |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
         |  FROM supplier s
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = 'EUROPE'
         |), costs AS (
         |  SELECT ps.ps_partkey, ps.ps_supplycost_cents,
         |         e.s_acctbal, e.s_name, e.n_name
         |  FROM ps
         |  JOIN part p ON ps.ps_partkey = p.p_partkey
         |    AND p.p_size <= 25 AND p.p_type = 'STANDARD'
         |  JOIN eur e ON ps.ps_suppkey = e.s_suppkey
         |), m AS (
         |  SELECT ps_partkey, min(ps_supplycost_cents) AS mc
         |  FROM costs GROUP BY 1
         |)
         |SELECT c.s_acctbal, c.s_name, c.n_name,
         |       c.ps_partkey AS p_partkey, c.ps_supplycost_cents
         |FROM costs c
         |JOIN m ON m.ps_partkey = c.ps_partkey
         |      AND c.ps_supplycost_cents = m.mc
         |ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, p_partkey
         |LIMIT 100""".stripMargin,

    "q288_tpch_q9" ->
      s"""SELECT n.n_name AS nation,
         |       CAST(date_part('year', CAST(o.o_orderdate AS DATE)) AS BIGINT)
         |         AS o_year,
         |       ${dSum("l.l_extendedprice * (1.0 - l.l_discount) - " +
               "(ps.ps_supplycost_cents / 100.0) * l.l_quantity", 6,
               "sum_profit")}
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%re%'
         |JOIN read_parquet('${predsPath("tpch_partsupp")}/*.parquet') ps
         |  ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |GROUP BY 1, 2""".stripMargin,

    "q289_tpch_q11" ->
      s"""WITH eur AS (
         |  SELECT s.s_suppkey
         |  FROM supplier s
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = 'EUROPE'
         |), vals AS (
         |  SELECT ps.ps_partkey,
         |         SUM(ps.ps_supplycost_cents * ps.ps_availqty) AS v
         |  FROM read_parquet('${predsPath("tpch_partsupp")}/*.parquet') ps
         |  JOIN eur e ON ps.ps_suppkey = e.s_suppkey
         |  GROUP BY 1
         |)
         |SELECT ps_partkey, CAST(v AS BIGINT) AS value_cents
         |FROM vals
         |WHERE v * 5000 > (SELECT SUM(v) FROM vals)""".stripMargin,

    "q290_tpch_q12" ->
      s"""WITH l AS (
         |  SELECT l_returnflag, l_orderkey,
         |         CAST(l_shipdate AS DATE) AS sd,
         |         $sqlCommitDate AS cd,
         |         $sqlReceiptDate AS rd
         |  FROM lineitem
         |)
         |SELECT l.l_returnflag,
         |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE l.cd < l.rd AND l.sd < l.cd
         |  AND l.rd >= DATE '1997-01-01' AND l.rd < DATE '1998-01-01'
         |GROUP BY 1""".stripMargin,

    "q291_tpch_q16" ->
      s"""SELECT p.p_brand, p.p_type, p.p_size,
         |       CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
         |FROM read_parquet('${predsPath("tpch_partsupp")}/*.parquet') ps
         |JOIN part p ON ps.ps_partkey = p.p_partkey
         |WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
         |  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         |  AND ps.ps_suppkey NOT IN
         |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3""".stripMargin,

    "q292_tpch_q20" ->
      s"""WITH shipped AS (
         |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
         |    AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT ps.ps_suppkey
         |  FROM read_parquet('${predsPath("tpch_partsupp")}/*.parquet') ps
         |  JOIN part p ON ps.ps_partkey = p.p_partkey
         |    AND p.p_name LIKE 'small%'
         |  JOIN shipped sh ON ps.ps_partkey = sh.l_partkey
         |    AND ps.ps_suppkey = sh.l_suppkey
         |  WHERE ps.ps_availqty * 2 > sh.qty
         |)
         |SELECT s.s_name, n.n_name, s.s_acctbal
         |FROM supplier s
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'
         |  AND s.s_suppkey IN (SELECT ps_suppkey FROM cand)""".stripMargin,

    "q293_tpch_q21" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_suppkey,
         |         $sqlCommitDate AS cd,
         |         $sqlReceiptDate AS rd
         |  FROM lineitem
         |), late AS (
         |  SELECT l_orderkey, l_suppkey FROM li WHERE rd > cd
         |), eur AS (
         |  SELECT s.s_suppkey, s.s_name
         |  FROM supplier s
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = 'EUROPE'
         |), l1 AS (
         |  SELECT late.l_orderkey, late.l_suppkey, eur.s_name
         |  FROM late
         |  JOIN orders o ON late.l_orderkey = o.o_orderkey
         |    AND o.o_orderstatus = 'F'
         |  JOIN eur ON late.l_suppkey = eur.s_suppkey
         |)
         |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         |FROM l1
         |WHERE EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM late l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY 1
         |ORDER BY numwait DESC, s_name
         |LIMIT 100""".stripMargin,

    // Q13 distribution: count over the nullable order key keeps
    // no-order customers in the c_count = 0 bucket
    "q417_tpch_q13" ->
      """WITH per_cust AS (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM per_cust GROUP BY 1""".stripMargin,
  )
}
