package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** Shared session for all suites — one JVM-wide local session. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", appName = "graft-test", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The next scale factor up, beside [[sf]]. */
  val sf01: String = new java.io.File(sf).getParent + "/sf0.01"
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs on sf0.001 and every oracle key exists") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracleSql key $k missing from queries")
    }
    // Independent queries execute from a small driver pool (guide §2.6):
    // counts are partition-invariant by the engine's own portability
    // contract, so concurrent shuffle-partition pins by streaming drains
    // cannot change a result — only the wall. Sequential execution of 500+
    // queries dominated the suite's time under the driver's test budget.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Unit]] =
        SparkEntry.queries.toSeq.map { case (name, fn) =>
          () => {
            try {
              val df = fn(spark, TestSpark.sf)
              assert(df.columns.nonEmpty, s"$name has no columns")
              df.count() // forces execution
              ()
            } catch {
              case e: Throwable =>
                throw new RuntimeException(s"$name failed: $e", e)
            }
          }
        }
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally {
      pool.shutdown()
      // concurrent shuffle-width pins (q186, the graph loops) can race;
      // re-pin the suite default so later plan-sensitive tests are immune
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  test("labelJoin: label is 1 iff any lineitem ships within [0,365) days") {
    val o = Tables.orders(spark, TestSpark.sf)
    val li = Tables.lineitem(spark, TestSpark.sf)
    val got = Relational.labelJoin(o, li)
    // independent recomputation via EXISTS-style aggregation
    val expect = o
      .join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
      .groupBy(o("o_orderkey"))
      .agg(max(
        when(datediff($"l_shipdate".cast("date"), $"o_orderdate".cast("date"))
          .between(0, 364), 1).otherwise(0)).as("expect_acq"))
    val diff = got.join(expect, "o_orderkey")
      .filter($"acquired" =!= $"expect_acq").count()
    assert(diff === 0)
    assert(got.count() === o.count(), "labeling must not fan out the entity table")
  }

  test("thetaPairs excludes self-pairs and is symmetric") {
    val pairs = Relational.thetaPairs(Tables.supplier(spark, TestSpark.sf)).cache()
    assert(pairs.filter($"a_suppkey" === $"b_suppkey").count() === 0)
    val asym = pairs.select($"a_suppkey", $"b_suppkey")
      .except(pairs.select($"b_suppkey".as("a_suppkey"), $"a_suppkey".as("b_suppkey")))
      .count()
    assert(asym === 0)
    pairs.unpersist()
  }

  test("confusionMatrix cell counts sum to the table size") {
    val ev = Tables.events(spark, TestSpark.sf)
      .withColumn("label", when($"event_type" === "purchase", 1).otherwise(0))
      .withColumn("pred", when($"value" >= 50.0, 1).otherwise(0))
    val cm = Relational.confusionMatrix(ev, "label", "pred")
    assert(cm.agg(sum($"n")).as[Long].head() === ev.count())
    assert(cm.count() <= 4)
  }

  test("groupedTopK returns at most k rows per group, ranked deterministically") {
    val topk = Relational.groupedTopK(
      Tables.orders(spark, TestSpark.sf),
      Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
    val over = topk.groupBy($"o_orderpriority").count().filter($"count" > 3).count()
    assert(over === 0)
    // rank 1 is the max totalprice within its group
    val r1 = topk.filter($"rank" === 1)
      .select($"o_orderpriority", $"o_totalprice".as("top"))
    val mx = Tables.orders(spark, TestSpark.sf)
      .groupBy($"o_orderpriority").agg(max($"o_totalprice").as("mx"))
    assert(r1.join(mx, "o_orderpriority").filter($"top" =!= $"mx").count() === 0)
  }

  test("Tables.load fails fast on schema drift (SURVEY §1.3 explicit-schema rule)") {
    // write a parquet with a re-typed column under a fixture name
    val dir = "target/tmp/drifted"
    Tables.region(spark, TestSpark.sf)
      .withColumn("r_regionkey", col("r_regionkey").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("schema drift"))
  }

  test("exactSum equals BigDecimal-exact sum") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val got = li.agg(Relational.exactSum($"l_quantity")).as[Double].head()
    val expect = li.select($"l_quantity").as[Double].collect()
      .map(BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(got === expect)
  }

  test("cubeSummary / groupingSetsSummary: margins reconcile with plain groupBy; gid discriminates") {
    val orders = Tables.orders(spark, TestSpark.sf)
    val cube = Relational.cubeSummary(
      orders, "o_orderpriority", "o_orderstatus", "o_totalprice")
      .select($"gid", $"n_rows").as[(Long, Long)].collect()
    // exactly the four margin classes, and each margin's counts re-total
    assert(cube.map(_._1).toSet === Set(0L, 1L, 2L, 3L))
    val total = orders.count()
    Seq(0L, 1L, 2L, 3L).foreach { g =>
      assert(cube.filter(_._1 == g).map(_._2).sum === total,
        s"gid=$g margin must re-total the table")
    }
    assert(cube.count(_._1 == 3L) === 1, "exactly one grand-total row")
    val sets = Relational.groupingSetsSummary(
      orders,
      Seq(Seq("o_orderpriority", "o_orderstatus"), Seq("o_orderstatus"), Seq.empty),
      Seq("o_orderpriority", "o_orderstatus"), "o_totalprice")
      .select($"gid").as[Long].collect()
    // (pri,status)→0, (status)→2 (pri aggregated = MSB), ()→3 — and NO
    // gid=1 margin, because (pri) alone was not asked for
    assert(sets.toSet === Set(0L, 2L, 3L))
  }

  test("intCorrMoments: exact co-moments; corr=1 on a perfect line, sign on anticorrelation") {
    val line = Seq(("a", 1, 2), ("a", 2, 4), ("a", 3, 6), // y = 2x ⇒ corr 1
      ("b", 1, 9), ("b", 2, 5), ("b", 3, 1))              // y = -4x+13 ⇒ corr -1
      .toDF("g", "x", "y")
    val got = Relational.intCorrMoments(line, "g", $"x", $"y")
      .select($"g", $"n", $"sxy", $"covar_pop", $"corr")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a")._3 === (1 * 2 + 2 * 4 + 3 * 6))
    assert(math.abs(got("a")._5 - 1.0) < 1e-12, s"perfect line: ${got("a")._5}")
    assert(math.abs(got("b")._5 + 1.0) < 1e-12, s"anticorrelated: ${got("b")._5}")
    assert(got("a")._4 > 0 && got("b")._4 < 0, "covariance signs")
    // real data: corr stays in [-1, 1]
    val li = Relational.intCorrMoments(
      Tables.lineitem(spark, TestSpark.sf), "l_returnflag",
      floor($"l_quantity"), floor($"l_extendedprice"))
      .select($"corr").as[Double].collect()
    assert(li.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("editDistanceJoin: blocked pairs only, threshold prunes, distances verified") {
    val l = Seq((1L, "smith corp"), (2L, "smyth corp"), (3L, "zeta llc")).toDF("lid", "lname")
    val r = Seq((10L, "smith corp"), (11L, "smith co"), (12L, "omega llc")).toDF("rid", "rname")
    // block on the last word — "corp"/"co"/"llc" bands
    val got = Relational.editDistanceJoin(l, r, "lname", "rname",
      bucket = n => element_at(split(n, " "), -1), maxDist = 2)
      .select($"lid", $"rid", $"edit_dist").as[(Long, Long, Long)].collect().toSet
    // smith~smith 0, smyth~smith 1 within the corp block; zeta~omega = 4 > 2
    assert(got === Set((1L, 10L, 0L), (2L, 10L, 1L)))
    assertThrows[IllegalArgumentException](
      Relational.editDistanceJoin(l, r, "lname", "rname", n => n, maxDist = -1))
  }

  test("stratifiedHashSample: content-addressed decisions — partition-invariant, fraction-accurate") {
    val docs = Tables.documents(spark, TestSpark.sf).select($"doc_id", $"lang")
    val fr = Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25)
    val a = Relational.stratifiedHashSample(docs, "lang", "doc_id", fr)
      .as[(Long, String)].collect().toSet
    // pure function of the key: any partitioning makes identical decisions
    val b = Relational.stratifiedHashSample(docs.repartition(7), "lang", "doc_id", fr)
      .as[(Long, String)].collect().toSet
    assert(a === b)
    val byLang = a.groupBy(_._2).view.mapValues(_.size).toMap
    val total = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(byLang("de") === total("de"), "fraction 1.0 keeps every row")
    assert(!byLang.contains("fr") && !byLang.contains("zh"), "absent strata are dropped")
    val enRate = byLang("en").toDouble / total("en")
    assert(math.abs(enRate - 0.5) < 0.2, s"en sampled at $enRate, want ~0.5")
    assertThrows[IllegalArgumentException](
      Relational.stratifiedHashSample(docs, "lang", "doc_id", Map("en" -> 1.5)))
  }

  test("weightedGroupSample: k per stratum, weight-biased, partition-invariant, w<=0 excluded") {
    val df = (1 to 200).map(i => (i.toLong, "g", 1L)).toDF("id", "grp", "wt")
      .union(Seq((1000L, "g", 1000000L)).toDF("id", "grp", "wt")) // heavy item
      .union(Seq((2000L, "g", 0L), (2001L, "g", -5L)).toDF("id", "grp", "wt"))
    val picked = Relational.weightedGroupSample(df, "grp", "id", $"wt", k = 10)
      .select($"id").as[Long].collect().toSet
    assert(picked.size === 10)
    assert(picked.contains(1000L),
      s"a 10^6-weight item must dominate u^(1/w) ranking: $picked")
    assert(!picked.contains(2000L) && !picked.contains(2001L),
      "non-positive weights are excluded by contract")
    val again = Relational.weightedGroupSample(
        df.repartition(13), "grp", "id", $"wt", k = 10)
      .select($"id").as[Long].collect().toSet
    assert(again === picked, "selection must be a pure function of (key, weight)")
    intercept[IllegalArgumentException](
      Relational.weightedGroupSample(df, "grp", "id", $"wt", 0))
  }

  test("topFractionPerGroup: exact ceil boundary, deterministic ties, one exchange for both windows") {
    // group a: 5 rows → keep ceil(2.5)=3; group b: 2 rows → keep 1
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L), ("a", 4L, 30L), ("a", 5L, 50L),
      ("b", 6L, 7L), ("b", 7L, 9L)
    ).toDF("g", "id", "v")
    val kept = Relational.topFractionPerGroup(df, Seq("g"), "v", "id", 0.5)
      .select($"id").as[Long].collect().toSet
    // a keeps v=50, then the v=30 tie broken by id asc → ids 5,3,4; b keeps id 7
    assert(kept === Set(5L, 3L, 4L, 7L))

    // both window functions must share one exchange on the group key
    val plan = Relational.topFractionPerGroup(
        Tables.documents(spark, TestSpark.sf)
          .select($"doc_id", $"lang", length($"text").as("v")),
        Seq("lang"), "v", "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(lang".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected one shuffle on the group key, got $exchanges:\n$plan")

    intercept[IllegalArgumentException](
      Relational.topFractionPerGroup(df, Seq("g"), "v", "id", 0.0))
  }

  test("histogram: buckets partition the value range; min/max bracket each bucket") {
    val h = Relational.histogram(Tables.orders(spark, TestSpark.sf), "o_totalprice", 20000.0)
      .select($"bucket", $"n_rows", $"min_value", $"max_value")
      .as[(Long, Long, Double, Double)].collect()
    assert(h.map(_._2).sum === Tables.orders(spark, TestSpark.sf).count())
    h.foreach { case (b, _, lo, hi) =>
      assert(lo <= hi)
      assert(math.floor(lo / 20000.0).toLong === b, s"min of bucket $b in bucket")
      assert(math.floor(hi / 20000.0).toLong === b, s"max of bucket $b in bucket")
    }
    assertThrows[IllegalArgumentException](
      Relational.histogram(Tables.orders(spark, TestSpark.sf), "o_totalprice", 0.0))
  }

  test("rowsFrameStats: trailing/forward frame boundaries on a hand-computed sequence") {
    val df = Seq(
      ("a", 1, 10L), ("a", 2, 20L), ("a", 3, 30L), ("a", 4, 40L), ("a", 5, 50L),
      ("b", 1, 7L)
    ).toDF("k", "t", "v")
    val out = Relational.rowsFrameStats(df, "k", "t", "t", col("v"))
      .select($"k", $"t", $"trail_sum", $"trail_n", $"frame_first", $"ahead_sum")
      .as[(String, Int, Long, Long, Long, Option[Long])].collect()
      .sortBy(r => (r._1, r._2))
    val a = out.filter(_._1 == "a")
    assert(a.map(_._3).toSeq === Seq(10L, 30L, 60L, 100L, 140L), "trailing sums")
    assert(a.map(_._4).toSeq === Seq(1L, 2L, 3L, 4L, 4L), "frame sizes cap at 4")
    assert(a.map(_._5).toSeq === Seq(10L, 10L, 10L, 10L, 20L), "frame start slides")
    assert(a.map(_._6).toSeq ===
      Seq(Some(90L), Some(120L), Some(90L), Some(50L), None),
      "forward frame sums; empty frame at the tail is NULL")
    val b = out.filter(_._1 == "b").head
    assert(b._3 === 7L && b._5 === 7L && b._6.isEmpty,
      "singleton partition: trailing frame is itself, forward frame empty")
    assertThrows[IllegalArgumentException](
      Relational.rowsFrameStats(df, "k", "t", "t", col("v"), ahead = 0))
  }

  test("q37 sketch aggregates: HLL within 5% of exact, percentiles ordered and in range") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val approx = SparkEntry.queries("q37_approx_stats")(spark, TestSpark.sf)
      .select($"l_returnflag", $"approx_orders", $"p50", $"p95")
      .as[(String, Long, Double, Double)].collect()
    val exact = li.groupBy($"l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct($"l_orderkey").as("d"),
        org.apache.spark.sql.functions.min($"l_extendedprice").as("lo"),
        org.apache.spark.sql.functions.max($"l_extendedprice").as("hi"))
      .as[(String, Long, Double, Double)].collect()
      .map { case (k, d, lo, hi) => k -> (d, lo, hi) }.toMap
    assert(approx.nonEmpty)
    approx.foreach { case (k, a, p50, p95) =>
      val (d, lo, hi) = exact(k)
      assert(math.abs(a - d).toDouble / d <= 0.05, s"$k: HLL $a vs exact $d")
      assert(p50 <= p95, s"$k: p50 $p50 <= p95 $p95")
      assert(p50 >= lo && p95 <= hi, s"$k: percentiles within [$lo, $hi]")
    }
  }

  test("deletionJoinPairs: full recall at distance <= 1 vs brute force, zero false positives") {
    // substitution (abc/axc), deletion (abc/ab), insertion (abc/xabc),
    // equal-distance-2 pair (abc/xyc must NOT pair), duplicates in the id
    // space, and a longer realistic pair
    val df = Seq(
      (1L, "abc"), (2L, "axc"), (3L, "ab"), (4L, "xabc"), (5L, "xyc"),
      (6L, "customer#0042"), (7L, "customer#0043"), (8L, "customer#942")
    ).toDF("id", "s")
    val fast = graft.ops.Relational.deletionJoinPairs(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib, lev(sa, sb).toLong)).toSet
    assert(fast === brute)
    assert(fast.exists(_._3 == 1L), "fixture must exercise a distance-1 pair")
    assert(!fast.exists(p => p._1 == 5L || p._2 == 5L),
      "the distance-2 string must not pair with anything")
  }

  test("snapshotDiff: emits I/U/D with old/new values, drops unchanged keys") {
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "st", "v")
    val nxt = Seq((1L, "a", 10.0), (2L, "b2", 20.0), (4L, "d", 40.0))
      .toDF("k", "st", "v")
    val out = graft.ops.Relational
      .snapshotDiff(old, nxt, Seq("k"), Seq("st", "v"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(5),
        Option(r.getString(1)), Option(r.getString(3))))).toMap
    assert(out.keySet === Set(2L, 3L, 4L), "key 1 unchanged -> dropped")
    assert(out(2L) === (("U", Some("b"), Some("b2"))))
    assert(out(3L) === (("D", Some("c"), None)))
    assert(out(4L) === (("I", None, Some("d"))))
  }

  test("upsertVersioned: per-key max is batch-order independent and replay-idempotent") {
    val base = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0)).toDF("k", "v", "ver")
    val b1 = Seq((1L, "a1", 1), (2L, "b2", 2)).toDF("k", "v", "ver")
    val b2 = Seq((1L, "a2", 2), (2L, "b1", 1), (4L, "d", 1)).toDF("k", "v", "ver")
    def apply(b: org.apache.spark.sql.DataFrame, u: org.apache.spark.sql.DataFrame) =
      graft.ops.Relational.upsertVersioned(b, u, Seq("k"), "ver", "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

    val fwd = snap(apply(apply(base, b1), b2))
    val rev = snap(apply(apply(base, b2), b1))
    val once = snap(apply(base, b1.unionByName(b2)))
    val replayed = snap(apply(apply(apply(base, b1), b2), b1))
    assert(fwd === once, "batch split must not change the result")
    assert(rev === once, "batch ORDER must not change the result")
    assert(replayed === once, "replaying an applied batch must be a no-op")
    assert(once === Set((1L, "a2", 2), (2L, "b2", 2), (3L, "c", 0), (4L, "d", 1)))
  }

  test("upsert: updates win, last writer per key, inserts land, base untouched rows survive") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "x")
    val updates = Seq(
      (2L, "b2", 21.0, 1, "t1"),  // superseded by ver 2
      (2L, "b3", 22.0, 2, "t2"),  // last writer for key 2
      (3L, "c1", 31.0, 2, "tA"),  // same ver as c2 -> tie goes to higher tieCol
      (3L, "c2", 32.0, 2, "tB"),
      (4L, "d", 40.0, 1, "t3")    // brand-new key
    ).toDF("k", "v", "x", "ver", "tie")
    val out = graft.ops.Relational
      .upsert(base, updates, Seq("k"), orderCol = "ver", tieCol = "tie")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out === Map(
      1L -> (("a", 10.0)),   // untouched
      2L -> (("b3", 22.0)),  // highest ver wins
      3L -> (("c2", 32.0)),  // ver tie -> higher tie column wins
      4L -> (("d", 40.0))))  // insert
  }

  test("applyCdcOps: round-trip law apply(old, diff(old,new)) == new; latest op per key wins incl. delete") {
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val v1 = Seq((1L, "a2", 11.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "s", "v") // 1 updated, 2 deleted, 3 unchanged, 4 inserted
    val diff = graft.ops.Relational.snapshotDiff(v0, v1, Seq("k"), Seq("s", "v"))
    val opLog = diff.select($"k", $"new_s".as("s"), $"new_v".as("v"),
      $"change_type".as("op"), lit(1L).as("ver"), $"k".as("tie"))
    val applied = graft.ops.Relational
      .applyCdcOps(v0, opLog, Seq("k"), "op", "ver", "tie")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(applied === Set((1L, "a2", 11.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // latest-op-wins: U@1 then D@2 deletes; D@1 then U@2 resurrects
    val log2 = Seq(
      (1L, "x", 99.0, "U", 1L, 1L), (1L, null.asInstanceOf[String], 0.0, "D", 2L, 1L),
      (2L, null.asInstanceOf[String], 0.0, "D", 1L, 1L), (2L, "b9", 29.0, "U", 2L, 1L)
    ).toDF("k", "s", "v", "op", "ver", "tie")
    val folded = graft.ops.Relational
      .applyCdcOps(v0, log2, Seq("k"), "op", "ver", "tie")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(folded === Set((2L, "b9", 29.0), (3L, "c", 30.0)),
      "key 1 must end deleted, key 2 must end resurrected")
  }

  test("fkAudit: exact orphan/null counts and integer ppm") {
    val child = Seq(
      (Some(1L), "r1"), (Some(1L), "r2"), (Some(9L), "r3"), // 9 is an orphan
      (None, "r4")
    ).toDF("fk", "payload")
    val parent = Seq(1L, 2L).toDF("pk")
    val out = graft.ops.Relational.fkAudit(child, "fk", parent, "pk").collect()(0)
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3)) ===
      ((4L, 1L, 1L, 250000L)))
  }

  test("cooccurrencePairs: dup items collapse, oversized baskets drop whole, support floor") {
    val rows = Seq(
      // basket 1: {10, 20, 30} -> 3 pairs
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 20L), // dup item collapses
      // basket 2: {10, 20} -> strengthens (10,20)
      (2L, 10L), (2L, 20L),
      // basket 3: 4 items, over the cap -> contributes NOTHING
      (3L, 10L), (3L, 20L), (3L, 30L), (3L, 40L),
      // basket 4: singleton -> no pairs
      (4L, 10L)
    ).toDF("basket", "item")
    val got = graft.ops.Relational
      .cooccurrencePairs(rows, "basket", "item", maxBasket = 3, minSupport = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 1L),
      "capped basket 3 must not inflate any pair")
    val floored = graft.ops.Relational
      .cooccurrencePairs(rows, "basket", "item", maxBasket = 3, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(floored === Set((10L, 20L)))
  }

  test("associationRules broadcast size-gate: shuffle fallback at/over the " +
      "item-cardinality threshold produces identical rules") {
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 20L), (3L, 30L)
    ).toDF("basket", "item")
    def run(maxBroadcastItems: Long) = graft.ops.Relational
      .associationRules(rows, "basket", "item", maxBasket = 3,
        minSupport = 1L, maxBroadcastItems = maxBroadcastItems)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    val broadcasted = run(maxBroadcastItems = 1000L) // 3 items, under
    val shuffled = run(maxBroadcastItems = 2L)       // 3 items, OVER the gate
    assert(broadcasted === shuffled,
      "the size-gated shuffle fallback must be value-identical to the " +
        "broadcast path — only the join strategy may change")
    assert(broadcasted.nonEmpty)
    // the BYTE gate trips independently of the row gate (round-9 ADVICE:
    // wide keys at a modest row count): 3 items easily clear the row
    // bound but a 1-byte budget forces the shuffle path — still
    // value-identical
    val byteGated = graft.ops.Relational
      .associationRules(rows, "basket", "item", maxBasket = 3,
        minSupport = 1L, maxBroadcastItems = 1000L, maxBroadcastBytes = 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(byteGated === broadcasted,
      "the byte-gated shuffle fallback must be value-identical too")
  }

  test("merkleDiff equals snapshotDiff and only touched buckets admit rows") {
    val v0 = (1L to 200L).map(k => (k, s"s$k", (k * 7 % 100).toString))
      .toDF("k", "a", "b")
    // change 3 keys, delete 2, insert 2 — tiny fraction of 200 rows
    val v1 = (1L to 200L)
      .filterNot(k => k == 50L || k == 51L)
      .map(k => (k, if (k <= 3) s"CHANGED$k" else s"s$k", (k * 7 % 100).toString))
      .++(Seq((500L, "new", "0"), (501L, "new", "1")))
      .toDF("k", "a", "b")
    val got = Relational
      .merkleDiff(v0, v1, Seq("k"), Seq("a", "b"), nBuckets = 32)
      .collect()
    val want = Relational
      .snapshotDiff(v0, v1, Seq("k"), Seq("a", "b"))
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSet
    assert(got.map(r =>
        (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSet === want,
      "bucket pre-screen must lose no change (I/U/D all present)")
    assert(want.size === 7)
    // pruning engages: the 7 changed keys touch at most 7 of 32 buckets,
    // and every admitted UNCHANGED row shares a bucket with a change
    val buckets = got.map(_.getAs[Long]("bucket")).toSet
    assert(buckets.size <= 7,
      s"only touched buckets may reach the row diff, got $buckets")
  }

  test("merkleDiff digest is injective: separator-shifted and NULL-shifted " +
      "value tuples are detected; NULL-key rows reach the row diff") {
    // Each v0→v1 pair below hashes IDENTICALLY under a naive
    // concat_ws('|') row digest (same joined string, same count), so a
    // non-injective digest deterministically misses the change. The
    // per-column-md5 token digest must flag all of them as U.
    val v0 = Seq(
      (java.lang.Long.valueOf(1L), "a|b", "c"),   // -> ("a","b|c")
      (java.lang.Long.valueOf(2L), "x", null),    // -> (null,"x")
      (java.lang.Long.valueOf(3L), "", "y"),      // -> (null,"y"): ""≠NULL
      (null.asInstanceOf[java.lang.Long], "n0", "z") // NULL key, changes
    ).toDF("k", "a", "b")
    val v1 = Seq(
      (java.lang.Long.valueOf(1L), "a", "b|c"),
      (java.lang.Long.valueOf(2L), null, "x"),
      (java.lang.Long.valueOf(3L), null, "y"),
      (null.asInstanceOf[java.lang.Long], "n1", "z")
    ).toDF("k", "a", "b")
    val got = Relational
      .merkleDiff(v0, v1, Seq("k"), Seq("a", "b"), nBuckets = 8)
      .collect()
      .map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
        r.getAs[String]("change_type"))).toSet
    val want = Relational
      .snapshotDiff(v0, v1, Seq("k"), Seq("a", "b"))
      .collect()
      .map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
        r.getAs[String]("change_type"))).toSet
    assert(got === want, "merkleDiff must equal snapshotDiff on " +
      "separator/NULL adversarial rows")
    assert(Set[Option[Long]](Some(1L), Some(2L), Some(3L))
        .subsetOf(got.map(_._1)),
      s"all three shifted-tuple changes must be detected, got $got")
    assert(got.exists(_._1.isEmpty),
      "NULL-key rows must reach the row-level diff, not be dropped")
  }
}
