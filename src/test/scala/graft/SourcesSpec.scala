package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tmp = "target/tmp/sources"

  test("corpus source: one row per file, UTF-8 text, path preserved (S1)") {
    val dir = s"$tmp/corpus"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/19950630_0000098765_10-K.txt"),
      "management discussion alpha")
    Files.writeString(Paths.get(s"$dir/20010215_0000011111_10-Q.txt"),
      "quarterly beta text")
    val got = Sources.corpus(spark, dir).select($"path", $"text")
      .as[(String, String)].collect().toMap
    assert(got.size === 2)
    assert(got.exists { case (p, t) =>
      p.endsWith("19950630_0000098765_10-K.txt") && t == "management discussion alpha" })
  }

  test("corpusWithKeys extracts date and CIK from the filename (P16)") {
    val dir = s"$tmp/corpus"
    val got = Sources.corpusWithKeys(spark, dir)
      .select($"report_date_raw", $"cik").as[(String, String)].collect().toSet
    assert(got === Set(("19950630", "0000098765"), ("20010215", "0000011111")))
  }

  test("headered CSV with reference-shaped column names round-trips (S3/S6)") {
    // A4 shape: spaces, dots, parens, slash in names (FIXTURES.md §A4)
    val deals = Seq(
      ("ACME CORP", "TARGET ONE", "05/15/92", "250.5"),
      ("BETA INC", "TARGET TWO", "01/02/05", "13.0")
    ).toDF("Acquirer Name", "Target Name", "Announce Date", "Announced Total Value (mil.)")
    val path = s"$tmp/deals_csv"
    Sources.writeCsv(deals, path, header = true)
    val schema = StructType(Seq(
      StructField("Acquirer Name", StringType),
      StructField("Target Name", StringType),
      StructField("Announce Date", StringType),
      StructField("Announced Total Value (mil.)", StringType)))
    val back = Sources.csv(spark, path, schema, header = true)
    assert(back.columns.toSeq === deals.columns.toSeq)
    assert(back.count() === 2)
    // backtick-quoted SQL over space-containing names (acq_etl_code.scala:92)
    back.createOrReplaceTempView("deals_v")
    val sql = spark.sql(
      "SELECT `Acquirer Name`, `Announced Total Value (mil.)` FROM deals_v " +
        "WHERE `Target Name` = 'TARGET ONE'").collect()
    assert(sql.length === 1 && sql.head.getString(0) === "ACME CORP")
  }

  test("ORC sink/scan round-trips exactly and pushes filters to the scan") {
    val df = Tables.orders(spark, TestSpark.sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
    val path = s"$tmp/orders_orc"
    Sources.writeOrc(df, path)
    val back = Sources.orc(spark, path)
    assert(back.schema === df.schema)
    assert(back.count() === df.count())
    val a = df.orderBy($"o_orderkey").as[(Long, Long, Double, String)].collect()
    val b = back.orderBy($"o_orderkey").as[(Long, Long, Double, String)].collect()
    assert(a === b, "ORC round trip must be value-exact")

    // pushdown + pruning reach the ORC scan, same contract as parquet
    val plan = back.filter($"o_orderstatus" === "F").select($"o_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter must push into the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>"),
      s"scan must prune to the 2 referenced columns:\n$plan")
  }

  test("writeSorted: range layout gives per-file disjoint min/max bands (row-group skip precondition)") {
    val df = Tables.orders(spark, TestSpark.sf)
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    val path = s"$tmp/orders_sorted"
    Sources.writeSorted(df, path, Seq("o_orderdate"), numFiles = 4)
    val back = spark.read.parquet(path)
    assert(back.count() === df.count())
    // the skipping precondition: each file covers a disjoint key range, so
    // a range predicate touches only the files whose band intersects it
    val parts = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length > 1, "need several files to prove the range layout")
    val bands = parts.map { f =>
      spark.read.parquet(f.getAbsolutePath)
        .agg(min($"o_orderdate").cast("string"), max($"o_orderdate").cast("string"))
        .as[(String, String)].head()
    }.sortBy(_._1)
    bands.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file bands overlap: $hi > $lo — range layout broken")
      case _ =>
    }
  }

  test("mortonCode: bijective on the full 64x64 grid; deinterleave recovers both dims") {
    val src = spark.range(4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    def deinterleave(z: org.apache.spark.sql.Column, offset: Int, bits: Int) =
      (0 until bits).map { i =>
        shiftleft(shiftright(z, 2 * i + offset).bitwiseAND(lit(1L)), i)
      }.reduce(_ bitwiseOR _)
    val rt = src
      .withColumn("z", Sources.mortonCode(Seq($"a", $"b"), bits = 6))
      .withColumn("a2", deinterleave($"z", 0, 6))
      .withColumn("b2", deinterleave($"z", 1, 6))
    assert(rt.filter($"a2" =!= $"a" || $"b2" =!= $"b").count() === 0L,
      "even/odd bit extraction must recover the inputs exactly")
    assert(rt.select($"z").distinct().count() === 4096L,
      "the interleave must be a bijection on the grid")
    assert(rt.agg(max($"z")).as[Long].head() === 4095L,
      "6+6 bits must pack into exactly 12 bits")
  }

  test("writeZOrdered: a constant dimension degrades gracefully (span-1 scaling, no crash, rows intact)") {
    val df = spark.range(500).select(
      col("id").as("k"), lit(7L).as("c"))
    val path = s"$tmp/zorder_const"
    // constant column: (c - min)·2^bits / (max - min + 1) = 0 for every
    // row — the interleave degenerates to a sort on the varying column,
    // which is exactly the right behavior, not an error
    Sources.writeZOrdered(df, path, Seq("k", "c"), bits = 8, numFiles = 4)
    val back = spark.read.parquet(path)
    assert(back.count() === 500L)
    assert(back.columns.sorted.toSeq === Seq("c", "k"), "helper columns must not leak")
    assert(back.select($"k").distinct().count() === 500L)
  }

  test("writeZOrdered: every interleaved column gets pruning-grade per-file bands; plain sort does not") {
    val df = Tables.lineitem(spark, TestSpark.sf)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    val nFiles = 8

    // fraction of files a point predicate on `c` must touch, given the
    // written layout = sum over files of (band width / domain width)
    def meanBandFraction(path: String, c: String): Double = {
      val parts = new java.io.File(path).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts.length > 1, "need several files")
      val (lo, hi) = df.agg(min(col(c)).cast("long"), max(col(c)).cast("long"))
        .as[(Long, Long)].head()
      val widths = parts.map { f =>
        val (flo, fhi) = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)).cast("long"), max(col(c)).cast("long"))
          .as[(Long, Long)].head()
        (fhi - flo + 1).toDouble / (hi - lo + 1)
      }
      widths.sum / widths.length
    }

    val zPath = s"$tmp/li_zorder"
    Sources.writeZOrdered(df, zPath, Seq("l_partkey", "l_suppkey"), bits = 16, numFiles = nFiles)
    assert(spark.read.parquet(zPath).count() === df.count())

    val sPath = s"$tmp/li_sorted"
    Sources.writeSorted(df, sPath, Seq("l_partkey"), numFiles = nFiles)

    // single-column sort: the unsorted dimension's bands span ~the whole
    // domain (no skipping); z-order: BOTH dimensions' bands are usable
    val sSupp = meanBandFraction(sPath, "l_suppkey")
    val zPart = meanBandFraction(zPath, "l_partkey")
    val zSupp = meanBandFraction(zPath, "l_suppkey")
    assert(sSupp > 0.9, s"sorted-by-partkey files should span suppkey ($sSupp)")
    assert(zPart < 0.6, s"z-order partkey bands must prune ($zPart)")
    assert(zSupp < 0.6, s"z-order suppkey bands must prune ($zSupp)")
  }

  test("headerless CSV consumed positionally as _c0.._cN (A5 shape)") {
    val df = Seq(("12345", "x", "ACME", "7372")).toDF("a", "b", "c", "d")
    val path = s"$tmp/headerless_csv"
    Sources.writeCsv(df, path, header = false)
    val schema = StructType((0 to 3).map(i => StructField(s"_c$i", StringType)))
    val back = Sources.csv(spark, path, schema, header = false)
    assert(back.select($"_c0", $"_c2").as[(String, String)].head() === ("12345", "ACME"))
  }

  test("toDateMMDDYY restores the reference's sliding-century window (P10)") {
    val df = Seq("05/15/92", "01/02/05", "12/31/68", "07/04/69").toDF("s")
    val got = df.select($"s", Sources.toDateMMDDYY($"s").cast("string").as("d"))
      .as[(String, String)].collect().toMap
    assert(got("05/15/92") === "1992-05-15", "2-digit 92 must be 1992, not 2092")
    assert(got("01/02/05") === "2005-01-02")
    assert(got("12/31/68") === "2068-12-31", "68 stays 2068 (POSIX pivot)")
    assert(got("07/04/69") === "1969-07-04", "69 rolls back to 1969")
  }

  test("J1 left-outer name join over reference-shaped CSVs with date parse") {
    val cik = Seq(("0001", "ACME CORP", "7372"), ("0002", "NOMATCH LLC", "1311"))
      .toDF("CIK", "Name", "SIC")
    val deals = Seq(("ACME CORP", "TARGET ONE", "05/15/92"))
      .toDF("Acquirer Name", "Target Name", "Announce Date")
    val joined = cik.join(deals, cik("Name") === deals("Acquirer Name"), "left_outer")
      .withColumn("announce", Sources.toDateMMDDYY(col("Announce Date")))
    assert(joined.count() === 2, "left outer preserves the unmatched CIK row")
    val matched = joined.filter($"CIK" === "0001")
      .select($"announce".cast("string")).as[String].head()
    assert(matched === "1992-05-15")
    assert(joined.filter($"CIK" === "0002").select($"announce").head().isNullAt(0))
  }

  test("writeSingleCsv emits exactly one part file (S7)") {
    val path = s"$tmp/single_csv"
    Sources.writeSingleCsv(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    val parts = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length === 1)
  }

  test("textLines reads one row per line (S2)") {
    val p = s"$tmp/stopwords.txt"
    Files.createDirectories(Paths.get(tmp))
    Files.writeString(Paths.get(p), "the\na\nof\n")
    assert(Sources.textLines(spark, p).as[String].collect().toSeq === Seq("the", "a", "of"))
  }

  test("bucketed tables join without an exchange (co-located join)") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // the warehouse dir outlives the in-memory catalog across JVM runs —
    // clear stale locations or saveAsTable refuses to create the table
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"target/spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val o = Tables.orders(spark, TestSpark.sf)
    val li = Tables.lineitem(spark, TestSpark.sf)
    Sources.writeBucketed(o, "b_orders", Seq("o_orderkey"), numBuckets = 4)
    Sources.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), numBuckets = 4)
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey")).count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(2000)}")
    // same result as the plain (shuffled) join
    val plain = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey")).count()
    assert(joined.except(plain).count() === 0 && plain.except(joined).count() === 0)
  }

  test("writePartitioned: filter on partition column prunes at planning time") {
    val docs = Tables.documents(spark, TestSpark.sf).select($"doc_id", $"lang", $"text")
    Sources.writePartitioned(docs, s"$tmp/part_docs", Seq("lang"))
    val langs = docs.select($"lang").distinct().as[String].collect()
    assert(langs.length >= 2, "fixture needs >= 2 partitions to prove pruning")

    val one = spark.read.parquet(s"$tmp/part_docs").filter($"lang" === langs.head)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "scan must carry partition filters")
    // the lang predicate must be a partition filter, NOT a data filter:
    // no pushed-down data filter on lang remains after pruning
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(!pushed.contains("lang"), s"lang must prune, not scan-filter: $pushed")
    // values round-trip and the pruned read returns exactly that partition
    assert(one.count() === docs.filter($"lang" === langs.head).count())
    // directory layout is hive-style lang=<value>
    val dirs = new java.io.File(s"$tmp/part_docs").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(langs.forall(l => dirs.contains(s"lang=$l")))
  }

  test("compact: fragmented layout rewrites to numFiles range-sorted files, content identical") {
    val li = Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val frag = s"target/tmp/sources/compact_frag_${System.nanoTime()}"
    val out = s"target/tmp/sources/compact_out_${System.nanoTime()}"
    li.repartition(16).write.parquet(frag)
    def parts(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts(frag) === 16)

    val back = graft.sources.Sources.compact(spark, frag, out,
      sortCols = Seq("l_orderkey", "l_linenumber"), numFiles = 2)
    assert(parts(out) === 2, "compaction must hit the target file count")
    assert(back.count() === li.count())
    assert(back.except(li).count() === 0 && li.except(back).count() === 0,
      "compaction is layout-only: content must round-trip exactly")
    // range-partitioned + sorted: per-file key ranges must not overlap
    val ranges = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("l_orderkey"))
      .groupBy("f").agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges must be disjoint: $hi1 vs $lo2")
      case _ =>
    }
  }

  test("compactPartitions: only over-threshold partitions rewritten, content identical") {
    import graft.sources.Sources
    val root = s"target/tmp/sources/compactp_${System.nanoTime()}"
    val base = (1L to 300L).map(i => (i, i % 6, i * 1.5)).toDF("id", "p", "v")
    // fragment partitions unevenly: partition p receives p+1 single-file
    // appends (p=0 → 1 file ... p=5 → 6 files). The slice driver uses
    // id DIV 6, which is independent of p = id % 6 — id itself would be
    // perfectly correlated with p and leave residues uncovered.
    for (i <- 0 to 5) {
      base.filter($"p" >= i && expr(s"pmod(id DIV 6, p + 1) = $i"))
        .repartition(1)
        .write.mode("append").partitionBy("p").parquet(root)
    }
    def partFiles(): Map[String, Set[String]] =
      new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("p="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet)
        .toMap
    val before = partFiles()
    assert((0 to 5).forall(p => before(s"p=$p").size == p + 1),
      s"fixture fragmentation shape broken: ${before.view.mapValues(_.size).toMap}")

    val report = Sources.compactPartitions(spark, root, "p",
      sortCols = Seq("id"), maxFiles = 3, numFiles = 1)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(report === Map("3" -> 4, "4" -> 5, "5" -> 6),
      s"must report exactly the >3-file partitions, got $report")
    val after = partFiles()
    for (p <- 0 to 2)
      assert(after(s"p=$p") === before(s"p=$p"),
        s"under-threshold partition p=$p must keep its exact files")
    for (p <- 3 to 5)
      assert(after(s"p=$p").size === 1 && after(s"p=$p") != before(s"p=$p"),
        s"fragmented partition p=$p must be rewritten to one file")
    val back = spark.read.parquet(root).select($"id", $"p".cast("long"), $"v")
    assert(back.except(base).count() === 0 && base.except(back).count() === 0,
      "partition compaction is layout-only: content must round-trip exactly")
  }

  test("parquetColumnStats: footer report covers every file/column, counts sum to row count") {
    import graft.sources.Sources
    val dir = s"target/tmp/sources/pqstats_${System.nanoTime()}"
    val li = Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    Sources.writeSorted(li, dir, Seq("l_orderkey"), numFiles = 3)
    val stats = Sources.parquetColumnStats(spark, dir)
    val rows = stats.collect()
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(rows.map(_.getString(0)).distinct.length === nFiles,
      "every data file must appear in the report")
    assert(rows.map(_.getString(2)).distinct.sorted.toSeq ===
      Seq("l_orderkey", "l_quantity", "l_returnflag"))
    // per column, value counts across files/row-groups sum to the table
    val n = li.count()
    stats.groupBy($"path_in_schema")
      .agg(sum($"num_values").as("nv")).collect()
      .foreach(r => assert(r.getLong(1) === n,
        s"column ${r.getString(0)} counts ${r.getLong(1)} != $n rows"))
    // compression did something measurable on the sorted numeric column
    val key = rows.filter(_.getString(2) == "l_orderkey")
    assert(key.forall(r => r.getLong(4) <= r.getLong(5)),
      "compressed size must not exceed uncompressed for the sorted key")
  }

  test("deleteKeysBucketed: untouched buckets bit-identical, emptied bucket dir dropped, content exact") {
    import graft.sources.Sources
    val root = s"target/tmp/sources/del_${System.nanoTime()}/t"
    // 4 buckets by k % 4 (a portable stand-in bucket function); bucket 3
    // will be deleted ENTIRELY (keys 3, 7, 11, ...)
    val bucket = org.apache.spark.sql.functions.pmod(col("k"), lit(4)).cast("int")
    val base = (1L to 100L).map(k => (k, s"p$k")).toDF("k", "p")
    base.withColumn("kb", bucket)
      .write.partitionBy("kb").parquet(root)
    def files(): Map[String, Set[String]] =
      new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("kb="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet)
        .toMap
    val before = files()
    // delete: every key ≡ 3 (mod 4)  → bucket 3 fully emptied; plus key
    // 8 → bucket 0 partially rewritten; buckets 1, 2 untouched
    val toDel = ((3L to 100L by 4L) :+ 8L).toDF("k")
    val report = Sources.deleteKeysBucketed(spark, root, Seq("k"), 4,
        toDel, bucket = Some(bucket))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(report === Map(
      0 -> ((25L, 1L, 24L)),   // key 8 deleted
      3 -> ((25L, 25L, 0L))),  // whole bucket gone
      "report must cover exactly the touched buckets")
    val after = files()
    assert(!after.contains("kb=3"), "fully-emptied bucket dir must be dropped")
    assert(after("kb=1") === before("kb=1") && after("kb=2") === before("kb=2"),
      "untouched buckets must keep their exact files")
    assert(after("kb=0") !== before("kb=0"), "touched bucket rewritten")
    val remaining = spark.read.parquet(root).select($"k").as[Long]
      .collect().toSet
    assert(remaining === (1L to 100L).filterNot(k => k % 4 == 3 || k == 8L).toSet,
      "surviving content must equal the anti-join exactly")
  }

  test("writeAuditPublish: failing gate leaves the old publish untouched; passing gate swaps atomically") {
    import graft.sources.Sources
    val root = s"target/tmp/sources/wap_${System.nanoTime()}"
    val rules = Seq("v_not_null" -> col("v").isNull)
    val good = Seq((1L, Some("a")), (2L, Some("b"))).toDF("k", "v")
    val (ok1, rep1) = Sources.writeAuditPublish(good,
      s"$root/staging", s"$root/pub", rules)
    assert(ok1 && rep1.collect().forall(_.getBoolean(3)))
    assert(spark.read.parquet(s"$root/pub").count() === 2)
    assert(!new java.io.File(s"$root/staging").exists(),
      "staging must have been renamed away on publish")

    // second batch VIOLATES the rule: the published v1 must survive,
    // the bad bytes stay quarantined in staging
    val bad = Seq((3L, Some("c")), (4L, None: Option[String])).toDF("k", "v")
    val (ok2, rep2) = Sources.writeAuditPublish(bad,
      s"$root/staging", s"$root/pub", rules)
    assert(!ok2)
    assert(rep2.filter(!$"pass").count() === 1L)
    assert(spark.read.parquet(s"$root/pub").select($"k").as[Long]
      .collect().toSet === Set(1L, 2L),
      "failed audit must not touch the published table")
    assert(new java.io.File(s"$root/staging").exists(),
      "failed batch stays staged for inspection")
  }

  test("saltedJoin returns exactly the plain join result (skew mitigation)") {
    val o = Tables.orders(spark, TestSpark.sf).select(col("o_orderkey"), col("o_totalprice"))
    val li = Tables.lineitem(spark, TestSpark.sf).select(col("l_orderkey"), col("l_quantity"))
    val salted = graft.ops.Relational.saltedJoin(li, o, "l_orderkey", "o_orderkey", saltFactor = 8)
      .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0 && plain.except(salted).count() === 0)
  }
}
