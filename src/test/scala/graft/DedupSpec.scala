package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.text.TextOps

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // doc 2 is doc 1 with one word changed; doc 3 is unrelated; doc 4 = doc 1 verbatim
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away home")
  ).toDF("doc_id", "text")

  test("minhashSignatureMd5: k elements, deterministic, identical docs get identical sigs") {
    val sigs = corpus
      .select($"doc_id", Dedup.minhashSignatureMd5(Dedup.shingles($"text"), 6).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs.values.forall(_.length === 6))
    assert(sigs(1L) === sigs(4L), "verbatim dup must have an identical signature")
    assert(sigs(1L) !== sigs(3L))
    // near-dup shares most minima
    val shared = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(shared >= 3, s"near-identical docs should share most minhashes, shared=$shared")
  }

  /** The Column form the md5 MinHash had before the native kernel:
    * hash family j is a 15-hex-digit slice of `md5(⌈j/2⌉ ‖ ':' ‖ s)`,
    * digits 1–15 for odd j and 16–30 for even j — the slicing the DuckDB
    * oracle reads as `CAST('0x' || substr(md5(...), off, 15) AS BIGINT)`. */
  private def portableHash(shingle: org.apache.spark.sql.Column, j: Int) = {
    val digest = md5(concat(lit(s"${(j + 1) / 2}:"), shingle))
    conv(substring(digest, if (j % 2 == 1) 1 else 16, 15), 16, 10).cast("long")
  }

  /** The explode → per-shingle md5 columns → `groupBy(id)` min form of
    * [[Dedup.bandBuckets]] the projection replaced. */
  private def bandBucketsByShuffle(docs: org.apache.spark.sql.DataFrame,
      numHashes: Int, bands: Int) = {
    val r = numHashes / bands
    val sig = docs
      .select($"doc_id", explode(Dedup.shingles($"text", 3)).as("sh"))
      .groupBy($"doc_id")
      .agg(min(portableHash($"sh", 1)).as("mh1"),
        (2 to numHashes).map(j => min(portableHash($"sh", j)).as(s"mh$j")): _*)
    val stackArgs = (1 to bands).flatMap { b =>
      val bandCols = ((b - 1) * r + 1 to b * r).map(j => s"cast(mh$j as string)")
      Seq(b.toString, s"md5(concat_ws('|', ${bandCols.mkString(", ")}))")
    }
    sig.selectExpr("doc_id", s"stack($bands, ${stackArgs.mkString(", ")}) AS (band_id, bucket)")
  }

  test("PARITY portable MinHash kernel == the Column form of the md5 " +
      "slices, k = 5, 6, 8: nulls, empty and null arrays, non-ASCII text") {
    val rnd = new scala.util.Random(43)
    val words = Seq("the", "fox", "naïve", "café", "日本語", "Ω≈ç", "😀 x", "", "a b")
    val arrays: Seq[Option[Seq[String]]] =
      Seq(Some(Nil), None, Some(Seq(null)), Some(Seq(null, "solo"))) ++
        (1 to 60).map(_ => Some(Seq.fill(rnd.nextInt(12))(
          if (rnd.nextInt(8) == 0) null
          else Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" "))))
    // checkpointed, so the projections below run in whole-stage codegen
    // instead of being folded into a local relation
    val df = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("i", "sh")
      .localCheckpoint(true)
    for (k <- Seq(5, 6, 8)) {
      val ref = array((1 to k).map(j =>
        array_min(transform($"sh", s => portableHash(s, j)))): _*)
      def sigs(c: org.apache.spark.sql.Column) =
        df.select($"i", c).as[(Int, Seq[Option[Long]])].collect().sortBy(_._1).map(_._2).toSeq
      val want = sigs(ref)
      assert(sigs(Dedup.minhashSignatureMd5($"sh", k)) === want, s"k=$k codegen")
      val interpreted = arrays.map { a =>
        val out = graft.expr.PortableMinHash(
          Literal.create(a.orNull, ArrayType(StringType)), k).eval(null).asInstanceOf[ArrayData]
        (0 until out.numElements()).map(i => Option.when(!out.isNullAt(i))(out.getLong(i)))
      }
      assert(interpreted === want, s"k=$k interpreted")
    }
  }

  test("PARITY bandBuckets == the explode/groupBy-min form on the corpus " +
      "and on documents at sf0.01") {
    for ((docs, (k, b)) <- Seq(corpus -> (6, 3), corpus -> (8, 4),
        Tables.documents(spark, TestSpark.sf01) -> (6, 3))) {
      val got = Dedup.bandBuckets(docs, "doc_id", "text", k, b)
      val want = bandBucketsByShuffle(docs, k, b)
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.schema.map(f => (f.name, f.dataType)))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"k=$k bands=$b diverged")
      assert(want.count() > 0)
    }
    // a doc with too few tokens (or no text) has no bucket at all
    val short = Seq((1L, "two words"), (2L, null: String), (3L, "three words here"))
      .toDF("doc_id", "text")
    assert(Dedup.bandBuckets(short, "doc_id", "text").select($"doc_id").distinct()
      .as[Long].collect().toSeq === Seq(3L))
  }

  test("candidatePairs finds the planted dups and never the unrelated doc (both paths)") {
    for (buckets <- Seq(
        Dedup.bandBuckets(corpus, "doc_id", "text"),
        Dedup.bandBucketsFast(corpus, "doc_id", "text"))) {
      val pairs = Dedup.candidatePairs(buckets, "doc_id")
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 4L)), "verbatim pair must always collide")
      assert(!pairs.exists { case (a, b) => a == 3L || b == 3L },
        "unrelated doc must not be a candidate")
    }
  }

  test("nearDupPairs: jaccard-verified, threshold filters the near pair correctly") {
    val strict = Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.999)
      .select($"a_doc", $"b_doc").as[(Long, Long)].collect().toSet
    assert(strict === Set((1L, 4L)), s"only the verbatim pair survives 0.999, got $strict")
    val loose = Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select($"a_doc", $"b_doc").as[(Long, Long)].collect().toSet
    assert(loose.contains((1L, 2L)), "one-word-changed pair passes 0.5")
    val j = Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.0)
      .select($"jaccard").as[Double].collect()
    assert(j.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("simhashDups: finds verbatim pair at hamming 0, excludes unrelated doc") {
    val pairs = Dedup.simhashDups(corpus, hamMax = 3, bands = 4)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.get((1L, 4L)) === Some(0), "verbatim dup must pair at hamming 0")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair within hamming 3")
  }

  test("simhashDups: banded join is EXACT vs brute-force hamming (pigeonhole)") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val hamMax = 3
    val banded = Dedup.simhashDups(docs, hamMax = hamMax, bands = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sigs = docs
      .filter(size(TextOps.tokens($"text")) >= 3)
      .select($"doc_id",
        graft.exprapi.simhash64(Dedup.shingles($"text", 3)).as("sig"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= hamMax
    } yield (a, b)).toSet
    assert(banded === brute,
      s"banded=${banded.size} brute=${brute.size} — hamMax<bands must be exact")
    assertThrows[IllegalArgumentException](
      Dedup.simhashDups(corpus, hamMax = 4, bands = 4))
    // bands must divide 64: width-0 slices would put EVERY doc in one
    // bucket (the quadratic regime the operator exists to avoid)
    assertThrows[IllegalArgumentException](
      Dedup.simhashDups(corpus, hamMax = 3, bands = 65))
    assertThrows[IllegalArgumentException](
      Dedup.simhashDups(corpus, hamMax = 3, bands = 5))
  }

  test("simhashDupsWithDiagnostics: dropped buckets are observable, not silent") {
    // maxBucketSize=1 forces EVERY >=2-member bucket over the cap: the
    // pairs side goes empty and every dropped bucket shows up on the
    // diagnostics side with its true size
    val (dups, dropped) = Dedup.simhashDupsWithDiagnostics(
      corpus, hamMax = 3, bands = 4, maxBucketSize = 1)
    assert(dups.count() === 0L, "saturated buckets must yield no pairs")
    val d = dropped.select($"bucket_size").as[Int].collect()
    assert(d.nonEmpty, "recall loss must be visible on the diagnostics side")
    assert(d.forall(_ >= 2), s"dropped buckets must report their size, got ${d.toSeq}")
    // generous cap: nothing dropped, diagnostics empty, pairs unchanged
    val (full, none) = Dedup.simhashDupsWithDiagnostics(corpus, hamMax = 3, bands = 4)
    assert(none.count() === 0L)
    assert(full.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet ===
      Dedup.simhashDups(corpus, hamMax = 3, bands = 4)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
  }

  test("dupClustersAlternating == dupClusters on chains, stars, merges, and the real pair graph") {
    def pairsOf(es: (Long, Long)*) = es.toDF("a_doc", "b_doc")
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      // 10-node path with labels against the grain — the diameter case the
      // star contraction exists to collapse
      ("path", pairsOf((10L, 9L), (9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L),
        (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L))),
      ("star", pairsOf((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L))),
      ("two components + dup edge", pairsOf((1L, 2L), (2L, 1L), (7L, 9L))),
      ("bridge merge", pairsOf((1L, 2L), (3L, 4L), (2L, 3L))),
      ("self loop + pair", pairsOf((6L, 6L), (6L, 8L)))
    )
    shapes.foreach { case (name, ps) =>
      val a = Dedup.dupClusters(ps).as[(Long, Long)].collect().toSet
      val b = Dedup.dupClustersAlternating(ps).as[(Long, Long)].collect().toSet
      assert(a === b, s"shape '$name': alternating=$b minLabel=$a")
    }
    // the q16 production pair graph at test SF
    val real = Dedup.nearDupPairs(
      Tables.documents(spark, TestSpark.sf), "doc_id", "text", threshold = 0.7)
      .select($"a_doc", $"b_doc")
    val a = Dedup.dupClusters(real).as[(Long, Long)].collect().toSet
    val b = Dedup.dupClustersAlternating(real).as[(Long, Long)].collect().toSet
    assert(a === b)
    assert(b.nonEmpty)
    spark.catalog.clearCache()
  }

  test("dupClusters: min-label components, multi-round chains, survivor rule") {
    // two components: a 5-node path (diameter 4 — needs >1 round) and a pair;
    // labels deliberately NOT in path order so propagation must travel
    val pairs = Seq(
      (9L, 2L), (2L, 7L), (7L, 1L), (1L, 5L), // path 9-2-7-1-5 → min 1
      (20L, 30L)                              // pair → min 20
    ).toDF("a_doc", "b_doc")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(
      9L -> 1L, 2L -> 1L, 7L -> 1L, 1L -> 1L, 5L -> 1L,
      20L -> 20L, 30L -> 20L))
    // survivor rule: exactly one doc per cluster keeps doc_id == cluster_id
    val survivors = got.filter { case (id, c) => id == c }.keys.toSet
    assert(survivors === Set(1L, 20L))
    // checkpoint-materialized result: unpersist stays a safe no-op for
    // callers that followed the old persisted-frame contract
    Dedup.dupClusters(pairs).unpersist()
  }

  test("dupClusters: string ids cluster lexicographically; too-deep graph throws") {
    // the convergence witness must be type-agnostic, not numeric-only
    val pairs = Seq(("uuid-c", "uuid-a"), ("uuid-a", "uuid-b")).toDF("a_doc", "b_doc")
    val got = Dedup.dupClusters(pairs).as[(String, String)].collect().toMap
    assert(got === Map("uuid-a" -> "uuid-a", "uuid-b" -> "uuid-a", "uuid-c" -> "uuid-a"))
    // refusing to return a partial clustering beats silently splitting a
    // component into several "survivors"
    val chain = (1L to 8L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("a_doc", "b_doc")
    assertThrows[IllegalStateException](Dedup.dupClusters(chain, maxIters = 1))
  }

  test("LSH candidate count is far below n^2 on real fixture data") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs.count()
    val cands = Dedup.candidatePairs(
      Dedup.bandBucketsFast(docs, "doc_id", "text"), "doc_id").count()
    assert(cands < n * (n - 1) / 20,
      s"candidates=$cands must be <<< all-pairs=${n * (n - 1) / 2}")
  }

  test("dupSpanCoverage: interval union over cross-doc 3-grams, disjoint spans, clean docs absent") {
    val docs = Seq(
      (1L, "a b c d e f g h"),            // shares "a b c d" with doc 2
      (2L, "x x a b c d y y z"),
      (3L, "p q r s t u v w"),            // clean — must not appear
      (4L, "a b c z z z b c d q")         // two DISJOINT duplicated spans
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, "doc_id", "text", l = 3, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === Set(1L, 2L, 4L))
    // doc 1: grams (a b c)@1 and (b c d)@2 overlap -> one span [1,4]
    assert(out(1L) === ((8L, 1L, 4L, 500000L)))
    // doc 2: same two grams at 3/4 -> one span [3,6] of 9 tokens
    assert(out(2L) === ((9L, 1L, 4L, 444444L)))
    // doc 4: (a b c)@1 and (b c d)@7 -> two islands [1,3] and [7,9]
    assert(out(4L) === ((10L, 2L, 6L, 600000L)))
  }

  test("crossDocSubstrings: a planted verbatim cross-doc run is found and " +
      "extends to EXACTLY its length; clean docs never pair") {
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ") // 30-token run
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"zeta eta $shared theta iota kappa"),
      (3L, "unrelated words only nothing common here at all with anything")
    ).toDF("doc_id", "text")
    // window >= run length so any anchored gram measures the full run
    val got = Dedup.crossDocSubstrings(docs, "doc_id", "text",
        k = 4, anchorMod = 2, window = 32, minLen = 8)
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)),
      s"exactly the planted pair must surface: ${got.mkString(", ")}")
    assert(got.head.getAs[Long]("max_len") === 30L,
      "the 30-token planted run must extend to exactly 30 — boundaries " +
        "differ on both sides, so neither direction can over-extend")
    // a run ending AT the document edge must stop at the guard, not
    // index from the end: doc 5 ENDS with the run's first 10 tokens
    val edge = Seq(
      (4L, s"$shared x1 x2"),
      (5L, "y1 y2 " + (1 to 10).map(i => s"tok$i").mkString(" "))
    ).toDF("doc_id", "text")
    val e = Dedup.crossDocSubstrings(edge, "doc_id", "text",
        k = 4, anchorMod = 1, window = 32, minLen = 4)
      .collect()
    assert(e.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((4L, 5L)))
    assert(e.head.getAs[Long]("max_len") === 10L,
      "edge-bounded run is exactly the 10 shared tokens")
  }

  test("stitchedSubstrings recovers a planted verbatim run FAR beyond the " +
      "per-anchor window; the bounded form saturates at k + 2*window") {
    val shared = (1 to 200).map(i => s"tok$i").mkString(" ") // 200 tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"x0 $shared y0 y1"),
      (3L, "unrelated words only nothing common here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.stitchedSubstrings(docs, "doc_id", "text",
        k = 8, anchorMod = 4, window = 48, minLen = 16)
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(got.head.getAs[Long]("max_run") === 200L,
      "the diagonal stitch must recover the FULL 200-token run " +
        "(4x the 48-token window)")
    // the bounded-window member of the family tops out at k + 2*window
    val bounded = Dedup.crossDocSubstrings(docs, "doc_id", "text",
        k = 8, anchorMod = 4, window = 48, minLen = 16)
      .collect()
    assert(bounded.head.getAs[Long]("max_len") === (8L + 2L * 48L))
  }

  test("crossDocSubstrings boilerplate corpus: the per-gram cap bounds " +
      "candidates AND the dropped postings are VISIBLE in the diagnostics " +
      "frame, never a silent recall loss") {
    // every doc opens with the same 4-token header (the header-gram
    // pathology from the round-11 verdict): 10 postings on one gram,
    // cap 4 -> 6 dropped, candidate pairs bounded by C(cap,2)
    val header = "h1 h2 h3 h4"
    val docs = (1L to 10L).map(i =>
      (i, s"$header u${i}a u${i}b u${i}c u${i}d")).toDF("doc_id", "text")
    val (pairs, diag) = Dedup.crossDocSubstringsWithDiagnostics(
      docs, "doc_id", "text",
      k = 4, anchorMod = 1, window = 8, minLen = 4, maxPerGram = 4)
    val d = diag.collect()
    assert(d.length === 1, s"exactly the header gram saturates: ${d.mkString}")
    assert(d.head.getAs[String]("gram") === header)
    assert(d.head.getAs[Long]("postings") === 10L)
    assert(d.head.getAs[Long]("dropped") === 6L)
    // the capped join touched at most C(4,2) doc pairs — the silent-cap
    // volume bound the 100 TB story leans on
    val p = pairs.collect()
    assert(p.nonEmpty && p.length <= 6,
      s"candidates must stay within cap*(cap-1)/2: ${p.length}")
    assert(p.forall(_.getAs[Long]("max_len") === 4L),
      "survivor pairs share exactly the 4-token header")
    // the stitched sibling rides the same core and the same frame
    val (_, diag2) = Dedup.stitchedSubstringsWithDiagnostics(
      docs, "doc_id", "text",
      k = 4, anchorMod = 1, window = 8, minLen = 4, maxPerGram = 4)
    assert(diag2.collect().map(_.getAs[Long]("dropped")).toSeq === Seq(6L))
    // an unsaturated corpus reports an EMPTY frame (exactness holds)
    val (_, clean) = Dedup.crossDocSubstringsWithDiagnostics(
      docs, "doc_id", "text",
      k = 4, anchorMod = 1, window = 8, minLen = 4, maxPerGram = 16)
    assert(clean.isEmpty)
  }

  test("clusterSurvivors: the policy chain CHANGES the survivor vs the " +
      "length-only and min-id rules, and ranks strictly lexicographically") {
    // one 3-member cluster where every rule disagrees:
    //   min-id        -> doc 1 (worst tier, longest)
    //   length-only   -> doc 1 (n_tok 50)
    //   policy chain  -> doc 3 (best src tier wins before quality/length)
    val members = Seq(
      (1L, 3L, 900000L, 50L, 10L), // (doc, src_tier, quality_ppm, n_tok, cluster)
      (2L, 1L, 800000L, 40L, 10L),
      (3L, 0L, 100000L, 5L, 10L),
      // a second cluster exercises the quality tie-break inside one tier
      (7L, 2L, 700000L, 8L, 20L),
      (8L, 2L, 900000L, 6L, 20L)
    ).toDF("doc_id", "src_tier", "quality_ppm", "n_tok", "cluster_id")
    val policy = Dedup.clusterSurvivors(members, "cluster_id",
        Seq($"src_tier".asc, $"quality_ppm".desc, $"n_tok".desc, $"doc_id".asc))
      .select($"cluster_id", $"doc_id").as[(Long, Long)].collect().toMap
    assert(policy === Map(10L -> 3L, 20L -> 8L),
      s"tier dominates, then quality: $policy")
    val lengthOnly = Dedup.clusterSurvivors(members, "cluster_id",
        Seq($"n_tok".desc, $"doc_id".asc))
      .select($"cluster_id", $"doc_id").as[(Long, Long)].collect().toMap
    assert(lengthOnly === Map(10L -> 1L, 20L -> 7L))
    assert(policy(10L) !== lengthOnly(10L),
      "the parameterized policy must actually change the q404 outcome")
  }

  test("exactDedup keeps exactly one survivor per fingerprint, the lowest id") {
    val d = Seq(
      (10L, "Hello,  World!"), (7L, "hello world"), (3L, "something else")
    ).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(d, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(7L, 3L), "10 is a normalized dup of 7; 7 < 10 survives")
  }

  test("contaminationReport: planted benchmark text is flagged with the right hit count, clean docs are not") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the full bench sentence → every one of its 4-grams hits;
      // the sentence has 9 tokens = 6 distinct 4-grams
      (1L, "prefix words the quick brown fox jumps over the lazy dog suffix"),
      // one shared 4-gram only
      (2L, "quick brown fox jumps somewhere else entirely now"),
      // disjoint vocabulary → must not appear
      (3L, "completely unrelated content about spark plans")
    ).toDF("doc_id", "text")
    val hits = graft.llm.Dedup
      .contaminationReport(corpus, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(hits.keySet === Set(1L, 2L), s"wrong docs flagged: $hits")
    assert(hits(1L) === 6L, "full containment hits every bench 4-gram")
    assert(hits(2L) === 1L, "single shared 4-gram counts once")

    // the benchmark side must broadcast — the corpus side never shuffles
    val plan = graft.llm.Dedup
      .contaminationReport(corpus, bench, "doc_id", "text", n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the join:\n$plan")
  }

  test("selectSurvivors: highest quality wins per cluster, min-id on ties") {
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 10L), (2L, 50L), (4L, 10L), (7L, 3L), (8L, 3L))
      .toDF("doc_id", "n_tok")
    val got = Dedup.selectSurvivors(clusters, quality, "doc_id", "n_tok")
      .select($"cluster_id", $"survivor_id", $"n_tok")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 50L), (7L, 7L, 3L)),
      s"cluster 1 keeps its longest member, cluster 7 breaks the tie by min id: $got")
  }

  test("incrementalDupMarks: only cross-side pairs, equals the full run restricted to cross-side") {
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home"),
      (3L, "completely different content about spark query engines and shuffles here")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (11L, "entirely novel text with no overlap to anything stored before now"),
      (12L, "the quick brown fox jumps over the lazy dog and runs far away home")
    ).toDF("doc_id", "text")
    val marks = Dedup.incrementalDupMarks(fresh, old, "doc_id", "text", threshold = 0.5)
      .select($"a_doc", $"b_doc").as[(Long, Long)].collect().toSet
    assert(marks.contains((10L, 1L)) && marks.contains((12L, 1L)),
      s"verbatim copies of stored doc 1 must be marked: $marks")
    assert(marks.forall { case (a, b) => a >= 10L && b < 10L },
      s"never new×new or old×old pairs: $marks")
    assert(!marks.exists { case (a, b) => a == 11L || b == 3L },
      s"unrelated docs must not pair: $marks")

    // equals the monolithic run restricted to cross-side pairs
    val all = old.unionByName(fresh)
    val full = Dedup.jaccardVerify(all,
        Dedup.candidatePairs(Dedup.bandBuckets(all, "doc_id", "text"), "doc_id"),
        "doc_id", "text", threshold = 0.5)
      .select($"a_doc", $"b_doc").as[(Long, Long)].collect().toSet
    val crossFromFull = full.collect {
      case (a, b) if a >= 10L && b < 10L => (a, b)
      case (a, b) if b >= 10L && a < 10L => (b, a)
    }
    assert(marks === crossFromFull,
      s"incremental must equal full-run cross-side: $marks vs $crossFromFull")
  }

  test("contaminationReportBloom: bit-identical to the exact path, no broadcast, empty-bench safe") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val exact = graft.llm.Dedup
      .contaminationReport(corpus, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    val bloomed = graft.llm.Dedup
      .contaminationReportBloom(corpus, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "fixture must actually contain contamination")
    assert(bloomed === exact, "bloom pre-filter must never change the answer")

    // the scale contract: the verify join is NOT a broadcast join (this is
    // the beyond-broadcast regime), and the probe is the codegen'd
    // might_contain, not a UDF
    val plan = graft.llm.Dedup
      .contaminationReportBloom(corpus, bench, "doc_id", "text", n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")

    val empty = graft.llm.Dedup.contaminationReportBloom(
      corpus, bench.limit(0), "doc_id", "text", n = 4)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("doc_id", "n_hit_grams"))
  }

  test("native minhash_sig: deterministic, identical for identical input, SQL-registered") {
    val df = corpus.select($"doc_id",
      graft.exprapi.minhashSig(Dedup.shingles($"text"), 8).as("sig"))
    val sigs = df.as[(Long, Seq[Long])].collect().toMap
    assert(sigs.values.forall(_.length === 8))
    assert(sigs(1L) === sigs(4L))
    assert(sigs(1L) !== sigs(3L))
    // same result through the SQL surface (GraftExtensions)
    corpus.createOrReplaceTempView("dedup_corpus")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_sig(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 8) AS sig " +
        "FROM dedup_corpus").as[(Long, Seq[Long])].collect().toMap
    // SQL path shingles differently (unigrams) — only check it parses + runs
    assert(viaSql.size === 4)
    // remaining registered functions parse and agree with the Column API
    val sqlShingles = spark.sql(
      "SELECT word_shingles(array('a','b','c'), 2) AS s").as[Seq[String]].head()
    assert(sqlShingles === Seq("a b", "b c"))
    val sqlDot = spark.sql(
      "SELECT quantized_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").as[Long].head()
    assert(sqlDot === math.floor(3.0 * 1e12).toLong + math.floor(8.0 * 1e12).toLong)
    val sqlSim = spark.sql(
      "SELECT simhash64(array('x','y')) AS h, simhash64(array('x','y')) AS h2")
      .as[(Long, Long)].head()
    assert(sqlSim._1 === sqlSim._2)
  }

  test("simhash64: hamming distance separates near-dups from unrelated docs") {
    val h = corpus.select($"doc_id",
        graft.exprapi.simhash64(TextOps.tokens($"text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(4L))
    val near = graft.expr.SimHash64.hamming(h(1L), h(2L))
    val far = graft.expr.SimHash64.hamming(h(1L), h(3L))
    assert(near < far, s"near=$near must be < far=$far")
    assert(near <= 16, s"one-word change should flip few bits, got $near")
  }

  test("containmentMarks: whole-item inclusion flags at 1.0 where Jaccard under-triggers") {
    // bench doc 100 is fully embedded in corpus doc 10 (a long doc), so
    // containment = 1.0 while Jaccard(10, 100) is far below any near-dup
    // threshold; doc 11 shares nothing; doc 12 holds roughly half.
    val corpusSide = Seq(
      (10L, "intro text first the quick brown fox jumps over the lazy dog " +
        "conclusion text follows with much more unrelated filler material here"),
      (11L, "completely different content about spark query engines and plans"),
      (12L, "padding words the quick brown fox jumps nothing else matches now")
    ).toDF("doc_id", "text")
    val benchSide = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")

    val marks = Dedup.containmentMarks(corpusSide, benchSide,
      "doc_id", "text", threshold = 0.0, shingleWidth = 4)
      .select($"c_doc", $"containment").as[(Long, Double)].collect().toMap
    assert(marks(10L) === 1.0, "full inclusion must read containment 1.0")
    assert(!marks.contains(11L), "no shared shingles, no row")
    assert(marks(12L) > 0.2 && marks(12L) < 0.8, "partial overlap in between")

    // the threshold gates rows, and the asymmetric metric catches what
    // union-normalized Jaccard misses at typical thresholds
    val gated = Dedup.containmentMarks(corpusSide, benchSide,
      "doc_id", "text", threshold = 0.9, shingleWidth = 4)
      .select($"c_doc").as[Long].collect().toSeq
    assert(gated === Seq(10L))
    val jac = Dedup.jaccardVerify(
      corpusSide.unionByName(benchSide),
      Seq((10L, 100L)).toDF("a_doc", "b_doc"),
      "doc_id", "text", threshold = 0.0, shingleWidth = 4)
      .select($"jaccard").as[Double].head()
    assert(jac < 0.6, s"union-normalized Jaccard reads low ($jac) on the " +
      "same pair containment flags at 1.0 - the metric this operator adds")
  }

  test("semanticDedup: decisions == all-pairs int8 baseline restricted to shared cells") {
    import graft.llm.Similarity
    val e = Tables.embeddings(spark, TestSpark.sf)
    val idx = Similarity.fitIvfIndex(
      e.select($"vec_id".as("n_id"), $"embedding".as("n_emb")),
      nlist = 8, persistCells = false)
    val assigns = idx.cells.select($"n_id".as("vec_id"), $"cell")
    val kept = Dedup.semanticDedup(assigns, e, tau2E4 = 1600L)
      .as[(Long, Int)].collect().toMap

    // independent ground truth: q42's exact all-pairs predicate, filtered
    // to pairs the coarse cells co-locate — exactly those ids must drop
    val cellOf = assigns.as[(Long, Int)].collect().toMap
    val dropped = Similarity.int8NearDupPairs(e, tau2E4 = 1600L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => cellOf(a) == cellOf(b) }
      .map(_._2).toSet
    assert(dropped.nonEmpty,
      "fixture must co-locate at least one near-dup pair for the test to bite")
    assert(kept.keySet === cellOf.keySet -- dropped,
      "kept set must be the corpus minus same-cell lower-id near-dups")
    // survivors carry their fitted cell through unchanged
    kept.foreach { case (id, c) => assert(c === cellOf(id)) }
  }

  test("exactJaccardPairs: posting-join ground truth == brute-force over all pairs") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),          // verbatim dup of 1
      (3L, "a b c d x y z w"),          // partial overlap with 1
      (4L, "p q r s t u v w"),          // disjoint-ish (shares 'w'? tokens not shingles)
      (5L, "totally different words entirely here now ok")
    ).toDF("doc_id", "text")
    val got = Dedup.exactJaccardPairs(docs, "doc_id", "text",
      threshold = 0.0, sampleFilter = lit(true))
      .select($"a_doc", $"b_doc", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // brute force: every pair, shingle sets intersected in plain Scala
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = docs.as[(Long, String)].collect().toMap
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = shingles(texts(a)); sb = shingles(texts(b))
      inter = (sa & sb).size if inter > 0
    } yield (a, b, inter.toDouble / (sa.size + sb.size - inter))).toSet
    assert(got === want)
    assert(got.contains((1L, 2L, 1.0)), "verbatim pair at jaccard 1.0")
    // threshold and sample filters prune as declared
    val hi = Dedup.exactJaccardPairs(docs, "doc_id", "text",
      threshold = 0.9, sampleFilter = lit(true))
      .select($"a_doc", $"b_doc").as[(Long, Long)].collect().toSet
    assert(hi === Set((1L, 2L)))
    // the sample binds the LOWER endpoint: sampling doc 1 yields its
    // pairs with higher-id partners (2 and 3) and nothing else
    val sampled = Dedup.exactJaccardPairs(docs, "doc_id", "text",
      threshold = 0.0, sampleFilter = col("doc_id") === 1L)
      .select($"a_doc", $"b_doc").as[(Long, Long)].collect().toSet
    assert(sampled === Set((1L, 2L), (1L, 3L)),
      "only sampled lower endpoints may appear")
  }

  test("semanticDedup: maxCellSize cap skips oversized cells, keeps small-cell drops") {
    import graft.llm.Similarity
    val e = Tables.embeddings(spark, TestSpark.sf)
    val idx = Similarity.fitIvfIndex(
      e.select($"vec_id".as("n_id"), $"embedding".as("n_emb")),
      nlist = 8, persistCells = false)
    val assigns = idx.cells.select($"n_id".as("vec_id"), $"cell")
    val sizes = assigns.groupBy($"cell").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().sortBy(-_._2)
    // cap chosen strictly between the largest and smallest cell so the cap
    // provably engages on some cells and spares others
    assert(sizes.length >= 2 && sizes.head._2 > sizes.last._2,
      "fixture must give skewed cells for the cap test to bite")
    val cap = sizes.head._2.toInt - 1
    val capped = Dedup.semanticDedup(assigns, e, tau2E4 = 1600L,
      maxCellSize = cap).as[(Long, Int)].collect().toMap
    val uncapped = Dedup.semanticDedup(assigns, e, tau2E4 = 1600L)
      .as[(Long, Int)].collect().toMap
    val over = Dedup.oversizedCells(assigns, cap)
      .as[(Int, Long)].collect().toMap
    assert(over.keySet === sizes.filter(_._2 > cap).map(_._1).toSet,
      "diagnostic must name exactly the cells above the cap")
    val cellOf = assigns.as[(Long, Int)].collect().toMap
    // members of oversized cells all survive under the cap
    val overMembers = cellOf.collect { case (id, c) if over.contains(c) => id }
    assert(overMembers.forall(capped.contains),
      "every member of a capped cell must be kept")
    // decisions for members of small cells are unchanged by the cap
    val smallMembers = cellOf.collect { case (id, c) if !over.contains(c) => id }
    assert(smallMembers.forall(id => capped.contains(id) == uncapped.contains(id)),
      "cap must not change decisions inside cells under the cap")
    // and the cap strictly changed SOMETHING iff the big cell had drops
    val bigDrops = overMembers.count(id => !uncapped.contains(id))
    assert(capped.size == uncapped.size + bigDrops)
  }

  test("hamming64CrossDups: candidates need a shared band, verify is exact, " +
      "right-side cap drops the md5-order tail") {
    val left = Seq((1L, 0L), (2L, -1L)).toDF("lid", "sig")
    val right = Seq((10L, 3L), (11L, 0L), (12L, Long.MinValue))
      .toDF("rid", "sig")
    val pairs = Dedup
      .hamming64CrossDups(left, "lid", right, "rid", "sig",
        hamMax = 3, bands = 4)
      .as[(Long, Long, Int)].collect().toSet
    // sig 0 shares ≥1 of the 4 16-bit bands with 3 (bands 1-3), with 0
    // (all) and with MinValue (bands 0-2); hammings 2/0/1. sig -1
    // (all-ones bands) shares nothing within ≤3 bits.
    assert(pairs === Set((1L, 10L, 2), (1L, 11L, 0), (1L, 12L, 1)))
    // cap: two identical right sigs, cap 1 → exactly one survives the
    // md5-order window, so the left row pairs once
    val dupRight = Seq((10L, 0L), (11L, 0L)).toDF("rid", "sig")
    val capped = Dedup.hamming64CrossDups(
        Seq((1L, 0L)).toDF("lid", "sig"), "lid", dupRight, "rid", "sig",
        hamMax = 3, bands = 4, maxRightPerKey = 1)
      .as[(Long, Long, Int)].collect()
    assert(capped.length === 1 && capped.head._3 === 0)
  }

  test("hamming index: partition-pruned probe equals the unpruned cross " +
      "join and the scan carries a kb partition filter") {
    val path = s"target/tmp/dedup/hidx_${System.nanoTime()}"
    val rnd = new scala.util.Random(41)
    val base = (1L to 200L).map(i => (i, rnd.nextLong())).toDF("id", "sig")
    Dedup.writeHammingIndex(base, "id", "sig", path,
      bands = 4, kbBuckets = 16)
    // probes: 5 exact copies (ham 0) + 5 one-bit flips (ham 1)
    val baseRows = base.as[(Long, Long)].collect()
    val probeRows = baseRows.take(5).map { case (i, s) => (i + 1000L, s) } ++
      baseRows.slice(5, 10).map { case (i, s) => (i + 1000L, s ^ 1L) }
    val probeDf = probeRows.toSeq.toDF("q_id", "sig")
    val viaIndex = Dedup.probeHammingIndex(spark, path, probeDf,
      "q_id", "sig", hamMax = 3, bands = 4, kbBuckets = 16)
    val plan = viaIndex.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters: [kb") ||
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("kb")),
      s"probe scan must prune kb partitions:\n${plan.take(2000)}")
    val got = viaIndex.as[(Long, Long, Int)].collect().toSet
    val brute = Dedup.hamming64CrossDups(probeDf, "q_id",
        base, "id", "sig", hamMax = 3, bands = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute)
    // planted recall: each probe finds its source
    probeRows.foreach { case (qid, _) =>
      assert(got.exists(t => t._1 == qid && t._2 == qid - 1000L), s"$qid")
    }
  }

  test("q468 multi-signal survivors: text and perceptual edges chain into " +
      "one component per doc; the joint policy picks the longest text") {
    // the corpus construction plants, per original doc d: a text edge
    // d–(d+1e6) and a perceptual image edge d–(d+2e6). Recall of BOTH
    // signals is pinned by Σ n_members == 3·N (a missed text edge
    // orphans B out of every cluster; a missed image edge orphans C)
    // and by n_members ≡ 0 mod 3 (merges happen only at whole-triple
    // granularity). Rare CHANCE perceptual near-collisions between
    // unrelated md5 images may merge a handful of triples — real
    // near-dup behavior, tolerated up to 1% — and the survivor policy
    // must still pick a C member (the '… v2' texts are strictly
    // longest, within and across triples).
    val out = SparkEntry
      .queries("q468_multisignal_survivors")(spark, TestSpark.sf)
      .collect()
    val nDocs = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id")).as[Long].collect().length
    assert(out.map(_.getAs[Long]("n_members")).sum === 3L * nDocs)
    out.foreach { r =>
      assert(r.getAs[Long]("n_members") % 3 === 0L, r.toString)
      assert(r.getAs[Long]("survivor_id") >= 2000000L, r.toString)
    }
    val merged = out.count(_.getAs[Long]("n_members") != 3L)
    assert(merged <= nDocs / 100,
      s"$merged merged clusters — chance collisions should be rare")
  }

  test("q502 hamming-index merge: probe(merged) == distinct(probe(a) ∪ " +
      "probe(b)) and equals a from-scratch full rebuild") {
    import graft.queries.QueryShared
    val got = SparkEntry.queries("q502_index_merge")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.nonEmpty, "probe against the merged index must hit " +
      "(near-identical planted probes exist)")
    val probes = spark.read.parquet(
      graft.queries.QueryShared.predsPath("q502_probe_sigs"))
    def probe(path: String) =
      graft.llm.Dedup.probeHammingIndex(spark,
          graft.queries.QueryShared.predsPath(path), probes, "q_id", "sig",
          hamMax = 7, bands = 8, kbBuckets = QueryShared.IndexKbBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === (probe("q502_index_a") ++ probe("q502_index_b")),
      "merged-index probe must equal the union of per-segment probes")
    // strongest form: merge == full rebuild over all signatures
    val imgs = graft.multimodal.Multimodal.syntheticAssets(spark, 900)
      .filter(org.apache.spark.sql.functions.col("modality") === "image")
    val full = graft.queries.QueryShared.predsPath("q502_index_full")
    graft.llm.Dedup.writeHammingIndex(
      graft.multimodal.Multimodal.imageSignatures(imgs), "asset_id", "sig",
      full, kbBuckets = QueryShared.IndexKbBuckets)
    assert(got === probe("q502_index_full"),
      "merging two epoch layouts must equal indexing the full corpus")
  }

  test("q505 index erasure: deleted ids vanish from layout AND probes, " +
      "survivors are untouched, and only determined dirs are rewritten") {
    import org.apache.spark.sql.functions._
    import graft.queries.QueryShared
    val imgs = graft.multimodal.Multimodal.syntheticAssets(spark, 900)
      .filter(col("modality") === "image")
    val sigs = graft.multimodal.Multimodal.imageSignatures(imgs)
      .cache()
    val path = graft.queries.QueryShared.predsPath("q505_spec_index")
    graft.llm.Dedup.writeHammingIndex(sigs, "asset_id", "sig", path,
      kbBuckets = QueryShared.IndexKbBuckets)
    val probes = sigs.filter(col("asset_id") % 5 === 1)
      .select((col("asset_id") + 500000L).as("q_id"), col("sig"))
      .cache()
    def probe() = graft.llm.Dedup.probeHammingIndex(spark, path, probes,
        "q_id", "sig", hamMax = 7, bands = 8,
        kbBuckets = QueryShared.IndexKbBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probe()
    val delIds = sigs.filter(col("asset_id") % 7 === 0)
      .select(col("asset_id")).collect().map(_.getLong(0)).toSet
    // snapshot the layout's file metadata before the delete
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.lastModified() ^ f.length()))
        .toMap
    }
    val preFiles = files()
    val dels = sigs.filter(col("asset_id") % 7 === 0)
      .select(col("asset_id").as("id"), col("sig"))
    val (touched, _) = graft.llm.Dedup.deleteFromHammingIndex(spark, path,
      dels, kbBuckets = QueryShared.IndexKbBuckets)
    assert(touched > 0 && touched <= 8 * QueryShared.IndexKbBuckets)
    // law 1: the layout holds no deleted id anywhere
    val residual = spark.read.parquet(path)
      .filter(col("id").isin(delIds.toSeq.map(Long.box): _*)).count()
    assert(residual === 0L, "deleted ids must not survive in any dir")
    // law 2: probe(after) == probe(before) minus deleted-id pairs
    assert(probe() === before.filterNot(p => delIds(p._2)),
      "post-erasure probes must lose exactly the deleted ids' pairs")
    // law 3: files in dirs the deletes do not determine are byte-stable
    val touchedDirs = dels
      .select(explode(org.apache.spark.sql.functions.array(
        (0 until 8).map(b => struct(lit(b).as("band"),
          pmod(shiftrightunsigned(col("sig"), b * 8)
            .bitwiseAND(lit(255L)),
            lit(QueryShared.IndexKbBuckets.toLong)).cast("int")
            .as("kb"))): _*)).as("bk"))
      .select(col("bk.band"), col("bk.kb")).distinct()
      .collect().map(r => s"band=${r.getInt(0)}/kb=${r.getInt(1)}").toSet
    val postFiles = files()
    preFiles.foreach { case (f, sigHash) =>
      if (!touchedDirs.exists(f.contains)) {
        assert(postFiles.get(f).contains(sigHash),
          s"untouched dir file $f was rewritten — not O(touched dirs)")
      }
    }
    sigs.unpersist(); probes.unpersist()
  }

  test("q503 decon scorecard: verbatim leg equals a from-scratch " +
      "shingle replay; semantic leg equals the artifact recompute; " +
      "ppm identities hold") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q503_decon_scorecard")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))))
      .toMap
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        "[a-z0-9]+".r.findAllIn(r.getString(2).toLowerCase).toSeq))
    def grams(ts: Seq[String]): Set[String] =
      if (ts.length < 8) Set.empty
      else ts.sliding(8).map(_.mkString(" ")).toSet
    val evalG = docs.filter(_._1 % 50 == 0).flatMap(d => grams(d._3)).toSet
    val verbatim = docs.filter(_._1 % 50 != 0)
      .filter(d => grams(d._3).exists(evalG)).map(_._1).toSet
    // semantic from the persisted artifacts (independent dot recompute)
    val units = spark.read.parquet(
        graft.queries.QueryShared.predsPath("q503_units"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Long =
      a.indices.map(i =>
        math.floor(a(i).toDouble * b(i).toDouble * 1e12).toLong).sum
    val semantic = spark.read.parquet(
        graft.queries.QueryShared.predsPath("q503_cands"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (q, n) => dot(units(q), units(n)) >= 950000000000L }
      .map(_._2).toSet
    val bySource = docs.filter(_._1 % 50 != 0).groupBy(_._2)
    assert(rows.keySet === bySource.keySet)
    bySource.foreach { case (src, ds) =>
      val n = ds.length.toLong
      val vh = ds.count(d => verbatim(d._1)).toLong
      val sh = ds.count(d => semantic(d._1)).toLong
      val (gn, gv, gs, gvp, gsp) = rows(src)
      assert(gn === n, src)
      assert(gv === vh, s"$src verbatim")
      assert(gs === sh, s"$src semantic")
      assert(gvp === vh * 1000000L / math.max(n, 1L), src)
      assert(gsp === sh * 1000000L / math.max(n, 1L), src)
    }
    assert(verbatim.nonEmpty,
      "fixture's cross-doc duplicate structure must produce verbatim hits")
  }
}
