package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextOps

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "the the THE a an of"),
    (3L, "one-token"),
    (4L, "xy"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("tokens: lowercases, strips punctuation, drops empties") {
    val got = docs.select($"doc_id", TextOps.tokens($"text").as("ts"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"))
    assert(got(3L) === Seq("one", "token"))
    assert(got(5L) === Seq.empty)
  }

  test("removeStopwords preserves duplicates and order (reference filter semantics)") {
    val got = Seq(Tuple1(Seq("a", "x", "a", "y", "x"))).toDF("ts")
      .select(TextOps.removeStopwords($"ts", Seq("a")).as("r"))
      .as[Seq[String]].head()
    assert(got === Seq("x", "y", "x"), "must keep duplicate non-stopwords, unlike array_except")
  }

  test("ngrams: standard case, short-doc guard, n=1 identity") {
    val df = Seq(Tuple1(Seq("a", "b", "c", "d"))).toDF("ts")
    assert(df.select(TextOps.ngrams($"ts", 2).as("g")).as[Seq[String]].head()
      === Seq("a b", "b c", "c d"))
    assert(df.select(TextOps.ngrams($"ts", 3).as("g")).as[Seq[String]].head()
      === Seq("a b c", "b c d"))
    assert(df.select(TextOps.ngrams($"ts", 1).as("g")).as[Seq[String]].head()
      === Seq("a", "b", "c", "d"))
    // size < n must give [], not sequence(1,0)'s descending [1,0] garbage
    val short = Seq(Tuple1(Seq("a", "b"))).toDF("ts")
    assert(short.select(TextOps.ngrams($"ts", 3).as("g")).as[Seq[String]].head() === Seq.empty)
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("ts")
    assert(empty.select(TextOps.ngrams($"ts", 2).as("g")).as[Seq[String]].head() === Seq.empty)
  }

  test("mergeGrams = reference mergeArrays set semantics (acq_etl_code.scala:63)") {
    val df = Seq((Seq("a", "b", "a"), Seq("b", "c"), Seq("c", "d")))
      .toDF("u", "b", "t")
    val got = df.select(TextOps.mergeGrams($"u", $"b", $"t").as("m"))
      .as[Seq[String]].head()
    // (a++b++c).toSet equality — order not part of the contract (SURVEY §2.5)
    assert(got.toSet === Set("a", "b", "c", "d"))
    assert(got.length === got.toSet.size, "merged array must be duplicate-free")
  }

  test("docFreq counts documents (not occurrences) and applies [minDF, maxDF]") {
    val d = Seq(
      (1L, "x x x shared"), (2L, "y shared"), (3L, "z shared")
    ).toDF("doc_id", "text")
    val all = TextOps.docFreq(d, "doc_id", "text").as[(String, Long)].collect().toMap
    assert(all("x") === 1L, "x appears 3 times in one doc: df must be 1")
    assert(all("shared") === 3L)
    val pruned = TextOps.docFreq(d, "doc_id", "text", minDF = 2L, maxDF = 2L)
      .as[(String, Long)].collect().toMap
    assert(pruned.isEmpty, "df=1 and df=3 both pruned by [2,2]")
  }

  test("idf matches spark.ml IDF formula log((m+1)/(df+1))") {
    val d = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val got = TextOps.idf(TextOps.docFreq(d, "doc_id", "text"), 2L)
      .select($"token", $"idf").as[(String, Double)].collect().toMap
    assert(got("a") === math.log(3.0 / 3.0))
    assert(got("b") === math.log(3.0 / 2.0))
  }

  test("tfidf: tf * idf over the joined vocabulary") {
    val d = Seq((1L, "a a b"), (2L, "a")).toDF("doc_id", "text")
    val got = TextOps.tfidf(d, "doc_id", "text")
      .select($"doc_id", $"token", $"tfidf").as[(Long, String, Double)]
      .collect().map { case (id, t, v) => (id, t) -> v }.toMap
    assert(got((1L, "a")) === 2.0 * math.log(3.0 / 3.0))
    assert(got((1L, "b")) === 1.0 * math.log(3.0 / 2.0))
  }

  test("bpeTokens: contractions split, punctuation runs kept, n_bpe >= whitespace tokens") {
    val cases = Seq(
      (1L, "It's the CEO's 3rd-quarter report... (really)!"),
      (2L, "we'll merge; they're acquired, 100% cash-only"),
      (3L, "  spaces   and\ttabs  "),
      (4L, ""))
    val df = cases.toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.bpeTokens($"text").as("b"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("it", "'s", "the", "ceo", "'s", "3", "rd", "-",
      "quarter", "report", "...", "(", "really", ")!"))
    assert(got(3L) === Seq("spaces", "and", "tabs"))
    assert(got(4L) === Seq.empty)
    // every whitespace-delimited token contains >= 1 non-space char, each of
    // which falls in one alternation class => n_bpe >= n_ws, on real docs too
    val viol = Tables.documents(spark, TestSpark.sf)
      .select(
        size(regexp_extract_all($"text", lit("""\S+"""), lit(0))).as("n_ws"),
        size(TextOps.bpeTokens($"text")).as("n_bpe"))
      .filter($"n_bpe" < $"n_ws").count()
    assert(viol === 0L)
  }

  test("englishBigramScore: English text scores high, digit noise low, short/empty = 0") {
    val df = Seq(
      (1L, "the merger of the other entities is in there"),
      (2L, "zzq 9981 7743 xxw 0001 9090 qqzx 4455"),
      (3L, "a"), (4L, "")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.englishBigramScore($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) > 250, s"English text scored ${got(1L)}")
    assert(got(2L) < 80, s"noise scored ${got(2L)}")
    assert(got(3L) === 0L && got(4L) === 0L)
  }

  test("winnowing guarantee: docs sharing a substring >= k+w-1 chars share a fingerprint") {
    val shared = "unmistakable common passage of text"
    val df = Seq(
      (1L, s"first document begins here $shared and then diverges completely"),
      (2L, s"totally different opening $shared with another ending altogether"),
      (3L, "no overlap with anybody else at all in this one")
    ).toDF("doc_id", "text")
    for (fps <- Seq(
        TextOps.winnowFingerprints($"text", k = 8, w = 4),
        graft.exprapi.winnowFps(TextOps.normalizedText($"text"), 8, 4))) {
      val m = df.select($"doc_id", fps.as("f")).as[(Long, Seq[Long])].collect().toMap
      assert(m(1L).toSet.intersect(m(2L).toSet).nonEmpty, "shared substring must collide")
      assert(m(3L).toSet.intersect(m(1L).toSet).isEmpty &&
        m(3L).toSet.intersect(m(2L).toSet).isEmpty, "unrelated doc must not collide")
      assert(m.values.forall(_.nonEmpty))
    }
    // short doc: no fingerprints rather than a down-counting sequence
    val short = Seq((9L, "tiny")).toDF("doc_id", "text")
      .select(TextOps.winnowFingerprints($"text", 8, 4).as("f"))
      .as[Seq[Long]].head()
    assert(short === Seq.empty)
  }

  test("native winnow_fps: deterministic, density ~2/(w+1), SQL-registered") {
    val doc = Tables.documents(spark, TestSpark.sf).limit(100)
      .select($"doc_id", TextOps.normalizedText($"text").as("s"))
    val a = doc.select($"doc_id", graft.exprapi.winnowFps($"s", 8, 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    val b = doc.select($"doc_id", graft.exprapi.winnowFps($"s", 8, 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(a === b)
    // winnowing keeps roughly 2/(w+1) of positions (distinct can only lower)
    val dens = doc.select(
        (size(graft.exprapi.winnowFps($"s", 8, 4)).cast("double") /
          (length($"s") - 7)).as("d"))
      .agg(avg($"d")).as[Double].head()
    assert(dens > 0.1 && dens < 0.5, s"winnow density $dens outside plausible band")
    doc.createOrReplaceTempView("wdocs")
    val viaSql = spark.sql("SELECT size(winnow_fps(s, 8, 4)) AS n FROM wdocs")
      .agg(sum($"n")).as[Long].head()
    val viaApi = doc.select(size(graft.exprapi.winnowFps($"s", 8, 4)).as("n"))
      .agg(sum($"n")).as[Long].head()
    assert(viaSql === viaApi)
  }

  test("fingerprint is invariant to case/punctuation/whitespace drift") {
    val df = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "different text")
    ).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("native word_shingles is element-identical to the HOF ngrams on fixture docs") {
    for (w <- Seq(1, 2, 3, 5)) {
      val diff = Tables.documents(spark, TestSpark.sf)
        .select(TextOps.tokens($"text").as("ts"))
        .select(
          TextOps.ngrams($"ts", w).as("hof"),
          graft.exprapi.wordShingles($"ts", w).as("native"))
        .filter($"hof" =!= $"native")
        .count()
      assert(diff === 0L, s"w=$w: native shingles must equal HOF ngrams")
    }
  }

  test("functionWordScore: integer per-mille, 0 for empty docs") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
        TextOps.functionWordScore(TextOps.tokens($"text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 333L) // 2 hits / 6 tokens -> floor(1000*2/6)
    assert(got(2L) === 0L)
  }

  private def assertRankConsistent(merges: Seq[(String, String)]): Unit = {
    val created = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (a, b) =>
      Seq(a, b).filter(_.length > 1).foreach(u =>
        assert(created.contains(u), s"unit $u referenced before being created"))
      created += (a + b)
    }
  }

  test("bpe subwords: priority merge loop against the pinned table (golden)") {
    assertRankConsistent(graft.text.Bpe.DefaultMerges)
    val df = Seq((1L, "the theme running and standing a don't 1990")).toDF("doc_id", "text")
    val got = df.select(graft.text.Bpe.subwords($"text").as("u")).as[Seq[String]].head()
    assert(got === Seq(
      "the",                       // t+h -> th, th+e -> the
      "the", "m", "e",             // theme
      "r", "u", "n", "n", "ing",   // i+n, in+g
      "and",                       // a+n, an+d
      "st", "and", "ing",          // standing
      "a",
      "d", "on", "'", "t",         // don + 't pre-tokens
      "1", "9", "9", "0"))
  }

  test("bpe_encode splits by code point: astral chars stay whole and mergeable") {
    // U+1F600 is a surrogate PAIR in UTF-16; a code-unit split would break
    // it into two lone surrogates (mojibake '?' bytes) — each emoji must
    // stay one unit, and a merge listing the pair must fuse them
    val emoji = new String(Character.toChars(0x1F600))
    val df = Seq((1L, Seq(emoji + emoji + "a"))).toDF("id", "toks")
    val unmerged = df.select(
      graft.exprapi.bpeEncode($"toks", Seq.empty).as("u")).as[Seq[String]].head()
    assert(unmerged === Seq(emoji, emoji, "a"))
    val merged = df.select(
      graft.exprapi.bpeEncode($"toks", Seq(emoji -> emoji)).as("u"))
      .as[Seq[String]].head()
    assert(merged === Seq(emoji + emoji, "a"))
  }

  // Golden pairs for the FULL Porter algorithm (Porter 1980). The first two
  // are the paper's own end-to-end traces (§2); the rest are hand-traced
  // through steps 1a–5b of the published rule set. Note these are FULL-
  // pipeline outputs — the paper's per-step examples (e.g. step-2's
  // "relational → relate") keep reducing in later steps, so they are NOT
  // valid end-to-end expectations.
  private val porterGolden: Seq[(String, String)] = Seq(
    "generalizations" -> "gener", "oscillators" -> "oscil",
    // step 1a
    "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
    "caress" -> "caress", "cats" -> "cat",
    // step 1b (+ cleanup)
    "feed" -> "feed", "plastered" -> "plaster", "motoring" -> "motor",
    "sing" -> "sing", "conflated" -> "conflat", "troubled" -> "troubl",
    "sized" -> "size", "hopping" -> "hop", "tanned" -> "tan",
    "falling" -> "fall", "hissing" -> "hiss", "fizzed" -> "fizz",
    "failing" -> "fail", "filing" -> "file", "running" -> "run",
    // step 1c
    "happy" -> "happi", "sky" -> "sky",
    // step 2 chains
    "vietnamization" -> "vietnam", "predication" -> "predic",
    "operator" -> "oper", "feudalism" -> "feudal",
    "decisiveness" -> "decis", "hopefulness" -> "hope",
    "callousness" -> "callous", "formaliti" -> "formal",
    "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
    // step 3 chains
    "triplicate" -> "triplic", "formative" -> "form",
    "formalize" -> "formal", "electriciti" -> "electr",
    // step 4
    "allowance" -> "allow", "inference" -> "infer", "airliner" -> "airlin",
    "adjustable" -> "adjust", "defensible" -> "defens",
    "replacement" -> "replac", "adjustment" -> "adjust",
    "adoption" -> "adopt", "communism" -> "commun", "activate" -> "activ",
    "angulariti" -> "angular", "homologou" -> "homolog",
    "effective" -> "effect", "bowdlerize" -> "bowdler",
    // step 5
    "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
    "controll" -> "control", "roll" -> "roll",
    // connected family (classic regression set)
    "connected" -> "connect", "connecting" -> "connect",
    "connection" -> "connect", "connections" -> "connect",
    // short tokens untouched; digits are consonants
    "a" -> "a", "is" -> "is", "1990s" -> "1990")

  test("porter_stem: golden pairs from the published 1980 algorithm") {
    // direct static path (what codegen calls)
    porterGolden.foreach { case (w, want) =>
      assert(graft.expr.PorterStem.stem(w) === want, s"stem($w)")
    }
    // expression path through a DataFrame, element-wise with null passthrough
    val df = Seq(Tuple1(porterGolden.map(_._1) :+ null)).toDF("ts")
    val got = df.select(graft.exprapi.porterStem($"ts").as("s"))
      .as[Seq[String]].head()
    assert(got === (porterGolden.map(_._2) :+ null))
    // SQL surface via GraftExtensions
    df.createOrReplaceTempView("porter_t")
    val sql = spark.sql("SELECT porter_stem(ts) AS s FROM porter_t")
      .as[Seq[String]].head()
    assert(sql === (porterGolden.map(_._2) :+ null))
  }

  test("porterLemmas: full text chain produces stemmed tokens; stems never longer than tokens+1") {
    val d = Tables.documents(spark, TestSpark.sf).limit(200)
    val pairs = d.select(explode(arrays_zip(
        TextOps.tokens($"text").as("tok"),
        graft.text.Stemmer.porterLemmas($"text").as("stem"))).as("p"))
      .select($"p.tok", $"p.stem")
      .as[(String, String)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (tok, stem) =>
      // Porter only rewrites suffixes; output can exceed input by at most
      // one char (step-1b's at→ate family) and never touches the head char
      assert(stem.length <= tok.length + 1, s"$tok -> $stem")
      assert(stem.nonEmpty && tok.head === stem.head, s"$tok -> $stem")
    }
  }

  test("canonicalizeText: precomposed and combining-mark inputs converge; ASCII passes through") {
    val rows = Seq(
      (1L, "Caf\u00e9  NA\u00cfVE"),          // precomposed e-acute, I-diaeresis
      (2L, "Cafe\u0301  NAI\u0308VE"),        // same text, NFD combining marks
      (3L, "plain ASCII  stays\tplain "),
      (4L, "")
    ).toDF("id", "s")
    val got = rows.select($"id", TextOps.canonicalizeText($"s").as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "cafe naive")
    assert(got(2L) === got(1L), "NFD and precomposed forms must fold identically")
    assert(got(3L) === "plain ascii stays plain")
    assert(got(4L) === "")
  }

  test("duplicateGramStats: boilerplate scores near 1, unique text scores 0, short text safe") {
    val rows = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),  // 6 trigrams, 1 distinct
      (2L, "one two three four five six seven"),        // all distinct
      (3L, "a b"),                                       // under trigram width
      (4L, "")
    ).toDF("id", "text")
    val got = rows.select($"id", TextOps.duplicateGramStats($"text", 3).as("r"))
      .select($"id", $"r.n_grams", $"r.dup_grams", $"r.dup_ratio")
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(got(1L)._2 === 6L && got(1L)._3 === 5L)
    assert(math.abs(got(1L)._4 - 5.0 / 6.0) < 1e-15)
    assert(got(2L)._3 === 0L && got(2L)._4 === 0.0)
    assert(got(3L) === ((3L, 0L, 0L, 0.0)))
    assert(got(4L) === ((4L, 0L, 0L, 0.0)))
  }

  test("scrubPii: URLs, emails, phones masked in order; surrounding text untouched") {
    val s = "see https://ex.com/a?b=1 mail bob.smith+x@ex-mail.co.uk " +
      "call +1 (555) 123-4567 or 555-000-0042 done"
    val got = Seq(Tuple1(s)).toDF("t")
      .select(TextOps.scrubPii($"t")).as[String].head()
    assert(got === "see [URL] mail [EMAIL] call [PHONE] or [PHONE] done", got)
    // no PII -> identity; URL digits must not leak a phone match
    val clean = "just words 123 and 4567 here"
    assert(Seq(Tuple1(clean)).toDF("t")
      .select(TextOps.scrubPii($"t")).as[String].head() === clean)
  }

  test("bm25: term frequency raises the score, document length normalizes it, absent terms give zero") {
    val docs = Seq(
      (1L, "spark spark spark engine"),            // high tf, short
      (2L, "spark engine runs quickly today"),     // tf 1, short
      (3L, "spark " + ("filler words here " * 40)), // tf 1, long — length-penalized
      (4L, "nothing relevant at all")              // no query terms
    ).toDF("doc_id", "text")
    val scores = TextOps.bm25(docs, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(scores.size === 4, "every doc scored")
    assert(scores(4L) === 0.0, "no query terms → exactly zero")
    assert(scores(1L) > scores(2L), "higher tf must outrank at similar length")
    assert(scores(2L) > scores(3L), "same tf: shorter doc must outrank (length norm)")
    assert(scores.values.forall(_ >= 0.0))

    // multi-term: disjoint single-term docs score the per-term sum — adding
    // a second matching term strictly increases the score
    val two = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta gamma")
    ).toDF("doc_id", "text")
    val s1 = TextOps.bm25(two, "doc_id", "text", Seq("alpha")).as[(Long, Double)].collect().toMap
    val s2 = TextOps.bm25(two, "doc_id", "text", Seq("alpha", "beta")).as[(Long, Double)].collect().toMap
    assert(s2(1L) > s1(1L), "matching second term adds score")
    assert(math.abs(s2(2L) - s1(2L)) < 1e-12, "non-matching term adds nothing")

    assertThrows[IllegalArgumentException](
      TextOps.bm25(docs, "doc_id", "text", Seq.empty))
    assertThrows[IllegalArgumentException](
      TextOps.bm25(docs, "doc_id", "text", Seq("a", "a")))
  }

  test("deflate_len: repetition compresses far below prose; deterministic; SQL-registered") {
    val boiler = ("lorem ipsum " * 200).trim
    val prose = (1 to 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val df = Seq((1L, boiler), (2L, prose)).toDF("doc_id", "text")
      .select($"doc_id",
        graft.exprapi.deflateLen($"text".cast("binary")).as("z"),
        octet_length($"text".cast("binary")).as("n"))
    val got = df.as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val (zb, nb) = got(1L); val (zp, np) = got(2L)
    assert(zb.toDouble / nb < 0.1, s"boilerplate must compress hard: $zb/$nb")
    assert(zp.toDouble / np > 3 * (zb.toDouble / nb),
      s"prose must compress far less: $zp/$np vs $zb/$nb")
    // deterministic across evaluations
    val again = df.as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again === got)
    // SQL surface
    // tiny inputs pay the fixed zlib header (~11 bytes); a 200-byte run
    // must still land far under its input size
    val viaSql = spark.sql(
      s"SELECT deflate_len(CAST('${"a" * 200}' AS BINARY)) AS z").as[Int].head()
    assert(viaSql > 0 && viaSql < 30, s"200-byte run compressed to $viaSql")
  }

  test("tokenizerFertility: exact hand-derived ratio; whitespace-only docs excluded") {
    val docs = Seq(
      ("en", "hello world's fun 123"), // bpe: hello|world|'s|fun|123 = 5 units, 4 words
      ("en", "one two"),               // 2 units, 2 words
      ("de", "   ")                    // whitespace-only → excluded
    ).toDF("lang", "text")
    val got = TextOps.tokenizerFertility(docs, "lang", "text")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("en") === (("en", 2L, 7L, 6L, 7L * 1000000L / 6L)))
    assert(!got.contains("de"), "whitespace-only docs carry no fertility signal")
  }

  test("tokenEntropy: uniform doc = ln(vocab), repeated-token doc = 0, order-free") {
    val docs = Seq((1L, "a b c"), (2L, "a a a"), (3L, "a a b b")).toDF("doc_id", "text")
    val got = TextOps.tokenEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, math.floor(1e6 * math.log(3.0)).toLong)),
      s"uniform 3-token doc: ${got(1L)}")
    assert(got(2L) === ((3L, 0L)), "single repeated token has zero entropy")
    // "a a b b": per distinct token floor(1e6·2·ln2) summed ×2, DIV 4
    val term = math.floor(1e6 * 2 * math.log(2.0)).toLong
    assert(got(3L) === ((4L, 2 * term / 4)))

    val fixture = Tables.documents(spark, TestSpark.sf)
    val a = TextOps.tokenEntropy(fixture, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val b = TextOps.tokenEntropy(fixture.repartition(11), "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("unigramLogLoss: exact hand-derived scores; rare-token docs score higher; order-free") {
    // corpus counts: a=4, b=2, z=1, total=7
    val docs = Seq((1L, "a a b"), (2L, "a a b"), (3L, "z")).toDF("doc_id", "text")
    def q(c: Long): Long = math.floor(1e6 * (math.log(7.0) - math.log(c.toDouble))).toLong
    val got = TextOps.unigramLogLoss(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, (2 * q(4) + q(2)) / 3)))
    assert(got(2L) === got(1L), "identical docs must score identically")
    assert(got(3L) === ((1L, q(1))))
    assert(got(3L)._2 > got(1L)._2, "the rare-token doc is the distributional outlier")

    // partitioning must not change a single score (integer aggregation)
    val fixture = Tables.documents(spark, TestSpark.sf)
    val a = TextOps.unigramLogLoss(fixture, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val b = TextOps.unigramLogLoss(fixture.repartition(13), "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("curationFunnel: every verdict branch fires with first-fail precedence") {
    val en = ("the then there is it that and on the rate " * 12).trim
    val corpus = Seq(
      (1L, en),                                  // kept
      (2L, "zzq xk qqv " * 40),                  // lang: no English bigrams
      (3L, "the then there is it that"),         // quality: too short
      (4L, en + " !!!???;;;###" * 60),           // quality: punct-heavy
      (5L, en),                                  // dup of 1 (loses to min id)
      (6L, en + " benchmark secret answer token leak four gram")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the benchmark secret answer token leak four gram end"))
      .toDF("doc_id", "text")
    val v = TextOps.curationFunnel(corpus, bench)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(v === Map(1L -> "kept", 2L -> "lang", 3L -> "quality",
      4L -> "quality", 5L -> "dup", 6L -> "contaminated"), s"got $v")
    // first-fail precedence: doc 2 is ALSO short-ish and never reaches
    // later gates; doc 5's text is contaminated-free so dup is its first
    // failure; a bench-free funnel keeps doc 6
    val noBench = TextOps.curationFunnel(corpus,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(noBench(6L) === "kept")
  }

  test("phraseSearch: exact consecutive sequence only; overlaps counted; order matters") {
    val docs = Seq(
      (1L, "big data is big data is big"),     // "big data is" x2
      (2L, "data big is"),                     // right words, wrong order
      (3L, "big data and then is"),            // non-consecutive
      (4L, "Big DATA is!")                     // case/punct-insensitive x1
    ).toDF("doc_id", "text")
    val got = TextOps.phraseSearch(docs, "doc_id", "text",
        Seq("big", "data", "is"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 4L -> 1L))
  }

  test("readabilityStats: counts match hand counts; sentence floor; wordless doc NULL score") {
    val docs = Seq(
      // 6 words, 2 sentences, syllable groups: the(1) cat(1) sat(1) down(1)
      // it(1) was(1) = 6  ("down" -> 'ow' one group; "was" -> 'a')
      (1L, "The cat sat down. It was!"),
      // headline: no terminator -> sentences floored at 1
      (2L, "markets rally on big tech earnings"),
      // wordless -> NULL score, sentences floor still 1
      (3L, "?!—…")
    ).toDF("doc_id", "text")
    val got = TextOps.readabilityStats(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got(1L)._1 === 6L); assert(got(1L)._2 === 2L); assert(got(1L)._3 === 6L)
    // 206835 - (1015*6) div 2 - (84600*6) div 6 = 206835 - 3045 - 84600
    assert(got(1L)._4 === Some(206835L - 3045L - 84600L))
    assert(got(2L)._2 === 1L, "terminator-free text floors sentences at 1")
    assert(got(3L) === ((0L, 1L, 0L, None)))
  }
}
