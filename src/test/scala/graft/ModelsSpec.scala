package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Models

class ModelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("withClassWeights implements lr.scala:16-24: neg -> ratio, pos -> 1-ratio") {
    val df = Seq.fill(8)(0).map(l => Tuple1(l)).union(Seq.fill(2)(1).map(l => Tuple1(l)))
      .toDF("label")
    val w = Models.withClassWeights(df, "label", "w")
      .select($"label", $"w").distinct().as[(Int, Double)].collect().toMap
    assert(w(0) === 0.8) // balancingRatio = 8/10
    assert(w(1) === 1.0 - 0.8)
  }

  test("trainTestSplit seed 42 is deterministic and ~80/20") {
    val df = spark.range(10000).toDF("id")
    val (tr1, te1) = Models.trainTestSplit(df)
    val (tr2, te2) = Models.trainTestSplit(df)
    assert(tr1.count() === tr2.count())
    assert(te1.count() === te2.count())
    val frac = tr1.count().toDouble / 10000
    assert(frac > 0.75 && frac < 0.85)
  }

  test("hashSplit: content-addressed, partition-invariant, ~trainBuckets/256 fraction") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val a = Models.hashSplit(docs, "doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // partition layout must not change any assignment (randomSplit's flaw)
    val b = Models.hashSplit(docs.repartition(7, $"lang"), "doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(a === b, "assignment must be a pure function of the key")
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(math.abs(frac - 205.0 / 256) < 0.1, s"~80% train, got $frac")
    // boundary contract: trainBuckets outside (0,256) is rejected
    assertThrows[IllegalArgumentException](Models.hashSplit(docs, "doc_id", 0))
    assertThrows[IllegalArgumentException](Models.hashSplit(docs, "doc_id", 256))
  }

  test("weighted LR on separable data: AUC >= 0.95, threshold 0.68 set (lr.scala:44)") {
    // separable: label 1 iff x > 0; imbalanced 9:1 like the M&A labels
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { _ =>
      val pos = rnd.nextDouble() < 0.1
      val x = if (pos) 1.0 + rnd.nextDouble() else -1.0 - rnd.nextDouble()
      (if (pos) 1.0 else 0.0, Vectors.dense(x, rnd.nextDouble()))
    }
    val df = rows.toDF("acquired", "tfidf")
    val weighted = Models.withClassWeights(df, "acquired")
    val (train, test) = Models.trainTestSplit(weighted)
    val model = Models.fitWeightedLR(train, "acquired")
    assert(model.getThreshold === 0.68)
    val preds = model.transform(test)
    assert(Models.auc(preds, "acquired") >= 0.95)
    // M11: positive probability via vector_to_array (no UDF)
    val probs = Models.positiveProbability(preds).select($"prob").as[Double].collect()
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
  }

  test("fitAndScoreWeightedLR: coefficients bit-identical to fitWeightedLR " +
      "on the un-materialized weighted frame") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .withColumn("label", when($"lang" === "en", 1.0).otherwise(0.0))
    // q27's tfidf settings
    val feats = Models.fitTfidf(docs, minDF = 2.0, vocabSize = 1000)
      .transform(docs).select($"doc_id", $"label", $"tfidf")
    val ref = Models.fitWeightedLR(Models.withClassWeights(feats, "label"), "label")
    def bits(m: org.apache.spark.ml.classification.LogisticRegressionModel) =
      (m.coefficients.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq,
        java.lang.Double.doubleToRawLongBits(m.intercept))
    assert(ref.summary.totalIterations === 51) // on the sf0.001 fixture
    val keep = Seq("doc_id", "label")
    val (model, preds) = Models.fitAndScoreWeightedLR(feats, "label", keep)
    assert(bits(model) == bits(ref), "coefficients moved")
    assert(model.summary.totalIterations === ref.summary.totalIterations)
    assert(preds.columns.toSeq === keep :+ "prediction" :+ "prob")
    assert(preds.count() === docs.count())
  }

  test("q23, q27 and q415 leave no cached frame, no conf change and, once " +
      "collected, no persisted RDD behind") {
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // the cache manager is shared by every suite in this JVM: start empty
    spark.catalog.clearCache()
    val before = spark.conf.getAll
    val rddsBefore = sc.getPersistentRDDs.keySet
    Seq("q23_lr_confusion", "q27_pair_scoring", "q415_hashed_lr_confusion")
      .foreach(q => SparkEntry.queries(q)(spark, TestSpark.sf).collect())
    assert(cache.isEmpty, "a query left a frame in the cache manager")
    assert(spark.conf.getAll == before)
    // the fit's localCheckpoint blocks go when the frame is garbage
    // collected (ContextCleaner), not when the query returns
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def left = sc.getPersistentRDDs.keySet -- rddsBefore
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(left.isEmpty, s"persisted RDDs ${left.toSeq.sorted} outlived their queries")
  }

  test("hashedTfidf (vocabulary-free hashing trick): no vocab collect, and the " +
      "hashed-features LR holds an AUC floor vs the q23 vocabulary model") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .withColumn("label",
        when($"lang" === "en", 1.0).otherwise(0.0))
    // featurization is a pure projection — same row count, fixed width
    val hashed = Models.hashedTfidf(docs, numFeatures = 1 << 15)
      .select($"doc_id", $"label", $"tfidf")
    assert(hashed.count() === docs.count())
    def fitAuc(feats: org.apache.spark.sql.DataFrame): Double = {
      val weighted = Models.withClassWeights(
        feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        "label")
      try Models.auc(
        Models.fitWeightedLR(weighted, "label").transform(weighted), "label")
      finally { feats.unpersist(); () }
    }
    val aucHashed = fitAuc(hashed)
    val aucVocab = fitAuc(
      Models.fitTfidf(docs, minDF = 2.0, vocabSize = 1000).transform(docs)
        .select($"doc_id", $"label", $"tfidf"))
    // the collision trade is measured, not assumed: hash buckets may fold
    // rare tokens together, but the model must stay within a declared
    // band of the vocabulary model on the same corpus
    assert(aucHashed >= aucVocab - 0.05,
      s"hashed-features AUC $aucHashed fell more than 0.05 below the " +
        s"vocabulary model's $aucVocab")
    assert(aucHashed >= 0.7, s"classifier must actually separate: $aucHashed")
  }

  test("tfidf pipeline: pinned vocabulary and exact golden vector (SURVEY §5.3)") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "alpha gamma"),
      (3L, "alpha beta")
    ).toDF("doc_id", "text")
    val model = Models.tfidfPipeline(minDF = 1.0, stopwords = Array("nonewords")).fit(docs)
    val cv = model.stages.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m }.get
    // unigrams + bigrams(+trigram for doc1); doc-frequency order: alpha(3) first
    assert(cv.vocabulary.head === "alpha")
    assert(cv.vocabulary.contains("alpha beta"))
    val out = model.transform(docs)
    val tfidf = out.select($"doc_id",
        org.apache.spark.ml.functions.vector_to_array($"tfidf").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val vocabIdx = cv.vocabulary.indexOf("alpha")
    // alpha appears in all 3 docs: idf = log((3+1)/(3+1)) = 0 -> tfidf 0
    assert(tfidf(1L)(vocabIdx) === 0.0)
    // "alpha beta" df=2: idf = log(4/3); merge dedups so tf=1
    val abIdx = cv.vocabulary.indexOf("alpha beta")
    assert(math.abs(tfidf(3L)(abIdx) - math.log(4.0 / 3.0)) < 1e-12)
    // doc 2 has no "alpha beta"
    assert(tfidf(2L)(abIdx) === 0.0)
  }

  test("fitTfidf (shared-cache fit) is transform-identical to stock Pipeline.fit") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(300)
    val stock = Models.tfidfPipeline(minDF = 2.0, vocabSize = 400).fit(docs)
    val cached = Models.fitTfidf(docs, minDF = 2.0, vocabSize = 400)
    def vecs(m: org.apache.spark.ml.PipelineModel) = m.transform(docs)
      .select($"doc_id", org.apache.spark.ml.functions.vector_to_array($"tfidf").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(vecs(stock) === vecs(cached))
    // persistable like the stock model (S8 contract)
    Models.savePipeline(cached, "target/tmp/models/fit_tfidf_roundtrip")
    val reloaded = Models.loadPipeline("target/tmp/models/fit_tfidf_roundtrip")
    assert(vecs(reloaded) === vecs(cached))
  }

  test("LDA invariants: k topics, valid vocab indices, resolvable terms (A6/A7)") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(200)
    val pipe = Models.tfidfPipeline(minDF = 2.0, vocabSize = 500).fit(docs)
    val feats = pipe.transform(docs).select($"doc_id", $"tfidf")
    val vocab = pipe.stages.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m }.get.vocabulary
    val lda = Models.fitLDA(feats, k = 5, maxIter = 3)
    val topics = Models.describeTopicsWithVocab(lda, vocab, n = 4)
    val rows = topics.as[(Int, Seq[Int], Seq[String], Seq[Double])].collect()
    assert(rows.length === 5)
    rows.foreach { case (_, idx, terms, weights) =>
      assert(idx.forall(i => i >= 0 && i < vocab.length))
      assert(terms.length === idx.length)
      assert(idx.zip(terms).forall { case (i, t) => vocab(i) == t })
      assert(weights.forall(w => w >= 0.0 && w <= 1.0))
    }
  }

  test("leakage-safe split: no near-dup cluster straddles train/holdout") {
    import graft.llm.Dedup
    val docs = Tables.documents(spark, TestSpark.sf)
    val clusters = Dedup.dupClusters(
      Dedup.candidatePairs(
        Dedup.bandBuckets(docs, "doc_id", "text",
          numHashes = 6, bands = 3, shingleWidth = 3),
        "doc_id"))
    val keyed = docs.select($"doc_id")
      .join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("cluster_key", coalesce($"cluster_id", $"doc_id"))
    val split = Models.hashSplit(keyed, "cluster_key")
    // the property the operator exists for: every cluster is entirely on
    // one side — and the fixture's planted dups make the check non-vacuous
    val multi = split.groupBy($"cluster_key")
      .agg(count(lit(1)).as("n"), countDistinct($"split").as("n_sides"))
    assert(multi.filter($"n" >= 2).count() > 0,
      "fixture must contain at least one multi-doc dup cluster")
    assert(multi.filter($"n_sides" > 1).count() === 0,
      "a dup cluster must never straddle the split")
    // doc-keyed split DOES straddle at least one of those clusters — the
    // contamination hole this operator closes is real on this data
    val docKeyed = Models.hashSplit(
      docs.select($"doc_id").join(clusters, Seq("doc_id")), "doc_id")
    assert(docKeyed.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("s")).filter($"s" > 1).count() > 0,
      "doc-keyed split should straddle some cluster (else the test is vacuous)")
  }

  test("topicTermRows: relational top-k over the flattened matrix == describeTopics") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(200)
    val pipe = Models.tfidfPipeline(minDF = 2.0, vocabSize = 500).fit(docs)
    val feats = pipe.transform(docs).select($"doc_id", $"tfidf")
    val vocab = pipe.stages.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m }.get.vocabulary
    val lda = Models.fitLDA(feats, k = 5, maxIter = 3)
    val flat = Models.topicTermRows(spark, lda, vocab)
    assert(flat.count() === 5L * vocab.length)
    // per-topic top-4 by (weight desc, term_idx) from the flat rows must
    // name the same terms describeTopics ranks (set-compare per topic:
    // describeTopics' tie order is unspecified, ours is pinned)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"topic").orderBy($"weight".desc, $"term_idx".asc)
    val mine = flat.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4)
      .groupBy($"topic").agg(collect_set($"term_idx").as("idx"))
      .as[(Int, Seq[Int])].collect().toMap
    val ref = lda.describeTopics(4).select($"topic", $"termIndices")
      .as[(Int, Seq[Int])].collect().toMap
    assert(mine.keySet === ref.keySet)
    // describeTopics ranks by the (normalized) topic distribution, which
    // is a positive rescaling of the matrix columns — rank order agrees
    ref.foreach { case (t, idx) => assert(mine(t).toSet === idx.toSet,
      s"topic $t: relational top-k ${mine(t)} != describeTopics $idx") }
  }

  test("pipeline persistence round-trip: identical transform output (S8)") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"))
      .toDF("doc_id", "text")
    val model = Models.tfidfPipeline(minDF = 1.0).fit(docs)
    val path = "target/tmp/models/tfidf_roundtrip"
    Models.savePipeline(model, path)
    val reloaded = Models.loadPipeline(path)
    val before = model.transform(docs)
      .select($"doc_id", org.apache.spark.ml.functions.vector_to_array($"tfidf").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val after = reloaded.transform(docs)
      .select($"doc_id", org.apache.spark.ml.functions.vector_to_array($"tfidf").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(before === after)
  }

  test("biasBaseline: artifacts match a driver-side offset-positive " +
      "integer replay (mu, item bias vs mu, user bias vs mu + b_i)") {
    import org.apache.spark.sql.functions._
    val ratings = Seq(
      (1L, 10L, 300L), (1L, 11L, 500L), (2L, 10L, 100L),
      (2L, 12L, 900L), (3L, 11L, 700L), (3L, 12L, 200L), (3L, 10L, 400L))
      .toDF("u", "i", "q_c")
    val (mu, bi, bu) = graft.ml.Models.biasBaseline(ratings, "u", "i", "q_c")
    def floorDivPos(sum: Long, n: Long, off: Long): Long =
      (sum + off * n) / n - off // dividend kept non-negative by off
    val rows = Seq((1L, 10L, 300L), (1L, 11L, 500L), (2L, 10L, 100L),
      (2L, 12L, 900L), (3L, 11L, 700L), (3L, 12L, 200L), (3L, 10L, 400L))
    val muW = rows.map(_._3).sum / rows.length
    assert(mu.head().getLong(0) == muW)
    val biW = rows.groupBy(_._2).map { case (i, rs) =>
      i -> floorDivPos(rs.map(_._3 - muW).sum, rs.length, 5000L)
    }
    assert(bi.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === biW)
    val buW = rows.groupBy(_._1).map { case (u, rs) =>
      u -> floorDivPos(rs.map(r => r._3 - muW - biW(r._2)).sum,
        rs.length, 10000L)
    }
    assert(bu.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === buW)
  }
}
