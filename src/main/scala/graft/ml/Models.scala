package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature._
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ML layer (SURVEY.md §2.6 M1–M12) as a coherent, compiled
  * surface: the TF-IDF feature pipeline composed as a real `ml.Pipeline`
  * (the reference applied stages ad hoc — `acq_etl_code.scala:51-81`),
  * class-weighted logistic regression with the reference's exact
  * hyperparameters (`lr.scala:32-44`), LDA topics
  * (`acq_etl_code.scala:106-117`), and evaluation (`lr.scala:46-54`).
  *
  * Scale notes: the weight computation is a two-scalar aggregate + a
  * `when()` projection (the reference's `calculateWeights` UDF replaced per
  * the SURVEY §2.7 zero-UDF rule); LR/LDA/IDF are spark.ml's distributed
  * `treeAggregate` loops — the driver holds coefficients, never data.
  */
object Models {

  /** M7: class-balancing weights, `lr.scala:11-29` semantics — negatives get
    * `balancingRatio` = negatives/total, positives get `1 − balancingRatio`
    * — as a pure plan (stats cross-joined back, no driver collect). */
  def withClassWeights(df: DataFrame, labelCol: String,
      weightCol: String = "classWeightCol"): DataFrame = {
    val stats = df.agg(
      count(lit(1)).as("w_total"),
      sum(when(col(labelCol) === 0, 1L).otherwise(0L)).as("w_neg"))
    df.crossJoin(broadcast(stats))
      .withColumn(weightCol,
        when(col(labelCol) === 0, col("w_neg").cast("double") / col("w_total"))
          .otherwise(lit(1.0) - col("w_neg").cast("double") / col("w_total")))
      .drop("w_total", "w_neg")
  }

  /** M8: the reference's deterministic 80/20 split (`lr.scala:32`). */
  def trainTestSplit(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), seed)
    (train, test)
  }

  /** Content-addressed train/holdout split: assignment is a pure function
    * of the KEY (first md5 byte, 256 buckets), so — unlike `randomSplit`,
    * whose sampling depends on partition layout — the same row lands in
    * the same split on any cluster, any partitioning, any day: the
    * reproducibility contract a 100-TB training pipeline needs. Engine-
    * portable arithmetic (md5 + hex), so split assignment is
    * oracle-checkable. `trainBuckets`/256 is the train fraction
    * (205 ≈ 80%). Pure projection, no shuffle, no action. */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      trainBuckets: Int = 205,
      splitCol: String = "split"): DataFrame = {
    require(trainBuckets > 0 && trainBuckets < 256,
      s"trainBuckets must split [0,256), got $trainBuckets")
    val bucket = conv(substring(md5(col(keyCol).cast("string")), 1, 2), 16, 10)
      .cast("int")
    df.withColumn(splitCol,
      when(bucket < trainBuckets, lit("train")).otherwise(lit("holdout")))
  }

  /** M2–M5 as one Pipeline: tokenize → stopwords → 2/3-grams →
    * distinct-union merge → CountVectorizer(minDF/maxDF) → IDF. Mirrors
    * `acq_etl_code.scala:51-81` / `tgt_etl_code.scala:35-67` with the
    * stages actually composed (and persistable) instead of applied ad hoc.
    *
    * The feature chain runs as SQLTransformer stages over catalyst
    * expressions (incl. the native `word_shingles` — sessions register it
    * via [[graft.GraftExtensions]]) rather than spark.ml's
    * RegexTokenizer/StopWordsRemover/NGram, which are all ScalaUDF-fenced:
    * the UDF stages benched ~2× slower across fit+transform because the
    * chain executes twice (CountVectorizer's fit aggregation + the
    * transform pass). Output is element-identical (tested). */
  def tfidfPipeline(
      textCol: String = "text",
      minDF: Double = 1.0,
      maxDF: Double = Long.MaxValue.toDouble,
      vocabSize: Int = 1 << 18,
      stopwords: Array[String] = Array.empty): Pipeline = {
    val stopList =
      (if (stopwords.nonEmpty) stopwords
       else StopWordsRemover.loadDefaultStopWords("english"))
        .map(w => s"'${w.replace("'", "\\'")}'").mkString(", ")
    // stopwords as an IN-list, not array_contains(array(...)): OptimizeIn
    // rewrites it to a hashed InSet — O(1) per token vs a linear scan over
    // ~180 literals inside the (interpreted) filter lambda
    val featurize = new SQLTransformer().setStatement(
      s"""SELECT *, array_union(array_union(g_clean, word_shingles(g_clean, 2)),
         |                      word_shingles(g_clean, 3)) AS g_full
         |FROM (SELECT *,
         |        filter(regexp_extract_all(lower($textCol), '[a-z0-9]+', 0),
         |               t -> t NOT IN ($stopList)) AS g_clean
         |      FROM __THIS__)""".stripMargin)
    val cv = new FastCountVectorizer()
      .setInputCol("g_full").setOutputCol("g_counts")
      .setMinDF(minDF).setMaxDF(maxDF).setVocabSize(vocabSize)
    val idf = new IDF().setInputCol("g_counts").setOutputCol("tfidf")
    new Pipeline().setStages(Array(featurize, cv, idf))
  }

  /** [[tfidfPipeline]] fit with one shared cache: stock `Pipeline.fit`
    * re-evaluates the featurize chain once for the CountVectorizer fit and
    * again for the IDF fit (each stage's input is the previous stage's LAZY
    * transform). Here the featurized frame is persisted once and both fits
    * read it; the result is the very same `PipelineModel` (same uid, same
    * stage models — persistable, transform-identical). ~2× faster fit at
    * sf0.1; the gap widens with corpus size since the featurize chain is
    * the per-document-dominant cost. */
  def fitTfidf(
      docs: DataFrame,
      textCol: String = "text",
      minDF: Double = 1.0,
      maxDF: Double = Long.MaxValue.toDouble,
      vocabSize: Int = 1 << 18,
      stopwords: Array[String] = Array.empty): PipelineModel = {
    val pipe = tfidfPipeline(textCol, minDF, maxDF, vocabSize, stopwords)
    val Array(featurize: SQLTransformer, cv: FastCountVectorizer, idf: IDF) =
      pipe.getStages
    val featurized = featurize.transform(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cvModel = cv.fit(featurized)
      val idfModel = idf.fit(cvModel.transform(featurized))
      org.apache.spark.ml.graftbridge.PipelineBridge.assemble(
        pipe.uid, Array(featurize, cvModel, idfModel))
    } finally { featurized.unpersist(); () }
  }

  /** VOCABULARY-free tf-idf via the hashing trick (round-11 VERDICT
    * next #5): token counts land in `numFeatures` buckets by murmur3
    * hash (`org.apache.spark.ml.feature.HashingTF` — a pure Transformer)
    * and are idf-weighted by an [[IDF]] fitted over the hashed buckets.
    * The point is the COORDINATION-POINT diet: no vocabulary is ever
    * collected — the contrast is [[FastCountVectorizer]], whose vocab
    * collect is bounded (≤ vocabSize string rows) but still a per-fit
    * driver round-trip over data-derived strings. Here the only fitted
    * artifact is a FIXED-width numeric vector (numFeatures doubles, one
    * distributed treeAggregate pass — the same class of artifact as the
    * LR coefficients themselves), so the feature stage scales to any
    * corpus without the vocabulary ever existing. The idf weighting and
    * the shared gram recipe are load-bearing, not cosmetic: raw hashed
    * unigram counts put the feature scale at document-length magnitude,
    * where the reference's L1-heavy LR (elasticNet .5, reg .03)
    * collapses to a length signal (measured on the fixture: AUC 0.59
    * raw / 0.62 L2-normalized / vocab-parity with idf + shingles).
    * Collisions
    * fold rare tokens together — ModelsSpec pins an AUC floor against
    * the vocabulary model on the same corpus so the trade is measured,
    * not assumed. Output column defaults to "tfidf" so [[fitWeightedLR]]
    * composes unchanged. */
  def hashedTfidf(
      docs: DataFrame,
      textCol: String = "text",
      numFeatures: Int = 1 << 15,
      outCol: String = "tfidf"): DataFrame = {
    require(numFeatures > 0, s"numFeatures must be > 0, got $numFeatures")
    // same gram recipe as tfidfPipeline (unigram + 2/3-gram shingles,
    // distinct-union dedup) so the ModelsSpec AUC comparison isolates the
    // featurizer; no stopword list needed — ubiquitous grams get idf ≈ 0
    // automatically
    val base = "regexp_extract_all(lower(" + textCol + "), '[a-z0-9]+', 0)"
    val toks = docs.withColumn("__toks", expr(
      s"array_union(array_union($base, word_shingles($base, 2)), " +
        s"word_shingles($base, 3))"))
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("__toks").setOutputCol("__tf")
      .setNumFeatures(numFeatures)
      .transform(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try new org.apache.spark.ml.feature.IDF()
      .setInputCol("__tf").setOutputCol(outCol)
      .fit(tf)
      .transform(tf)
      .drop("__toks", "__tf")
    finally { tf.unpersist(false); () }
  }

  /** M9: the reference's exact LR config — weighted, elasticNet 0.5,
    * reg 0.03, decision threshold 0.68 (`lr.scala:36-44`). */
  def fitWeightedLR(
      train: DataFrame,
      labelCol: String,
      featuresCol: String = "tfidf",
      weightCol: String = "classWeightCol"): LogisticRegressionModel =
    new LogisticRegression()
      .setLabelCol(labelCol).setFeaturesCol(featuresCol).setWeightCol(weightCol)
      .setElasticNetParam(0.5).setRegParam(0.03)
      .fit(train)
      .setThreshold(0.68)

  /** M7 + M9 + M11 as one fit/score pass, the shape q23, q27 and q415
    * share: class-weight `feats`, materialize the weighted frame once with
    * its lineage cut (`localCheckpoint`), fit [[fitWeightedLR]] on it and
    * score from it. Returns the model and the flat predictions: `keepCols`,
    * then `prediction` and `prob` = P(class=1).
    *
    * Why the lineage cut: every L-BFGS iteration is its own Spark job, and
    * each job's task binary carries the lineage of the frame it reads. Over
    * the un-materialized frame that is the whole tfidf + class-weight plan
    * (112 KB serialized on the sf0.01 documents, against 22 KB cut),
    * shipped again with each of the fit's ~55 jobs. The cut frame holds the
    * same rows in the same partitions and order, so the coefficients are
    * bit-identical (ModelsSpec pins this).
    *
    * The trade: `localCheckpoint` keeps the blocks on the executors only,
    * so losing one mid-fit fails the fit instead of recomputing it. Staging
    * through parquet ([[graft.queries.QueryShared.stageFrame]]) survives
    * that, but measured about 0.45 s slower per fit on the sf0.01
    * documents; no caller needs it yet. The blocks are not freed when this
    * returns: Spark's ContextCleaner drops them once the frame is garbage
    * collected. */
  def fitAndScoreWeightedLR(feats: DataFrame, labelCol: String,
      keepCols: Seq[String]): (LogisticRegressionModel, DataFrame) = {
    val weighted = withClassWeights(feats, labelCol).localCheckpoint(true)
    val model = fitWeightedLR(weighted, labelCol)
    val preds = positiveProbability(model.transform(weighted))
      .select((keepCols :+ "prediction" :+ "prob").map(col): _*)
    (model, preds)
  }

  /** M10: AUC (`BinaryClassificationEvaluator`, `lr.scala:46-48`). The
    * confusion matrix half lives in [[graft.ops.Relational.confusionMatrix]]
    * — one pass, vs the reference's four filtered counts (`lr.scala:51-54`). */
  def auc(predictions: DataFrame, labelCol: String): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(predictions)

  /** M11: P(class=1) from the probability vector — built-in
    * `vector_to_array`, killing the reference's `v.toArray(1)` UDF
    * (`predictions.scala:29`, SURVEY §2.7). */
  def positiveProbability(predictions: DataFrame, probCol: String = "probability"): DataFrame =
    predictions.withColumn("prob",
      element_at(org.apache.spark.ml.functions.vector_to_array(col(probCol)), 2))

  /** M6: LDA with the reference's config — k=20, 20 iterations, doc/topic
    * concentration 0.25 (`acq_etl_code.scala:106-110`). Online optimizer
    * (the 4.x default) scales as mini-batch `treeAggregate`s. */
  def fitLDA(
      features: DataFrame,
      featuresCol: String = "tfidf",
      k: Int = 20,
      maxIter: Int = 20,
      concentration: Double = 0.25,
      seed: Long = 42L): LDAModel =
    new LDA()
      .setK(k).setMaxIter(maxIter)
      .setDocConcentration(concentration).setTopicConcentration(concentration)
      .setFeaturesCol(featuresCol).setSeed(seed)
      .fit(features)

  /** A7: top-`n` terms per topic with vocabulary resolved to strings —
    * `describeTopics(5)` + the driver-side vocab printout
    * (`acq_etl_code.scala:112-117`) as a proper DataFrame. */
  def describeTopicsWithVocab(model: LDAModel, vocab: Array[String], n: Int = 5): DataFrame = {
    val vocabCol = array(vocab.map(lit).toIndexedSeq: _*)
    model.describeTopics(n)
      .withColumn("terms",
        transform(col("termIndices"), i => element_at(vocabCol, i + 1)))
      .select(col("topic"), col("termIndices"), col("terms"), col("termWeights"))
  }

  /** A6/A7 serve-side staging: the fitted topic-term matrix flattened to
    * `(topic, term_idx, term, weight)` — MODEL-sized (k × vocabSize,
    * e.g. 20 × 1000 = 20k rows at any corpus scale), so materializing it
    * on the driver is the same bounded pull as holding the model itself.
    * Persisting these rows turns [[describeTopicsWithVocab]]'s top-k into
    * pure relational work (per-topic window top-k over stored doubles)
    * that an independent engine can replay bit-for-bit — the q23/q27
    * fit/serve split applied to LDA (`acq_etl_code.scala:106-117`). */
  def topicTermRows(
      spark: org.apache.spark.sql.SparkSession,
      model: LDAModel,
      vocab: Array[String]): DataFrame = {
    val tm = model.topicsMatrix // vocabSize × k, driver-local by contract
    require(tm.numRows == vocab.length,
      s"vocab size ${vocab.length} != topicsMatrix rows ${tm.numRows}")
    val rows = for {
      t <- 0 until tm.numCols
      w <- 0 until tm.numRows
    } yield (t, w, vocab(w), tm(w, t))
    import spark.implicits._
    rows.toDF("topic", "term_idx", "term", "weight")
  }

  /** S8: model persistence (`acq_etl_code.scala:124-125` round-trip). */
  def savePipeline(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)
  def loadPipeline(path: String): PipelineModel = PipelineModel.load(path)

  /** Bias-baseline recommender fit (μ + b_i + b_u — the Koren/Netflix
    * "baseline predictor"), promoted from the q385 inline recipe into a
    * reusable fit/serve artifact (round-9 "promote the bias-model
    * recipe"): three grouped integer aggregates, no iteration, no
    * floats. All means go through the OFFSET-POSITIVE integer form —
    * residual sums can be negative, where Spark's `div` truncates but
    * DuckDB's `//` floors; shifting each element by a per-level bound
    * (`biOffset`, `buOffset` — caller-declared residual magnitude
    * bounds) keeps every dividend non-negative so both engines agree
    * exactly (the round-8 recipe).
    *
    * @param ratings (uCol, iCol, qCol) — qCol an exact integer rating
    *                (cents/centi-units); the fit is one pass per level
    * @return (mu, bi, bu): mu is ONE row (mu_c), bi is item-grain
    *         (iCol, b_i), bu user-grain (uCol, b_u) — the persistable
    *         model artifact; serve = μ + b_i + b_u with missing levels
    *         coalesced to 0, clamped by the caller's rating bounds.
    *         Item biases fold against μ, user biases against μ + b_i —
    *         the standard sequential residual fit. */
  def biasBaseline(
      ratings: DataFrame,
      uCol: String,
      iCol: String,
      qCol: String,
      biOffset: Long = 5000L,
      buOffset: Long = 10000L): (DataFrame, DataFrame, DataFrame) = {
    val mu = ratings.agg(expr(s"sum($qCol) div count(1)").as("mu_c"))
    val bi = ratings.crossJoin(broadcast(mu))
      .groupBy(col(iCol), col("mu_c"))
      .agg((expr(s"sum($qCol - mu_c + $biOffset) div count(1)") - biOffset)
        .as("b_i"))
      .select(col(iCol), col("b_i"))
    val bu = ratings.crossJoin(broadcast(mu))
      .join(bi, Seq(iCol), "left")
      .withColumn("b_i", coalesce(col("b_i"), lit(0L)))
      .groupBy(col(uCol))
      .agg((expr(s"sum($qCol - mu_c - b_i + $buOffset) div count(1)")
        - buOffset).as("b_u"))
    (mu, bi, bu)
  }
}
