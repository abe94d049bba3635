package graft.sources

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY.md §2.1 S1–S3, S5–S7, P16) — every ingest/egest
  * shape the reference exercises, DataFrame-native.
  *
  * The reference's two RDD-only paths are eliminated (SURVEY §3.3):
  * `sc.wholeTextFiles` becomes the `binaryFile` source (S1, still
  * file-granular but Catalyst-visible, columnar-pruned and parallel by
  * file), and the `rdd.coalesce(1).map(stripParens).saveAsTextFile` export
  * hack becomes a real single-file CSV sink (S7).
  */
object Sources {

  /** S1: whole-file corpus scan — directory of text documents as
    * (path, text) rows. `binaryFile` preserves file boundaries (one row per
    * file, unlike `spark.read.text`), parallelizes by file, and prunes the
    * content column when only paths are projected. Replaces
    * `sc.wholeTextFiles(dir, minPartitions)`
    * (`mergers_acquisitions_code/acq_etl_code.scala:37`,
    * `tgt_etl_code.scala:22`). */
  def corpus(spark: SparkSession, dir: String, glob: String = "*.txt"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        col("path"),
        decode(col("content"), "UTF-8").as("text"))

  /** P16: filename-encoded keys — split the path on `/` and `_` and pick
    * fields, the reference's `extractDateCik`
    * (`acq_etl_code.scala:12-16`: fields 9 and 11 of the split) as a pure
    * expression over `path`. 1-based `indices`, keyed by caller-chosen
    * names. */
  def pathKeys(path: Column, indices: Map[String, Int]): Seq[Column] = {
    val parts = split(path, "/|_")
    indices.toSeq.map { case (name, idx) => element_at(parts, idx).as(name) }
  }

  /** Corpus with (key, date) parsed from the filename, the full S1+P16
    * composition: `<dir>/<date>_<cik>_<form>.txt` → (report_date, cik,
    * text). Filename layout is a parameter, not a constant — the
    * reference hard-coded absolute split offsets (9, 11) that broke the
    * moment the directory moved. */
  def corpusWithKeys(
      spark: SparkSession,
      dir: String,
      dateIdxFromEnd: Int = 4,
      keyIdxFromEnd: Int = 3): DataFrame = {
    val parts = split(col("path"), "/|_|\\.")
    corpus(spark, dir).select(
      element_at(parts, -dateIdxFromEnd).as("report_date_raw"),
      element_at(parts, -keyIdxFromEnd).as("cik"),
      col("path"),
      col("text"))
  }

  /** S2: line-oriented text scan (stopword lists etc.,
    * `acq_etl_code.scala:33`). One string column named `value`. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** S3: CSV scan with EXPLICIT schema (engine rule, SURVEY §1.3 — the
    * reference read everything schemaless/positional). `header=false`
    * consumers get Spark's positional `_c0.._cN` names when `schema` names
    * them so. */
  def csv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("enforceSchema", "true")
      .csv(path)

  /** S6: CSV sink (`join_acquirers.scala:37`). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** S7: single-file CSV export — the semantic the reference emulated with
    * `rdd.coalesce(1).map(row-string strip "[]").saveAsTextFile`
    * (`predictions.scala:39-41`). One output partition BY DESIGN: this is a
    * final small-result export, never a data-scale write (the only
    * legitimate coalesce(1) in the engine). */
  def writeSingleCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", header.toString).csv(path)

  /** S5: parquet sink (stage checkpoints, `acq_etl_code.scala:104`). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC scan — the second columnar format warehouses standardize on;
    * same pushdown/pruning story as parquet (predicate pushdown, column
    * pruning, and stripe-level statistics skipping are native to Spark's
    * ORC reader). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink — columnar interchange with Hive-ecosystem consumers that
    * expect ORC stripes rather than parquet row groups. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-style partitioned parquet sink: one directory per distinct value
    * of `partitionCols` (`.../col=value/part-*.parquet`). The 100-TB read
    * story is PARTITION PRUNING: a filter on a partition column prunes at
    * planning time — unmatched directories are never listed, opened, or
    * scanned (visible as `PartitionFilters` in the explain output, with no
    * corresponding data filter). Choose low-cardinality columns (date,
    * region, modality); high-cardinality partitioning produces the
    * million-small-files problem instead of pruning wins. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Deterministic key-hash bucket column: `pmod(xxhash64(keys), n)`.
    * This is the layout key for [[writeKeyBucketed]] tables — a stable,
    * engine-independent function of the logical key, so any writer (batch
    * bootstrap, streaming CDC apply) computes the same bucket for the same
    * key and partition-level upserts stay consistent. */
  def keyBucket(keys: Seq[String], nBuckets: Int): org.apache.spark.sql.Column = {
    require(keys.nonEmpty && nBuckets > 0, "keys and nBuckets required")
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")
  }

  /** Key-bucketed partitioned layout: hive-partition the table by
    * `kb = pmod(xxhash64(keys), nBuckets)`. Unlike value partitioning
    * ([[writePartitioned]]) this handles arbitrary-cardinality keys with a
    * FIXED directory fan-out, and gives keyed upserts partition pruning:
    * a change batch touches only the `kb` dirs its keys hash into, so a
    * merge can read and rewrite just those — the property
    * [[graft.streaming.Streams.cdcApplyPartitioned]] builds on. */
  def writeKeyBucketed(
      df: DataFrame,
      path: String,
      keys: Seq[String],
      nBuckets: Int): Unit =
    df.withColumn("kb", keyBucket(keys, nBuckets))
      .write.mode("overwrite").partitionBy("kb").parquet(path)

  /** Targeted key deletion in a key-bucketed table (the GDPR /
    * right-to-be-forgotten primitive): the delete set's keys hash to a
    * bounded set of `kb=` partitions; ONLY those are read, anti-joined,
    * and dynamically overwritten — every untouched bucket's files stay
    * bit-identical, so deleting k keys from a 100 TB table costs
    * O(touched buckets), not a table rewrite. Returns the per-bucket
    * deletion report (n_before / n_deleted / n_after).
    *
    * `bucket` must be the SAME function the table was written with
    * (default: [[keyBucket]], the xxhash64 layout; pass an md5-based
    * column for engine-portable layouts). Both the kept rows and the
    * before-counts are localCheckpoint-materialized BEFORE the
    * overwrite — reading and rewriting the same directories in one lazy
    * plan would race the delete against its own input. */
  def deleteKeysBucketed(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String,
      keys: Seq[String],
      nBuckets: Int,
      toDelete: DataFrame,
      bucket: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val kb = bucket.getOrElse(keyBucket(keys, nBuckets))
    val del = toDelete.select(keys.map(col): _*).distinct()
      .withColumn("kb", kb)
      .localCheckpoint(true)
    val touched = del.select(col("kb")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nBuckets
    if (touched.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Int, Long, Long, Long)]
        .toDF("kb", "n_before", "n_deleted", "n_after")
    }
    val cur = spark.read.parquet(tableDir)
      .filter(col("kb").isin(touched.toIndexedSeq.map(Int.box): _*))
    val before = cur.groupBy(col("kb"))
      .agg(count(lit(1)).as("n_before")).localCheckpoint(true)
    val kept = cur
      .join(del.select(keys.map(col): _*), keys, "left_anti")
      .localCheckpoint(true)
    // dynamic overwrite only rewrites partitions PRESENT in the written
    // frame — a bucket whose every row was deleted must have its
    // directory dropped explicitly or the dead rows would survive
    val survived = kept.select(col("kb")).distinct()
      .collect().map(_.getInt(0)).toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    touched.filterNot(survived).foreach { b =>
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/kb=$b")
      p.getFileSystem(hconf).delete(p, true)
    }
    kept.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb").parquet(tableDir)
    before
      .join(kept.groupBy(col("kb")).agg(count(lit(1)).as("n_after")),
        Seq("kb"), "left_outer")
      .select(col("kb"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .withColumn("n_deleted", col("n_before") - col("n_after"))
      .select(col("kb"), col("n_before"), col("n_deleted"), col("n_after"))
  }

  /** The erasure-drain fast path of [[deleteKeysBucketed]] (r14
    * optimization, guide §1.2 — fewer driver-coordinated jobs per
    * micro-batch): the caller has ALREADY materialized the kb-augmented
    * distinct delete set and collected its touched buckets (the
    * pre-delete digest needs both anyway) and does not consume the
    * per-bucket report, so the duplicate distinct/collect pair and the
    * before-counts pass are skipped — 3 fewer driver jobs per batch.
    * Storage semantics are IDENTICAL to [[deleteKeysBucketed]]: only
    * touched `kb=` dirs are read and dynamically overwritten, fully
    * emptied dirs are dropped explicitly, untouched dirs stay
    * bit-identical. */
  def deleteKeysBucketedPrepared(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String,
      keys: Seq[String],
      delWithKb: DataFrame, // distinct key rows + "kb", materialized
      touched: Array[Int]): Unit = {
    if (touched.isEmpty) return
    val cur = spark.read.parquet(tableDir)
      .filter(col("kb").isin(touched.toIndexedSeq.map(Int.box): _*))
    val kept = cur
      .join(delWithKb.select(keys.map(col): _*), keys, "left_anti")
      .localCheckpoint(true)
    // dynamic overwrite only rewrites partitions PRESENT in the written
    // frame — a bucket whose every row was deleted must have its
    // directory dropped explicitly or the dead rows would survive
    val survived = kept.select(col("kb")).distinct()
      .collect().map(_.getInt(0)).toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    touched.filterNot(survived).foreach { b =>
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/kb=$b")
      p.getFileSystem(hconf).delete(p, true)
    }
    kept.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb").parquet(tableDir)
  }

  /** Write-audit-publish (the WAP gate): the batch lands in a STAGING
    * directory, the data-quality expectation suite runs over the staged
    * bytes (never the in-memory frame — what was audited is exactly what
    * readers will see), and only an all-pass report promotes staging to
    * the publish directory via an atomic directory rename; on any
    * failing rule the current publish is left untouched and staging
    * remains for inspection. Readers never observe a half-written or
    * failed batch.
    *
    * Returns (published?, the per-rule report). The rename is
    * filesystem-atomic on HDFS/local (object stores substitute a
    * manifest swap — same contract, different primitive). */
  def writeAuditPublish(
      df: DataFrame,
      stagingDir: String,
      publishDir: String,
      rules: Seq[(String, org.apache.spark.sql.Column)]): (Boolean, DataFrame) = {
    val spark = df.sparkSession
    df.write.mode("overwrite").parquet(stagingDir)
    val report = graft.ops.Profile
      .expectations(spark.read.parquet(stagingDir), rules)
      .localCheckpoint(true)
    val pass = report.filter(!col("pass")).isEmpty
    if (pass) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val pub = new org.apache.hadoop.fs.Path(publishDir)
      val fs = pub.getFileSystem(hconf)
      // Promote with NO data-loss path: the old copy is renamed ASIDE
      // first (cheap metadata op), the staging rename is CHECKED
      // (rename returns false on cross-filesystem moves, permissions,
      // concurrent writers), and the old copy is deleted only after the
      // new publish provably exists. Failures surface as exceptions
      // that say exactly where the data is — never a silent
      // (true, report). There IS a brief no-publish-dir window between
      // the two renames (single-directory rename semantics); readers
      // needing zero unavailability put a manifest/symlink indirection
      // on top — the contract here is that no committed batch is ever
      // destroyed.
      val old = new org.apache.hadoop.fs.Path(publishDir + ".old")
      // crash recovery: a previous promote that died between its two
      // renames left the data at .old with no publish — restore it
      // before anything else (and never delete a .old that is the only
      // surviving copy)
      if (fs.exists(old) && !fs.exists(pub) && !fs.rename(old, pub))
        throw new java.io.IOException(
          s"writeAuditPublish: crash-recovery restore failed: $old -> $pub")
      if (fs.exists(old)) fs.delete(old, true)
      val hadPrev = fs.exists(pub)
      if (hadPrev && !fs.rename(pub, old))
        throw new java.io.IOException(
          s"writeAuditPublish: could not move previous publish aside: $pub")
      fs.mkdirs(pub.getParent)
      if (!fs.rename(new org.apache.hadoop.fs.Path(stagingDir), pub)) {
        val restored = !hadPrev || fs.rename(old, pub)
        throw new java.io.IOException(
          s"writeAuditPublish: staging->publish rename failed: " +
            s"$stagingDir -> $pub " +
            (if (restored) "(previous publish restored)"
             else s"(previous publish STRANDED at $old — restore manually)"))
      }
      if (hadPrev) fs.delete(old, true)
    }
    (pass, report)
  }

  /** Range-sorted parquet sink: rows range-partitioned then sorted within
    * each file on `sortCols`. The 100-TB read story is ROW-GROUP SKIPPING:
    * parquet footers carry per-row-group min/max for every column, and a
    * range filter on a clustered column lets the reader skip whole row
    * groups (and, with the range layout, whole FILES) without touching
    * their pages — the cheap cousin of an index, paid once at write time.
    * Unlike [[writePartitioned]] this handles HIGH-cardinality keys (time,
    * ids): no directory explosion, just tight min/max bands per file. */
  def writeSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      numFiles: Int = 32): Unit = {
    require(sortCols.nonEmpty, "at least one sort column required")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction — THE operational chore of a streaming or
    * micro-batch ingest at scale (a 100 TB table fed by per-batch
    * appends decays into millions of KB-files whose open/seek overhead
    * dominates scans): read the fragmented layout, rewrite as `numFiles`
    * range-sorted files ([[writeSorted]] — the rewrite is the natural
    * moment to also establish the clustering that row-group skipping
    * needs). Content is untouched; only layout changes, which is what a
    * round-trip oracle can pin exactly. */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      sortCols: Seq[String],
      numFiles: Int = 8): DataFrame = {
    writeSorted(spark.read.parquet(inDir), outDir, sortCols, numFiles)
    spark.read.parquet(outDir)
  }

  /** Partition-selective compaction — [[compact]] for a hive-partitioned
    * table, rewriting ONLY partitions whose data-file count exceeds
    * `maxFiles`. This is the maintenance half of incremental partitioned
    * writes ([[graft.streaming.Streams.cdcApplyPartitioned]] and friends
    * append/overwrite per batch, so hot partitions fragment over time
    * while cold ones stay pristine): a nightly pass over a 100 TB table
    * touches the handful of written-to partitions and leaves the rest
    * unlisted and unread. Partition discovery is a directory listing
    * (driver-side, O(#partitions) names — bounded by layout fan-out, not
    * data); each selected partition is rewritten in place as `numFiles`
    * sorted files via dynamic partition overwrite, preserving content.
    *
    * Returns the (partition, files_before) frame of compacted partitions
    * so the operation is observable. */
  def compactPartitions(
      spark: SparkSession,
      tableDir: String,
      partitionCol: String,
      sortCols: Seq[String],
      maxFiles: Int,
      numFiles: Int = 1): DataFrame = {
    require(maxFiles >= 1 && numFiles >= 1, "maxFiles and numFiles >= 1")
    val root = new java.io.File(tableDir)
    val frag = root.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith(s"$partitionCol="))
      .map(d => (d.getName.substring(partitionCol.length + 1),
        d.listFiles().count(f => f.isFile && f.getName.startsWith("part-"))))
      .filter(_._2 > maxFiles)
    if (frag.nonEmpty) {
      // read THROUGH the root (partition column present and typed), prune
      // to the fragmented directories, materialize off the files being
      // replaced, dynamic-overwrite back
      val pruned = spark.read.parquet(tableDir)
        .filter(col(partitionCol).isin(frag.map(_._1): _*))
      if (numFiles == 1) {
        // ONE job for the whole pass: one task per partition value (the
        // common nightly-compaction shape) — a per-partition loop would
        // schedule #fragmented separate jobs
        pruned
          .repartition(frag.size, col(partitionCol))
          .sortWithinPartitions(
            (col(partitionCol) +: sortCols.map(col)): _*)
          .localCheckpoint()
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol).parquet(tableDir)
      } else frag.foreach { case (value, _) =>
        pruned.filter(col(partitionCol) === value)
          .repartitionByRange(numFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
          .localCheckpoint()
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol).parquet(tableDir)
      }
    }
    import spark.implicits._
    frag.toDF("partition", "files_before")
  }

  /** Parquet layout auditor: per (file, row group, column) value counts
    * and compressed/uncompressed byte sizes read straight from the
    * footers — the observability primitive behind every storage question
    * at 100 TB ("which column is 60% of the table", "did dictionary
    * encoding collapse", "are row groups too small to skip"). Footer
    * reads only: cost is one metadata fetch per file, never a data scan,
    * and the work is distributed one-file-per-task so a million-file
    * table audits in parallel. Output aligns column-for-column with
    * DuckDB's `parquet_metadata()`, so the whole report is
    * oracle-checkable against an independent reader of the same files. */
  def parquetColumnStats(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.getAbsolutePath).sorted.toSeq
    require(files.nonEmpty, s"no parquet data files under $dir")
    val rows = spark.sparkContext
      .parallelize(files, math.min(files.length, 64))
      .flatMap { path =>
        val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.conf.Configuration())
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(input)
        try {
          reader.getFooter.getBlocks.asScala.toList.zipWithIndex.flatMap {
            case (bg, gi) =>
              bg.getColumns.asScala.toList.map { cc =>
                (new java.io.File(path).getName, gi.toLong,
                  cc.getPath.toDotString, cc.getValueCount,
                  cc.getTotalSize, cc.getTotalUncompressedSize)
              }
          }
        } finally reader.close()
      }
    import spark.implicits._
    rows.toDF("file_name", "row_group_id", "path_in_schema", "num_values",
      "total_compressed_size", "total_uncompressed_size")
  }

  /** Morton (Z-order) code: interleave the low `bits` bits of each column
    * so rows close in EVERY dimension are close in the one-dimensional
    * sort order (Morton 1966 — the multi-column clustering key behind
    * Z-ORDER in the public lakehouse formats). Column j's bit i lands at
    * position `i·d + j`; positions are disjoint, so the interleave is a
    * plain bitwise-OR fold over builtin shift/mask ops — whole-stage
    * codegen'd, no UDF, and bit-for-bit reproducible in any engine.
    *
    * Inputs must be non-negative and < 2^bits AND use comparable bit
    * widths — a dimension whose values only reach bit 4 never influences
    * the high interleaved bits, so the z-order degenerates to a sort on
    * the wide dimension. Normalize first ([[scaleToBits]], as
    * [[writeZOrdered]] does); `d·bits` must fit a signed long. */
  def mortonCode(cols: Seq[Column], bits: Int = 16): Column = {
    val d = cols.size
    require(d >= 2, "morton code needs at least two dimensions")
    require(d * bits <= 63, s"d=$d bits=$bits overflow a signed long")
    cols.zipWithIndex.map { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * d + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Min-max scale a column onto the FULL `[0, 2^bits)` range so every
    * z-order dimension drives every interleave level equally. The
    * arithmetic is deliberately IEEE-portable (exact-in-double products,
    * one floor): `(c - min)·2^bits` stays under 2^53 for any 32-bit key
    * domain, so the scaled value reproduces bit-for-bit in any engine. */
  def scaleToBits(c: Column, minC: Column, maxC: Column, bits: Int): Column =
    floor((c.cast("double") - minC) * (1L << bits).toDouble /
      (maxC - minC + lit(1.0))).cast("long")

  /** Z-order-clustered parquet sink: [[writeSorted]]'s row-group-skipping
    * story extended to MULTI-column predicates. A single-column range sort
    * gives tight per-file min/max bands on that column only — a filter on
    * any other column skips nothing. Clustering on the Morton interleave
    * of the min-max-scaled dimensions gives every clustered column
    * moderately tight bands in every file, so a predicate on ANY of them
    * (or a box over several) prunes row groups and files. That trade —
    * one perfectly-skippable column vs all dimensions skippable — is the
    * 100-TB layout choice for fact tables filtered along several axes
    * (time × key × metric). The per-column min/max is one scalar
    * aggregate attached with the broadcast-cross-join idiom (no eager
    * action); the z-value is layout-only and is not written. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      bits: Int = 16,
      numFiles: Int = 32): Unit = {
    val aggExprs = zCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c")))
    val stats = df.agg(aggExprs.head, aggExprs.tail: _*)
    val scaled = zCols.map(c =>
      scaleToBits(col(c), col(s"__min_$c"), col(s"__max_$c"), bits))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", mortonCode(scaled, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z" +: zCols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed parquet table: pre-shuffled on `bucketCols` so joins and
    * aggregations on those keys need NO exchange at read time — the
    * co-located-join story for repeatedly-joined fact tables at scale
    * (pay the shuffle once at write, never again). Catalog-backed
    * (`saveAsTable`) because bucket metadata lives in the metastore. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int = 32,
      sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** P10: `to_date` with the reference's `MM/dd/yy` two-digit-year pattern
    * (`join_acquirers.scala:20-21`) under Spark 4 semantics.
    *
    * Drift trap (SURVEY §7.4): Spark 2.4's legacy parser windowed 2-digit
    * years around "now" (so `"05/15/92"` → 1992); Spark 4's
    * DateTimeFormatter maps `yy` into 2000–2099 (→ 2092). The reference's
    * deal data is 1990s M&A, so the engine restores the sliding-window
    * reading explicitly: years above `pivot` (default 2068, the POSIX
    * convention) roll back a century. The correction is visible in the
    * plan, not hidden in a parser flag. */
  def toDateMMDDYY(s: Column, pivotYear: Int = 2068): Column = {
    val parsed = to_date(s, "MM/dd/yy")
    when(year(parsed) > pivotYear, add_months(parsed, -1200)).otherwise(parsed)
  }
}
