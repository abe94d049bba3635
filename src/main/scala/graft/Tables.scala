package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Typed loaders for the driver fixture tables (`/root/repo/FIXTURES.md` §B).
  *
  * The reference read every CSV schemaless (all-string columns consumed
  * positionally — `mergers_acquisitions_code/join_acquirers.scala:15-16`,
  * `acq_etl_code.scala:86-87`). Engine rule (SURVEY.md §1.3): every source
  * has an explicit `StructType`; a drifted fixture fails fast instead of
  * silently re-typing downstream arithmetic.
  *
  * Parquet carries its own schema, so here the declared schema is an
  * assertion: `load` verifies (name, type) pairs on every call. The
  * schema the footers give is inferred once per (session, path, total
  * size, latest mtime) — one Spark job — and cached; later loads read
  * with that schema and submit no job. A file rewritten at the same path
  * changes its size or mtime, so it is inferred again and drift still
  * fails the assertion. The key costs one driver-side listing of `path`
  * per load, on top of the one Spark's file index makes for the read:
  * 0.3 ms for a one-file table, 4.9 ms for 200 part files (local disk).
  */
object Tables {

  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      // fixtures store naive (isAdjustedToUTC=false) parquet timestamps
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  )

  /** Load one fixture table and assert its schema matches the declaration
    * (nullability ignored — parquet footers mark everything nullable).
    *
    * `events.ts` has shipped under two physical encodings across fixture
    * generations: TIMESTAMP(NANOS) (which the vectorized reader only
    * accepts as raw longs via `spark.sql.legacy.parquet.nanosAsLong`) and
    * plain TIMESTAMP(MICROS). Inference runs with the nanos conf enabled
    * (a no-op for micros files); later reads enable it only when the
    * inferred `ts` is a raw long, so loads of micros files write no
    * session conf. Both encodings are normalized to the declared
    * microsecond `timestamp_ntz` — the same resolution DuckDB uses, so
    * oracle comparisons agree. Branching on the scanned type instead of
    * assuming one encoding is what makes a silent fixture regeneration a
    * non-event (round-6 regression: 20 queries died on `ts div 1000` when
    * the fixture moved to micros). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df =
      if (name == "events") {
        val raw = rawSchema(spark, path, nanosAsLong = true)
        val tsNorm = raw("ts").dataType match {
          case LongType => // nanos fixture, scanned as raw int64 nanos
            org.apache.spark.sql.functions.expr(
              "cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
          case TimestampNTZType => // micros fixture, already naive
            org.apache.spark.sql.functions.col("ts")
          case TimestampType => // micros fixture read as tz-adjusted
            org.apache.spark.sql.functions.expr("cast(ts as timestamp_ntz)")
          case other =>
            throw new IllegalStateException(
              s"events.ts scanned as unsupported type $other")
        }
        withNanosAsLong(spark, raw("ts").dataType == LongType) {
          spark.read.schema(raw).parquet(path).withColumn("ts", tsNorm)
        }
      } else spark.read.schema(rawSchema(spark, path, nanosAsLong = false))
        .parquet(path)
    schemas.get(name).foreach { expected =>
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = expected.fields.map(f => (f.name, f.dataType)).toSeq
      require(got == want,
        s"schema drift for $name: got $got, expected $want")
    }
    df
  }

  private type FileKey = (String, Long, Long) // (path, total bytes, latest mtime)

  /** Inferred parquet schemas per session. Weak keys: a session its owner
    * drops is not kept alive here, and its entries go with it. */
  private val inferred = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[FileKey, StructType]]())

  /** The schema parquet inference gives `path`, inferred on the first load
    * of each file version in `spark` and cached after that. Two racing
    * first loads may both infer; they store the same schema. */
  private def rawSchema(spark: SparkSession, path: String,
      nanosAsLong: Boolean): StructType = {
    val bySession = inferred.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[FileKey, StructType]())
    val key = fileKey(spark, path)
    Option(bySession.get(key)).getOrElse {
      val schema = withNanosAsLong(spark, nanosAsLong) {
        spark.read.parquet(path).schema
      }
      bySession.putIfAbsent(key, schema)
      schema
    }
  }

  /** (path, total bytes, latest mtime) over the files under `path` — a
    * single parquet file or a directory of part files. Walks `listStatus`
    * rather than `listFiles`: on the local file system `listFiles` builds
    * a `LocatedFileStatus` per file, which loads the file's permissions,
    * and without the native Hadoop library that runs a shell command per
    * file (measured 4.8 ms for one file and 840 ms for 200 part files,
    * against 0.3 ms and 4.9 ms here). */
  private def fileKey(spark: SparkSession, path: String): FileKey = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(f => if (f.isDirectory) walk(f.getPath) else Seq(f))
    val files = walk(root)
    (path, files.map(_.getLen).sum, files.map(_.getModificationTime).foldLeft(0L)(math.max))
  }

  private val nanosConfLock = new Object

  /** `body` with `spark.sql.legacy.parquet.nanosAsLong` on when `enable`,
    * else `body` alone. The conf is read at scan-plan time, so it is set
    * only for plan construction and then restored — a permanent set would
    * silently change how every OTHER nano-parquet in the session is read.
    * The lock keeps concurrent loads from interleaving their save/restore
    * pairs and leaving the conf set. */
  private def withNanosAsLong[T](spark: SparkSession, enable: Boolean)(body: => T): T =
    if (!enable) body
    else nanosConfLock.synchronized {
      GraftSession.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")(body)
    }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
