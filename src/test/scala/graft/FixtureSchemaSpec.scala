package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift tripwire (VERDICT r6 "Next round" #2).
  *
  * Round 6 lost 20 queries, 11 tests, and the driver bench to a single
  * silent fixture regeneration: `events.ts` changed physical encoding from
  * TIMESTAMP(NANOS) to timestamp[us] and `Tables.load`'s normalization
  * assumed the old encoding. This spec pins the contract at its narrowest
  * point — every driver fixture, read through `Tables.load`, must surface
  * exactly the declared logical schema — so the next regeneration fails ONE
  * named test with the drifted (name, type) pairs in the message instead of
  * an analysis-error blast radius across the query surface.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every fixture table loads and normalizes to its declared schema") {
    Tables.schemas.keys.toSeq.sorted.foreach { name =>
      val df = Tables.load(spark, TestSpark.sf, name)
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = Tables.schemas(name).fields.map(f => (f.name, f.dataType)).toSeq
      assert(got == want, s"fixture $name drifted: got $got want $want")
      assert(df.limit(1).count() == 1, s"fixture $name is empty")
    }
  }

  test("events.ts normalizes to timestamp_ntz from either physical encoding") {
    import org.apache.spark.sql.functions._
    // Whatever encoding the current fixture uses, the loaded column must be
    // NTZ micros whose values round-trip through a micros write unchanged.
    val ev = Tables.events(spark, TestSpark.sf)
    assert(ev.schema("ts").dataType == TimestampNTZType)
    // Values must be sane timestamps (fixture generates 2024-era events),
    // not 1970-epoch artifacts of a wrong div/cast.
    val yr = ev.select(min(year(col("ts"))), max(year(col("ts")))).head()
    assert(yr.getInt(0) >= 2000 && yr.getInt(1) <= 2100,
      s"events.ts values out of range: $yr — wrong physical-encoding branch?")
  }

  test("synthetic nanos-encoded events normalize identically to the fixture") {
    // Write an int64-nanos parquet shaped like the old fixture and read it
    // back through the same normalization path Tables.load uses, proving the
    // LongType branch still yields identical micros.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nanos_events").toString
    val micros = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("us"))
    micros.select(col("event_id"), (col("us") * 1000L).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .withColumn("ts",
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      .select(col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("us_back"))
    val diff = micros.join(back, "event_id")
      .filter(col("us") =!= col("us_back")).count()
    assert(diff == 0, s"$diff rows drifted through the nanos branch")
  }

  private def pairs(t: StructType): Seq[(String, DataType)] =
    t.fields.map(f => (f.name, f.dataType)).toSeq

  /** Spark jobs `body` submits from this thread, read from a listener.
    * Events reach a listener in post order, so once the marker job's
    * start has arrived, every job `body` submitted has been counted. */
  private def jobsSubmitted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val marker = s"marker-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet(); ()
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs counted by FixtureSchemaSpec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second load of a table submits no Spark job") {
    // a fresh session has an empty schema cache, so the first load infers
    val s = spark.newSession()
    Tables.schemas.keys.toSeq.sorted.foreach { name =>
      val first = jobsSubmitted(Tables.load(s, TestSpark.sf, name))
      assert(first >= 1, s"$name: first load should infer its schema")
      val second = jobsSubmitted(Tables.load(s, TestSpark.sf, name))
      assert(second == 0, s"$name: second load submitted $second jobs")
    }
  }

  test("a file rewritten at the same path with a changed type fails as drift") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("drift_tables").toString
    val region = Tables.region(spark, TestSpark.sf)
    region.write.parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).count() == region.count())
    region.withColumn("r_regionkey", col("r_regionkey").cast(LongType))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException](Tables.region(spark, dir))
    assert(e.getMessage.contains("schema drift for region"), e.getMessage)
  }

  test("four threads loading every table on one session get the declared " +
      "schemas and leave the session conf unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val names = Tables.schemas.keys.toSeq.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val loads = (0 until 4).map { i =>
        // each thread walks the tables from a different start
        val order = names.drop(i * 2) ++ names.take(i * 2)
        pool.submit(() => order.map(n => n -> Tables.load(s, TestSpark.sf, n).schema))
      }
      loads.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES)).foreach {
        case (name, schema) =>
          assert(pairs(schema) == pairs(Tables.schemas(name)),
            s"$name loaded as ${pairs(schema)}")
      }
    } finally pool.shutdown()
    assert(s.conf.getAll == before)
  }
}
