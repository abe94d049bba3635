package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: a closed loop with one client that runs a
  * workload's jobs one after another, each through `SparkEntry.queries`.
  *
  *   1. set-up: session on local[N] with the shuffle width pinned to N, then
  *      one untimed pass that writes every job's output for the oracle
  *      check and fills the JIT and codegen caches;
  *   2. `--passes` timed passes, each job timed through a full `noop`
  *      write;
  *   3. with `--trace 1` instead: as many traced passes (at least one),
  *      between two passes without tracing whose mean is the
  *      overhead base (the JIT is still warming, so one base pass before
  *      would flatter tracing), then the layer probes.
  *
  * Every pass runs under its own artifact namespace (`graft.preds.tag`), so
  * each pays the fits, writes and stream drains a user pays, and no pass
  * reads state an earlier one left. Writes one JSON file; run.py turns it
  * into metrics.
  */
object Harness {
  final case class JobRun(name: String, secs: Double, start: Long, end: Long, error: Option[String])
  /** one pass over the job list and its wall seconds */
  final case class Pass(secs: Double, jobs: Seq[JobRun])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jobs = o("jobs").split(',').toSeq
    val layers = o("layers").split(',').toSet
    val passes = o("passes").toInt
    val trace = o("trace") == "1"
    val data = o("data")
    val outDir = o("out")
    val n = o("cpus").toInt
    // The oracle SQL embeds artifact paths when the query objects first
    // load, so the check namespace must be in place before anything
    // touches SparkEntry.
    sys.props("graft.preds.tag") = "check"
    val unknown = jobs.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown jobs: $unknown")

    val spark = GraftSession.builder(s"local[$n]", "perfbench", n)
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(rec.streams)
    }

    def runJob(name: String, tag: String, sink: DataFrame => Unit): JobRun = {
      sys.props("graft.preds.tag") = tag
      spark.catalog.clearCache()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val error =
        try { sink(SparkEntry.queries(name)(spark, data)); None }
        catch { case e: Throwable => Some(e.toString.take(300)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      // a leaked width re-plans every later job, so it fails this one
      val width = spark.conf.get("spark.sql.shuffle.partitions")
      if (width != n.toString) spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      JobRun(name, secs, start, end,
        error.orElse(Option.when(width != n.toString)(s"shuffle width left at $width, pinned at $n")))
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    def dropNamespace(tag: String): Unit = deleteTree(new File(s"target/tmp/$tag"))
    def pass(tag: String): Pass = {
      val t0 = System.nanoTime()
      val runs = jobs.map(runJob(_, tag, noop))
      val p = Pass((System.nanoTime() - t0) / 1e9, runs)
      dropNamespace(tag)
      p
    }

    val check = jobs.map(j => runJob(j, "check", df =>
      df.write.mode("overwrite").parquet(s"$outDir/$j")))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => jobs.contains(k) }

    val setupEnd = System.currentTimeMillis()
    val timed = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    val spans = mutable.ArrayBuffer.empty[Span]
    val taskSecs = mutable.HashMap.empty[String, Double]
    if (!trace) {
      // --passes 0 stops after set-up (the class-data sharing training run)
      while (timed.size < passes) timed += pass(s"p${timed.size}")
    } else {
      timed += pass("base0")
      rec.settle(); rec.clear()
      val sampler = new Sampler(Thread.currentThread(), 5L)
      var id = 0
      while (traced.size < math.max(1, passes)) {
        val p = pass(s"t${traced.size}")
        traced += p
        p.jobs.foreach(r => spans ++= sampler.spans(r.name, r.start, r.end, () => { id += 1; id }))
        sampler.clear()
      }
      sampler.stop()
      taskSecs ++= sampler.taskSecs
      rec.settle()
    }

    val traceJson =
      if (!trace) "null"
      else {
        val all = Attribution.withBatches(rec, spans.toSeq)
        writeSpans(all, s"$outDir/spans.json")
        val layerMetrics = Attribution.metrics(rec, all, taskSecs, traced.map(_.secs).toSeq, n)
        timed += pass("base1")
        val tracedMedian = traced.map(_.secs).sorted.apply(traced.size / 2)
        val overhead = "trace.overhead" -> (tracedMedian / (timed.map(_.secs).sum / timed.size)).toString
        Json.obj(layerMetrics ++ Seq(overhead) ++ Probes.run(spark, data, jobs, layers, rec))
      }

    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
    def runsJson(rs: Seq[JobRun]): String = rs.map(r => Json.obj(Seq(
      "name" -> Json.str(r.name), "secs" -> r.secs.toString,
      "error" -> r.error.map(Json.str).getOrElse("null")))).mkString("[", ",", "]")
    def passesJson(ps: Seq[Pass]): String = ps.map(p => Json.obj(Seq(
      "secs" -> p.secs.toString, "jobs" -> runsJson(p.jobs))))
      .mkString("[", ",", "]")
    val result = Json.obj(Seq(
      "setup_end_ms" -> setupEnd.toString,
      "check" -> runsJson(check),
      "oracle_sql" -> Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "timed" -> passesJson(timed.toSeq),
      "traced" -> passesJson(traced.toSeq),
      "peak_rss_mb" -> rss.toString,
      "trace" -> traceJson))
    Files.writeString(Paths.get(s"$outDir/result.json"), result)
    spark.stop()
    // stream executions leave non-daemon threads behind
    sys.exit(0)
  }

  private def writeSpans(spans: Seq[Span], path: String): Unit =
    Files.writeString(Paths.get(path), spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "job" -> Json.str(s.job),
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
      "start" -> s.start.toString, "end" -> s.end.toString))).mkString("[\n", ",\n", "\n]"))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
