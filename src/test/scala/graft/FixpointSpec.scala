package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Fixpoint

/** The round loop every iterative kernel runs on: its observed witness
  * against the separate-action witnesses the kernels used to run, its
  * rule at the cap, its job count, and a guard that keeps hand-rolled
  * rounds from coming back. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(es: (Long, Long)*): DataFrame =
    (es ++ es.map(_.swap)).toDF("src", "dst")
  // the hub is not the minimum id, so labels need more than one hop
  private val graphs = Seq(
    "path" -> Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L),
    "star" -> Seq(4L -> 1L, 4L -> 2L, 4L -> 3L, 4L -> 5L, 4L -> 6L, 6L -> 7L))

  /** One witness kind: the kernel-shaped round through Fixpoint, the
    * state the next round sees, and the witness the kernel used to
    * compute with a second action over (previous, next) state. */
  private case class Kind(
      name: String,
      witness: Column,
      init: DataFrame => DataFrame,
      round: (DataFrame, DataFrame, Int) => DataFrame,
      state: DataFrame => DataFrame,
      separate: (DataFrame, DataFrame) => Long)

  private val kinds = Seq(
    Kind("label change", sum(when($"cluster_id" < $"prev", 1L)),
      e => e.groupBy($"src").agg(least($"src", min($"dst")).as("cluster_id"))
        .select($"src".as("doc_id"), $"cluster_id"),
      (e, labels, _) => {
        val msgs = e.join(labels, e("src") === labels("doc_id"))
          .select($"dst".as("doc_id"), $"cluster_id", lit(false).as("own"))
        labels.select($"doc_id", $"cluster_id", lit(true).as("own"))
          .unionByName(msgs).groupBy($"doc_id")
          .agg(min($"cluster_id").as("cluster_id"),
            min(when($"own", $"cluster_id")).as("prev"))
      },
      _.select($"doc_id", $"cluster_id"),
      (prev, next) => next.join(prev.withColumnRenamed("cluster_id", "p"), "doc_id")
        .filter($"cluster_id" =!= $"p").count()),
    Kind("L1 residual", sum(abs($"score" - $"prev_score")),
      e => {
        val nodes = e.select($"src".as("node")).distinct()
        nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
          .select($"node", expr("1000000000000 DIV n").as("score"),
            expr("(15 * (1000000000000 DIV n)) DIV 100").as("base"))
      },
      (e, scores, _) => {
        val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
        val msgs = e.join(deg, "src")
          .join(scores.select($"node", $"score"), $"src" === $"node")
          .groupBy($"dst").agg(sum(expr("score DIV deg")).as("inbound"))
        scores.select($"node", $"base", $"score".as("prev_score"))
          .join(msgs, $"node" === $"dst", "left_outer")
          .select($"node",
            ($"base" + expr("(85 * coalesce(inbound, 0L)) DIV 100")).as("score"),
            $"base", $"prev_score")
      },
      _.select($"node", $"score", $"base"),
      (prev, next) => next.join(prev.select($"node", $"score".as("ps")), "node")
        .agg(sum(abs($"score" - $"ps"))).head().getLong(0)),
    Kind("improved count", sum(when($"p".isNull || $"d" < $"p", 1L)),
      _ => Seq(1L).toDF("node").select($"node", lit(0L).as("d")),
      (e, dist, _) => {
        val relaxed = e.join(dist, e("src") === dist("node"))
          .select($"dst".as("node"), ($"d" + $"src" % 3 + 1).as("d"),
            lit(null).cast("long").as("p"))
        dist.select($"node", $"d", $"d".as("p")).unionByName(relaxed)
          .groupBy($"node").agg(min($"d").as("d"), min($"p").as("p"))
      },
      _.select($"node", $"d"),
      (prev, next) => next.as("n")
        .join(prev.as("p"), $"n.node" === $"p.node", "left_outer")
        .filter($"p.node".isNull || $"n.d" < $"p.d").count()),
    Kind("frontier size", sum($"fresh".cast("long")),
      _ => Seq(7L).toDF("node").select($"node", lit(0).as("hop"), lit(true).as("fresh")),
      (e, dist, h) => {
        val frontier = dist.filter($"fresh").select($"node")
        val next = e.join(frontier, e("src") === frontier("node"))
          .select($"dst".as("node")).distinct()
          .join(dist.select($"node".as("v")), $"node" === $"v", "left_anti")
        dist.select($"node", $"hop", lit(false).as("fresh"))
          .unionByName(next.select($"node", lit(h).as("hop"), lit(true).as("fresh")))
      },
      identity,
      (prev, next) => next.select($"node").except(prev.select($"node")).count()),
    Kind("edge-set difference", sum(when($"is_next" =!= $"is_prev", 1L)),
      e => e.filter($"src" < $"dst").withColumn("is_next", lit(1)),
      (_, edges, _) => {
        // one large-star step, so the edge set keeps rewiring for a while
        val prev = edges.select($"src", $"dst")
        val sym = prev.union(prev.select($"dst".as("src"), $"src".as("dst")))
        val mins = sym.groupBy($"src").agg(least($"src", min($"dst")).as("m"))
        sym.join(mins, "src").filter($"dst" > $"src")
          .select($"dst".as("src"), $"m".as("dst"), lit(1).as("is_next"), lit(0).as("is_prev"))
          .unionByName(prev.select($"src", $"dst", lit(0).as("is_next"), lit(1).as("is_prev")))
          .groupBy($"src", $"dst")
          .agg(max($"is_next").as("is_next"), max($"is_prev").as("is_prev"))
      },
      _.filter($"is_next" === 1).select($"src", $"dst"),
      (prev, next) => {
        val p = prev.select($"src".as("p_src"), $"dst".as("p_dst"))
        val same = $"src" === $"p_src" && $"dst" === $"p_dst"
        next.join(p, same, "left_anti").count() + p.join(next, same, "left_anti").count()
      }))

  for (k <- kinds; (g, es) <- graphs)
    test(s"${k.name} on a $g graph: the observed witness equals the " +
        "separate-action witness, round for round") {
      val e = undirected(es: _*).localCheckpoint(true)
      val states = scala.collection.mutable.ArrayBuffer(k.init(e).localCheckpoint(true))
      // stopAt -1: every round runs, including the ones after convergence
      val run = Fixpoint[DataFrame](k.name, 6, Some(k.witness), stopAt = -1L)(states.head) {
        (s, r) => (k.round(e, s, r), m => { states += k.state(m); states.last })
      }
      assert(run.rounds === 6 && run.witnesses.length === 6)
      val separate = states.zip(states.tail).map { case (p, n) => k.separate(p, n) }.toSeq
      assert(run.witnesses === separate)
      assert(run.witnesses.head > 0L, s"${k.name}: the first round must change something")
    }

  test("a round over an empty frame reads 0, not null") {
    val empty = Seq.empty[Long].toDF("x").localCheckpoint(true)
    val run = Fixpoint.frames("empty", 3, Some(sum($"x")))(empty)((s, _) => s)
    assert(run.witnesses === Seq(0L) && run.rounds === 1)
    // BFS's last round: the frontier is empty, the loop stops there
    val dist = ops.Graph.bfsHops(Seq((1L, 2L)).toDF("src", "dst"),
      Seq(1L).toDF("node"), maxHops = 10)
    assert(dist.as[(Long, Int)].collect().toSet === Set(1L -> 0, 2L -> 1))
  }

  test("a witnessed loop leaves its session serializable") {
    // task closures may capture the session: spark.ml's LR model
    // transform does, through its training summary
    val one = Seq(1L).toDF("x").localCheckpoint(true)
    assert(Fixpoint.frames("serializable", 1, Some(sum($"x")))(one)((s, _) => s)
      .witnesses === Seq(1L))
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream).writeObject(spark)
  }

  test("a witnessed loop that reaches the cap throws naming the loop, or " +
      "returns the capped state") {
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("a_doc", "b_doc")
    val e = intercept[IllegalStateException](llm.Dedup.dupClusters(chain, maxIters = 1))
    assert(e.getMessage.contains("Dedup.dupClusters"), e.getMessage)
    val e2 = intercept[IllegalStateException](
      llm.Dedup.dupClustersAlternating(chain, maxIters = 1))
    assert(e2.getMessage.contains("Dedup.dupClustersAlternating"), e2.getMessage)
    val one = Seq(1L).toDF("x").localCheckpoint(true)
    val capped = Fixpoint.frames("ones", 2, Some(sum($"x")))(one)((s, _) => s)
    assert(capped.rounds === 2 && capped.witnesses === Seq(1L, 1L))
    assert(intercept[IllegalStateException](
      Fixpoint.frames("ones", 2, Some(sum($"x")), throwAtCap = true)(one)((s, _) => s))
      .getMessage.contains("ones"))
    // a loop that reaches its fixpoint on the last allowed round did not
    // hit the cap
    assert(Fixpoint.frames("zero", 1, Some(sum($"x") - 1), throwAtCap = true)(one)(
      (s, _) => s).witnesses === Seq(0L))
  }

  /** Spark jobs `body` submits from this thread, read from a listener;
    * once the marker job's start arrives, every earlier job is counted. */
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
      sc.setJobGroup(group, "jobs counted by FixpointSpec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("a witnessed loop submits no more Spark jobs than the same rounds " +
      "without a witness") {
    val k = kinds.head
    val e = undirected(graphs.head._2: _*).localCheckpoint(true)
    val init = k.init(e).localCheckpoint(true)
    def rounds(w: Option[Column]): Unit =
      Fixpoint.frames("jobs", 4, w, stopAt = -1L)(init)((s, r) => k.round(e, s, r))
    rounds(None) // warm-up: first-use planning and code generation
    val plain = jobsSubmitted(rounds(None))
    val witnessed = jobsSubmitted(rounds(Some(k.witness)))
    info(s"4 label rounds: $plain jobs without a witness, $witnessed with one")
    assert(plain > 0 && witnessed <= plain)
  }

  test("guard: at sf0.01 a q43 run submits <= 9 Spark jobs and a q222 run " +
      "<= 16 (a projected MinHash and a one-exchange min-label round)") {
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, TestSpark.sf01).write.format("noop").mode("overwrite").save()
    for ((q, cap) <- Seq("q43_dup_clusters" -> 9, "q222_label_prop" -> 16)) {
      run(q) // warm-up: schema inference and first-use planning
      val n = jobsSubmitted(run(q))
      info(s"$q: $n jobs a run")
      assert(n <= cap, s"$q submitted $n Spark jobs, more than $cap")
    }
  }

  test("guard: only Fixpoint runs a checkpointed round loop in src/main") {
    // q361's loop collects its pick each round: that row is the query's
    // output, not a convergence witness, so the loop is not a fixpoint
    val allowed = Set("q361_greedy_cover")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val loopHead = """\b(while|for)\s*\(""".r
    val queryKey = """"(q\d+_\w+)"\s*->""".r
    val fixpoint = new java.io.File("src/main/scala/graft/ops/Fixpoint.scala").getCanonicalPath
    /** The text from `open` to its matching close. */
    def balanced(s: String, open: Int, o: Char, c: Char): String = {
      var depth = 0
      var i = open
      while ({ if (s(i) == o) depth += 1 else if (s(i) == c) depth -= 1; depth > 0 }) i += 1
      s.substring(open, i + 1)
    }
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.exists(_.getCanonicalPath == fixpoint))
    val found = for {
      f <- files
      s = { val src = scala.io.Source.fromFile(f, "UTF-8"); try src.mkString finally src.close() }
      m <- loopHead.findAllMatchIn(s)
      lineStart = s.lastIndexOf('\n', m.start) + 1
      if !s.substring(lineStart, m.start).trim.startsWith("//") &&
        !s.substring(lineStart, m.start).trim.startsWith("*")
      header = balanced(s, m.end - 1, '(', ')')
      bodyStart = s.indexWhere(!_.isWhitespace, m.end - 1 + header.length)
      body = if (s(bodyStart) == '{') balanced(s, bodyStart, '{', '}')
        else s.substring(bodyStart, s.indexOf('\n', bodyStart))
      if body.contains("localCheckpoint")
    } yield (f.getCanonicalPath, s.take(m.start).count(_ == '\n') + 1,
      queryKey.findAllMatchIn(s.take(m.start)).map(_.group(1)).toSeq.lastOption)
    assert(found.exists(_._1 == fixpoint), "the guard must see Fixpoint's own round")
    assert(found.exists(_._3.exists(allowed)), "the guard must see q361's loop")
    val stray = found.filterNot { case (f, _, q) => f == fixpoint || q.exists(allowed) }
    assert(stray.isEmpty, "localCheckpoint in a hand-rolled round loop: " +
      stray.map { case (f, l, _) => s"$f:$l" }.mkString(", "))
    val tokens = for {
      f <- files
      s = { val src = scala.io.Source.fromFile(f, "UTF-8"); try src.mkString finally src.close() }
      t <- Seq("limit(1).count()", "var converged") if s.contains(t)
    } yield s"${f.getPath}: $t"
    assert(tokens.isEmpty, "hand-rolled witness or stop flag: " + tokens.mkString(", "))
  }
}
