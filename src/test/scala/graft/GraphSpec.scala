package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("pageRankInt: hub outranks leaves, symmetric vertices tie exactly, mass is conserved-ish") {
    // star: 1 is the hub of 2,3,4 — plus a detached symmetric pair 5–6
    val scores = Graph
      .pageRankInt(undirected(1L -> 2L, 1L -> 3L, 1L -> 4L, 5L -> 6L), iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(scores.size === 6)
    assert(scores(1L) > scores(2L), "hub must outrank a leaf")
    assert(scores(2L) === scores(3L) && scores(3L) === scores(4L),
      "symmetric leaves must tie EXACTLY (integer recurrence, no float drift)")
    assert(scores(5L) === scores(6L), "detached pair symmetric")
    // integer truncation only ever loses mass; nothing can exceed the unit
    assert(scores.values.sum <= 1000000000000L)
    assert(scores.values.forall(_ > 0L))
  }

  test("pageRankInt: k-regular graph is the uniform fixpoint") {
    // 4-cycle: every vertex degree 2 — scores stay exactly uniform at
    // every iteration, so any iteration count gives the same answer
    val cycle = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val r3 = Graph.pageRankInt(cycle, iters = 3).as[(Long, Long)].collect().toMap
    val r7 = Graph.pageRankInt(cycle, iters = 7).as[(Long, Long)].collect().toMap
    assert(r3.values.toSet.size === 1, "regular graph must be uniform")
    assert(r3 === r7, "uniform fixpoint is iteration-count-invariant")
  }

  test("triangleCounts: K4, path, planted hub — exact per-vertex counts") {
    // K4: every vertex sits in C(3,2)=3 triangles (4 triangles total)
    val k4 = (for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val gotK4 = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(gotK4 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    // path graph: no triangles at all
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCounts(path).count() === 0L)

    // star + one cross edge: exactly one triangle (hub, 2, 3); duplicates,
    // reversed orientations, and self-loops must not change the answer
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val gotStar = Graph.triangleCounts(star).as[(Long, Long)].collect().toMap
    assert(gotStar === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: random graph equals the brute-force triple join") {
    val rnd = new scala.util.Random(29)
    val edges = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val und = edges.select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
    val brute = und.alias("e1")
      .join(und.alias("e2"), col("e1.b") === col("e2.a"))
      .join(und.alias("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("u"), col("e1.b").as("v"), col("e2.b").as("w"))
    val bruteCounts = brute.select(explode(array($"u", $"v", $"w")).as("node"))
      .groupBy($"node").count().as[(Long, Long)].collect().toMap
    val got = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got === bruteCounts)
    assert(got.nonEmpty, "random graph at this density should contain triangles")
  }

  test("bfsHops: shortest distances, multi-seed min, unreachable excluded, maxHops truncates") {
    // chain 1-2-3-4-5, branch 3-7, detached 9-10; seeds {1, 7}
    val edges = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
      3L -> 7L, 9L -> 10L)
    val seeds = Seq(1L, 7L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, maxHops = 4)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(
      1L -> 0, 7L -> 0,   // seeds
      2L -> 1, 3L -> 1,   // 3 via 7 beats 3 via 1-2-3
      4L -> 2, 5L -> 3))  // 9/10 unreachable — absent
    val truncated = Graph.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(truncated === Map(1L -> 0, 2L -> 1, 3L -> 2),
      "maxHops=2 must stop before 4, 5, and 7")
    assertThrows[IllegalArgumentException](Graph.bfsHops(edges, seeds, 0))
  }

  test("pageRankInt: argument guards") {
    val e = undirected(1L -> 2L)
    assertThrows[IllegalArgumentException](Graph.pageRankInt(e, iters = 0))
    assertThrows[IllegalArgumentException](Graph.pageRankInt(e, dampingPct = 101))
    assertThrows[IllegalArgumentException](Graph.pageRankInt(e, scaleUnit = 10L))
  }

  test("LAW minLabelPropagation at >= diameter rounds == driver union-find " +
      "components; each round is exactly min-of-self-and-neighbors") {
    val rnd = new scala.util.Random(29)
    for (round <- 1 to 4) {
      val pairs = (1 to 25 + round)
        .map(_ => (rnd.nextInt(18) + 1L, rnd.nextInt(18) + 1L))
        .filter(p => p._1 != p._2).distinct
      val got = Graph
        .minLabelPropagation(undirected(pairs: _*), rounds = 18)
        .as[(Long, Long)].collect().toMap
      // driver union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val comp = nodes.map(n => n -> find(n)).toMap
      val want = nodes.map(n =>
        n -> nodes.filter(m => comp(m) == comp(n)).min).toMap
      assert(got === want, s"round $round diverged")
      val clusters = graft.llm.Dedup.dupClusters(pairs.toDF("a_doc", "b_doc"))
        .as[(Long, Long)].collect().toMap
      assert(clusters === want, s"round $round: dupClusters diverged")
    }
    // single-round law on a path graph: labels move exactly one hop
    val path = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val one = Graph.minLabelPropagation(path, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  /** The round minLabelPropagation ran before the one-exchange round: a
    * join and a group-by for the out-neighbors' minimum, then a left-outer
    * join back onto the labels, from the vertex distinct as round 0. */
  private def minLabelsByJoins(edges: org.apache.spark.sql.DataFrame, rounds: Int) = {
    var labels = edges.select($"src".as("node")).union(edges.select($"dst".as("node")))
      .distinct().withColumn("label", $"node")
    for (_ <- 1 to rounds) {
      val nbr = edges.join(labels, $"dst" === $"node")
        .groupBy($"src").agg(min($"label").as("nl"))
      labels = labels.join(nbr, $"node" === $"src", "left_outer")
        .select($"node", least($"label", coalesce($"nl", $"label")).as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  test("PARITY minLabelPropagation == the join/left-join round, rounds 1-4, " +
      "on random asymmetric graphs") {
    val rnd = new scala.util.Random(222)
    for (g <- 1 to 3) {
      // directed: most nodes lack the reverse edge, some are only a src
      // or only a dst
      val edges = (1 to 30)
        .map(_ => (rnd.nextInt(20) + 1L, rnd.nextInt(20) + 1L))
        .filter(p => p._1 != p._2).distinct.toDF("src", "dst")
      for (rounds <- 1 to 4) {
        val got = Graph.minLabelPropagation(edges, rounds).as[(Long, Long)].collect().toMap
        val want = minLabelsByJoins(edges, rounds).as[(Long, Long)].collect().toMap
        assert(got === want, s"graph $g, $rounds rounds")
      }
    }
  }

  test("degreeHistogram counts symmetric-edge degrees exactly") {
    val hist = Graph
      .degreeHistogram(undirected(1L -> 2L, 1L -> 3L, 1L -> 4L, 5L -> 6L))
      .as[(Long, Long)].collect().toMap
    // node 1 has degree 3; nodes 2,3,4,5,6 have degree 1
    assert(hist === Map(3L -> 1L, 1L -> 5L))
  }

  test("LAW pageRankIntConverged: residuals monotone non-increasing, the " +
      "stop condition is tight, and stop-round scores == the fixed-round " +
      "form at the same round count") {
    // an irregular graph (hub + tail + ring) so the residual sequence is
    // non-trivial; small enough that every round is a handful of rows
    val edges = undirected(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L,
      5L -> 6L, 6L -> 7L, 7L -> 8L, 8L -> 5L, 3L -> 9L)
    val eps = 50000000000L // 5% of mass — forces several rounds
    val (scores, stopRound, residuals) =
      Graph.pageRankIntConverged(edges, maxIters = 40, epsilonUnits = eps)
    assert(residuals.length == stopRound)
    // monotone non-increasing (damped row-stochastic contraction)
    residuals.zip(residuals.tail).foreach { case (a, b) =>
      assert(b <= a, s"residuals not monotone: $residuals")
    }
    // tight stop: the loop neither overshoots nor quits early — every
    // pre-stop residual > eps, and (when it converged before the cap)
    // the final one <= eps
    assert(stopRound < 40, s"expected convergence under the cap: $residuals")
    assert(residuals.last <= eps)
    residuals.init.foreach(r => assert(r > eps,
      s"loop ran past convergence: $residuals"))
    // the witnessed scores are EXACTLY the fixed-round form's — the
    // oracle-anchoring contract
    val got = scores.as[(Long, Long)].collect().toMap
    val want = Graph.pageRankInt(edges, iters = stopRound)
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("LAW bellmanFordConverged: stop is tight (every pre-stop round " +
      "improves, the stop round improves nothing) and distances == the " +
      "fixed-round union+min form at stopRound AND beyond") {
    // weighted path + shortcut + detached ring: several relaxation
    // rounds, later rounds SHORTEN already-reached nodes (the property
    // that distinguishes Bellman-Ford from BFS)
    val base = Seq(
      (1L, 2L, 10L), (2L, 3L, 10L), (3L, 4L, 10L), (4L, 5L, 10L),
      (1L, 6L, 50L), (6L, 5L, 1L),   // long-hop shortcut into the tail
      (7L, 8L, 5L), (8L, 9L, 5L), (9L, 7L, 5L))
    val edges = (base ++ base.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val (dist, stopRound, improved) =
      Graph.bellmanFordConverged(edges, seeds, maxIters = 20)
    assert(improved.length == stopRound)
    assert(stopRound < 20, s"expected convergence under the cap: $improved")
    assert(improved.last == 0L, s"stop round must improve nothing: $improved")
    improved.init.foreach(c => assert(c > 0L,
      s"loop ran past convergence: $improved"))
    val got = dist.as[(Long, Long)].collect().toMap
    // driver-side Dijkstra over the tiny graph = ground truth
    val adj = (base ++ base.map(e => (e._2, e._1, e._3)))
      .groupBy(_._1).map { case (k, es) => k -> es.map(e => (e._2, e._3)) }
    val truth = scala.collection.mutable.Map(1L -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, 1L))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (truth(u) == d) adj.getOrElse(u, Nil).foreach { case (v, w) =>
        if (truth.get(v).forall(_ > d + w)) {
          truth(v) = d + w; pq.enqueue((d + w, v))
        }
      }
    }
    assert(got === truth.toMap, "converged distances != Dijkstra truth")
    // fixed-round equality at stopRound and past it — the contract that
    // lets q330 cap the same loop at a fixed round count
    def fixedRounds(r: Int): Map[Long, Long] = {
      var d = seeds.select($"node", lit(0L).as("d"))
      for (_ <- 1 to r) {
        val relaxed = edges.join(d, edges("src") === d("node"))
          .select(edges("dst").as("node"), (col("d") + col("w")).as("d"))
        d = d.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
          .localCheckpoint()
      }
      d.as[(Long, Long)].collect().toMap
    }
    assert(fixedRounds(stopRound) === got)
    assert(fixedRounds(stopRound + 2) === got)
  }

  test("withLoopWidth pins the loop shuffle width to the anchor frame " +
      "and restores the session default after (r15 loop-width rule)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val anchor = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      .repartition(3).localCheckpoint(true)
    val inside = Graph.withLoopWidth(anchor) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inside === anchor.rdd.getNumPartitions.toString,
      "loop width must track the materialized anchor's partition count")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "session default must be restored after the loop")
    // and the pinned width changes nothing about kernel results: the
    // fixed-round recurrence is partition-invariant integer algebra
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L)).toDF("src", "dst")
    val a = Graph.pageRankInt(edges, iters = 3).as[(Long, Long)].collect().toMap
    // a deliberately different session width, so the invariance
    // assertion exercises a real contrast
    val b = GraftSession.withConf(spark, "spark.sql.shuffle.partitions", "17") {
      Graph.pageRankInt(edges, iters = 3).as[(Long, Long)].collect().toMap
    }
    assert(a === b, "scores must be identical under any session width")
  }
}
