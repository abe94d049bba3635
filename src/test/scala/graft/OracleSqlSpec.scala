package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryShared

/** The DuckDB oracle chains that several oracles share are built from one
  * `QueryShared` function each. A guard keeps the area maps from restating
  * them, and each shared fragment is pinned to the oracles that use it. */
class OracleSqlSpec extends AnyFunSuite {

  private val queriesDir = new java.io.File("src/main/scala/graft/queries")
  private val shared = "QueryShared.scala"

  /** One marker per shared kernel, with the fragment that renders it: the
    * md5 MinHash slice, the recursive min-label closure, the unsigned 2^64
    * lift of a 64-bit sketch, the unit-vector dot, the md5 anchor pick and
    * ±48-token extension, the interpolated bigram model, the interim
    * bucketing, the per-event-type p-value bound, the recursive fixpoint
    * loop with its PageRank, HITS and Bellman–Ford rounds, and the
    * per-customer order count with its repeat-buyer label. */
  private lazy val markers = Seq(
    "md5(CAST((j+1)//2" -> QueryShared.minhashBandsCte,
    "reach(id, r) AS" -> QueryShared.reachCte,
    "'18446744073709551616'" -> QueryShared.unsignedSigSelect("id", "t"),
    "CAST(floor(CAST(a.unit[i] AS DOUBLE)" -> QueryShared.unitDotSql(),
    "substr(md5(gram), 1, 15)" -> QueryShared.anchorGramsCte(),
    "generate_series(-48, 8 + 48 - 1)" -> QueryShared.anchorExtensionCte(),
    "struct_pack(w1 := ts[i], w2 := ts[i+1])" -> QueryShared.bigramModelChain,
    "least((rn - 1) * 5 // nd, 4)" -> QueryShared.interimZ2Chain,
    "1000000000000 // greatest(z2_micro, 1)" -> QueryShared.eventTypePValuesChain,
    "WITH RECURSIVE loop(r, " -> QueryShared.bellmanFordChain(6),
    "sum(q.score // d.deg)" -> QueryShared.pageRankChain(5),
    "h0 * 1000000 // (SELECT max(h0) FROM h0)" -> QueryShared.hitsChain(5),
    "SELECT e.dst, q.d + e.w, NULL FROM prev q" -> QueryShared.bellmanFordChain(6),
    "SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord" -> QueryShared.custOrdersCte,
    "coalesce(n_ord, 0) >= 2 THEN 1 ELSE 0 END AS label" -> QueryShared.repeatBuyerChain)

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("guard: no area file under graft/queries restates a shared oracle kernel") {
    val files = Option(queriesDir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == shared))
    val restated = for {
      f <- files if f.getName != shared
      s = read(f)
      (m, _) <- markers if s.contains(m)
    } yield s"${f.getName}: $m"
    assert(restated.isEmpty,
      "restate a QueryShared kernel instead of calling it: " +
        restated.mkString(", "))
  }

  test("each shared kernel renders its marker and reaches several oracles") {
    val oracles = SparkEntry.oracleSql
    markers.foreach { case (m, sql) =>
      assert(sql.contains(m), s"QueryShared no longer renders $m")
      val users = oracles.count(_._2.contains(m))
      assert(users >= 2, s"$m reaches $users oracles")
    }
  }

  test("guard: no query file keeps a JVM-global stop round or a run-before-read oracle") {
    val files = Option(queriesDir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    val found = for {
      f <- files
      s = read(f)
      m <- Seq("java.util.concurrent.atomic", "realizedOrSentinel") if s.contains(m)
    } yield s"${f.getName}: $m"
    assert(found.isEmpty, "an oracle finds its own stop round: " + found.mkString(", "))
  }

  test("each iterative kernel's recursive fragment reaches both of its oracles") {
    val oracles = SparkEntry.oracleSql
    // the Lloyd loop is a private Analytics5 helper, so it is found by
    // its assignment round's marker in the oracle text
    Seq(
      ("sum(q.score // d.deg)", Seq("q69_pagerank", "q386_pagerank_converged")),
      ("h0 * 1000000 // (SELECT max(h0) FROM h0)", Seq("q331_hits", "q390_hits_converged")),
      ("SELECT e.dst, q.d + e.w, NULL FROM prev q",
        Seq("q330_bellman_ford", "q397_bellman_converged")),
      ("FROM a LEFT JOIN prev p ON p.kind = 'a'",
        Seq("q422_kmeans_converged", "q460_kmeans_elbow"))).foreach { case (m, keys) =>
      assert(oracles.filter(_._2.contains(m)).keySet === keys.toSet, m)
      keys.foreach(k => assert(oracles(k).contains("WITH RECURSIVE"), k))
    }
  }

  test("a spliced fragment has no line that stripMargin would cut") {
    // fragments are interpolated into `.stripMargin` strings, which strip
    // any line that starts with blanks and a `|`
    val margin = """(?m)^[ \t]*\|""".r
    val fragments = Seq(
      QueryShared.lshPairsChain, QueryShared.minLabelClosure("cl"),
      QueryShared.symmetricEdgesCte("pairs", "a_node", "b_node"),
      QueryShared.minLabelCte("clusters"), QueryShared.unitsCte("p"),
      QueryShared.pairDotsCte("d", "p"), QueryShared.shortlistDotsChain("s", "u"),
      QueryShared.sigFileCte("s", "id", "p"), QueryShared.unsignedSigSelect("id", "t"),
      QueryShared.unitDotSql("x", "y", "t"),
      QueryShared.windowDocsCte, QueryShared.anchorGramsCte("pl", "ge", "ae"),
      QueryShared.bigramModelChain, QueryShared.interimZ2Chain,
      QueryShared.eventTypePValuesChain, QueryShared.erasureChecksumsChain("p"),
      QueryShared.pageRankChain(20, Some(1L)), QueryShared.hitsChain(15, Some(1L)),
      QueryShared.bellmanFordChain(6), QueryShared.repeatBuyerChain)
    fragments.foreach(f => assert(margin.findFirstIn(f).isEmpty, f))
  }
}
