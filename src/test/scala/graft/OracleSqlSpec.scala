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
    * bucketing and the per-event-type p-value bound. */
  private lazy val markers = Seq(
    "md5(CAST((j+1)//2" -> QueryShared.minhashBandsCte,
    "reach(id, r) AS" -> QueryShared.reachCte,
    "'18446744073709551616'" -> QueryShared.unsignedSigSelect("id", "t"),
    "CAST(floor(CAST(a.unit[i] AS DOUBLE)" -> QueryShared.unitDotSql(),
    "substr(md5(gram), 1, 15)" -> QueryShared.anchorGramsCte(),
    "generate_series(-48, 8 + 48 - 1)" -> QueryShared.anchorExtensionCte(),
    "struct_pack(w1 := ts[i], w2 := ts[i+1])" -> QueryShared.bigramModelChain,
    "least((rn - 1) * 5 // nd, 4)" -> QueryShared.interimZ2Chain,
    "1000000000000 // greatest(z2_micro, 1)" -> QueryShared.eventTypePValuesChain)

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
      QueryShared.eventTypePValuesChain, QueryShared.erasureChecksumsChain("p"))
    fragments.foreach(f => assert(margin.findFirstIn(f).isEmpty, f))
  }
}
