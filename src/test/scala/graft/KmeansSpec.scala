package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Kmeans

/** Laws for the convergence-witnessed Lloyd kernel (q422) on planted
  * frames — the independent-differential discipline used for waterfill
  * (LawsSpec) and the graph kernels (GraphSpec). */
class KmeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def xFrame(rows: Seq[(Long, Seq[Long])]) =
    rows.flatMap { case (v, qs) =>
      qs.zipWithIndex.map { case (q, d) => (v, d.toLong, q) }
    }.toDF("vec_id", "dim", "q")

  test("two planted blobs: converges with zero changes, recovers the blobs") {
    // blob A around (0, 0), blob B around (1e6, 1e6); one seed in each
    val pts = Seq(
      1L -> Seq(0L, 0L), 2L -> Seq(1000L, -2000L), 3L -> Seq(-500L, 800L),
      4L -> Seq(1000000L, 1000000L), 5L -> Seq(998000L, 1002000L),
      6L -> Seq(1001000L, 999500L))
    val seeds = Seq((1L, 0L), (4L, 1L)).toDF("vec_id", "cid")
    val (assign, _, round, changed) = Kmeans.lloydConverged(xFrame(pts), seeds)
    assert(changed === 0L, "must converge on separated blobs")
    assert(round <= 4, s"blobs this clean must converge fast, took $round")
    val got = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got) === Set(0L))
    assert(Set(4L, 5L, 6L).map(got) === Set(1L))
  }

  test("assignment matches a from-scratch exact-integer reimplementation") {
    // awkward cloud, 3 clusters, 3 dims — replay Lloyd in plain Scala
    // with the same integer algebra and compare the full assignment
    val rnd = new scala.util.Random(7)
    val pts = (1L to 40L).map { v =>
      v -> Seq.fill(3)((rnd.nextInt(4000001) - 2000000).toLong)
    }
    val seeds = Seq((3L, 0L), (11L, 1L), (27L, 2L)).toDF("vec_id", "cid")
    val (assign, _, round, changed) =
      Kmeans.lloydConverged(xFrame(pts), seeds, maxRounds = 12)

    val x = pts.toMap
    val off = 2000000L
    var cent: Map[Long, Seq[Long]] =
      Map(0L -> x(3L), 1L -> x(11L), 2L -> x(27L))
    var prev: Map[Long, (Long, Long)] = null
    var r = 0
    var chg = -1L
    while (r < 12 && chg != 0L) {
      r += 1
      val a = x.map { case (v, qs) =>
        val best = cent.toSeq.map { case (c, cq) =>
          (qs.zip(cq).map { case (q, cc) => (q - cc) * (q - cc) }.sum, c)
        }.min
        v -> ((best._2, best._1))
      }
      if (prev != null) chg = x.keys.count(v => a(v)._1 != prev(v)._1)
      cent = cent.map { case (c, old) =>
        val members = a.collect { case (v, (cc, _)) if cc == c => v }.toSeq
        if (members.isEmpty) c -> old
        else {
          val n = members.size.toLong
          c -> (0 until 3).map { d =>
            val sq = members.map(v => x(v)(d)).sum
            (sq + n * off) / n - off
          }
        }
      }
      prev = a
    }
    assert(round === r && changed === chg)
    val got = assign.collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2)))).toMap
    assert(got === prev, "engine assignment must equal the naive replay")
  }

  test("empty cluster keeps its previous centroid; ties break to smaller cid") {
    // seed 2's vector is strictly dominated: every point is nearer seed 1,
    // so cluster 1 empties after round 1 and must KEEP the seed centroid.
    // Points 1 and 2 are equidistant from both seeds only for cid order
    // to decide — the declared (dist2, cid) tie.
    val pts = Seq(
      1L -> Seq(0L), 2L -> Seq(0L), 3L -> Seq(10L), 4L -> Seq(-10L))
    // seeds at 0 (cid 0) and 0 (cid 1): identical centroids — every
    // point ties and must go to cid 0; cluster 1 is empty every round
    val seeds = Seq((1L, 0L), (2L, 1L)).toDF("vec_id", "cid")
    val (assign, _, _, changed) = Kmeans.lloydConverged(xFrame(pts), seeds)
    assert(changed === 0L)
    val got = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet === Set(0L), "ties must break to the smaller cid")
  }

  test("q422 surface: output stop round equals lloydConverged's on the same input") {
    val df = SparkEntry.queries("q422_kmeans_converged")(spark, TestSpark.sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val stop = rows.head.getAs[Long]("stop_round")
    val q = queries.Analytics5Queries
    val (_, _, round, _) = Kmeans.lloydConverged(q.embeddingGrid(spark, TestSpark.sf),
      q.md5Seeds(spark, TestSpark.sf, 4), maxRounds = 12)
    assert(stop === round.toLong)
    val changed = rows.head.getAs[Long]("changed_last")
    // the witness contract: either converged (0 changes) or the 12-round
    // cap was hit and the realized change count is exposed
    assert(changed === 0L || stop === 12L)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ===
      Tables.embeddings(spark, TestSpark.sf).count())
  }
}
