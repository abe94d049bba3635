package graft
package ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Convergence-witnessed Lloyd k-means over exact-quantized vectors — the
  * FOURTH convergence-witnessed kernel class (after mass-propagation PageRank/HITS,
  * path-relaxation Bellman–Ford, and the linear-operator Markov fixpoint):
  * an ALTERNATING-minimization fixpoint, where each round solves two exact
  * sub-problems (nearest-centroid assignment, per-cluster integer mean) and
  * the stop condition is a combinatorial witness — ZERO membership changes —
  * not a residual threshold.
  *
  * Everything is exact integer algebra so any cluster and the DuckDB oracle
  * walk bit-identical paths: vectors arrive pre-quantized (dim, q) with
  * |q| ≤ OFFSET by contract; distances are exact Long squared-L2 over the
  * quantized grid; means use the OFFSET device ((Σq + n·OFF) div n − OFF,
  * the q408 rule — Spark's truncating div equals DuckDB's floor div only on
  * non-negative numerators); argmin ties break on the smaller cluster id via
  * an explicitly ordered row_number. An empty cluster KEEPS its previous
  * centroid (deterministic, stated in the oracle's left join) instead of
  * respawning — the declared semantics.
  *
  * Scale shape: per round, ONE broadcast hash join of the k·D centroid grid
  * against the exploded vector frame (the fact-scale pass), one partial
  * aggregation to (vec, cid) distances, one per-vec partitioned top-1
  * window, one (cid, dim) rollup for the update. Nothing quadratic; the
  * membership-change count rides the round through
  * [[graft.ops.Fixpoint]]: the assignment frame keeps each vector's
  * previous cluster next to its new one.
  */
object Kmeans {

  private val Offset = 2000000L

  /** One Lloyd run. `x` must be (vec_id: Long, dim: Long, q: Long) with
    * |q| ≤ 2·10⁶; `seeds` is (vec_id, cid) — the initial centroids are the
    * seed rows' own vectors. Returns (final assignment (vec_id, cid,
    * dist2), post-final-update centroids (cid, dim, c_q) — the serveable
    * model artifact, realized round count, membership changes in the last
    * round — 0 iff converged before `maxRounds`). Runs at least 2 rounds
    * (round 1 has no previous assignment, so every vector counts as
    * changed). */
  def lloydConverged(x: DataFrame, seeds: DataFrame,
      maxRounds: Int = 12): (DataFrame, DataFrame, Int, Long) = {
    val (xc, run) = lloyd(x, seeds, maxRounds, witnessed = true)
    val (assign, cent) = run.state
    (assign.get.select(col("vec_id"), col("cid"), col("dist2")),
      update(xc, assign.get, cent), run.rounds, run.witnesses.last)
  }

  /** FIXED-round Lloyd (no convergence witness): exactly `rounds`
    * assignment passes with `rounds − 1` interleaved centroid updates —
    * the declared cross-engine semantics of the elbow sweep (q460),
    * whose oracle runs the same rounds per k (the pageRankInt
    * fixed-round rule). Same exact-integer algebra throughout. */
  def lloydFixed(x: DataFrame, seeds: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    lloyd(x, seeds, rounds, witnessed = false)._2.state._1.get
      .select(col("vec_id"), col("cid"), col("dist2"))
  }

  /** The Lloyd round shared by both forms: round r > 1 first moves the
    * centroids to the means of round r − 1's assignment, then every
    * vector takes its nearest centroid. The state is (the last
    * assignment, the centroids it was assigned against). */
  private def lloyd(x: DataFrame, seeds: DataFrame, maxRounds: Int,
      witnessed: Boolean)
      : (DataFrame, graft.ops.Fixpoint.Result[(Option[DataFrame], DataFrame)]) = {
    val xc = x.localCheckpoint(true)
    val cent0 = seeds.join(xc, "vec_id")
      .select(col("cid"), col("dim"), col("q").as("c_q"))
      .localCheckpoint(true)
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cid"))
    val changed = sum(when(col("pcid").isNull || col("cid") =!= col("pcid"), 1L))
    val run = graft.ops.Fixpoint[(Option[DataFrame], DataFrame)]("Kmeans.lloyd",
        maxRounds, Option.when(witnessed)(changed))((None, cent0)) {
      case ((prev, prevCent), _) =>
        val cent = prev.fold(prevCent)(update(xc, _, prevCent))
        val assign = xc.join(broadcast(cent), "dim")
          .select(col("vec_id"), col("cid"),
            ((col("q") - col("c_q")) * (col("q") - col("c_q"))).as("dd"))
          .groupBy(col("vec_id"), col("cid"))
          .agg(sum(col("dd")).as("dist2"))
          .withColumn("rk", row_number().over(wA))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("cid"), col("dist2"))
        val withPrev = prev match {
          case Some(p) if witnessed => assign.join(
            p.select(col("vec_id"), col("cid").as("pcid")), Seq("vec_id"), "left_outer")
          case _ => assign.withColumn("pcid", lit(null).cast("long"))
        }
        (withPrev, m => (Some(m), cent))
    }
    (xc, run)
  }

  /** Per-cluster integer means of `assign`; an empty cluster keeps its
    * centroid from `cent`. */
  private def update(xc: DataFrame, assign: DataFrame, cent: DataFrame): DataFrame = {
    val upd = assign.select(col("vec_id"), col("cid"))
      .join(xc, "vec_id")
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      .select(col("cid"), col("dim"),
        expr(s"(sq + n * ${Offset}L) div n - ${Offset}L").as("c_q"))
    cent.select(col("cid"), col("dim"), col("c_q").as("o_q"))
      .join(upd, Seq("cid", "dim"), "left_outer")
      .select(col("cid"), col("dim"), coalesce(col("c_q"), col("o_q")).as("c_q"))
      .localCheckpoint(true)
  }
}
