package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy facility-location coreset selection — the submodular
  * subset-selection operator data curation runs to pick a small,
  * maximally-representative training subset (the DataComp/coreset
  * literature's standard objective): choose S, |S| = k, maximizing
  * Σ_j max_{c∈S} sim(j, c) over a coverage set. Greedy is (1−1/e)
  * optimal because facility location is monotone submodular.
  *
  * Everything is INTEGER-exact: embedding elements quantize once via
  * floor(x·1000) (floor, not round — no half-way tie for the engines to
  * break differently), similarities are integer dot products (|q| ≤ 10³,
  * 64 dims → |sim| ≤ 6.4·10⁷, exact in BIGINT and exact in the oracle's
  * float64 dot), so the per-round argmax and the coverage census are
  * bit-deterministic under any partitioning — no float rounding rails
  * anywhere in the loop.
  *
  * Scale shape: the coverage set is a bounded SAMPLE (the standard
  * approximation — the objective over a uniform coverage sample
  * concentrates around the full objective), held with its running `best`
  * coverage as driver state and rebroadcast per round — the exact memory
  * bound a broadcast cross-join implies, without one; each round is ONE
  * typed candidate scan emitting a per-partition (gain, id) argmax (≤
  * partitions rows collected), a 1-row vector fetch, and a driver-side
  * best-update over the sample — the 10^12-row candidate scan streams,
  * nothing quadratic materializes, and the per-round plan is
  * shape-identical so nothing recompiles. Stochastic-greedy (sampling
  * candidates per round) drops in by filtering the candidate scan.
  */
object CoresetOps {

  /** Facilities selected, and the coverage sample's id modulus. */
  private val Facilities = 8
  private val CoverageMod = 2

  /** Select `Facilities` facilities from `emb` (vec_id, embedding:
    * array<float>) with the coverage set `emb` filtered by `CoverageMod`
    * (vec_id % CoverageMod == 0). Output one row per selection round:
    * (step, vec_id, gain, objective) — `gain` the marginal coverage the
    * pick added, `objective` the total Σ_j best_j after it (the census
    * binding the whole best state each round). */
  def facilityLocation(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // spread the candidate side across the session's parallelism: a small
    // parquet source arrives as ONE split, which would serialize every
    // per-round gain scan onto a single task (half the measured p128
    // cost; output is partition-invariant — integer sums — so the layout
    // is free to change)
    val cands = emb.select(col("vec_id").cast("long").as("_1"),
        expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("_2"))
      .as[(Long, Array[Long])]
      .repartition(spark.sparkContext.defaultParallelism).persist()
    cands.count()
    // The coverage sample and its running `best` live as DRIVER state
    // (sorted by id) and rebroadcast per round — the same memory bound
    // the old broadcast cross-join already implied, with two wins the
    // measured p128 profile demanded: the per-round plan is now SHAPE-
    // IDENTICAL (only broadcast VALUES change, so nothing recompiles —
    // the growing isInCollection/typedLit literals were forcing a janino
    // codegen recompile every round, the other half of the ~90 s), and
    // the gain scan is ONE typed mapPartitions job emitting a single
    // (gain, id) argmax per partition instead of a 2M-row groupBy.
    val coverArr = cands.filter(_._1 % CoverageMod == 0)
      .collect().sortBy(_._1)
    val coverVecs = coverArr.map(_._2)
    val best = new Array[Long](coverArr.length)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long)]
    var step = 1
    while (step <= Facilities) {
      val bc = spark.sparkContext.broadcast(
        (coverVecs, best.clone(), picked.toSet))
      // partition-local argmax by (gain DESC, id ASC), then the same rule
      // across the ≤ partitions rows — deterministic under any layout
      val cand = cands.mapPartitions { it =>
        val (cv, b, skip) = bc.value
        var bestGain = -1L
        var bestId = Long.MaxValue
        it.foreach { case (id, qe) =>
          if (!skip.contains(id)) {
            var gain = 0L
            var j = 0
            while (j < cv.length) {
              val vj = cv(j)
              var dot = 0L
              var i = 0
              while (i < qe.length) { dot += qe(i) * vj(i); i += 1 }
              val g = dot - b(j)
              if (g > 0L) gain += g
              j += 1
            }
            if (gain > bestGain || (gain == bestGain && id < bestId)) {
              bestGain = gain; bestId = id
            }
          }
        }
        if (bestGain < 0L) Iterator.empty else Iterator.single((bestGain, bestId))
      }.collect()
      if (cand.isEmpty) {
        // every un-picked candidate is exhausted (k > distinct candidates):
        // the greedy is complete — stop instead of crashing on empty.maxBy
        bc.destroy()
        step = Facilities + 1
      } else {
      val (gain, sel) = cand.maxBy { case (g, id) => (g, -id) }
      picked += sel
      val selVec = cands.filter(_._1 == sel).map(_._2).head()
      // driver-side best update + census: |cover| × dims integer work —
      // bounded by the sample, the same state the old per-round persist
      // chain carried distributed
      var j = 0
      var objective = 0L
      while (j < coverVecs.length) {
        val vj = coverVecs(j)
        var dot = 0L
        var i = 0
        while (i < selVec.length) { dot += selVec(i) * vj(i); i += 1 }
        if (dot > best(j)) best(j) = dot
        objective += best(j)
        j += 1
      }
      bc.destroy()
      out += ((step.toLong, sel, gain, objective))
      step += 1
      }
    }
    cands.unpersist()
    out.toSeq.toDF("step", "vec_id", "gain", "objective")
      .orderBy(col("step"))
  }
}
