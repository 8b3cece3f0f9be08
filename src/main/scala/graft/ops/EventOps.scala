package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse / time-series operators over the event stream: SCD Type-2
  * interval building, calendar gap-fill with forward-fill, ordered funnel
  * analysis, and cohort retention. All timestamps go through
  * `unix_micros(ts)` under the pinned-UTC session (the q24 convention) so
  * DuckDB's `epoch_us` oracle arithmetic is identical.
  *
  * Scale notes (10^12 events): every op here shuffles once on `user_id`
  * (or not at all past the first agg); with the event log bucketed by
  * user_id all four become exchange-free. No op carries event payloads
  * through a shuffle — only (user, key, type) triples or pre-aggregated
  * per-(user, day) rows.
  */
object EventOps {

  private def withUs(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"), col("event_type"),
      col("value"), unix_micros(col("ts").cast("timestamp")).as("us"))

  /** SCD Type-2 dimension build: each `signup` event opens a new version of
    * the user row; `valid_to_us` is the next version's start (half-open
    * interval), null while current. One window over (user, us, event_id) —
    * a single shuffle, no self-join. */
  def scd2Versions(events: DataFrame): DataFrame =
    withUs(events)
      .where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("us").as("valid_from_us"))
      .withColumn("valid_to_us",
        lead(col("valid_from_us"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("valid_from_us"), col("event_id"))))
      .withColumn("is_current",
        when(col("valid_to_us").isNull, 1).otherwise(0).cast("int"))

  /** Calendar densify + forward fill: per user, one row per day of the
    * user's active span (epoch-day integers — no timezone arithmetic);
    * days without events get n_events = 0 and the purchase total
    * forward-filled from the last day that had one (null until the first).
    * The explode produces only each user's own span, and both aggregates
    * and the final window share the user_id partitioning. */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val ev = withUs(events)
      .withColumn("day", expr("us div 86400000000"))
    val daily = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_ev"),
        (sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))) * 100)
          .cast("long").as("purchase_cents"))
    val spans = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val calendar = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_ev"), lit(0L)).as("n_events"),
        last(col("purchase_cents"), ignoreNulls = true).over(w)
          .as("filled_purchase_cents"))
  }

  /** Ordered 3-step funnel (view → click → purchase, each step within
    * 24 h of the previous) per user via the secondary-sort pattern:
    * one hash repartition on user_id, an in-partition sort on (user, k),
    * then a single-pass state machine — no window function, no per-step
    * self-joins. `k = rel_us * 10^6 + event_id` is a strictly-ordered
    * unique key (collision-free for event_id < 10^6), so "first click
    * strictly after the first view" is exactly "next click in scan order";
    * the conversion window is measured in the same composite-key space on
    * both engine and oracle, so the event_id low bits can never disagree.
    * Emits one row per user with the stage reached + step keys. */
  def funnel(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val winK = 86400000000L * 1000000L // the 24 h window in µs, in k units
    val ev = withUs(events)
    val minUs = ev.agg(min(col("us")).as("m"))
    val keyed = ev.crossJoin(broadcast(minUs))
      .select(col("user_id").cast("long"),
        ((col("us") - col("m")) * 1000000L + col("event_id")).as("k"),
        col("event_type"))
      .as[(Long, Long, String)]
    keyed
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("k"))
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Option[Long], Option[Long], Option[Long])]
        var cur = Long.MinValue
        var seen = false
        var k1, k2, k3: Option[Long] = None
        def flush(): Unit = if (seen) {
          val stage = if (k1.isEmpty) 0 else if (k2.isEmpty) 1
            else if (k3.isEmpty) 2 else 3
          out += ((cur, stage, k1, k2, k3))
        }
        it.foreach { case (u, k, ty) =>
          if (u != cur) { flush(); cur = u; seen = true
            k1 = None; k2 = None; k3 = None }
          // keys ascend within a user, so the first qualifying event in
          // scan order IS the min-qualifying one; a first-seen event past
          // the window closes the step (later ones are farther still)
          ty match {
            case "view" if k1.isEmpty => k1 = Some(k)
            case "click" if k1.isDefined && k2.isEmpty
              && k <= k1.get + winK => k2 = Some(k)
            case "purchase" if k2.isDefined && k3.isEmpty
              && k <= k2.get + winK => k3 = Some(k)
            case _ =>
          }
        }
        flush()
        out.iterator
      }
      .toDF("user_id", "stage", "k1", "k2", "k3")
  }

  /** Cohort retention: cohort = the user's first signup week (absolute
    * epoch week, integer div — no week-start convention to disagree on);
    * a user counts toward (cohort_week, offset) for every distinct week
    * with any activity at offset ≥ 0. Two keyed aggregations + one join on
    * user_id. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val ev = withUs(events)
      .withColumn("week", expr("(us div 86400000000) div 7"))
    val cohorts = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.select(col("user_id"), col("week")).distinct()
      .join(cohorts, "user_id")
      .where(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Max concurrent open intervals per user (the classic +1/−1 sweep), then
    * a population histogram (max_concurrency → n_users). Each event opens
    * an interval of (1 + event_id % 50) minutes. Two rows per event (the
    * boundary deltas) shuffle once on user_id; the running sum is a
    * per-user window with the default RANGE frame, which sums all peers of
    * a (t, delta) tie at once — ordering +1 before −1 gives closed-interval
    * semantics (touching intervals overlap) deterministically in both
    * engines. Pure integer microsecond arithmetic end to end. */
  /** Per-user interval-UNION coverage: total microseconds covered by the
    * union of the user's (possibly overlapping) event intervals — the
    * active-time metric double-counting naive sums get wrong. Classic
    * cummax formulation: order intervals by (start, end, event_id); each
    * contributes max(0, end − max(start, max_prev_end)) where
    * max_prev_end is the running max of earlier ends — one window over
    * the per-user ordering, one aggregation, all integer microseconds.
    * Same interval derivation as maxConcurrency (1 + event_id % 50 min). */
  def intervalUnion(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("t0"),
      col("event_id").cast("long").as("event_id"))
      .withColumn("t1",
        col("t0") + (pmod(col("event_id"), lit(50)) + 1) * 60000000L)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t0").asc, col("t1").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.select(col("user_id"), col("t0"), col("t1"),
        coalesce(max(col("t1")).over(w), col("t0")).as("prev_max_end"))
      .select(col("user_id"),
        greatest(lit(0L),
          col("t1") - greatest(col("t0"), col("prev_max_end"))).as("contrib"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("contrib")).as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** Bidirectional nearest-event join (sensor-alignment shape): each
    * click event matches the temporally NEAREST purchase event of
    * the same user, in either direction — the generalization of the
    * backward-only as-of join (q20). Formulated as one sorted sweep over
    * the union: last-right-before and first-right-after come from two
    * ignore-nulls window passes over the same (us, event_id) ordering, so
    * there is exactly one shuffle (user_id) and no self-join. Ties at
    * equal distance resolve to the earlier right event; same-timestamp
    * rows order by event_id — fully deterministic. Unmatched left events
    * (users with no right event) keep null matches. */
  def nearestEventJoin(events: DataFrame): DataFrame = {
    val leftType = "click"
    val rightType = "purchase"
    val tagged = events
      .where(col("event_type").isin(leftType, rightType))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        (col("event_type") === rightType).as("is_right"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val before = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rightUs = when(col("is_right"), col("us"))
    val rightId = when(col("is_right"), col("event_id"))
    tagged.select(col("user_id"), col("event_id"), col("us"), col("is_right"),
        last(rightUs, ignoreNulls = true).over(before).as("prev_us"),
        last(rightId, ignoreNulls = true).over(before).as("prev_id"),
        first(rightUs, ignoreNulls = true).over(after).as("next_us"),
        first(rightId, ignoreNulls = true).over(after).as("next_id"))
      .where(!col("is_right"))
      .select(col("user_id"), col("event_id").as("click_id"),
        when(col("prev_us").isNull, col("next_id"))
          .when(col("next_us").isNull, col("prev_id"))
          .when(col("us") - col("prev_us") <= col("next_us") - col("us"),
            col("prev_id"))
          .otherwise(col("next_id")).as("matched_id"),
        when(col("prev_us").isNull, col("next_us") - col("us"))
          .when(col("next_us").isNull, col("us") - col("prev_us"))
          .otherwise(least(col("us") - col("prev_us"),
            col("next_us") - col("us"))).as("abs_delta_us"))
      .orderBy(col("click_id"))
  }

  def maxConcurrency(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("t0"),
      (pmod(col("event_id"), lit(50)) + 1).cast("long").as("dur_min"))
    val pts = base.select(col("user_id"), col("t0").as("t"),
        lit(1L).as("delta"))
      .unionByName(base.select(col("user_id"),
        (col("t0") + col("dur_min") * 60000000L).as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("delta").desc)
    pts.select(col("user_id"), sum(col("delta")).over(w).as("running"))
      .groupBy(col("user_id")).agg(max(col("running")).as("max_conc"))
      .groupBy(col("max_conc")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("max_conc"))
  }

  /** ROLLING distinct users via HLL register algebra — the 10^12-row form
    * of q78's exact 3-day rolling MAU: per-day registers (the p20/p35
    * convention: p=6, m=64, rho = 58 − bitlen(h≫6), h = masked md5-low63
    * of the user id string) are built once, then each register row lands
    * in the ≤ windowDays = 3 trailing windows it contributes to (an explode
    * by constant ≤3 — the q55 sliding-window Expand pattern) and the
    * window sketch is a cellwise MAX — union without rescanning any day.
    * At scale this replaces q78's |distinct(user,day)|×3 band-join shuffle
    * with m rows per day, full stop. The integer estimator and the exact
    * trailing-window recount (both engines replicate it bit-for-bit) emit
    * side by side with err_permille — the accuracy evidence that justifies
    * swapping the exact op out. Windows are keyed by their END day and
    * only actual event days emit. */
  def hllSlidingUnion(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val windowDays = 3
    val m = 64
    val wBits = 57
    val ud = withUs(events)
      .select(col("user_id").cast("long"), expr("us div 86400000000L").as("day"))
      .distinct()
    val regs = ud.as[(Long, Long)]
      .map { case (uid, day) =>
        val h = TextOps.md5Low63(uid.toString)
        val v = h >>> 6
        val rho =
          if (v == 0L) wBits + 1
          else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(v))
        (day, (h & (m - 1)).toInt, rho)
      }
      .toDF("day", "bucket", "rho")
      .groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("rho"))
    val days = ud.select(col("day")).distinct()
    val winRegs = regs
      .select(explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("wday"),
        col("bucket"), col("rho"))
      .join(days.withColumnRenamed("day", "wday"), "wday") // actual days only
      .groupBy(col("wday"), col("bucket")).agg(max(col("rho")).as("rho"))
    // 64-cell densify (absent cells are rho = 0), then the integer
    // estimator est = 709·m²·2³⁰ / Σ 2^(30−min(rho,30)) / 1000
    val cells = days.withColumnRenamed("day", "wday")
      .crossJoin(spark.range(m).select(col("id").cast("int").as("bucket")))
    val est = cells.join(winRegs, Seq("wday", "bucket"), "left")
      .select(col("wday"),
        expr("shiftleft(1L, 30 - least(coalesce(rho, 0), 30))").as("cell"))
      .groupBy(col("wday")).agg(sum(col("cell")).cast("long").as("denom"))
      .select(col("wday"),
        expr(s"(709L * $m * $m * shiftleft(1L, 30)) div denom div 1000L")
          .as("est_int"))
    val exact = ud
      .select(col("user_id"), explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("wday"))
      .join(days.withColumnRenamed("day", "wday"), "wday")
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, "wday")
      .select(col("wday"), col("n_exact").cast("long").as("n_exact"),
        col("est_int"),
        expr("abs(est_int - n_exact) * 1000L div n_exact").as("err_permille"))
      .orderBy(col("wday"))
  }

  /** Per-key ordered RECURRENCE scan — the window class Spark has no
    * native function for: each output depends on the PREVIOUS output, not
    * on a frame of inputs (running exponential decay here; per-key FSMs
    * and compound-interest scans are the same shape). SQL window frames
    * can't express it; the engine runs it as the AsOfJoin plan — ONE hash
    * shuffle keyed by user, an in-partition Tungsten sort, and a linear
    * sweep with O(1) state per key, so a key with 10^9 events streams
    * through without per-key materialization.
    *
    * Recurrence, exact integer form (every engine replays the trajectory
    * bit-identically): s₁ = x₁;  sₜ = (aNum·xₜ + (aDen−aNum)·sₜ₋₁) div aDen
    * with decay aNum/aDen = 1/8, over cents, ordered by (ts, event_id). Values
    * must be ≥ 0 (cents here): Spark's `div`/Java floorDiv and SQL `//` agree
    * on the non-negative domain, which the events table satisfies.
    * Output: one row per key (user_id, n_events, last_ewma_cents). */
  def ewmaScan(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val aNum = 1L
    val aDen = 8L
    val ev = withUs(events)
      .select(col("user_id").cast("long").as("_1"), col("us").as("_2"),
        col("event_id").cast("long").as("_3"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("_4"))
      .as[(Long, Long, Long, Long)]
    ev.repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"), col("_3"))
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var cur = Long.MinValue
        var seen = false
        var n = 0L
        var s = 0L
        def flush(): Unit = if (seen) out += ((cur, n, s))
        it.foreach { case (u, _, _, cents) =>
          if (u != cur) { flush(); cur = u; seen = true; n = 0L; s = 0L }
          s = if (n == 0L) cents
              else Math.floorDiv(aNum * cents + (aDen - aNum) * s, aDen)
          n += 1L
        }
        flush()
        out.iterator
      }
      .toDF("user_id", "n_events", "last_ewma_cents")
      .orderBy(col("user_id"))
  }
}
