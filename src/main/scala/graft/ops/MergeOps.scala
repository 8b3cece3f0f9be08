package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE INTO emulation (the Iceberg/Delta upsert the incremental
  * re-extraction job needs: yesterday's snapshot + today's delta → new
  * snapshot). Semantics: delta rows matched on `key` replace snapshot rows
  * (whole-row), unmatched delta rows insert, and delta rows flagged in
  * `is_delete` remove the key entirely.
  *
  * Plan: ONE full-outer shuffle join keyed by `key`. At 10^12 rows both
  * sides live bucketed on the key (Spark's `bucketBy`, emulating Iceberg
  * `bucket(N, doc_id)`), which elides the shuffle on both sides — the merge
  * is then a narrow zip of co-located buckets, the property that makes
  * daily incremental maintenance of a 100 TB table affordable.
  */
object MergeOps {

  /** `delta` carries the boolean column `is_delete` marking deletions;
    * rows where it is true erase the key from the output (the column
    * itself is not carried into the result).
    *
    * @param requireUniqueDeltaKeys delta keys must be unique — a duplicate
    *                  key would fan out through the full-outer join, emitting
    *                  one output row per duplicate and silently corrupting
    *                  the snapshot. Real MERGE INTO raises on multiple
    *                  matches; so does this (default): one keys-only agg job
    *                  over the delta — the small side by construction —
    *                  before the merge plan executes. Disable only when the
    *                  producer already guarantees uniqueness. */
  def upsert(snapshot: DataFrame, delta: DataFrame, key: String,
             requireUniqueDeltaKeys: Boolean = true): DataFrame = {
    val dataCols = snapshot.columns.filter(_ != key)
    require((dataCols :+ key).forall(delta.columns.contains),
      s"delta must carry the snapshot schema; missing " +
        (dataCols :+ key).filterNot(delta.columns.contains).mkString(","))
    if (requireUniqueDeltaKeys) {
      val dup = delta.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .where(col("n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"MERGE delta has duplicate keys (e.g. $key=${dup.head.get(0)} × " +
          s"${dup.head.getLong(1)}) — dedup the delta or pass " +
          "requireUniqueDeltaKeys=false")
    }
    val del = coalesce(col("d.is_delete"), lit(false))
    snapshot.as("s")
      .join(delta.as("d"), col(s"s.$key") === col(s"d.$key"), "full_outer")
      .where(!del) // delete wins over update/keep
      .select(
        coalesce(col(s"d.$key"), col(s"s.$key")).as(key) +:
        dataCols.map { c =>
          // matched or inserted → delta value; unmatched snapshot → keep.
          // whole-row replace: a matched row takes EVERY column from delta
          // (null included), so the choice is keyed on the delta key's
          // presence, not coalesce per column.
          when(col(s"d.$key").isNotNull, col(s"d.$c"))
            .otherwise(col(s"s.$c")).as(c)
        }: _*)
  }

  /** Iceberg v2 merge-on-read READ PATH: apply positional delete files
    * (`(file_id, pos)` — "row 17 of data file 42 is dead") and equality
    * delete files (`key` values) to the base scan, then union the
    * not-yet-compacted insert files — the exact semantics an Iceberg v2
    * reader executes per scan until compaction (q33) folds the deltas
    * into data files. A row hit by BOTH delete kinds is removed once
    * (anti-joins compose idempotently).
    *
    * Scale shape: delete files are tiny relative to the base by
    * construction (they exist precisely because rewriting the base was
    * too expensive), so both applications plan as broadcast LEFT ANTI
    * probes on the base scan — the 100 TB base never shuffles, never
    * sorts, and keeps its partition pruning; inserts append scan-side.
    * The read-amplification this buys IS the MoR trade: q33's compaction
    * is the operator that pays it down. */
  def mergeOnRead(base: DataFrame, eqDeletes: DataFrame,
                  posDeletes: DataFrame, inserts: DataFrame,
                  key: String): DataFrame = {
    require(inserts.columns.sameElements(base.columns),
      "insert files must carry the base schema")
    base
      .join(broadcast(posDeletes.select("file_id", "pos")),
        Seq("file_id", "pos"), "left_anti")
      .join(broadcast(eqDeletes.select(key)), Seq(key), "left_anti")
      .select(base.columns.map(col): _*) // restore base column order
      .unionAll(inserts)
  }

  /** Cascade delete (the GDPR/right-to-be-forgotten maintenance job): one
    * delete-key list propagated through every derived table by key, with a
    * per-table lineage row (rows_before / rows_deleted / rows_after) so
    * the run is auditable. Delete lists are small by nature → the key set
    * broadcasts into a left-semi probe on each table (no table ever
    * shuffles); the stats are two partial-aggregate scans per table
    * cross-joined into its one lineage row, all in a single lazy plan.
    * The actual rewrite at scale is each table left-anti-joined against
    * the same broadcast key set, written back as an Iceberg overwrite
    * commit. */
  def cascadeDelete(deleteKeys: DataFrame, keyCol: String,
                    tables: Seq[(String, DataFrame, String)]): DataFrame = {
    // the key set is renamed so a delete list DERIVED from one of the
    // tables (the common case) never makes the join condition ambiguous
    val keys = broadcast(
      deleteKeys.select(col(keyCol).as("__del_key")).distinct())
    tables.map { case (name, df, key) =>
      val before = df.agg(count(lit(1)).as("rows_before"))
      val deleted = df
        .join(keys, df(key) === col("__del_key"), "left_semi")
        .agg(count(lit(1)).as("rows_deleted"))
      before.crossJoin(deleted).select(
        lit(name).as("table_name"), col("rows_before"), col("rows_deleted"),
        (col("rows_before") - col("rows_deleted")).as("rows_after"))
    }.reduce(_ unionAll _).orderBy(col("table_name"))
  }

  /** Incremental materialized-view maintenance: fold a delta batch's
    * partial aggregate into the standing MV withOUT re-scanning the base
    * data — the daily-rollup refresh pattern where a full recompute over
    * 100 TB is unaffordable but the day's delta is a few GB. Works for any
    * insert-only-mergeable measure: sums/counts combine by addition,
    * max/min by greatest/least (which skip the null a key missing on one
    * side produces). One full-outer join keyed on `keys` — Spark cannot
    * broadcast a full-outer build side, so at 10^12 rows the MV lives
    * bucketed on its key (Spark's `bucketBy`): the merge is then a
    * narrow zip of co-located buckets and only the small delta shuffles.
    * Correctness contract: merged MV ≡ the aggregate recomputed over
    * base ∪ delta (the driver oracle recomputes exactly that). */
  def mergeAggState(mv: DataFrame, delta: DataFrame, keys: Seq[String],
                    sums: Seq[String], maxes: Seq[String] = Nil,
                    mins: Seq[String] = Nil): DataFrame = {
    val cond = keys.map(k => col(s"s.$k") <=> col(s"d.$k")).reduce(_ && _)
    val keyCols = keys.map(k => coalesce(col(s"s.$k"), col(s"d.$k")).as(k))
    val sumCols = sums.map(c =>
      (coalesce(col(s"s.$c"), lit(0L)) + coalesce(col(s"d.$c"), lit(0L))).as(c))
    val maxCols = maxes.map(c => greatest(col(s"s.$c"), col(s"d.$c")).as(c))
    val minCols = mins.map(c => least(col(s"s.$c"), col(s"d.$c")).as(c))
    mv.as("s").join(delta.as("d"), cond, "full_outer")
      .select(keyCols ++ sumCols ++ maxCols ++ minCols: _*)
  }

  /** Retraction-aware incremental view maintenance — the other half of
    * [[mergeAggState]]: insert-only deltas merge by addition, but UPDATES
    * and DELETES need retractions, the standard changelog encoding
    * (Flink's retract streams, Materialize/DBSP's z-sets): an update is
    * delete(old image) + insert(new image), a delete is a bare `sign=-1`
    * row, and every additive measure folds as `sum(sign · measure)`. The
    * maintained rollup then never re-reads the base: the changelog — delta
    * -sized by nature — is aggregated with ONE keyed partial+final agg,
    * and folded into the standing view with one full-outer join (MV
    * bucketed on its key at scale ⇒ narrow zip, only the delta shuffles).
    * Groups whose count reaches zero vanish, exactly as a recompute would
    * drop them; a NEGATIVE count means the producer emitted a retraction
    * for a row never inserted, and fails fast rather than publishing a
    * corrupt view. Correctness contract: result ≡ the aggregate recomputed
    * over the patched base — the driver oracle recomputes exactly that,
    * so the gate checks the IVM theorem itself, not the implementation.
    *
    * @param changelog `sign` (+1 insert / −1 retract) + `keys` + `measure`
    */
  def applyRetracts(mv: DataFrame, changelog: DataFrame, keys: Seq[String],
                    countCol: String, sumCol: String,
                    measure: String): DataFrame = {
    val delta = changelog.groupBy(keys.map(col): _*)
      .agg(sum(col("sign")).as("__d_n"),
           sum(col("sign") * col(measure)).as("__d_sum"))
    val merged = mergeAggState(mv, delta.select(
        keys.map(col) :+ col("__d_n").as(countCol) :+
          col("__d_sum").as(sumCol): _*),
      keys, Seq(countCol, sumCol))
    merged.filter(col(countCol) =!= 0L)
      .withColumn(countCol,
        when(col(countCol) < 0L,
          raise_error(concat(lit("applyRetracts: negative count for key ("),
            concat_ws(",", keys.map(col): _*),
            lit(") — retraction without a matching insert"))))
          .otherwise(col(countCol)))
  }

  /** CDC ops-log apply (Debezium-shape change feed → snapshot): collapse
    * an (key, seq, op ∈ I/U/D, value) log to the LAST op per key (one
    * row_number window keyed like the join), then fold into the snapshot
    * with one full-outer join — last-wins upsert for I/U, removal for D,
    * untouched keys pass through. `origin` labels each surviving row
    * kept/upserted for the audit trail. Same scale shape as upsert: with
    * the snapshot bucketed on key the merge is a narrow zip and only the
    * (small) collapsed delta shuffles. Ops must carry unique `seq` per
    * key (the CDC stream's offset) — ties would make last-wins
    * nondeterministic, so the window orders by seq alone. */
  def cdcApply(snapshot: DataFrame, ops: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("seq").desc)
    val last = ops.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).select(col("key"), col("op"), col("value"))
    snapshot.as("s").join(last.as("l"), col("s.key") === col("l.key"),
        "full_outer")
      .where(col("l.op").isNull || col("l.op") =!= "D")
      .select(coalesce(col("s.key"), col("l.key")).as("key"),
        when(col("l.op").isNull, col("s.value")).otherwise(col("l.value"))
          .as("value"),
        when(col("l.op").isNull, "kept").otherwise("upserted").as("origin"))
  }
}
