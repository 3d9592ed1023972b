package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension maintenance (Type 2): the warehouse-side
  * generalization of the reference's `ON CONFLICT DO NOTHING` load
  * (`posts_pipeline.py:53-59`) — where insert-ignore DROPS a re-arriving
  * key, a dimension pipeline must VERSION it. Every batch produces a full
  * versioned history: changed keys get their open row closed at the batch's
  * effective time and a new open version; unseen keys open their first
  * version; unchanged keys and already-closed history pass through
  * untouched.
  *
  * Shape for scale: ONE full-outer shuffle join between the OPEN slice of
  * the dimension and the batch, both keyed on the dimension key — closed
  * history never joins anything (it is unioned back verbatim), so cost
  * tracks the live key universe, not the version count. The three output
  * legs (unchanged / closed / opened) project the same joined frame, which
  * Spark executes with one exchange reuse. All row logic is codegen'd
  * column expressions; null-safe equality (`<=>`) makes NULL→value and
  * value→NULL transitions count as changes.
  */
object Scd {

  /** Merge one batch into a Type-2 dimension.
    *
    * `current` must carry `key`, the `tracked` attribute columns, and the
    * bookkeeping columns `valid_from` (timestamp), `valid_to` (timestamp,
    * null = open) and `is_current` (boolean). `incoming` carries `key`, the
    * same `tracked` columns, and `effCol` — the batch's per-row effective
    * timestamp. Contract: at most one open row per key in `current` and one
    * row per key in `incoming` (pre-aggregate a multi-change batch with
    * [[IngestTransforms.insertIgnoreDeterministic]]-style first/last-writer
    * rules first).
    *
    * Re-merging the same batch is a NO-OP (idempotent): after the first
    * merge the open row's tracked attrs equal the batch's, so nothing
    * closes or opens — the same replay-safety argument as the insert-ignore
    * sinks.
    */
  def scd2Merge(current: DataFrame, incoming: DataFrame, key: String,
      tracked: Seq[String], effCol: String): DataFrame = {
    val open = current.filter(col("is_current"))
    val history = current.filter(!col("is_current"))
    val inc = incoming.select(
      (col(key) +: tracked.map(c => col(c).as(s"_i_$c"))
        :+ col(effCol).as("_i_eff")): _*)
    val j = open.join(inc, Seq(key), "full_outer")
    // side-presence markers: is_current is non-null on every open row,
    // _i_eff on every incoming row; after the outer join a null means the
    // side was absent for that key
    val hasCur = col("is_current").isNotNull
    val hasInc = col("_i_eff").isNotNull
    val changed = tracked.map(c => !(col(c) <=> col(s"_i_$c"))).reduce(_ || _)

    val curCols: Seq[Column] =
      col(key) +: tracked.map(col) :+ col("valid_from") :+ col("valid_to") :+ col("is_current")
    // r20: ONE pass over the merge join — unchanged / closed / opened are
    // row-wise conditionals over the SAME joined row, so they fold into a
    // conditional-array explode instead of three filtered re-reads of `j`
    // (which re-ran the full outer join and its whole upstream three times
    // per merge: the batch face and every streaming SCD2 batch). A changed
    // key emits its closed and reopened rows from one joined row; every
    // full-outer row satisfies at least one branch, so nothing is dropped.
    // Row multiset identical to the old three-branch union (no checkpoint:
    // the joined row is read once).
    def rowStruct(keyC: Column, trackedC: Seq[Column], vf: Column,
        vt: Column, ic: Column): Column =
      struct((keyC.as(key) +: tracked.zip(trackedC).map { case (n, c) => c.as(n) }
        :+ vf.as("valid_from") :+ vt.as("valid_to") :+ ic.as("is_current")): _*)
    val branches = array(
      when(hasCur && (!hasInc || !changed),
        rowStruct(col(key), tracked.map(col),
          col("valid_from"), col("valid_to"), col("is_current"))),
      when(hasCur && hasInc && changed,
        rowStruct(col(key), tracked.map(col),
          col("valid_from"), col("_i_eff"), lit(false))),
      when(hasInc && (!hasCur || changed),
        rowStruct(col(key), tracked.map(c => col(s"_i_$c")),
          col("_i_eff"), lit(null).cast("timestamp_ntz"), lit(true))))
    val merged = j
      .select(explode(filter(branches, b => b.isNotNull)).as("_r"))
      .select(col("_r.*"))
    history.select(curCols: _*).unionByName(merged)
  }

  /** Apply an ordered changelog (upserts + deletes) to materialize final
    * table state — the batch MERGE face of CDC, the inverse direction of
    * [[snapshotDiff]]: for each key the highest-version record wins, and if
    * that record is a delete the key is absent from the output entirely.
    * This is how a warehouse replays a Debezium/binlog-style feed into a
    * queryable snapshot.
    *
    * Shape for scale: ONE partial-aggregating shuffle on the key —
    * `max_by(payload, version)` is the associative argmax reduction, so
    * map-side combine collapses each key to a single struct BEFORE the
    * exchange and nothing ever sorts. The window `row_number() ... DESC = 1`
    * formulation (the DuckDB oracle's, kept deliberately different) shuffles
    * every changelog row and sorts each key group; at 100 TB of changelog
    * the aggregation form moves only distinct-key rows.
    *
    * (key, version) SHOULD be unique — the changelog's own ordering
    * contract — but a feed that violates it must not produce
    * engine-dependent answers: the argmax orders by the FULL packed struct
    * (version first, then op and payload lexicographically), so a version
    * collision resolves deterministically instead of by shuffle arrival.
    * Found live at sf0.001, where the synthetic version key collides on a
    * duplicated (orderkey, linenumber) pair and plain `max_by(_, ver)`
    * flipped winners between engines.
    */
  def changelogApply(changelog: DataFrame, key: String, verCol: String,
      opCol: String, deleteOp: String, payload: Seq[String]): DataFrame = {
    val packed = struct((verCol +: opCol +: payload).map(col): _*)
    changelog.groupBy(col(key))
      .agg(max_by(packed, packed).as("_w"))
      .filter(col(s"_w.$opCol") =!= deleteOp)
      .select(col(key) +: col(s"_w.$verCol").as("last_version") +:
        payload.map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Changed-data capture between two snapshots of the same table: which
    * keys were `added`, `removed`, or `changed` (any tracked column differs,
    * null-safely) from `old` to `new`. Unchanged keys are omitted — the
    * output is the delta a downstream incremental consumer applies, and at
    * 100 TB the delta, not the snapshot, is what should cross storage.
    *
    * Scale shape: one full-outer shuffle join on the key; the comparison is
    * codegen'd column expressions; output rows carry only the key + tag.
    */
  def snapshotDiff(old: DataFrame, fresh: DataFrame, key: String,
      tracked: Seq[String]): DataFrame = {
    val o = old.select(col(key) +: lit(true).as("_in_old") +:
      tracked.map(c => col(c).as(s"_o_$c")): _*)
    val n = fresh.select(col(key) +: lit(true).as("_in_new") +:
      tracked.map(c => col(c).as(s"_n_$c")): _*)
    val j = o.join(n, Seq(key), "full_outer")
    val changed = tracked.map(c => !(col(s"_o_$c") <=> col(s"_n_$c"))).reduce(_ || _)
    j.select(col(key),
      when(col("_in_old").isNull, lit("added"))
        .when(col("_in_new").isNull, lit("removed"))
        .when(changed, lit("changed"))
        .otherwise(lit("unchanged")).as("change_type"))
      .filter(col("change_type") =!= "unchanged")
  }
}
