package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** AS-OF join: enrich each left row with the latest right row whose
  * time is <= the left row's time, per key — the temporal-enrichment
  * operator event pipelines need and Spark has no native join type
  * for.
  *
  * A naive range join (`l.key = r.key AND r.ts <= l.ts` + pick max)
  * degenerates to a per-key cross product. This implementation uses
  * the union + last_value window trick instead: tag both sides, sort
  * each key's rows by (ts, side), and carry the last non-null right
  * payload forward. Cost = ONE shuffle + per-partition sort over
  * |L| + |R| rows — linear, no pair blowup, and it scales to any key
  * cardinality (composition of built-ins; no custom physical operator
  * needed).
  */
object AsOfJoin {

  /** @param payload right-side columns to carry onto left rows
    * (emitted as `asof_<name>`).
    */
  def asOf(left: DataFrame, right: DataFrame, key: String,
           leftTs: String, rightTs: String, payload: Seq[String],
           tieBreak: String): DataFrame = {
    val leftCols = left.columns.toSeq
    // right rows first (side 0) so an equal-timestamp right row is
    // visible to the left row (ASOF >= semantics)
    val r = right.select(
      (col(key) +: col(rightTs).as("__ts") +: lit(0).as("__side") +: col(tieBreak).as("__tie") +:
        payload.map(p => col(p).as(s"asof_$p"))): _*)
    val l = left.select(
      (col(key) +: col(leftTs).as("__ts") +: lit(1).as("__side") +: col(tieBreak).as("__tie") +:
        (leftCols.filterNot(_ == key).map(col) ++
          payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"asof_$p")))): _*)
    // JOIN null semantics, not window-group semantics: a null key
    // matches nothing (a window partitionBy would lump every null-key
    // row into ONE group, silently enriching anonymous rows from each
    // other — and at 100 TB that null group is also a skew bomb).
    // Null-key right rows can never be anyone's match and drop; null-
    // key left rows pass through unmatched INSIDE the one pass — a
    // discriminator column spreads them into hash-of-tie singleton
    // partitions (their carried payload is null regardless of
    // partition-mates), so the left source is scanned exactly once
    // (a filter-and-union-back spelling costs a second corpus pass —
    // the one-scan-per-corpus law).
    // materialized ONCE as a column: an inline expression in
    // partitionBy is re-projected per window, and the payload fold's
    // windows would then carry distinct partition attributes — two
    // exchanges instead of the operator's one
    val unioned = l.unionByName(r, allowMissingColumns = true)
      .filter(col(key).isNotNull || col("__side") === 1)
      .withColumn("__disc",
        when(col(key).isNotNull, lit(0L)).otherwise(xxhash64(col("__tie"))))
    val w = Window.partitionBy(col(key), col("__disc"))
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(unioned) { (df, p) =>
      df.withColumn(s"asof_$p", last(col(s"asof_$p"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__ts", "__side", "__tie", "__disc")
  }

  /** Verified entry (st2): each event enriched with the user's most
    * recent signup event at or before it.
    */
  def st2(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("signup_event_id"), col("ts_us").as("signup_ts_us"))
    asOf(
      left = ev.select(col("event_id"), col("user_id"), col("ts_us")),
      right = signups,
      key = "user_id", leftTs = "ts_us", rightTs = "ts_us",
      payload = Seq("signup_event_id", "signup_ts_us"),
      tieBreak = "ts_us")
      .select(col("event_id"), col("user_id"),
        col("asof_signup_event_id").as("signup_event_id"),
        col("asof_signup_ts_us").as("signup_ts_us"))
      .orderBy(col("event_id"))
  }
}
