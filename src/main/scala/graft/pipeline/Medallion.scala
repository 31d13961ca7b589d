package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Medallion (bronze/silver/gold) transform stages, re-expressing the
  * reference pipeline's semantics (reference:
  * src/jobs/spark_streaming_job.py:34-146 and
  * src/jobs/spark_batch_backfill.py:29-87) as pure DataFrame→DataFrame
  * functions. Pure transforms mean the SAME code runs batch (backfill)
  * and streaming (readStream) — the reference duplicates the logic in
  * two files; here it is written once.
  *
  * Scale notes: bronze and silver are narrow (no shuffle at all —
  * decode, clean, derive are per-row; dedup is the only wide op and
  * shuffles once on its key). Gold is one shuffle on (window, key)
  * with map-side partial aggregation.
  */
object Medallion {

  /** Ingest-side type coercion, mirroring the reference producer's
    * normalize() (reference: src/ingestion/producer.py:33-51): ids to
    * string, numeric strings to int, 0/1/boolean-ish to boolean —
    * anything non-coercible becomes null rather than failing the
    * batch.
    */
  def coerceTypes(df: DataFrame, stringCols: Seq[String] = Nil,
                  intCols: Seq[String] = Nil, longCols: Seq[String] = Nil,
                  boolCols: Seq[String] = Nil): DataFrame = {
    // try_cast, not cast: under ANSI mode (Spark 4 default) a single
    // malformed value would fail the whole batch
    val s1 = stringCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).try_cast("string")))
    val s2 = intCols.foldLeft(s1)((d, c) => d.withColumn(c, col(c).try_cast("int")))
    val s3 = longCols.foldLeft(s2)((d, c) => d.withColumn(c, col(c).try_cast("long")))
    boolCols.foldLeft(s3) { (d, c) =>
      d.withColumn(c,
        when(col(c).try_cast("string") === "1", lit(true))
          .when(col(c).try_cast("string") === "0", lit(false))
          .otherwise(col(c).try_cast("boolean")))
    }
  }

  /** Schema of the JSON `props` payload riding on events — the
    * analogue of the reference's station_status JSON schema
    * (spark_streaming_job.py:34-43).
    */
  val propsSchema: StructType = StructType(Seq(StructField("k", IntegerType, nullable = true)))

  /** Bronze: decode a JSON string column against an explicit schema
    * (reference: from_json decode, spark_streaming_job.py:61-62).
    * `from_json` is codegen'd; the scan only reads the projected cols.
    */
  def bronzeDecode(raw: DataFrame, jsonCol: String = "props"): DataFrame =
    raw.withColumn("payload", from_json(col(jsonCol), propsSchema))
      .withColumn("k", col("payload.k"))
      .drop("payload")

  /** Guarded ratio, reference's pct_bikes_available
    * (spark_streaming_job.py:86-92): num/(num+den) when the sum is
    * positive, else null.
    */
  def guardedRatio(num: Column, den: Column): Column =
    when(num + den > 0, num / (num + den).cast("double")).otherwise(lit(null).cast("double"))

  /** Silver: typed cleaning — epoch→timestamp, boolean normalization
    * (0/1 → bool), key-based dedup, derived ratio column
    * (reference: spark_streaming_job.py:75-93). Generic over column
    * names so it serves any events-like feed.
    *
    * dropDuplicates shuffles once on the dedup keys; everything else
    * is narrow. On a streaming frame the same call becomes stateful
    * dedup, and Spark bounds that state only when the input is
    * already watermarked AND the watermarked event-time column is one
    * of `dedupKeys`: keys older than the watermark are then evicted.
    * Otherwise the state keeps every key seen for the life of the
    * query — a watermark set downstream of this call, or on an
    * event-time column that is not a key, bounds nothing here.
    */
  def silverClean(bronze: DataFrame, dedupKeys: Seq[String]): DataFrame =
    bronze.dropDuplicates(dedupKeys)

  /** The full silver stage for the events feed: decode epoch-like
    * fields, normalize an int flag to boolean, dedup on event_id, and
    * derive the guarded ratio value/(value+k).
    */
  def silverEvents(raw: DataFrame): DataFrame = {
    val cleaned = bronzeDecode(raw)
      .withColumn("event_minute", date_trunc("minute", col("ts")))
      .withColumn("is_error", (col("event_type") === "error"))
      .withColumn("pct_value", guardedRatio(col("value"), col("k").cast("double")))
    silverClean(cleaned, Seq("event_id"))
  }

  /** Medallion stage reconciliation (p22): the row-conservation audit
    * run after every backfill — bronze count, silver count with the
    * dedup loss made explicit, gold group count, and the TOTAL events
    * folded into gold, with `conserved` asserting gold's event mass
    * equals silver exactly (an aggregation that silently drops or
    * double-counts rows breaks here, not in a downstream report).
    * The reference pipeline has no such audit; a production medallion
    * does, and it is the first thing checked when gold "looks low".
    *
    * Scale shape: three independent 1-row aggregates (each a
    * map-side-combined pass) cross-joined at the report grain —
    * the fact table is never joined, only counted.
    */
  def stageReconcile(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.Tables.events(spark, dir)
    val silver = silverEvents(raw)
    val gold = goldWindow(silver, "ts", "event_type")
    val b = raw.agg(count(lit(1)).as("n_bronze"))
    val s = silver.agg(count(lit(1)).as("n_silver"))
    val g = gold.agg(count(lit(1)).as("n_gold_groups"),
      sum(col("n_events")).as("gold_events"))
    b.crossJoin(broadcast(s)).crossJoin(broadcast(g))
      .select(col("n_bronze"), col("n_silver"),
        (col("n_bronze") - col("n_silver")).as("dedup_loss"),
        col("n_gold_groups"), col("gold_events"),
        (col("gold_events") === col("n_silver")).as("conserved"))
  }

  /** Gold: tumbling-window aggregation per key (reference: 15-minute
    * window × station_id with avg aggregates,
    * spark_streaming_job.py:105-117). Works unchanged on a streaming
    * DataFrame when preceded by withWatermark.
    */
  def goldWindow(silver: DataFrame, tsCol: String, keyCol: String,
                 windowLen: String = "15 minutes"): DataFrame =
    silver
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(
        round(avg(col("pct_value")), 6).as("avg_pct_value"),
        // `value` is discrete 2-decimal data, so window averages land
        // EXACTLY on round-half boundaries where cross-engine
        // summation-order drift flips the rounded digit (found at
        // sf0.1: 250 of 2886 windows). round(sum,2) recovers the
        // exact decimal sum in both engines — the division then
        // yields bit-identical doubles with no rounding step at all.
        (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"),
        count(lit(1)).as("n_events"))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Sliding-window variant (window/slide) — Spark expands each row
    * into its covering windows; still a single shuffle on
    * (window, key).
    */
  def goldSliding(silver: DataFrame, tsCol: String, keyCol: String,
                  windowLen: String = "15 minutes", slide: String = "5 minutes"): DataFrame =
    silver
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(
        // exact-sum form — see goldWindow
        (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"),
        count(lit(1)).as("n_events"))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  // ---- Verified query entry points (SURVEY §2 p1-p4, p7) ----

  def p1BronzeDecode(spark: SparkSession, dir: String): DataFrame =
    bronzeDecode(Tables.events(spark, dir))
      .select(col("event_id"), col("event_type"), col("k"))
      .orderBy(col("event_id"))

  def p2SilverClean(spark: SparkSession, dir: String): DataFrame =
    silverEvents(Tables.events(spark, dir))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("event_minute"), col("is_error"), col("pct_value"))
      .orderBy(col("event_id"))

  def p3GoldWindow(spark: SparkSession, dir: String): DataFrame =
    goldWindow(silverEvents(Tables.events(spark, dir)), "ts", "event_type")
      .orderBy(col("window_start"), col("event_type"))

  def p4GoldSliding(spark: SparkSession, dir: String): DataFrame =
    goldSliding(silverEvents(Tables.events(spark, dir)), "ts", "user_id")
      .orderBy(col("window_start"), col("user_id"))

  /** Gold in PARTIAL-AGGREGATE form: (window, key) → (count, exact
    * decimal sum). This is the state you PERSIST for incremental
    * maintenance — averages are derived at read time, so merging a
    * delta batch is a sum-merge, never a recompute. (Stored
    * averages are NOT mergeable; stored (sum, count) pairs are —
    * the same partial/final split Spark's own two-phase aggregation
    * uses, lifted to the table level.) round(sum, 2) per slice
    * recovers the exact decimal sum of the 2-decimal source values
    * (goldWindow's documented trick), which is what makes the merge
    * bit-reproducible: exact decimals add associatively, raw fp sums
    * don't.
    */
  def goldPartial(silver: DataFrame, tsCol: String, keyCol: String,
                  windowLen: String = "15 minutes"): DataFrame =
    silver
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Merge partial-gold frames (the base table + any number of delta
    * batches): one sum-merge keyed on (window, key). Each input is
    * already window-cardinality, so the merge shuffle moves
    * aggregate rows, never events — at 100 TB the delta partial is
    * computed from the new day's events alone and the base partial
    * is read back from the lake; nothing recomputes.
    */
  def goldMerge(keyCol: String, partials: DataFrame*): DataFrame =
    partials.reduce(_ unionByName _)
      .groupBy(col("window_start"), col("window_end"), col(keyCol))
      .agg(sum(col("n_events")).as("n_events"),
        round(sum(col("sum_value")), 2).as("sum_value"))

  /** Verified entry (p16): incremental gold maintenance proof. The
    * event log splits 80/20 on a deterministic id rule (base lake vs
    * newly-arrived delta), each side folds to partial gold
    * independently, the merge is a sum-merge of aggregate rows — and
    * the DuckDB oracle recomputes gold from the FULL log, so the
    * hash match proves incremental == recompute, bit-for-bit. Sort
    * is oracle-determinism only.
    */
  def p16IncrementalGold(spark: SparkSession, dir: String): DataFrame = {
    val ev = silverEvents(Tables.events(spark, dir))
    val base = goldPartial(ev.filter(pmod(col("event_id"), lit(5)) < 4), "ts", "event_type")
    val delta = goldPartial(ev.filter(pmod(col("event_id"), lit(5)) === 4), "ts", "event_type")
    goldMerge("event_type", base, delta)
      .select(col("event_type"),
        (col("sum_value") / col("n_events")).as("avg_value"),
        col("n_events"), col("window_start"), col("window_end"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Batch backfill (reference: spark_batch_backfill.py) — the silver
    * transform re-run over the bronze lake, then aggregated per key:
    * proof that the pure-transform design backfills with zero code
    * duplication.
    */
  def p7Backfill(spark: SparkSession, dir: String): DataFrame =
    silverEvents(Tables.events(spark, dir))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(avg(col("pct_value")), 6).as("avg_pct_value"),
        round(sum(col("value")), 4).as("total_value"),
        max(col("event_minute")).as("last_seen_minute"))
      .orderBy(col("user_id"))

  /** Latest-row-per-key compaction — the CDC / snapshot read every
    * lakehouse silver table needs: many versions per key land over
    * time, readers want the newest. One hash shuffle on the key; the
    * version order MUST be total (timestamp ties broken by a unique
    * id) or "latest" is nondeterministic across runs — the same
    * totality rule a10's sf0.1 sweep enforced for lag/lead.
    */
  def latestPerKey(df: DataFrame, keyCol: String,
                   orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("n_versions", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** p9: newest event per user — CDC compaction over the event log.
    * Timestamps surfaced as epoch micros (ts is ns-parquet, §5).
    */
  /** SCD Type-2 history build from a CDC log: every version of every
    * key becomes a row with a [valid_from, valid_to) interval,
    * `valid_to` NULL on the current row. This is p9's sibling — p9
    * reads "latest snapshot", scd2 writes "full history" — and the
    * standard silver-table shape for slowly-changing entities. The
    * order (ts, unique id) is total, so version numbers and interval
    * bounds are deterministic under any partitioning. One shuffle on
    * the key; both window functions share one sort.
    */
  def scd2(df: DataFrame, keyCol: String, orderCol: String,
           idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).asc, col(idCol).asc)
    df.withColumn("version", row_number().over(w))
      .withColumn("valid_from_us", col(orderCol))
      .withColumn("valid_to_us", lead(col(orderCol), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** p10: SCD2 history over the event log — each user's value
    * timeline as versioned validity intervals.
    */
  def p10Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2(
      Tables.events(spark, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")),
      keyCol = "user_id", orderCol = "ts_us", idCol = "event_id")
      .select(col("user_id"), col("event_id"), col("version"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"),
        col("value"))
      .orderBy(col("user_id"), col("version"))

  /** Keyed snapshot diff — the migration-parity / CDC-validation
    * staple: classify every key across two snapshots of the same
    * logical table as `added` (new side only), `removed` (old side
    * only), `changed` (both, compare columns differ, null-safe) or
    * `unchanged`, carrying both sides' values for audit. One FULL
    * OUTER hash join on the key — each snapshot shuffles once on its
    * key (or broadcasts when one side is dim-sized); the
    * classification is a narrow map over the joined row. Null-safe
    * (`<=>`) comparison so a NULL→value transition reads as `changed`,
    * never `unchanged` through 3VL (p12's lesson).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String, compareCols: Seq[String]): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.filter(_ != keyCol).foldLeft(df) {
        (d, c) => d.withColumnRenamed(c, s"$p$c") }
    val o = prefixed(oldSnap, "old_").withColumn("__in_old", lit(1))
    val n = prefixed(newSnap, "new_").withColumn("__in_new", lit(1))
    val differs = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(differs, "changed")
          .otherwise("unchanged"))
      .drop("__in_old", "__in_new")
  }

  /** p13: diff the per-user latest state between the first and second
    * half of the event log (midpoint = (min+max)/2 of the time range,
    * 1-row broadcast — no driver collect): users active only in H2
    * are `added`, only in H1 `removed`, value drift `changed`.
    */
  def p13SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val withMid = ev.crossJoin(broadcast(mid))
    def latest(half: DataFrame): DataFrame =
      latestPerKey(half, "user_id",
        Seq(col("ts_us").desc, col("event_id").desc))
        .select(col("user_id"), col("ts_us"), col("value"))
    // state compare on `value` only — the snapshot timestamps always
    // differ between halves and are audit columns, not state
    snapshotDiff(
      latest(withMid.filter(col("ts_us") <= col("mid"))),
      latest(withMid.filter(col("ts_us") > col("mid"))),
      "user_id", Seq("value"))
      .select(col("user_id"), col("status"), col("old_value"),
        col("old_ts_us"), col("new_value"), col("new_ts_us"))
      .orderBy(col("user_id"))
  }

  def p9CdcLatest(spark: SparkSession, dir: String): DataFrame =
    latestPerKey(
      Tables.events(spark, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")),
      keyCol = "user_id",
      orderCols = Seq(col("ts_us").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts_us").as("last_ts_us"), col("value").as("last_value"),
        col("n_versions"))
      .orderBy(col("user_id"))
}
