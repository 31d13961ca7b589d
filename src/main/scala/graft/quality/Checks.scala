package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Declarative data-quality checks — the Spark-native re-expression of
  * the reference's Soda Core check suite
  * (reference: soda/checks/checks_gold.yml: schema presence,
  * row_count > 0, missing_count = 0, avg between bounds).
  *
  * Each check is an aggregate expression evaluated in ONE pass over
  * the table (single job, no per-check scans — at 100 TB a check
  * suite that rescans per check is unusable; this compiles the whole
  * suite into a single aggregation).
  */
object Checks {

  sealed trait Check {
    def name: String
    /** Aggregate expression producing the measured value. */
    def value: Column
    /** Pass/fail predicate over the measured value. */
    def passed(v: Column): Column
  }

  final case class RowCountAbove(min: Long) extends Check {
    val name = "row_count"
    def value: Column = count(lit(1)).cast("double")
    def passed(v: Column): Column = v > min
  }

  final case class MissingCount(column: String, maxAllowed: Long = 0) extends Check {
    val name = s"missing_count_$column"
    def value: Column = sum(when(col(column).isNull, 1).otherwise(0)).cast("double")
    def passed(v: Column): Column = v <= maxAllowed
  }

  final case class DuplicateCount(column: String, maxAllowed: Long = 0) extends Check {
    val name = s"duplicate_count_$column"
    def value: Column = (count(col(column)) - countDistinct(col(column))).cast("double")
    def passed(v: Column): Column = v <= maxAllowed
  }

  final case class AvgBetween(column: String, lo: Double, hi: Double) extends Check {
    val name = s"avg_$column"
    def value: Column = round(avg(col(column)), 6)
    def passed(v: Column): Column = v.between(lo, hi)
  }

  final case class MinAtLeast(column: String, lo: Double) extends Check {
    val name = s"min_$column"
    def value: Column = round(min(col(column).cast("double")), 6)
    def passed(v: Column): Column = v >= lo
  }

  final case class MaxAtMost(column: String, hi: Double) extends Check {
    val name = s"max_$column"
    def value: Column = round(max(col(column).cast("double")), 6)
    def passed(v: Column): Column = v <= hi
  }

  /** Missing required columns — the reference's schema check. Purely
    * metadata (no scan).
    */
  def missingColumns(df: DataFrame, required: Seq[String]): Seq[String] =
    required.filterNot(df.columns.toSet)

  /** Declarative check-suite loader — the Spark-native analogue of the
    * reference's YAML check file (soda/checks/checks_gold.yml:1-12):
    * checks live in CONFIG, not code, so a suite change is a config
    * change. JSON shape:
    * {{{
    * {"checks": [
    *   {"type": "row_count_above", "min": 0},
    *   {"type": "missing_count", "column": "user_id", "max": 0},
    *   {"type": "duplicate_count", "column": "event_id", "max": 0},
    *   {"type": "avg_between", "column": "value", "lo": 0, "hi": 1000},
    *   {"type": "min_at_least", "column": "value", "lo": 0}
    * ]}
    * }}}
    * Unknown types fail fast with the offending node in the message.
    * (Jackson ships inside Spark; no extra dependency.)
    */
  def fromJson(json: String): Seq[Check] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val arr = root.path("checks")
    require(arr.isArray, s"config must have a 'checks' array, got: $json")
    import scala.jdk.CollectionConverters._
    arr.elements().asScala.map { n =>
      def str(f: String) = n.path(f).asText()
      def num(f: String, dflt: Long = 0L) = if (n.has(f)) n.path(f).asLong() else dflt
      def dbl(f: String) = n.path(f).asDouble()
      str("type") match {
        case "row_count_above"  => RowCountAbove(num("min"))
        case "missing_count"    => MissingCount(str("column"), num("max"))
        case "duplicate_count"  => DuplicateCount(str("column"), num("max"))
        case "avg_between"      => AvgBetween(str("column"), dbl("lo"), dbl("hi"))
        case "min_at_least"     => MinAtLeast(str("column"), dbl("lo"))
        case other => throw new IllegalArgumentException(s"unknown check type '$other' in $n")
      }
    }.toSeq
  }

  /** A Soda-style check file parsed into the engine's terms: the
    * dataset name, the schema-presence column list, and the
    * aggregate checks (everything [[run]] can compile into one
    * pass).
    */
  final case class SodaSuite(dataset: String, requiredColumns: Seq[String],
                             checks: Seq[Check])

  /** Ingest a Soda-checks-language YAML file directly — a user
    * migrating from the reference (soda/checks/checks_gold.yml:1-12)
    * points this at their existing file, no hand-conversion to the
    * JSON shape above. Covers the check grammar the reference suite
    * uses (plus the obvious neighbors):
    *
    * {{{
    * checks for station_availability_15m:
    *   - schema:
    *       warn:
    *         when required columns missing: [station_id, window_start]
    *   - row_count > 0:
    *   - missing_count(station_id) = 0:
    *   - duplicate_count(station_id) <= 0:
    *   - avg(avg_pct) between 0 and 1:
    *   - min(avg_pct) >= 0:
    *   - max(avg_pct) <= 1:
    * }}}
    *
    * The parser is a deliberate line-oriented subset of YAML (this
    * file format is flat: one `checks for` header, dash entries,
    * one nested `when required columns missing` flow list) — no
    * YAML dependency exists in the Spark classpath and pulling one
    * in for this grammar would be the heavier hack. `tables:` /
    * `warn:` / `attributes:` sub-keys are accepted and ignored
    * (table routing is the caller's concern here); an
    * UNRECOGNIZED CHECK fails fast with its line, never a silent
    * skip — a DQ gate that drops checks it can't read is worse
    * than one that refuses the file.
    */
  def fromYaml(yaml: String): SodaSuite = {
    val lines = yaml.linesIterator
      .map(l => l.takeWhile(_ != '#'))
      .filter(_.trim.nonEmpty).toList
    val header = """^checks for\s+(.+?):\s*$""".r
    val dataset = lines.headOption match {
      case Some(header(ds)) => ds.trim
      case other => throw new IllegalArgumentException(
        s"expected 'checks for <dataset>:' header, got: ${other.getOrElse("<empty>")}")
    }
    def flowList(s: String): Seq[String] = {
      val t = s.trim
      require(t.startsWith("[") && t.endsWith("]"), s"expected a [..] flow list, got: $s")
      t.drop(1).dropRight(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val entry = """^\s*-\s*(.+?):\s*$""".r
    val requiredCols = """^\s*when required columns missing:\s*(\[.*\])\s*$""".r
    val subKey = """^\s*(tables|warn|fail|attributes):.*$""".r
    val num = """-?\d+(?:\.\d+)?"""
    val rowCount = s"""^row_count\\s*(>|>=)\\s*($num)$$""".r
    val countCheck = s"""^(missing_count|duplicate_count)\\((\\w+)\\)\\s*(=|<=)\\s*($num)$$""".r
    val avgBetween = s"""^avg\\((\\w+)\\)\\s+between\\s+($num)\\s+and\\s+($num)$$""".r
    val minCheck = s"""^min\\((\\w+)\\)\\s*>=\\s*($num)$$""".r
    val maxCheck = s"""^max\\((\\w+)\\)\\s*<=\\s*($num)$$""".r
    val required = scala.collection.mutable.ArrayBuffer.empty[String]
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
    lines.tail.foreach {
      case entry(expr) => expr.trim match {
        case "schema" => () // column list arrives via its nested key
        case rowCount(">", n) => checks += RowCountAbove(n.toDouble.toLong)
        case rowCount(">=", n) => checks += RowCountAbove(n.toDouble.toLong - 1)
        case countCheck("missing_count", c, _, n) => checks += MissingCount(c, n.toDouble.toLong)
        case countCheck("duplicate_count", c, _, n) => checks += DuplicateCount(c, n.toDouble.toLong)
        case avgBetween(c, lo, hi) => checks += AvgBetween(c, lo.toDouble, hi.toDouble)
        case minCheck(c, lo) => checks += MinAtLeast(c, lo.toDouble)
        case maxCheck(c, hi) => checks += MaxAtMost(c, hi.toDouble)
        case other => throw new IllegalArgumentException(s"unrecognized check: '$other'")
      }
      case requiredCols(list) => required ++= flowList(list)
      case subKey(_) => ()
      case other => throw new IllegalArgumentException(s"unrecognized line: '$other'")
    }
    SodaSuite(dataset, required.toSeq, checks.toSeq)
  }

  /** Run a parsed Soda suite: the schema-presence check becomes a
    * literal row (value = number of missing required columns, known
    * from the schema alone) in the same single aggregation pass as
    * the aggregate checks — one scan of the table, no extra job.
    */
  def runSuite(df: DataFrame, suite: SodaSuite): DataFrame = {
    val schemaRow = if (suite.requiredColumns.isEmpty) Nil else {
      val missing = missingColumns(df, suite.requiredColumns)
      Seq(("schema_required_columns", lit(missing.size.toDouble), lit(missing.isEmpty)))
    }
    onePass(df, suite.checks, schemaRow)
  }

  /** Compile a check suite into one aggregation pass; returns a long
    * DataFrame (check_name, value, passed) ordered by check_name.
    */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = onePass(df, checks, Nil)

  /** One aggregation over `df`, exploded into one row per check. The
    * rows are few and named at plan time, so they are put in
    * check_name order on the driver: the result needs no sort (a
    * range sort here costs a sampling job and a shuffle for ten rows).
    */
  private def onePass(df: DataFrame, checks: Seq[Check],
                      literalRows: Seq[(String, Column, Column)]): DataFrame = {
    val aggs = checks.map(c => c.value.as(s"__v_${c.name}"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = checks.map { c =>
      val v = col(s"__v_${c.name}")
      (c.name, v, c.passed(v))
    } ++ literalRows
    val structs = rows.sortBy(_._1).map { case (name, v, passed) =>
      struct(lit(name).as("check_name"), v.as("value"), passed.as("passed"))
    }
    wide.select(explode(array(structs: _*)).as("r"))
      .select(col("r.check_name"), col("r.value"), col("r.passed"))
  }

  /** The verified suite over `events` (SURVEY §2 p5), mirroring the
    * reference's gold checks.
    */
  def p5EventChecks(spark: SparkSession, dir: String): DataFrame =
    run(Tables.events(spark, dir), Seq(
      RowCountAbove(0),
      MissingCount("user_id"),
      DuplicateCount("event_id"),
      AvgBetween("value", 0.0, 1000.0),
      MinAtLeast("value", 0.0)))

  /** Daily DQ trend (p21): p5's table-level suite evaluated at DAY
    * grain — the dashboard table a data-platform team actually
    * watches (a single whole-table verdict hides WHEN quality broke;
    * the day series shows the regression land and DQ gates alert on
    * the newest row). Per day: row count, missing keys, duplicate
    * ids, the exact-sum-derived mean value, and the folded `ok`
    * verdict — every component an integer count or the one rounded
    * division (p8's exact-sum law), so the verdict can never split
    * between engines.
    *
    * Scale shape: ONE map-side-combined day aggregation; duplicate
    * counting pays the exact-distinct second exchange (p14's trade —
    * approx_count_distinct drops it to one at 100 TB).
    */
  def dqDaily(events: DataFrame, avgLo: Double = 0.0,
              avgHi: Double = 1000.0): DataFrame = {
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
        (count(col("event_id")) - countDistinct(col("event_id")))
          .as("n_dup_event_id"),
        (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
      .withColumn("ok",
        col("n_null_user") === 0 && col("n_dup_event_id") === 0 &&
          col("avg_value").between(avgLo, avgHi))
  }

  /** Verified entry (p21). Sort is oracle-determinism only. */
  def p21DqDaily(spark: SparkSession, dir: String): DataFrame =
    dqDaily(Tables.events(spark, dir)).orderBy(col("day"))

  /** Row-level quarantine routing — p5's table-level suite tells you
    * THAT the batch is bad; this is the dead-letter half of a real
    * ingest: each row is tested against the rule set and the failing
    * rows are routed out with machine-readable reasons (the clean
    * complement proceeds to silver). Purely narrow — a projection +
    * filter with zero shuffles, so it rides the ingest scan for free
    * at any scale; `concat_ws` skips the non-firing rules' NULLs, so
    * the reason list costs no array materialization.
    *
    * Null semantics are spelled out per rule (a NULL event_type IS
    * unknown, a NULL value IS out of range) rather than left to
    * three-valued logic, so the routing decision is engine-portable.
    */
  def rowQuarantine(events: DataFrame, knownTypes: Seq[String],
                    maxValue: Double): DataFrame = {
    val rules: Seq[(String, Column)] = Seq(
      "bad_props" -> (col("props").isNull ||
        get_json_object(col("props"), "$.k").isNull),
      "null_user" -> col("user_id").isNull,
      "unknown_type" -> (col("event_type").isNull ||
        !col("event_type").isin(knownTypes: _*)),
      "value_out_of_range" -> (col("value").isNull ||
        col("value") < 0.0 || col("value") > maxValue))
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .withColumn("reasons", concat_ws(",",
        rules.map { case (n, c) => when(c, lit(n)) }: _*))
      .filter(col("reasons") =!= "")
      .drop("props")
  }

  /** Verified entry (SURVEY §2 p11): quarantine over `events` with
    * the pipeline's accepted domain (the five known event types,
    * value in [0, 400]).
    */
  def p11Quarantine(spark: SparkSession, dir: String): DataFrame =
    rowQuarantine(Tables.events(spark, dir),
      Seq("click", "error", "purchase", "signup", "view"), 400.0)
      .orderBy(col("event_id"))

  /** Referential-integrity audit: for each declared foreign key,
    * count child rows whose key has no parent — the orphan check
    * every lake runs after ingest/backfill/CDC compaction (a
    * repartitioned rewrite or a partial backfill that drops parents
    * silently corrupts every downstream join). Each relation is ONE
    * pass: child keys LEFT-join the distinct parent keys and a single
    * aggregation splits the rows three ways (total / null key /
    * unmatched) — the child is scanned once, there is no 1-row-frame
    * crossJoin (which would plan a BNLJ and trip the blanket
    * no-cartesian pin), and Spark picks broadcast vs shuffle per
    * relation from the parent's size (the a2 rule: no hard hints on
    * SF-scaling tables). A null child key is reported separately (it
    * is MISSING, not an orphan — three-valued logic would otherwise
    * silently drop it from both counts; the null key also never
    * matches in the join, so the marker column stays null for it).
    *
    * Round 11 (a scan-count audit find): edges sharing a CHILD (a fact
    * table with several FKs — p12's lineitem carries three) fuse
    * into ONE pass over it: the shared child is scanned once with
    * every edge's key column, probes each parent through its own
    * left join (distinct parent keys, so row count is preserved and
    * the per-edge markers never interact), and one aggregation
    * splits all edges' counters; the per-edge report rows explode
    * out of that single row. Parents still broadcast-or-shuffle per
    * edge exactly as before — the fusion removes the repeated child
    * SCANS (at 100 TB, one fact pass instead of one per FK), never a
    * join. Edges are grouped by the child plan's canonicalized form,
    * so structurally-equal reads of one table fuse even when built
    * by separate Tables calls; a singleton group degenerates to the
    * old per-edge shape. Fused ≡ per-edge is spec-pinned.
    *
    * @param relations (name, child, childKey, parent, parentKey)
    */
  def fkOrphans(relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    val groups = relations.zipWithIndex
      .groupBy { case ((_, child, _, _, _), _) =>
        child.queryExecution.analyzed.canonicalized }
      .toSeq.map(_._2)
    val perGroup = groups.map { edges =>
      val child = edges.head._1._2
      val keyed = child.select(edges.map {
        case ((_, _, ck, _, _), i) => col(ck).as(s"__k$i") }: _*)
      val probed = edges.foldLeft(keyed) {
        case (df, ((_, _, _, parent, pk), i)) =>
          df.join(parent.select(col(pk).as(s"__k$i")).distinct()
              .withColumn(s"__hit$i", lit(1)),
            Seq(s"__k$i"), "left_outer")
      }
      val counters = edges.flatMap { case (_, i) => Seq(
        count(when(col(s"__k$i").isNotNull && col(s"__hit$i").isNull, 1))
          .as(s"__orph$i"),
        count(when(col(s"__k$i").isNull, 1)).as(s"__null$i")) }
      probed
        .agg(count(lit(1)).as("__n"), counters: _*)
        .select(explode(array(edges.map { case ((name, _, _, _, _), i) =>
          struct(lit(name).as("relation"), col("__n").as("n_children"),
            col(s"__orph$i").as("n_orphans"),
            col(s"__null$i").as("n_null_keys"))
        }: _*)).as("__e"))
        .select(col("__e.*"))
        .withColumn("ok",
          col("n_orphans") === 0 && col("n_null_keys") === 0)
    }
    perGroup.reduce(_ unionAll _).orderBy(col("relation"))
  }

  /** Verified entry (p12): the star schema's four fact/dim edges. */
  def p12FkOrphans(spark: SparkSession, dir: String): DataFrame =
    fkOrphans(Seq(
      ("lineitem.l_orderkey->orders", Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      ("lineitem.l_partkey->part", Tables.lineitem(spark, dir), "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      ("lineitem.l_suppkey->supplier", Tables.lineitem(spark, dir), "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      ("orders.o_custkey->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey")))

  /** Column profiling (p14): the describe-the-data report every
    * pipeline runs before writing checks — per column: null count,
    * exact distinct count, lexicographic-free min/max (computed on
    * the NATIVE type, then stringified for the uniform report
    * schema). ONE aggregation pass over the table: Spark compiles the
    * multi-distinct agg into a single Expand + two-phase hash
    * aggregate, so the table is scanned once and shuffled once on the
    * expand key regardless of how many columns are profiled. At 100
    * TB swap `countDistinct` for `approx_count_distinct` (a5b's
    * documented trade) and the pass loses the Expand entirely —
    * profiling never needs exact cardinalities; exact is the verified
    * configuration because the oracle can replay it.
    *
    * Stringification parity note: doubles/dates/longs format
    * identically on both engines in this corpus's value ranges
    * (no scientific-notation thresholds crossed); min/max order is
    * decided BEFORE the cast, so numeric columns compare numerically.
    */
  def profileColumns(df: DataFrame, columns: Seq[String]): DataFrame = {
    // The multi-distinct Expand multiplies every input row by
    // |columns|+1 and the partial aggregation runs WHERE THE SPLITS
    // ARE — at production scale splits ≫ cores and this guard is a
    // no-op, but a small table (few parquet splits) would run the
    // whole Expand+dedup on those few tasks. One cheap round-robin
    // exchange of the raw rows buys full-core parallelism exactly
    // when the input is small enough for that exchange to be free.
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // toRdd reads the partition count off the already-planned physical
    // plan; df.rdd would build a SEPARATE deserializing RDD conversion
    // (a second physical planning pass) just to ask the same question
    val nParts = df.queryExecution.toRdd.getNumPartitions
    val src = if (nParts < cores) df.repartition(cores) else df
    val aggs = columns.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = src.agg(count(lit(1)).as("__n_rows"), aggs: _*)
    val stack = columns.map(c =>
      s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`").mkString(", ")
    one.select(col("__n_rows").as("n_rows"),
        expr(s"stack(${columns.length}, $stack)")
          .as(Seq("col_name", "n_nulls", "n_distinct", "min_val", "max_val")))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** Verified entry (p14): profile the lineitem fact's key/measure/
    * flag/date columns (shipdate day-cast — the µs-truncation gotcha
    * keeps raw timestamps out of verified output). Sort is
    * oracle-determinism only.
    */
  def p14Profile(spark: SparkSession, dir: String): DataFrame =
    profileColumns(
      Tables.lineitem(spark, dir)
        .withColumn("l_shipdate", col("l_shipdate").cast("date")),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_linestatus"))
      .orderBy(col("col_name"))

  /** The 100 TB spelling of [[profileColumns]]: approx_count_distinct
    * (HLL++, fixed sketch memory, map-side mergeable) in place of the
    * exact multi-distinct. The exact spelling compiles to an Expand
    * that multiplies EVERY input row by |columns|+1 before the
    * partial agg — inherent to exact multi-distinct, ruinous at fact
    * scale; the sketch spelling keeps ONE partial+final agg pair over
    * unmultiplied rows (a5b's trade applied to the whole profile).
    * Plan-pinned Expand-free in PlanShapeSpec. rsd 0.02 makes the 5%
    * gate the entry applies a ≈2.5σ bound.
    */
  def approxProfileColumns(df: DataFrame, columns: Seq[String],
                           rsd: Double = 0.02): DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        approx_count_distinct(col(c), rsd = rsd).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = df.agg(count(lit(1)).as("__n_rows"), aggs: _*)
    val stack = columns.map(c =>
      s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`").mkString(", ")
    one.select(col("__n_rows").as("n_rows"),
        expr(s"stack(${columns.length}, $stack)")
          .as(Seq("col_name", "n_nulls", "n_distinct_approx", "min_val", "max_val")))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct_approx"), col("min_val"), col("max_val"))
  }

  /** Verified entry (p14b): the sketch profile gated against exact
    * truth on a DETERMINISTIC MOD-SAMPLED SLICE, a5b's tolerance-flag
    * pattern — the full corpus is touched ONLY by the Expand-free
    * sketch profile (the production plan [[approxProfileColumns]]
    * pins); the exact multi-distinct Expand runs solely on the 1/16
    * `l_orderkey % 16 = 0` slice, so the verified entry's cost now
    * scales like the production plan instead of paying the
    * corpus-scale Expand it exists to avoid (VERDICT r11 lead item:
    * 29.8 s / 7.2× growth at 10×, the suite's worst). Two gates ride
    * the hash compare as stated-`true` booleans:
    *  - `slice_within_5pct`: HLL++ vs exact ON THE SLICE (rsd 0.02 →
    *    the 5% gate is ≈2.5σ, same bound the old full-corpus gate
    *    applied);
    *  - `full_covers_slice`: the full-corpus production estimate must
    *    be ≥ 95% of the slice's exact distinct count — sound because
    *    distinct(corpus) ≥ distinct(slice) set-theoretically and the
    *    sketch sits within 5% of its own truth, so a collapsed
    *    full-corpus sketch hash-mismatches. This bound alone is
    *    ONE-SIDED with up to ~16× slack on high-cardinality columns
    *    (ADVICE r12): a full sketch overestimating 2-10× (mis-wired
    *    rsd, wrong column) would still clear it;
    *  - `full_within_slice_band`: the cheap upper bound closing that
    *    gap — full-corpus estimate ≤ slice-exact × 24 (the mod-16
    *    slice holds ≥ 1/16 of a uniformly-keyed column's values in
    *    expectation; ×24 = ×16 with 1.5× slack for small-corpus
    *    variance and sketch error, still failing any ≥1.5×
    *    overestimate at verified scales). An EMPTY slice proves
    *    nothing either way, so the bound stands down there rather
    *    than failing every tiny corpus whose keys miss the mod class.
    * Portable columns (n_rows/n_nulls/min/max full-corpus,
    * n_distinct_slice exact-on-slice) replay exactly in the oracle;
    * the gate join is |columns| rows × |columns| rows — free at any
    * corpus size.
    */
  /** Cutover for p14b's scan fusion (r14; the same
    * derive-from-input-size law as Queries.BandedWindowMinBytes):
    * lineitem inputs whose optimizer size estimate stays under this
    * many bytes keep the separate 1/16-slice sketch pass (3 scans —
    * the third scan is ~0.1 s on a page-cached dimension-scale input,
    * cheaper than paying conditional HLL updates on every full-pass
    * row); above it the slice sketches fuse into the full pass (2
    * scans — the pass-count win once scans carry real bytes).
    * Metadata-only (file-size estimate, no extra pass), deterministic
    * per corpus; both spellings produce identical rows, so the switch
    * can never move a result. Value set from a same-host A/B
    * (optimization report in commit 5d80315): split wins at sf0.1
    * (11 MB), fused wins at 10× (110 MB) — 32 MiB sits between the
    * measured rungs.
    */
  private[graft] val P14bFuseMinBytes: Long = 32L << 20

  def p14bApproxProfile(spark: SparkSession, dir: String,
                        fuseMinBytes: Long = P14bFuseMinBytes): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_linestatus")
    val slicePred = pmod(col("l_orderkey"), lit(16)) === 0
    val slice = li.filter(slicePred)
    // Scan fusion (r13, guide §1.2 — fewer corpus passes), SIZE-GATED
    // (r14, VERDICT r13 item 1 — the a28/a35/a36 cutover law applied
    // here): ABOVE [[P14bFuseMinBytes]] the SLICE SKETCHES ride the
    // Expand-free full pass as when(slicePred, …) conditional HLL
    // aggregates (p15b's pass-1 trick — HLL skips the nulls the
    // when() injects, and its register merge is an elementwise max,
    // so the estimate is bit-identical to sketching the filtered
    // slice separately). The slice pass keeps ONLY the exact
    // multi-distinct — the entry costs two corpus scans instead of
    // three, the winning trade once scans carry real bytes (r13's
    // 10× sweeps: 5.49→4.17 s). BELOW the cutover the slice sketches
    // keep their own cheap 1/16-scan pass (the r12 spelling): on a
    // page-cached dimension-scale input the third scan costs ~0.1 s
    // while the fused spelling pays per-row when()+HLL updates on
    // EVERY full-pass row — driver-measured 2× slower at sf0.1
    // (round-13 bench p14b 2.58→5.23 s in commit 9d6443c, same-host
    // A/B in commit 5d80315). Both spellings are bit-identical (same
    // HLL register state), spec- and oracle-pinned.
    // The rejected third alternative (measured 2.0→3.7 s warm at
    // sf0.1): fusing the sketches into the slice's multi-distinct agg
    // instead puts the 5 HLL buffers inside the Expand's dedupe
    // aggregation, whose per-group buffers then carry them through
    // the dedupe exchange — a single-task 1.9 s merge straggler where
    // the old shape had a 0.6 s 32-task stage.
    val fuse = li.queryExecution.optimizedPlan.stats.sizeInBytes > fuseMinBytes
    val fullAggs = cols.flatMap { c =>
      val base = Seq(
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        approx_count_distinct(col(c), rsd = 0.02).as(s"${c}__distinct"))
      val sketch =
        if (fuse) Seq(approx_count_distinct(when(slicePred, col(c)), rsd = 0.02)
          .as(s"${c}__sdistinct"))
        else Seq.empty
      base ++ sketch ++ Seq(
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val approxFull =
      if (fuse) {
        val fullStack = cols.map(c =>
          s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__sdistinct`, `${c}__min`, `${c}__max`")
          .mkString(", ")
        li.agg(count(lit(1)).as("__n_rows"), fullAggs: _*)
          .select(col("__n_rows").as("n_rows"),
            expr(s"stack(${cols.length}, $fullStack)")
              .as(Seq("col_name", "n_nulls", "n_distinct_approx", "__approx_s",
                "min_val", "max_val")))
      } else {
        val fullStack = cols.map(c =>
          s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`")
          .mkString(", ")
        val sliceAggs = cols.map(c =>
          approx_count_distinct(col(c), rsd = 0.02).as(s"${c}__sdistinct"))
        val sliceStack = cols.map(c => s"'$c', `${c}__sdistinct`").mkString(", ")
        val approxSlice = slice.agg(sliceAggs.head, sliceAggs.tail: _*)
          .select(expr(s"stack(${cols.length}, $sliceStack)")
            .as(Seq("col_name", "__approx_s")))
        li.agg(count(lit(1)).as("__n_rows"), fullAggs: _*)
          .select(col("__n_rows").as("n_rows"),
            expr(s"stack(${cols.length}, $fullStack)")
              .as(Seq("col_name", "n_nulls", "n_distinct_approx",
                "min_val", "max_val")))
          .join(approxSlice, Seq("col_name"))
      }
    val exactSlice = profileColumns(slice, cols)
      .select(col("col_name"), col("n_distinct").as("__exact_s"))
    approxFull
      .join(exactSlice, Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("__exact_s").as("n_distinct_slice"),
        col("min_val"), col("max_val"),
        (abs(col("__approx_s") - col("__exact_s"))
          <= col("__exact_s") * 0.05).as("slice_within_5pct"),
        (col("n_distinct_approx").cast("double")
          >= col("__exact_s") * 0.95).as("full_covers_slice"),
        (col("__exact_s") === 0 ||
          col("n_distinct_approx").cast("double")
            <= col("__exact_s") * 24.0).as("full_within_slice_band"))
      .orderBy(col("col_name"))
  }

  /** Column-profile drift (p15): p14's one-pass profile run on a
    * baseline and a candidate slice, joined per column — the "did the new
    * partition change shape?" gate a pipeline runs before promoting a
    * batch: null-rate movement, distinct-cardinality ratio, and
    * min/max range escape. Each side is the single profile pass
    * (map-side partials into one tiny stacked row set of |columns|
    * rows); the drift join is over those |columns|-row frames, so
    * the comparison itself is free at any corpus size.
    */
  def profileDrift(base: DataFrame, cand: DataFrame,
                   columns: Seq[String]): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame =
      profileColumns(df, columns).select(col("col_name"),
        col("n_rows").as(s"n_rows_$s"), col("n_nulls").as(s"n_nulls_$s"),
        col("n_distinct").as(s"n_distinct_$s"),
        col("min_val").as(s"min_$s"), col("max_val").as(s"max_$s"))
    side(base, "a").join(side(cand, "b"), Seq("col_name"))
      .select(col("col_name"),
        col("n_rows_a"), col("n_rows_b"),
        round(col("n_nulls_a").cast("double") / col("n_rows_a"), 6).as("null_rate_a"),
        round(col("n_nulls_b").cast("double") / col("n_rows_b"), 6).as("null_rate_b"),
        col("n_distinct_a"), col("n_distinct_b"),
        round(col("n_distinct_b").cast("double") / col("n_distinct_a"), 6)
          .as("distinct_ratio"),
        (col("min_a") =!= col("min_b") || col("max_a") =!= col("max_b"))
          .as("range_changed"))
  }

  /** Verified entry (p15): lineitem's 1998 boundary as the baseline/
    * candidate split. Sort is oracle-determinism only. This is the
    * EXACT twin — it deliberately pays the full multi-distinct
    * Expand on both sides (the ground-truth gate, and the contrast
    * the p15b plan pin reads); production promote gates run
    * [[p15bApproxDrift]]'s two-scan sketch spelling instead (the
    * a5/a5b, p14/p14b twin pattern).
    */
  def p15ProfileDrift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_linestatus")
    profileDrift(
      li.filter(col("l_shipdate") < lit("1998-01-01").cast("date")),
      li.filter(col("l_shipdate") >= lit("1998-01-01").cast("date")),
      cols).orderBy(col("col_name"))
  }

  /** The 100 TB drift-gate spelling (VERDICT r12 item 4): [[p15ProfileDrift]]
    * runs p14's EXACT profile twice, re-importing the corpus-scale
    * multi-distinct Expand on both sides of every promote decision.
    * This variant prices the gate at sketch cost in TWO corpus
    * passes total, riding p14b's slice-gated pattern:
    *  - pass 1, narrow and Expand-free: ONE full scan computes BOTH
    *    sides' sketch profiles (rows, nulls, min/max exact; distinct
    *    via HLL++) as when(pred, …) conditional aggregates — the two
    *    sides of a promote decision are partitions of one table, so
    *    scanning twice to profile them separately would be pure
    *    waste (the r13 fusion that made this entry cheaper than its
    *    exact twin at every measured scale);
    *  - pass 2, the ONLY Expand: both sides' exact multi-distincts
    *    on the deterministic `slicePred` subset (entry:
    *    `l_orderkey % 16`) plus the slice sketches, one agg — the
    *    slice is the SAME population both sides, so the slice-exact
    *    ratio is the engine-replayable drift signal wherever the
    *    slice is representative (exactly the regime the gates
    *    certify);
    *  - p14b's three gate booleans ride per side (5% sketch-vs-exact
    *    on the slice, ≥95% cover from below, ≤×24 band from above),
    *    folded to one stated-`true` column per side so a mis-wired
    *    sketch on EITHER side hash-mismatches.
    * Null rates, row counts and range escape stay exact (they are
    * cheap single-pass aggregates); only the cardinality signal moves
    * to the sketch+slice spelling — the a5/a5b, p14/p14b trade
    * applied to the promote gate. Rows on which BOTH predicates are
    * false (entry: null ship dates) belong to neither side, matching
    * the exact gate's filter semantics.
    */
  def approxProfileDrift(df: DataFrame, columns: Seq[String],
                         basePred: Column, candPred: Column,
                         slicePred: Column,
                         rsd: Double = 0.02): DataFrame = {
    val sides = Seq("a" -> basePred, "b" -> candPred)
    // Pass 1 — ONE narrow full scan for BOTH sides: every per-side
    // aggregate rides a when(pred, …) conditional (count/min/max and
    // HLL all skip the other side's nulls), so the drift gate never
    // scans the corpus twice just because it has two sides.
    val fullAggs =
      sides.map { case (s, p) => count(when(p, 1)).as(s"__n_rows_$s") } ++
        sides.flatMap { case (s, p) =>
          columns.flatMap { c =>
            Seq(
              count(when(p && col(c).isNull, 1)).as(s"__${c}__nulls_$s"),
              approx_count_distinct(when(p, col(c)), rsd = rsd)
                .as(s"__${c}__adist_$s"),
              min(when(p, col(c))).cast("string").as(s"__${c}__min_$s"),
              max(when(p, col(c))).cast("string").as(s"__${c}__max_$s"))
          }
        }
    val full = df.agg(fullAggs.head, fullAggs.tail: _*)
    // Pass 2 — the ONLY Expand, on the slice: both sides' exact
    // distincts (the engine-replayable drift signal) plus the slice
    // sketches the 5% gate compares, in one multi-distinct agg over
    // slicePred rows only.
    val sliceAggs = sides.flatMap { case (s, p) =>
      columns.flatMap { c =>
        Seq(
          countDistinct(when(p, col(c))).as(s"__${c}__exact_$s"),
          approx_count_distinct(when(p, col(c)), rsd = rsd)
            .as(s"__${c}__sdist_$s"))
      }
    }
    val slice = df.filter(slicePred).agg(sliceAggs.head, sliceAggs.tail: _*)
    val one = full.crossJoin(slice) // 1 row × 1 row
    def gate(c: String, s: String): Column = {
      val exact = col(s"__${c}__exact_$s").cast("double")
      (abs(col(s"__${c}__sdist_$s") - exact) <= exact * 0.05 &&
        col(s"__${c}__adist_$s").cast("double") >= exact * 0.95 &&
        (exact === 0 || col(s"__${c}__adist_$s").cast("double") <= exact * 24.0))
    }
    val perCol = columns.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n_rows_a").as("n_rows_a"), col("__n_rows_b").as("n_rows_b"),
        round(col(s"__${c}__nulls_a").cast("double") / col("__n_rows_a"), 6)
          .as("null_rate_a"),
        round(col(s"__${c}__nulls_b").cast("double") / col("__n_rows_b"), 6)
          .as("null_rate_b"),
        col(s"__${c}__exact_a").as("n_distinct_slice_a"),
        col(s"__${c}__exact_b").as("n_distinct_slice_b"),
        round(col(s"__${c}__exact_b").cast("double")
          / col(s"__${c}__exact_a"), 6).as("distinct_ratio_slice"),
        (col(s"__${c}__min_a") =!= col(s"__${c}__min_b") ||
          col(s"__${c}__max_a") =!= col(s"__${c}__max_b")).as("range_changed"),
        gate(c, "a").as("sketch_ok_a"), gate(c, "b").as("sketch_ok_b"))
    }
    one.select(explode(array(perCol: _*)).as("__r")).select(col("__r.*"))
  }

  /** Verified entry (p15b): p15's 1998 split priced at sketch cost.
    * Sort is oracle-determinism only.
    */
  def p15bApproxDrift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_linestatus")
    approxProfileDrift(li, cols,
      col("l_shipdate") < lit("1998-01-01").cast("date"),
      col("l_shipdate") >= lit("1998-01-01").cast("date"),
      pmod(col("l_orderkey"), lit(16)) === 0).orderBy(col("col_name"))
  }
}
