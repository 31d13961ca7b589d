package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import java.sql.Timestamp

class PipelineSpec extends GraftSpecBase {
  import spark.implicits._

  test("guarded ratio: null on zero denominator (reference ÷0 guard)") {
    val df = Seq((4.0, 1.0), (0.0, 0.0), (3.0, 0.0)).toDF("num", "den")
      .select(pipeline.Medallion.guardedRatio(col("num"), col("den")).as("r"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).contains(0.8))
    assert(got(1).isEmpty, "0/(0+0) must be null, not NaN")
    assert(got(2).contains(1.0))
  }

  test("silver dedup drops duplicate keys") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v")
    assert(pipeline.Medallion.silverClean(df, Seq("id")).count() == 2)
  }

  test("gold window: manual check on a tiny frame") {
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:01:00"), "x", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 00:14:59"), "x", 20.0),
      (3L, Timestamp.valueOf("2024-01-01 00:15:00"), "x", 30.0))
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("pct_value", lit(0.5))
    val g = pipeline.Medallion.goldWindow(rows, "ts", "event_type")
      .orderBy("window_start").collect()
    assert(g.length == 2)
    assert(g(0).getAs[Long]("n_events") == 2 && g(0).getAs[Double]("avg_value") == 15.0)
    assert(g(1).getAs[Long]("n_events") == 1 && g(1).getAs[Double]("avg_value") == 30.0)
  }

  test("p16: merging ANY number of partial-gold slices equals the one-shot recompute") {
    val silver = pipeline.Medallion.silverEvents(Tables.events(spark, sf))
    // three unequal deterministic slices (7 ≡ base-heavy split)
    val slices = Seq(
      silver.filter(pmod(col("event_id"), lit(7)) < 5),
      silver.filter(pmod(col("event_id"), lit(7)) === 5),
      silver.filter(pmod(col("event_id"), lit(7)) === 6))
      .map(s => pipeline.Medallion.goldPartial(s, "ts", "event_type"))
    val merged = pipeline.Medallion.goldMerge("event_type", slices: _*)
      .withColumn("avg_value", col("sum_value") / col("n_events"))
      .select("event_type", "window_start", "window_end", "n_events", "avg_value")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val oneShot = pipeline.Medallion.goldPartial(silver, "ts", "event_type")
      .withColumn("avg_value", col("sum_value") / col("n_events"))
      .select("event_type", "window_start", "window_end", "n_events", "avg_value")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(merged == oneShot, "3-way partial merge must be bit-identical to recompute")
    assert(oneShot.nonEmpty)
  }

  test("streaming gold equals batch gold (stream/batch parity)") {
    val batch = pipeline.Medallion.p3GoldWindow(spark, sf).collect().toSeq
    val stream = streaming.Streams.p6StreamGold(spark, sf)
      .select(batch.head.schema.fieldNames.map(col): _*).collect().toSeq
    assert(stream.toSet == batch.toSet)
    assert(batch.nonEmpty)
  }

  test("quality checks: single pass, correct pass/fail") {
    val df = Seq((1L, Some(1.0)), (2L, None), (2L, Some(-5.0))).toDF("id", "v")
    val r = quality.Checks.run(df, Seq(
      quality.Checks.RowCountAbove(0),
      quality.Checks.MissingCount("v"),
      quality.Checks.DuplicateCount("id"),
      quality.Checks.MinAtLeast("v", 0.0)))
    val byName = r.collect().map(x => x.getString(0) -> (x.getDouble(1), x.getBoolean(2))).toMap
    assert(byName("row_count") == ((3.0, true)))
    assert(byName("missing_count_v") == ((1.0, false)))
    assert(byName("duplicate_count_id") == ((1.0, false)))
    assert(byName("min_v") == ((-5.0, false)))
  }

  test("missingColumns flags absent required columns") {
    val df = Seq((1, 2)).toDF("a", "b")
    assert(quality.Checks.missingColumns(df, Seq("a", "c")) == Seq("c"))
  }

  test("declarative JSON config reproduces the p5 gold suite exactly") {
    // the reference declares this suite in YAML
    // (soda/checks/checks_gold.yml:1-12); same semantics from config
    val config =
      """{"checks": [
        |  {"type": "row_count_above", "min": 0},
        |  {"type": "missing_count", "column": "user_id", "max": 0},
        |  {"type": "duplicate_count", "column": "event_id", "max": 0},
        |  {"type": "avg_between", "column": "value", "lo": 0, "hi": 1000},
        |  {"type": "min_at_least", "column": "value", "lo": 0}
        |]}""".stripMargin
    val fromConfig = quality.Checks
      .run(Tables.events(spark, sf), quality.Checks.fromJson(config))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    val fromCode = quality.Checks.p5EventChecks(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    assert(fromConfig.sameElements(fromCode))
    intercept[IllegalArgumentException] {
      quality.Checks.fromJson("""{"checks": [{"type": "nope"}]}""")
    }
  }

  test("Soda YAML check file ingests directly (reference checks_gold.yml grammar)") {
    // the reference's own suite shape — schema presence, row_count,
    // missing_count, avg-between — plus the neighboring forms, over
    // a gold-style availability table
    val yml =
      """checks for station_availability_15m:
        |  - schema:
        |      warn:
        |        when required columns missing: [station_id, window_start, avg_pct]
        |      tables: [station_availability_15m]
        |  - row_count > 0:
        |      tables: [station_availability_15m]
        |  - missing_count(station_id) = 0:
        |  - duplicate_count(station_id) <= 0:
        |  - avg(avg_pct) between 0 and 1:
        |  - min(avg_pct) >= 0:
        |  - max(avg_pct) <= 1:
        |""".stripMargin
    val suite = quality.Checks.fromYaml(yml)
    assert(suite.dataset == "station_availability_15m")
    assert(suite.requiredColumns == Seq("station_id", "window_start", "avg_pct"))
    assert(suite.checks.length == 6)

    val good = Seq((1L, "2024-01-01T00:00", 0.5), (2L, "2024-01-01T00:00", 0.25))
      .toDF("station_id", "window_start", "avg_pct")
    val g = quality.Checks.runSuite(good, suite)
      .collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getBoolean(2)))).toMap
    assert(g.size == 7 && g.values.forall(_._2), s"all checks must pass: $g")
    assert(g("schema_required_columns") == ((0.0, true)))
    assert(g("row_count") == ((2.0, true)))

    // a broken batch (dup key, avg out of range, missing column) fails
    // the right checks and only those
    val bad = Seq((1L, 2.0), (1L, 3.0)).toDF("station_id", "avg_pct")
    val b = quality.Checks.runSuite(bad, suite)
      .collect().map(x => x.getString(0) -> x.getBoolean(2)).toMap
    assert(!b("schema_required_columns") && !b("duplicate_count_station_id")
      && !b("avg_avg_pct") && !b("max_avg_pct"))
    assert(b("row_count") && b("missing_count_station_id") && b("min_avg_pct"))

    // unknown checks refuse the file instead of silently dropping
    intercept[IllegalArgumentException] {
      quality.Checks.fromYaml("checks for t:\n  - freshness(ts) < 1d:\n")
    }
  }

  test("runSuite costs no more Spark jobs than a plain count and returns rows in check_name order") {
    val dir = java.nio.file.Files.createTempDirectory("graft_checks").toString
    (0 until 8000).map(i => (i.toLong, s"w${i % 96}", (i % 101) / 100.0))
      .toDF("station_id", "window_start", "avg_pct")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // the reference gold suite's shape (no duplicate_count: its
    // count-distinct needs an exchange of its own)
    val suite = quality.Checks.fromYaml(
      """checks for gold:
        |  - schema:
        |      fail:
        |        when required columns missing: [station_id, window_start, avg_pct]
        |  - row_count > 0:
        |  - missing_count(station_id) = 0:
        |  - avg(avg_pct) between 0 and 1:
        |  - min(avg_pct) >= 0:
        |  - max(avg_pct) <= 1:
        |""".stripMargin)
    val plain = jobsStarted(df.agg(count(lit(1))).collect())
    var rows = Array.empty[Row]
    val suiteJobs = jobsStarted { rows = quality.Checks.runSuite(df, suite).collect() }
    assert(suiteJobs == plain,
      s"runSuite started $suiteJobs jobs where one aggregation pass starts $plain")
    val names = rows.map(_.getString(0)).toSeq
    assert(names == names.sorted && names.size == 6, s"rows out of check_name order: $names")
    assert(rows.forall(_.getBoolean(2)), s"every check passes on this frame: ${rows.toSeq}")
  }

  test("reference checks_gold.yml loads VERBATIM and gates a gold batch") {
    // the reference's actual Soda file, unmodified
    // (reference soda/checks/checks_gold.yml:1-11)
    val path = java.nio.file.Paths.get("/root/reference/soda/checks/checks_gold.yml")
    assume(java.nio.file.Files.exists(path), "reference checkout not present")
    val yml = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val suite = quality.Checks.fromYaml(yml)
    assert(suite.requiredColumns == Seq("station_id", "window_start",
      "window_end", "avg_pct_bikes_available"))
    assert(suite.checks.length == 3) // row_count, missing_count, avg-between

    val gold = Seq((101L, "00:00", "00:15", 0.42), (102L, "00:00", "00:15", 0.77))
      .toDF("station_id", "window_start", "window_end", "avg_pct_bikes_available")
    val r = quality.Checks.runSuite(gold, suite)
      .collect().map(x => x.getString(0) -> x.getBoolean(2)).toMap
    assert(r.size == 4 && r.values.forall(identity), s"reference suite must pass: $r")

    val broken = Seq((101L, "00:00", "00:15", 1.42)) // avg out of [0,1]
      .toDF("station_id", "window_start", "window_end", "avg_pct_bikes_available")
    val rb = quality.Checks.runSuite(broken, suite)
      .collect().map(x => x.getString(0) -> x.getBoolean(2)).toMap
    assert(!rb("avg_avg_pct_bikes_available") && rb("row_count"),
      s"out-of-range average must fail exactly that check: $rb")
  }

  test("p12: planted orphans and null keys land in the right buckets; clean relation passes") {
    val child = Seq(
      (1L, Some(10L)), (2L, Some(10L)), (3L, Some(99L)), // 99 has no parent
      (4L, None)).map { case (id, k) => (id, k.map(Long.box).orNull) }
      .toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val r = quality.Checks.fkOrphans(Seq(
      ("child.fk->parent", child, "fk", parent, "pk"),
      ("parent.pk->parent", parent, "pk", parent, "pk")))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4)))).toMap
    assert(r("child.fk->parent") == ((4L, 1L, 1L, false)),
      s"4 children, 1 orphan (99), 1 null key: ${r("child.fk->parent")}")
    assert(r("parent.pk->parent") == ((2L, 0L, 0L, true)), "self-FK is trivially intact")
  }

  test("p12 fused shared-child pass ≡ independent per-edge probes") {
    // round 11: edges sharing a child fuse into one scan; this pins
    // value-identity against per-edge singleton calls on a fixture
    // where the two fused edges disagree (edge A has an orphan and a
    // null, edge B is clean) — a marker-column mixup would swap them
    val child = Seq(
      (Some(10L), Some(7L)), (Some(99L), Some(7L)),
      (None, Some(8L)), (Some(11L), Some(8L)))
      .map { case (a, b) => (a.map(Long.box).orNull, b.map(Long.box).orNull) }
      .toDF("fka", "fkb")
    val pa = Seq(10L, 11L).toDF("pk")
    val pb = Seq(7L, 8L).toDF("pk")
    val fused = quality.Checks.fkOrphans(Seq(
      ("a", child, "fka", pa, "pk"), ("b", child, "fkb", pb, "pk")))
    val perEdge = Seq(("a", "fka", pa), ("b", "fkb", pb)).map { case (n, k, p) =>
      quality.Checks.fkOrphans(Seq((n, child, k, p, "pk")))
    }.reduce(_ unionAll _)
    assert(fused.exceptAll(perEdge).isEmpty && perEdge.exceptAll(fused).isEmpty,
      s"fused=${fused.collect().toSeq} perEdge=${perEdge.collect().toSeq}")
    val rows = fused.collect().map(x => x.getString(0) ->
      ((x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4)))).toMap
    assert(rows("a") == ((4L, 1L, 1L, false)) && rows("b") == ((4L, 0L, 0L, true)),
      s"per-edge counters crossed: $rows")
    // and the fusion actually fused: the shared child is scanned once
    val one = quality.Checks.fkOrphans(Seq(
      ("a", child, "fka", pa, "pk"), ("b", child, "fkb", pb, "pk")))
    assert(one.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.size <= 3, // child once + two parents (per-edge would be 4+)
      s"shared child must appear once:\n${one.queryExecution.analyzed}")
  }

  test("p9: latest-per-key keeps exactly the newest version, counts all versions") {
    val r = pipeline.Medallion.p9CdcLatest(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.map(_.getLong(0)).distinct.length == r.length, "one row per key")
    // cross-check against a direct max-ts aggregation
    val direct = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("max_us"), count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    r.foreach { row =>
      val (maxUs, n) = direct(row.getLong(0))
      assert(row.getLong(2) == maxUs, s"user ${row.getLong(0)}: ts must be the max")
      assert(row.getLong(4) == n, "n_versions must count every version")
    }
  }

  test("p10: SCD2 intervals chain per key, exactly one current version") {
    val rows = pipeline.Medallion.p10Scd2(spark, sf)
      .select("user_id", "version", "valid_from_us", "valid_to_us", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to vs.length), s"user $u: versions contiguous")
      sorted.sliding(2).foreach {
        case Array((_, _, _, Some(to), _), (_, _, from, _, _)) =>
          assert(to == from, s"user $u: valid_to chains to next valid_from")
        case _ =>
      }
      assert(sorted.count(_._5) == 1, s"user $u: exactly one current")
      assert(sorted.last._5 && sorted.last._4.isEmpty,
        s"user $u: the last version is the open current one")
    }
    // the current SCD2 row must be p9's latest-snapshot row
    val p9 = pipeline.Medallion.p9CdcLatest(spark, sf)
      .select("user_id", "last_ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_._5).foreach { case (u, _, from, _, _) =>
      assert(p9(u) == from, s"user $u: current valid_from is p9's latest ts")
    }
  }

  test("p11: rows route to quarantine with reasons in rule order; clean rows pass through") {
    val ev = Seq(
      (1L, Option(10L), "view", 5.0, """{"k": 1}"""),
      (2L, Option.empty[Long], "view", 5.0, """{"k": 1}"""),
      (3L, Option(10L), "zap", 5.0, """{"k": 1}"""),
      (4L, Option(10L), "view", 999.0, """{"k": 1}"""),
      (5L, Option(10L), "view", -1.0, "not json"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    val r = quality.Checks.rowQuarantine(ev, Seq("view"), 400.0)
      .collect().map(x => x.getLong(0) -> x.getString(4)).toMap
    assert(!r.contains(1L), "clean rows never reach quarantine")
    assert(r(2L) == "null_user")
    assert(r(3L) == "unknown_type")
    assert(r(4L) == "value_out_of_range")
    assert(r(5L) == "bad_props,value_out_of_range",
      "multiple reasons joined in fixed rule order")
  }

  test("a16: day-0 retention is 1.0 for every cohort, cells bounded by cohort size") {
    val rows = analytics.Queries.cohortRetention(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.filter(_._2 == 0).forall(_._5 == 1.0),
      "a user is active on their own first day by definition")
    assert(rows.forall(r => r._3 <= r._4), "no cell exceeds its cohort size")
    assert(rows.forall(r => r._2 >= 0), "activity never precedes the cohort day")
  }

  test("p13: snapshot diff classifies added/removed/changed/unchanged, null-safe") {
    import spark.implicits._
    val a = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None), (4L, Some(40.0)))
      .toDF("k", "v")
    val b = Seq((1L, Some(10.0)), (2L, Some(21.0)), (3L, Some(30.0)), (5L, Some(50.0)))
      .toDF("k", "v")
    val got = pipeline.Medallion.snapshotDiff(a, b, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(got == Map(
      1L -> "unchanged",   // same value
      2L -> "changed",     // 20 -> 21
      3L -> "changed",     // NULL -> 30: 3VL must not call this unchanged
      4L -> "removed",     // old only
      5L -> "added"))      // new only
    // both sides' values survive for audit
    val r2 = pipeline.Medallion.snapshotDiff(a, b, "k", Seq("v"))
      .filter(col("k") === 2L).head()
    assert(r2.getAs[Double]("old_v") == 20.0 && r2.getAs[Double]("new_v") == 21.0)
  }

  test("p13 entry: every user classifies; changed/unchanged carry both snapshots") {
    val r = pipeline.Medallion.p13SnapshotDiff(spark, sf).collect()
    assert(r.nonEmpty)
    val byStatus = r.groupBy(_.getAs[String]("status"))
    // both-sided rows carry both audit timestamps, with old <= mid < new
    for (row <- byStatus.getOrElse("changed", Array()) ++ byStatus.getOrElse("unchanged", Array()))
      assert(!row.isNullAt(3) && !row.isNullAt(5) &&
        row.getLong(3) < row.getLong(5), "old snapshot must precede new")
    for (row <- byStatus.getOrElse("added", Array()))
      assert(row.isNullAt(2) && row.isNullAt(3), "added rows have no old side")
    for (row <- byStatus.getOrElse("removed", Array()))
      assert(row.isNullAt(4) && row.isNullAt(5), "removed rows have no new side")
  }

  test("p14 profile: nulls/distincts/min/max per column from a hand-built table") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None), (Some(3L), Some("a")), (None, Some("a")))
      .toDF("k", "s")
    val r = quality.Checks.profileColumns(df, Seq("k", "s")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        Option(x.getString(4)), Option(x.getString(5))))).toMap
    assert(r("k") == ((4L, 1L, 2L, Some("1"), Some("3"))), s"got ${r("k")}")
    assert(r("s") == ((4L, 1L, 2L, Some("a"), Some("b"))), s"got ${r("s")}")
    // entry: one row per profiled column, n_rows constant
    val full = quality.Checks.p14Profile(spark, sf).collect()
    assert(full.map(_.getString(0)).toSeq ==
      Seq("l_linestatus", "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
    assert(full.map(_.getLong(1)).toSet.size == 1)
  }

  test("p14b slice band: the two-sided gate passes a legit sequential-key corpus and stands down on an empty slice") {
    import spark.implicits._
    // sequential orderkeys 1..40: the mod-16 slice is {16, 32} → the
    // ×24 band (2 × 24 = 48 ≥ 40) must absorb legit small-corpus
    // variance — a ×16(1+ε) band would spuriously fail this corpus
    def entry(rows: Seq[Long]): Map[String, (Boolean, Boolean, Boolean)] = {
      val dir = java.nio.file.Files.createTempDirectory("p14b_band").toString
      rows.map(k => (k, 1.0, "N", java.sql.Date.valueOf("2024-01-01"), "O"))
        .toDF("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_linestatus")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      quality.Checks.p14bApproxProfile(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getBoolean(6), r.getBoolean(7),
          r.getBoolean(8)))).toMap
    }
    val seq40 = entry(1L to 40L)
    assert(seq40("l_orderkey") == ((true, true, true)),
      s"sequential keys 1..40 must clear all three gates: ${seq40("l_orderkey")}")
    // all keys ≡ 1 (mod 16): the slice is EMPTY, so the upper band
    // proves nothing and must stand down (true), and the lower cover
    // bound is vacuously satisfied — no spurious red on a corpus
    // whose keys simply miss the mod class
    val offClass = entry((0L until 30L).map(i => 16L * i + 1L))
    assert(offClass("l_orderkey") == ((true, true, true)),
      s"an empty slice must stand down, not fail: ${offClass("l_orderkey")}")
    // the band is REAL on the verified corpus: a 24x-overestimating
    // sketch of sf's l_orderkey would sit far above slice_exact * 24,
    // so assert the gate's headroom there is bounded (the sketch
    // estimate is under the band by construction, not by slack so
    // wide the gate can never fire)
    val li = Tables.lineitem(spark, sf)
    val exactSlice = li.filter(pmod(col("l_orderkey"), lit(16)) === 0)
      .agg(countDistinct(col("l_orderkey"))).head().getLong(0)
    val full = li.agg(countDistinct(col("l_orderkey"))).head().getLong(0)
    assert(full.toDouble * 2 > exactSlice * 24.0,
      "a 2x-overestimating full sketch must FAIL the band on the verified corpus " +
        s"(full=$full, slice_exact=$exactSlice)")
  }

  test("p15 drift: null-rate movement, distinct ratio, and range escape from hand-built slices") {
    import spark.implicits._
    val base = Seq((Some(1L), Some("a")), (Some(2L), Some("b")),
      (Some(3L), Some("a")), (None, Some("b")))
      .toDF("k", "s")
    val cand = Seq((Some(5L), Some("a")), (Some(5L), Some("a")))
      .toDF("k", "s")
    val r = quality.Checks.profileDrift(base, cand, Seq("k", "s")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4), x.getLong(5), x.getLong(6),
        x.getDouble(7), x.getBoolean(8)))).toMap
    // k: nulls 1/4 → 0/2, distinct 3 → 1, max 3 → 5 (range escaped)
    assert(r("k") == ((4L, 2L, 0.25, 0.0, 3L, 1L, 0.333333, true)), s"got ${r("k")}")
    // s: no nulls either side, distinct 2 → 1, min/max a..b → a..a
    assert(r("s") == ((4L, 2L, 0.0, 0.0, 2L, 1L, 0.5, true)), s"got ${r("s")}")
  }
}
