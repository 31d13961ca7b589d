package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Locks in the plan properties the 100 TB design depends on. A
  * passing result here means Catalyst is still producing the shapes
  * SURVEY §4 promises — regressions in pushdown, broadcast choice,
  * exchange reuse, or join strategy fail loudly instead of silently
  * costing a cluster.
  */
class PlanShapeSpec extends GraftSpecBase {

  /** Execute and return the final adaptive plan string. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  /** (computed, reused) exchanges whose plan line matches `key`. A
    * ReusedExchange line echoes the exchange it references, so lines
    * are counted, not occurrences.
    */
  private def exchangeCounts(plan: String, key: String): (Int, Int) = {
    val lines = plan.linesIterator.filter(key.r.findFirstIn(_).isDefined).toSeq
    (lines.count(l => l.contains("Exchange") && !l.contains("ReusedExchange")),
      lines.count(_.contains("ReusedExchange")))
  }

  private def fileScans(plan: String): Int = "FileScan parquet".r.findAllIn(plan).length

  test("a1: filter and projection reach the parquet scan") {
    val plan = finalPlan(analytics.Queries.pricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [LessThanOrEqual(l_shipdate"),
      s"filter must push to the scan:\n$plan")
    assert(!plan.contains("l_orderkey"), s"unused columns must be pruned:\n$plan")
  }

  test("a3: star join broadcasts every dimension, fact side never shuffles pre-agg") {
    val plan = finalPlan(analytics.Queries.multiJoinVolume(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts == 5, s"expected 5 broadcast joins, got $broadcasts:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"fact side must only shuffle for the final agg:\n$plan")
  }

  test("a2: BUILDING-customer join sits below the orderkey join; broadcast by size, not hint") {
    val plan = finalPlan(analytics.Queries.topkRevenue(spark, sf))
    // selective filter reaches the customer scan
    assert(plan.contains("PushedFilters: [EqualTo(c_mktsegment,BUILDING)]"),
      s"segment filter must push to the customer scan:\n$plan")
    // the planner (NOT a hard hint — none exists in the query) must
    // still choose broadcast for the dim side at this SF
    val custJoin = plan.indexOf("Join [o_custkey")
    assert(plan.substring(custJoin - 22, custJoin).contains("BroadcastHash"),
      s"customer join must be size-estimated broadcast:\n$plan")
    // join order is load-bearing: orders⋈customer BELOW (printed
    // after) the orderkey join, so the lineitem-facing exchange
    // carries only BUILDING-segment orders (~1/5)
    val okJoin = plan.indexOf("Join [o_orderkey")
    assert(okJoin >= 0 && custJoin > okJoin,
      s"orders must be filtered through customers before meeting lineitem:\n$plan")
  }

  test("a21: both fact reductions pushed/pre-joined; only fixed dims carry hints") {
    val plan = finalPlan(analytics.Queries.marketShare(spark, sf))
    // part-type and region filters reach their scans
    assert(plan.contains("PushedFilters: [EqualTo(p_type,PROMO)]"),
      s"part-type filter must push to the part scan:\n$plan")
    assert(plan.contains("PushedFilters: [EqualTo(r_name,ASIA)]"),
      s"region filter must push to the region scan:\n$plan")
    // orders must be filtered through the ASIA customer chain BELOW
    // (printed after) the orderkey join — the doubly-pre-shrunk
    // exchange is the point of the spelling
    val okJoin = plan.indexOf("Join [l_orderkey")
    val custJoin = plan.indexOf("Join [o_custkey")
    assert(okJoin >= 0 && custJoin > okJoin,
      s"orders must meet the ASIA customers before meeting lineitem:\n$plan")
  }

  test("a23: HAVING filter cuts the agg before any join; fact shuffles once") {
    val plan = finalPlan(analytics.Queries.bigOrders(spark, sf))
    // lineitem shuffles exactly once, for its own aggregation — the
    // qty side arrives at the orders join already filtered + tiny
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"only the l_orderkey agg may shuffle:\n$plan")
    // both decorating joins (filtered-qty into orders, customer) are
    // size-estimated broadcasts, no hard hint in the query
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts == 2, s"expected 2 size-estimated broadcasts, got $broadcasts:\n$plan")
  }

  test("a25: both fact filters pushed to their scans; top-k is TakeOrdered, not a global sort") {
    val plan = finalPlan(analytics.Queries.returnedRevenue(spark, sf))
    assert(plan.contains("PushedFilters: [EqualTo(l_returnflag,R)]"),
      s"return-flag filter must push to the lineitem scan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter filter must push to the orders scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not plan a global sort:\n$plan")
    assert(!"Exchange rangepartitioning".r.findFirstIn(plan).isDefined,
      s"no rangepartition for a k-row cut:\n$plan")
  }

  test("a27: the windowed revenue agg is computed once, reused by max and filter branches") {
    val plan = finalPlan(analytics.Queries.topSupplier(spark, sf))
    assert(plan.contains("ReusedExchange"),
      s"rev agg exchange must be reused across the scalar-max and filter branches:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"),
      s"ship-date window must push to the scan:\n$plan")
  }

  test("a11: fact table never shuffles for the part join (size-estimated broadcast, zero hash exchanges)") {
    val plan = finalPlan(analytics.Queries.promoRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"part must broadcast at this SF without a hard hint:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 0, s"single global agg needs no hash exchange:\n$plan")
  }

  test("d4: single shingle pass — the posting frame is persisted, join sides add no exchange") {
    // r9 collapse-first contract, without a persist: both self-join
    // sides read the df-capped rep-posting frame, whose df window
    // plans ONE hashpartitioning(s) exchange — computed once, the other
    // side a ReusedExchange — so the shingle + window pass runs once.
    // That partitioning satisfies the self-join's distribution on both
    // sides, so the join plans no s-keyed exchange of its own.
    val plan = finalPlan(
      dedup.Dedup.exactJaccardPairs(Tables.documents(spark, sf), threshold = 0.6))
    val (computed, reused) = exchangeCounts(plan, "hashpartitioning\\(s#")
    assert(computed == 1, s"the posting exchange must be computed once, got $computed:\n$plan")
    assert(reused >= 1, s"the other join side must reuse the posting exchange:\n$plan")
    assert(fileScans(plan) == 1, s"the corpus must be scanned once:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay an equi-join:\n$plan")
  }

  test("st3: range join plans as equi-join, not a cross product") {
    val plan = finalPlan(operators.RangeJoin.st3(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi-join:\n$plan")
  }

  test("st4: interval overlap join plans as equi-join, not a cross product") {
    val plan = finalPlan(operators.IntervalJoin.st4(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay an equi-join:\n$plan")
  }

  test("d5: blocked all-pairs join is an equi-join — no BNLJ/cartesian, bounded build side") {
    val plan = finalPlan(dedup.Dedup.d5(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"exact near-dup entry must never plan an unbounded nested loop:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"grid cells must join as a shuffled equi-join:\n$plan")
  }

  test("d2: the candidate dedup exchange is scored and narrow (no pair+signature rows)") {
    // r10 (found by a wide-exchange plan audit, commit 42e79c5):
    // bucketPairs used to ship
    // BOTH full 128-long signatures through its dropDuplicates
    // exchange (~2 KB/candidate vs the 24 B scored row, ×k for a
    // pair colliding in k bands). est/hamming are pure functions of
    // the signature pair, so they are scored AT EMISSION — pin that
    // no exchange carries (a_id, b_id) together with any array.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    val df = dedup.Dedup.minhashLshPairs(Tables.documents(spark, sf))
    df.collect()
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def walk(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(walk)) ++ (p match {
        case q: QueryStageExec => walk(q.plan)
        case _ => Nil
      })
    // the member fan-out's ids arrays are output-bound currency (the
    // d5 pin's same sanction); any OTHER array beside a pair is the
    // signature-shipping pattern coming back
    val sanctioned = Set("ids", "ids_a", "ids_b")
    val offenders = walk(exec).collect {
      case s: ShuffleExchangeLike
        if s.output.exists(_.name == "a_id") && s.output.exists(_.name == "b_id") &&
          s.output.exists(a => a.dataType.isInstanceOf[ArrayType] &&
            !sanctioned.contains(a.name)) =>
        s.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")
    }
    assert(offenders.isEmpty,
      s"candidate pair exchanges must be scored + signature-free: $offenders")
  }

  test("d5 LSH: no candidate-side exchange carries an array column (score-before-dedup)") {
    // r10 narrow-shuffle pin (VERDICT r9 lead): the previous spelling
    // shipped BOTH 64-float embeddings through the candidate
    // dropDuplicates exchange — ~64× the scored row, compounding
    // B²/2 on duplicated corpora. Cosine is now computed inside the
    // join stage, so the ONLY exchanges allowed to carry an array are
    // the sanctioned ones: the identity-collapse agg (each DISTINCT
    // vector once, column `embedding`) and the member fan-out joins
    // (`ids*`, output-bound). Any other array-carrying shuffle is the
    // wide-exchange pattern coming back.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    val df = dedup.Dedup.embeddingNearDupsLsh(Tables.embeddings(spark, sf))
    df.collect()
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def walk(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(walk)) ++ (p match {
        case q: QueryStageExec => walk(q.plan)
        case _ => Nil
      })
    val sanctioned = Set("embedding", "ids", "ids_a", "ids_b")
    val offenders = walk(exec).collect {
      case s: ShuffleExchangeLike if s.output.exists(a =>
        a.dataType.isInstanceOf[ArrayType] && !sanctioned.contains(a.name)) =>
        s.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")
    }
    assert(offenders.isEmpty,
      s"candidate-side exchanges must be scored + narrow, found arrays in: $offenders")
    // and the narrow candidate dedup exchange actually exists: some
    // shuffle carries (a_id, b_id) with zero array columns
    val narrowDedup = walk(exec).exists {
      case s: ShuffleExchangeLike =>
        s.output.exists(_.name == "a_id") && s.output.exists(_.name == "b_id") &&
          !s.output.exists(_.dataType.isInstanceOf[ArrayType])
      case _ => false
    }
    assert(narrowDedup, "expected the scored (a_id, b_id, cos) dedup exchange")
  }

  test("s3: no quantizer training in the query plan — assignment is a narrow literal-centroid map") {
    val plan = finalPlan(similarity.Similarity.s3(spark, sf))
    assert(!plan.contains("posexplode"),
      s"centroid training must never posexplode the corpus inside the query:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"query side must broadcast into the cell join:\n$plan")
  }

  test("p8: one-day lake read prunes the other 29 date partitions") {
    val (path, day) = sources.Lake.eventsLake(spark, sf)
    // runtime truth: the files the executed scan actually opened
    val files = spark.read.parquet(path).filter(col("p_date") === day)
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains(s"p_date=$day")),
      s"scan must touch only the $day partition: ${files.take(3).mkString(",")}")
    val plan = finalPlan(sources.Lake.p8LakeDay(spark, sf))
    assert(plan.contains("PartitionFilters: [isnotnull(p_date") ||
      plan.contains("PartitionFilters: [(p_date"),
      s"day predicate must be a partition filter, not a data filter:\n$plan")
  }

  test("lake fact join a filtered date dim fires dynamic partition pruning") {
    import spark.implicits._
    val (path, day) = sources.Lake.eventsLake(spark, sf)
    // dim must be a real (file-backed) relation — a local Seq collapses
    // its filter via ConvertToLocalRelation before the DPP rule looks
    // for a selective build-side predicate — and the predicate must
    // stay `attr = literal` (a bare boolean attr fails isLikelySelective)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dim").toString
    Seq((java.sql.Date.valueOf(day), "pick"), (java.sql.Date.valueOf("2030-12-31"), "skip"))
      .toDF("d_date", "tag").write.mode("overwrite").parquet(dimPath)
    val joined = spark.read.parquet(path)
      .join(spark.read.parquet(dimPath).filter(col("tag") === "pick"),
        col("p_date") === col("d_date"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val plan = finalPlan(joined)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a DynamicPruningExpression partition filter:\n$plan")
  }

  test("a12: bucketed fact-fact join and per-key agg run with ZERO hash exchanges") {
    val plan = finalPlan(analytics.Queries.bucketJoinRevenue(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"merge hint must pin SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket layout must satisfy both the join and the agg distribution:\n$plan")
    assert(plan.toLowerCase.contains("bucket"),
      s"scan must report bucketed read:\n$plan")
  }

  test("st2: AS-OF via union+window costs exactly one hash shuffle") {
    // the union of both sides flows into ONE window exchange on the
    // join key — a regression to a range join or a per-side shuffle
    // would double the exchange count
    val plan = finalPlan(operators.AsOfJoin.st2(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 hash exchange, got $shuffles:\n$plan")
  }

  test("x2: per-source cap costs exactly one hash shuffle (the window)") {
    val plan = finalPlan(text.Curation.x2SourceCap(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 hash exchange, got $shuffles:\n$plan")
  }

  test("s5: documents stream through a broadcast join — search results never shuffle the corpus") {
    val plan = finalPlan(similarity.Similarity.s5(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny top-k side must broadcast into the metadata join:\n$plan")
    // the documents scan must not be exchanged for the metadata join:
    // no hashpartitioning on doc_id anywhere
    assert(!"Exchange hashpartitioning\\(n_id".r.findFirstIn(plan).isDefined &&
      !"Exchange hashpartitioning\\(doc_id".r.findFirstIn(plan).isDefined,
      s"documents must never shuffle to decorate results:\n$plan")
  }

  test("EVERY entry plans without a CartesianProduct; BNLJ only on broadcast-bounded baselines") {
    // standing invariant over the whole driver contract at sf0.001 —
    // a future entry that accidentally plans an unbounded cross
    // product fails here, not on the cluster. Allowed BNLJs are all
    // broadcast-BOUNDED by construction: s1/s4 (and s5, which wraps
    // s4) broadcast an explicit query subset (brute-force correctness
    // baselines), t7 cross-joins a single-row global total, s6 (and
    // s7, which wraps s6+s4) cross-joins the single-row BM25 corpus
    // stats, s9 (and s11, which wraps s9's candidate scan) broadcasts
    // the bounded query-LUT side into the non-equi (q_id <> n_id)
    // ADC scan, t11 cross-joins its single-row corpus token total,
    // p13 its single-row time-range midpoint, s12 broadcasts the
    // bounded query set into the non-equi exact radius scan (same
    // shape as s1).
    val bnljAllowed = Set("s1_knn_bruteforce", "s4_sq_knn", "s5_semantic_search",
      "t7_lm_surprisal", "s6_bm25", "s7_rrf_fusion", "s9_pq_knn", "s11_pq_rerank",
      "t11_source_kl", "p13_snapshot_diff", "s12_range_search",
      "x14_corpus_mix", "x15_interleave", "s13_cluster_cohesion",
      "a20_item_cooccurrence",
      // a22 cross-joins the single-row decorrelated scalar AVG
      "a22_dormant_customers",
      // x16 cross-joins its single-row corpus total (x14's pattern)
      "x16_mix_rebalance",
      // s17 wraps s1's brute-force exact side (broadcast query subset
      // into the non-equi scan — the same bounded BNLJ as s1/s5);
      // s20 likewise, and s20/s22 add a single-row query-count
      // cross join each
      "s17_ivf_recall", "s20_nprobe_curve", "s22_scan_cost",
      // x18 cross-joins its single-row corpus total (x16's pattern)
      "x18_epoch_plan",
      // a35 cross-joins the single-row corpus-max order date (a22's
      // scalar decorrelation) into the customer-cardinality agg;
      // a36 likewise its single-row grand-total spend
      "a35_rfm_segments", "a36_abc_classes",
      // t16 cross-joins the single-row LM normalizer (T, V) into the
      // scoring pass (t7/t11's corpus-stat pattern); t19 wraps t16
      // and adds its own single-row tercile-threshold cross join
      "t16_bigram_ppl", "t19_ppl_partition",
      // d19/d20/d21/a40 cross-join single-row corpus totals for shares
      "d19_threshold_sweep", "d20_boilerplate_shingles", "d21_dedup_savings",
      "a40_basket_lift",
      // a39 cross-joins the single-row midpoint date (a22's pattern)
      "a39_decile_migration",
      // p19 cross-joins the single-row corpus-max day onto the TINY
      // day-grain frame (st11's pattern)
      "p19_retention_plan",
      // p32 cross-joins its two single-row summaries (day total +
      // median) onto the same tiny day-grain frame (p19's pattern)
      "p32_partition_skew",
      // p22 cross-joins three single-row stage counts
      "p22_stage_reconcile",
      // p26 cross-joins the single-row probe window (corpus-min
      // derived __lo/__hi) onto the |days|-row manifest rollup
      "p26_scan_prune_manifest",
      // p15b cross-joins its two single-row aggregate passes (full
      // conditional profile × slice multi-distinct) before the
      // per-column stack — 1 row × 1 row by construction
      "p15b_approx_drift",
      // t14 cross-joins its single-row sorted-ladder fold onto the
      // single-row vocab totals (the r13 TakeOrdered rewrite) —
      // 1 row × 1 row by construction
      "t14_vocab_coverage",
      // a44 cross-joins two single-row scalars (a22's decorrelation:
      // the positive-balance average and the recency cutoff)
      "a44_sales_opportunity",
      // s23 broadcasts the explicit query subset into the non-equi
      // exact scan — s1's bounded brute-force baseline contract
      "s23_mrl_recall",
      // s25 cross-joins the single-row total-variance/centroid-norm
      // summary onto the |dims|-row cached frame (p19's pattern)
      "s25_anisotropy",
      // t22 cross-joins the single-row corpus doc count (t7's pattern)
      "t22_keywords")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      if (!bnljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join:\n$plan")
    }
  }

  test("s6: corpus rows never hash-shuffle — stats ride a 1-row broadcast, top-k is TakeOrdered") {
    val plan = finalPlan(text.Retrieval.bm25TopK(
      Tables.documents(spark, sf), terms = Seq("spark", "data"), k = 7))
    // the only permitted exchanges: the SinglePartition reduce of the
    // 1-row-per-partition stats partials, and its broadcast back —
    // never a hashpartitioning of corpus rows
    assert(!plan.contains("Exchange hashpartitioning"),
      s"BM25 must not shuffle the corpus:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"corpus stats must broadcast back onto the scoring pass:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered, not a global sort:\n$plan")
  }

  test("x8: hash split is a pure narrow map — zero exchanges over the corpus") {
    // drop the entry's presentational orderBy: the operator itself
    // must add no exchange of any kind
    val plan = finalPlan(text.Curation.hashSplit(
      Tables.documents(spark, sf).select("doc_id"), "doc_id"))
    assert(!plan.contains("Exchange"), s"hash split must stay narrow:\n$plan")
  }

  test("x9: token-budget mix costs exactly one hash shuffle (the per-source window)") {
    val plan = finalPlan(text.Curation.x9TokenBudgetMix(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected the window's single source shuffle:\n$plan")
  }

  test("x10: distributed rank never global-sorts the corpus — one constant-size single-partition step") {
    val plan = finalPlan(text.Curation.shufflePositions(
      Tables.documents(spark, sf).select("doc_id"), "doc_id"))
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global sort exchange over corpus rows:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 1, s"only the ≤256-row offsets branch may single-partition:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bucket offsets must broadcast back:\n$plan")
  }

  test("a28/a35/a36: quantile cuts ride banded windows — every global window sees only the band table (r13)") {
    // The deferred swap-in the a28/a35/a36 docstrings promised: the
    // corpus-scale (customer-cardinality) aggregate must never funnel
    // through a single-partition WindowExec. Walked structurally, not
    // textually: any WindowExec with an EMPTY partition spec must
    // consume the bounded __band offsets frame (its child carries the
    // __band column); the corpus windows carry __band in their
    // partition spec instead.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(walk)) ++ (p match {
        case q: QueryStageExec => walk(q.plan)
        case _ => Nil
      })
    val orders = Tables.orders(spark, sf)
    Seq("a28" -> analytics.Queries.spendDeciles(spark, sf, bandedMinBytes = 0),
        "a35" -> analytics.Queries.rfmSegments(orders, bandedMinBytes = 0),
        "a36" -> analytics.Queries.abcClasses(orders, bandedMinBytes = 0))
      .foreach { case (name, df) =>
      df.collect()
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val globals = walk(root).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      globals.foreach { w =>
        // r14: the offsets prefix sum is itself two-level, so the
        // only empty-partition window left rides the SUPER-band
        // frame (occupied bands ÷ 2²⁰ — bounded even under a
        // pathological value distribution, VERDICT r13 item 5)
        assert(w.child.output.exists(a => a.name == "__sband" || a.name == "__band"),
          s"$name: global window over a non-band (corpus-scale) frame:\n$w")
        assert(w.child.output.exists(_.name == "__sband"),
          s"$name: offsets prefix sum must be two-level — global window may only see the __sband frame:\n$w")
      }
      val banded = walk(root).collect {
        case w: WindowExec if w.partitionSpec.nonEmpty => w
      }
      assert(banded.nonEmpty,
        s"$name: expected the corpus window to be band-partitioned")
    }
    // Cutover identity at the entry level: below the size cutover the
    // entries keep the plain window (the cheap dimension-cardinality
    // plan); forcing the banded spelling must not move a single row.
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(sorted(analytics.Queries.spendDeciles(spark, sf, bandedMinBytes = 0)) ==
      sorted(analytics.Queries.spendDeciles(spark, sf)),
      "a28: banded and window spellings must be row-identical")
    assert(sorted(analytics.Queries.rfmSegments(orders, bandedMinBytes = 0)) ==
      sorted(analytics.Queries.rfmSegments(orders)),
      "a35: banded and window spellings must be row-identical")
    assert(sorted(analytics.Queries.abcClasses(orders, bandedMinBytes = 0)) ==
      sorted(analytics.Queries.abcClasses(orders)),
      "a36: banded and window spellings must be row-identical")
  }

  test("banded a28/a35: ntile's n comes off the per-band counts — the per-customer aggregate runs once") {
    // A separate count(lit(1)) over the per-customer frame prunes that
    // aggregate to its key, so it no longer matches the ranked chain's
    // exchange and aggregates orders once more; summing the offsets
    // branch's per-band counts reads the exchange already computed.
    val orders = Tables.orders(spark, sf)
    for ((name, df, scans) <- Seq(
        ("a28", analytics.Queries.spendDeciles(spark, sf, bandedMinBytes = 0), 1),
        // a35 also scans orders for its 1-row max-date scalar
        ("a35", analytics.Queries.rfmSegments(orders, bandedMinBytes = 0), 2))) {
      val plan = finalPlan(df)
      val (computed, _) = exchangeCounts(plan, "Exchange hashpartitioning\\(o_custkey")
      assert(computed == 1, s"$name: the per-customer aggregate must be computed once:\n$plan")
      assert(fileScans(plan) == scans, s"$name: expected $scans orders scans:\n$plan")
    }
  }

  test("x15: interleave never rangepartitions the corpus — banded prefix-sum like x10") {
    val plan = finalPlan(text.Curation.interleaveBySource(
      Tables.documents(spark, sf).select("doc_id", "source")))
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no per-source global sort over corpus rows:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"band offsets / source index must broadcast back:\n$plan")
  }

  test("x17: length curriculum never rangepartitions the corpus — composite-banded prefix-sum") {
    val plan = finalPlan(text.Curation.lengthCurriculum(
      Tables.documents(spark, sf).select("doc_id", "text")))
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global sort exchange over corpus rows:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 1, s"only the bounded offsets branch may single-partition:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"band offsets must broadcast back:\n$plan")
  }

  test("s15: kNN graph — cell equi-join, no in-query training, no pairwise corpus product") {
    val plan = finalPlan(similarity.Similarity.knnGraph(Tables.embeddings(spark, sf)))
    assert(!plan.contains("posexplode"),
      s"centroid training must never run inside the query:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairs must come from the cell equi-join:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"rank is a per-vector window, never a global sort:\n$plan")
  }

  test("d16: degree decoration — corpus streams through a broadcast left join, never shuffles") {
    val plan = finalPlan(dedup.Dedup.dupDegreeHistogram(
      dedup.Dedup.exactJaccardPairs(Tables.documents(spark, sf), threshold = 0.55),
      Tables.documents(spark, sf)))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"degree frame must broadcast into an outer join the corpus streams through:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the degree decoration:\n$plan")
  }

  test("d17: survivorship pays the cluster shuffle once — size, argmax and verdict share it") {
    val plan = finalPlan(dedup.Clusters.bestRepDedup(
      Tables.documents(spark, sf),
      dedup.Dedup.exactJaccardPairs(Tables.documents(spark, sf), threshold = 0.58)))
    val clusterEx = "hashpartitioning\\(cluster_id".r.findAllIn(plan).length
    assert(clusterEx == 1,
      s"both windows + the size filter must ride ONE cluster_id exchange, got $clusterEx:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global sort inside the library operator:\n$plan")
  }

  test("s13: cluster report — corpus never in a pairwise product, centroids broadcast back") {
    val emb = Tables.embeddings(spark, sf)
    val plan = finalPlan(similarity.Similarity.clusterCohesion(emb))
    // the only BNLJ is the L×L centroid self-join (tiny); the corpus
    // reaches cosine scoring via BroadcastHashJoin on label
    assert(plan.contains("BroadcastHashJoin"),
      s"member scoring must ride a broadcast-centroid hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing here is big enough to SMJ — the corpus must stream:\n$plan")
  }

  test("a20: the capped item set shuffles on user_id; marginals ride broadcasts") {
    val plan = finalPlan(analytics.Queries.itemCooccurrence(Tables.events(spark, sf)))
    assert(!plan.contains("SortMergeJoin"),
      s"pair join must stay a hash join on user_id:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"item marginals must broadcast onto the pair frame:\n$plan")
  }

  test("d14: source decoration streams the corpus — pair side broadcasts, no corpus shuffle for the joins") {
    val pairs = dedup.Dedup.exactJaccardPairs(Tables.documents(spark, sf))
      .select("a_id", "b_id").localCheckpoint()
    val plan = finalPlan(dedup.Dedup.crossSourceDupes(
      pairs, Tables.documents(spark, sf)))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj == 2, s"both decorations must be broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must never SMJ:\n$plan")
  }

  test("runtime bloom filter prunes the big side of a selective fact-fact join") {
    // the third runtime-pruning lever next to DPP and AQE: a selective
    // filter on one join side injects a bloom filter into the other
    // side's scan. Production thresholds (creation side small enough
    // to build, application side big enough to bother) can't both
    // hold at sf0.001, so they widen in a cloned per-query conf scope
    // — the shared session is untouched. (creationSideThreshold is an
    // UPPER bound: zero would disable the rule, not force it.)
    val lineitem = Tables.lineitem(spark, sf)
    val orders = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
    val joined = lineitem.join(orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val scoped = org.apache.spark.sql.GraftBridge.withConfScope(joined,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val plan = finalPlan(scoped)
    assert(plan.contains("might_contain"),
      s"application side must carry a runtime bloom filter:\n$plan")
  }

  test("a14: cube expands grouping sets map-side — one hash shuffle, no extra scan") {
    val plan = finalPlan(analytics.Queries.cubeStats(spark, sf))
    assert(plan.contains("Expand"), s"cube must plan as Expand + single agg:\n$plan")
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"one lineitem scan for all grouping sets:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"one shuffle on the expanded key:\n$plan")
  }

  test("a15/p10: windowed running aggregates share the key shuffle and sort") {
    for (df <- Seq(analytics.Queries.runningTotals(spark, sf),
                   pipeline.Medallion.p10Scd2(spark, sf))) {
      val plan = finalPlan(df.limit(1_000_000))
      val shuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
      assert(shuffles == 1, s"both window functions must ride ONE user shuffle:\n$plan")
      val sorts = "Sort \\[user_id".r.findAllIn(plan).length
      assert(sorts <= 1, s"both window functions must share one sort:\n$plan")
    }
  }

  test("st5: fold-based funnel costs exactly one hash shuffle (the per-user agg)") {
    val plan = finalPlan(operators.Funnel.funnel3(
      Tables.events(spark, sf).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type")),
      "user_id", "ts_us", "event_id", "event_type", ("view", "click", "purchase")))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"the k-join spelling costs k shuffles; the fold must cost 1:\n$plan")
    assert(!plan.contains("Join"), s"no join stages in the fold plan:\n$plan")
  }

  test("x11: weighted sampling is a pure narrow map — zero exchanges") {
    val scored = text.TextAnalysis.qualityScore(Tables.documents(spark, sf))
      .filter(col("quality_score").isNotNull)
    val plan = finalPlan(text.Curation.qualityWeightedSample(scored, "doc_id",
      col("quality_score")))
    assert(!plan.contains("Exchange"), s"the draw must stay inside the scan stage:\n$plan")
  }

  test("s9: PQ encoding is a narrow literal-codebook map; corpus reaches the join un-shuffled") {
    val plan = finalPlan(similarity.Similarity.s9(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      s"query LUTs must broadcast into the scoring join:\n$plan")
    assert(!plan.contains("posexplode"),
      s"codebook training must never appear in the query plan:\n$plan")
    // the only hash exchange allowed is the top-k window's q_id
    // shuffle, whose input WindowGroupLimit bounds to ≤k rows per
    // query per partition — never a corpus-keyed exchange
    val shuffles = "Exchange hashpartitioning\\(q_id".r.findAllIn(plan).length
    val all = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(all == shuffles && all <= 1,
      s"only the bounded top-k window may shuffle:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must push a group limit below the window shuffle:\n$plan")
  }

  test("t8: type-token fold is a zero-shuffle narrow pass") {
    val plan = finalPlan(text.TextAnalysis.typeTokenStats(
      Tables.documents(spark, sf)).drop("text"))
    assert(!plan.contains("Exchange"),
      s"the sorted-run fold must not explode/shuffle tokens:\n$plan")
  }

  test("d8: window dedup never materializes pairs — two keyed shuffles, semi-join back") {
    val plan = finalPlan(dedup.Substring.d8(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no pair blowup:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"duplicated windows must come back via a semi-join:\n$plan")
  }

  test("d12: span stripper shuffles only window and doc keys — no pairs, no sort") {
    val plan = finalPlan(dedup.Substring.stripDupSpans(
      Tables.documents(spark, sf)))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no pair blowup:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"hot windows must come back via a semi-join:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"the library operator must not globally sort its output:\n$plan")
    // hash exchanges only on the window string (hot count) and
    // doc_id (start collection) — position fan-out stays inside the
    // reduce-side HOF, never on the wire
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx <= 4, s"window-key + doc-key shuffles only:\n$plan")
  }

  test("a16: cohort triangle reads the fact table ONCE — window cohorting, no self-join") {
    val plan = finalPlan(analytics.Queries.cohortRetention(spark, sf))
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"min-day must come from a window, not a join back:\n$plan")
    assert(!plan.contains("Join"), s"no self-join in the cohort plan:\n$plan")
  }

  test("st6: transition lead rides ONE user shuffle; matrix work is on type-pair keys") {
    val plan = finalPlan(operators.Transitions.st6(spark, sf))
    val userShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userShuffles == 1, s"lead window must cost one user_id shuffle:\n$plan")
    assert(!plan.contains("Join"), s"no joins in the transition plan:\n$plan")
  }

  test("p11: quarantine routing is a pure narrow filter — zero exchanges") {
    val plan = finalPlan(quality.Checks.rowQuarantine(Tables.events(spark, sf),
      Seq("click", "error", "purchase", "signup", "view"), 400.0))
    assert(!plan.contains("Exchange"),
      s"row routing must ride the ingest scan:\n$plan")
  }

  test("d9: semantic dedup — no in-query training, within-cell equi-join, no pair blowup") {
    val plan = finalPlan(dedup.SemDedup.d9(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cell-blocked join must never plan an unbounded nested loop:\n$plan")
    assert(!plan.contains("posexplode"),
      s"quantizer training must never appear in the query plan:\n$plan")
  }

  test("dedup library functions plan no rangepartitioning (sorts are entry-only)") {
    // The production chain (x4b, clustering, quarantine) consumes
    // these results unordered; a global sort of a corpus-sized pair
    // set is a rangepartition + full-output shuffle no library caller
    // should pay. The DuckDB-determinism orderBy lives ONLY in the
    // SparkEntry lambdas (x10's rule, applied to the dedup family).
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val libraryResults = Seq(
      "minhashLshPairs" -> dedup.Dedup.minhashLshPairs(docs),
      "simhashPairs" -> dedup.Dedup.simhashPairs(docs),
      "exactJaccardPairs" -> dedup.Dedup.exactJaccardPairs(docs, threshold = 0.65),
      "containmentPairs" -> dedup.Dedup.containmentPairs(docs, threshold = 0.85),
      "embeddingNearDupsBlocked" -> dedup.Dedup.embeddingNearDupsBlocked(emb, threshold = 0.45),
      "semanticDedup" -> dedup.SemDedup.semanticDedup(emb, numCells = 16),
      "contaminated" -> dedup.Contamination.contaminated(
        docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0")))
    for ((name, df) <- libraryResults) {
      val plan = finalPlan(df)
      assert(!plan.contains("Exchange rangepartitioning"),
        s"$name must not global-sort its result:\n$plan")
    }
  }

  test("SeriesGuard rides the fold's own exchange: guarded EWMA plans ONE keyed shuffle") {
    // The valve's scaladoc claims zero extra scans and zero extra
    // shuffles (the count window and the fold's groupBy share one
    // hashpartitioning on the key). Pin it: a guard spelled as a
    // pre-count aggregate + join back (the first shipping version)
    // planned a second scan + extra exchanges and doubled st16's
    // sessionization work.
    import spark.implicits._
    val df = (1 to 100).map(i => (s"u${i % 5}", i.toLong, i.toLong, i.toLong))
      .toDF("user_id", "ts_us", "event_id", "v")
    val plan = finalPlan(operators.Activity.ewmaState(
      df, "user_id", "ts_us", "event_id", col("v")))
    val hashes = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashes == 1, s"guard must reuse the fold's exchange, got $hashes:\n$plan")
    assert(plan.contains("Window"), s"the guard's count window must be present:\n$plan")
  }

  test("joinback LSH: one sig-keyed collapse exchange, all other shuffles narrow") {
    // r9 identity-collapse contract: the ONLY exchange allowed to carry
    // signatures is sigFamilies' groupBy(sig) — each signature crosses
    // the wire ONCE (vs `bands`× in a signature-carrying band shuffle,
    // and vs B²·bands× on a duplicated corpus, the d23-at-50×
    // detonation). Everything downstream — banding, bucket pairing,
    // pair dedup, member fan-out — must key on narrow longs; the pin
    // whitelists exchange KEYS.
    val plan = finalPlan(dedup.Dedup.minhashLshPairsJoinback(Tables.documents(spark, sf)))
    // the family frame is not persisted: its four consumers
    // (identical-sig pairs, banding, both signature joins) share ONE
    // computed sig exchange, every other use a ReusedExchange (whose
    // plan line echoes the referenced exchange — count lines).
    // Without the reuse the signature pass would run once per consumer.
    val (sigComputed, sigReused) = exchangeCounts(plan, "hashpartitioning\\(sig")
    assert(sigComputed == 1, s"the sig exchange must be computed once, got $sigComputed:\n$plan")
    assert(sigReused >= 1, s"the other family consumers must reuse the sig exchange:\n$plan")
    val sigPasses = plan.linesIterator.count(_.contains("minhash_signature("))
    assert(sigPasses == 1, s"the signature pass must run once, got $sigPasses:\n$plan")
    assert(!plan.contains("hashpartitioning(band_sig"),
      s"band shuffle must be signature-free:\n$plan")
    assert(!plan.contains("hashpartitioning(sa") &&
      !plan.contains("hashpartitioning(sb"),
      s"scored signatures must never shuffle:\n$plan")
    val KeyOf = "hashpartitioning\\((\\w+)".r
    val keys = KeyOf.findAllMatchIn(plan).map(_.group(1)).toSet
    val allowed = Set("sig", "band", "bucket", "a_id", "b_id", "ia", "ib", "doc_id")
    assert((keys -- allowed).isEmpty,
      s"unexpected exchange keys ${(keys -- allowed).mkString(", ")}:\n$plan")
    // no hard hint in the query — the planner must still CHOOSE
    // broadcast for the pair side at test SF on size alone (AQE
    // degrades to a shuffle join when the pair set outgrows it)
    val bcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bcasts >= 2,
      s"both signature joins must broadcast the candidate side, got $bcasts:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library fn must not sort its result:\n$plan")
  }

  test("s10: metadata gate pushes to the embeddings scan; plan otherwise s3-shaped") {
    val plan = finalPlan(similarity.Similarity.s10(spark, sf))
    assert(!plan.contains("posexplode"),
      s"no in-query quantizer training:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"query side must broadcast into the cell join:\n$plan")
    // the label predicate must reach the parquet scan, not evaluate
    // post-assignment (the whole point of filtered search at 100 TB:
    // gated-out vectors never even score against the centroids)
    assert(plan.contains("PushedFilters: [IsNotNull(label)]") || plan.contains("(label"),
      s"label gate must appear in the scan's data filters:\n$plan")
  }

  test("d10: batch side broadcasts everywhere — corpus joins are never shuffled") {
    val docs = Tables.documents(spark, sf)
    val plan = finalPlan(dedup.Incremental.incrementalDedup(
      batch = docs.filter(col("doc_id") % 10 === 0),
      corpus = docs.filter(col("doc_id") % 10 =!= 0)))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("CartesianProduct"),
      s"every join must build on a broadcast batch/hot-set side:\n$plan")
    // the only hash exchanges are aggregations (df count, pair agg,
    // verdict aggs) — never a corpus-posting join shuffle
    assert(plan.contains("BroadcastHashJoin"), s"batch probes must broadcast:\n$plan")
  }

  test("a17: decorrelated subquery — one fact scan, window rides the single partkey shuffle") {
    val plan = finalPlan(analytics.Queries.smallQtyRevenue(spark, sf))
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 2, s"one lineitem scan + one part scan — never a join-back rescan:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"the window's partkey exchange is the only hash shuffle:\n$plan")
    assert(plan.contains("LeftSemi"), s"brand filter must semi-join, not inner-join+dedup:\n$plan")
  }

  test("x12: dup-weighted draw costs exactly one hash shuffle (the copy-count window)") {
    val plan = finalPlan(text.Curation.dupWeightedSample(
      Tables.documents(spark, sf), "doc_id").drop("text"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"only the md5 window may shuffle; the draw is narrow:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no sort in the library function:\n$plan")
  }

  test("d11: containment join is cache-fed like d4 (single shingle pass, no live recompute)") {
    // same posting frame as d4: one computed hashpartitioning(s)
    // exchange, the other join side a ReusedExchange, one corpus scan
    val plan = finalPlan(
      dedup.Dedup.containmentPairs(Tables.documents(spark, sf), threshold = 0.9))
    val (computed, reused) = exchangeCounts(plan, "hashpartitioning\\(s#")
    assert(computed == 1 && reused >= 1,
      s"the posting exchange must be computed once and reused, got $computed computed, $reused reused:\n$plan")
    assert(fileScans(plan) == 1, s"the corpus must be scanned once:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"containment must stay an equi-join:\n$plan")
  }

  test("st7: LOCF resample shuffles only on key columns — no range partition, no joins beyond the grid fill") {
    val plan = finalPlan(operators.Resample.locfResample(
      Tables.events(spark, sf).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", col("value"), gridUs = 86400L * 1000000L))
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library resample must not global-sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"grid fill must stay a keyed equi-join:\n$plan")
    val nonKey = "Exchange hashpartitioning\\((?!user_id)".r.findAllIn(plan).length
    assert(nonKey == 0, s"every exchange must be keyed on user_id:\n$plan")
  }

  test("t10: entropy fold is a zero-shuffle narrow pass") {
    val plan = finalPlan(text.TextAnalysis.tokenEntropy(
      Tables.documents(spark, sf)).drop("text"))
    assert(!plan.contains("Exchange"),
      s"the sorted-run fold must not explode/shuffle tokens:\n$plan")
  }

  test("s11: rerank rides broadcast joins — only bounded q_id window shuffles in the plan") {
    val plan = finalPlan(similarity.Similarity.s11(spark, sf))
    val all = "Exchange hashpartitioning".r.findAllIn(plan).length
    val qid = "Exchange hashpartitioning\\(q_id".r.findAllIn(plan).length
    assert(all == qid && all <= 2,
      s"corpus must never hash-shuffle — only the two bounded top-k windows:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate list and query vectors must broadcast into the decorate joins:\n$plan")
  }

  test("d7: corpus side of contamination never shuffles") {
    val plan = finalPlan(dedup.Contamination.d7(spark, sf))
    assert(plan.contains("BroadcastExchange"), s"benchmark set must broadcast:\n$plan")
    assert(plan.contains("LeftSemi, BuildRight"),
      s"corpus side must stream through a broadcast semi-join:\n$plan")
    // allowed hash exchanges: the tiny benchmark-side distinct (pre-
    // broadcast) and the final per-doc agg — never one keyed on the
    // corpus join key s for the semi-join itself
    val corpusShuffles = "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length
    assert(corpusShuffles <= 1, s"corpus must only shuffle for the per-doc agg:\n$plan")
  }

  test("st8: rolling actives — one fact scan, no joins, no range partition") {
    val plan = finalPlan(operators.Activity.rollingActiveUsers(
      Tables.events(spark, sf), "user_id", "ts"))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"the fact table must be scanned exactly once:\n$plan")
    assert(!plan.contains("Join"), s"the explode+filter spelling needs no join at all:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global sort in the library operator:\n$plan")
  }

  test("st9: anomaly scoring — map-side day-grain reduction, key-partitioned series window") {
    val plan = finalPlan(operators.Activity.zscoreAnomalies(
      Tables.events(spark, sf), "event_type", "ts", "value"))
    assert(plan.contains("partial_"),
      s"day-grain reduction must start map-side:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, s"agg-to-grain + series window only, got $shuffles:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"series window partitions by key, never range:\n$plan")
  }

  test("a19: Q21-shape decorrelation — fact shuffles ONCE, no self-join, orders filter pushed") {
    val plan = finalPlan(analytics.Queries.waitingSupplier(spark, sf))
    val liScans = "lineitem".r.findAllIn(plan).length
    assert(liScans == 1, s"one lineitem scan — the EXISTS pair must not self-join:\n$plan")
    val okShuffles = "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(plan).length
    assert(okShuffles == 1,
      s"agg, orders join and both windows must reuse ONE orderkey exchange:\n$plan")
    assert(plan.contains("PushedFilters: [EqualTo(o_orderstatus,F)]"),
      s"status filter must reach the orders scan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"top-k must plan as TakeOrdered, not a global sort:\n$plan")
  }

  test("a18: grouping sets expand map-side — one scan, one shuffle, no union of scans") {
    val plan = finalPlan(analytics.Queries.groupingSetsStats(spark, sf))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"grouping sets must not re-scan per set:\n$plan")
    assert(plan.contains("Expand"), s"Catalyst must expand the sets:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"one shuffle on the expanded keys, got $shuffles:\n$plan")
  }

  test("a31: Q3 shape — top-k is a TakeOrdered, both date filters pushed, segment pre-shrinks orders") {
    val plan = finalPlan(analytics.Queries.a31(spark, sf))
    // top-k must be the per-partition-heap operator, never a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global sort for a k-row cut:\n$plan")
    // all three selective predicates reach their scans
    assert(plan.contains("PushedFilters: [EqualTo(c_mktsegment,BUILDING)]"),
      s"segment filter must push to the customer scan:\n$plan")
    assert(plan.contains("PushedFilters: [GreaterThan(l_shipdate"),
      s"lineitem date filter must push to the scan:\n$plan")
    assert(plan.contains("PushedFilters: [LessThan(o_orderdate"),
      s"orders date filter must push to the scan:\n$plan")
  }

  test("a32: Q5 shape — dims shrink on broadcast nation filter before facts move, one agg on nation frame") {
    val plan = finalPlan(analytics.Queries.localSupplierVolume(spark, sf))
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter must push to the scan:\n$plan")
    // orderkey join + final nation agg are the only hash exchanges a
    // scaled plan should pay (dim joins all broadcast at tested SF)
    val hashes = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashes <= 3, s"expected <= 3 hash exchanges, got $hashes:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library fn must not sort its result:\n$plan")
  }

  test("a33: Q6 shape — every predicate reaches the scan, zero joins, zero keyed shuffles") {
    val plan = finalPlan(analytics.Queries.a33(spark, sf))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"),
      s"shipdate bounds must push to the scan:\n$plan")
    // the PushedFilters list is elided in toString past ~100 chars,
    // so pin the band/cap on the post-scan Filter's literal spelling
    assert(plan.contains(">= 0.02)") && plan.contains("<= 0.04)") &&
      plan.contains("< 24.0)"),
      s"discount band and quantity cap must survive to the filter:\n$plan")
    assert(!plan.contains("Join"), s"Q6 has no joins:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"1-row agg needs no keyed shuffle:\n$plan")
  }

  test("a37: Q19 shape — derived hulls reach both scans, broadcast join, no keyed shuffle") {
    val plan = finalPlan(analytics.Queries.a37(spark, sf))
    // lineitem scan: the covering quantity range (the OR's envelope)
    assert(plan.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      plan.contains("LessThanOrEqual(l_quantity,45.0)"),
      s"quantity hull must push to the lineitem scan:\n$plan")
    // part scan: brand IN-list + covering size range (the upper
    // bound is elided from PushedFilters' toString past ~100 chars —
    // a33's note — so pin it on the post-scan Filter spelling)
    assert(plan.contains("In(p_brand") &&
      plan.contains("GreaterThanOrEqual(p_size,1)") &&
      "p_size#\\d+ <= 45".r.findFirstIn(plan).isDefined,
      s"brand/size hull must push to the part scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered part must broadcast (size estimate, no hint):\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"1-row agg needs no keyed shuffle:\n$plan")
  }

  test("a38: Q16 shape — part gate pushed, broadcast joins, only the two-phase distinct shuffles") {
    val plan = finalPlan(analytics.Queries.supplierDiversity(spark, sf))
    assert(plan.contains("In(p_size") &&
      plan.contains("Not(EqualTo(p_brand,Brand#5))"),
      s"brand/type/size gate must push to the part scan:\n$plan")
    // part gate broadcasts; the anti exclusion either broadcasts or —
    // when the negative-balance slice is empty at this SF — is
    // eliminated outright by AQE's empty-relation rewrite. Either
    // way no join may shuffle a fact.
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 1,
      s"part gate must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no join may shuffle the fact:\n$plan")
    // the only keyed exchanges are the exact-distinct pair
    // ((bucket, suppkey) partial dedupe, then bucket)
    val hashes = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashes <= 2, s"expected <= 2 hash exchanges, got $hashes:\n$plan")
  }

  test("a34: backlog — facts reduce to day counts before the join; windows never sort a fact") {
    val plan = finalPlan(analytics.Queries.orderBacklog(spark, sf))
    // one orderkey agg + up to three day-grain exchanges; the
    // cumulative windows ride a SinglePartition of the calendar frame
    val hashes = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashes <= 4, s"expected <= 4 hash exchanges, got $hashes:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library fn must not sort its result:\n$plan")
  }

  test("r6 additions: library results unordered, shuffles bounded, facts never window-sorted") {
    val docs = Tables.documents(spark, sf)
    val events = Tables.events(spark, sf)
    // (name, frame, max hash exchanges) — every one must also plan
    // zero rangepartitioning (sorts are entry-only, x10's rule)
    val cases = Seq(
      // shingle posting agg + posting join (reused exchange) + doc agg
      // + corpus left join
      ("t12 noveltyScores", text.TextAnalysis.noveltyScores(docs), 4),
      // (source,token) agg + source rank window + source agg
      ("t13 zipfAlpha", text.TextAnalysis.zipfAlpha(docs), 3),
      // one per-key window shuffle + the key agg it feeds
      ("st10 disorderAudit", operators.Activity.disorderAudit(events), 2),
      // batch agg; watermark joins back as broadcast; 1-row final agg
      ("st11 watermarkSim", operators.Activity.watermarkSim(events), 2),
      // (key,day) agg; both windows ride one series exchange
      ("st12 cusumChangepoint", operators.Activity.cusumChangepoint(events), 2),
      // one shuffle keyed on the 8-byte hash, never on payloads
      ("m5 phashDupes", multimodal.Multimodal.phashDupes(docs), 1),
      // custkey pre-agg + customer join + tiny histogram agg
      ("a24 orderCountHistogram", analytics.Queries.orderCountHistogram(spark, sf), 3),
      // dims shrink on the 2-row nation broadcast before facts move:
      // orderkey join + final (nation,nation,year) agg only
      ("a26 nationTrade", analytics.Queries.nationTrade(spark, sf), 3),
      // one day-grain agg; lag window rides SinglePartition of ~7 rows
      ("a30 yearlyGrowth", analytics.Queries.yearlyGrowth(spark, sf), 1),
      // narrow meta map; exact-distinct costs the standard two-phase
      // pair of keyed exchanges ((magic,md5) partial then magic) —
      // p14's Expand trade, approx_count_distinct drops it to 1
      ("m6 formatMix", multimodal.Multimodal.formatMix(docs), 2),
      // the session windows and the session agg share ONE user
      // shuffle; the library fn never sorts its session frame
      ("st1 sessionizeBatch", streaming.Sessionize.sessionizeBatch(events), 1),
      // ONE user shuffle; the day dedupe is map-side collect_set and
      // the streak math is a narrow sorted-array fold — no window,
      // no second exchange
      ("st19 activityStreaks", operators.Activity.activityStreaks(events), 1),
      // narrow scoring map + the whole threshold ladder in ONE 1-row
      // conditional agg (p14's stack spelling): no joins, no keyed
      // shuffle, no per-rung fan-out
      ("x19 qualitySweep", text.Curation.qualitySweep(docs), 0),
      // pure narrow map — three regexp counts in codegen, no exchange
      ("t17 readability", text.TextAnalysis.readability(docs), 0),
      // one narrow mapPartitions pass, zero shuffles
      ("m7 audioStats", multimodal.Multimodal.audioStats(docs), 0),
      // dedupe + flag agg + day agg — three bounded-key exchanges,
      // ZERO joins (the self-join spelling is what the oracle replays)
      ("st20 returningUsers", operators.Activity.returningUsers(events), 3),
      // narrow regexp map, zero exchanges
      ("t18 codeDetect", text.TextAnalysis.codeDetect(docs), 0),
      // one bucket agg; shares ride the tiny-frame window
      ("x20 lengthHistogram", text.Curation.lengthHistogram(docs), 1),
      // one user shuffle for the lead window + the tiny type agg
      ("st21 gapStats", operators.Activity.gapStats(events), 2),
      // one fact day agg; the ladder folds in a 1-row pass over the
      // tiny aged frame
      ("p19 retentionPlan", sources.Lake.retentionPlan(events), 1),
      // narrow scoring map + ONE source agg
      ("x22 sourceQuality", text.Curation.sourceQuality(docs), 1),
      // narrow mapPartitions kernel, zero shuffles
      ("m8 byteEntropy", multimodal.Multimodal.byteEntropy(docs), 0),
      // narrow frame kernel; the lag window and the per-doc agg share
      // ONE doc-key exchange (m3's bounded ≤4-frame fan-out)
      ("m9 sceneChange", multimodal.Multimodal.sceneChange(docs), 1),
      // each slice pays silver's key-dedup exchange + its partial
      // window agg (2×2), the merge adds ONE exchange of AGGREGATE
      // rows — the merge never sees an event row
      ("p16 goldMerge", {
        val silver = pipeline.Medallion.silverEvents(events)
        pipeline.Medallion.goldMerge("event_type",
          pipeline.Medallion.goldPartial(silver.filter(pmod(col("event_id"), lit(5)) < 4), "ts", "event_type"),
          pipeline.Medallion.goldPartial(silver.filter(pmod(col("event_id"), lit(5)) === 4), "ts", "event_type"))
      }, 5))
    for ((name, df, maxHash) <- cases) {
      val plan = finalPlan(df)
      assert(!plan.contains("Exchange rangepartitioning"),
        s"$name must not global-sort its result:\n$plan")
      val hashes = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashes <= maxHash,
        s"$name plans $hashes hash exchanges, expected <= $maxHash:\n$plan")
    }
    // st11's broadcast contract: the fact side never hash-shuffles for
    // the watermark join
    val wmPlan = finalPlan(operators.Activity.watermarkSim(events))
    assert(wmPlan.contains("BroadcastHashJoin"),
      s"watermark frame must broadcast back to facts:\n$wmPlan")
  }

  test("st26: native session_window rides ONE user shuffle, no library sort") {
    val plan = finalPlan(
      streaming.Sessionize.sessionWindowAgg(Tables.events(spark, sf)))
    val hashes = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashes <= 1, s"session_window agg needs one keyed exchange, got $hashes:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library fn must not global-sort its result:\n$plan")
  }

  test("p23 merge read side: touched-day partition pruning + broadcast anti join") {
    // the survivors frame mergeApply writes: only touched day dirs
    // scanned (literal day filter → static partition pruning), and
    // the batch key set must BROADCAST into the anti join — the fact
    // side never shuffles for the merge
    val lake = java.nio.file.Files.createTempDirectory("p23_plan").toString
    val day = 86400000000L
    import spark.implicits._
    val ev = Seq((1L, 1L * day, 1.0), (2L, 2L * day, 2.0), (3L, 3L * day, 3.0))
      .toDF("event_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    sources.Lake.writeDatePartitioned(ev, lake)
    val batch = Seq((1L, 1L * day, 9.0)).toDF("event_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val existing = spark.read.parquet(lake)
      .filter(col("p_date").isin("1970-01-02"))
    val survivors = existing.join(
      broadcast(batch.select(col("event_id")).distinct()),
      Seq("event_id"), "left_anti")
    val plan = finalPlan(survivors)
    assert(plan.contains("PartitionFilters: [(p_date"),
      s"touched-day filter must prune partitions:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"batch keys must broadcast into a LEFT ANTI:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the lake side must never shuffle for the merge:\n$plan")
  }

  test("p14b: approx profile plans WITHOUT the exact multi-distinct Expand") {
    val li = Tables.lineitem(spark, sf)
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_linestatus")
    // the exact spelling PAYS the Expand (that's its contract)...
    val exact = finalPlan(quality.Checks.profileColumns(li, cols))
    assert(exact.contains("Expand"),
      s"exact multi-distinct must compile to Expand + two-phase agg:\n$exact")
    // ...and the 100 TB sketch spelling must not: one partial+final
    // agg pair over unmultiplied rows, a single exchange, no Expand
    val approx = finalPlan(quality.Checks.approxProfileColumns(li, cols))
    assert(!approx.contains("Expand"),
      s"approx profile must lose the row-multiplying Expand:\n$approx")
    val exchanges = "Exchange".r.findAllIn(approx).length
    assert(exchanges <= 1,
      s"approx profile needs only the SinglePartition gather, got $exchanges:\n$approx")
  }

  test("p14b entry: no Expand on the full-corpus branch — the exact gate rides the mod-16 slice") {
    // VERDICT r11 lead item: the verified entry used to gate the
    // sketch against a FULL-CORPUS exact profile, re-importing the
    // corpus-scale Expand its production plan exists to avoid. The
    // entry's plan must now carry exactly ONE Expand, and that
    // Expand's input must be the sliced scan (the mod-16 filter sits
    // between the Expand and its parquet scan in the depth-first
    // plan rendering) — the unfiltered full-corpus branch stays on
    // the sketch spelling, Expand-free.
    // r14 size cutover (VERDICT r13 item 1, the a28/a35/a36 law):
    // below P14bFuseMinBytes the slice sketches keep their own 1/16
    // pass (3 scans — the r12 spelling, cheaper on page-cached
    // dimension-scale inputs); above it they fuse into the full pass
    // as conditional HLL aggs (2 scans — r13's pass-count win once
    // scans carry real bytes). Pin BOTH forced spellings: each pays
    // exactly one Expand, fed by the mod-16 slice, with the
    // full-corpus branch Expand-free; the fused spelling costs
    // exactly 2 corpus scans, the split exactly 3.
    def pin(plan: String, scansWanted: Int, label: String): Unit = {
      val expands = "Expand".r.findAllIn(plan).length
      assert(expands == 1,
        s"p14b($label) must pay exactly one slice-bounded Expand, got $expands:\n$plan")
      val at = plan.indexOf("Expand")
      val scanAt = plan.indexOf("Scan parquet", at)
      assert(scanAt > at, s"p14b($label): no scan found under the Expand:\n$plan")
      val between = plan.substring(at, scanAt)
      assert(between.contains("% 16") || between.contains("pmod"),
        s"p14b($label): the Expand must be fed by the mod-16 slice, not the full corpus:\n$plan")
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == scansWanted,
        s"p14b($label) must cost exactly $scansWanted corpus scans, got $scans:\n$plan")
    }
    pin(finalPlan(quality.Checks.p14bApproxProfile(spark, sf, fuseMinBytes = 0L)),
      2, "fused")
    pin(finalPlan(quality.Checks.p14bApproxProfile(spark, sf, fuseMinBytes = Long.MaxValue)),
      3, "split")
    // Cutover identity at the entry level: the conditional HLL agg
    // hashes exactly the slice's value set (when() injects nulls HLL
    // skips), so both spellings carry identical sketch registers —
    // forcing either spelling must not move a single row.
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(
      sorted(quality.Checks.p14bApproxProfile(spark, sf, fuseMinBytes = 0L)) ==
        sorted(quality.Checks.p14bApproxProfile(spark, sf, fuseMinBytes = Long.MaxValue)),
      "p14b: fused and split spellings must be row-identical")
  }

  test("p15b: two corpus scans total — one Expand-free full pass, one slice-fed Expand") {
    // p14b's pin applied to the drift gate (VERDICT r12 item 4):
    // both sides profile in ONE conditional-aggregate full scan
    // (Expand-free), and the only Expand is the fused both-sides
    // multi-distinct over the mod-16 slice.
    val plan = finalPlan(quality.Checks.p15bApproxDrift(spark, sf))
    val expands = "Expand".r.findAllIn(plan).length
    assert(expands == 1,
      s"p15b must pay exactly one slice-bounded Expand, got $expands:\n$plan")
    val at = plan.indexOf("Expand")
    val scanAt = plan.indexOf("Scan parquet", at)
    assert(scanAt > at, s"no scan found under the Expand:\n$plan")
    val between = plan.substring(at, scanAt)
    assert(between.contains("% 16") || between.contains("pmod"),
      s"the Expand must be fed by the mod-16 slice, not a full side:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2,
      s"the drift gate must cost exactly two corpus scans, got $scans:\n$plan")
  }

  test("t14/t16: model-size cuts plan as TakeOrdered — no single-partition rank window survives") {
    // VERDICT r12 item 2: the bigram-LM lmSize cut and the vocab
    // top-max(ks) cut used to rank the whole model frame through ONE
    // single-partition WindowExec. Both now spell orderBy+limit
    // (t5's idiom) — TakeOrderedAndProject keeps the selection
    // map-side-partial — and t14's ladder folds over a bounded
    // sorted ARRAY, so the plans must carry a TakeOrdered and zero
    // Window operators of any kind.
    val t16 = finalPlan(text.TextAnalysis.t16BigramPpl(spark, sf))
    assert(t16.contains("TakeOrderedAndProject"),
      s"t16 lmSize cut must plan TakeOrdered, not a global rank window:\n$t16")
    assert(!t16.contains("Window"),
      s"t16 must carry no WindowExec at all:\n$t16")
    val t14 = finalPlan(text.TextAnalysis.t14VocabCoverage(spark, sf))
    assert(t14.contains("TakeOrderedAndProject"),
      s"t14 top-max(ks) cut must plan TakeOrdered:\n$t14")
    assert(!t14.contains("Window"),
      s"t14 must carry no WindowExec at all:\n$t14")
    val t19 = finalPlan(text.TextAnalysis.t19PplPartition(spark, sf))
    assert(!t19.contains("Window"),
      s"t19 wraps t16 and must stay window-free too:\n$t19")
  }

  test("st24: delta rows cross the wire once; banded prefix-sum reuses that exchange") {
    val df = operators.Intervals.peakConcurrency(
      Tables.events(spark, sf).withColumn("ts_us", unix_micros(col("ts"))),
      "ts_us", 300000000L)
    val plan = finalPlan(df)
    // exactly ONE full-width exchange moves delta rows (the band
    // repartition); every other pass over them is a ReusedExchange
    // (whose plan line echoes the referenced exchange — count lines)
    val lines = plan.linesIterator.toSeq
    val repart = lines.count(l =>
      l.contains("REPARTITION_BY_COL") && !l.contains("ReusedExchange"))
    assert(repart == 1, s"expected 1 band repartition, got $repart:\n$plan")
    assert(lines.count(l => l.contains("ReusedExchange") &&
      l.contains("REPARTITION_BY_COL")) >= 2,
      s"offsets and dayPeak must reuse the band exchange:\n$plan")
    // the per-µs groupBy must ride the band partitioning — the only
    // OTHER hash exchanges are the two tiny post-aggregation ones
    // (dayPeak on day; the final (day, peak) gather)
    val hashEx = lines.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(hashEx <= 3, s"expected ≤3 hash exchanges (1 band + 2 tiny post-agg), got $hashEx:\n$plan")
    // offsets prefix-sum runs on ONE partition of |days|×24 rows —
    // the only SinglePartition exchange, and it broadcasts back
    assert(lines.count(l => l.contains("Exchange SinglePartition") &&
      !l.contains("ReusedExchange")) == 1,
      s"exactly the tiny offsets table may gather to one partition:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"offsets must broadcast back to the bands:\n$plan")
    // scan reads only ts
    assert(plan.contains("ReadSchema: struct<ts:"),
      s"events scan must prune to the ts column:\n$plan")
  }

  test("st28: all four bracket functions ride ONE Window over one user-keyed sort") {
    val plan = finalPlan(operators.Resample.linearResample(
      Tables.events(spark, sf).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id",
      expr("cast(round(value * 1000000) as bigint)"), gridUs = 86400L * 1000000L))
    val windows = "\\bWindow \\[".r.findAllIn(plan).length
    assert(windows == 1,
      s"prev+next brackets must share a single Window op, got $windows:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library resample must not global-sort:\n$plan")
    val nonKey = "Exchange hashpartitioning\\((?!user_id)".r.findAllIn(plan).length
    assert(nonKey == 0, s"every exchange must be keyed on user_id:\n$plan")
  }

  test("s25: one corpus pass — the total-variance broadcast reads the cached dim frame") {
    val plan = finalPlan(similarity.Similarity.s25(spark, sf))
    // both consumers (the per-dim output and the 1-row total) read the
    // dim frame, which is not persisted: its dim exchange is computed
    // once and the total's read is a ReusedExchange, so the corpus is
    // scanned once
    val (computed, reused) = exchangeCounts(plan, "hashpartitioning\\(dim#")
    assert(computed == 1 && reused >= 1,
      s"the dim exchange must be computed once and reused, got $computed computed, $reused reused:\n$plan")
    assert(fileScans(plan) == 1, s"the embeddings must be scanned once:\n$plan")
    // partial aggregation must collapse the posexplode fan-out before
    // the exchange: the dim shuffle carries dims x partitions rows
    assert(plan.contains("partial_sum"),
      s"component sums must map-side combine under the Generate:\n$plan")
    assert(plan.contains("ReadSchema: struct<embedding:array<float>>"),
      s"embeddings scan must prune to the embedding column:\n$plan")
  }

  test("a47: power rounds reuse the persisted edge frame; no cross joins anywhere") {
    val plan = finalPlan(analytics.Queries.pageRank(Tables.events(spark, sf)))
    // the edge frame is not persisted: its (src, dst) exchange is
    // computed once and every round reads it as a ReusedExchange, so
    // the events are scanned once for all 3 rounds
    val (computed, reused) = exchangeCounts(plan, "hashpartitioning\\(src#\\d+, dst#")
    assert(computed == 1 && reused >= 3,
      s"the edge exchange must be computed once and reused by all 3 rounds, got $computed computed, $reused reused:\n$plan")
    assert(fileScans(plan) == 1, s"the events must be scanned once:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"every round is a keyed equi-join:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"library ranks are unordered:\n$plan")
  }
}
