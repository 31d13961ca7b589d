package graft

import org.apache.spark.sql.functions._

class CurationSpec extends GraftSpecBase {
  import spark.implicits._

  test("hash sampling is deterministic and near the target rate") {
    val docs = Tables.documents(spark, sf)
    val s1 = text.Curation.hashSample(docs, "doc_id", 20).select("doc_id").collect().toSet
    val s2 = text.Curation.hashSample(docs, "doc_id", 20).select("doc_id").collect().toSet
    assert(s1 == s2, "same seed/hash -> same sample")
    val rate = s1.size.toDouble / docs.count()
    assert(rate > 0.1 && rate < 0.3, s"rate $rate")
  }

  test("per-source caps keep the best-scored docs") {
    val r = text.Curation.x2SourceCap(spark, sf)
    val perSource = r.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 10))
    // highest-quality doc of some source survives
    val scored = text.TextAnalysis.qualityScore(Tables.documents(spark, sf))
    val best = scored.orderBy(col("quality_score").desc, col("doc_id")).select("doc_id").head().getLong(0)
    assert(r.filter(col("doc_id") === best).count() == 1)
  }

  test("normalizeRedact lowercases, redacts digits, collapses space") {
    val got = Seq("  Call  ME at 555 999!  ").toDF("text")
      .select(text.Curation.normalizeRedact(col("text"))).head().getString(0)
    assert(got == "call me at <num> <num>!")
  }

  test("connected components: clusters agree with the pair graph") {
    val nodes = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    // driverEdgeLimit default exercises union-find; 0 forces the
    // distributed min-label propagation — both must agree
    for (limit <- Seq(10L * 1000 * 1000, 0L)) {
      val cc = dedup.Clusters.connectedComponents(nodes, pairs, driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L, "chain collapses to min id")
      assert(cc(5L) == 5L && cc(6L) == 5L)
      assert(cc(4L) == 4L && cc(7L) == 7L && cc(8L) == 8L, "isolates are singletons")
    }
  }

  test("sequence packing: budget respected, every doc packed once, bins dense") {
    val docs = text.TextAnalysis.tokenCounts(Tables.documents(spark, sf))
      .select(col("doc_id"), col("ws_tokens"))
    val max = 512
    val packed = text.Curation.packSequences(docs, "doc_id", "ws_tokens", max)
    val rows = packed.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.map(_._1).distinct.length == docs.count(), "every doc exactly once")
    val bins = rows.groupBy(_._2).map { case (_, ds) => ds.map(_._3).sum }
    val (over, within) = bins.partition(_ > max)
    // a bin may exceed the budget only as a singleton overflow doc
    val singletonOverflows = rows.groupBy(_._2).values
      .count(ds => ds.length == 1 && ds.head._3 > max)
    assert(over.size == singletonOverflows, s"${over.size} oversized bins")
    if (within.nonEmpty) {
      val fill = within.sum.toDouble / (within.size * max)
      assert(fill > 0.5, s"next-fit fill factor $fill too low")
    }
  }

  test("sequence packing is a pure function of the data — physical layout never moves a bin") {
    val docs = text.TextAnalysis.tokenCounts(Tables.documents(spark, sf))
      .select(col("doc_id"), col("ws_tokens"))
    def packed(df: org.apache.spark.sql.DataFrame) =
      text.Curation.packSequences(df, "doc_id", "ws_tokens", 512, chunkSize = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(packed(docs) == packed(docs.repartition(7)),
      "bin ids must not depend on partition layout")
  }

  test("x4b drops planted near-dups that exact dedup cannot see") {
    import spark.implicits._
    // ≥100 tokens, stopword-rich, punctuation- and digit-free (digits
    // would collapse under <num> redaction), every content token
    // unique → quality ≈ 0.85 past the 0.5 gate, and a 2-token edit
    // leaves 3-gram jaccard ≈ 0.87 — planted NEAR-dup territory where
    // 16x8 banded LSH recall is ≈1
    def tok(i: Int, tag: Char) =
      "" + tag + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    def doc(tag: Char) = Array.tabulate(100)(i =>
      if (i % 2 == 0) Seq("the", "and", "of", "to", "is")(i / 2 % 5)
      else tok(i / 2, tag)).mkString(" ")
    val base = doc('w')
    val nearDup = base.split(" ").dropRight(2).mkString(" ") + " zedq zedr"
    val other = doc('q')
    val docs = Seq((1L, base, "srcA"), (2L, nearDup, "srcA"), (3L, other, "srcA"))
      .toDF("doc_id", "text", "source")
    val kept = text.Curation.curateNearDup(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L),
      s"near-dup doc 2 (not byte-identical, >0.5 jaccard) must cluster with 1 and drop: $kept")
    // exact-dedup-only x4 head keeps all three — proving x4b's drop
    // comes from the NEAR-dup stage
    val exactOnly = text.Curation.scoreAndExactDedup(docs, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactOnly == Set(1L, 2L, 3L))
  }

  test("PII redaction: planted emails and phone numbers counted and replaced") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact jane.doe+spam@example.co.uk or call 555-123-4567 today"),
      (2L, "two mails a@b.io c.d@e-f.org and digits 12345 that are not a phone"),
      (3L, "clean text with no contact details at all")).toDF("doc_id", "text")
    val r = text.Curation.piiRedact(docs).orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 1 && r(0).getInt(2) == 1)
    assert(r(0).getString(3) == "contact <email> or call <phone> today")
    assert(r(1).getInt(1) == 2 && r(1).getInt(2) == 0)
    assert(r(1).getString(3) == "two mails <email> <email> and digits 12345 that are not a phone")
    assert(r(2).getInt(1) == 0 && r(2).getInt(2) == 0)
    assert(r(2).getString(3) == "clean text with no contact details at all")
  }

  test("distributed min-label propagation converges on a deep chain (bounded lineage path)") {
    import spark.implicits._
    // path graph 0-1-...-9: diameter 9, so the loop runs ~10 rounds —
    // several localCheckpoint truncations deep — before the min label
    // reaches the far end; driverEdgeLimit=0 forces the distributed
    // path that normally only activates above 10M edges
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val nodes = (0L to 9L).toDF("doc_id")
    val cc = dedup.Clusters.connectedComponents(nodes, pairs, driverEdgeLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 10)
    assert(cc.forall(_._2 == 0L), s"all labels must reach min id 0: ${cc.toSeq.sorted}")
  }

  test("connectedComponents under the driver limit starts no more Spark jobs than one bounded collect of its pair frame") {
    // the pair set goes to the driver anyway: one bounded collect, no
    // mirrored union, no cache, no separate count. Spark's bounded
    // collect (CollectLimit) scans partitions incrementally — one, then
    // up to four times as many — so on a multi-partition frame it may
    // start a job or two more than a plain collect; both are reported
    val limit = 10L * 1000 * 1000
    val docs = Tables.documents(spark, sf)
    val lsh = dedup.Dedup.minhashLshPairsJoinback(docs).select("a_id", "b_id")
    val spread = spark.range(0L, 400L, 1L, 4)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    for ((name, pairs) <- Seq("LSH pairs" -> lsh, "4-partition chain" -> spread)) {
      val plain = jobsStarted(pairs.collect())
      val bounded = jobsStarted(pairs.limit(limit.toInt + 1).collect())
      val cc = jobsStarted(dedup.Clusters.connectedComponents(docs.select("doc_id"), pairs,
        driverEdgeLimit = limit))
      info(s"$name: collect $plain jobs, bounded collect $bounded, connectedComponents $cc")
      assert(cc <= bounded,
        s"$name: connectedComponents started $cc jobs where one bounded collect of its pairs starts $bounded")
    }
  }

  test("over-limit components and un-keyed curateNearDup leave no cache entry behind") {
    def leftBehind(body: => Unit): Int = {
      val before = numCachedEntries; body; numCachedEntries - before
    }
    val nodes = (1L to 8L).toDF("doc_id")
    val ccLeft = Seq(Seq((1L, 2L)), Seq((1L, 2L), (2L, 3L), (5L, 6L))).map { pairs =>
      pairs -> leftBehind(dedup.Clusters.connectedComponents(nodes, pairs.toDF("a_id", "b_id"),
        driverEdgeLimit = 0).collect())
    }
    val curateLeft = leftBehind(text.Curation.curateNearDup(Tables.documents(spark, sf)).collect())
    assert(ccLeft.forall(_._2 == 0) && curateLeft == 0,
      s"new cache entries: distributed components $ccLeft, curateNearDup(cacheKey = None) $curateLeft")
  }

  test("x8 hash split: exhaustive, disjoint, ratio-plausible, repartition-invariant") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    val split = text.Curation.hashSplit(docs, "doc_id")
    val byId = split.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val total = docs.count()
    assert(byId.size == total, "every doc gets exactly one split")
    val counts = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // mix64 mod 100 at n≈500: expect 80/10/10 within wide binomial noise
    val trainFrac = counts("train").toDouble / total
    assert(trainFrac > 0.72 && trainFrac < 0.88, s"train frac $trainFrac")
    // assignment is a pure function of the id: any physical layout
    // (partition count, row order) must route identically
    val re = text.Curation.hashSplit(docs.repartition(7), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(re == byId, "split must be invariant under repartitioning")
  }

  test("x13 leakage-safe split: clusters never straddle splits, and it actually rescues leaks x8 permits") {
    import org.apache.spark.sql.functions.{col, countDistinct, max => smax}
    // planted clusters chosen so x8's PER-DOC split demonstrably
    // disagrees within a cluster (ids 0-99 hash to a mix of splits)
    val docs = (0L until 100L).toDF("doc_id")
    val labels = docs.withColumn("cluster_id", col("doc_id") - (col("doc_id") % 4))
    val safe = text.Curation.leakageSafeSplit(docs, labels)
    // 1) every cluster lands in exactly one split
    val straddling = safe.join(labels, "doc_id")
      .groupBy(col("cluster_id")).agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(straddling == 0, "a near-dup cluster must never straddle splits")
    // 2) the per-doc split DOES straddle some of these clusters — the
    //    leak x13 exists to close (if this stops holding, the planted
    //    ids no longer exercise the operator)
    val naive = text.Curation.hashSplit(docs, "doc_id")
    val naiveStraddles = naive.join(labels, "doc_id")
      .groupBy(col("cluster_id")).agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(naiveStraddles > 0, "planted clusters must expose the per-doc-split leak")
    // 3) singletons (rep = own id) split exactly as x8
    val singles = docs.withColumn("cluster_id", col("doc_id"))
    val asX8 = text.Curation.leakageSafeSplit(docs, singles)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val x8 = naive.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(asX8 == x8, "singleton docs must split identically to the per-doc hash split")
  }

  test("x14 corpus mix: exact strata counts, shares sum to 1, token def matches t2") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "a b c", "en", "s1"),      // 3 tokens
      (1L, "d e", "en", "s1"),        // 2
      (2L, "f g h i j", "de", "s1"),  // 5
      (3L, "k l m n o p q r s t", "en", "s2") // 10
    ).toDF("doc_id", "text", "lang", "source")
    val mix = text.Curation.corpusMix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(mix(("s1", "en")) == ((2L, 5L, 0.25)))
    assert(mix(("s1", "de")) == ((1L, 5L, 0.25)))
    assert(mix(("s2", "en")) == ((1L, 10L, 0.5)))
    assert(math.abs(mix.values.map(_._3).sum - 1.0) < 1e-9)
    // token definition consistency with t2 over the real table
    val real = Tables.documents(spark, sf)
    val viaT2 = text.TextAnalysis.tokenCounts(real)
      .agg(org.apache.spark.sql.functions.sum(col("ws_tokens"))).collect()(0).getLong(0)
    val viaMix = text.Curation.corpusMix(real)
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(viaT2 == viaMix, "x14 must count tokens exactly as t2 does")
  }

  test("x15 interleave: round-robin invariant, unique positions, dense when sources are equal-size") {
    import org.apache.spark.sql.functions.col
    // 2 equal sources x 3 docs: positions must be exactly 0..5 and
    // alternate sources
    val docs = Seq((0L, "sA"), (2L, "sA"), (4L, "sA"), (1L, "sB"), (3L, "sB"), (5L, "sB"))
      .toDF("doc_id", "source")
    val r = text.Curation.interleaveBySource(docs).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.map(_._3).sorted.toSeq == (0L to 5L), s"equal sources must pack densely, got $r")
    // round-robin invariant: pos mod S identifies the source
    val bySrc = r.groupBy(_._2).view.mapValues(_.map(_._3 % 2).toSet).toMap
    assert(bySrc("sA") == Set(0L) && bySrc("sB") == Set(1L))
    // real table: positions unique, pos % S == sorted-source index
    val real = Tables.documents(spark, sf)
    val full = text.Curation.interleaveBySource(real)
    assert(full.select("pos").distinct().count() == real.count())
    val srcs = real.select("source").distinct().collect().map(_.getString(0)).sorted
    val idx = srcs.zipWithIndex.toMap
    val bad = full.collect().count { x =>
      x.getLong(2) % srcs.length != idx(x.getString(1)) }
    assert(bad == 0, s"$bad rows violate pos % S == source index")
    // layout invariance
    val re = text.Curation.interleaveBySource(real.repartition(7))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(re == full.collect().map(x => x.getLong(0) -> x.getLong(2)).toMap,
      "positions must be invariant under repartitioning")
  }

  test("x11 weighted sample: draw replays mix64, acceptance tracks the weight, layout-invariant") {
    val df = (0L until 400L).map(i => (i, i.toDouble / 400.0)).toDF("id", "w")
    val kept = text.Curation.qualityWeightedSample(df, "id", col("w"))
      .select("id", "u01", "w").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // the draw is the scalar mix64's top 53 bits — replay it exactly
    kept.foreach { case (id, u01, w) =>
      val expect = (functions.MixConstants.mix64(id) >>> 11).toDouble / 9007199254740992.0
      assert(u01 == expect, s"id $id: u01 must be the exact mix64 draw")
      assert(u01 < w, "every kept row won its draw")
    }
    // E[kept] = sum of weights = 199.5/400*400/2... linear weights mean ~200*0.499
    assert(kept.length > 140 && kept.length < 260,
      s"acceptance count ${kept.length} should track the mean weight (~200)")
    val re = text.Curation.qualityWeightedSample(df.repartition(7), "id", col("w"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(re == kept.map(_._1).toSet, "kept set invariant under repartitioning")
    // weight 0 keeps nothing, weight 1 keeps everything
    assert(text.Curation.qualityWeightedSample(df, "id", lit(0.0)).count() == 0L)
    assert(text.Curation.qualityWeightedSample(df, "id", lit(1.0)).count() == 400L)
  }

  test("x12 dup-weighted sample: uniques always survive, copies at 1/n, decision replays exactly") {
    import spark.implicits._
    // 40 unique docs + one 10-copy cluster + one 4-copy cluster
    val uniq = (0L until 40L).map(i => (i, s"unique doc number $i"))
    val big = (100L until 110L).map(i => (i, "the exact same boilerplate text"))
    val small = (200L until 204L).map(i => (i, "another duplicated blob"))
    val df = (uniq ++ big ++ small).toDF("doc_id", "text")
    val kept = text.Curation.dupWeightedSample(df, "doc_id")
      .select("doc_id", "n_copies", "u01").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keptIds = kept.map(_._1).toSet
    // n_copies is the cluster size
    assert(kept.filter(_._1 < 100).forall(_._2 == 1L))
    assert(kept.filter(x => x._1 >= 100 && x._1 < 110).forall(_._2 == 10L))
    // every unique doc survives (u01 < 1 always)
    assert((0L until 40L).forall(keptIds))
    // the acceptance decision is exactly u01 < 1/n: replay it from
    // the emitted draw for every SURVIVOR, and check the dropped set
    // is the complement within each cluster
    kept.foreach { case (_, n, u) => assert(u < 1.0 / n) }
    // layout invariance: same survivors after a repartition
    val again = text.Curation.dupWeightedSample(df.repartition(7), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == keptIds)
  }

  test("x9 token-budget mix: per-source budget respected, admitted set is the best-quality prefix") {
    val got = text.Curation.x9TokenBudgetMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (src, rows) =>
      val budget = if (src == "src0") 6000L else 3000L
      assert(rows.map(_._3).sum <= budget, s"$src exceeds budget")
      assert(rows.map(_._4).max <= budget, "running totals must stay under budget")
    }
    // best-first: every admitted doc outranks every rejected doc of
    // the same source in (quality desc, id) order
    val all = text.TextAnalysis.qualityScore(Tables.documents(spark, sf))
      .filter(col("quality_score").isNotNull)
      .select("doc_id", "source", "quality_score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val admitted = got.map(_._1).toSet
    all.groupBy(_._2).foreach { case (src, docs) =>
      val ordered = docs.sortBy(d => (-d._3, d._1)).map(_._1)
      val nAdmitted = ordered.count(admitted)
      assert(ordered.take(nAdmitted).forall(admitted),
        s"$src: admitted set must be a prefix of the quality ordering")
    }
  }

  test("x10 shuffle positions: exact 1..n permutation equal to the global key order") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    val got = text.Curation.shufflePositions(docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = got.length
    assert(got.map(_._3).sorted.toSeq == (1L to n).toSeq,
      "positions must be a dense 1..n permutation")
    // the bucketed two-phase rank must equal the naive global rank
    val expected = got.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, _, _), i) => id -> (i + 1L) }.toMap
    assert(got.forall { case (id, _, pos) => expected(id) == pos },
      "distributed rank must equal global rank")
    // and be a pure function of the data
    val re = text.Curation.shufflePositions(docs.repartition(5), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.forall { case (id, _, pos) => re(id) == pos })
  }

  test("d6 keeps exactly one representative per near-dup cluster") {
    val r = dedup.Clusters.d6(spark, sf).collect()
    assert(r.nonEmpty)
    val byCluster = r.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_.getBoolean(3)) == 1, s"cluster $cid must keep exactly one")
      assert(rows.map(_.getLong(0)).min == cid, "cluster id is the min doc id")
    }
  }

  test("x16 rebalance: rich source downsamples to its allocation, poor source caps at 1") {
    // tokens: a=80, b=20; budget=50 (half), uniform target 25 each.
    // a: rate 25/80=0.3125, expected 25; b: 25>=20 → capped, rate 1,
    // expected 20
    val docs = Seq(
      (1L, Seq.fill(80)("t").mkString(" "), "a"),
      (2L, Seq.fill(20)("t").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val r = text.Curation.mixRebalance(docs).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(4),
        x.getDouble(5), x.getBoolean(6)))).toMap
    assert(r("a") == ((80L, 0.8, 0.3125, 25.0, false)), s"got ${r("a")}")
    assert(r("b") == ((20L, 0.2, 1.0, 20.0, true)), s"got ${r("b")}")
    // explicit targets override uniform: all budget to b
    val rb = text.Curation.mixRebalance(docs, budgetTokens = Some(10L),
        targetShares = Map("b" -> 1.0)).collect()
      .map(x => x.getString(0) -> x.getDouble(4)).toMap
    assert(rb("a") == 0.0 && rb("b") == 0.5, s"got $rb")
  }

  test("x18 epoch plan: small source repeats, rich source downsamples, ceiling leaves a deficit") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(80)("t").mkString(" "), "a"),
      (2L, Seq.fill(20)("t").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    // uniform target, budget = corpus (100) → alloc 50 each:
    // a (80 tok): 0 full passes + 0.625 partial → 1 epoch, no deficit
    // b (20 tok): 2 full + 0.5 partial → 3 epochs, no deficit
    val r = text.Curation.epochPlan(docs).collect()
      .map(x => x.getString(0) -> ((x.getLong(3), x.getDouble(4), x.getDouble(5), x.getDouble(6)))).toMap
    assert(r("a") == ((1L, 0.625, 50.0, 0.0)), s"got ${r("a")}")
    assert(r("b") == ((3L, 0.5, 50.0, 0.0)), s"got ${r("b")}")
    // ceiling at 2 epochs: b caps at 40 planned tokens, deficit 10
    val rc = text.Curation.epochPlan(docs, maxEpochs = 2).collect()
      .map(x => x.getString(0) -> ((x.getLong(3), x.getDouble(4), x.getDouble(5), x.getDouble(6)))).toMap
    assert(rc("b") == ((2L, 0.0, 40.0, 10.0)), s"got ${rc("b")}")
  }

  test("x19 quality sweep: survival monotone non-increasing, rung 0 keeps every scored doc") {
    val docs = Tables.documents(spark, sf)
    val r = text.Curation.qualitySweep(docs).collect().sortBy(_.getDouble(0))
    assert(r.length == 10, s"one row per rung: ${r.length}")
    val d = r.map(_.getLong(1)); val t = r.map(_.getLong(3))
    assert(d.sliding(2).forall(p => p(0) >= p(1)),
      "doc survival must be non-increasing in the threshold")
    assert(t.sliding(2).forall(p => p(0) >= p(1)),
      "token survival must be non-increasing in the threshold")
    // rung 0.0 keeps exactly the docs with a non-null score (>= is
    // never true for null — the same null-rejects law as x4's gate)
    val scored = graft.text.TextAnalysis.qualityScore(docs)
      .filter(col("quality_score").isNotNull).count()
    assert(d(0) == scored, s"rung 0 keeps all scored docs: ${d(0)} vs $scored")
    assert(math.abs(r(0).getDouble(2) - scored.toDouble / docs.count()) < 1e-9)
  }

  test("x24 temperature mix: tau=1 is the natural mix, tau<1 suppresses the head, sums to 1") {
    val df = Seq((1L, "a", Seq.fill(90)("w").mkString(" ")),
      (2L, "b", Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val r = text.Curation.temperatureMix(df, taus = Seq(0.5, 1.0)).collect()
      .map(x => (x.getString(0), x.getDouble(1)) -> ((x.getDouble(2), x.getDouble(3)))).toMap
    assert(r(("a", 1.0)) == ((0.9, 0.9)) && r(("b", 1.0)) == ((0.1, 0.1)),
      s"tau=1 must keep the natural mix: $r")
    // tau=0.5: w_a = sqrt(.9)/(sqrt(.9)+sqrt(.1)) ≈ 0.75
    val wa = math.sqrt(0.9) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert(math.abs(r(("a", 0.5))._2 - wa) < 1e-4, s"got ${r(("a", 0.5))}")
    assert(math.abs(r(("a", 0.5))._2 + r(("b", 0.5))._2 - 1.0) < 1e-5,
      "weights must sum to 1 per tau")
    assert(r(("a", 0.5))._2 < 0.9 && r(("b", 0.5))._2 > 0.1,
      "tau<1 must suppress the head and boost the tail")
  }

  test("x22 source quality: per-source means exact, reject rate counts the gate's failures") {
    val docs = Tables.documents(spark, sf)
    val r = text.Curation.sourceQuality(docs).collect()
    assert(r.nonEmpty && r.forall(_.getLong(1) > 0))
    // cross-check one source against a direct computation
    val scored = graft.text.TextAnalysis.qualityScore(docs)
      .filter(col("source") === r.head.getString(0))
    val direct = scored.filter(col("quality_score") < 0.5 ||
      col("quality_score").isNull).count().toDouble / scored.count()
    assert(math.abs(r.head.getDouble(4) - direct) < 1e-6,
      s"reject rate must match the gate: ${r.head.getDouble(4)} vs $direct")
  }

  test("x21 pack efficiency: planted bins — oversize singleton, underfull tail, exact mean fill") {
    // chunk 0, cap 100: docs 10+80 fill bin0 (90), 150 overflows to
    // bin1 alone (oversize), 20 lands in bin2 (underfull)
    val packed = text.Curation.packSequences(
      Seq((1L, 10), (2L, 80), (3L, 150), (4L, 20)).toDF("doc_id", "n"),
      "doc_id", "n", maxTokens = 100, chunkSize = 1000)
    val r = text.Curation.packEfficiency(packed, 100).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L && r.getLong(2) == 260L, s"got $r")
    assert(math.abs(r.getDouble(3) - 260.0 / 300.0) < 1e-6, s"mean fill: $r")
    assert(r.getLong(4) == 1L, s"the 150-token singleton is oversize: $r")
    assert(r.getLong(5) == 1L, s"the 20-token tail bin is underfull: $r")
  }

  test("x20 length histogram: integer bit-length buckets, ranges exact, shares sum to 1") {
    // 1 token → bucket 1 [1,1]; 2 and 3 → bucket 2 [2,3]; 7 → bucket
    // 3 [4,7]; 8 → bucket 4 [8,15]
    val df = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, Seq.fill(7)("w").mkString(" ")), (5L, Seq.fill(8)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val r = text.Curation.lengthHistogram(df).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r(1) == ((1L, 1L, 1L, 1L)), s"got ${r(1)}")
    assert(r(2) == ((2L, 3L, 2L, 5L)), s"got ${r(2)}")
    assert(r(3) == ((4L, 7L, 1L, 7L)), s"got ${r(3)}")
    assert(r(4) == ((8L, 15L, 1L, 8L)), s"got ${r(4)}")
    val shares = text.Curation.lengthHistogram(df).collect().map(_.getDouble(5)).sum
    assert(math.abs(shares - 1.0) < 1e-6, s"doc shares must sum to 1: $shares")
  }

  test("x17 length curriculum: dense permutation, short-to-long, shuffled within a length") {
    val r = text.Curation.lengthCurriculum(
      Tables.documents(spark, sf).select("doc_id", "text")).collect()
    val n = r.length
    assert(r.map(_.getLong(2)).sorted.toSeq == (1L to n.toLong).toSeq,
      "positions must be a dense 1..n permutation")
    val byPos = r.sortBy(_.getLong(2))
    assert(byPos.map(_.getLong(1)).sliding(2).forall(p => p(0) <= p(1)),
      "token counts must be non-decreasing along the curriculum")
    // within an equal-length run the mix64 tiebreak must shuffle ids
    // (the corpus has 10+-doc runs of equal length — ingest order
    // surviving would mean the tiebreak is broken)
    val inverted = byPos.sliding(2).exists(p =>
      p(0).getLong(1) == p(1).getLong(1) && p(0).getLong(0) > p(1).getLong(0))
    assert(inverted, "equal-length docs must not stay in id order")
  }

  test("x25 chunking: gap-free coverage, overlap law, bounded fan-out, no shuffle") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 toks → 4 chunks @32/24
      (2L, "a b c"),                                   // short → 1 chunk
      (3L, (1 to 56).map(i => s"t$i").mkString(" "))   // n−W divisible by S → no tail chunk
    ).toDF("doc_id", "text")
    val r = text.Curation.chunkDocuments(docs, window = 32, stride = 24)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // chunk-count law: ceil((n−32)/24)+1
    assert(r.count(_._1 == 1L) == 4 && r.count(_._2 == 0) == 3)
    assert(r.count(_._1 == 2L) == 1 && r.count(_._1 == 3L) == 2,
      "56 toks must give exactly 2 chunks (0..31, 24..55) — no tail chunk")
    // gap-free: consecutive chunks overlap by window − stride
    r.groupBy(_._1).foreach { case (_, cs) =>
      cs.sortBy(_._2).sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1)._3 - p(0)._3 == 24, "starts advance by stride")
        assert(p(0)._3 + p(0)._4 >= p(1)._3, "no token may fall between chunks")
      }
    }
    // last chunk reaches the final token exactly
    assert(r.filter(_._1 == 1L).map(t => t._3 + t._4).max == 100)
    // map-only contract: no exchange in the plan
    val plan = text.Curation.chunkDocuments(docs, 32, 24)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must stay narrow:\n$plan")
  }

  test("x27 DSIR: target slice scores higher than the rest; scoring pass is shuffle-free") {
    val df = text.Curation.dsirImportance(
      Tables.documents(spark, sf), col("source") === "src0")
    val scored = df.join(
        Tables.documents(spark, sf).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source") === "src0", col("avg_micro")).collect()
      .map(r => (r.getBoolean(0), r.getLong(1)))
    // the defining DSIR property: the target domain's own docs carry
    // higher mean importance under the target-vs-raw ratio
    val tgtMean = scored.filter(_._1).map(_._2).sum.toDouble / scored.count(_._1)
    val restMean = scored.filterNot(_._1).map(_._2).sum.toDouble / scored.count(!_._1)
    assert(tgtMean > restMean,
      s"src0 docs must score above the rest: $tgtMean vs $restMean")
    // NOTE no absolute-selection assertion: with a sparse target the
    // add-1 smoothing legitimately drives most per-doc means negative
    // (most buckets have tgt=0) — DSIR is a RANKING signal; resamplers
    // take the top slice, which the mean-separation above certifies.
    // Law consistency: selected ⇔ avg_micro > 0, exactly.
    val law = df.select((col("avg_micro") > 0) === col("selected")).collect()
    assert(law.forall(_.getBoolean(0)), "selected must equal avg_micro > 0")
    // the corpus-scoring pass itself is one narrow fold — the ONLY
    // shuffles in the whole job are the two <=1024-row bucket dists
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must stay narrow:\n$plan")
  }
}
