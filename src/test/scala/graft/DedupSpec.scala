package graft

import org.apache.spark.sql.functions._

class DedupSpec extends GraftSpecBase {

  test("exact dedup keeps one id per distinct content") {
    val docs = Tables.documents(spark, sf)
    val r = dedup.Dedup.exactDedup(docs)
    assert(r.count() == docs.select(md5(col("text"))).distinct().count())
    assert(r.agg(sum(col("n_copies"))).head().getLong(0) == docs.count())
  }

  test("d13 fingerprint dedup folds reordered/re-cased copies that exact dedup keeps apart") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the quick brown fox"),
      (11L, "fox brown THE Quick"),   // reorder + case: same fingerprint
      (12L, "the  quick   brown fox"),// extra whitespace only
      (13L, "a different document")
    ).toDF("doc_id", "text")
    val exact = dedup.Dedup.exactDedup(docs)
    assert(exact.count() == 4, "byte-exact dedup must see 4 distinct contents")
    val fp = dedup.Dedup.fingerprintDedup(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(fp == Map(10L -> 3L, 13L -> 1L),
      s"fingerprint dedup must fold 10/11/12 into keep_id 10, got $fp")
    // conservation: every doc is accounted for exactly once
    assert(fp.values.sum == 4L)
  }

  test("d15 calibration: identical docs score est=exact=1, every real candidate inside tol") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact copy
      (3L, "completely unrelated text body here now")
    ).toDF("doc_id", "text")
    val r = dedup.Dedup.minhashCalibration(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getDouble(2), x.getDouble(3), x.getBoolean(4)))).toMap
    assert(r((1L, 2L)) == ((1.0, 1.0, true)), s"got ${r.get((1L, 2L))}")
    assert(r.size == 1, s"unrelated doc must not pair: $r")
    // the real corpus: every LSH candidate's estimate sits inside the
    // 3σ+ tolerance of its exact jaccard (the verified entry states
    // this as literal truth, so this spec is the early warning)
    val real = dedup.Dedup.minhashCalibration(Tables.documents(spark, sf)).collect()
    assert(real.nonEmpty && real.forall(_.getBoolean(4)),
      s"calibration violations: ${real.filterNot(_.getBoolean(4)).mkString(";")}")
  }

  test("minhash-LSH candidates recover the exact high-jaccard pairs") {
    val docs = Tables.documents(spark, sf)
    val exact = dedup.Dedup.exactJaccardPairs(docs, threshold = 0.7)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = dedup.Dedup.minhashLshPairs(docs, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-dups")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall over exact j>=0.7 pairs was $recall")
  }

  test("d4 df cap does not bind on the verified corpus (capped == uncapped)") {
    val docs = Tables.documents(spark, sf)
    def pairs(maxDf: Long) = dedup.Dedup.exactJaccardPairs(docs, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairs(1000L) // the entry default
    val uncapped = pairs(Long.MaxValue)
    assert(uncapped.nonEmpty, "test data should contain near-dups")
    assert(capped == uncapped,
      s"default cap must be invisible here: missing=${(uncapped -- capped).take(5)}")
  }

  test("d4 df cap defuses a planted hot shingle (bounded candidate set)") {
    import spark.implicits._
    // 60 docs sharing one boilerplate 3-gram, otherwise disjoint text:
    // the hot shingle is each pair's ONLY overlap, so at threshold 0
    // the pair count IS the candidate count the inverted index emits.
    val docs = (0L until 60L)
      .map(i => (i, s"all rights reserved unique$i token$i word$i tail$i"))
      .toDF("doc_id", "text")
    val uncapped = dedup.Dedup.exactJaccardPairs(docs, threshold = 0.0,
      maxDf = Long.MaxValue).count()
    assert(uncapped == 60L * 59 / 2,
      s"uncapped hot shingle must emit all C(60,2) candidate pairs, got $uncapped")
    val capped = dedup.Dedup.exactJaccardPairs(docs, threshold = 0.0,
      maxDf = 10L).count()
    assert(capped == 0,
      s"df cap must drop the df=60 shingle before the self-join, got $capped pairs")
  }

  test("simhash finds the permuted near-dups with hamming 0") {
    val pairs = dedup.Dedup.simhashPairs(Tables.documents(spark, sf))
    assert(pairs.count() > 0)
    assert(pairs.filter(col("hamming") === 0).count() > 0,
      "token-multiset-identical docs must collide exactly")
  }

  test("identity-collapsed simhash banding equals the direct banding bit-for-bit") {
    // the direct spelling: band every doc (not every distinct sig) —
    // the quadratic-in-duplication plan the collapse replaces; on a
    // corpus WITH planted identical-sig families the two must agree
    import graft.functions.GraftFunctions._
    val docs = Tables.documents(spark, sf)
    // plant identical-text copies so the identical-sig path is exercised
    val copies = docs.limit(20)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val corpus = docs.unionByName(copies)
    val direct = {
      val sigs = Tables.spread(corpus)
        .withColumn("tok_hashes", shingle_hashes(col("text"), n = 1, distinct = false))
        .withColumn("sim", simhash64(col("tok_hashes")))
        .select(col("doc_id"), col("sim"))
      val a = sigs.select(col("doc_id").as("a_id"), col("sim").as("sa"),
        explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("chunk", expr("(sa >> (c * 16)) & 65535"))
      val b = sigs.select(col("doc_id").as("b_id"), col("sim").as("sb"),
        explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("chunk", expr("(sb >> (c * 16)) & 65535"))
      a.join(b, Seq("c", "chunk")).filter(col("a_id") < col("b_id"))
        .dropDuplicates("a_id", "b_id")
        .withColumn("hamming", expr("bit_count(sa ^ sb)"))
        .filter(col("hamming") <= 3)
        .select(col("a_id"), col("b_id"), col("hamming"))
    }
    val collapsed = dedup.Dedup.simhashPairs(corpus)
    assert(collapsed.exceptAll(direct).isEmpty && direct.exceptAll(collapsed).isEmpty,
      "collapsed and direct simhash pair sets must be identical")
    assert(collapsed.filter(col("hamming") === 0).count() >= 20L,
      "planted identical copies must appear as hamming-0 pairs")
  }

  test("LSH embedding near-dup: exact-precision subset of the brute-force pairs") {
    val emb = Tables.embeddings(spark, sf)
    val exact = dedup.Dedup.embeddingNearDups(emb, threshold = 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = dedup.Dedup.embeddingNearDupsLsh(emb, threshold = 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(exact), "every LSH pair must be a true near-dup (precision 1)")
    val recall = lsh.size.toDouble / exact.size
    // cos 0.4 pairs are far from duplicates (66 deg apart) — LSH recall
    // is intentionally partial at this angle; true near-dups (cos→1)
    // collide with probability →1
    assert(recall >= 0.15, s"recall $recall")
  }

  test("blocked grid join equals the all-pairs reference exactly") {
    val emb = Tables.embeddings(spark, sf)
    val ref = dedup.Dedup.embeddingNearDups(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = dedup.Dedup.embeddingNearDupsBlocked(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ref.nonEmpty)
    assert(blocked == ref, s"missing=${(ref -- blocked).take(5)} extra=${(blocked -- ref).take(5)}")
  }

  test("blocked grid join is P-invariant above the floor") {
    // the grid width is a pure partitioning dial: every unordered rep
    // pair meets in exactly one cell for ANY P, so an above-floor
    // (and deliberately non-power-of-two) width must reproduce the
    // floor pair set bit-for-bit — the law that makes derivedGridP's
    // corpus-driven width safe to default
    val emb = Tables.embeddings(spark, sf)
    def pairs(p: Int) = dedup.Dedup.embeddingNearDupsBlocked(emb, threshold = 0.4, gridP = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val floor = pairs(8)
    val wide = pairs(13)
    assert(floor.nonEmpty)
    assert(wide == floor,
      s"missing=${(floor -- wide).take(5)} extra=${(wide -- floor).take(5)}")
  }

  test("derivedGridP / derivedNumPlanes: corpus-derived partitioning laws") {
    // both derivations only count the family frame, so any 2-column
    // frame of the right size exercises the law
    import spark.implicits._
    def fam(n: Int) = (1L to n.toLong).map(i => (i, Seq(i.toFloat)))
      .toDF("rep", "embedding")
    // grid width: floor below 8 groups' worth, ceil(n/target) inside,
    // hard cap at 1024
    assert(dedup.Dedup.derivedGridP(fam(100)) == 8, "floor")
    assert(dedup.Dedup.derivedGridP(fam(100), targetGroupSize = 10) == 10, "ceil(100/10)")
    assert(dedup.Dedup.derivedGridP(fam(101), targetGroupSize = 10) == 11, "ceiling rounds up")
    assert(dedup.Dedup.derivedGridP(fam(2000), targetGroupSize = 1) == 1024, "cap")
    // plane count: floor 6 at the verified SFs (the old fixed
    // default), ceil(log2(buckets)) inside
    assert(dedup.Dedup.derivedNumPlanes(fam(500)) == 6, "sf0.01-sized corpus stays on the floor")
    assert(dedup.Dedup.derivedNumPlanes(fam(2000)) == 6, "sf0.1-sized corpus stays on the floor")
    assert(dedup.Dedup.derivedNumPlanes(fam(2000), targetBucketSize = 1) == 11, "ceil(log2(2000))")
    // duplication-invariance: the derivation sees FAMILY reps, so a
    // byte-identical 3x copy corpus derives exactly the base model
    // (the collapse-first law extended to model sizing)
    val emb = Tables.embeddings(spark, sf)
    val copies = (1 to 2).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      .foldLeft(emb)(_ unionByName _)
    val famBase = dedup.Dedup.vecFamilies(emb)
    val famDup = dedup.Dedup.vecFamilies(copies)
    assert(dedup.Dedup.derivedNumPlanes(famDup) == dedup.Dedup.derivedNumPlanes(famBase),
      "copy families must not move the derived plane count")
    assert(dedup.Dedup.derivedGridP(famDup) == dedup.Dedup.derivedGridP(famBase),
      "copy families must not move the derived grid width")
  }

  test("LSH near-dup is exact on actually-near duplicates") {
    // Plant real near-dups (cos ≈ 0.999); chance pairs among 64-dim
    // gaussians sit ≈6σ below the 0.9 threshold, so `exact` is
    // exactly the planted set — and LSH must recover all of it.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0L until 100L).map(i => (i, gauss()))
    val dups = base.take(30).map { case (i, v) =>
      (1000L + i, v.zip(gauss()).map { case (x, g) => x + 0.02f * g })
    }
    val df = (base ++ dups).map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val exact = dedup.Dedup.embeddingNearDups(df, threshold = 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = dedup.Dedup.embeddingNearDupsLsh(df, threshold = 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 30, s"expected exactly the 30 planted dups, got ${exact.size}")
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("connectedComponents clusters embedding pairs too (edge-source-agnostic)") {
    // d6's clustering contract claims any pair set plugs in — prove it
    // with d5's embedding near-dup edges instead of d4's jaccard edges
    val emb = Tables.embeddings(spark, sf)
    val pairs = dedup.Dedup.embeddingNearDupsBlocked(emb, threshold = 0.4)
    val cc = dedup.Clusters.connectedComponents(
      emb.select(col("vec_id").as("doc_id")), pairs.select("a_id", "b_id"))
    val rows = cc.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == emb.count())
    // every cluster id is the min member id, and every edge endpoint
    // pair shares a cluster
    val label = rows.toMap
    val edges = pairs.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(label(a) == label(b), s"edge ($a,$b) split across clusters")
    }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid label is not the min id")
    }
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val r = dedup.Dedup.embeddingNearDups(Tables.embeddings(spark, sf), threshold = 0.4)
    val rows = r.collect()
    assert(rows.forall(x => x.getLong(0) < x.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.4))
  }

  test("d8: a shared paragraph is caught window-exactly, unique text is not") {
    import spark.implicits._
    val boiler = ("the quick brown fox jumps over the lazy dog again and again " * 3).trim
    def uniq(seed: Int) = (1 to 12).map(i => s"w${seed}_$i").mkString(" ")
    val df = Seq(
      (1L, boiler + " " + uniq(1)),       // shares the paragraph with 2
      (2L, uniq(2) + " " + boiler),       // ... at a DIFFERENT offset
      (3L, uniq(3) + " " + uniq(30)),     // all unique
      (4L, "short"))                       // < width -> zero windows
      .toDF("doc_id", "text")
    // stride 1 makes window alignment offset-independent: every
    // width-char substring is a window, so the shared paragraph
    // produces identical windows in both docs wherever it starts
    val got = dedup.Substring.duplicatedWindows(df, width = 40, stride = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(got(1L)._2 > 0 && got(2L)._2 > 0, "shared paragraph must flag both docs")
    assert(got(3L)._2 == 0, "unique doc has no duplicated windows")
    assert(got(4L) == ((0L, 0L, false)), "sub-width doc: zero windows, unflagged")
    // fan-out bound: n_windows = len - width + 1 at stride 1
    assert(got(1L)._1 > 0)
  }

  test("d12: shared spans are stripped from every copy, unique prose survives verbatim") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")      // 10-token shared span
    def uniq(seed: Int) = (1 to 12).map(i => s"w${seed}_$i").mkString(" ")
    val (u1, u2, u3) = (uniq(1), uniq(2), uniq(3))
    val df = Seq(
      (1L, boiler + " " + u1),   // span at offset 0
      (2L, u2 + " " + boiler),   // same span at a DIFFERENT offset
      (3L, u3),                  // all unique
      (4L, "t1 t2 t3"))          // < width -> untouched
      .toDF("doc_id", "text")
    val got = dedup.Substring.stripDupSpans(df, width = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the whole 10-token span is covered in both copies (windows at
    // starts 0..2 within the span overlap to cover all 10 tokens),
    // and ONLY the span: unique prose survives character-exact
    assert(got(1L)._3 == u1, "doc 1 must keep exactly its unique tail")
    assert(got(2L)._3 == u2, "doc 2 must keep exactly its unique head")
    assert(got(1L)._2 >= 10 && got(2L)._2 >= 10, "all span tokens removed")
    assert(got(3L) == ((12L, 0L, u3)), "unique doc is untouched")
    assert(got(4L) == ((3L, 0L, "t1 t2 t3")), "sub-width doc is untouched")
    // layout invariance: repartitioning must not change the result
    val re = dedup.Substring.stripDupSpans(df.repartition(7), width = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(re == got.map { case (k, v) => k -> v._3 })
  }

  test("d10: incremental dedup flags exact and near batch dups; fresh docs pass as new") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "totally unrelated corpus content lives right here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy of 1
      (11L, "one two three four five six seven eight changed"), // near dup of 2
      (12L, "completely novel text that matches nothing at all")).toDF("doc_id", "text")
    val r = dedup.Incremental.incrementalDedup(batch, corpus, hashShingles = false)
      .collect().map(x => x.getLong(0) ->
        ((x.getBoolean(1), if (x.isNullAt(2)) None else Some(x.getLong(2)), x.getBoolean(4)))).toMap
    assert(r(10L)._1, "identical content must flag exact_dup")
    assert(r(10L)._2 == Some(1L), "exact copy is also a jaccard-1 near dup of doc 1")
    assert(!r(11L)._1 && r(11L)._2 == Some(2L), "8/9-shared batch doc is near, not exact")
    assert(r(12L) == ((false, None, true)), "novel doc must come through as new")
    assert(!r(10L)._3 && !r(11L)._3)
  }

  test("d10: hot-shingle valve drops boilerplate postings before the join") {
    import spark.implicits._
    // every corpus doc shares one boilerplate shingle with the batch
    // doc and nothing else: uncapped, the batch doc gets 40 candidate
    // hits; with the cap the boilerplate shingle is pruned and no
    // near verdict survives
    val corpus = (0L until 40L)
      .map(i => (i, s"all rights reserved u$i v$i w$i x$i")).toDF("doc_id", "text")
    val batch = Seq((100L, "all rights reserved novel words here now")).toDF("doc_id", "text")
    def run(cap: Long) = dedup.Incremental
      .incrementalDedup(batch, corpus, threshold = 0.0, maxDf = cap, hashShingles = false)
      .collect().map(x => (x.getLong(0), x.isNullAt(2))).toMap
    assert(!run(1000L)(100L), "uncapped: the shared boilerplate shingle pairs the doc")
    assert(run(10L)(100L), "df cap must prune the df=40 shingle before the join")
  }

  test("d11: containment flags a short doc inside a long one where jaccard is blind") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val filler = (1 to 80).map(i => s"pad$i word$i tok$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                     // fully contained in 2
      (2L, s"$filler $quote $filler"), // long container
      (3L, "an unrelated document about something else entirely here")).toDF("doc_id", "text")
    val cont = dedup.Dedup.containmentPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(cont.contains((1L, 2L)), s"contained quote must pair: $cont")
    val (ca, cb) = cont((1L, 2L))
    assert(ca >= 0.8, s"all of doc 1's shingles sit inside doc 2: $ca")
    assert(cb < 0.2, s"the container is mostly NOT the quote: $cb")
    assert(cont.size == 1, "unrelated doc must not pair")
    // jaccard at d4's own threshold misses this pair by construction
    val j = dedup.Dedup.exactJaccardPairs(docs, threshold = 0.5).count()
    assert(j == 0, "symmetric jaccard dilutes below threshold on asymmetric sizes")
  }

  test("d9: auto-derived cell count scales with the corpus and bounds cells on a skewed corpus") {
    import spark.implicits._
    // Skewed corpus: 80% of vectors huddle in one tight direction
    // cluster, 20% isotropic noise — the adversarial case for a
    // FIXED cell count (one mega-cell → quadratic in-cell work).
    val rnd = new scala.util.Random(11)
    val hub = Array.fill(64)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 3000L).map { i =>
      val v =
        if (i % 5 != 0) hub.map(x => x + 0.15f * rnd.nextGaussian().toFloat)
        else Array.fill(64)(rnd.nextGaussian().toFloat)
      (i, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val target = 100
    val r = dedup.SemDedup.semanticDedup(df, targetCellSize = target, threshold = 0.9999)
    val pops = r.groupBy("cell").count().collect()
      .map(x => (x.getInt(0), x.getLong(1)))
    // k derives to ceil(3000/100) = 30 — the quantizer actually uses
    // the extra cells (occupied ids beyond the old fixed 16) …
    assert(pops.map(_._1).max >= 16,
      s"derived k must exceed the old fixed 16: occupied=${pops.map(_._1).sorted.toSeq}")
    // … and no cell collapses into a corpus-fraction mega-cell: the
    // dense hub splits across many centroids, keeping per-cell
    // (quadratic) work bounded near the target.
    val maxPop = pops.map(_._2).max
    assert(maxPop <= 6L * target,
      s"skewed corpus must not collapse into one cell: max=$maxPop pops=${pops.toSeq.sortBy(-_._2).take(5)}")
  }

  test("d9: semantic dedup keeps min-id anchors; deduped corpus is a fixed point") {
    val emb = Tables.embeddings(spark, sf)
    val r = dedup.SemDedup.semanticDedup(emb).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2),
        if (x.isNullAt(3)) None else Some(x.getLong(3)), x.getBoolean(4)))
    assert(r.nonEmpty && r.exists(!_._5), "the corpus has semantic near-dups")
    r.foreach { case (id, cell, n, dupOf, keep) =>
      assert(keep == dupOf.isEmpty, s"$id: keep iff no anchor")
      assert(keep == (n == 0L), s"$id: n_dups_smaller consistent with keep")
      dupOf.foreach(a => assert(a < id, s"$id: anchor must be a smaller id"))
      assert(cell >= 0 && cell < 16, s"$id: cell in range")
    }
    // anchors are themselves dropped-free chains: dup_of points at a
    // smaller id, so following it terminates; and a dropped vector's
    // anchor shares its cell by construction (same-cell join)
    val cellOf = r.map(x => x._1 -> x._2).toMap
    r.foreach { case (id, cell, _, dupOf, _) =>
      dupOf.foreach(a => assert(cellOf(a) == cell, s"$id: anchor in same cell"))
    }
    // fixed point: under the same cells, no kept vector has a smaller
    // kept same-cell neighbor at cosine >= tau (0.4), so deduping the
    // kept set with this quantizer would drop nothing
    import spark.implicits._
    import graft.functions.GraftFunctions.cosine_sim
    val kept = r.filter(_._5).map(x => (x._1, x._2)).toSeq.toDF("vec_id", "cell")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    val leftover = kept.alias("a")
      .join(kept.alias("b"), col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .filter(cosine_sim(col("a.embedding"), col("b.embedding")) >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
    assert(leftover.isEmpty,
      s"kept same-cell pairs still at cosine >= 0.4: ${leftover.take(5).toSeq}")
  }

  test("d14 cross-source matrix: pair sources fold unordered, counts hand-checked") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    val docs = Seq(
      (1L, "web"), (2L, "books"),   // cross pair, web<books reversed by least/greatest
      (3L, "books"), (4L, "web"),   // same cross pair the other way around
      (5L, "web"), (6L, "web"))     // within-source pair
      .toDF("doc_id", "source")
    val r = dedup.Dedup.crossSourceDupes(pairs, docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r == Map(
      ("books", "web") -> ((2L, 4L)),
      ("web", "web") -> ((1L, 2L))), s"got $r")
    // real corpus: every pair lands in exactly one matrix cell
    val full = dedup.Dedup.d14(spark, sf).collect()
    val nPairs = dedup.Dedup.exactJaccardPairs(Tables.documents(spark, sf)).count()
    assert(full.map(_.getLong(2)).sum == nPairs,
      "matrix must partition the pair set")
  }

  test("d19 threshold sweep: hand-checked rung counts, empty rungs emit no row") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.85), (1L, 3L, 0.62), (4L, 5L, 0.55))
      .toDF("a_id", "b_id", "jaccard")
    val docs = (1L to 10L).toDF("doc_id")
    val r = dedup.Dedup.thresholdSweep(pairs, docs).collect()
      .map(x => math.round(x.getDouble(0) * 100) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r.size == 8, s"rungs 0.9/0.95 have no pairs and must be absent: $r")
    assert(r(50) == ((3L, 5L, 0.5)) && r(55) == ((3L, 5L, 0.5)), s"got $r")
    assert(r(60) == ((2L, 3L, 0.3)), s"got ${r(60)}")
    assert(r(65) == ((1L, 2L, 0.2)) && r(85) == ((1L, 2L, 0.2)), s"got $r")
  }

  test("d22 shingle DF profile: planted buckets exact, posting and pair mass conserve on the corpus") {
    import spark.implicits._
    // docs 1-2 identical ("a b c","b c d" each df=2); doc 3 contributes
    // three singleton shingles
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val r = dedup.Dedup.shingleDfProfile(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r(1L) == ((1L, 3L, 3L, 0L)), s"df=1 bucket: ${r(1L)}")
    assert(r(2L) == ((5L, 2L, 4L, 2L)), s"df 2-5 bucket: ${r(2L)}")
    assert(r.size == 2, s"empty buckets emit no row: $r")
    // corpus: buckets partition the vocabulary; masses reconcile with
    // an independent recount of the same shingle stream
    val full = dedup.Dedup.d22(spark, sf).collect()
    val sh = Tables.documents(spark, sf)
      .select(explode(
        graft.functions.GraftFunctions.shingle_hashes(col("text"), 3)).as("s"))
      .groupBy("s").count().select("count").as[Long].collect()
    assert(full.map(_.getLong(2)).sum == sh.length.toLong,
      "bucket shingle counts must partition the vocabulary")
    assert(full.map(_.getLong(3)).sum == sh.sum,
      "bucket posting mass must equal total postings")
    assert(full.map(_.getLong(4)).sum == sh.map(d => d * (d - 1) / 2).sum,
      "bucket pair mass must equal the exact quadratic sum")
  }

  test("d16 degree histogram: planted triple-dup family, degree-0 population kept") {
    import spark.implicits._
    // docs 1-3 identical (3 pairs, degree 2 each); 4-5 unique (degree 0)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "totally different words here now"),
      (5L, "unrelated content entirely fresh stuff"))
      .toDF("doc_id", "text")
    val hist = dedup.Dedup.dupDegreeHistogram(
        dedup.Dedup.exactJaccardPairs(docs), docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(0L -> 2L, 2L -> 3L), s"got $hist")
    // real corpus: histogram partitions the corpus, degree mass = 2|pairs|
    val full = dedup.Dedup.d16(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(full.map(_._2).sum == Tables.documents(spark, sf).count(),
      "histogram must cover every doc")
    assert(full.map { case (d, n) => d * n }.sum ==
      2 * dedup.Dedup.exactJaccardPairs(Tables.documents(spark, sf)).count(),
      "total degree must equal twice the pair count")
  }

  test("d17 survivorship: the higher-quality copy wins, not the lower id") {
    import spark.implicits._
    // 1 and 2 are near-dups; 2 has the richer text (more tokens →
    // higher t1 score), so 2 must be the representative despite 1's
    // smaller id. 3 is unrelated (singleton, excluded).
    val rich = (1 to 60).map(i => s"the word$i and of to in").mkString(" ")
    val poor = (1 to 60).map(i => s"the word$i and of to in").take(55).mkString(" ") + " !!!! ???? ;;;; ::::"
    val docs = Seq((1L, poor), (2L, rich), (3L, "something else entirely unrelated here"))
      .toDF("doc_id", "text")
    val r = dedup.Clusters.bestRepDedup(docs, dedup.Dedup.exactJaccardPairs(docs))
      .collect().map(x => x.getLong(0) -> ((x.getLong(3), x.getBoolean(4)))).toMap
    assert(r.keySet == Set(1L, 2L), s"singleton must be excluded: $r")
    assert(r(1L) == ((2L, false)) && r(2L) == ((2L, true)),
      s"quality argmax must pick doc 2: $r")
    // real corpus: exactly one keeper per cluster, keeper has max score
    val full = dedup.Clusters.d17(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3), x.getBoolean(4)))
    full.groupBy(_._2).values.foreach { cl =>
      val keepers = cl.filter(_._5)
      assert(keepers.length == 1, s"exactly one keeper per cluster: $cl")
      assert(keepers.head._3 == cl.map(_._3).max, "keeper must have the max quality")
      assert(cl.forall(_._4 == keepers.head._1), "rep_id must be the keeper")
    }
  }

  test("d18 cluster report: spreads bracket the members; clusters match d6's non-singletons") {
    val rep = dedup.Clusters.d18(spark, sf).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4)))).toMap
    rep.values.foreach { case (size, lo, hi, sumE6) =>
      val mean = sumE6.toDouble / 1e6 / size
      assert(size > 1 && lo <= mean + 1e-6 && mean <= hi + 1e-6,
        s"spread must bracket the mean: ${(size, lo, hi, mean)}")
    }
    val d6Sizes = dedup.Clusters.d6(spark, sf).collect()
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(rep.view.mapValues(_._1).toMap == d6Sizes,
      "d18 must report exactly d6's clusters with the same sizes")
  }

  test("joinback LSH (narrow band shuffle, zero signature shuffles) is pair-identical to d2's form") {
    val docs = Tables.documents(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShuffle = pairs(dedup.Dedup.minhashLshPairs(docs))
    val joinback = pairs(dedup.Dedup.minhashLshPairsJoinback(docs))
    assert(joinback == oneShuffle,
      s"joinback-only: ${(joinback -- oneShuffle).take(3)}; one-shuffle-only: ${(oneShuffle -- joinback).take(3)}")
    assert(oneShuffle.nonEmpty, "fixture must produce candidate pairs")
  }

  test("d23 fuzzy contamination: cross-split leaks surface, train-only dupes don't, ties pick min id") {
    import spark.implicits._
    // splits are mix64(doc_id)-determined, so build the fixture FROM
    // the split assignment: plant one dup group straddling the
    // boundary, one train-only dup group, one clean held doc
    val ids = (0L until 40L).toDF("doc_id")
    val splitOf = text.Curation.hashSplit(ids, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val trains = (0L until 40L).filter(splitOf(_) == "train")
    val helds = (0L until 40L).filter(i => splitOf(i) != "train")
    assert(trains.size >= 3 && helds.size >= 2, s"fixture needs both sides: $splitOf")
    val leakText = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val cleanTrainText = "one two three four five six seven eight nine ten " * 4
    val docs = Seq(
      (trains(0), leakText), (trains(1), leakText), (helds(0), leakText),
      (trains(2), cleanTrainText),
      (helds(1), "totally unrelated words nothing shared here at all " * 4))
      .toDF("doc_id", "text")
    val r = dedup.Contamination.fuzzyContamination(docs).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r.keySet == Set(helds(0)),
      s"only the straddling held doc is contaminated: $r (helds=$helds trains=$trains)")
    val (hsplit, worstId, worstEst) = r(helds(0))
    assert(hsplit == splitOf(helds(0)))
    assert(worstId == math.min(trains(0), trains(1)),
      "identical-text tie must break to the smaller train id")
    assert(worstEst == 1.0, s"byte-identical leak estimates 1.0: $worstEst")
  }

  test("identity-collapse cross-family fan-out: member pairs inherit the rep pair's est exactly") {
    import spark.implicits._
    // two multi-member families with DIFFERENT signatures that still
    // agree above threshold: family A = two byte-identical copies,
    // family B = two byte-identical copies of a one-token edit of A.
    // The rep pair (minA, minB) is found by banding; expandRepPairs
    // must fan it out to all four cross pairs, each carrying the SAME
    // est (est is a function of the signature pair), alongside the
    // two within-family est=1.0 pairs.
    // ~60 DISTINCT tokens and a single-token edit → shingle jaccard
    // ≈ 55/61 ≈ 0.90, where the 16×8 S-curve detects with p ≈ 1.0
    // (at j ≈ 0.6 detection is only ~0.24 — a repeated-text fixture
    // flaked here first); the minhash seed is fixed, so collision is
    // deterministic for this exact fixture either way
    val textA = (1 to 60).map(i => s"tok$i").mkString(" ")
    val textB = textA.replace("tok30", "CHANGED")
    val docs = Seq((1L, textA), (2L, textA), (10L, textB), (11L, textB))
      .toDF("doc_id", "text")
    for ((name, pairsOf) <- Seq(
      "d2" -> ((d: org.apache.spark.sql.DataFrame) => dedup.Dedup.minhashLshPairs(d, threshold = 0.5)),
      "d2b" -> ((d: org.apache.spark.sql.DataFrame) => dedup.Dedup.minhashLshPairsJoinback(d, threshold = 0.5)))) {
      val got = pairsOf(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.get(1L -> 2L).contains(1.0) && got.get(10L -> 11L).contains(1.0),
        s"$name: within-family pairs must be est=1.0: $got")
      val cross = Seq(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L)
      assert(cross.forall(got.contains),
        s"$name: all four cross-family member pairs must surface: $got")
      val ests = cross.map(got).distinct
      assert(ests.size == 1 && ests.head >= 0.5 && ests.head < 1.0,
        s"$name: cross pairs must share one sub-1.0 est (the rep pair's): $ests")
      assert(got.size == 6, s"$name: exactly C(4,2)=6 pairs, no dupes: $got")
    }
  }

  test("collapse-first d4/d11: duplicated fixture matches driver-computed truth, swap and empty-shingle laws hold") {
    import spark.implicits._
    // B = 40 unique tokens; A = a contiguous 16-token excerpt of B
    // (containment 1.0 into B, jaccard only ~0.37); D = B with the
    // last token edited (jaccard ~0.85). Families: A×2 with ids
    // STRADDLING B's ids (5, 40) so the fan-out's least/greatest
    // reorder actually fires; B×2 (10, 11); D×2 (50, 51); one
    // sub-3-token text duplicated (30, 31) that must NEVER pair
    // (no shingles → absent from the posting join, old law).
    val toks = (1 to 40).map(i => s"tok$i")
    val B = toks.mkString(" ")
    val A = toks.slice(9, 25).mkString(" ")
    val D = (toks.init :+ "CHANGED").mkString(" ")
    val docs = Seq(5L -> A, 40L -> A, 10L -> B, 11L -> B,
      50L -> D, 51L -> D, 30L -> "hi there", 31L -> "hi there")
      .toDF("doc_id", "text")
    def shset(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val texts = Map(5L -> A, 40L -> A, 10L -> B, 11L -> B, 50L -> D, 51L -> D)
    def jac(x: Long, y: Long): Double = {
      val (sa, sb) = (shset(texts(x)), shset(texts(y)))
      BigDecimal(sa.intersect(sb).size.toDouble / sa.union(sb).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = texts.keySet.toSeq.sorted
    val expectedJ = (for {
      a <- ids; b <- ids if a < b
      j = jac(a, b) if j >= 0.5
    } yield (a, b) -> j).toMap
    val gotJ = dedup.Dedup.exactJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotJ == expectedJ,
      s"d4 must equal the naive all-docs jaccard join:\n got $gotJ\n exp $expectedJ")
    assert(!gotJ.keySet.exists(p => Set(30L, 31L)(p._1) || Set(30L, 31L)(p._2)),
      "zero-shingle docs must never pair")
    // d11: same truth for containment, threshold 0.8
    def cont(x: Long, y: Long): (Double, Double) = {
      val (sa, sb) = (shset(texts(x)), shset(texts(y)))
      val sh = sa.intersect(sb).size.toDouble
      def r6(v: Double) =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6(sh / sa.size), r6(sh / sb.size))
    }
    val expectedC = (for {
      a <- ids; b <- ids if a < b
      (ca, cb) = cont(a, b) if math.max(ca, cb) >= 0.8
    } yield (a, b) -> ((ca, cb))).toMap
    val gotC = dedup.Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(gotC == expectedC,
      s"d11 must equal the naive containment join (incl. the fan-out swap):\n got $gotC\n exp $expectedC")
    // the swap case is genuinely present: a pair where the fan-out
    // reordered members across families, with ASYMMETRIC ratios
    assert(gotC.get(10L -> 40L).exists { case (ca, cb) => ca < 1.0 && cb == 1.0 },
      s"swapped pair (10,40) must carry B-side ratio first: ${gotC.get(10L -> 40L)}")
  }

  test("identity-collapsed d5: both spellings equal the direct pairing on a duplicated vector fixture") {
    // the r9-lead fixture: byte-identical embedding copies (identical
    // images → identical CLIP vectors). The collapse must (1) emit
    // every within-family pair at cosine(v,v), (2) fan every rep pair
    // out to all member pairs with the rep cosine, and the result must
    // equal the direct per-copy pairing bit-for-bit.
    val emb = Tables.embeddings(spark, sf)
    val copies = emb.limit(25)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    val corpus = emb.unionByName(copies)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // blocked spelling vs the all-pairs reference (the direct pairing)
    val ref = pairs(dedup.Dedup.embeddingNearDups(corpus, threshold = 0.4))
    val blocked = pairs(dedup.Dedup.embeddingNearDupsBlocked(corpus, threshold = 0.4))
    assert(ref.exists(_._3 >= 0.999), "fixture must contain identical-vector pairs")
    assert(blocked == ref,
      s"missing=${(ref -- blocked).take(5)} extra=${(blocked -- ref).take(5)}")
    // LSH spelling vs the DIRECT (per-copy, wide-exchange) LSH it
    // replaces — the quadratic-in-duplication plan, inlined here as
    // the oracle (same planes/seed, so buckets are deterministic)
    import graft.functions.GraftFunctions._
    val direct = {
      val bucketed = corpus.select(col("vec_id"), col("embedding"))
        .withColumn("bucket", hyperplane_bucket(col("embedding"), 6, 42L))
      val probed = bucketed.withColumn("probe", explode(expr(
        "concat(array(int(bucket)), transform(sequence(0, 5), i -> int(bucket) ^ shiftleft(1, i)))")))
      probed.alias("a")
        .join(bucketed.alias("b"),
          col("a.probe") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          col("a.embedding").as("ea"), col("b.embedding").as("eb"))
        .dropDuplicates("a_id", "b_id")
        .withColumn("cos", cosine_sim(col("ea"), col("eb")))
        .filter(col("cos") >= 0.4)
        .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
    }
    val collapsed = pairs(dedup.Dedup.embeddingNearDupsLsh(corpus, threshold = 0.4))
    assert(collapsed == pairs(direct),
      s"collapsed-only=${(collapsed -- pairs(direct)).take(5)} " +
        s"direct-only=${(pairs(direct) -- collapsed).take(5)}")
    // every planted copy pairs with its original at cosine ≈ 1
    val identical = collapsed.filter { case (a, b, _) => b - a == 10000000L }
    assert(identical.size == 25 && identical.forall(_._3 >= 0.999),
      s"all 25 copy pairs must surface at cos≈1: ${identical.size}")
  }

  test("vecFamilies hot-family valve: strict fails NAMED, report mode skips and reports") {
    import spark.implicits._
    val vec = Seq(1.0f, 2.0f, 3.0f)
    val emb = ((1L to 6L).map(i => (i, vec)) ++
      Seq((50L, Seq(9.0f, 8.0f, 7.0f))))
      .toDF("vec_id", "embedding")
    val ex = intercept[Throwable] {
      dedup.Dedup.vecFamilies(emb, maxFamily = 4).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    val m = chain(ex)
    assert(m.contains("maxFamily=4") && m.contains("6 copies of one vector"),
      s"valve must name itself and the family size: $m")
    // report mode: the family is dropped, the singleton survives,
    // and the report names exactly the dropped family
    val kept = dedup.Dedup.vecFamilies(emb, maxFamily = 4,
      skipOversized = true).collect().map(_.getAs[Long]("rep"))
    assert(kept.toSeq == Seq(50L), s"report mode must keep only the singleton: ${kept.toSeq}")
    val rep = dedup.Dedup.oversizedVecFamilies(emb, maxFamily = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.toSeq == Seq((1L, 6L)),
      s"report must name the skipped family (rep, n_copies): ${rep.toSeq}")
    // (end-to-end skip semantics through a pair operator is pinned by
    // the 10⁶⁺ fixture below, where the DEFAULT cap genuinely binds)
  }

  test("textFamilies hot-family valve: strict fails NAMED, report mode skips; d4/d11 ride the choice") {
    // VERDICT r11 item 5 (valve parity): vec/sim/sig families each
    // had a direct planted-oversize spec; the text-family flavor —
    // the one feeding d4/d11/d15 — was only exercised indirectly
    // through the calibration entry. Same contract, spec'd directly.
    import spark.implicits._
    val docs = ((1L to 6L).map(i => (i, "the same exact boilerplate text body repeated verbatim")) ++
      Seq((50L, "a genuinely unique document body unlike any other here")))
      .toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      dedup.Dedup.textFamilies(docs, maxFamily = 4).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    val m = chain(ex)
    assert(m.contains("maxFamily=4") && m.contains("6 copies of one text"),
      s"valve must name itself and the family size: $m")
    assert(m.contains("exactDedup"), s"valve must point at the d1 remedy: $m")
    // report mode: the family is dropped, the singleton survives,
    // and the report names exactly the dropped family
    val kept = dedup.Dedup.textFamilies(docs, maxFamily = 4,
      skipOversized = true).collect().map(_.getAs[Long]("rep"))
    assert(kept.toSeq == Seq(50L),
      s"report mode must keep only the singleton: ${kept.toSeq}")
    val rep = dedup.Dedup.oversizedTextFamilies(docs, maxFamily = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.toSeq == Seq((1L, 6L)),
      s"report must name the skipped family (rep, n_copies): ${rep.toSeq}")
    // (end-to-end pass-through at the DEFAULT cap — strict on the sig
    // path, report through exactJaccardPairs + oversizedTextFamilies
    // on the text path — is pinned by the 10⁶⁺ fixture test below)
  }

  test("collapse-first d15 equals the direct per-copy calibration on a duplicated fixture") {
    // r10: the old spelling joined BOTH full shingle arrays onto
    // every member pair (per-pair array exchange, copies² on a
    // duplicated corpus). Both scores are functions of the shingle
    // sets members share with reps, so the rep-calibrate + fan-out
    // must be value-identical to the per-copy spelling, inlined here
    // as the oracle.
    import graft.functions.GraftFunctions._
    val docs0 = Tables.documents(spark, sf)
    val copies = docs0.limit(20)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val corpus = docs0.unionByName(copies)
    val direct = {
      val sets = Tables.spread(corpus)
        .withColumn("sh", shingle_hashes(col("text"), 3))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"))
      dedup.Dedup.minhashLshPairs(corpus, 0.5)
        .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), Seq("a_id"))
        .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), Seq("b_id"))
        .withColumn("__shared", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("exact_jaccard", round(col("__shared").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("__shared")), 6))
        .select(col("a_id"), col("b_id"), col("est_jaccard"), col("exact_jaccard"),
          (abs(col("est_jaccard") - col("exact_jaccard")) <= 0.15).as("within_tol"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toSet
    val got = rows(dedup.Dedup.minhashCalibration(corpus))
    val exp = rows(direct)
    assert(got == exp,
      s"collapsed-only=${(got -- exp).take(3)} direct-only=${(exp -- got).take(3)}")
    // the planted copies surface as exact 1.0/1.0/true pairs
    assert(got.exists { case (a, b, e, x, t) =>
      b - a == 10000000L && e == 1.0 && x == 1.0 && t })
  }

  test("simFamilies valve (d3): strict fails NAMED, report mode drops the family") {
    import spark.implicits._
    // round 10: d3 was the one collapse path without a valve — its
    // in-row triangle expansion has the same B²/2 buffer exposure
    val sigs = ((1L to 6L).map(i => (i, 7L)) ++ Seq((50L, 99L)))
      .toDF("doc_id", "sim")
    val ex = intercept[Throwable] {
      dedup.Dedup.simFamilies(sigs, maxFamily = 4).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    val m = chain(ex)
    assert(m.contains("maxFamily=4") && m.contains("6 docs share one simhash signature"),
      s"valve must name itself and the family size: $m")
    assert(m.contains("exactDedup"), s"valve must point at the d1 remedy: $m")
    val kept = dedup.Dedup.simFamilies(sigs, maxFamily = 4,
      skipOversized = true).collect().map(_.getAs[Long]("rep"))
    assert(kept.toSeq == Seq(50L),
      s"report mode must keep only the singleton: ${kept.toSeq}")
  }

  test("valve report mode on a planted 10⁶⁺ family: strict throws, report completes") {
    import spark.implicits._
    // sig path: one identical-signature family one past the DEFAULT cap
    val sigs = spark.range(1000001L)
      .select(col("id").as("doc_id"), array(lit(7), lit(7)).as("sig"))
    val ex = intercept[Throwable] {
      dedup.Dedup.sigFamilies(sigs.toDF()).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    assert(chain(ex).contains("maxFamily=1000000"),
      s"default strict cap must fire at 1000001: ${chain(ex)}")
    val reported = dedup.Dedup.sigFamilies(sigs.toDF(),
      skipOversized = true).count()
    assert(reported == 0L, "report mode must drop the oversized family and complete")
    // text path end to end: the oversized family is skipped by the
    // pair operator, surviving near-dups still pair, report names it
    val toks = (1 to 40).map(i => s"tok$i")
    val B = toks.mkString(" ")
    val D = (toks.init :+ "CHANGED").mkString(" ")
    val docs = spark.range(1000001L)
      .select(col("id").as("doc_id"), lit(B).as("text"))
      .unionByName(Seq(2000000L -> D, 2000001L -> D).toDF("doc_id", "text"))
    val got = dedup.Dedup.exactJaccardPairs(docs, skipOversized = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2000000L, 2000001L, 1.0)),
      s"only the surviving family's pair may emit: ${got.take(5)}")
    val rep = dedup.Dedup.oversizedTextFamilies(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.toSeq == Seq((0L, 1000001L)),
      s"report must name the skipped 10⁶⁺ family: ${rep.toSeq}")
  }

  test("minhashCalibration valve: strict throws on a 10⁶⁺ family, skipOversized calibrates the survivors") {
    import spark.implicits._
    // ADVICE r10: calibration was the one pair operator routed
    // through the strict valve without the report-mode escape hatch —
    // a corpus with one >MaxFamilySize byte-identical family could
    // not be calibrated AT ALL. Same planted fixture as the d4 valve
    // spec: a family one past the default cap plus one surviving
    // near-dup pair.
    val toks = (1 to 40).map(i => s"tok$i")
    val B = toks.mkString(" ")
    val D = (toks.init :+ "CHANGED").mkString(" ")
    val docs = spark.range(1000001L)
      .select(col("id").as("doc_id"), lit(B).as("text"))
      .unionByName(Seq(2000000L -> D, 2000001L -> D).toDF("doc_id", "text"))
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    val ex = intercept[Throwable] {
      dedup.Dedup.minhashCalibration(docs).collect()
    }
    assert(chain(ex).contains("maxFamily=1000000"),
      s"strict mode must fail named on the oversized family: ${chain(ex)}")
    val got = dedup.Dedup.minhashCalibration(docs, skipOversized = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toSet
    assert(got == Set((2000000L, 2000001L, 1.0, 1.0, true)),
      s"report mode must calibrate exactly the surviving family's pair: ${got.take(5)}")
  }

  test("sigFamilies hot-family valve: oversized family fails NAMED, capped corpora fold unchanged") {
    import spark.implicits._
    // an identical-signature family of 6 + two singletons
    val sigs = ((1L to 6L).map(i => (i, Seq(7, 7, 7))) ++
      Seq((50L, Seq(1, 2, 3)), (60L, Seq(4, 5, 6))))
      .toDF("doc_id", "sig")
    val ex = intercept[Throwable] {
      dedup.Dedup.sigFamilies(sigs, maxFamily = 4).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    val m = chain(ex)
    assert(m.contains("maxFamily=4"), s"valve must name itself: $m")
    assert(m.contains("6 docs"), s"valve must state the family size: $m")
    assert(m.contains("exactDedup"), s"valve must point at the d1 remedy: $m")
    // below the cap the valve is a no-op: 3 families, reps = min ids
    val ok = dedup.Dedup.sigFamilies(sigs, maxFamily = 6)
      .collect().map(r => r.getLong(2) -> r.getSeq[Long](1).sorted).toMap
    assert(ok == Map(1L -> (1L to 6L), 50L -> Seq(50L), 60L -> Seq(60L)),
      s"families must collapse exactly on signature identity: $ok")
    // and the d2 entry path (default cap) is untouched by the guard:
    // the 6-copy family surfaces as 15 est=1.0 pairs
    val docs = ((1L to 6L).map(i => (i, "alpha beta gamma delta epsilon zeta eta")) ++
      Seq((50L, "one two three four five six seven"))).toDF("doc_id", "text")
    val pairs = dedup.Dedup.minhashLshPairs(docs).collect()
    assert(pairs.length == 15 && pairs.forall(_.getDouble(2) == 1.0),
      s"6-copy family must emit C(6,2)=15 est=1.0 pairs: ${pairs.length}")
  }
}
