package graft

import org.apache.spark.sql.functions._

class SimilaritySpec extends GraftSpecBase {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)

  test("derived cell count: floor at verified scales, linear growth past it, null rows excluded (VERDICT r12 item 1)") {
    import spark.implicits._
    def corpus(n: Int, nulls: Int = 0): org.apache.spark.sql.DataFrame =
      ((0 until n).map(i => (i.toLong, Option(Seq(1f, 0f)))) ++
        (0 until nulls).map(i => ((n + i).toLong, Option.empty[Seq[Float]])))
        .toDF("vec_id", "embedding")
    // two corpus sizes: below the floor the derived k IS the old
    // fixed default; past it the count grows as ceil(n/128)
    assert(similarity.Similarity.derivedNumCells(corpus(500)) == 16,
      "500 vectors must derive the floor (ceil(500/128)=4 -> clamp 16)")
    assert(similarity.Similarity.derivedNumCells(corpus(5000)) == 40,
      "5000 vectors must derive ceil(5000/128)=40")
    // n counts NON-NULL embeddings only — the population the trainer
    // ingests and the oracle's `e` CTE counts, so the SQL replay's
    // cents0 LIMIT lands on the same k
    assert(similarity.Similarity.derivedNumCells(corpus(2048, nulls = 3000)) == 16,
      "null-embedding rows must not inflate the derived count")
    // the verified corpora sit on the floor, so every family entry
    // trains the SAME quantizer the fixed-16 default trained — the
    // oracle-parity invariance the CORRECTNESS gate rides on
    assert(similarity.Similarity.derivedNumCells(Tables.vectors(spark, sf)) == 16,
      "the test corpus must derive the floor, keeping replays bit-identical")
    // and the derived default therefore changes NOTHING on the exact
    // results here: graph(default) == graph(explicit 16)
    val d = similarity.Similarity.knnGraph(emb)
      .collect().map(_.toSeq).toSet
    val p = similarity.Similarity.knnGraph(emb, numCells = 16)
      .collect().map(_.toSeq).toSet
    assert(d == p, "derived-default graph must equal the explicit-16 graph at the floor")
  }

  test("knnGraph above the floor: derived 40-cell graph matches an independent local recomputation") {
    // The verified corpora all derive the floor 16, so the oracle
    // gate never exercises k > 16 — this pins CORRECTNESS of the
    // derived path above the floor (the 10× bench only pins speed).
    // 5000 deterministic unit vectors on a 2-sphere ring → derived
    // k = ceil(5000/128) = 40; the expected graph is recomputed
    // LOCALLY from the same trained centroid matrix (plain Scala,
    // no Spark ops), so a bug in the distributed assignment,
    // within-cell join, or rank window cannot cancel itself out.
    import spark.implicits._
    val n = 5000
    val vecs: Seq[(Long, Seq[Float])] = (0 until n).map { i =>
      val t = 2.0 * math.Pi * i / n
      (i.toLong, Seq(math.cos(t).toFloat, math.sin(t).toFloat,
        (0.25 * math.cos(3 * t)).toFloat))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    assert(similarity.Similarity.derivedNumCells(corpus) == 40)
    val got = similarity.Similarity.knnGraph(corpus, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // independent local recomputation from the SAME deterministic
    // trainer output (centroidMatrix is pure in (corpus, k, iters))
    val cents = similarity.Similarity.centroidMatrix(corpus, 40, iters = 3)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (den == 0.0) -2.0 else dot / den
    }
    val local = vecs.map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    def bestCell(v: Array[Double]): Int =
      cents.map { case (cid, ce) => (cid, cos(v, ce.map(_.toDouble))) }
        .maxBy { case (cid, c) => (c, -cid) }._1 // ties → smallest cell id
    val cellOf = local.map { case (id, v) => id -> bestCell(v) }
    val expected = local.keys.toSeq.sorted.flatMap { id =>
      val mine = cellOf(id)
      local.keys.toSeq
        .filter(o => o != id && cellOf(o) == mine)
        .map(o => (o, cos(local(id), local(o))))
        .sortBy { case (o, c) => (-c, o) }
        .take(3).zipWithIndex
        .map { case ((o, c), rk) =>
          (id, o, rk + 1L, math.rint(c * 1e6) / 1e6) }
    }.toSet
    assert(got.toSet == expected,
      s"graph diverged from local recomputation: spark-only=" +
        s"${(got.toSet -- expected).take(3)}, local-only=${(expected -- got.toSet).take(3)}")
    // and the derivation genuinely left the floor: >16 occupied cells
    assert(cellOf.values.toSet.size > 16,
      s"the 40-cell quantizer must actually spread past the old fixed 16: ${cellOf.values.toSet.size}")
  }

  test("nprobeCurve above the floor: brute-force baseline branch engages, recall climbs from a sub-1.0 single probe") {
    // At the verified scales the derived cell count equals the
    // ladder max (16), so the curve's exact baseline rides the
    // all-cells prefix and the `else bruteForceKnn` branch NEVER
    // runs. Above the floor (derived 40 > ladder max 16) the
    // baseline must switch to the true brute force and the rung
    // recalls must behave like an honest IVF curve: monotone
    // nondecreasing in nprobe, hits bounded by k·|queries|, a
    // genuinely climbing curve, and a sub-1.0 single-probe rung
    // (1.0 everywhere would mean the baseline silently compared
    // the approximation against itself).
    import spark.implicits._
    // seeded-random 16-dim vectors (deterministic): true neighbors
    // straddle cell boundaries, unlike a smooth ring where a query's
    // whole neighborhood shares its cell and every rung reads 1.0
    val rnd = new scala.util.Random(42)
    val n = 5000
    val corpus = (0 until n).map { i =>
      (i.toLong, Seq.fill(16)((rnd.nextDouble() - 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    assert(similarity.Similarity.derivedNumCells(corpus) == 40)
    val queries = corpus.filter(col("vec_id") % 250 === 0) // 20 queries
    val curve = similarity.Similarity.nprobeCurve(queries, corpus, k = 5)
      .orderBy(col("nprobe")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(curve.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    val recalls = curve.map(_._3)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recalls.toSeq}")
    assert(curve.forall(_._2 <= 5L * 20),
      s"hits cannot exceed k x queries: ${curve.toSeq}")
    // on noise-floor random vectors probing 16/40 cells misses some
    // true neighbors — a recall of exactly 1.0 at EVERY rung would
    // mean the fallback silently compared approx against itself
    assert(recalls.head < recalls.last,
      s"the curve must actually climb: ${recalls.toSeq}")
    assert(recalls.head < 1.0,
      s"single-probe recall of 1.0 on noise-floor vectors means a broken baseline: ${recalls.toSeq}")
  }

  test("brute-force knn returns k ranked neighbors per query, no self-matches") {
    val r = similarity.Similarity.bruteForceKnn(queries, emb, k = 10)
    val perQ = r.groupBy(col("q_id")).count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == 10))
    assert(r.filter(col("q_id") === col("n_id")).count() == 0)
    // ranks are 1..10 and cosine is non-increasing in rank
    val one = r.filter(col("q_id") === 0).orderBy(col("rank")).collect()
    assert(one.map(_.getLong(2)).toSeq == (1L to 10L))
    val cos = one.map(_.getDouble(3))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
  }

  private def recallVsExact(ann: org.apache.spark.sql.DataFrame): Double = {
    val exact = similarity.Similarity.bruteForceKnn(queries, emb, k = 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = ann.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(a).size.toDouble / exact.size
  }

  test("s12 range search: exact membership at tau, no self-pairs, agrees with knn above the radius") {
    val tau = 0.35
    val r = similarity.Similarity.rangeSearch(queries, emb, tau)
    val rows = r.collect()
    assert(rows.nonEmpty, "tau = 0.35 must admit some noise-floor pairs on this corpus")
    assert(rows.forall(_.getDouble(2) >= tau))
    assert(r.filter(col("q_id") === col("n_id")).count() == 0)
    // membership == the knn pairs whose cosine clears tau (k wide enough to cover them all)
    val fromKnn = similarity.Similarity.bruteForceKnn(queries, emb, k = 50)
      .filter(col("cosine") >= tau)
      .select("q_id", "n_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val got = rows.map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == fromKnn, s"range-search membership diverged: ${got.size} vs ${fromKnn.size}")
  }

  test("s13 cluster cohesion: hand-computed centroids, planted separation, layout-invariant") {
    import spark.implicits._
    // label 0 on the +x/+y axes, label 1 mirrored: centroids (.5,.5)
    // and (-.5,-.5), so every member sits at cos 1/sqrt(2) from its
    // own centroid and the two centroids are antipodal
    val df = Seq((0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0),
                 (2L, Seq(-1f, 0f), 1), (3L, Seq(0f, -1f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = similarity.Similarity.clusterCohesion(df).orderBy("label").collect()
    assert(r.length == 2)
    val a = r(0)
    assert(a.getLong(1) == 2)
    assert(math.abs(a.getDouble(2) - 0.707107) < 1e-6, s"cohesion ${a.getDouble(2)}")
    assert(math.abs(a.getDouble(3) - 0.707107) < 1e-6, s"min_cos ${a.getDouble(3)}")
    assert(math.abs(a.getDouble(4) + 1.0) < 1e-6, s"max_other_sim ${a.getDouble(4)}")
    // real table: one row per label, every member counted, cohesion
    // bounds hold, and the report is partitioning-invariant
    val full = similarity.Similarity.clusterCohesion(emb)
    val rows = full.collect()
    assert(rows.map(_.getInt(0)).toSet ==
      emb.select("label").distinct().collect().map(_.getInt(0)).toSet)
    assert(rows.map(_.getLong(1)).sum == emb.count())
    assert(rows.forall(x => x.getDouble(2) <= 1.0 + 1e-9 && x.getDouble(2) >= x.getDouble(3)))
    def key(x: org.apache.spark.sql.Row) =
      x.getInt(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
    val re = similarity.Similarity.clusterCohesion(emb.repartition(7)).collect().map(key).toMap
    assert(re == rows.map(key).toMap, "report must be invariant under repartitioning")
  }

  test("s12 IVF range search: planted near-dup neighbors are all recalled at nprobe=4") {
    // plant 3 near-identical copies of query 0's vector — the
    // high-tau near-dup regime IVF pruning exists for
    val base = emb.filter(col("vec_id") === 0).collect()(0).getSeq[Float](1).toArray
    val planted = (1 to 3).map { i =>
      (100000L + i, base.zipWithIndex.map { case (v, j) => v + (if (j == i) 0.001f else 0f) }.toSeq)
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(spark.createDataFrame(planted).toDF("vec_id", "embedding"))
    val q = emb.filter(col("vec_id") === 0)
    val got = similarity.Similarity.ivfRangeSearch(q, corpus, tau = 0.99, nprobe = 4)
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(Set(100001L, 100002L, 100003L).subsetOf(got),
      s"planted near-dups must fall in probed cells, got $got")
  }

  test("s2 LSH ANN recall >= 0.9 vs brute force at entry parameters") {
    val recall = recallVsExact(
      similarity.Similarity.lshKnn(queries, emb, k = 10, numPlanes = 4, probeHamming = 3))
    assert(recall >= 0.9, s"LSH recall@10 was $recall (measured 0.98 at these params)")
  }

  test("s3 IVF ANN recall >= 0.9 vs brute force at entry parameters") {
    val recall = recallVsExact(
      similarity.Similarity.ivfKnn(queries, emb, k = 10, numCells = 16, nprobe = 12))
    assert(recall >= 0.9, s"IVF recall@10 was $recall (measured 0.95 at these params)")
  }

  test("s4 int8 scalar-quantized KNN recall >= 0.9 vs full-precision brute force") {
    val recall = recallVsExact(
      similarity.Similarity.scalarQuantKnn(queries, emb, k = 10))
    assert(recall >= 0.9, s"int8 recall@10 was $recall")
  }

  test("s10 filtered IVF: every neighbor passes the gate, recall >= 0.9 vs filtered brute force") {
    val pred = col("label") % 2 === 0
    val r = similarity.Similarity.ivfKnn(queries, emb, k = 10, numCells = 16,
      nprobe = 12, corpusPredicate = Some(pred))
    // the gate is absolute: join back to labels, no odd-label neighbor
    val withLabel = r.join(emb.select(col("vec_id").as("n_id"), col("label")), "n_id")
    assert(withLabel.filter(col("label") % 2 =!= 0).count() == 0,
      "a filtered search must never return a gated-out neighbor")
    // recall against brute force over the SAME filtered corpus
    val exact = similarity.Similarity.bruteForceKnn(queries, emb.filter(pred), k = 10)
      .select("q_id", "n_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val got = r.select("q_id", "n_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.9, s"filtered recall@10 was $recall")
  }

  test("s11 PQ+rerank: exact-cosine order, recall way above raw PQ (the re-rank pays for itself)") {
    val rerank = similarity.Similarity.pqRerankKnn(queries, emb, k = 10,
      nCand = 100, m = 16, ksub = 32)
    // 1) output order is EXACT cosine (non-increasing per query)
    val one = rerank.filter(col("q_id") === 0).orderBy(col("rank")).collect()
    val cos = one.map(_.getDouble(3))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // 2) recall@10 must clear the gate the raw ADC ranking cannot
    // (s9's measured knee is 0.47 at these params)
    val recall = recallVsExact(rerank)
    assert(recall >= 0.8, s"rerank recall@10 was $recall — candidates@100 too thin?")
    val raw = recallVsExact(similarity.Similarity.pqKnn(queries, emb, k = 10, m = 16, ksub = 32))
    assert(recall > raw, s"re-rank ($recall) must beat raw ADC ($raw)")
  }

  test("IVF ANN probes cells and returns ranked results") {
    val r = similarity.Similarity.ivfKnn(queries, emb, k = 10)
    assert(r.count() > 0)
    assert(r.filter(col("q_id") === col("n_id")).count() == 0)
  }

  test("LSH at aggressive prune (12 planes, <=1 flip) keeps recall >= 0.9 on real neighborhoods") {
    // Plant 10 queries with 10 genuine near neighbors each (cos ≈
    // 0.95-0.999); 400 noise vectors fill the corpus. This is the
    // 100 TB regime: when neighbors are actually near, 12 planes +
    // 13 probes scan ~0.3% of the bucket space instead of 15/16.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val qs = (0L until 10L).map(i => (i * 1000L, gauss()))
    val planted = qs.flatMap { case (qid, v) =>
      (1 to 10).map { j =>
        (qid + j, v.zip(gauss()).map { case (x, g) => x + 0.05f * j * g / 10f })
      }
    }
    val noise = (100000L until 100400L).map(i => (i, gauss()))
    val df = (qs ++ planted ++ noise).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val queryDf = df.filter(col("vec_id") % 1000 === 0 && col("vec_id") < 100000L)
    val exact = similarity.Similarity.bruteForceKnn(queryDf, df, k = 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = similarity.Similarity.lshKnn(queryDf, df, k = 10, numPlanes = 12, probeHamming = 1)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"planted-neighbor recall was $recall")
  }

  test("mmr: near-duplicate of the top pick is demoted below a diverse candidate") {
    import spark.implicits._
    // candidate 1 and its near-copy 2 (sim ≈ 1) both outscore the
    // orthogonal candidates 3/4 on relevance; MMR must pick 1, then
    // prefer a diverse candidate over the copy
    val cands = Seq(
      (1L, 0.99, Array(100L, 0L, 0L), 10000L),
      (2L, 0.98, Array(99L, 1L, 0L), 9802L), // near-copy of 1
      (3L, 0.50, Array(0L, 100L, 0L), 10000L),
      (4L, 0.40, Array(0L, 0L, 100L), 10000L))
      .toDF("n_id", "rel", "q", "nsq")
    val got = similarity.Similarity.mmrRerank(cands, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq == Seq((1L, 1), (3L, 2), (4L, 3)),
      s"near-dup must lose its rank to diverse candidates: ${got.toSeq}")
  }

  test("mmr: negative cross-similarity is a true max, not floored at zero") {
    import spark.implicits._
    // 2 is anti-similar to 1 (sim = -1): its penalty term −0.5·maxsim
    // must BOOST it (+0.5·1) past 3, which is orthogonal (maxsim 0)
    val cands = Seq(
      (1L, 0.90, Array(100L, 0L), 10000L),
      (2L, 0.10, Array(-100L, 0L), 10000L),
      (3L, 0.30, Array(0L, 100L), 10000L))
      .toDF("n_id", "rel", "q", "nsq")
    val got = similarity.Similarity.mmrRerank(cands, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 1), (2L, 2), (3L, 3)), s"${got.toSeq}")
    // score(2) = 0.5·0.1 − 0.5·(−1) = 0.55; a zero floor would give 0.05
    assert(math.abs(got(1)._3 - 0.55) < 1e-9, s"${got(1)._3}")
  }

  test("s8 entry: 10 diversified picks out of the ANN top-20, rank-1 = highest relevance") {
    val r = similarity.Similarity.s8(spark, sf).collect()
    assert(r.length == 10)
    val rels = r.map(_.getDouble(3))
    assert(rels(0) == rels.max, "first MMR pick must be the relevance argmax")
    assert(r.map(_.getInt(1)).toSeq == (1 to 10), "ranks dense 1..10")
  }

  test("s9 PQ: codebooks well-formed, ranked output, recall reported vs exact") {
    val books = similarity.Similarity.pqCodebooks(emb, m = 16, ksub = 32, iters = 2)
    assert(books.length == 16 && books.forall(b => b.length == 32 && b.forall(_.length == 4)))
    val r = similarity.Similarity.pqKnn(queries, emb, k = 10, m = 16, ksub = 32)
    val perQ = r.groupBy(col("q_id")).count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == 10))
    assert(r.filter(col("q_id") === col("n_id")).count() == 0)
    // dist2 non-decreasing in rank
    val one = r.filter(col("q_id") === 0).orderBy(col("rank")).collect()
    assert(one.map(_.getDouble(3)).sliding(2).forall(p => p(0) <= p(1)))
    // 16×32 codes on a noise-floor corpus rank loosely by design
    // (measured 0.47 here) — PQ's production role at this recall is
    // candidate generation + exact re-rank; the planted test below
    // pins the regime PQ is actually used in. Gate wide, report the
    // measured number.
    val recall = recallVsExact(r)
    assert(recall >= 0.4, s"PQ recall@10 was $recall")
    info(s"s9 PQ corpus recall@10 = $recall")
  }

  test("s9 PQ: planted near-duplicates are recalled (the compression-path regime)") {
    import spark.implicits._
    // 10 queries, each with 5 planted near-copies among 400 noise
    // vectors: near-copies land on the same or adjacent codes, so
    // ADC puts them at the top even at 8 bytes/vector
    val rnd = new scala.util.Random(7)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val qs = (0L until 10L).map(i => (i * 1000L, gauss()))
    val planted = qs.flatMap { case (qid, v) =>
      (1 to 5).map { j =>
        (qid + j, v.zip(gauss()).map { case (x, g) => x + 0.02f * j * g })
      }
    }
    val noise = (100000L until 100400L).map(i => (i, gauss()))
    val df = (qs ++ planted ++ noise).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val queryDf = df.filter(col("vec_id") % 1000 === 0 && col("vec_id") < 100000L)
    val got = similarity.Similarity.pqKnn(queryDf, df, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hit = qs.map { case (qid, _) =>
      val wanted = (1 to 5).map(j => qid + j).toSet
      got(qid).intersect(wanted).size
    }.sum.toDouble / (10 * 5)
    assert(hit >= 0.8, s"planted near-dup recall was $hit")
  }

  test("s14 drift: rotated label drifts to cos 0, scaled label keeps cos 1 with norm ratio 2") {
    import spark.implicits._
    // label 1 rotates x→y between halves; label 2 only doubles scale
    val base = Seq((1L, Seq(1f, 0f), 1), (3L, Seq(1f, 0f), 1),
      (5L, Seq(0f, 3f), 2), (7L, Seq(0f, 1f), 2))
    val cand = Seq((2L, Seq(0f, 1f), 1), (4L, Seq(0f, 1f), 1),
      (6L, Seq(0f, 6f), 2), (8L, Seq(0f, 2f), 2))
    val df = (base ++ cand).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val r = similarity.Similarity.centroidDrift(
        df.filter(col("vec_id") % 2 === 1), df.filter(col("vec_id") % 2 === 0))
      .collect().map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4)))).toMap
    assert(r(1) == ((2L, 2L, 0.0, 1.0)), s"got ${r(1)}")
    assert(r(2) == ((2L, 2L, 1.0, 2.0)), s"got ${r(2)}")
  }

  test("s15 knn graph: identical vectors are mutual rank-1; per-vector fan-out capped at k") {
    import spark.implicits._
    val vs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 1f, 0f)),
      (4L, Seq(0.9f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val g = similarity.Similarity.knnGraph(vs, k = 2, numCells = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // identical vectors pick each other first, both directions
    assert(g.contains((0L, 1L, 1L)) && g.contains((1L, 0L, 1L)), s"got ${g.mkString(",")}")
    assert(g.groupBy(_._1).values.forall(_.length <= 2), "fan-out must be ≤ k")
    // real corpus: ranks contiguous from 1, fan-out ≤ k
    val full = similarity.Similarity.s15(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(2)))
    full.groupBy(_._1).values.foreach { rs =>
      val ranks = rs.map(_._2).sorted.toSeq
      assert(ranks == (1L to ranks.length.toLong).toSeq, s"ranks not contiguous: $ranks")
      assert(ranks.length <= 5)
    }
  }

  test("s18 knn classify: clean clusters agree, the planted mislabel votes against its label") {
    import spark.implicits._
    // two tight clusters; vec 8 sits in cluster B but is labeled "a"
    val vs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), "a"), (2L, Seq(0.99f, 0.01f, 0f, 0f), "a"),
      (3L, Seq(0.98f, 0.02f, 0f, 0f), "a"), (4L, Seq(0.97f, 0.03f, 0f, 0f), "a"),
      (5L, Seq(0f, 1f, 0f, 0f), "b"), (6L, Seq(0.01f, 0.99f, 0f, 0f), "b"),
      (7L, Seq(0.02f, 0.98f, 0f, 0f), "b"), (8L, Seq(0.03f, 0.97f, 0f, 0f), "a"))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val r = similarity.Similarity.knnClassify(vs, k = 3, numCells = 1)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // label a: vecs 1-4 classify a (neighbors all a); vec 8's 3
    // nearest are 5/6/7 → predicted b, disagrees → 4/5 agree
    assert(r("a") == ((5L, 4L)), s"got ${r("a")}")
    assert(r("b") == ((3L, 3L)), s"got ${r("b")}")
  }

  test("s20 nprobe curve: recall monotone in nprobe, all-cells rung is exact") {
    val emb = Tables.embeddings(spark, sf)
    val r = similarity.Similarity.nprobeCurve(
      emb.filter(col("vec_id") % 50 === 0), emb, numCells = 8,
      ladder = Seq(1, 2, 8)).collect().sortBy(_.getLong(0))
    val recalls = r.map(_.getDouble(2))
    assert(recalls.sliding(2).forall(p => p(0) <= p(1)),
      s"recall must be monotone in nprobe: ${recalls.toSeq}")
    assert(recalls.last == 1.0,
      s"probing every cell must recover the exact top-k: ${recalls.toSeq}")
  }

  test("s20 single-scan curve ≡ the per-rung ivfKnn composition it replaced") {
    // round 11: nprobeCurve scores the corpus ONCE at the max-nprobe
    // probe set and cuts each rung as a cell_rank prefix (s22's law);
    // this pins value-identity against the direct spelling — one
    // bruteForceKnn + one ivfKnn per rung — on both branches of the
    // exact baseline (ladder max = numCells rides the shared scan,
    // ladder max < numCells falls back to the brute-force side).
    import org.apache.spark.sql.DataFrame
    def direct(ladder: Seq[Int], numCells: Int): DataFrame = {
      val exact = similarity.Similarity.bruteForceKnn(queries, emb)
        .select(col("q_id"), col("n_id"))
      val approx = ladder.map { np =>
        similarity.Similarity.ivfKnn(queries, emb, 10, numCells, np)
          .select(col("q_id"), col("n_id")).withColumn("nprobe", lit(np.toLong))
      }.reduce(_ unionByName _)
      val nq = exact.agg(countDistinct(col("q_id")).as("__nq"))
      approx.join(exact, Seq("q_id", "n_id"))
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nq))
        .select(col("nprobe"), col("n_hits"),
          round(col("n_hits").cast("double") / (col("__nq") * 10), 6)
            .as("mean_recall"))
    }
    for ((ladder, cells) <- Seq((Seq(1, 2, 4, 8), 8), (Seq(1, 3), 8))) {
      val got = similarity.Similarity
        .nprobeCurve(queries, emb, ladder = ladder, numCells = cells)
      val want = direct(ladder, cells)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"curve mismatch at ladder=$ladder cells=$cells: " +
          s"got=${got.collect().toSeq} want=${want.collect().toSeq}")
    }
  }

  test("s19 knn outliers: the planted far vector ranks most isolated") {
    import spark.implicits._
    val tight = (1L to 7L).map(i =>
      (i, Seq(1f, (i * 0.001).toFloat, 0f, 0f), "a"))
    val far = Seq((8L, Seq(0f, 0f, 0f, 1f), "b"))
    val vs = (tight ++ far).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val r = similarity.Similarity.knnOutliers(vs, k = 3, numCells = 1, topN = 8)
      .collect().sortBy(_.getLong(0))
    assert(r.head.getLong(1) == 8L && r.head.getString(2) == "b",
      s"the orthogonal vector must be isolation rank 1: ${r.head}")
    assert(r.head.getDouble(3) < r(1).getDouble(3),
      "rank-1 must have the lowest k-th-neighbor cosine")
  }

  test("s16 cosine histogram: near-perfect pairing coverage, bins partition, layout-invariant") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val hist = similarity.Similarity.cosineHistogram(emb).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getLong(3)))
    // every vector is in ≤1 pair; at most one unpaired straggler per
    // bucket, so coverage is ≥ n/2 - buckets pairs
    val pairs = hist.map(_._4).sum
    assert(pairs <= n / 2 && pairs >= n / 2 - 64,
      s"pairing must cover almost everything once: $pairs of ${n / 2}")
    // bin edges tile [-1, 1] without overlap
    hist.sortBy(_._1).foreach { case (bin, lo, hi, _) =>
      assert(math.abs(lo - (-1.0 + bin * 0.1)) < 1e-9 &&
        math.abs(hi - (-1.0 + (bin + 1) * 0.1)) < 1e-9, s"bad edges: ${(bin, lo, hi)}")
    }
    // the pairing (and so the histogram) is physical-layout invariant
    val again = similarity.Similarity.cosineHistogram(emb.repartition(7)).collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(again == hist.map(x => x._1 -> x._4).toMap,
      "histogram must not depend on partitioning")
  }

  test("s17 recall report: every query measured, mean recall clears the s3 gate") {
    val r = similarity.Similarity.s17(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val nQueries = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0).count()
    assert(r.length == nQueries, s"${r.length} of $nQueries queries measured")
    assert(r.forall(x => x._2 >= 1 && x._2 <= 10), "hits within [1, k]")
    val mean = r.map(_._3).sum / r.length
    assert(mean >= 0.9, s"mean recall $mean under the 0.9 gate")
  }

  test("s24 convergence: planted 2-cluster init is already optimal; corpus curve is monotone") {
    import spark.implicits._
    // sample filter keeps ids 0 and 4 — one per planted direction, so
    // init (= the sample itself) is the optimum: every rung reports
    // mean cosine exactly 1.0 over 2 fully-separated 1-member cells
    val planted = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (4L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val p = similarity.Similarity.ivfConvergence(planted, k = 2, iters = 2)
      .collect().map(x => x.getInt(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    assert(p.keySet == Set(0, 1, 2), s"one row per rung: $p")
    p.values.foreach(v =>
      assert(v == ((2L, 2L, 1000000L, 1L, 1L)), s"optimal from init: $v"))
    // real corpus: rungs measure the same sample, Lloyd never regresses
    // (cosine is scale-invariant, so the mean update IS the spherical
    // update), cells stay within k, occupancy brackets hold
    val r = similarity.Similarity.s24(spark, sf).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))
    assert(r.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(r.map(_._2).distinct.length == 1, "every rung measures the same sample")
    assert(r.forall(x => x._3 >= 1 && x._3 <= 16), "cells within k")
    assert(r.forall(x => x._5 <= x._6), "min occupancy <= max")
    val curve = r.sortBy(_._1).map(_._4)
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a },
      s"Lloyd must not regress on its own sample: ${curve.toSeq}")
  }

  test("s25 anisotropy: exact hand-computed moments, signed means, share grid, corpus invariants") {
    import spark.implicits._
    // two orthogonal unit vectors: symmetric dims, each with exactly
    // half the variance mass; centroid (.5, .5) has norm sqrt(5e11)
    val ortho = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val o = similarity.Similarity.anisotropyProfile(ortho)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(o(1L) == ((500000L, 250000000000L, 500000L, 707107L)), s"dim1: ${o(1L)}")
    assert(o(2L) == o(1L), "orthogonal pair is dimension-symmetric")
    // negative-mean dim: components -1, -3 -> mean -2e6, var 1e12 and
    // ALL the variance mass; constant dim2 contributes zero
    val neg = Seq((0L, Seq(-1f, 1f)), (1L, Seq(-3f, 1f))).toDF("vec_id", "embedding")
    val n = similarity.Similarity.anisotropyProfile(neg)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(n(1L) == ((-2000000L, 1000000000000L, 1000000L, 2236068L)),
      s"signed mean rides the sign-restored half-away spelling: ${n(1L)}")
    assert(n(2L) == ((1000000L, 0L, 0L, 2236068L)), s"constant dim: ${n(2L)}")
    // real corpus: 64 dims, variance non-negative, shares sum to ~1e6
    // (floor-div leaves at most |dims| ppm on the table)
    val r = similarity.Similarity.s25(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.map(_._1).toSeq == (1L to 64L), "one row per dimension")
    assert(r.forall(_._3 >= 0L), "variance is non-negative")
    val shareSum = r.map(_._4).sum
    assert(math.abs(shareSum - 1000000L) <= 64L, s"shares partition the mass: $shareSum")
    assert(r.map(_._5).distinct.length == 1, "centroid norm is corpus-level")
  }

  test("s26 incremental IVF: planted arrivals route perfectly; corpus counts conserve exactly") {
    import spark.implicits._
    // existing ids 0, 4 plant two orthogonal directions (the trainer
    // sample); new arrivals (ids 7, 17 ≡ 7 mod 10) land EXACTLY on
    // them — each cell absorbs one at cosine 1.0, growth 1e6 ppm
    val planted = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (4L, Seq(0f, 1f, 0f, 0f)),
      (7L, Seq(2f, 0f, 0f, 0f)), (17L, Seq(0f, 3f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val p = similarity.Similarity.incrementalIvfReport(planted, k = 2)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(p.keySet == Set(0L, 1L))
    p.values.foreach(v => assert(v == ((1L, 1L, 1000000L, 1000000L)),
      s"each cell absorbs its planted arrival at cosine 1: $v"))
    // real corpus: every vector lands in exactly one cell on each side
    val emb = Tables.embeddings(spark, sf)
    val r = similarity.Similarity.s26(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) None else Some(x.getLong(3)),
        if (x.isNullAt(4)) None else Some(x.getLong(4))))
    assert(r.length == 16, "one row per cell, absorbed or not")
    assert(r.map(_._2).sum == emb.filter(col("vec_id") % 10 =!= 7).count(),
      "existing occupancy partitions the existing corpus exactly")
    assert(r.map(_._3).sum == emb.filter(col("vec_id") % 10 === 7).count(),
      "new-batch routing partitions the arrivals exactly")
    r.foreach { case (cell, nEx, nNew, mean, growth) =>
      assert((nNew == 0L) == mean.isEmpty, s"cell $cell: mean iff arrivals")
      assert((nEx == 0L) == growth.isEmpty, s"cell $cell: growth iff occupied")
      growth.foreach(g => assert(g == (nNew * 2000000L + nEx) / (2L * nEx),
        s"cell $cell: growth law"))
      mean.foreach(m => assert(m >= -1000000L && m <= 1000000L))
    }
  }

  test("s26 degenerate contract: no trainable existing side -> EMPTY frame, never placeholder cells (ADVICE r11)") {
    import spark.implicits._
    val contract = Seq("cell", "n_existing", "n_new", "mean_new_cos_e6", "growth_ppm")
    // empty corpus: the report is cell-anchored, so centroidMatrix's
    // k placeholder cells would surface as k phantom rows against
    // the oracle's zero — the contract is the empty frame
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val r0 = similarity.Similarity.incrementalIvfReport(empty)
    assert(r0.columns.toSeq == contract, s"contract schema: ${r0.columns.toSeq}")
    assert(r0.count() == 0L, "empty corpus must yield the empty frame")
    // fresh-only corpus (every vec_id ≡ 7 mod 10): REAL 4-dim vectors
    // with nothing to train on — the old placeholder path assigned
    // them against dim-1 centroids (truncated-cosine garbage); the
    // contract is again the empty frame, not garbage cells
    val freshOnly = Seq(
      (7L, Seq(1f, 0f, 0f, 0f)), (17L, Seq(0f, 1f, 0f, 0f)),
      (27L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val r1 = similarity.Similarity.incrementalIvfReport(freshOnly)
    assert(r1.columns.toSeq == contract && r1.count() == 0L,
      "untrainable existing side must yield the empty frame")
  }

  test("trainerSample: an explicit samplePredicate SCOPES the trainer — no fallback outside it (ADVICE r11)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    // default mod-sample: empty primary falls back to the first
    // non-null vectors (DegenerateSpec's law) — mod 100 selects
    // nothing here, fallback fills the sample
    val fallback = similarity.Similarity.trainerSample(corpus, sampleMod = 100)
    assert(fallback.length == 3, s"default-predicate fallback must fill: ${fallback.length}")
    // explicit predicate selecting nothing: the sample IS empty —
    // silently re-sampling outside the caller's predicate would
    // train on rows the caller excluded
    val scoped = similarity.Similarity.trainerSample(corpus,
      samplePredicate = Some(col("vec_id") > 100L))
    assert(scoped.isEmpty,
      s"predicate-scoped trainer must not sample outside its predicate: ${scoped.length}")
    // a predicate that DOES select rows trains on exactly those
    val hit = similarity.Similarity.trainerSample(corpus,
      samplePredicate = Some(col("vec_id") === 2L))
    assert(hit.length == 1 && hit.head.toSeq == Seq(0f, 1f))
  }

  test("s27 hard negatives: same-label neighbors are excluded even when nearer; probe recall holds") {
    import spark.implicits._
    // id2 (same label, cos .348 to the anchor) must NOT appear even
    // though it beats id4 (other label, cos .243): the miner returns
    // the nearest vectors the anchor's class CONFUSES, not the
    // nearest vectors outright
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (4L, Seq(0f, 1f, 0f, 0f), 1),
      (1L, Seq(0.8f, 0.2f, 0f, 0f), 0), (2L, Seq(0.1f, 0.9f, 0f, 0f), 0),
      (3L, Seq(0.2f, 0.8f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 1L)
    val p = similarity.Similarity.hardNegatives(q, corpus, k = 3,
        numCells = 2, nprobe = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5)))
    assert(p.map(t => (t._3, t._5)).toSeq == Seq((3L, 1L), (4L, 2L)),
      s"negatives ranked by cosine, same-label id2 excluded: ${p.toSeq}")
    assert(p.forall(t => t._2 == 0L && t._4 == 1L))
    assert(math.abs(p(0)._6 - 0.470588) < 1e-5 && math.abs(p(1)._6 - 0.242536) < 1e-5,
      s"cosines: ${p.map(_._6).toSeq}")
    // corpus: labels always differ, ranks dense, and the 12-of-16
    // probe misses few of the exact (all-cells) hard negatives
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val probed = similarity.Similarity.hardNegatives(qs, emb)
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(4), x.getLong(1), x.getLong(3)))
    assert(probed.nonEmpty)
    assert(probed.forall(t => t._4 != t._5), "every mined negative crosses labels")
    probed.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length), s"q $qid ranks dense")
    }
    val exact = similarity.Similarity.hardNegatives(qs, emb, nprobe = 16)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val hit = probed.map(t => (t._1, t._2)).count(exact.contains)
    assert(hit.toDouble / exact.size >= 0.9,
      s"probe recall ${hit.toDouble / exact.size} under the 0.9 gate")
  }
}
