package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, exact n-gram Jaccard, and embedding-cosine
  * near-dup.
  *
  * Scale design: the only all-pairs computation ever performed is
  * WITHIN an LSH/pigeonhole bucket — candidate generation is a
  * single shuffle on the bucket key, and bucket sizes are bounded by
  * construction (band width / chunk width). `exactJaccardPairs` is
  * the exact verifier you run AFTER candidate generation; its
  * all-pairs form below exists only so the small-SF oracle can check
  * the jaccard math itself.
  *
  * Library functions return UNORDERED results: a global sort of a
  * pair set is a rangepartition + full-output shuffle no production
  * consumer (clustering, quarantine, survivor join) needs, so
  * result-ordering lives ONLY in the verified SparkEntry lambdas,
  * where the DuckDB oracle compare needs determinism
  * (plan-pinned: DedupLibraryPlansNoSort in PlanShapeSpec).
  */
object Dedup {

  /** Distinct word n-gram shingle strings (one-pass custom
    * expression — see [[graft.functions.WordShingles]]).
    */
  def shingles(text: Column, n: Int = 3): Column = word_shingles(text, n)

  /** Attach distinct hashed word-3-gram shingles as `sh` — the
    * signature/join currency for every dedup operator (64-bit hashes;
    * strings never materialize).
    */
  private def withShingleHashes(docs: DataFrame, n: Int = 3): DataFrame =
    Tables.spread(docs).withColumn("sh", shingle_hashes(col("text"), n))

  /** d1: exact dedup by content hash — one shuffle on the hash;
    * keep-lowest-id policy.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Ordered within-bucket candidate pairs: group the (key, id, sig)
    * stream by bucket key, sort members by id, emit each (i < j) pair
    * SCORED. ONE pass over the signatures and ONE shuffle on the
    * bucket key — the self-join formulation would compute signatures
    * twice and (at scale, where broadcast is impossible) shuffle them
    * twice. Bucket membership is bounded by construction (band width
    * / chunk width), so the per-bucket member list is small.
    *
    * The score is applied AT EMISSION, inside the explode stage
    * (round 10, the narrow-shuffle law's last candidate-path
    * violation — found by a wide-exchange plan audit, commit
    * 42e79c5): est/hamming are pure functions of the signature
    * pair, so only (a_id, b_id, score) ever reaches the candidate
    * `dropDuplicates` exchange. The previous spelling shipped BOTH
    * full signatures through it —
    * ~2 KB per candidate row at 128 perms where the scored row is
    * 24 B, and a pair colliding in k bands shipped them k times.
    * Duplicate candidates carry identical signatures, so scoring
    * before the dedup is value-identical.
    */
  private def bucketPairs(keyed: DataFrame, keyCols: Seq[String],
                          idCol: String, sigCol: String,
                          scoreName: String,
                          score: (Column, Column) => Column): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(idCol), col(sigCol)))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(expr(
        s"""flatten(transform(members, (a, i) ->
           |  transform(slice(members, i + 2, size(members)),
           |    b -> struct(a.$idCol as a_id, b.$idCol as b_id,
           |                a.$sigCol as sa, b.$sigCol as sb))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"),
        score(col("p.sa"), col("p.sb")).as(scoreName))
      .dropDuplicates("a_id", "b_id")

  /** Signature agreement → estimated jaccard (the minhash estimator),
    * rounded to the frame's 6dp law.
    */
  private def estJaccard(numPerms: Int)(sa: Column, sb: Column): Column =
    round(
      aggregate(
        zip_with(sa, sb, (p, q) => when(p === q, lit(1)).otherwise(lit(0))),
        lit(0), (acc, v) => acc + v).cast("double") / numPerms, 6)

  /** Signature families for identity-collapsed LSH (d3's law applied
    * to minhash, round 9): a duplicated corpus puts every
    * byte-identical family on ONE 128-perm signature, and an
    * identical-sig family of B docs collides in ALL `bands` buckets —
    * the signature-carrying pair expansion then emits B²/2 pairs
    * `bands` times over WITH both full signatures in every row.
    * Measured on the 50× byte-identical bench corpus: ~98M pre-dedup
    * pair rows × ~2 KB of signature payload ≈ 200 GB through the
    * dedup exchange — out of disk locally, an executor-death storm at
    * cluster scale (found by the r9 d23-at-50× bench leg, the same
    * class as r8's s27 wide-shuffle find). So: band over DISTINCT
    * signatures only. The collapse exchange carries each signature
    * ONCE (n×1 KB — the old band shuffle carried them `bands`×), the
    * banding runs on signature DIVERSITY, identical-sig pairs are
    * agreement-128/128 BY CONSTRUCTION (triangle expansion, never
    * banded), and surviving rep pairs fan out to member pairs with
    * their est attached — est is a pure function of the signature
    * pair, so the expansion is output-bound and signature-free.
    *
    * Hot-family valve ([[MaxFamilySize]], SeriesGuard's idiom): one
    * family's ids ride ONE aggregation buffer, and the triangle
    * expansion of a B-doc family emits B²/2 pairs from one row — at
    * B = 10⁸ (a boilerplate page duplicated across a crawl) that is
    * a task-killing buffer AND a 5×10¹⁵-pair answer nobody wants
    * enumerated. Families over the cap raise a NAMED error telling
    * the caller to run d1 exact dedup first: byte-identical mass is
    * d1's O(n) job, and after it each signature family is bounded by
    * NEAR-duplication (distinct texts, same sketch), which tops out
    * orders of magnitude lower. The valve is a no-op below the cap
    * (one size() compare per DISTINCT signature).
    */
  private[graft] val MaxFamilySize = 1000000

  /** The valve policy applied to a family frame (round 10, VERDICT r9
    * item 5). Strict (`skipOversized = false`, every verified entry's
    * default) fails NAMED past the cap — the right behavior when an
    * oversized family means the caller skipped the d1 rung. Report
    * mode (`skipOversized = true`) is the d4-cap semantics real
    * curation runs often want instead: the family is DROPPED from
    * pair generation so the run completes, and the caller surfaces
    * what was skipped via [[oversizedTextFamilies]] /
    * [[oversizedVecFamilies]] — a cap must never be silent.
    */
  private def valved(fam: DataFrame, maxFamily: Int, skipOversized: Boolean,
                     what: String, unit: String, remedy: String): DataFrame =
    if (skipOversized) fam.filter(size(col("ids")) <= maxFamily)
    else fam.filter(assert_true(size(col("ids")) <= maxFamily, concat(
      lit(s"graft Dedup: $what exceeds maxFamily=$maxFamily ("),
      size(col("ids")).cast("string"),
      lit(s" $unit). $remedy"))).isNull)

  /** Signature families. Nothing is persisted: every consumer inside
    * one pair plan (identical-sig pairs, banding, the signature joins)
    * reads the SAME `hashpartitioning(sig)` exchange, which Spark
    * computes once and re-reads as a `ReusedExchange` (plan-pinned in
    * PlanShapeSpec). A JVM-global persist here would pin one entry per
    * fresh input that nothing ever hits again.
    */
  private[graft] def sigFamilies(sigs: DataFrame,
                                 maxFamily: Int = MaxFamilySize,
                                 skipOversized: Boolean = false): DataFrame =
    valved(
      sigs.groupBy(col("sig"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        // rep = min id, read off the sorted ids rather than a min()
        // aggregate: a consumer that prunes `rep` (identical-sig pairs)
        // then still plans the same partial aggregate, so its exchange
        // is reused instead of re-running the signature pass
        .withColumn("rep", try_element_at(col("ids"), lit(1))),
      maxFamily, skipOversized,
      "identical-signature family", "docs share one minhash signature",
      "Byte-identical mass at this scale is exact dedup's job — run " +
        "Dedup.exactDedup (d1) first, then minhash the surviving " +
        "representatives.")

  /** est_jaccard = 1.0 pairs within each identical-signature family. */
  private def identicalSigPairs(fam: DataFrame): DataFrame =
    fam.filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a as a_id, b as b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"), lit(1.0).as("est_jaccard"))

  /** Fan surviving rep pairs back out to member pairs via two
    * id-keyed equi-joins — quadratic only in the ANSWER (the member
    * pair count), with the score columns riding the expansion
    * un-joined (each is a pure function of the pair's content, so
    * every member pair inherits it verbatim). Only SYMMETRIC scores
    * belong here — d11's asymmetric ratios do their own swap-aware
    * expansion.
    */
  private def expandRepPairs(repPairs: DataFrame, fam: DataFrame,
                             scoreCols: Seq[String]): DataFrame = {
    val famIds = fam.select(col("rep"), col("ids"))
    repPairs
      .join(famIds.select(col("rep").as("a_id"), col("ids").as("ids_a")), Seq("a_id"))
      .join(famIds.select(col("rep").as("b_id"), col("ids").as("ids_b")), Seq("b_id"))
      .select(explode(col("ids_a")).as("ia") +: col("ids_b") +: scoreCols.map(col): _*)
      .select(col("ia") +: explode(col("ids_b")).as("ib") +: scoreCols.map(col): _*)
      .select(Seq(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id")) ++ scoreCols.map(col): _*)
  }

  /** d2: MinHash(128) signatures + banded LSH (16 bands × 8 rows).
    * Narrow per-row signature (custom Expression, one pass over the
    * shingle hashes), identity-collapse onto distinct signatures
    * ([[sigFamilies]] — the duplicated-corpus detonation guard),
    * explode only 16 band rows per distinct signature, bucket on
    * (band, band-slice), pair within buckets — candidate rep pairs
    * are scored by signature agreement (estimated jaccard, no exact
    * re-scan) and fan out to member pairs output-bound.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.5,
                      numPerms: Int = 128, bands: Int = 16,
                      skipOversized: Boolean = false): DataFrame = {
    val rows = numPerms / bands
    val sigs = withShingleHashes(docs)
      // <3-token docs have no shingles; an empty signature is all
      // unsigned-max and would spuriously pair every such doc — drop
      // them from pairing (they remain singletons downstream)
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhash_signature(col("sh"), numPerms))
      .select(col("doc_id"), col("sig"))
    val fam = sigFamilies(sigs, skipOversized = skipOversized)
    val banded = fam
      .select(col("rep").as("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_sig", expr(s"slice(sig, band * $rows + 1, $rows)"))
    val repPairs = bucketPairs(banded, Seq("band", "band_sig"), "doc_id", "sig",
        "est_jaccard", estJaccard(numPerms))
      .filter(col("est_jaccard") >= threshold)
    identicalSigPairs(fam)
      .unionByName(expandRepPairs(repPairs, fam, Seq("est_jaccard")))
  }

  /** The 100 TB spelling of [[minhashLshPairs]]: identical pair set,
    * ~bands× less shuffle weight. d2's one-shuffle form carries the
    * FULL numPerms-long signature inside every exploded band row —
    * `bands` copies of the signature cross the wire per document
    * (16×128 longs ≈ 16 KB/doc), which is the dominant shuffle cost
    * at corpus scale. Here the band shuffle carries only
    * (doc_id, band, bucket = xxhash64(band, band_slice)) — one long
    * per band row — candidate (a, b) pairs form in bucket space
    * signature-free, and the candidate set joins back onto the
    * signature frame twice (build side = pairs, stream side =
    * signatures), so signatures cross the wire ZERO times while the
    * pair set fits the broadcast threshold. No hard hint — the pair
    * set grows with the corpus dup rate, so the choice is left to
    * the size estimate + AQE (a2's contract): a pathological corpus
    * degrades to a shuffle join instead of a driver OOM, and the
    * signature frame then pays the two keyed exchanges d2's form
    * pays sixteen of.
    * Round 9: rides the identity-collapsed [[sigFamilies]] frame
    * (banding and pair formation over DISTINCT signatures; member
    * fan-out output-bound) — the duplicated-corpus detonation guard;
    * the family frame's one sig-keyed exchange feeds every consumer.
    * A 64-bit bucket collision can only ADD a candidate (scoring
    * uses the full signatures, and the threshold filter is the
    * same), never change a verdict. Spec-proven pair-identical to
    * d2's form.
    */
  def minhashLshPairsJoinback(docs: DataFrame, threshold: Double = 0.5,
                              numPerms: Int = 128, bands: Int = 16,
                              skipOversized: Boolean = false): DataFrame = {
    val rows = numPerms / bands
    val sigs = withShingleHashes(docs)
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhash_signature(col("sh"), numPerms))
      .select(col("doc_id"), col("sig"))
    // identity collapse first (see sigFamilies) — banding and pair
    // formation run on DISTINCT signatures; the family frame also
    // carries the member ids both signature joins need, so the
    // fan-out costs no extra join
    val fam = sigFamilies(sigs, skipOversized = skipOversized)
    val banded = fam
      .select(col("rep").as("doc_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .withColumn("bucket",
        xxhash64(col("band"), expr(s"slice(sig, band * $rows + 1, $rows)")))
      .select(col("doc_id"), col("band"), col("bucket"))
    val candidates = banded
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(expr(
        """flatten(transform(members, (a, i) ->
          |  transform(slice(members, i + 2, size(members)),
          |    b -> struct(a as a_id, b as b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .dropDuplicates("a_id", "b_id")
    val a = fam.select(col("rep").as("a_id"), col("sig").as("sa"),
      col("ids").as("ids_a"))
    val b = fam.select(col("rep").as("b_id"), col("sig").as("sb"),
      col("ids").as("ids_b"))
    val repScored = a.join(candidates, Seq("a_id"))
      .join(b, Seq("b_id"))
      .withColumn("est_jaccard",
        round(expr(s"aggregate(zip_with(sa, sb, (p, q) -> if(p = q, 1, 0)), 0, (acc, v) -> acc + v)")
          .cast("double") / numPerms, 6))
      .filter(col("est_jaccard") >= threshold)
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("est_jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("est_jaccard"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("est_jaccard"))
    identicalSigPairs(fam).unionByName(repScored)
  }

  /** d3: SimHash(64) near-dup pairs. Pigeonhole blocking: a pair
    * within hamming distance 3 must agree on at least one of 4
    * 16-bit chunks, so we bucket on (chunk index, chunk value) — a
    * single shuffle, no all-pairs — then verify hamming exactly with
    * bit_count(xor).
    */
  /** Identity-collapsed simhash banding: duplicated corpora put many
    * documents on ONE 64-bit signature, and an identical-sig family
    * of B docs collides in ALL four band chunks — the naive banding
    * expands its B²/2 pairs four times over, inside single bucket
    * rows (the 10× soak measured this as a 4-task 16 s stage: a
    * hot-bucket detonator, d4's boilerplate problem keyed on
    * signature chunks). So: band over DISTINCT signatures only.
    *  1. families = groupBy(sim): ids + representative;
    *  2. identical-sig pairs are hamming 0 BY CONSTRUCTION — triangle
    *     expansion per family, no banding, generated once not 4×;
    *  3. bucketPairs runs on one representative per signature, so
    *     bucket sizes track signature DIVERSITY, not corpus
    *     duplication (at 10× byte-identical copies: same buckets as
    *     1×);
    *  4. surviving rep pairs fan back out to member pairs via two
    *     id-keyed equi-joins — output-bound work, the part that is
    *     genuinely quadratic in the answer.
    * Pair set is bit-identical to the direct spelling (DedupSpec
    * pins it). Corpora with huge identical-text families should d1
    * first — the documented division of labor; step 2's in-row
    * expansion is quadratic in the family size because the ANSWER is.
    */
  /** d3's identical-signature families — the same valve contract as
    * [[sigFamilies]] (round 10: d3 was the one collapse path without
    * one; its in-row triangle expansion has the same B²/2 buffer
    * exposure the d2 valve guards).
    */
  private[graft] def simFamilies(sigs: DataFrame,
                                 maxFamily: Int = MaxFamilySize,
                                 skipOversized: Boolean = false): DataFrame =
    valved(
      sigs.groupBy(col("sim"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        // rep = min id off the sorted ids, as in sigFamilies: every
        // consumer then plans the same partial aggregate and shares
        // one sim exchange
        .withColumn("rep", try_element_at(col("ids"), lit(1))),
      maxFamily, skipOversized,
      "identical-signature family", "docs share one simhash signature",
      "Byte-identical mass at this scale is exact dedup's job — run " +
        "Dedup.exactDedup (d1) first, then simhash the surviving " +
        "representatives.")

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   skipOversized: Boolean = false): DataFrame = {
    val sigs = Tables.spread(docs)
      .withColumn("tok_hashes", shingle_hashes(col("text"), n = 1, distinct = false))
      .withColumn("sim", simhash64(col("tok_hashes")))
      .select(col("doc_id"), col("sim"))
    // three consumers (identical-pair expansion, rep banding, member
    // fan-out) read one family frame; its sim exchange is computed once
    // and reused within the returned plan
    val families = simFamilies(sigs, skipOversized = skipOversized)
    val identical = families.filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a as a_id, b as b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"), lit(0).as("hamming"))
    val reps = families.select(col("rep").as("doc_id"), col("sim"))
    val chunked = reps
      .select(col("doc_id"), col("sim"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("(sim >> (c * 16)) & 65535"))
    // hamming is scored at emission (bucketPairs' narrow contract);
    // the fan-out joins the family frame by REP id — rep ↔ sim is
    // 1:1 (rep = the family's min doc id), so this is value-identical
    // to the former by-signature join and shares expandRepPairs
    val repPairs = bucketPairs(chunked, Seq("c", "chunk"), "doc_id", "sim",
        "hamming", (sa, sb) => bit_count(sa.bitwiseXOR(sb)))
      .filter(col("hamming") <= maxHamming)
    val expanded = expandRepPairs(repPairs, families, Seq("hamming"))
    identical.unionByName(expanded)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Byte-identical text families (sha2-256-keyed) — the d1∘d4 composition
    * the dedup docs always recommended, made automatic (round 9):
    * a duplicated corpus multiplies every shingle's df by its copy
    * count, so the inverted-index joins (d4/d11) paid copies² join
    * mass AND their df-cap valves bit on duplication instead of on
    * boilerplate (measured at 50×: safe caps → recall 0, the
    * recall-restoring cap → 2.38G candidate pairs, valve-skipped).
    * Collapsing byte-identical texts FIRST costs one hash-keyed agg
    * (the shuffle carries each distinct text once — strictly less
    * than the posting shuffle it shrinks, which carries ~|sh| rows
    * per doc), restores df to distinct-text frequency (the cap
    * measures boilerplate DIVERSITY again), and makes the join mass
    * duplication-invariant. Zero-shingle docs (<n tokens) are
    * excluded to match the posting join exactly: they never enter it
    * (no postings), so they must not pair here either.
    * Same hot-family valve as [[sigFamilies]]; here the remedy for an
    * oversized family is d1's AGGREGATE form (n_copies), because no
    * consumer wants 10¹⁵ enumerated identical pairs.
    */
  private def rawTextFamilies(docs: DataFrame, shingleN: Int = 3): DataFrame =
    Tables.spread(docs)
      .filter(size(shingle_hashes(col("text"), shingleN)) > 0)
      // sha2-256, not md5 (ADVICE r9): these families FABRICATE
      // jaccard/containment = 1.0 pair scores and drop the losing
      // text's postings, so the key must be collision-resistant —
      // md5 chosen-prefix collisions are practical, and one forged
      // collision here both emits false exact-dup pairs and hides a
      // distinct text from the index. (d1's md5 stays: there a
      // collision only miscounts copies, it invents no scores.)
      .groupBy(sha2(col("text"), 256).as("__h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
        first(col("text")).as("text"))
      // rep off the sorted ids (as in sigFamilies): a consumer that
      // prunes `rep` then plans the same aggregate as one that keeps it
      .withColumn("rep", try_element_at(col("ids"), lit(1)))

  private[graft] def textFamilies(docs: DataFrame,
                                  shingleN: Int = 3,
                                  maxFamily: Int = MaxFamilySize,
                                  skipOversized: Boolean = false): DataFrame =
    valved(rawTextFamilies(docs, shingleN), maxFamily, skipOversized,
      "byte-identical text family", "copies of one text",
      "Enumerating this family's pairs is the wrong operation at this " +
        "duplication — use Dedup.exactDedup (d1), whose n_copies aggregate " +
        "carries the same information at O(n).")

  /** The Report half of the text-family valve: families past
    * `maxFamily` as result rows (representative id + copy count) —
    * what the pair operators dropped when run with
    * `skipOversized = true`. It builds the same family frame as the
    * pair operators but shares nothing with them: reporting after
    * pairing recomputes the collapse pass.
    */
  def oversizedTextFamilies(docs: DataFrame, shingleN: Int = 3,
                            maxFamily: Int = MaxFamilySize): DataFrame =
    rawTextFamilies(docs, shingleN)
      .filter(size(col("ids")) > maxFamily)
      .select(col("rep"), size(col("ids")).cast("long").as("n_copies"))

  /** Df-capped shingle postings over family representatives — the
    * join currency of d4 and d11. Nothing is persisted: the
    * inverted-index self-join reads this frame on both sides, and
    * Spark computes its `hashpartitioning(s)` exchange — required by
    * the df window — once and re-reads it as a `ReusedExchange` on the
    * other side (plan-pinned in PlanShapeSpec). That partitioning
    * satisfies the join's distribution on both sides, so the join adds
    * no exchange and the shingle pass runs once per call; d4 and d11
    * each compute their own.
    */
  private def repPostings(fam: DataFrame, maxDf: Long): DataFrame =
    withShingleHashes(fam.select(col("rep").as("doc_id"), col("text")))
      .select(col("doc_id"), col("sh"))
      .withColumn("n", size(col("sh")))
      .select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("s")))
      .filter(col("df") <= maxDf)
      .select("doc_id", "n", "s")

  /** Triangle-expand each family's within-family pairs, attaching the
    * given literal score columns (identical texts: jaccard = 1,
    * containment = 1 in both directions — exact by definition).
    */
  private def identicalTextPairs(fam: DataFrame,
                                 scores: Seq[(String, Double)]): DataFrame =
    fam.filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a as a_id, b as b_id))))""".stripMargin)).as("p"))
      .select(Seq(col("p.a_id"), col("p.b_id")) ++
        scores.map { case (n, v) => lit(v).as(n) }: _*)

  /** d4: exact n-gram-set Jaccard similarity join via an inverted
    * index (AllPairs-style): explode (doc, shingle), self-join on the
    * shingle, count shared shingles per pair, then
    * j = shared / (|a| + |b| - shared).
    *
    * Semantically identical to the naive all-pairs intersect (a pair
    * with zero shared shingles has j = 0 and can never pass the
    * threshold) but costs Σ_shingle df² instead of n²·|sh| — the
    * only shuffles are the shingle join and the per-pair count.
    *
    * `maxDf` is the 100 TB safety valve: a boilerplate shingle shared
    * by df documents emits df² candidate pairs from ONE join key — a
    * hot-key detonator AQE cannot split (the pairs are real work, not
    * partition skew). Shingles with df > maxDf are dropped from the
    * posting stream BEFORE the self-join, bounding join cost at
    * maxDf · |postings|; such shingles carry almost no jaccard
    * discrimination (they shrink `shared` for pairs that co-contain
    * them, so capped jaccard only ever under-estimates — the filter
    * is candidate-safe, never a false-positive source). The df count
    * rides the SAME hash-exchange on `s` the join needs (a window,
    * not an extra shuffle+join), so the capped plan still has exactly
    * one posting shuffle, reused across both join sides. The default
    * cap (1000) is far above any df in the verified corpora (max 25
    * at sf0.1), so the entry's results are bit-identical to uncapped
    * — asserted in DedupSpec.
    *
    * Round 9: the join runs on byte-identical-text REPRESENTATIVES
    * ([[textFamilies]] below — duplication-invariant join mass), so
    * `df` counts DISTINCT TEXTS per shingle: the cap measures
    * boilerplate diversity, which duplication can no longer inflate.
    * Identical-text pairs are emitted exactly (j = 1 by definition)
    * and cross pairs inherit the rep pair's jaccard — output
    * identical to the all-docs join wherever the cap is inert
    * (spec-planted on a duplicated fixture).
    */
  def exactJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                        maxDf: Long = 1000L,
                        skipOversized: Boolean = false): DataFrame = {
    val fam = textFamilies(docs, skipOversized = skipOversized)
    val ex = repPostings(fam, maxDf)
    // shuffle-hash, not broadcast: at scale the posting stream can't
    // broadcast; both sides read the SAME posting exchange (see
    // repPostings), whose hashpartitioning(s) satisfies the join on
    // both sides — the shingle pass runs ONCE.
    val a = ex.hint("shuffle_hash").alias("a")
    val b = ex.hint("shuffle_hash").alias("b")
    val repPairs = a
      .join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("j", col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("j") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
    // member fan-out: jaccard is a function of the shingle SETS, and
    // every family member has the rep's exact set — symmetric, so the
    // least/greatest reorder is value-safe
    val famIds = fam.select(col("rep"), col("ids"))
    val expanded = repPairs
      .join(famIds.select(col("rep").as("a_id"), col("ids").as("ids_a")), Seq("a_id"))
      .join(famIds.select(col("rep").as("b_id"), col("ids").as("ids_b")), Seq("b_id"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("jaccard"))
    identicalTextPairs(fam, Seq("jaccard" -> 1.0)).unionByName(expanded)
  }

  /** d11: shingle CONTAINMENT join — the asymmetric near-dup
    * detector: containment(a⊂b) = |sh(a) ∩ sh(b)| / |sh(a)| flags
    * "document a is (mostly) inside document b" — quoted reposts,
    * boilerplate-padded copies, excerpt pages — which symmetric
    * jaccard (d4) misses whenever the container is much longer
    * (j = |∩|/|∪| dilutes with the container's size; containment
    * doesn't). Identical plan to d4: ONE df-capped posting shuffle
    * reused across both self-join sides, shared-shingle counting per
    * pair, then both directions' ratios from the pair's own set
    * sizes — the asymmetric measure costs nothing extra.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
                       maxDf: Long = 1000L,
                       skipOversized: Boolean = false): DataFrame = {
    // identity-collapse first (see textFamilies) — same economics as
    // d4: the posting join runs on distinct texts, the cap measures
    // boilerplate diversity, member fan-out is output-bound
    val fam = textFamilies(docs, skipOversized = skipOversized)
    val ex = repPostings(fam, maxDf)
    val a = ex.hint("shuffle_hash").alias("a")
    val b = ex.hint("shuffle_hash").alias("b")
    val repPairs = a
      .join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("contain_a", col("shared").cast("double") / col("na"))
      .withColumn("contain_b", col("shared").cast("double") / col("nb"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= threshold)
      .select(col("a_id"), col("b_id"),
        round(col("contain_a"), 6).as("contain_a"),
        round(col("contain_b"), 6).as("contain_b"))
    // containment is ASYMMETRIC: contain_a belongs to the pair's
    // a-side doc, so when the member fan-out's least/greatest reorders
    // a cross-family pair, the two ratios must swap with it
    val famIds = fam.select(col("rep"), col("ids"))
    val expanded = repPairs
      .join(famIds.select(col("rep").as("a_id"), col("ids").as("ids_a")), Seq("a_id"))
      .join(famIds.select(col("rep").as("b_id"), col("ids").as("ids_b")), Seq("b_id"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"),
        col("contain_a"), col("contain_b"))
      .select(col("ia"), explode(col("ids_b")).as("ib"),
        col("contain_a"), col("contain_b"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"),
        when(col("ia") < col("ib"), col("contain_a"))
          .otherwise(col("contain_b")).as("contain_a"),
        when(col("ia") < col("ib"), col("contain_b"))
          .otherwise(col("contain_a")).as("contain_b"))
    identicalTextPairs(fam, Seq("contain_a" -> 1.0, "contain_b" -> 1.0))
      .unionByName(expanded)
  }

  /** Reference all-pairs cosine join (`a.vec_id < b.vec_id` non-equi
    * join → Spark plans a nested-loop/cartesian). Spec-side oracle for
    * [[embeddingNearDupsBlocked]] ONLY — never the entry: the plan
    * shape is single-build-side and unboundable at scale.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val a = Tables.spread(emb.select(col("vec_id"), col("embedding"))).alias("a")
    val b = emb.select(col("vec_id"), col("embedding")).alias("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine_sim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Byte-identical embedding families — the identity-collapse law
    * (d2/d3/d4/d11, round 9) extended to the vector pairing family
    * (VERDICT r9 lead item): identical inputs produce byte-identical
    * encoder vectors (identical images → identical CLIP embeddings —
    * the common case clip/image dedup exists for), and both d5
    * spellings previously re-paid cosine per COPY pair; the LSH
    * spelling additionally collided every copy family inside one
    * bucket (B²/2 candidate pairs per family — d2's 200 GB banding
    * detonation, keyed on vectors instead of signatures). Collapse
    * first: group by the embedding VALUE itself — Spark groups array
    * columns natively, so the family key is the full vector and
    * there is no hash-forgery surface at all (stronger than
    * textFamilies' sha2) — pair representatives, triangle-expand
    * within-family pairs (their cosine is cos(v, v), computed ONCE
    * per family, the same expression the pairwise path evaluates on
    * identical operands), fan rep pairs out output-bound. The
    * collapse exchange carries each DISTINCT vector once (~256 B) —
    * strictly less than what either pairing path shipped per copy.
    *
    * Same hot-family valve as [[sigFamilies]]; the remedy for an
    * oversized family is exact vector dedup first (one groupBy on
    * the embedding, keep a representative), because no consumer
    * wants 10¹⁵ enumerated identical pairs.
    */
  private def rawVecFamilies(emb: DataFrame): DataFrame =
    // vector-corpus contract (Tables.vectors): a null embedding is
    // not a vector — it must not form a "family" of all failed rows
    emb.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
      .groupBy(col("embedding"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      // rep off the sorted ids (as in sigFamilies): a consumer that
      // prunes `rep` then plans the same aggregate as one that keeps it
      .withColumn("rep", try_element_at(col("ids"), lit(1)))

  private[graft] def vecFamilies(emb: DataFrame,
                                 maxFamily: Int = MaxFamilySize,
                                 skipOversized: Boolean = false): DataFrame =
    valved(rawVecFamilies(emb), maxFamily, skipOversized,
      "byte-identical embedding family", "copies of one vector",
      "Enumerating this family's pairs is the wrong operation at this " +
        "duplication — exact-dedup the vectors first (group by the " +
        "embedding, keep one representative), then near-dup the survivors.")

  /** The Report half of the vector-family valve — see
    * [[oversizedTextFamilies]].
    */
  def oversizedVecFamilies(emb: DataFrame,
                           maxFamily: Int = MaxFamilySize): DataFrame =
    rawVecFamilies(emb)
      .filter(size(col("ids")) > maxFamily)
      .select(col("rep"), size(col("ids")).cast("long").as("n_copies"))

  /** Within-family pairs: cosine is cos(v, v) — evaluated once per
    * family on the family's own vector (bit-identical to what the
    * pairwise path computes on identical operands, so ~1.0 up to the
    * float norm round-trip; a zero vector's undefined cosine drops
    * under the same threshold filter in both paths).
    */
  private def identicalVecPairs(fam: DataFrame, threshold: Double): DataFrame =
    fam.filter(size(col("ids")) > 1)
      .withColumn("cos", cosine_sim(col("embedding"), col("embedding")))
      .filter(col("cos") >= threshold)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a as a_id, b as b_id))))""".stripMargin)).as("p"),
        col("cos"))
      .select(col("p.a_id"), col("p.b_id"), round(col("cos"), 6).as("cosine"))

  /** Grid width for the blocked all-pairs join, derived from the
    * representative count the same way the IVF family derives its
    * cell count (`Similarity.derivedNumCells`, this round): P =
    * clamp(ceil(n / targetGroupSize), 8, 1024). The pair set is
    * P-INVARIANT (every unordered rep pair meets in exactly one grid
    * cell for any P — spec-pinned above the floor), so this is a pure
    * partitioning dial: it fixes per-task group size (n/P vectors,
    * (n/P)² candidate pairs) and task count (P(P+1)/2 cells) instead
    * of letting a fixed P=8 collapse a 1000-executor cluster onto 36
    * tasks. The count is its own job over the family frame: it
    * recomputes the collapse pass the pair join then runs again (one
    * extra pass over the vectors per call, no cross-call state); at
    * the verified SFs (≤2k reps) the derivation lands on the floor 8
    * and the entry is bit-identical to the old default.
    */
  private[graft] def derivedGridP(fam: DataFrame,
                                  targetGroupSize: Int = 2048): Int = {
    val n = fam.count()
    math.min(1024L, math.max(8L, (n + targetGroupSize - 1) / targetGroupSize)).toInt
  }

  /** d5 entry: EXACT embedding-cosine near-dup pairs as a
    * grid-blocked self-equi-join (the classic distributed all-pairs
    * scheme, cf. the θ-join grid / fragment-replicate literature),
    * run on byte-identical-vector REPRESENTATIVES ([[vecFamilies]],
    * round 10) so the Ω(n²)-in-DISTINCT-vectors compute is paid on
    * vector diversity, never on duplication.
    *
    * Why not LSH here: a threshold join is only LSH-prunable when
    * qualifying pairs are actually near. Measured on this corpus, ALL
    * pairs ≥ 0.4 sit at cosine 0.40-0.60 — the ≈3σ tail of the 64-dim
    * noise floor, not planted near-dups — where per-plane agreement
    * is ≈0.63 and no plane/probe parameterization reaches recall 1.0
    * short of probing every bucket. Exact low-threshold joins are
    * inherently Ω(n²) COMPUTE; what scale design controls is the plan
    * shape, and this one is the right shape:
    *  - rep vectors hash into P groups ([[derivedGridP]] by default,
    *    so task count and per-task pair mass track corpus size; the
    *    pair SET is P-invariant); side a replicates each row to
    *    grid cells (g, g..P-1), side b to cells (0..g, g) — every
    *    unordered pair meets in EXACTLY one cell, total replication
    *    (P+1)·n rows (√-of-reducer-count, vs B·n for one-sided
    *    blocking);
    *  - the join is a plain shuffled-hash EQUI-join on the cell id —
    *    no BroadcastNestedLoopJoin/CartesianProduct node ever
    *    (asserted in PlanShapeSpec), per-task build memory is one
    *    group (n/P vectors), load is balanced by the id hash;
    *  - cosine is evaluated once per candidate REP pair, after the
    *    cell-internal ordering filter; member pairs inherit it
    *    through the output-bound fan-out (cosine is a pure function
    *    of the two vectors, and members are byte-identical to reps).
    * For real near-dup corpora (cos ≳ 0.8) use
    * [[embeddingNearDupsLsh]], which prunes instead of organizing.
    */
  def embeddingNearDupsBlocked(emb: DataFrame, threshold: Double = 0.4,
                               gridP: Int = 0,
                               skipOversized: Boolean = false): DataFrame = {
    val fam = vecFamilies(emb, skipOversized = skipOversized)
    // <= 0 (the family default) derives P from the rep count; an
    // explicit positive value pins the grid (specs, A/B replays).
    val p = if (gridP > 0) gridP else derivedGridP(fam)
    val base = fam.select(col("rep").as("vec_id"), col("embedding"))
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(p)).cast("int"))
    val a = base
      .withColumn("cell", explode(expr(s"transform(sequence(g, ${p - 1}), j -> g * $p + j)")))
      .alias("a")
    val b = base
      .withColumn("cell", explode(expr(s"transform(sequence(0, g), i -> i * $p + g)")))
      .alias("b")
    val repPairs = a.join(b.hint("shuffle_hash"),
        col("a.cell") === col("b.cell") &&
          // cross-group cells see each pair once in arbitrary order;
          // same-group cells see both orderings — keep exactly one.
          (col("a.g") < col("b.g") || col("a.vec_id") < col("b.vec_id")))
      .withColumn("cos", cosine_sim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= threshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("a_id"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("b_id"),
        round(col("cos"), 6).as("cosine"))
    identicalVecPairs(fam, threshold)
      .unionByName(expandRepPairs(repPairs, fam, Seq("cosine")))
  }

  /** Hyperplane count for the LSH near-dup path, derived from the
    * representative count: planes = clamp(ceil(log2(ceil(n /
    * targetBucketSize))), 6, 24). With 2^planes buckets the EXPECTED
    * bucket holds ~targetBucketSize reps, so the in-bucket candidate
    * mass ((planes+1) probes × bucket size per rep) grows linearly
    * with the corpus instead of n²/2^fixedPlanes. The recall side of
    * the dial moves too — each extra plane multiplies a true pair's
    * single-bucket collision odds by its per-plane agreement
    * (1 − θ/π, → 1 as cos → 1) — which is the correct trade for the
    * near-dup regime this path exists for (cos ≳ 0.8); callers
    * chasing the noise floor should pin a small explicit plane count
    * and eat the candidate mass, or use the blocked exact join. At
    * the verified SFs (≤2k reps) the derivation lands on the floor 6,
    * the old fixed default.
    */
  private[graft] def derivedNumPlanes(fam: DataFrame,
                                      targetBucketSize: Int = 32): Int = {
    val n = math.max(1L, fam.count())
    val buckets = (n + targetBucketSize - 1) / targetBucketSize
    val planes = math.ceil(math.log(buckets.toDouble) / math.log(2.0)).toInt
    math.min(24, math.max(6, planes))
  }

  /** The 100 TB path for embedding near-dup: hyperplane-LSH bucket
    * both sides (narrow map), candidates = same bucket or a single
    * differing plane bit, exact cosine only on candidates. Recall per
    * pair is 1-(θ/π)^... per plane — high for true near-dups
    * (cos → 1 ⟹ bucket agreement → 1), tunable via planes/probes.
    *
    * Round 10 (VERDICT r9 lead item): identity-collapse + the narrow-
    * shuffle law, the two fixes the rest of the dedup family already
    * had. (1) bucketing and pairing run on byte-identical-vector
    * representatives ([[vecFamilies]]) — a duplicated corpus no
    * longer collides every copy family into B²/2 candidates; (2)
    * cosine is computed BEFORE the candidate `dropDuplicates`
    * exchange and only (a_id, b_id, cos) crosses it — the previous
    * spelling shipped BOTH 64-float embeddings through that exchange
    * (~512 B/candidate, the exact wide-shuffle pattern r8 purged from
    * the ANN paths), ~64× wider than the scored row for the same
    * verdict set (cosine is a pure function of the pair, so scoring
    * before or after dedup is value-identical). The threshold filter
    * also runs pre-dedup, shrinking the exchange to surviving pairs.
    * Plan-pinned in PlanShapeSpec: no candidate-side exchange carries
    * an array column.
    */
  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double = 0.4,
                           numPlanes: Int = 0, seed: Long = 42L,
                           skipOversized: Boolean = false): DataFrame = {
    val fam = vecFamilies(emb, skipOversized = skipOversized)
    // <= 0 (the family default) derives the plane count from the rep
    // count ([[derivedNumPlanes]]) so expected bucket size — and with
    // it the in-bucket candidate mass — stays bounded as the corpus
    // grows; an explicit positive value pins the model (recall-
    // critical low-threshold runs, specs, replays of a stored index).
    val planes = if (numPlanes > 0) numPlanes else derivedNumPlanes(fam)
    val bucketed = fam.select(col("rep").as("vec_id"), col("embedding"))
      .withColumn("bucket", hyperplane_bucket(col("embedding"), planes, seed))
    val probed = bucketed
      .withColumn("probe", explode(expr(
        s"concat(array(int(bucket)), transform(sequence(0, ${planes - 1}), i -> int(bucket) ^ shiftleft(1, i)))")))
    val a = probed.alias("a")
    val b = bucketed.alias("b")
    val repPairs = a
      .join(b, col("a.probe") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      // score INSIDE the join stage (narrow-shuffle law): only the
      // 3-column scored row ever reaches the dedup exchange
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        cosine_sim(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
    identicalVecPairs(fam, threshold)
      .unionByName(expandRepPairs(repPairs, fam, Seq("cosine")))
  }

  // ---- Verified entry points ----

  /** "Fuzzy-exact" dedup (d13): d1's keep-min-id grouping keyed on
    * t3's order-insensitive fingerprint (md5 of the sorted distinct
    * lowercase token set) instead of the raw byte hash — catches
    * token-reordered / re-whitespaced / re-cased copies that
    * byte-exact dedup misses, at d1's exact cost: one narrow
    * fingerprint map, one map-side-combined hash agg on the
    * fingerprint key. The standard middle rung of the dedup ladder
    * (exact < fuzzy-exact < minhash) — cheap enough to always run,
    * no pair explosion.
    */
  def fingerprintDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.text.TextAnalysis.fingerprint(docs, textCol)
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))

  def d1(spark: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.documents(spark, dir)).orderBy(col("keep_id"))

  def d13(spark: SparkSession, dir: String): DataFrame =
    fingerprintDedup(Tables.documents(spark, dir)).orderBy(col("keep_id"))

  // Oracle-determinism sorts live HERE, not in the library functions:
  // only the DuckDB hash-compare needs an ordered pair set.
  def d2(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(spark, dir)).orderBy(col("a_id"), col("b_id"))

  def d3(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir)).orderBy(col("a_id"), col("b_id"))

  def d4(spark: SparkSession, dir: String): DataFrame =
    exactJaccardPairs(Tables.documents(spark, dir)).orderBy(col("a_id"), col("b_id"))

  /** Dedup-threshold sweep (d19): for a ladder of jaccard cutoffs
    * above the pair set's floor, how many near-dup pairs survive,
    * how many distinct documents they touch, and the affected corpus
    * share — x19's pick-the-cutoff evidence table applied to the
    * dedup τ (a τ set blind either deletes unique prose or leaves
    * boilerplate; this shows the trade per rung BEFORE a d6/d17 pass
    * commits). A rung with zero surviving pairs emits no row.
    *
    * Scale shape: rides the d4 pair set it is given (df-bounded;
    * the entry computes it, so each call pays one pair pass);
    * the rung fan-out is a narrow ≤|ladder|× explode of that bounded
    * frame, pair and doc counts are two tiny-key aggs joined on the
    * rung, and the corpus appears only as a 1-row count broadcast
    * for the share. Rung compares use the ROUNDED jaccard (the
    * frame's 6dp law) so borderline pairs land identically on both
    * engines.
    */
  def thresholdSweep(pairs: DataFrame, docs: DataFrame,
                     rungs: Seq[Double] = (10 to 19).map(_ / 20.0)): DataFrame = {
    val rungArr = array(rungs.map(lit): _*)
    val fan = pairs.withColumn("threshold",
      explode(filter(rungArr, r => col("jaccard") >= r)))
    val nPairs = fan.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = fan
      .select(col("threshold"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("__total"))))
      .select(col("threshold"), col("n_pairs"), col("n_docs"),
        round(col("n_docs").cast("double") / col("__total"), 6)
          .as("affected_share"))
  }

  /** Verified entry (d19). Sort is oracle-determinism only. */
  def d19(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    thresholdSweep(exactJaccardPairs(docs), docs)
      .orderBy(col("threshold"))
  }

  /** Boilerplate-shingle report (d20): the top-K most widely shared
    * word 3-grams with their document frequency and corpus coverage
    * — the "what IS the boilerplate" table that feeds d12's span
    * stripping and justifies d4's df cap (a handful of navigation /
    * license / disclaimer shingles typically cover a large doc
    * share; this names them instead of capping blind).
    *
    * Scale shape: one shingle-explode shuffle to (shingle, df)
    * counts (distinct-per-doc shingles, so df = containing docs —
    * d4's expression), the df ≥ 2 cut drops the unique-prose mass
    * BEFORE any ranking, and the top-K cut is TakeOrderedAndProject
    * (per-partition heaps — never a global sort of the vocabulary;
    * a25/a31's rule). The rank column is a window over the K
    * surviving rows; the corpus count rides a 1-row broadcast.
    */
  def boilerplateShingles(docs: DataFrame, topK: Int = 25): DataFrame = {
    import graft.functions.GraftFunctions.word_shingles
    val counts = docs
      .select(explode(word_shingles(col("text"))).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val top = counts.orderBy(col("df").desc, col("shingle")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").desc, col("shingle"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("__total"))))
      .select(col("rank"), col("shingle"), col("df"),
        round(col("df").cast("double") / col("__total"), 6).as("doc_share"))
  }

  /** Verified entry (d20). Sort is oracle-determinism only. */
  def d20(spark: SparkSession, dir: String): DataFrame =
    boilerplateShingles(Tables.documents(spark, dir)).orderBy(col("rank"))

  /** Dedup savings forecast (x25's dedup-side sibling, d21): what a
    * keep-min-id near-dup pass would actually RECLAIM at each τ rung
    * — docs dropped and token mass removed, in absolute and corpus
    * share. d19 counts pairs; budgets are token-denominated (x9's
    * lesson), so the decision table is this one. Drop law is the
    * pairwise anchor (d9's): a doc drops iff SOME smaller-id
    * neighbor clears τ — every pair's b_id (the frame's a<b
    * ordering) is a drop candidate, deduped per rung.
    *
    * Scale shape: the rung fan-out explodes the bounded pair set
    * (d19's shape), the dropped-doc set joins the narrow token map
    * on doc_id, and corpus totals ride a 1-row broadcast. The
    * corpus is never pairwise and never shuffled beyond the token
    * decoration join.
    */
  def dedupSavings(pairs: DataFrame, docs: DataFrame,
                   rungs: Seq[Double] = (10 to 19).map(_ / 20.0)): DataFrame = {
    val rungArr = array(rungs.map(lit): _*)
    val dropped = pairs
      .withColumn("threshold", explode(filter(rungArr, r => col("jaccard") >= r)))
      .select(col("threshold"), col("b_id").as("doc_id"))
      .distinct()
    val tokens = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("__tk"))
    val totals = tokens.agg(count(lit(1)).as("__docs"), sum(col("__tk")).as("__tokens"))
    dropped.join(tokens, Seq("doc_id"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_dropped"), sum(col("__tk")).as("tokens_removed"))
      .crossJoin(broadcast(totals))
      .select(col("threshold"), col("n_dropped"),
        round(col("n_dropped").cast("double") / col("__docs"), 6).as("doc_share"),
        col("tokens_removed"),
        round(col("tokens_removed").cast("double") / col("__tokens"), 6)
          .as("token_share"))
  }

  /** Verified entry (d21). Sort is oracle-determinism only. */
  def d21(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupSavings(exactJaccardPairs(docs), docs)
      .orderBy(col("threshold"))
  }

  def d5(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupsBlocked(Tables.embeddings(spark, dir)).orderBy(col("a_id"), col("b_id"))

  def d11(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir)).orderBy(col("a_id"), col("b_id"))

  /** Cross-source duplication matrix (d14): how much of each source
    * pair is near-duplicated — the governance report that decides
    * which feed to drop (or down-weight in x9's budgets) when two
    * crawls overlap. Unordered source pair via least/greatest so A→B
    * and B→A fold together; `n_pairs` = near-dup pairs bridging the
    * two, `n_docs` = distinct docs involved on either side.
    *
    * Scale shape: rides the d4 pair set it is given (bounded =
    * actual near-dups, orders of magnitude under the
    * corpus), which joins into the documents table twice for source
    * decoration — no hard hint: the pair set grows with the corpus
    * dup rate, so the broadcast choice is left to the size estimate
    * + AQE (a2's contract; the planner still picks broadcast at
    * every tested SF, plan-pinned, and a pathological corpus
    * degrades to a shuffle join instead of a driver OOM). The final
    * agg groups the decorated pair frame on the source-pair key.
    */
  def crossSourceDupes(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val withA = src.withColumnRenamed("doc_id", "a_id").withColumnRenamed("source", "src_a")
      .join(pairs.select(col("a_id"), col("b_id")), Seq("a_id"))
    val decorated = src.withColumnRenamed("doc_id", "b_id").withColumnRenamed("source", "src_b")
      .join(withA, Seq("b_id"))
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("a_id"), col("b_id"))
    decorated
      .select(col("source_a"), col("source_b"),
        explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  def d14(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    crossSourceDupes(exactJaccardPairs(docs), docs)
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash calibration gate (d15): every candidate pair the banded
    * LSH emits, scored BOTH ways — the 128-perm signature estimate
    * next to the exact jaccard over the same hashed shingle sets —
    * with a tolerance verdict. The "trust the estimator before you
    * run it at 100 TB" audit: est−exact should live inside the
    * binomial band (sd = √(j(1−j)/128) ≤ 0.045, tol = 0.15 ≈ 3σ+),
    * and the verified entry states `within_tol` as literal truth in
    * the oracle (a8b's pattern), so estimator drift — a broken perm
    * table, a signature slicing bug — breaks the round's hash, not
    * just a spec.
    *
    * Scale shape: the pair set is LSH-bounded (never all-pairs); the
    * exact re-score joins the shingle-set frame back by id — two
    * equi-joins keyed on doc id, corpus never in a pairwise product.
    * This is also the production candidate-verify stage a
    * conservative dedup runs anyway (LSH generates, exact confirms).
    */
  def minhashCalibration(docs: DataFrame, threshold: Double = 0.5,
                         tol: Double = 0.15,
                         skipOversized: Boolean = false): DataFrame = {
    // Round 10 — the identity-collapse law applied to its last
    // surviving per-pair array decoration: the previous spelling
    // joined BOTH full shingle-hash arrays onto every emitted member
    // pair, so the second id-keyed join's exchange carried
    // (pair, sha[]) rows — per-PAIR array shipping that multiplies
    // copies² on a duplicated corpus (d5's wide-exchange pattern,
    // hiding in the audit operator). Both scores are pure functions
    // of the shingle SETS, which every family member shares with its
    // representative — so: calibrate REP pairs (LSH over the
    // byte-identical-text representatives, exact re-score joins
    // rep-sized set frames, array shipping bounded by rep-pair
    // diversity), emit within-family pairs as the constants they are
    // (est = exact = 1, inside any tol), and fan rep scores out to
    // member pairs output-bound. Output is value-identical to the
    // per-copy spelling: signatures are functions of the text, so
    // rep-level banding sees the same distinct-signature population
    // (DedupSpec pins this on a duplicated fixture). The family
    // frame comes from the same textFamilies builder d4/d11 use.
    // skipOversized threads through BOTH family valves (ADVICE r10:
    // calibration was the one pair operator without the report-mode
    // escape hatch, so a >MaxFamilySize byte-identical family made
    // the corpus uncalibratable in any mode)
    val fam = textFamilies(docs, skipOversized = skipOversized)
    val repDocs = fam.select(col("rep").as("doc_id"), col("text"))
    // repDocs feeds two consumers (the LSH candidates and the exact
    // re-score's set frame) inside this one plan and is not persisted:
    // a persisted spelling was measured and rejected (warm wall
    // 1.23→1.20 s standalone, commit c7ecb30, for ~1 s of cold
    // materialization) — the shingle recompute is NOT the entry's
    // wall, the pair machinery is (now on the joinback banding).
    val sets = withShingleHashes(repDocs).filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
    // r14: the JOINBACK banding (d2b, the 100 TB spelling — band rows
    // carry one bucket hash instead of the full 128-long signature,
    // ~16× less band-shuffle weight; spec-proven pair-identical to
    // d2's form, same oracle CTE) generates the candidates here too.
    val repScored = minhashLshPairsJoinback(repDocs, threshold,
        skipOversized = skipOversized)
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), Seq("b_id"))
      .withColumn("__shared", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("exact_jaccard", round(col("__shared").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("__shared")), 6))
      .withColumn("within_tol",
        abs(col("est_jaccard") - col("exact_jaccard")) <= tol)
      .select(col("a_id"), col("b_id"), col("est_jaccard"),
        col("exact_jaccard"), col("within_tol"))
    val identical = fam.filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a as a_id, b as b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"), lit(1.0).as("est_jaccard"),
        lit(1.0).as("exact_jaccard"), lit(true).as("within_tol"))
    identical.unionByName(expandRepPairs(repScored, fam,
      Seq("est_jaccard", "exact_jaccard", "within_tol")))
  }

  /** Verified entry (d15). Sort is oracle-determinism only. */
  def d15(spark: SparkSession, dir: String): DataFrame =
    minhashCalibration(Tables.documents(spark, dir))
      .orderBy(col("a_id"), col("b_id"))

  /** Near-dup degree histogram (d16): how many docs have 0, 1, 2, …
    * near-duplicate partners — the one-table answer to "how
    * duplicated is this corpus" that decides whether dedup is worth
    * a full pass and which τ to run it at (d14 says WHERE the dups
    * bridge sources; this says HOW DEEP the duplication runs —
    * a heavy tail here means boilerplate families, not pairwise
    * copies, and d6 clustering is the right tool).
    *
    * Scale shape: degrees derive from the d4 pair set it is given
    * (bounded = actual near-dups), so the degree frame is at
    * most 2|pairs| rows and rides a LEFT join the corpus streams
    * through to keep the degree-0 population — no hard hint, the
    * degree frame scales with the dup rate (a2's contract: size
    * estimate + AQE pick broadcast at every tested SF and degrade
    * to a shuffle join on a pathological corpus); the final
    * histogram groups on a tiny integer key. The corpus is never
    * in a pairwise product.
    */
  def dupDegreeHistogram(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val deg = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    docs.select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
  }

  /** Verified entry (d16). Sort is oracle-determinism only. */
  def d16(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dupDegreeHistogram(exactJaccardPairs(docs), docs)
      .orderBy(col("degree"))
  }

  /** Shingle document-frequency profile (d22): how shingle DF mass
    * distributes across a bucket ladder — the evidence table behind
    * d4/d11's `maxDf` cap. Each bucket reports its shingle count,
    * its posting mass (rows the posting-list shuffle carries), and
    * its CANDIDATE-PAIR mass Σ df·(df−1)/2 — the actual cost the
    * inverted-index self-join pays, quadratic per shingle. The 50×
    * soak measured the cliff (3.48G candidate pairs uncapped → 59.6M
    * at cap 250); this report shows WHERE on the DF axis that mass
    * sits for a given corpus, so the cap is chosen from evidence,
    * not folklore. High-DF shingles are boilerplate (d20's finding)
    * — dropping them loses near-dup recall only on templated text.
    *
    * Scale shape: one shingle explode into a map-side-combined
    * (shingle → df) agg — the same single pass d4's posting build
    * does — then the bucket fold groups a vocabulary-sized frame on
    * a ≤|ladder| key. Per-shingle pair mass cross-multiplies through
    * DECIMAL(38,0) (x28's overflow law: df² overflows Long once
    * df > 3e9 — real at the 100 TB design point) and lands back on
    * the exact BIGINT grid.
    */
  def shingleDfProfile(docs: DataFrame,
                       edges: Seq[Long] = Seq(1L, 5L, 25L, 100L, 1000L)): DataFrame = {
    val dfFrame = withShingleHashes(docs)
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .withColumn("cand",
        expr("cast(df as decimal(38,0)) * (df - 1) div 2"))
    val bounds = (1L +: edges.map(_ + 1L)).zip(edges :+ Long.MaxValue)
    def bucket(f: ((Long, Long)) => Long) =
      bounds.tail.foldLeft(
        when(col("df") <= bounds.head._2, lit(f(bounds.head)))) {
        case (acc, b) => acc.when(col("df") <= b._2, lit(f(b)))
      }
    dfFrame
      .groupBy(bucket(_._1).as("df_lo"), bucket(_._2).as("df_hi"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("posting_mass"),
        sum(col("cand")).as("cand_pairs"))
  }

  /** Verified entry (d22). Sort is oracle-determinism only. */
  def d22(spark: SparkSession, dir: String): DataFrame =
    shingleDfProfile(Tables.documents(spark, dir)).orderBy(col("df_lo"))
}
