package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators: deterministic sampling, per-source
  * caps, normalization/redaction, and the composed end-to-end
  * selection pipeline. All narrow maps + one window shuffle for the
  * caps — the standard shape of a pretraining-data mixing job.
  */
object Curation {

  /** Deterministic hash sampling (keep fraction ≈ num/den) — replay-
    * stable under reruns and partition changes, unlike rand().
    */
  def hashSample(df: DataFrame, idCol: String, num: Int, den: Int = 100): DataFrame =
    df.filter(pmod(xxhash64(col(idCol)), lit(den)) < num)

  /** Modulo sampling — the SQL-portable deterministic variant (used
    * by the verified query so the oracle can replicate it exactly).
    */
  def modSample(df: DataFrame, idCol: String, num: Int, den: Int = 10): DataFrame =
    df.filter(pmod(col(idCol), lit(den)) < num)

  /** Cap documents per source, best-first: one shuffle on source,
    * rank within, early filter.
    */
  def capPerSource(df: DataFrame, sourceCol: String, orderBy: Column,
                   tiebreak: Column, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(orderBy.desc, tiebreak)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= cap)
      .drop("__rank")
  }

  /** Text normalization: lowercase, collapse whitespace, trim; plus
    * redaction of numeric tokens (the PII-redaction shape — swap the
    * pattern for emails/phones/etc.).
    */
  def normalizeRedact(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[0-9]+", "<num>"), "\\s+", " "))

  /** Stratified deterministic sampling: per-stratum keep rates (num
    * out of `den`), selected by id-mod so the sample is replay-stable
    * and partition-independent — the language/domain rebalancing step
    * of a data-mixing pipeline. Narrow (a filter); no shuffle.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Int], defaultRate: Int,
                       den: Int = 10): DataFrame = {
    val rateExpr = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(pmod(col(idCol), lit(den)) < rateExpr)
  }

  /** PII patterns shared by the detector/redactor and its oracle —
    * plain character-class regexes that mean the same thing to Java's
    * engine (Spark) and RE2 (DuckDB). Swap/extend per policy (SSNs,
    * IBANs, …); the operator shape does not change.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\d{3}[- .]\\d{3}[- .]\\d{4}"

  /** x7: PII detection + redaction — per-doc match counts and the
    * redacted text (emails first, then phone shapes), all codegen'd
    * regexp built-ins, zero shuffle. The counts are what a curation
    * dashboard monitors; the redacted column is what ships.
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).as("n_emails"),
      regexp_count(col("text"), lit(PhonePattern)).as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailPattern, "<email>"),
        PhonePattern, "<phone>").as("pii_text"))

  def x7PiiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedact(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  final case class PackedDoc(doc_id: Long, bin_id: Long, n_tokens: Int)

  /** Sequence packing: assign documents to fixed-token-budget bins
    * (context windows) — the final assembly step of a pretraining
    * data pipeline. Next-fit greedy per id-range CHUNK: documents
    * group by `id div chunkSize`, each chunk packs its members in id
    * order with O(1) packer state, and bin ids are globally unique
    * via the chunk index in the high bits. Keying on the id — never
    * the physical partition — makes bin assignments a pure function
    * of the data: replays, file-split changes, and cluster resizes
    * all produce identical bins (the replay-stability the curation
    * family promises). Cost is one shuffle of (id, n_tokens) pairs —
    * 16 bytes/doc; per-task state is one chunk (≤ chunkSize tuples).
    * Docs longer than the budget get a singleton bin (truncation is
    * the trainer's policy, not the packer's). Next-fit wastes more
    * than global best-fit but needs no cross-chunk state — the trade
    * that actually runs on 100 TB.
    */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
                    maxTokens: Int, chunkSize: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(chunkSize <= (1 << 20), "chunk-local bin count must fit 20 bits")
    docs.select(col(idCol).cast("long"), col(tokenCol).cast("int"))
      // a doc with no id or no token count cannot be packed (dirty-
      // corpus nulls): drop it rather than violate the typed encoder
      .na.drop("any")
      .as[(Long, Int)]
      .groupByKey { case (id, _) => id / chunkSize }
      .flatMapGroups { (chunk, it) =>
        val members = it.toArray.sortBy(_._1)
        var bin = 0L
        var used = 0
        members.iterator.map { case (id, n) =>
          if (used > 0 && used + n > maxTokens) { bin += 1; used = 0 }
          used += n
          PackedDoc(id, (chunk << 20) | bin, n)
        }
      }
      .toDF()
  }

  /** Deterministic train/val/test corpus split routed by
    * mix64(id) mod 100 — the splitmix64 finalizer decorrelates the
    * bucket from every id pattern (sequential ranges, per-source id
    * blocks, stride sampling), which plain id-mod routing (x1/x5)
    * does not. Same replay-stable scale story as x1: a NARROW map
    * with no shuffle and no RNG state, so the assignment is a pure
    * function of the id — invariant under repartitioning, retries,
    * and incremental reprocessing (a re-ingested doc always lands in
    * the same split; CurationSpec pins repartition-invariance).
    * [[graft.functions.Mix64]] is scalar long math with real codegen,
    * so the routing stays inside whole-stage codegen on the scan.
    *
    * Thresholds are percentage points of the pmod-100 bucket:
    * [0, trainPct) train, [trainPct, trainPct+valPct) val, rest test.
    */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      "three non-empty splits")
    df.withColumn("bucket",
        pmod(graft.functions.GraftFunctions.mix64(col(idCol).cast("long")), lit(100L)))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Leakage-safe split: [[hashSplit]] keyed on the doc's near-dup
    * cluster REPRESENTATIVE (d6's min-id connected-component label;
    * singletons keep rep = own id, so the dup-free part of the corpus
    * splits exactly as x8 does) — a near-dup pair can then never
    * straddle train and test, the eval-contamination hole a per-doc
    * hash split leaves open: two near-identical docs hash
    * INDEPENDENTLY, so at 80/10/10 an expected ~2·0.8·0.2+2·0.1·0.9
    * ≈ 34% of cross-dup pairs land in different splits. Cost on top
    * of x8: the near-dup clustering over the given labels (the x13
    * entry computes d6's pair set and components per call) plus one
    * labels⋈docs join on doc_id — the corpus never shuffles for the
    * split itself, which stays a narrow deterministic map of rep_id.
    */
  def leakageSafeSplit(docs: DataFrame, labels: DataFrame,
                       idCol: String = "doc_id",
                       trainPct: Int = 80, valPct: Int = 10): DataFrame =
    hashSplit(
      docs.select(col(idCol))
        .join(labels.select(col(idCol), col("cluster_id")), Seq(idCol), "left")
        .withColumn("rep_id", coalesce(col("cluster_id"), col(idCol)))
        .drop("cluster_id"),
      "rep_id", trainPct, valPct)

  /** Verified entry (x13): leakage-safe split over `documents` with
    * d6's exact-jaccard components as the cluster labels.
    */
  def x13LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    val docs = corpus.select(col("doc_id"))
    val labels = graft.dedup.Clusters.connectedComponents(docs,
      graft.dedup.Dedup.exactJaccardPairs(corpus).select(col("a_id"), col("b_id")))
    leakageSafeSplit(docs, labels)
      .select(col("doc_id"), col("rep_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Corpus composition report: per (source, lang) doc and token
    * counts plus each stratum's share of the GLOBAL token total —
    * the mixture report a pretraining corpus is steered by (x9's
    * token budgets are set against exactly this table). Token
    * definition is t2's whitespace count, so the report is
    * consistent with every other token-denominated operator. Plan:
    * one narrow count map, one partial-agg shuffle on the tiny
    * (source, lang) key space, then the |strata|-row frame re-aggs
    * to a single-row total that broadcasts back (t7/t11's pattern)
    * — the corpus is scanned once and never shuffled.
    */
  def corpusMix(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = docs.withColumn("__n",
      size(TextAnalysis.tokens(col(textCol))).cast("long"))
    val grp = counted.groupBy(col("source"), col("lang"))
      .agg(count(lit(1L)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    val tot = grp.agg(sum(col("n_tokens")).as("__tot"))
    grp.crossJoin(broadcast(tot))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / col("__tot"), 6))
      .drop("__tot")
  }

  /** Verified entry (x14): composition report over `documents`. */
  def x14CorpusMix(spark: SparkSession, dir: String): DataFrame =
    corpusMix(Tables.documents(spark, dir))
      .orderBy(col("source"), col("lang"))

  /** Mixture rebalance plan (x16): given a token budget and target
    * per-source shares, the per-source sampling rate that hits the
    * target — the planning step between x14 (measure the mix) and
    * x9/x11 (execute the sample): rate_s = min(1, target_s·B /
    * tokens_s), with `capped` flagging sources too small to fill
    * their allocation (the remainder is a policy decision — re-spread
    * or under-deliver — not silently absorbed here). Default target
    * is uniform across sources; default budget is half the corpus.
    *
    * Scale shape: ONE corpus scan into the tiny source-key agg
    * (map-side combined token sums), the 1-row total broadcast back
    * (x14's pattern); the plan math is all on the |sources|-row
    * frame. Every input to the rates is integer-exact, so the
    * doubles replay on any engine.
    */
  def mixRebalance(docs: DataFrame, budgetTokens: Option[Long] = None,
                   targetShares: Map[String, Double] = Map.empty,
                   textCol: String = "text"): DataFrame = {
    val perSource = docs
      .withColumn("__n", size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("__n")).as("n_tokens"))
    val tot = perSource.agg(sum(col("n_tokens")).as("__tot"),
      count(lit(1)).as("__n_sources"))
    val budget = budgetTokens.map(lit(_).cast("long"))
      .getOrElse((col("__tot") / 2).cast("long"))
    val target = if (targetShares.isEmpty)
      lit(1.0) / col("__n_sources")
    else {
      val m = map(targetShares.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, col("source")), lit(0.0))
    }
    perSource.crossJoin(broadcast(tot))
      .withColumn("__budget", budget)
      .withColumn("target_share", round(target, 6))
      .withColumn("rate", round(least(lit(1.0),
        target * col("__budget") / col("n_tokens")), 6))
      .withColumn("expected_tokens",
        round(col("rate") * col("n_tokens"), 4))
      .withColumn("capped",
        target * col("__budget") >= col("n_tokens"))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("__tot"), 6).as("share"),
        col("target_share"), col("rate"), col("expected_tokens"), col("capped"))
  }

  /** Verified entry (x16): uniform-target plan at half the corpus
    * budget. Sort is oracle-determinism only.
    */
  def x16MixRebalance(spark: SparkSession, dir: String): DataFrame =
    mixRebalance(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Epoch repeat plan (x18): x16 decides how to DOWN-sample rich
    * sources; this is the other half of the data-constrained recipe —
    * how many times to REPEAT a small high-quality source to fill
    * its allocation (up to a repeat ceiling, past which repetition
    * stops helping and the shortfall is reported, not silently
    * absorbed). Per source: n_epochs = full passes (≤ maxEpochs),
    * last_epoch_rate = the x11-style sampling rate of the final
    * partial pass, planned_tokens = what the plan actually delivers,
    * deficit = allocation the ceiling leaves unfilled. Everything
    * derives from integer token sums, so the doubles replay on any
    * engine.
    *
    * Scale shape: identical to x16 — ONE corpus scan into the tiny
    * source agg, 1-row total broadcast, plan math on the
    * |sources|-row frame.
    */
  def epochPlan(docs: DataFrame, budgetTokens: Option[Long] = None,
                targetShares: Map[String, Double] = Map.empty,
                maxEpochs: Int = 4, textCol: String = "text"): DataFrame = {
    val perSource = docs
      .withColumn("__n", size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("__n")).as("n_tokens"))
    val tot = perSource.agg(sum(col("n_tokens")).as("__tot"),
      count(lit(1)).as("__n_sources"))
    val budget = budgetTokens.map(lit(_).cast("long"))
      .getOrElse(col("__tot").cast("long"))
    val target = if (targetShares.isEmpty)
      lit(1.0) / col("__n_sources")
    else {
      val m = map(targetShares.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, col("source")), lit(0.0))
    }
    perSource.crossJoin(broadcast(tot))
      .withColumn("__alloc", target * budget)
      .withColumn("__full", least(
        floor(col("__alloc") / col("n_tokens")).cast("long"), lit(maxEpochs.toLong)))
      .withColumn("__frac",
        when(col("__full") < maxEpochs,
          (col("__alloc") - col("__full") * col("n_tokens")) / col("n_tokens"))
          .otherwise(lit(0.0)))
      .withColumn("planned_tokens",
        round((col("__full") + col("__frac")) * col("n_tokens"), 4))
      .select(col("source"), col("n_tokens"),
        round(col("__alloc"), 4).as("alloc_tokens"),
        (col("__full") + when(col("__frac") > 0, 1L).otherwise(0L)).as("n_epochs"),
        round(col("__frac"), 6).as("last_epoch_rate"),
        col("planned_tokens"),
        round(greatest(col("__alloc") - col("planned_tokens"), lit(0.0)), 4).as("deficit"))
  }

  /** Verified entry (x18): uniform target over the FULL corpus
    * budget (default), so below-average sources genuinely repeat and
    * above-average ones downsample in the same plan. Sort is
    * oracle-determinism only.
    */
  def x18EpochPlan(spark: SparkSession, dir: String): DataFrame =
    epochPlan(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Source-interleaved training order (x15): deterministic position
    * for every doc such that reading in position order round-robins
    * the sources — pos = within_source_rank · S + source_index. The
    * curriculum/data-order step that stops a training run from seeing
    * long single-source runs (source-correlated gradient noise), with
    * the within-source order itself the x10 mix64 shuffle. Positions
    * are UNIQUE and interleave-ordered but not dense — a short source
    * exhausts early and leaves gaps; an epoch reader orders by pos,
    * density is irrelevant. Scale shape: within-source rank is x10's
    * banded two-phase prefix-sum keyed on (source, top byte of the
    * shuffle key) — no rangepartitioning, no per-source
    * single-task sort; source index and band offsets are tiny
    * broadcast dimensions, so the corpus shuffles ONCE on the
    * bounded (source, band) key.
    */
  def interleaveBySource(docs: DataFrame, idCol: String = "doc_id",
                         srcCol: String = "source"): DataFrame = {
    val keyed = docs.select(col(idCol), col(srcCol))
      .withColumn("shuffle_key",
        graft.functions.GraftFunctions.mix64(col(idCol).cast("long")))
      .withColumn("__b", shiftright(col("shuffle_key"), 56) + lit(128L))
    val offsets = keyed.groupBy(col(srcCol), col("__b")).count()
      .withColumn("__offset", coalesce(
        sum(col("count")).over(Window.partitionBy(col(srcCol))
          .orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(srcCol), col("__b"), col("__offset"))
    val srcIdx = keyed.select(col(srcCol)).distinct()
      .withColumn("__src_idx",
        (row_number().over(Window.orderBy(col(srcCol))) - 1).cast("long"))
    val nSrc = srcIdx.agg(count(lit(1)).as("__n_src"))
    val wIn = Window.partitionBy(col(srcCol), col("__b"))
      .orderBy(col("shuffle_key"), col(idCol))
    keyed.join(broadcast(offsets), Seq(srcCol, "__b"))
      .withColumn("__rank", col("__offset") + row_number().over(wIn) - 1)
      .join(broadcast(srcIdx), Seq(srcCol))
      .crossJoin(broadcast(nSrc))
      .withColumn("pos", col("__rank") * col("__n_src") + col("__src_idx"))
      .select(col(idCol), col(srcCol), col("pos"))
  }

  /** Verified entry (x15): interleaved order over `documents`. */
  def x15Interleave(spark: SparkSession, dir: String): DataFrame =
    interleaveBySource(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** Length curriculum (x17): deterministic short-to-long training
    * order — curriculum_pos ranks the corpus by (n_tokens ASC,
    * mix64(id), id), the standard sequence-length curriculum
    * (shorter docs first stabilizes early training; the mix64
    * tiebreak shuffles WITHIN a length so equal-length docs don't
    * arrive in ingest order). Token count is t2's whitespace
    * definition, so the curriculum agrees with every other
    * token-denominated operator.
    *
    * Scale shape: x10's banded two-phase prefix-sum generalized to a
    * composite band — (n_tokens, top byte of the shuffle key) — so
    * the corpus shuffles ONCE on a bounded key and a corpus of one
    * dominant length (everything truncated to the same max) still
    * splits across 256 sub-bands instead of serializing one task.
    * Band counts → exclusive prefix offsets is the only
    * single-partition step, and it is (distinct lengths × 256) rows
    * — bounded by max doc length, constant in corpus size. No
    * rangepartitioning anywhere; the oracle replays the GLOBAL
    * window spelling, proving the banded decomposition admits the
    * identical total order (x9b's proof pattern).
    */
  def lengthCurriculum(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val keyed = docs.select(col(idCol), col(textCol))
      .withColumn("n_tokens", size(TextAnalysis.tokens(col(textCol))).cast("long"))
      // a null-text doc has no measurable length and is not
      // schedulable: exclude it BEFORE ranking — otherwise the
      // nulls-first window hands the unknown-length docs the FIRST
      // curriculum positions and (because null keys don't join back)
      // every real doc's position shifts by the null count
      .filter(col("n_tokens").isNotNull)
      .withColumn("shuffle_key",
        graft.functions.GraftFunctions.mix64(col(idCol).cast("long")))
      .withColumn("__b", shiftright(col("shuffle_key"), 56) + lit(128L))
      .select(col(idCol), col("n_tokens"), col("shuffle_key"), col("__b"))
    val offsets = keyed.groupBy(col("n_tokens"), col("__b")).count()
      .withColumn("__offset", coalesce(
        sum(col("count")).over(Window.orderBy(col("n_tokens"), col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tokens"), col("__b"), col("__offset"))
    val wIn = Window.partitionBy(col("n_tokens"), col("__b"))
      .orderBy(col("shuffle_key"), col(idCol))
    keyed.join(broadcast(offsets), Seq("n_tokens", "__b"))
      .withColumn("curriculum_pos",
        (col("__offset") + row_number().over(wIn)).cast("long"))
      .select(col(idCol), col("n_tokens"), col("curriculum_pos"))
  }

  /** Verified entry (x17). Sort is oracle-determinism only. */
  def x17LengthCurriculum(spark: SparkSession, dir: String): DataFrame =
    lengthCurriculum(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Token-budgeted source mixing: fill each source's token budget
    * BEST-FIRST — rank a source's docs by quality, admit them in
    * order while the running token total stays under the source's
    * budget. This is the mixing knob a pretraining corpus is
    * actually steered with (token budgets per domain/source), where
    * x2's doc-count caps are the crude version: counts ignore that
    * docs differ 100× in length.
    *
    * Scale shape: ONE hash shuffle on source (the window), same as
    * x2 — the running sum rides the window sort; no second pass, no
    * driver state. The (quality, id) order is total, so the admitted
    * set is deterministic at any parallelism. A skew-prone source
    * (one source = half the corpus) is the same skew x2 already
    * documents: salt the window key and merge per-salt budgets
    * proportionally.
    */
  def tokenBudgetMix(docs: DataFrame, budgets: Map[String, Long],
                     defaultBudget: Long): DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** The salted spelling of [[tokenBudgetMix]] for hot sources — the
    * fallback the unsalted scaladoc names, made exact. A source
    * holding half the corpus turns the per-source window into one
    * straggler task; banding splits it WITHOUT changing a single
    * output row.
    *
    * Exactness argument: the window order is (quality DESC, doc_id),
    * and the band is a monotone step function of quality alone, so
    * band order is aligned with the global order — every doc in a
    * higher band precedes every doc in a lower band. The global
    * running sum therefore decomposes into (sum of whole higher
    * bands) + (running sum within my band): the same two-phase
    * distributed prefix-sum idiom x10's shufflePositions uses for
    * ranks. Phase 1 aggregates per-(source, band) token totals
    * (tiny: |sources|×bands rows, broadcast back); phase 2 windows
    * only within (source, band). The hot source's sort now runs as
    * `bands` parallel tasks; no task ever sees more than one band.
    *
    * Null quality docs (unscorable) get band -1, which sorts last
    * under band DESC exactly as NULL sorts last under Spark's
    * quality DESC — alignment holds for them too.
    */
  def tokenBudgetMixSalted(docs: DataFrame, budgets: Map[String, Long],
                           defaultBudget: Long, bands: Int = 32): DataFrame = {
    require(bands > 1, "banding needs at least 2 bands")
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    val band = when(col("quality_score").isNull, lit(-1L))
      .otherwise(least(lit(bands - 1L),
        greatest(lit(0L), floor(col("quality_score") * bands).cast("long"))))
    val keyed = docs.withColumn("__band", band)
    val offsets = keyed.groupBy(col("source"), col("__band"))
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("__btok"))
      .withColumn("__offset", coalesce(
        sum(col("__btok")).over(Window.partitionBy(col("source"))
          .orderBy(col("__band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("__band"), col("__offset"))
    val wIn = Window.partitionBy(col("source"), col("__band"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.join(broadcast(offsets), Seq("source", "__band"))
      .withColumn("cum_tokens", col("__offset") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= budget)
      .drop("__band", "__offset")
  }

  /** Deterministic corpus shuffle with MATERIALIZED positions:
    * every row gets its global rank under the mix64(id) ordering —
    * the reproducible "shuffle the corpus before training" step,
    * where the position column is what an epoch reader seeks on.
    *
    * The naive spelling — row_number() over a global ORDER BY — is a
    * single-partition window: one task ranks the whole corpus. This
    * is the distributed two-phase rank instead: (1) bucket rows by
    * the top bits of the shuffle key (arithmetic shift keeps bucket
    * order aligned with signed key order), (2) count per bucket and
    * turn counts into exclusive prefix offsets (≤256 rows — the only
    * single-partition step, constant-size at any corpus size),
    * (3) global_pos = bucket offset + rank within bucket. Two column-
    * pruned passes, shuffles only on the bucket key, positions exact.
    * The same idiom distributes any global ranking/percentile-index
    * problem; the oracle cross-checks it against a true global
    * row_number.
    */
  def shufflePositions(df: DataFrame, idCol: String): DataFrame = {
    val keyed = df
      .withColumn("shuffle_key",
        graft.functions.GraftFunctions.mix64(col(idCol).cast("long")))
      .withColumn("__b", shiftright(col("shuffle_key"), 56) + lit(128L))
    val offsets = keyed.groupBy(col("__b")).count()
      .withColumn("__offset", coalesce(
        sum(col("count")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__offset"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("shuffle_key"), col(idCol))
    keyed.join(broadcast(offsets), "__b")
      .withColumn("shuffle_pos",
        (col("__offset") + row_number().over(wIn)).cast("long"))
      .drop("__b", "__offset")
  }

  // ---- Verified entry points ----

  def x1HashSample(spark: SparkSession, dir: String): DataFrame =
    modSample(Tables.documents(spark, dir), "doc_id", num = 3)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  def x2SourceCap(spark: SparkSession, dir: String): DataFrame =
    capPerSource(
      TextAnalysis.qualityScore(Tables.documents(spark, dir)),
      "source", col("quality_score"), col("doc_id"), cap = 10)
      .select(col("doc_id"), col("source"), col("quality_score"))
      .orderBy(col("doc_id"))

  def x3Normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), normalizeRedact(col("text")).as("norm_text"))
      .orderBy(col("doc_id"))

  /** x5: downsample dominant English, keep the rest denser — the
    * language-rebalancing shape. Rates per 10: en 4, zh 8, others 6.
    */
  def x5StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), "lang", "doc_id",
      rates = Map("en" -> 4, "zh" -> 8), defaultRate = 6)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** x8: 80/10/10 hash-routed split of the corpus. */
  def x8HashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  /** Quality-weighted importance sampling: keep a row with
    * probability equal to its weight, decided by a deterministic
    * per-id uniform draw — the DSIR/quality-resampling shape, where
    * x1's flat rate becomes a per-doc rate. `u01 = mix64(id)`'s top
    * 53 bits over 2^53: the integer shift and the power-of-two
    * divide are both EXACT in binary floating point, so any engine
    * that replays mix64 reproduces u01 bit-for-bit and the
    * `u01 < weight` decision is portable with no rounding epsilon.
    * Narrow map, zero shuffles, no RNG state: the draw is a pure
    * function of the id (repartition/retry/backfill-invariant, same
    * argument as x1/x8).
    */
  def qualityWeightedSample(df: DataFrame, idCol: String,
                            weight: Column): DataFrame =
    df.withColumn("u01",
        shiftrightunsigned(
          graft.functions.GraftFunctions.mix64(col(idCol).cast("long")), 11)
          .cast("double") * lit(1.0 / 9007199254740992.0))
      .filter(col("u01") < weight)

  /** x11: resample the corpus in proportion to t1's quality score —
    * high-quality docs survive at their score's rate, junk at ~0.
    */
  def x11QualityWeightedSample(spark: SparkSession, dir: String): DataFrame =
    qualityWeightedSample(
      TextAnalysis.qualityScore(Tables.documents(spark, dir))
        .filter(col("quality_score").isNotNull),
      idCol = "doc_id", weight = col("quality_score"))
      .select(col("doc_id"), col("source"), col("quality_score"), col("u01"))
      .orderBy(col("doc_id"))

  /** Duplication-aware sampling: every copy in an exact-duplicate
    * cluster survives with probability 1/n_copies, so each cluster
    * contributes ~one document in expectation — the published
    * duplicate-DOWNWEIGHTING alternative to hard dedup (d1 keeps
    * exactly the min-id copy; this keeps a random-but-deterministic
    * one and preserves the corpus's content distribution rather than
    * its copy-count distribution). One shuffle (the per-content-hash
    * window count); the draw itself is x11's pure id-keyed mix64 —
    * replay/partitioning-invariant, no RNG state.
    */
  def dupWeightedSample(df: DataFrame, idCol: String,
                        textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
    qualityWeightedSample(
      df.withColumn("n_copies", count(lit(1)).over(w).cast("long")),
      idCol, weight = lit(1.0) / col("n_copies"))
  }

  /** x12: duplicate-downweighted corpus sample over `documents`. */
  def x12DupWeightedSample(spark: SparkSession, dir: String): DataFrame =
    dupWeightedSample(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("source"), col("n_copies"), col("u01"))
      .orderBy(col("doc_id"))

  /** x9: token-budgeted mix — 6000 tokens of src0, 3000 of every
    * other source, best-quality-first. Unscorable docs (null quality:
    * empty/whitespace-only text) are not mix candidates — the filter
    * also keeps the window's (quality, id) order engine-portable
    * without pinning a NULLS placement.
    */
  def x9TokenBudgetMix(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetMix(
      TextAnalysis.qualityScore(Tables.documents(spark, dir))
        .filter(col("quality_score").isNotNull),
      budgets = Map("src0" -> 6000L), defaultBudget = 3000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** x9b: x9 through the banded/salted window — must produce the
    * IDENTICAL admitted set (the oracle replays the global-window
    * spelling, so DuckDB itself proves the decomposition exact).
    */
  def x9bTokenBudgetSalted(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetMixSalted(
      TextAnalysis.qualityScore(Tables.documents(spark, dir))
        .filter(col("quality_score").isNotNull),
      budgets = Map("src0" -> 6000L), defaultBudget = 3000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** x10: materialized deterministic-shuffle positions (1-based). */
  def x10ShufflePositions(spark: SparkSession, dir: String): DataFrame =
    shufflePositions(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("shuffle_key"), col("shuffle_pos"))
      .orderBy(col("doc_id"))

  /** x6: pack the corpus into 512-token context windows using the
    * whitespace token count. chunkSize 64 keeps the DuckDB oracle's
    * recursion depth small; bins are bit-identical at any chunkSize
    * that divides the id space the same way.
    */
  def x6PackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(
      TextAnalysis.tokenCounts(Tables.documents(spark, dir))
        .select(col("doc_id"), col("ws_tokens")),
      idCol = "doc_id", tokenCol = "ws_tokens", maxTokens = 512, chunkSize = 64)
      .orderBy(col("doc_id"))

  /** The composed curation pipeline: normalize → score → quality
    * filter → exact-dedup keep-min-id → per-source cap. One narrow
    * chain plus two shuffles (dedup hash, source window).
    */
  def x4Curation(spark: SparkSession, dir: String, minScore: Double = 0.5,
                 cap: Int = 20): DataFrame =
    capPerSource(scoreAndExactDedup(Tables.documents(spark, dir), minScore),
      "source", col("quality_score"), col("doc_id"), cap)
      .select(col("doc_id"), col("source"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** Shared head of the curation chain: normalize → score → quality
    * filter → exact-dedup keep-min-id. The keep id is a window min
    * over the content hash, so the scan and the scoring run once (a
    * groupBy joined back to the scored frame would plan them twice).
    * A null-id row never equals its group's min and drops; null texts
    * hash to one null group.
    */
  private[graft] def scoreAndExactDedup(docs: DataFrame, minScore: Double): DataFrame =
    TextAnalysis.qualityScore(docs.withColumn("text", normalizeRedact(col("text"))))
      .filter(col("quality_score") >= minScore)
      .withColumn("__keep_id", min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("__keep_id"))
      .drop("__keep_id")

  /** x4b: the full production curation chain — x4 plus NEAR-dup
    * clustering between scoring and capping: minhash-LSH pairs over
    * the normalized surviving text (one signature pass, a
    * signature-free bucket shuffle —
    * [[graft.dedup.Dedup.minhashLshPairsJoinback]]), connected
    * components over the pair graph, keep-min-id per cluster, THEN
    * the per-source cap. Exact dedup alone misses boilerplate
    * rewrites; this is the chain a pretraining corpus actually runs,
    * and every stage stays the scale shape its standalone entry
    * proved (the pair stage is banded LSH, never all-pairs).
    *
    * `cacheKey` is unused and ignored: nothing a call computes
    * outlives it, so two calls on the same frame do the same work.
    * The parameter stays only so callers that pass `cacheKey = None`
    * by name still compile.
    */
  def curateNearDup(docs: DataFrame, minScore: Double = 0.5,
                    cap: Int = 20, cacheKey: Option[String] = None): DataFrame = {
    // the survivor set feeds three consumers (pair generation, the
    // node list, and the final keep join); an eager local checkpoint
    // computes it once per call, and the ContextCleaner frees its
    // blocks once the result is no longer reachable
    val deduped = scoreAndExactDedup(docs, minScore).localCheckpoint()
    // the joinback LSH spelling (d2b): the band shuffle is
    // signature-free and the signature map re-reads the CHECKPOINTED
    // survivor blocks — ~bands× less shuffle weight than carrying
    // signatures through every band row, pair-identical (spec-gated)
    val pairs = graft.dedup.Dedup.minhashLshPairsJoinback(deduped, threshold = 0.5)
    val cc = graft.dedup.Clusters.connectedComponents(
      deduped.select(col("doc_id")), pairs.select("a_id", "b_id"))
    val kept = deduped.join(
      cc.filter(col("doc_id") === col("cluster_id")).select("doc_id"), "doc_id")
    capPerSource(kept, "source", col("quality_score"), col("doc_id"), cap)
      .select(col("doc_id"), col("source"), col("quality_score"))
  }

  /** Verified entry (x4b). Sort is oracle-determinism only (the
    * library chain returns its curated set unordered — x10's rule).
    */
  def x4bCuration(spark: SparkSession, dir: String): DataFrame =
    curateNearDup(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Quality-threshold survival sweep (x19): for a ladder of
    * candidate quality cutoffs, how many documents and tokens
    * survive `quality_score >= τ`, and the corpus share of each —
    * the evidence table a curation gate's τ is actually set from
    * (x4 hard-codes a threshold; this shows what every alternative
    * would have kept, in docs AND in tokens, since a token-budgeted
    * run cares about the latter — x9's lesson). The s16 idea
    * (measure the distribution before committing to a cutoff)
    * applied to the quality score.
    *
    * Scale shape: t1's narrow one-pass scoring map, then the ENTIRE
    * ladder folds in a single 1-row conditional aggregate (p14's
    * stack spelling — a |thresholds|-row fan-out via explode would
    * re-shuffle the corpus per rung, and a threshold×corpus join
    * would plan a nested loop). One scan, zero joins, zero keyed
    * shuffles; null scores (empty docs) survive no rung, by the
    * same null-rejects law as x4's gate. Doc/token shares divide
    * the two exact integer sums once, at the 10-row report grain.
    */
  def qualitySweep(docs: DataFrame,
                   thresholds: Seq[Double] = (0 to 9).map(_ / 10.0)): DataFrame = {
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("quality_score").as("__q"), col("n_tokens").cast("long").as("__tk"))
    val aggs = thresholds.indices.flatMap { i =>
      val t = thresholds(i)
      Seq(sum(when(col("__q") >= t, 1L).otherwise(0L)).as(s"__d_$i"),
        sum(when(col("__q") >= t, col("__tk")).otherwise(0L)).as(s"__t_$i"))
    }
    val folded = scored.agg(count(lit(1)).as("__n"),
      (sum(col("__tk")).as("__tot") +: aggs): _*)
    val stack = thresholds.indices.map { i =>
      s"CAST(${thresholds(i)} AS DOUBLE), `__d_$i`, `__t_$i`"
    }.mkString(", ")
    folded.select(col("__n"), col("__tot"),
        expr(s"stack(${thresholds.length}, $stack)")
          .as(Seq("threshold", "docs_surviving", "tokens_surviving")))
      .select(col("threshold"), col("docs_surviving"),
        round(col("docs_surviving").cast("double") / col("__n"), 6).as("doc_share"),
        col("tokens_surviving"),
        round(col("tokens_surviving").cast("double") / col("__tot"), 6)
          .as("token_share"))
  }

  /** Verified entry (x19). Sort is oracle-determinism only. */
  def x19QualitySweep(spark: SparkSession, dir: String): DataFrame =
    qualitySweep(Tables.documents(spark, dir)).orderBy(col("threshold"))

  /** Doc-length histogram (x20): the corpus length distribution in
    * power-of-two token buckets — the evidence table x6's context
    * budget, x17's curriculum bands and truncation policy are set
    * against (a corpus dominated by one truncation length or a long
    * tail of 100k-token docs needs different packing than a uniform
    * one). Bucket law is INTEGER-EXACT: bucket = bit length of the
    * token count (length of its binary spelling — floor(log2)+1
    * without ever computing a floating log, which lands on
    * 2.9999999≈3 boundaries differently per engine); empty docs get
    * bucket 0. Shares divide the tiny bucket frame by window totals
    * (a30's bounded-frame rule), so the corpus is touched by ONE
    * narrow token-count map + one map-side-combined bucket agg.
    */
  def lengthHistogram(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val n = size(TextAnalysis.tokens(col(textCol))).cast("long")
    val bucketed = docs
      .select(when(n <= 0, lit(0))
        .otherwise(length(bin(n))).cast("int").as("bucket"), n.as("__tk"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bucketed
      .withColumn("lo_tokens",
        when(col("bucket") === 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")))
      .withColumn("hi_tokens",
        when(col("bucket") === 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(all), 6))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / sum(col("n_tokens")).over(all), 6))
      .select(col("bucket"), col("lo_tokens"), col("hi_tokens"),
        col("n_docs"), col("n_tokens"), col("doc_share"), col("token_share"))
  }

  /** Verified entry (x20). Sort is oracle-determinism only. */
  def x20LengthHistogram(spark: SparkSession, dir: String): DataFrame =
    lengthHistogram(Tables.documents(spark, dir)).orderBy(col("bucket"))

  /** Packing-efficiency report (x21): the audit of an x6 packing run
    * — bins produced, mean context fill, oversize bins (a single doc
    * longer than the context — the truncation backlog) and underfull
    * bins (< half full — wasted compute if padded, the signal to
    * shrink the chunk size or sort by length first, x20's evidence).
    * A packing that "works" at 60% fill silently burns 40% of every
    * training step; this is the number that says so.
    *
    * Scale shape: one (bin_id) map-side-combined agg over the packed
    * frame, then a 1-row fold — every statistic is an exact integer
    * sum or an integer-threshold conditional (the ×2 underfull
    * compare is integer, never 0.5-epsilon), and mean_fill is ONE
    * division of exact sums at the end.
    */
  def packEfficiency(packed: DataFrame, maxTokens: Int): DataFrame = {
    val bins = packed.groupBy(col("bin_id"))
      .agg(sum(col("n_tokens")).as("__bt"), count(lit(1)).as("__bd"))
    bins.agg(
      count(lit(1)).as("n_bins"),
      sum(col("__bd")).as("n_docs"),
      sum(col("__bt")).cast("long").as("total_tokens"),
      round(sum(col("__bt")).cast("double") /
        (count(lit(1)) * maxTokens), 6).as("mean_fill"),
      sum(when(col("__bt") > maxTokens, 1L).otherwise(0L)).as("n_oversize"),
      sum(when(col("__bt") * 2 < maxTokens, 1L).otherwise(0L)).as("n_underfull"))
  }

  /** Per-source quality profile (x22): mean quality score, reject
    * rate at the curation gate, and token mass per source — the
    * evidence x2's caps and x9's budgets are weighted BY (a source
    * whose mean quality is low and reject rate high earns a smaller
    * budget; x14 measures composition, this measures worth). Mean
    * quality folds as exact 1e-6 integer units (d18's law on the
    * 6dp score) so no summation order can move a reported mean;
    * reject rate counts `quality_score >= τ` failures with nulls
    * rejecting (x4's law).
    *
    * Scale shape: t1's narrow scoring map, ONE map-side-combined
    * agg on the tiny source key. Nothing else moves.
    */
  def sourceQuality(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("source"), col("quality_score").as("__q"),
        col("n_tokens").cast("long").as("__tk"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tk")).as("n_tokens"),
        round(when(count(col("__q")) > 0,
          sum(round(col("__q") * 1000000.0, 0).cast("long")).cast("double")
            / 1000000.0 / count(col("__q"))), 6).as("mean_quality"),
        round(sum(when(col("__q") >= threshold, 0L).otherwise(1L)).cast("double")
          / count(lit(1)), 6).as("reject_rate"))
  }

  /** Verified entry (x22). Sort is oracle-determinism only. */
  def x22SourceQuality(spark: SparkSession, dir: String): DataFrame =
    sourceQuality(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Split-leakage audit (x23): where near-dup pairs land under the
    * PLAIN per-doc x8 split — the measured evidence for the hole
    * x13 exists to close (independent hashes put ≈34% of cross-dup
    * pairs in different splits at 80/10/10; this reports the actual
    * count, per split-pair cell, with `is_leak` on the off-diagonal
    * cells). Run it before trusting any per-doc split for eval.
    *
    * Scale shape: the bounded near-dup pair set decorates against
    * the narrow split map via two id equi-joins (the pair frame is
    * ≪ corpus and broadcasts on size estimate — d16's contract);
    * cells fold unordered via least/greatest (d14's law) and the
    * share divides by a window total over the ≤6-cell matrix.
    */
  def splitLeakageAudit(docs: DataFrame, pairs: DataFrame,
                        trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val sp = hashSplit(docs.select(col("doc_id")), "doc_id", trainPct, valPct)
      .select(col("doc_id"), col("split"))
    val decorated = pairs.select(col("a_id"), col("b_id"))
      .join(sp.select(col("doc_id").as("a_id"), col("split").as("__sa")), Seq("a_id"))
      .join(sp.select(col("doc_id").as("b_id"), col("split").as("__sb")), Seq("b_id"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    decorated
      .groupBy(least(col("__sa"), col("__sb")).as("split_lo"),
        greatest(col("__sa"), col("__sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pair_share",
        round(col("n_pairs").cast("double") / sum(col("n_pairs")).over(all), 6))
      .withColumn("is_leak", col("split_lo") =!= col("split_hi"))
  }

  /** Verified entry (x23). Sort is oracle-determinism only. */
  def x23SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    splitLeakageAudit(docs, graft.dedup.Dedup.exactJaccardPairs(docs))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** Temperature-scaled mixture plan (x24): the multilingual /
    * DoReMi-style sampling formula — target share of source i at
    * temperature τ is sᵢ^τ / Σⱼ sⱼ^τ, where sᵢ is the source's
    * natural token share. τ = 1 keeps the natural mix, τ → 0
    * approaches uniform; the τ ladder shows how hard each setting
    * suppresses the head and boosts the tail BEFORE x16 turns a
    * chosen row into sampling rates. Natural shares come from exact
    * integer token sums (x14's pass); the powers are the only
    * irrational step and every reported double is rounded once.
    *
    * Scale shape: ONE corpus scan into the tiny source aggregate;
    * the τ ladder and normalization are windows over the |sources|-
    * row frame (a30's bounded-frame rule).
    */
  def temperatureMix(docs: DataFrame,
                     taus: Seq[Double] = Seq(0.5, 0.7, 1.0),
                     textCol: String = "text"): DataFrame = {
    val base = docs
      .select(col("source"), size(TextAnalysis.tokens(col(textCol))).cast("long").as("__tk"))
      .groupBy(col("source"))
      .agg(sum(col("__tk")).as("__tokens"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val shared = base
      .withColumn("base_share",
        col("__tokens").cast("double") / sum(col("__tokens")).over(all))
    taus.map { tau =>
      shared
        .withColumn("tau", lit(tau))
        .withColumn("__w", pow(col("base_share"), tau))
        .withColumn("weight", round(col("__w") / sum(col("__w")).over(all), 6))
        .select(col("source"), col("tau"),
          round(col("base_share"), 6).as("base_share"), col("weight"))
    }.reduce(_ unionByName _)
  }

  /** Verified entry (x24). Sort is oracle-determinism only. */
  def x24TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir))
      .orderBy(col("tau"), col("source"))

  /** Verified entry (x21): 1-row result over x6's packing. */
  def x21PackEfficiency(spark: SparkSession, dir: String): DataFrame =
    packEfficiency(
      packSequences(
        TextAnalysis.tokenCounts(Tables.documents(spark, dir))
          .select(col("doc_id"), col("ws_tokens")),
        idCol = "doc_id", tokenCol = "ws_tokens", maxTokens = 512, chunkSize = 64),
      maxTokens = 512)

  /** Sliding-window document chunking (x25): split each doc into
    * `window`-token chunks advancing by `stride` tokens (overlap =
    * window − stride) — the RAG-indexing / long-doc-training cut that
    * pairs with x6 (x6 PACKS many short docs into one context; this
    * SPLITS one long doc into many contexts). Chunk count law:
    * 1 for n ≤ window, else ceil((n − window)/stride) + 1 — the last
    * chunk may be short but every token lands in ≥1 chunk and no
    * chunk is pure tail-padding. Chunk identity carries md5 of the
    * re-joined chunk text (t3's portable content-hash law).
    *
    * Scale shape: entirely NARROW — tokenize, a bounded explode
    * (fan-out ≤ n/stride + 1, proportional to the doc's own length,
    * the m3 bounded-fan-out property), slice + hash per chunk. No
    * shuffle anywhere; at 100 TB this is a map-only pass whose output
    * feeds s5/s6-style indexing. Null-text docs produce no chunks
    * (explode of a null sequence) on both engines.
    */
  def chunkDocuments(docs: DataFrame, window: Int = 128, stride: Int = 96,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(stride > 0 && window >= stride,
      s"window=$window must cover stride=$stride (gap-free law)")
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        when(col("__n") <= window, lit(0L))
          .otherwise(expr(s"(__n - $window + ${stride - 1}) div $stride")))))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("__chunk",
        slice(col("__toks"), (col("start_tok") + 1).cast("int"), lit(window)))
      .withColumn("__ctext", concat_ws(" ", col("__chunk")))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        size(col("__chunk")).cast("long").as("n_chunk_toks"),
        length(col("__ctext")).cast("long").as("chunk_chars"),
        md5(col("__ctext")).as("chunk_md5"))
  }

  /** Verified entry (x25): 32-token windows, 24-token stride over
    * `documents` — sized BELOW the corpus's max doc length (~100
    * tokens) so the oracle exercises the multi-chunk overlap law (the
    * production 128/96 default would leave every test doc single-
    * chunk). Sort is oracle-determinism only.
    */
  def x25DocChunking(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.documents(spark, dir), window = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Cross-document repeated-chunk report (x26): x25's chunks grouped
    * by content hash — the CHUNK-granular boilerplate detector
    * (headers, licenses, navigation text repeating across docs) that
    * complements d1 (whole-doc), d8/d12 (character-span) and d20
    * (shingle-df): a chunk repeating across ≥ minDocs distinct docs
    * is boilerplate, and the report prices what dropping the extra
    * copies saves. Grain: one row per duplicated chunk content.
    *
    * Scale shape: the chunk pass is x25's narrow map; then ONE hash
    * shuffle on chunk_md5 (map-side combined — duplicates collapse
    * before the wire) and the savings arithmetic rides the already-
    * aggregated frame. No pairwise anything: a chunk repeated a
    * million times is one group, the d4-df-cap story without needing
    * the cap.
    */
  def chunkDedupReport(docs: DataFrame, window: Int, stride: Int,
                       minDocs: Int = 2): DataFrame =
    chunkDocuments(docs, window, stride)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("n_chunk_toks")).as("chunk_toks"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .withColumn("saved_toks",
        (col("n_copies") - 1) * col("chunk_toks"))

  /** Verified entry (x26): x25's 32/24 grain over `documents`. */
  def x26ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupReport(Tables.documents(spark, dir), window = 32, stride = 24)
      .orderBy(col("chunk_md5"))

  /** DSIR-style importance weights (x27): score every doc by how much
    * a hashed-unigram LM of a TARGET slice prefers it over the raw
    * corpus — the importance-resampling data-selection method (Xie et
    * al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023) in its hashed-n-gram form. Per-bucket
    * log-ratio lr(b) = ln[(tgt_b+1)/(T+B) ÷ (raw_b+1)/(R+B)]
    * (add-one smoothing), per-doc importance = mean lr over its
    * tokens; docs the target LM prefers (avg > 0) are selected.
    *
    * Scale shape: the corpus NEVER shuffles — the two bucket
    * distributions are ≤`buckets`-row aggregates (map-side combined
    * from the exploded token stream), collected to the driver under
    * the s3-quantizer bounded-collect contract (`buckets` rows by
    * construction) and pushed back into the scoring pass as ARRAY
    * LITERALS, so scoring is one narrow array-fold per doc.
    * Exactness: per-bucket log-ratios round ONCE to integer
    * milli-nats (half-away — Java Math.round half-UP would disagree
    * with SQL round on negative halves), per-doc sums are exact
    * integers, the mean uses t21's integer µ-rounding; the only
    * cross-engine FP wobble is ln() itself, identical-expression-tree
    * guarded (t16's accepted idiom).
    */
  def dsirImportance(docs: DataFrame, targetPred: Column,
                     buckets: Int = 1024,
                     textCol: String = "text"): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets=$buckets must be a power of two (unsigned mod = mask)")
    val mask = (buckets - 1).toLong
    val toks = docs
      .withColumn("__hs",
        graft.functions.GraftFunctions.shingle_hashes(col(textCol), 1, distinct = false))
      .filter(size(col("__hs")) > 0)
    // BOTH distributions in ONE corpus pass: the target counts ride
    // the same bucket aggregation as a conditional sum — at 100 TB
    // this halves the distribution-building scans
    val counts = toks
      .select(explode(col("__hs")).as("h"),
        when(targetPred, lit(1L)).otherwise(lit(0L)).as("__t"))
      .groupBy((col("h").bitwiseAND(lit(mask))).as("b"))
      .agg(count(lit(1)).as("__raw"), sum(col("__t")).as("__tgt"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val raw = Array.tabulate(buckets)(b => counts.get(b).map(_._1).getOrElse(0L))
    val tgt = Array.tabulate(buckets)(b => counts.get(b).map(_._2).getOrElse(0L))
    val (tTot, rTot) = (tgt.sum, raw.sum)
    def halfAway(x: Double): Long = {
      val q = math.floor(math.abs(x) * 1000.0 + 0.5).toLong
      if (x < 0) -q else q
    }
    val lrMilli: Seq[Long] = (0 until buckets).map { b =>
      halfAway(math.log(((tgt(b) + 1.0) * (rTot + buckets.toDouble)) /
        ((raw(b) + 1.0) * (tTot + buckets.toDouble))))
    }
    val lrArr = typedlit(lrMilli)
    toks
      .withColumn("n_tokens", size(col("__hs")).cast("long"))
      .withColumn("sum_milli", aggregate(col("__hs"), lit(0L),
        (acc, h) => acc +
          element_at(lrArr, h.bitwiseAND(lit(mask)).cast("int") + 1)))
      .withColumn("__absq",
        expr("(abs(sum_milli) * 2000 + n_tokens) div (2 * n_tokens)"))
      .withColumn("avg_micro",
        when(col("sum_milli") < 0, -col("__absq")).otherwise(col("__absq")))
      .withColumn("selected", col("avg_micro") > 0)
      .select(col("doc_id"), col("n_tokens"), col("sum_milli"),
        col("avg_micro"), col("selected"))
  }

  /** Verified entry (x27): importance of every doc under the src0
    * slice as the target domain. Sort is oracle-determinism only.
    */
  def x27DsirImportance(spark: SparkSession, dir: String): DataFrame =
    dsirImportance(Tables.documents(spark, dir), col("source") === "src0")
      .orderBy(col("doc_id"))

  /** Tokenizer-fertility report (x28): characters per token and
    * BPE-ish tokens per whitespace word, per source — the tokenizer
    * diagnostics every pretraining run reads before fixing a token
    * budget (fertility varies 2–4× across languages/domains; a
    * source's token budget in x9/x14 is only comparable through its
    * fertility). Ratios are integer µ-units via t21's half-away law —
    * a double round of an exact rational lands on half-way grid
    * points where engines disagree.
    *
    * Scale shape: one narrow counting pass (t2's one-pass token
    * counts), one map-side-combined shuffle to |sources| rows, ratio
    * arithmetic on the aggregated frame.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    // num rides a decimal(38,0): in Long, num * 2e6 overflows once a
    // source's summed chars passes ~4.6e12 (~4.6 TB of text) — real
    // at the 100 TB design point. `div` on decimals still lands on
    // the exact integer grid and returns BIGINT.
    def microRatio(num: String, den: String): org.apache.spark.sql.Column =
      expr(s"(cast($num as decimal(38,0)) * 2000000 + $den) div (2 * $den)")
    TextAnalysis.tokenCounts(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_ish_tokens")).as("bpe_tokens"))
      .withColumn("chars_per_ws_micro", microRatio("n_chars", "ws_tokens"))
      .withColumn("chars_per_bpe_micro", microRatio("n_chars", "bpe_tokens"))
      .withColumn("bpe_per_ws_micro", microRatio("bpe_tokens", "ws_tokens"))
  }

  /** Verified entry (x28). Sort is oracle-determinism only. */
  def x28TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    tokenizerFertility(Tables.documents(spark, dir)).orderBy(col("source"))
}
