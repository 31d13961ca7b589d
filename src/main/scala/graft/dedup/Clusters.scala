package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Near-duplicate clustering: connected components over the near-dup
  * pair graph, so each duplicate GROUP keeps exactly one
  * representative (keep-min-id) — pairwise output alone can't answer
  * "which docs survive".
  *
  * Near-dup edge sets are orders of magnitude smaller than the corpus,
  * so the common path collects the pair list once (bounded) and runs
  * union-find on the driver. Past the driver limit the algorithm is
  * iterative min-label propagation — each node adopts the minimum
  * label in its neighborhood until fixpoint. Iterations are
  * O(diameter); near-dup clusters are small and dense, so this
  * converges in 2-3 rounds. Each round = one join + one aggregate,
  * all distributed; the driver sees one changed-label count per
  * round. At extreme graph scale swap in large-star/small-star; the
  * surrounding contract is unchanged.
  */
object Clusters {

  /** @param pairs (a_id, b_id) near-dup edges
    * @param nodes one row per doc_id (isolated docs form their own
    *              singleton clusters)
    * @param driverEdgeLimit the pair set is collected to the driver in
    *        ONE bounded collect of at most `driverEdgeLimit + 1` pairs
    *        (capped at the largest JVM array); if it holds at most
    *        `driverEdgeLimit`, union-find runs on those pairs (near-dup
    *        edge sets are orders of magnitude smaller than the corpus —
    *        even a 100 TB corpus typically yields millions of edges,
    *        which is driver-trivial). Past it, the collected pairs are
    *        dropped and distributed min-label propagation runs over the
    *        mirrored edge frame instead. Only edges ever reach the
    *        driver, never the corpus.
    * @return (doc_id, cluster_id) with cluster_id = min doc_id in the
    *         component
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIters: Int = 20,
                          driverEdgeLimit: Long = 10L * 1000 * 1000): DataFrame = {
    val spark = nodes.sparkSession
    val directed = pairs.select(col("a_id").cast("long").as("src"),
      col("b_id").cast("long").as("dst"))
    val bound = math.min(math.max(driverEdgeLimit, 0L), Int.MaxValue - 1L).toInt
    val collected = directed.limit(bound + 1).collect()
    val labels =
      if (collected.length <= bound)
        driverUnionFind(spark, collected.map(r => (r.getLong(0), r.getLong(1))))
      else {
        val edges = directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))
          .cache()
        try propagateMinLabel(edges, maxIters) finally edges.unpersist()
      }
    nodes.select(col("doc_id"))
      .join(labels.withColumnRenamed("cluster_id", "cc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc_id"), col("doc_id")).as("cluster_id"))
  }

  /** Path-compressed union-find over a driver-collected edge list. */
  private def driverUnionFind(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
    }
    val out = parent.keys.toSeq.map(x => (x, find(x)))
    import spark.implicits._
    out.toDF("doc_id", "cluster_id")
  }

  /** Distributed min-label propagation (the over-the-limit path):
    * only edge-touched nodes carry loop state, and convergence is a
    * filter over the cached frame — no extra join per round.
    *
    * Every third round the loop frame is `localCheckpoint`ed instead
    * of cached: caching alone keeps the LOGICAL plan chaining one
    * join per round, so by the iteration counts this path exists for
    * (long-diameter graphs past the driver limit) planning and task
    * serialization cost grows linearly with rounds — checkpointing
    * truncates the lineage to the materialized blocks. Local (not
    * HDFS) checkpoint trades fault tolerance for speed: the blocks
    * live only in executor storage and the lineage is gone, so losing
    * an executor that holds them fails the job rather than recomputing
    * the loop state from the edges. The returned frame is always an
    * eager local checkpoint, so the caller may unpersist `edges` as
    * soon as this returns.
    */
  private def propagateMinLabel(edges: DataFrame, maxIters: Int,
                                checkpointEvery: Int = 3): DataFrame = {
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).cache()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
      val step = labels.join(neighborMin, labels("doc_id") === neighborMin("src"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nmin"), col("cluster_id")) < col("cluster_id")).as("changed"))
      val updated =
        if (i % checkpointEvery == checkpointEvery - 1) step.localCheckpoint()
        else step.cache()
      val changes = updated.filter(col("changed")).count()
      labels.unpersist()
      labels = updated
      converged = changes == 0
      i += 1
    }
    // the result outlives this call: hand it over as checkpointed
    // blocks (freed by the ContextCleaner once unreachable), never as
    // a cache entry the caller cannot unpersist
    val out = labels.select(col("doc_id"), col("cluster_id")).localCheckpoint()
    labels.unpersist()
    out
  }

  /** d6: cluster the exact-Jaccard near-dup pairs and emit only docs
    * in non-singleton clusters with their keep/drop verdict. The pair
    * set is d4's, computed for this call, and exact edges make the
    * whole operator verifiable by the SQL oracle (transitive closure
    * over the d4 pair set). `connectedComponents` itself is
    * edge-source-agnostic; minhash/simhash pair sets plug in unchanged.
    */
  def d6(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    val cc = connectedComponents(corpus.select(col("doc_id")),
      Dedup.exactJaccardPairs(corpus).select("a_id", "b_id"))
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .filter(col("cluster_size") > 1)
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Survivorship dedup (d17): keep the BEST copy, not the first.
    * d1/d6 keep the min-id representative — fine for identity, wrong
    * for value: when a cluster holds a clean original and a
    * boilerplate-padded scrape, production dedup keeps the
    * higher-quality member. Representative = argmax over
    * (t1 quality_score DESC, doc_id ASC) per near-dup cluster, so
    * the choice is deterministic and the quality definition is the
    * SAME t1 every gate in the library uses.
    *
    * Scale shape: cluster labels ride the given pair set
    * (union-find under the driver limit, min-label propagation
    * above); quality is a narrow one-pass map (t1's single custom
    * expression). The labeled corpus then shuffles ONCE on
    * cluster_id — size filter, rep argmax, and keep verdict are all
    * window functions over that one partitioning (no second
    * exchange, no join-back; d6's groupBy+join spelling pays the
    * cluster shuffle twice, this pays it once).
    */
  def bestRepDedup(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(docs.select(col("doc_id")), pairs.select("a_id", "b_id"))
    val q = graft.text.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val w = byCluster.orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cc.join(q, Seq("doc_id"))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter(col("cluster_size") > 1)
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .withColumn("keep", col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("rep_id"), col("keep"))
  }

  /** Verified entry (d17). Sort is oracle-determinism only. */
  def d17(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bestRepDedup(docs, Dedup.exactJaccardPairs(docs)).orderBy(col("doc_id"))
  }

  /** Cluster audit report (d18): one row per non-singleton near-dup
    * cluster — size, quality spread (t1 min/max/avg) and token-length
    * spread — the "what am I about to delete" governance table run
    * BEFORE committing a d17 survivorship pass (a cluster whose
    * quality spread is wide is a scrape family worth d17; one whose
    * members are uniformly good may be a false merge worth a higher
    * τ). Same shape as d17: pair set → labels, narrow t1
    * decoration, ONE cluster_id agg shuffle.
    */
  def clusterReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(docs.select(col("doc_id")), pairs.select("a_id", "b_id"))
    val q = graft.text.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    cc.join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        round(min(col("quality_score")), 6).as("min_quality"),
        round(max(col("quality_score")), 6).as("max_quality"),
        // the mean is exported as an INTEGER micro-unit sum: an
        // avg-of-6dp-values can land exactly on a rounding half
        // (0.5188065 → the two engines' half-rules split), while
        // per-element e6 integers sum exactly on any engine —
        // consumers divide by cluster_size
        sum(round(col("quality_score") * lit(1000000.0)).cast("long"))
          .as("sum_quality_e6"),
        min(col("n_tokens")).cast("long").as("min_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"))
      .filter(col("cluster_size") > 1)
  }

  /** Verified entry (d18). Sort is oracle-determinism only. */
  def d18(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    clusterReport(docs, Dedup.exactJaccardPairs(docs)).orderBy(col("cluster_id"))
  }
}
