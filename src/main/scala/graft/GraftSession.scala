package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults every graft job wants: AQE on,
  * shuffle partitions sized for the local core count (not the 200
  * default), UTC session time, broadcast threshold tuned for the
  * star-schema dims. On a real cluster the same builder applies —
  * only `master` and memory sizing change.
  *
  * Streaming checkpoints on `file:` paths are written through the
  * Hadoop FileSystem API ([[graft.streaming.LocalCheckpointFileManager]]):
  * Spark's default manager renames through Hadoop's FileContext, which
  * without libhadoop (the usual case outside a Hadoop install) forks
  * `readlink` several times per local rename, so each micro-batch
  * paid tens of milliseconds per state-store commit.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // InferFiltersFromGenerate re-evaluates the generator expression
      // (3x) in an inferred pre-filter — for expensive one-pass
      // expressions like shingle_hashes that triples the hot path.
      // The inferred filter only skips empty-array rows; our
      // generators never see those, so excluding the rule is safe.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Constraint propagation likewise clones expensive expressions
      // into inferred isnotnull filters (and is quadratic optimizer
      // work on wide plans); it's a pure optimization — off.
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.streaming.LocalCheckpointFileManager.ConfKey,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)

  def defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString).toInt

  def get(appName: String = "graft"): SparkSession = builder(appName).getOrCreate()
}
