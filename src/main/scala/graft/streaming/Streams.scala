package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import graft.pipeline.Medallion

/** Structured Streaming wiring: sources, sinks, and the streaming
  * gold path (reference: src/jobs/spark_streaming_job.py — Kafka
  * source → bronze/silver parquet sinks → watermarked 15-min gold agg
  * → foreachBatch JDBC).
  *
  * All transform logic lives in [[graft.pipeline.Medallion]] as pure
  * DataFrame functions, so batch and streaming share one code path;
  * this module only supplies the stream plumbing.
  */
object Streams {

  /** Kafka source, configured like the reference
    * (spark_streaming_job.py:51-58). Offline-untestable here; the
    * option surface is covered by unit test.
    */
  def kafkaReader(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "latest",
                  failOnDataLoss: Boolean = false): DataStreamReader =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", failOnDataLoss.toString)

  /** Decode a Kafka-shaped frame (binary `value` column) into typed
    * rows via from_json with an explicit schema — the reference's
    * CAST(value AS STRING) + from_json step
    * (spark_streaming_job.py:61-62).
    */
  def decodeKafkaJson(raw: DataFrame, schema: StructType): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS json_str")
      .select(from_json(col("json_str"), schema).as("r"))
      .select("r.*")

  /** File-based streaming source (parquet/json/csv). Schema must be
    * explicit for streaming reads.
    */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
                 format: String = "parquet", globFilter: Option[String] = None): DataFrame = {
    val r = spark.readStream.schema(schema).format(format)
    globFilter.foreach(g => r.option("pathGlobFilter", g))
    r.load(path)
  }

  /** Append sink to a parquet lake with checkpoint — the bronze/silver
    * sink shape (spark_streaming_job.py:65-72).
    */
  def parquetSink(df: DataFrame, path: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** foreachBatch sink taking any batch-writer function — the
    * reference uses this shape to append gold windows to Postgres via
    * JDBC (spark_streaming_job.py:120-146). The JDBC writer itself is
    * just `df.write.format("jdbc").options(...)` inside the function;
    * keeping the sink generic lets tests substitute parquet/memory.
    */
  def foreachBatchSink(df: DataFrame, checkpoint: String)
                      (writer: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", checkpoint)
      .outputMode("update")

  /** JDBC batch writer for use inside foreachBatchSink — mirrors
    * spark_streaming_job.py:127-137. Round-tripped against embedded
    * Derby in JdbcSpec; Postgres is the production default driver.
    */
  def jdbcBatchWriter(url: String, table: String, user: String, password: String,
                      driver: String = "org.postgresql.Driver"): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      batch.write.format("jdbc").mode("append")
        .option("url", url).option("user", user).option("password", password)
        .option("dbtable", table).option("driver", driver)
        .save()

  /** Keyed idempotent JDBC upsert for use inside foreachBatchSink —
    * the exactly-once gold writer the reference's append-mode sink
    * (spark_streaming_job.py:120-137) lacks: under update-mode output
    * a re-emitted window (late data) or a replayed micro-batch
    * (checkpoint recovery) APPENDS a second row for the same
    * (window_start, station_id) grain there; here it replaces it.
    *
    * Upsert is delete-then-insert on the key columns inside one
    * transaction per partition — deliberately NOT a MERGE statement:
    * the row sets per gold grain are whole-row replacements, and
    * DELETE+INSERT with parameter markers is portable across every
    * JDBC dialect (Derby, Postgres, MySQL) where MERGE / ON CONFLICT
    * syntax forks three ways. Each executor partition writes disjoint
    * keys (the batch is an aggregate on the key grain), so the
    * per-partition transactions never contend.
    *
    * Re-running the same batch is a no-op by construction — the
    * exactly-once property JdbcSpec pins. The table is created once
    * per writer: its first batch runs a zero-row append, which
    * creates the table from the batch schema if it is missing
    * (Spark's own JDBC DDL path), so the writer works against an
    * empty database. Later batches skip it, as that append costs a
    * Spark job and a metadata round trip every micro-batch.
    */
  def jdbcUpsertWriter(url: String, table: String, keyCols: Seq[String],
                       user: String, password: String,
                       driver: String = "org.postgresql.Driver"): (DataFrame, Long) => Unit = {
    @volatile var created = false
    (batch: DataFrame, _: Long) => {
      val cols = batch.schema.fieldNames.toSeq
      require(keyCols.nonEmpty && keyCols.forall(cols.contains),
        s"key columns $keyCols must all exist in ${cols.mkString(",")}")
      if (!created) {
        // string KEY columns must be created as VARCHAR, not the
        // dialect's default LOB (Derby maps StringType → CLOB, which
        // cannot sit in an equality predicate)
        val keyVarchars = keyCols
          .filter(k => batch.schema(k).dataType == org.apache.spark.sql.types.StringType)
          .map(k => s"$k VARCHAR(512)")
        val create = batch.limit(0).write.format("jdbc").mode("append")
          .option("url", url).option("user", user).option("password", password)
          .option("dbtable", table).option("driver", driver)
        (if (keyVarchars.nonEmpty)
          create.option("createTableColumnTypes", keyVarchars.mkString(", "))
        else create).save()
        created = true
      }
      // Spark's JDBC DDL path quotes column names (case-sensitive in
      // Derby/Postgres) — quote them here too or they fold to the
      // dialect's default case and miss
      def q(c: String): String = "\"" + c + "\""
      val delSql = s"DELETE FROM $table WHERE " +
        keyCols.map(k => s"${q(k)} = ?").mkString(" AND ")
      val insSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
      val keyIdx = keyCols.map(cols.indexOf)
      batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          Class.forName(driver)
          val conn = java.sql.DriverManager.getConnection(url, user, password)
          try {
            conn.setAutoCommit(false)
            val del = conn.prepareStatement(delSql)
            val ins = conn.prepareStatement(insSql)
            rows.foreach { row =>
              keyIdx.zipWithIndex.foreach { case (ri, pi) =>
                del.setObject(pi + 1, row.get(ri)) }
              del.addBatch()
              cols.indices.foreach(i => ins.setObject(i + 1, row.get(i)))
              ins.addBatch()
            }
            del.executeBatch()
            ins.executeBatch()
            conn.commit()
          } catch {
            case e: Throwable => conn.rollback(); throw e
          } finally conn.close()
        }
      }
    }
  }

  private val runCounter = new AtomicInteger(0)

  /** `df` on a cloned session whose shuffle-partition count (the
    * state-store shard count a stream freezes into its checkpoint) is
    * `statePartitions`; `df` itself when None.
    */
  private def withStatePartitions(df: DataFrame, statePartitions: Option[Int]): DataFrame =
    statePartitions.fold(df)(n => org.apache.spark.sql.GraftBridge.withConfScope(df,
      "spark.sql.shuffle.partitions" -> n.toString))

  /** Run a (bounded) streaming DataFrame to completion into a memory
    * sink and return the result as a batch DataFrame. Used to prove
    * stream/batch parity on file-backed sources.
    *
    * @param statePartitions state-store shard count for this query
    *        (frozen into the checkpoint at start). Stateful-stage cost
    *        is per-shard file IO every micro-batch, so shards should
    *        track state volume: a handful locally, hundreds on a real
    *        cluster. None keeps the session's shuffle-partition count.
    *        The override rides a CLONED session (shared SparkContext,
    *        isolated SQLConf), so it is per-query: concurrent work on
    *        the caller's session never observes it (StreamingSpec pins
    *        this with a mid-query conf watcher).
    */
  def runToMemory(df: DataFrame, outputMode: String = "complete",
                  statePartitions: Option[Int] = None): DataFrame = {
    val scoped = withStatePartitions(df, statePartitions)
    val name = s"graft_mem_${runCounter.incrementAndGet()}"
    val q = scoped.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    scoped.sparkSession.table(name)
  }

  /** st14 streaming twin, aggregation stage: watermarked tumbling
    * 1-hour (window, item) counts in update mode. Each micro-batch
    * re-emits only changed keys; the sink upserts them on
    * (hour_ts, item) — jdbcUpsertWriter in production,
    * [[runUpsertToMemory]] locally — and the trending top-k is
    * Activity.trendingCut over the sink's compacted state (the
    * reference-heritage shape: gold windows upsert to a table, the
    * dashboard ranks the table).
    */
  def trendingCounts(stream: DataFrame, tsCol: String = "ts",
                     itemCol: String = "item",
                     watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col(itemCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_ts"),
        col(itemCol).as("item"), col("n_events"))

  /** st24 streaming twin, aggregation stage: watermarked per-instant
    * net-delta sums keyed by (1-hour window, us) in update mode —
    * each interval start/end lands its ±1 on its own instant, nets
    * are commutative so ANY batch split compacts to the identical
    * (hour_ts, us, net) table through the keyed-upsert sink, and the
    * peak report is Intervals.peakFromNets over that state — the SAME
    * finishing code the batch entry runs (st14's "gold upserts to a
    * table, the dashboard ranks the table" shape). State is one row
    * per distinct state-change instant per hour — the same volume the
    * batch shuffle carries, windowed out by the watermark.
    */
  def concurrencyDeltaNets(stream: DataFrame, tsCol: String = "ts",
                           durationUs: Long = 300000000L,
                           watermark: String = "2 hours"): DataFrame =
    graft.operators.Intervals.intervalDeltas(
      stream.withColumn("__ts_us", unix_micros(col(tsCol))),
      "__ts_us", durationUs)
      .withColumn("__delta_ts", timestamp_micros(col("us")))
      // the watermark attaches to the DELTA's own event time (a
      // projection of ts would drop the tag); the −1 delta sits
      // durationUs AFTER its event, which only makes it earlier
      // relative to the watermark, never late
      .withWatermark("__delta_ts", watermark)
      .groupBy(window(col("__delta_ts"), "1 hour"), col("us"))
      .agg(sum(col("delta")).as("net"))
      .select(col("window.start").as("hour_ts"), col("us"), col("net"))

  /** st8b streaming twin, aggregation stage: ONE mergeable HLL
    * sketch row per day, maintained across micro-batches in the
    * streaming agg state (DataSketches HLL state is a per-bucket
    * max — insertion-order- and batch-boundary-invariant, so the
    * streamed day sketch is bit-compatible with the batch-built
    * one). The compacted (day, day_sk) table is exactly the input
    * Activity.rollingWauFromSketches rolls windows over — per-day
    * state is CONSTANT bytes regardless of user count, the property
    * that lets a 100 TB stream keep every day's sketch forever.
    */
  def dailySketchStream(stream: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts", lgK: Int = 14,
                        watermark: String = "2 hours"): DataFrame =
    stream
      .filter(col(userCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day"))
      .agg(hll_sketch_agg(col(userCol), lgK).as("day_sk"))
      .select(col("window.start").cast("date").as("day"), col("day_sk"))

  /** p16 streaming twin: maintain the partial-gold materialized view
    * across micro-batches — each batch folds to its OWN partial
    * (window-cardinality aggregate rows, Medallion.goldPartial) and
    * sum-merges into the sink state by (window, key). The merge is
    * commutative and associative (p16's round-per-slice law), so NO
    * cross-batch ordering contract exists: ANY split of the log into
    * batches — including a fully shuffled one — yields the identical
    * view (StreamingSpec ingests exactly that). Local stand-in sink
    * = in-memory merge map bounded by the gold grain; at production
    * scale the same per-batch partial sum-merges into the
    * partial-gold lake (goldMerge) or a JDBC upsert.
    */
  def runGoldMergeToMemory(silver: DataFrame, keyCol: String,
                           statePartitions: Option[Int] = None,
                           maxStateRows: Int = 1 << 20): DataFrame = {
    val scoped = withStatePartitions(silver, statePartitions)
    val state = new java.util.LinkedHashMap[
      (java.sql.Timestamp, java.sql.Timestamp, String), (Long, Double)]()
    val q = scoped.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Boundedness VALVE (VERDICT r12 item 6): the driver-side
        // merge map is bounded by the AGGREGATE'S KEY GRAIN by
        // contract — enforce it, so pointing this test sink at a
        // stream whose gold grain explodes fails NAMED (pre-counting
        // the partial before the collect) instead of OOMing the
        // driver. The count is one extra tiny job per micro-batch —
        // this sink is test-only by contract.
        val partial = Medallion.goldPartial(batch, "ts", keyCol)
        val n = partial.count()
        require(state.size() + n <= maxStateRows,
          s"memory-sink state would exceed $maxStateRows rows — this sink is " +
            "for AGGREGATED streams (state bounded by the gold key grain); " +
            "route a wider stream at goldMerge/jdbcUpsertWriter instead")
        partial.collect().foreach { r =>
          val k = (r.getAs[java.sql.Timestamp]("window_start"),
            r.getAs[java.sql.Timestamp]("window_end"),
            String.valueOf(r.getAs[Any](keyCol)))
          val (n0, s0) = Option(state.get(k)).getOrElse((0L, 0.0))
          state.put(k, (n0 + r.getAs[Long]("n_events"),
            s0 + r.getAs[Double]("sum_value")))
        }
      }
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val spark = scoped.sparkSession
    import spark.implicits._
    state.entrySet().toArray(Array.empty[java.util.Map.Entry[
        (java.sql.Timestamp, java.sql.Timestamp, String), (Long, Double)]])
      .map { e =>
        val ((ws, we, k), (n, s)) = (e.getKey, e.getValue)
        (ws, we, k, n, math.rint(s * 100) / 100)
      }.toSeq
      .toDF("window_start", "window_end", keyCol, "n_events", "sum_value")
  }

  /** Run a bounded update-mode stream to completion, compacting its
    * per-batch re-emissions into final per-key rows via a
    * foreachBatch keyed upsert — the LOCAL stand-in for
    * [[jdbcUpsertWriter]]'s table (same delete-then-insert-by-key
    * semantics, an in-memory map instead of a database). The state
    * is bounded by the AGGREGATE'S KEY GRAIN (hours × items, days),
    * never by event count — the same boundedness contract the JDBC
    * gold table carries — so the per-batch collect here is
    * bounded-by-contract (at production scale the identical stream
    * simply points foreachBatchSink at jdbcUpsertWriter instead).
    */
  def runUpsertToMemory(df: DataFrame, keyCols: Seq[String],
                        statePartitions: Option[Int] = None,
                        maxStateRows: Int = 1 << 20): DataFrame = {
    val scoped = withStatePartitions(df, statePartitions)
    val state = new java.util.LinkedHashMap[Seq[Any], org.apache.spark.sql.Row]()
    val q = scoped.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ki = keyCols.map(k => batch.schema.fieldNames.indexOf(k))
        require(ki.forall(_ >= 0), s"key columns $keyCols must exist in the stream")
        // Boundedness VALVE (VERDICT r12 item 6): state is bounded by
        // the upserted AGGREGATE'S key grain by contract — pre-count
        // each micro-batch so a misuse on an unaggregated stream
        // fails NAMED before the collect, not as a driver OOM
        val n = batch.count()
        require(state.size() + n <= maxStateRows,
          s"memory-sink state would exceed $maxStateRows rows — this sink is " +
            "for AGGREGATED update streams (state bounded by the key grain); " +
            "route a wider stream at jdbcUpsertWriter/a lake sink instead")
        batch.collect().foreach(r => state.put(ki.map(r.get(_)), r))
      }
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](state.values())
    scoped.sparkSession.createDataFrame(rows, scoped.schema)
  }

  /** SURVEY §2 p6: the reference's gold aggregation executed through
    * Structured Streaming — file source over the events parquet,
    * watermark + 15-min tumbling window per event_type, memory sink —
    * returning the same rows as the batch path (p3).
    */
  def p6StreamGold(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // nanosAsLong must be live at schema inference AND at the
    // streaming scan — scope it to a cloned session instead of
    // mutating the shared session conf (the concurrent-writer race
    // class ADVICE r6 flagged; same mechanism as runToMemory's
    // statePartitions scope).
    val scoped = org.apache.spark.sql.GraftBridge.scopedSession(spark,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val schema = scoped.read.parquet(path).schema
    // Layout-aware source: a directory-layout events.parquet (any
    // Spark-written corpus — DegenerateSpec's rungs) streams as the
    // directory itself; pathGlobFilter matches leaf FILES only, so
    // the glob spelling would silently stream ZERO files there. A
    // single-file layout (the driver's testdata) cannot be load()ed
    // directly (FileStreamSource requires a directory base), so it
    // keeps the parent-dir + glob spelling. Layout detection goes
    // through the Hadoop FS resolved for the path — java.io.File only
    // sees the local disk, so on hdfs://-/s3a://-style lakes it would
    // answer false for every directory and silently re-trigger the
    // zero-file glob failure this branch exists to avoid (ADVICE r11).
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stream = graft.Tables.normalizeEventTs(
      if (fs.getFileStatus(hPath).isDirectory) fileStream(scoped, path, schema)
      else fileStream(scoped, dir, schema, globFilter = Some("events.parquet")))
    val silver = Medallion.silverEvents(stream).withWatermark("ts", "2 hours")
    val gold = Medallion.goldWindow(silver, "ts", "event_type")
    runToMemory(gold, statePartitions = Some(8))
      .orderBy(col("window_start"), col("event_type"))
  }
}
