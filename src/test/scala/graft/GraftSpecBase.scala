package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are
  * read-only over the test data).
  */
trait GraftSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpecBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Number of Spark jobs `body` starts on this thread, read from a
    * SparkListener. The jobs are found by a job tag, not a job group,
    * so `body` may run inside a streaming query's `foreachBatch`
    * without replacing the query's own job group. A sentinel job with
    * its own tag runs afterwards: the listener queue is FIFO, so once
    * the sentinel's start arrives every job event of `body` has been
    * delivered too.
    */
  def jobsStarted(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    val sentinel = s"$tag-sentinel"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty)
        if (tags(sentinel)) flushed.countDown()
        else if (tags(tag)) started.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      body
      sc.addJobTag(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener never caught up")
      started.get
    } finally {
      sc.removeJobTag(tag)
      sc.removeJobTag(sentinel)
      sc.removeSparkListener(listener)
    }
  }

  /** Entries in the session's `CacheManager`: frames persisted and not
    * yet unpersisted. `numCachedEntries` is sql-private in Scala and
    * public in bytecode, hence the reflective call.
    */
  def numCachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }
}

object GraftSpecBase {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = GraftSession.builder("graft-test", cores = 4)
      // local[4, 2]: allow ONE task retry so RetrySpec can inject a
      // first-attempt failure and prove retry determinism; assertions
      // everywhere are on results, so the allowance masks nothing
      .master("local[4, 2]")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
