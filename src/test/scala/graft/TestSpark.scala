package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (JVM-wide — Spark's
  * getOrCreate returns the same session across suites in the forked test
  * JVM, which keeps the suite wall-clock dominated by queries, not session
  * startup).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")

  /** Spark jobs started while `body` runs (the jobs of this thread's job
    * group; a marker job behind them flushes the listener queue, which
    * delivers job starts in order). */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(g) if g == group + "-end" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      body
      sc.setJobGroup(group + "-end", "job probe marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS))
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
