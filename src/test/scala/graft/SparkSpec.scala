package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (never stopped — sbt runs
  * suites sequentially in one forked JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4) // MovementBaseline's session too
  val sf: String = "/root/testdata/sf0.001"

  /** Recursive temp-dir cleanup with the directory stream CLOSED
    * (a bare `Files.list(p).forEach(...)` leaks one file handle per
    * directory — round_N checkpoint trees have many).
    */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Runs `body` with the session confs in `pairs` set, then restores
    * each key's previous value (or unsets it) — the session is shared
    * by every suite.
    */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Jobs `body` schedules, counted by a listener up to a marker job
    * submitted after it: the listener bus delivers in order, so once
    * the marker arrives every earlier job start has been counted.
    */
  def jobsScheduledBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "jobs-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("jobs-marker", "end of the counted jobs")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never arrived")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
