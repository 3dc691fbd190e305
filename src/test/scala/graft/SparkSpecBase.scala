package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session; suites run
  * sequentially in sbt's forked test JVM). sf0.001 fixtures keep tests fast.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.session

  /** Spark jobs `body` submits on this thread. Jobs are tagged with a job
    * group; a marker job in a second group, whose start the listener must
    * see, flushes the listener bus (events arrive in order). */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (group, marker) = ("spec-jobs-body", "spec-jobs-marker")
    val jobs = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured body")
      val out = body
      sc.setJobGroup(marker, "listener bus flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job never observed")
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run `body` with `confs` set on the shared session, then restore each
    * key's previous value (or unset a key that was unset). */
  protected def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt's forked JVM exits at the end
    super.afterAll()
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
