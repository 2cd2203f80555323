package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The measurement core the mains share, on small fake query functions
  * over in-memory frames: failure capture, isolation, min-of-2 and the
  * job description. */
class MeasureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()

  private val dir = "unused"
  private val small: Measure.Query = (s, _) => s.range(100).toDF("id")
  private def failing(msg: String): Measure.Query =
    (_, _) => throw new RuntimeException(msg)
  private def description = spark.sparkContext.getLocalProperty("spark.job.description")

  test("a RuntimeException is a failed run and the next query still runs") {
    val failed = Measure.run(spark, "boom", failing("boom"), dir)
    assert(failed.failed.get.getMessage == "boom")
    assert(Measure.time(spark, "boom", failing("boom"), dir) == -1.0)
    assert(Measure.time(spark, "next", small, dir) >= 0)
  }

  test("a StackOverflowError is a failed run and the next query still runs") {
    val deep: Measure.Query = (_, _) => throw new StackOverflowError("deep plan")
    assert(Measure.run(spark, "deep", deep, dir).failed.get.isInstanceOf[StackOverflowError])
    assert(Measure.min(spark, "deep", deep, dir) == -1.0)
    assert(Measure.time(spark, "next", small, dir) >= 0)
  }

  test("a fatal error from the query function propagates") {
    val oom: Measure.Query = (_, _) => throw new OutOfMemoryError("fake")
    spark.sparkContext.setJobDescription("caller")
    try {
      intercept[OutOfMemoryError](Measure.run(spark, "oom", oom, dir))
      intercept[OutOfMemoryError](Measure.min(spark, "oom", oom, dir))
      assert(description == "caller")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("no persistent RDD outlives a query that localCheckpoints") {
    val sc = spark.sparkContext
    val log = LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    val level = log.getLevel
    def pinned(fail: Boolean): Measure.Query = (s, _) => {
      val df = s.range(1000).toDF("id").localCheckpoint()
      assert(sc.getPersistentRDDs.nonEmpty)
      if (fail) throw new RuntimeException("after the checkpoint")
      df
    }
    assert(Measure.time(spark, "pinned", pinned(fail = false), dir) >= 0)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(Measure.time(spark, "pinned_failed", pinned(fail = true), dir) == -1.0)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(log.getLevel == level, "the unpersist warning's logger level is put back")
  }

  test("min-of-2 ignores failed runs and reads -1 when every run fails") {
    var calls = 0
    val firstFails: Measure.Query = (s, d) => {
      calls += 1
      if (calls == 1) throw new RuntimeException("first") else small(s, d)
    }
    assert(Measure.min(spark, "flaky", firstFails, dir) >= 0)
    assert(calls == 2)
    assert(Measure.min(spark, "dead", failing("always"), dir) == -1.0)
    assert(Measure.best(Seq(-1.0, 0.5, 0.25)) == 0.25)
    assert(Measure.best(Seq(-1.0, -1.0)) == -1.0)
    assert(Measure.best(Nil) == -1.0)
  }

  test("the query's name is the job description while it runs, the caller's after") {
    val sc = spark.sparkContext
    val tag = s"measure-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          p.getProperty("spark.jobGroup.id") match {
            case `tag` => seen.add(p.getProperty("spark.job.description"))
            case g if g == s"$tag-fence" => fenced.countDown()
            case _ =>
          }
        }
    }
    sc.setJobDescription(null)
    Measure.run(spark, "unset", small, dir)
    assert(description == null)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "caller")
      try {
        assert(Measure.time(spark, "described", small, dir) >= 0)
        assert(description == "caller")
        assert(Measure.time(spark, "described_failed", failing("x"), dir) == -1.0)
        assert(description == "caller")
      } finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      assert(seen.asScala.nonEmpty)
      assert(seen.asScala.forall(_ == "described"))
    } finally sc.removeSparkListener(listener)
  }
}
