package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts Spark jobs for specs that pin a cost by count, not by time. */
object Jobs {

  /** `body`'s value and the Spark jobs it started: its jobs carry a
    * job group a listener counts; one fence job in another group,
    * seen by the same listener, drains the bus before the count. */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
