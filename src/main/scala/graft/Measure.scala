package graft

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement methodology every query-running main shares
  * (Bench, Scaling, TimeMain, Verify).
  *
  * - Build and write are both inside the timed span. The default write
  *   is the `noop` sink: full plan materialization (a bare count() would
  *   let Catalyst skip the projected columns of map-only queries).
  * - `NonFatal` errors and `StackOverflowError` (how Catalyst fails on a
  *   deep iterative plan; the stack has unwound once it is caught) are a
  *   failed run, read as `-1`. Any other fatal error (an OOM, an
  *   interrupt, a `LinkageError`) still ends the run.
  * - Isolation: after every run, every persistent RDD is unpersisted.
  *   `localCheckpoint(true)` pins blocks that nothing else frees; over a
  *   whole-registry pass they fill the block manager and late queries
  *   pay eviction pressure (the "in-run heat" of BENCH_r12-r13).
  * - The query's name is the job description while it runs, and the
  *   caller's description is put back afterwards.
  */
object Measure {
  type Query = (SparkSession, String) => DataFrame

  /** Data directory of the warm-up pass. */
  private val WarmDir = "/root/testdata/sf0.001"

  /** Timed runs per reading in [[min]]: GC pauses and OS scheduling noise
    * inflate single local[N] measurements by up to ~30%. */
  private val Runs = 2

  /** Logger of the RDD class `Dataset.localCheckpoint` makes: Spark warns
    * that each one unpersisted "cannot be recomputed", which here is the
    * point, so the rule runs with that warning quieted. */
  private val CheckpointLog = "org.apache.spark.rdd.MapPartitionsRDD"

  /** Seconds to build `query` over `dir` and `write` it, or the error it
    * failed with. */
  def run(spark: SparkSession, name: String, query: Query, dir: String,
      write: DataFrame => Unit = _.write.mode("overwrite").format("noop").save())
      : Try[Double] = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try {
      val t0 = System.nanoTime()
      write(query(spark, dir))
      Success((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: StackOverflowError => Failure(e)
      case NonFatal(e) => Failure(e)
    } finally {
      unpersistAll(sc)
      sc.setJobDescription(caller)
    }
  }

  private def unpersistAll(sc: SparkContext): Unit = {
    val level = LogManager.getLogger(CheckpointLog).getLevel
    Configurator.setLevel(CheckpointLog, Level.ERROR)
    try sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    finally Configurator.setLevel(CheckpointLog, level)
  }

  /** One timed noop run: seconds, or -1 when the query failed. */
  def time(spark: SparkSession, name: String, query: Query, dir: String): Double =
    run(spark, name, query, dir).getOrElse(-1.0)

  /** The fastest of `times`, ignoring failed (-1) runs; -1 when all failed. */
  def best(times: Seq[Double]): Double =
    times.filter(_ >= 0).minOption.getOrElse(-1.0)

  /** Min over [[Runs]] timed runs. */
  def min(spark: SparkSession, name: String, query: Query, dir: String): Double =
    best((1 to Runs).map(_ => time(spark, name, query, dir)))

  /** One pass over [[WarmDir]], readings discarded, so JIT, codegen and
    * datasource initialization aren't billed to the first query. */
  def warmUp(spark: SparkSession, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (name, q) => run(spark, name, q, WarmDir) }
}
