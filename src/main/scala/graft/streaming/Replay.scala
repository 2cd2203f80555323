package graft.streaming

import java.nio.file.Files

import scala.reflect.runtime.universe.TypeTag

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The one replay harness. Every registered stream replay (the 24
  * `*_stream` queries of [[graft.SparkEntry]]) proves a streaming twin
  * by feeding a fixed feed through a live query and reading the memory
  * sink back; the source, the micro-batch fences, the sink read and the
  * cleanup live here, so a replay states only its feed, its batches and
  * its read.
  *
  * Harness cost is billed to every registered replay's bench reading,
  * so driver-side feed preparation must not do re-computed work.
  */
object Replay {

  /** Run `body` (a replay's feed preparation and stream) at 4 shuffle
    * partitions, restoring the session's setting afterwards, also when
    * `body` throws. State-store tasks = shuffle partitions, fixed at
    * query start: a replay runs a handful of micro-batches over state of
    * a few hundred rows, so one state partition per core is pure
    * per-batch overhead — q259 measured 13.8 s → ~5 s at sf0.1 going
    * from 32 partitions to 4. */
  def withShuffle4[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", "4")(body)

  /** Run `body` with session conf `key` set to `value`, then put back
    * the session's previous value, also when `body` throws; an absent
    * value stays absent. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ------------------------------------------------------- chunk helpers

  /** The feed in three contiguous micro-batches (the last may be short). */
  def thirds[E](feed: Seq[E]): Seq[Seq[E]] =
    feed.grouped(math.max(1, (feed.length + 2) / 3)).toSeq

  /** [[thirds]] plus a duplicate redelivery of the first third —
    * at-least-once delivery as part of the gated claim. */
  def thirdsRedelivered[E](feed: Seq[E]): Seq[Seq[E]] =
    thirds(feed) :+ feed.take(feed.length / 3)

  /** The feed in two contiguous micro-batches (the last may be short). */
  def halves[E](feed: Seq[E]): Seq[Seq[E]] =
    feed.grouped(math.max(1, (feed.length + 1) / 2)).toSeq

  /** [[halves]] plus a duplicate redelivery of the first half (q259). */
  def halvesRedelivered[E](feed: Seq[E]): Seq[Seq[E]] =
    halves(feed) :+ feed.take((feed.length + 1) / 2)

  /** `batches` followed by one one-row batch per sentinel: watermark
    * pushers on a throwaway key the caller's read filters back out. */
  def withSentinels[E](batches: Seq[Seq[E]], sentinels: E*): Seq[Seq[E]] =
    batches ++ sentinels.map(Seq(_))

  // --------------------------------------------------------- front doors

  /** Replay `batches` through `stream` over one source: each batch goes
    * in behind its own fence, then `read` runs on the memory sink (the
    * query's `mode` output) before the sink is dropped — so `read` must
    * materialize what it returns. `sink` prefixes the sink's name. */
  def run[E: Encoder, T](spark: SparkSession, sink: String, mode: String,
      batches: Seq[Seq[E]])(stream: Dataset[E] => Dataset[_])(
      read: DataFrame => T): T = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[E]
    core(spark, sink, mode, stream(in.toDS()), batches.length)(
      k => in.addData(batches(k)))(read)
  }

  /** [[run]] over two interleaved sides: chunk k of each side (while
    * that side has one) goes in, then one fence per k — both sides'
    * watermarks advance between micro-batches while the other side
    * still has matches coming (q311, q328).
    *
    * Both sides ride one source of `(Some(a), None)` / `(None, Some(b))`
    * pairs, so each fence's two chunks are one offset and land in the
    * same micro-batch. Over two sources the engine could plan a batch
    * between the two `addData` calls: q311 and q328 then split their
    * first fence into a one-sided batch each in about half of their
    * runs, 7 micro-batches instead of 6. */
  def interleaved[A: Encoder: TypeTag, B: Encoder: TypeTag, T](
      spark: SparkSession, sink: String, mode: String, as: Seq[Seq[A]],
      bs: Seq[Seq[B]])(stream: (Dataset[A], Dataset[B]) => Dataset[_])(
      read: DataFrame => T): T = {
    val in = MemoryStream(
      spark.implicits.newProductEncoder[(Option[A], Option[B])], spark)
    val sides = in.toDS()
    core(spark, sink, mode, stream(sides.flatMap(_._1), sides.flatMap(_._2)),
      math.max(as.length, bs.length)) { k =>
      def chunk[E](side: Seq[Seq[E]]): Seq[E] = side.lift(k).getOrElse(Nil)
      in.addData(chunk(as).map(a => (Option(a), Option.empty[B])) ++
        chunk(bs).map(b => (Option.empty[A], Option(b))))
    }(read)
  }

  /** The session key naming the class behind every checkpoint log and
    * state-store file a streaming query writes. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The session key of adaptive query execution, off while a replay's
    * query starts. */
  val AdaptiveKey = "spark.sql.adaptive.enabled"

  /** Build `result`, start it into a uniquely named memory sink, run
    * `feed(k)` then a `processAllAvailable` fence for each k, read the
    * sink, and stop the query and drop the sink in `finally`.
    *
    * The query checkpoints into a fresh temp directory of its own,
    * named after the query and deleted in `finally`, also when the
    * replay throws. Left to Spark, a
    * memory sink gets a `temporary-*` directory with a WARN line, and
    * a query that fails keeps it.
    *
    * AQE is off while `start()` runs, where the query clones the
    * session: the analyzer warns there that streaming disables AQE
    * whenever the session has it on. Spark 4.1 in fact turns AQE off
    * in the clone only for a stateful plan, with a WARN line of its
    * own, so a stateless replay would lose AQE here; every registered
    * replay is stateful. The session's own value is back before the
    * first batch, so the caller's batch work and `read` keep AQE.
    *
    * From `start()` to `stop()` the query checkpoints through Hadoop's
    * `FileSystem` API ([[FileSystemBasedCheckpointFileManager]]), and
    * the session's previous manager (or none) comes back in `finally`.
    * Spark's default manager renames through `FileContext`, which asks
    * `getFileLinkStatus` of both paths; without Hadoop's native library
    * each ask forks a `readlink`, and every offset, commit and
    * state-store file is one such rename: about 15,000 processes per
    * pass over the 24 replays at sf0.01. `RawLocalFileSystem.rename` is
    * a plain `File.renameTo`. The FileSystem manager checks then
    * renames, which is safe only where no other writer shares the
    * checkpoint: true of every replay, whose checkpoint is its own
    * throwaway temp directory, so the setting lives here and not in
    * [[graft.Engine]]. Checkpoint checksums and the `.crc` files stay
    * on. */
  private def core[T](spark: SparkSession, sink: String, mode: String,
      result: => Dataset[_], nBatches: Int)(feed: Int => Unit)(
      read: DataFrame => T): T = {
    val name = s"${sink}_" +
      java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
    val checkpoint = Files.createTempDirectory(s"$name-")
    try withConf(spark, CheckpointManagerKey,
        classOf[FileSystemBasedCheckpointFileManager].getName) {
      val writer = result.writeStream.format("memory").queryName(name)
        .outputMode(mode).option("checkpointLocation", checkpoint.toString)
      val q = withConf(spark, AdaptiveKey, "false")(writer.start())
      try {
        (0 until nBatches).foreach { k => feed(k); q.processAllAvailable() }
        read(spark.table(name))
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    } finally FileUtils.deleteQuietly(checkpoint.toFile)
  }

  // ---------------------------------------------------------- sink reads

  /** The last emission per key, in sink order — an Update-mode sink's
    * final state for each key. */
  def latestBy[R, K](rows: Array[R])(key: R => K): Seq[R] =
    rows.zipWithIndex.groupBy(r => key(r._1))
      .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSeq

  // ------------------------------------------------------- feed ordering

  /** Stable sort of a collected feed by Long key(s), with every key
    * computed ONCE per element. `Array.sortBy(f)` evaluates `f` on
    * every comparison — ~2·n·log n evaluations; with a `String.toLong`
    * parse in the key (the q332/q333/q334 scrambles) that measured
    * 1.6 s of the replay's 7 s at sf0.1, and tuple keys pay two
    * allocations per comparison. An index sort over precomputed key
    * arrays is the identical order (stable — ties keep input order,
    * exactly like `sortBy`) at array-lookup cost per comparison. */
  def sortedByLongs[E](feed: Array[E])(keyFns: (E => Long)*): IndexedSeq[E] = {
    val ks = keyFns.map(f => feed.map(f)).toArray
    val ord = new Ordering[Int] {
      def compare(a: Int, b: Int): Int = {
        var j = 0
        while (j < ks.length) {
          val c = java.lang.Long.compare(ks(j)(a), ks(j)(b))
          if (c != 0) return c
          j += 1
        }
        0
      }
    }
    feed.indices.sorted(ord).map(feed)
  }

  /** The q259 deterministic Knuth scramble over a single Long key. */
  def knuthSorted[E](feed: Array[E])(keyOf: E => Long): IndexedSeq[E] =
    sortedByLongs(feed)(keyOf)
}
