package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The replay harness [[streaming.Replay]]: its chunk helpers and
  * cleanup contract, and the registered stream replays that no other
  * spec pins — each must equal its batch twin EXACTLY at sf0.001 (the
  * driver hash-gates the same equality against the batch oracle at
  * sf0.01). */
class ReplaySpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case x => x
    }).toSet

  /** The replay's rows against the batch twin's, projected to the
    * replay's columns in the replay's order. */
  private def assertTwin(replay: DataFrame, batch: DataFrame): Unit = {
    val got = rows(replay)
    val want = rows(batch.select(replay.columns.toSeq.map(col): _*))
    assert(want.nonEmpty, "batch twin is empty — not probative")
    assert(got == want,
      s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
  }

  import streaming.Replay

  private val fsManager = classOf[FileSystemBasedCheckpointFileManager].getName

  // ------------------------------------------------ harness contract

  test("chunk helpers cut exactly the thirds / halves / redelivery batches") {
    for (n <- 1 to 7) {
      val feed = (1 to n).toSeq
      val thirds = feed.grouped(math.max(1, (n + 2) / 3)).toSeq
      val halves = feed.grouped((n + 1) / 2).toSeq
      assert(Replay.thirds(feed) == thirds, s"n=$n")
      assert(Replay.thirdsRedelivered(feed) == thirds :+ feed.take(n / 3), s"n=$n")
      assert(Replay.halves(feed) == halves, s"n=$n")
      assert(Replay.halvesRedelivered(feed) == halves :+ feed.take((n + 1) / 2), s"n=$n")
      assert(Replay.halves(feed).length == math.min(n, 2), s"n=$n")
      assert(Replay.withSentinels(Replay.thirds(feed), -1, -2) ==
        thirds ++ Seq(Seq(-1), Seq(-2)), s"n=$n")
    }
    // spelled out once: 7 rows → 3 + 3 + 1, redelivery of the first 2;
    // an odd feed halves as 3 + 2, never with a third one-row batch
    assert(Replay.thirdsRedelivered(1 to 7) ==
      Seq(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7), Seq(1, 2)))
    assert(Replay.halvesRedelivered(1 to 5) ==
      Seq(Seq(1, 2, 3), Seq(4, 5), Seq(1, 2, 3)))
  }

  /** The session settings a replay scopes: the shuffle partitions
    * (`withShuffle4`), the checkpoint manager and AQE (every replay). */
  private def settings(): (String, Option[String], Option[String]) =
    (spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.getOption(Replay.CheckpointManagerKey),
      spark.conf.getOption(Replay.AdaptiveKey))

  /** The replay checkpoint directories under the temp directory whose
    * query names begin with `prefix`. */
  private def checkpoints(prefix: String): Seq[java.io.File] =
    new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles((_, n) => n.startsWith(prefix)).toSeq

  /** Nothing of a replay survives it: no running query, no sink view,
    * no checkpoint directory, and the session's shuffle setting,
    * checkpoint manager and AQE are back (an absent value stays
    * absent). */
  private def assertCleanedUp(prev: (String, Option[String], Option[String])): Unit = {
    assert(!spark.streams.active.exists(q => Option(q.name).exists(_.startsWith("replayspec_"))),
      "a replay query is still running")
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("replayspec_")),
      "a replay sink view survived")
    assert(checkpoints("replayspec_").isEmpty, "a replay checkpoint survived")
    assert(settings() == prev)
  }

  test("a throwing stream function leaves no query, no sink and the session settings restored") {
    import spark.implicits._
    val prev = settings()
    val e = intercept[IllegalStateException] {
      Replay.withShuffle4(spark) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
        Replay.run(spark, "replayspec_stream", "append",
          Replay.thirds(Seq(1L, 2L, 3L)))(
          _ => throw new IllegalStateException("stream boom"))(_.collect())
      }
    }
    assert(e.getMessage == "stream boom")
    assertCleanedUp(prev)
  }

  test("a throwing read stops the query, drops the sink and restores the session settings") {
    import spark.implicits._
    spark.conf.unset(Replay.CheckpointManagerKey) // absent must stay absent
    val prev = settings()
    val e = intercept[IllegalStateException] {
      Replay.withShuffle4(spark) {
        Replay.run(spark, "replayspec_read", "append",
          Replay.thirds(Seq(1L, 2L, 3L)))(_.toDF("x")) { sink =>
          assert(sink.count() == 3)
          assert(spark.conf.get(Replay.CheckpointManagerKey) == fsManager)
          assert(spark.conf.get(Replay.AdaptiveKey) == "true",
            "the sink read keeps the session's AQE")
          val Seq(cp) = checkpoints("replayspec_read_")
          assert(new java.io.File(cp, "offsets").isDirectory,
            "the query checkpoints into the replay's own directory")
          throw new IllegalStateException("read boom")
        }
      }
    }
    assert(e.getMessage == "read boom")
    assertCleanedUp(prev)
  }

  test("what read returns stays valid after the sink is dropped; both doors feed every batch") {
    import spark.implicits._
    val prev = settings()
    val one = Replay.run(spark, "replayspec_one", "append",
      Replay.thirdsRedelivered((1L to 7L).toSeq))(_.toDF("x"))(
      _.as[Long].collect().toSeq)
    assertCleanedUp(prev)
    assert(one.sorted == ((1L to 7L) ++ Seq(1L, 2L)).sorted)
    // one side runs out of chunks first: the longer side keeps feeding
    val two = Replay.interleaved(spark, "replayspec_two", "append",
      Replay.thirds((1L to 7L).toSeq), Replay.thirds(Seq(10L, 20L)))(
      (a, b) => a.union(b).toDF("x"))(_.as[Long].collect().toSeq)
    assertCleanedUp(prev)
    assert(two.sorted == ((1L to 7L) ++ Seq(10L, 20L)).sorted)
  }

  test("a replay checkpoints through the FileSystem manager and puts back the session's own") {
    import spark.implicits._
    val own = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(Replay.CheckpointManagerKey, own)
    try {
      val prev = settings()
      val seen = Replay.run(spark, "replayspec_manager", "append",
        Replay.thirds((1L to 5L).toSeq))(_.toDF("x")) { sink =>
        assert(sink.count() == 5)
        spark.conf.get(Replay.CheckpointManagerKey)
      }
      assert(seen == fsManager)
      assertCleanedUp(prev)
      assert(spark.conf.get(Replay.CheckpointManagerKey) == own)
    } finally spark.conf.unset(Replay.CheckpointManagerKey)
  }

  // ----------------------------------------- replays ≡ batch twins

  /** `body`'s result and the micro-batches it executed (progress with
    * an addBatch phase) over the `queries` streaming queries it starts
    * whose names begin with `prefix`; their termination events drain
    * the listener bus before the count is read. */
  private def withBatchCount[T](prefix: String, queries: Int)(body: => T): (T, Int) = {
    val runs = ConcurrentHashMap.newKeySet[UUID]()
    val batches = new AtomicInteger
    val ended = new CountDownLatch(queries)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) runs.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (runs.contains(e.progress.runId) &&
            e.progress.durationMs.containsKey("addBatch")) batches.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (runs.contains(e.runId)) ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      assert(ended.await(60, TimeUnit.SECONDS))
      (out, batches.get)
    } finally spark.streams.removeListener(listener)
  }

  test("q259: pipeline replay (halves + dup redelivery, then pack) ≡ batch q162") {
    val (replay, batches) = withBatchCount("q259_", 2)(
      streaming.PipelineStream.replayEpoch(spark, dir))
    assert(batches == 5, "election 2 + redelivery 1, pack 2")
    assertTwin(replay,
      operators.Pipeline.trainingPipelineEs(spark, dir)
        .withColumn("n_seqs",
          (col("seq_last") - col("seq_first") + 1).cast("long")))
  }

  test("q316: time-decay replay ≡ batch q294") {
    assertTwin(streaming.TimeDecayStream.replayRollup(spark, dir),
      operators.TimeDecay.eventTimeDecay(spark, dir))
  }

  test("q320: SCD-2 replay ≡ the closed versions of batch q66") {
    assertTwin(streaming.EventStream.replayScd2(spark, dir),
      operators.Scd.userStateHistory(spark, dir)
        .filter(col("valid_to").isNotNull))
  }

  test("q321: last-touch replay ≡ batch q80") {
    assertTwin(streaming.EventStream.replayLastTouch(spark, dir),
      operators.Attribution.lastTouch(spark, dir))
  }

  test("q325: reservoir replay (scrambled + dup redelivery) ≡ batch q160") {
    assertTwin(streaming.WeightedSampleStream.replayReservoir(spark, dir),
      operators.WeightedSample.sourceWeightedSample(spark, dir))
  }

  test("q326: as-of replay (interleaved sides + pushers) ≡ batch q35") {
    assertTwin(streaming.EventStream.replayAsof(spark, dir),
      operators.AsOf.asofEventState(spark, dir))
  }

  test("q327: dedup replay ≡ batch q19") {
    assertTwin(streaming.EventStream.replayDedup(spark, dir),
      dedup.Dedup.dedupExact(spark, dir))
  }

  test("q328: stream-stream range-join replay ≡ batch q36, in the same micro-batches every run") {
    // both sides' chunks of one fence share a micro-batch, and each
    // fence's watermark move asks for one no-data batch: 3 × 2
    for (_ <- 1 to 3) {
      val (replay, batches) = withBatchCount("q328_", 1)(
        streaming.EventStream.replayRangeJoin(spark, dir))
      assert(batches == 6, "3 fences, each a data batch and a no-data batch")
      assertTwin(replay, operators.RangeJoin.rangeEventWindows(spark, dir))
    }
  }
}
