package graft

import java.nio.file.{Files, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Tables.events` against EVERY physical schema the testdata has
  * ever shipped with: the environment regenerated events.parquet from
  * INT64 TIMESTAMP(NANOS) to native timestamp[us] between rounds 8's
  * last commit and its gate run, silently erring 15 queries. The loader
  * now adapts; this spec synthesizes one tiny fixture per physical type
  * and asserts identical loaded rows, so the NEXT regeneration in
  * either direction is caught by a unit test instead of the gate.
  *
  * Also pins the schema cache of `Tables.apply`: a repeated read starts
  * no Spark job and equals a stock `spark.read.parquet`, a changed file
  * or parquet conf re-infers, a missing path fails as a stock read
  * does, and two reads stay two relations.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = Engine.session()

  // one logical dataset: (event_id, micros-since-epoch, user_id, type, value, props)
  private val rows = Seq(
    (1L, 1709251200000000L, 10L, "view", 1.5, "{}"),
    (2L, 1709251260123456L, 11L, "click", 2.0, "{\"k\":1}"),
    (3L, 1709337599999999L, 10L, "buy", -0.25, "{}"))

  /** INT64 TIMESTAMP(NANOS) fixture — Spark cannot write NANOS, so use
    * parquet-java's example writer directly. `extraNs` lets one row
    * carry sub-microsecond digits to assert the loader floors them.
    */
  private def writeNanos(extraNs: Long = 0L): String = {
    val dir = Files.createTempDirectory("graft-ev-nanos").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(new Configuration())
      .build()
    val f = new SimpleGroupFactory(schema)
    rows.foreach { case (id, us, uid, et, v, p) =>
      val g = f.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L + extraNs)
      g.add("user_id", uid)
      g.add("event_type", et)
      g.add("value", v)
      g.add("props", p)
      writer.write(g)
    }
    writer.close()
    dir
  }

  /** timestamp[us] fixture; `ntz` picks isAdjustedToUTC=false (arrives
    * TIMESTAMP_NTZ — the current testdata shape) vs true (arrives
    * TIMESTAMP).
    */
  private def writeMicros(ntz: Boolean): String = {
    val dir = Files.createTempDirectory("graft-ev-us").toString
    import spark.implicits._
    val tsCol =
      if (ntz) timestamp_micros(col("us")).cast(TimestampNTZType)
      else timestamp_micros(col("us"))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def load(dir: String): Seq[(Long, Long, Long, String, Double, String)] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      "loader contract: ts normalizes to TimestampType")
    df.select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
      .sortBy(_._1).toSeq
  }

  test("identical rows from INT64-nanos, timestamp[us] NTZ, and timestamp[us] UTC") {
    // start from a clean session: exercise the throw-then-adapt path
    try spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    catch { case _: Exception => () }
    val fromNanos = load(writeNanos())
    val fromNtz = load(writeMicros(ntz = true))
    val fromUtc = load(writeMicros(ntz = false))
    val want = rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).sortBy(_._1)
    assert(fromNanos == want)
    assert(fromNtz == want)
    assert(fromUtc == want)
  }

  test("nanos branch floors sub-microsecond digits") {
    val got = load(writeNanos(extraNs = 999L))
    assert(got.map(_._2) == rows.map(_._2).sorted)
  }

  test("nanos branch works when the legacy flag is ALREADY set (LongType arrival)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try assert(load(writeNanos()).map(_._2) == rows.map(_._2).sorted)
    finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }

  test("unsupported ts physical type raises a named, actionable error") {
    val dir = Files.createTempDirectory("graft-ev-bad").toString
    import spark.implicits._
    rows.map(r => (r._1, r._2.toString, r._3, r._4, r._5, r._6))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
  }

  test("validate passes on the real testdata") {
    Tables.validate(spark, "/root/testdata/sf0.001")
  }

  test("ts-range filters push through the loader into the parquet scan") {
    // the NTZ→Timestamp cast must not fence predicate pushdown or
    // column pruning: Catalyst unwraps the cast under the pinned-UTC
    // session, so a time filter prunes row groups at 100 TB — pin it
    spark.sharedState.cacheManager.clearCache()
    val p = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("ts") >= expr("timestamp'2024-06-01 00:00:00'"))
      .select("event_id", "ts")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      "ts range filter must reach the parquet scan")
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:"),
      "projection must prune to the two requested columns")
  }

  test("validate names the drifted column on a wrong-typed parquet") {
    val dir = Files.createTempDirectory("graft-ev-drift").toString
    import spark.implicits._
    // value:string instead of double — the loaders cannot absorb this
    rows.map(r => (r._1, r._2, r._3, r._4, r._5.toString, r._6))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[Tables.SchemaContractViolation](
      Tables.validate(spark, dir, Seq("events")))
    assert(e.getMessage.contains("events.value"))
    assert(e.getMessage.contains("SCHEMA CONTRACT"))
  }

  // ------------------------------------------------------ schema cache

  private def stock(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** A read of `name` under `dir` through `Tables.apply` after a first
    * one: it starts no job and equals a stock read, schema and rows. */
  private def assertCachedRead(dir: String, name: String): Unit = {
    Tables(spark, dir, name)
    val (again, jobs) = Jobs.counted(spark)(Tables(spark, dir, name))
    assert(jobs == 0, s"$name: a repeated read started $jobs jobs")
    assert(again.schema == stock(dir, name).schema, name)
    assert(sorted(again) == sorted(stock(dir, name)), name)
  }

  /** Two plain tables, each a directory Spark wrote. */
  private def writePlain(): String = {
    val dir = Files.createTempDirectory("graft-tables-plain").toString
    import spark.implicits._
    Seq((0L, "AFRICA"), (1L, "AMERICA")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L), (2L, "BRAZIL", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
    dir
  }

  test("schema cache: a first read infers with a job, a repeated read starts none and equals a stock read") {
    val dir = writePlain()
    val (_, first) = Jobs.counted(spark)(Tables(spark, dir, "nation"))
    assert(first >= 1, "a first read infers its schema with a Spark job")
    assertCachedRead(dir, "nation")
    assertCachedRead(dir, "region")
  }

  test("schema cache: every events.ts physical type reads back as a stock read does") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try assertCachedRead(writeNanos(), "events")
    finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assertCachedRead(writeMicros(ntz = true), "events")
    assertCachedRead(writeMicros(ntz = false), "events")
  }

  test("schema cache: a file rewritten at the same path with a new schema re-infers") {
    val dir = writePlain()
    val file = new java.io.File(dir, "one.parquet").toPath
    def partOf(table: String) = new java.io.File(dir, s"$table.parquet")
      .listFiles((_, n) => n.startsWith("part-") && n.endsWith(".parquet")).head.toPath
    Files.copy(partOf("region"), file)
    assertCachedRead(dir, "one")
    assert(Tables(spark, dir, "one").columns.toSeq == Seq("r_regionkey", "r_name"))
    Files.copy(partOf("nation"), file, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables(spark, dir, "one").columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assertCachedRead(dir, "one")
    // and a directory Spark overwrites in place
    import spark.implicits._
    Seq(("x", 1.5)).toDF("tag", "v").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/region.parquet")
    assert(Tables(spark, dir, "region").schema == stock(dir, "region").schema)
    assert(Tables(spark, dir, "region").columns.toSeq == Seq("tag", "v"))
  }

  test("schema cache: nanosAsLong is part of the key") {
    val dir = writeNanos()
    def outcome(df: => DataFrame): Either[Class[_], StructType] =
      Try(df.schema).toEither.left.map(_.getClass)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val asLong = try {
      assertCachedRead(dir, "events")
      Tables(spark, dir, "events").schema
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert(asLong("ts").dataType == LongType)
    val unset = outcome(Tables(spark, dir, "events"))
    assert(unset == outcome(stock(dir, "events")),
      "with the flag unset a read behaves as a stock read")
    assert(unset != Right(asLong), "the schema cached under the flag was served")
  }

  test("schema cache: a missing path fails with a stock read's error") {
    val dir = Files.createTempDirectory("graft-tables-missing").toString
    val ours = intercept[AnalysisException](Tables(spark, dir, "absent"))
    val theirs = intercept[AnalysisException](stock(dir, "absent"))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }

  test("schema cache: two reads of one table are two relations, self-joinable") {
    val dir = writePlain()
    Tables(spark, dir, "nation")
    def selfJoin(a: DataFrame, b: DataFrame): Seq[String] =
      sorted(a.join(b, a("n_regionkey") === b("n_regionkey"))
        .select(a("n_name"), b("n_name")))
    val a = Tables(spark, dir, "nation")
    val b = Tables(spark, dir, "nation")
    val ids = Seq(a, b).map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
    assert(ids(0).intersect(ids(1)).isEmpty, "the two reads share attribute ids")
    val want = selfJoin(stock(dir, "nation"), stock(dir, "nation"))
    assert(selfJoin(a, b) == want)
    assert(want.length == 5)
  }

  test("a second build of q2_analysis_join at sf0.001 starts no Spark job") {
    val q2 = SparkEntry.queries("q2_analysis_join")
    q2(spark, "/root/testdata/sf0.001")
    val (_, jobs) = Jobs.counted(spark)(q2(spark, "/root/testdata/sf0.001"))
    assert(jobs == 0, s"the second build started $jobs jobs")
  }
}
