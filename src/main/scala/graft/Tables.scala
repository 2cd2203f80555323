package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the star-schema testdata (TESTDATA.md).
  *
  * A parquet read, so Catalyst sees a parquet relation it can push
  * filters and column pruning into. Dimension tables are tiny relative
  * to facts at any scale factor; operators broadcast them explicitly
  * where joined against facts.
  *
  * A stock `spark.read.parquet` infers the schema from the footers on
  * every call, and that inference is a Spark job of its own: a
  * one-task job that ships the Hadoop configuration to read one
  * footer, about 60–100 ms on a 4-core box, paid by every table read of
  * every query. So [[apply]] keeps each inferred schema and hands it to
  * later reads of the same files as `spark.read.schema(s).parquet`,
  * which lists the files but starts no job. A schema is reused under a
  * key of
  *   - the qualified path;
  *   - every leaf file's path, length and modification time, listed
  *     through the session's filesystem (well under a millisecond, and
  *     no forked process);
  *   - the session's parquet-reading confs: each set key under
  *     `spark.sql.parquet.` and `spark.sql.legacy.parquet.`, plus
  *     `spark.sql.caseSensitive` and `spark.sql.files.ignoreCorruptFiles`
  *     ([[events]] flips `nanosAsLong`, which decides the type `ts`
  *     arrives as).
  * A changed file or conf misses and re-infers with a stock read, so a
  * cached schema is always Spark's own inference of exactly those
  * files under exactly those confs. When the listing fails (a missing
  * path) the read is a stock one and raises Spark's own error.
  *
  * Only schemas are kept, never a DataFrame or relation: each call
  * still builds a fresh relation with its own file listing and
  * attribute ids, so two reads of one table in a query stay two
  * relations, as a self-join needs.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) => Schemas.get(key) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          Schemas.put(key, df.schema)
          df
      }
    }
  }

  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  private def readsParquet(conf: String): Boolean =
    conf.startsWith("spark.sql.parquet.") ||
      conf.startsWith("spark.sql.legacy.parquet.") ||
      conf == "spark.sql.caseSensitive" ||
      conf == "spark.sql.files.ignoreCorruptFiles"

  /** The cache key of `path` in `spark`, or None when it cannot be
    * listed. The leaves are walked with `listStatus`, not `listFiles`:
    * a `LocatedFileStatus` copies each file's owner and permission, and
    * without Hadoop's native library the local filesystem forks an
    * `ls` per file to read them. */
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualified = fs.makeQualified(p)
      def leaves(f: FileStatus): Seq[FileStatus] =
        if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(leaves)
        else Seq(f)
      val files = leaves(fs.getFileStatus(qualified))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toVector.sorted
      val confs = spark.conf.getAll.filter(kv => readsParquet(kv._1))
        .toVector.sorted
      Some(SchemaKey(qualified.toString, files, confs))
    } catch { case _: java.io.IOException => None }

  /** Inferred schemas, least recently used first; one entry per key and
    * at most [[Schemas.Capacity]] of them. */
  private object Schemas {
    val Capacity = 64
    private val lru = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size > Capacity
    }
    def get(k: SchemaKey): Option[StructType] = lru.synchronized(Option(lru.get(k)))
    def put(k: SchemaKey, s: StructType): Unit = lru.synchronized(lru.put(k, s))
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts has shipped as BOTH parquet INT64 TIMESTAMP(NANOS) and
    * native timestamp[us] across testdata regenerations, so the loader
    * adapts to whichever physical type the footer declares instead of
    * hard-coding one:
    *
    *   - TIMESTAMP(NANOS): Spark rejects it at footer read unless
    *     `nanosAsLong` is on, so the flag is set UNCONDITIONALLY before
    *     the read — it is harmless for non-nanos files (r9 advice: the
    *     previous catch-and-retry matched on exception-message
    *     substrings, brittle across Spark versions/locales). The flag
    *     is session-wide and intentionally NOT restored — the DataFrame
    *     is lazy, so the conf must still hold at execution time (a
    *     save/restore around the read would re-break the scan when the
    *     query actually runs).
    *   - timestamp[us] without UTC adjustment: arrives as
    *     TIMESTAMP_NTZ; the session timezone is pinned to UTC
    *     (Engine.session), so casting to TIMESTAMP preserves both the
    *     wall-clock AND the instant — calendar bucketing (q51 cohorts,
    *     q72 hourly resample, q105 day buckets) is unchanged vs the
    *     nanos path.
    *   - timestamp[us] UTC-adjusted: arrives as TIMESTAMP; use as-is.
    *
    * Either way callers see the same contract: `ts` is TimestampType
    * at microsecond precision in a UTC session.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other — expected " +
            "INT64 nanos, timestamp, or timestamp_ntz (see TESTDATA.md)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Named, actionable error for a testdata schema that drifted outside
    * what the loaders adapt to. Raised by [[validate]] so a regenerated
    * parquet with an incompatible physical type fails the gate with ONE
    * message naming the table/column instead of N query-level
    * `DATATYPE_MISMATCH`es.
    */
  final class SchemaContractViolation(val violations: Seq[String])
      extends RuntimeException(
        "TESTDATA SCHEMA CONTRACT VIOLATION:\n  " + violations.mkString("\n  "))

  import org.apache.spark.sql.types._

  /** Expected physical schema per table: column order + an allowed set
    * of arrival types per column. The sets span every physical variant
    * the loaders adapt to (events.ts: INT64-nanos arrives LongType /
    * timestamp[us] arrives NTZ or UTC-adjusted Timestamp), so validate
    * only fires on drift the engine genuinely cannot absorb.
    */
  private val ints: Set[DataType] = Set(IntegerType, LongType)
  private val times: Set[DataType] =
    Set(TimestampType, TimestampNTZType, DateType)
  private def exact(t: DataType): Set[DataType] = Set(t)
  private val contract: Seq[(String, Seq[(String, Set[DataType])])] = Seq(
    "region" -> Seq("r_regionkey" -> ints, "r_name" -> exact(StringType)),
    "nation" -> Seq("n_nationkey" -> ints, "n_name" -> exact(StringType),
      "n_regionkey" -> ints),
    "customer" -> Seq("c_custkey" -> ints, "c_name" -> exact(StringType),
      "c_nationkey" -> ints, "c_acctbal" -> exact(DoubleType),
      "c_mktsegment" -> exact(StringType)),
    "supplier" -> Seq("s_suppkey" -> ints, "s_name" -> exact(StringType),
      "s_nationkey" -> ints, "s_acctbal" -> exact(DoubleType)),
    "part" -> Seq("p_partkey" -> ints, "p_name" -> exact(StringType),
      "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
      "p_size" -> ints, "p_retailprice" -> exact(DoubleType)),
    "orders" -> Seq("o_orderkey" -> ints, "o_custkey" -> ints,
      "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
      "o_orderdate" -> times, "o_orderpriority" -> exact(StringType)),
    "lineitem" -> Seq("l_orderkey" -> ints, "l_partkey" -> ints,
      "l_suppkey" -> ints, "l_linenumber" -> ints,
      "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
      "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
      "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
      "l_shipdate" -> times),
    "events" -> Seq("event_id" -> ints, "ts" -> (times + LongType),
      "user_id" -> ints, "event_type" -> exact(StringType),
      "value" -> exact(DoubleType), "props" -> exact(StringType)),
    "documents" -> Seq("doc_id" -> ints, "text" -> exact(StringType),
      "lang" -> exact(StringType), "source" -> exact(StringType),
      "n_chars" -> ints),
    "embeddings" -> Seq("vec_id" -> ints,
      "embedding" -> Set[DataType](ArrayType(FloatType, true),
        ArrayType(FloatType, false), ArrayType(DoubleType, true),
        ArrayType(DoubleType, false)),
      "label" -> ints))

  /** Check every table under `dir` (or the named subset) against the
    * documented contract; throw ONE [[SchemaContractViolation]] listing
    * all drifted columns. Footer-only reads, no data scan: a table whose
    * schema [[apply]] has not cached yet costs one footer-inference
    * Spark job, a cached one none.
    */
  def validate(s: SparkSession, dir: String,
               tables: Seq[String] = contract.map(_._1)): Unit = {
    val want = contract.toMap
    val violations = tables.flatMap { t =>
      val cols = want.getOrElse(t,
        throw new IllegalArgumentException(s"unknown table $t"))
      val loaded =
        try Right(if (t == "events") events(s, dir) else apply(s, dir, t))
        catch { case e: Exception => Left(s"$t: unreadable (${e.getMessage})") }
      loaded match {
        case Left(err) => Seq(err)
        case Right(df) =>
          val got = df.schema.fields
          val missing = cols.map(_._1).filterNot(got.map(_.name).contains)
            .map(c => s"$t.$c: missing")
          val drifted = got.flatMap { f =>
            cols.collectFirst { case (n, allowed) if n == f.name => allowed }
              .collect {
                case allowed
                    // events() normalizes ts → TimestampType before we
                    // see it; contract sets already include that form
                    if !allowed.contains(f.dataType) =>
                  s"$t.${f.name}: arrived ${f.dataType.simpleString}, " +
                    s"allowed ${allowed.map(_.simpleString).mkString("/")}"
              }
          }
          // order + unexpected-column checks, so the gate's guarantees
          // match its doc (r9 advice): operators select by name, but a
          // reordered/widened parquet still signals testdata drift worth
          // one loud line
          val extra = got.map(_.name).filterNot(cols.map(_._1).contains)
            .map(c => s"$t.$c: unexpected column")
          val expectedOrder = cols.map(_._1).filter(got.map(_.name).contains)
          val arrivedOrder = got.map(_.name).filter(cols.map(_._1).contains)
          val misordered =
            if (expectedOrder == arrivedOrder.toSeq) Nil
            else Seq(s"$t: columns arrived [${arrivedOrder.mkString(", ")}], " +
              s"contract order [${expectedOrder.mkString(", ")}]")
          missing ++ drifted ++ extra ++ misordered
      }
    }
    if (violations.nonEmpty) throw new SchemaContractViolation(violations)
  }
}
