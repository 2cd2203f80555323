package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.expressions.{CosineSimilarity, Hash48, SumInt128}

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Tuned for local[N] testing but with the settings we'd ship on a
  * 1000-executor cluster: AQE (runtime re-plan, skew-join splitting,
  * partition coalescing), UTC session time, shuffle parallelism matched
  * to available cores rather than the 200 default, and graft's native
  * SQL functions injected through SparkSessionExtensions (so
  * `spark.sql("... cosine_sim(a, b) ...")` works alongside the Column
  * API). Local files go through [[graft.LocalFs]], Hadoop's checksummed
  * local filesystem with permissions set in-process rather than by a
  * forked `chmod` per file and directory.
  */
object Engine {

  /** graft's native function surface, injected via extensions.
    * Arguments are wrapped in Cast to array<double> so float/int arrays
    * compute correctly (the raw expression reads 8-byte slots) and
    * non-array arguments fail analysis instead of returning garbage. */
  private def registerFunctions(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"cosine_sim expects 2 arguments, got ${children.length}")
        val Seq(a, b) = children.map(c =>
          Cast(c, ArrayType(DoubleType, containsNull = true)))
        CosineSimilarity(a, b)
      }))
    // Spark's internal runtime-filter bloom expressions, exposed as a
    // user-callable pair (the builtin registry keeps them internal-only;
    // `might_contain` is taken there, so the probe gets its own name).
    // bloom_agg(xxhash64(key), items, bits) -> binary;
    // bloom_probe(binary, xxhash64(key)) -> boolean.
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) => {
        if (children.length != 3)
          throw new IllegalArgumentException(
            s"bloom_agg expects (key, estimatedItems, numBits), got ${children.length} args")
        // size args arrive as INT from SQL integer literals; the
        // aggregate requires BIGINT — cast keeps both surfaces usable
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), Cast(children(1), org.apache.spark.sql.types.LongType),
          Cast(children(2), org.apache.spark.sql.types.LongType))
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_probe"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_probe"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"bloom_probe expects (bloomBytes, key), got ${children.length} args")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("sum128"),
      new ExpressionInfo(classOf[SumInt128].getName, "sum128"),
      (children: Seq[Expression]) => {
        if (children.length != 1)
          throw new IllegalArgumentException(
            s"sum128 expects 1 argument, got ${children.length}")
        // no blanket cast: the aggregate's own type check rejects
        // non-BIGINT args at analysis — a silent double→long cast
        // would defeat the exactness the function exists for
        SumInt128(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("hash48"),
      new ExpressionInfo(classOf[Hash48].getName, "hash48"),
      (children: Seq[Expression]) => {
        if (children.length != 1)
          throw new IllegalArgumentException(
            s"hash48 expects 1 argument, got ${children.length}")
        // no blanket cast: Hash48.checkInputDataTypes rejects
        // non-string args at analysis, like the md5 chain it replaces
        Hash48(children.head)
      }))
  }

  /** Task threads and shuffle partitions: `SPARK_GRAFT_CPUS` when set,
    * else the cores this JVM sees. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus.toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(registerFunctions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // collect_set/collect_list aggregates run as ObjectHashAggregate,
      // which falls back to SORT-based aggregation after only 128
      // distinct keys per task by default — the dedup bucket groupBys
      // (minhash bands, jaccard posting lists) blow past that on every
      // run, paying a full sort. 64k buffers of small lists is a few MB
      // per task: measured ~10% steady-state and ~25% cold-run
      // improvement on q20/q22, with less run-to-run variance.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
