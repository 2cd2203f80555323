package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing primitives.
  *
  * Everything is built from `md5` because its hex output is identical in
  * Spark and DuckDB (SURVEY.md §5), so every dedup/LSH operator has an
  * exactly-reproducible SQL oracle. All expressions here are plain
  * Catalyst `functions._` compositions — whole-stage codegen applies,
  * no UDFs.
  *
  * hash48: first 12 hex chars of md5 → unsigned 48-bit value in a LONG.
  * 48 bits keeps min-hash collision probability negligible while leaving
  * headroom so sums of thousands of hashes can't overflow a signed 64-bit
  * accumulator (used by the rolling-hash fingerprint).
  */
object Hashing {

  /** 48-bit hash of a string column (unsigned, carried in a LONG).
    * Runs as the fused native [[graft.functions.expressions.Hash48]]
    * (value-identical to `conv(substring(md5(c),1,12),16,10)` — the
    * portable recipe [[hash48Sql]] still mirrors — but without the
    * hex-string materialize/substring/parse per call). Built directly
    * from the expression, so it works on ANY SparkSession; the SQL name
    * `hash48(...)` additionally exists on [[graft.Engine]] sessions. */
  def hash48(c: Column): Column =
    org.apache.spark.sql.GraftSql.column(
      expressions.Hash48(org.apache.spark.sql.GraftSql.expression(c)))

  /** The composable built-in form of [[hash48]] — what the native
    * expression fuses; kept for parity testing. */
  private[graft] def hash48Composable(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Seeded 48-bit hash — independent hash family member per seed. */
  def hash48(seed: Int, c: Column): Column =
    hash48(concat(lit(s"$seed:"), c))

  /** The whole B-member seeded family of a key in ONE call — element b
    * ≡ `hash48(seed, concat(b, ":", key))` (pinned by Hash48SeqSpec).
    * Pair with `posexplode` for the ×B resampling expansions: one
    * digest + one key encode per ROW instead of per (row, replicate)
    * pair. Oracles keep the per-pair [[hash48Sql]] recipe unchanged. */
  def hash48Seq(seed: Int, count: Int, key: Column): Column =
    org.apache.spark.sql.GraftSql.column(
      expressions.Hash48Seq(
        org.apache.spark.sql.GraftSql.expression(key), seed, count))

  /** DuckDB SQL fragment computing the same value as [[hash48(Column)]].
    * Kept next to the Spark definition so the two can't drift. */
  def hash48Sql(expr: String): String =
    s"('0x' || substr(md5($expr), 1, 12))::BIGINT"

  def hash48Sql(seed: Int, expr: String): String =
    hash48Sql(s"'$seed:' || $expr")

  /** DuckDB SQL 24-bit hash → LONG, for hyperplane components (smaller
    * range so the normalized double keeps full precision). */
  def hash24Sql(expr: String): String =
    s"('0x' || substr(md5($expr), 1, 6))::BIGINT"

  // ---- JVM-side twins (for driver-derived constants) ----

  /** JVM md5 hex — byte-identical to SQL md5 on both engines. */
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private val HexChars = "0123456789abcdef".toCharArray

  /** Hot path for the streaming twins (millions of calls per replay):
    * thread-local digest + table hex, byte-identical to the naive
    * getInstance + %02x formatting it replaces. */
  def md5hex(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** First 48 bits of md5(s) as a Long — the JVM twin of [[hash48]],
    * byte-identical to `parseLong(md5hex(s).substring(0, 12), 16)`
    * (first 6 digest bytes, big-endian) without materializing the hex
    * string. Hot path for the per-EVENT stateful streaming observes
    * (millions of calls per replay: one byte[] digest, zero string
    * round-trips; parity pinned by HashingSpec). */
  def md5head48(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
      ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
      ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** Deterministic constant from md5("tag:i"): first 24 bits, then
    * `% mod + offset`. The ONE recipe behind every driver-derived
    * hash-family coefficient (minhash a/b, shingle mixes); keep in sync
    * with nothing — everything calls this. */
  def derivedConst(tag: String, i: Int, mod: Long, offset: Long): Long =
    java.lang.Long.parseLong(md5hex(s"$tag:$i").substring(0, 6), 16) % mod + offset
}
