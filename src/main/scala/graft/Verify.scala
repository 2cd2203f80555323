package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet
  * (one [[Measure.run]] each, its reading discarded, so a query's pinned
  * blocks are freed before the next), plus oracle_sql.json, for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names to dump instead of the full suite
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    // Loud, named schema gate: a regenerated testdata parquet whose
    // physical types drifted outside the loaders' adaptive range
    // surfaces here as ONE actionable message instead of N scattered
    // DATATYPE_MISMATCH query failures. Non-fatal — queries that can
    // still run are still dumped.
    // NonFatal only: an OOM or other fatal JVM error must surface as a
    // dying driver, not be masked as a validation note
    try Tables.validate(spark, sfDir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] ${e.getMessage}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        Measure.run(spark, name, fn, sfDir,
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
          .failed.foreach(e =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
