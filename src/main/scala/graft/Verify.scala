package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure contract: a throwing query must NEVER silently vanish from
  * the report — a broken key that only printed to stderr and wrote no
  * parquet would be *omitted* from the compare instead of showing `err`.
  * Every run also writes `_errors.json` (key → exception message; `{}` when
  * clean) so each declared key always yields an adjudicable row.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver passes two args (all queries); the filter is a local
    // debugging aid for re-checking a single query against the oracle.
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, SparkEntry.queries, SparkEntry.oracleSql,
      sfDir, outDir, only)
    spark.stop()
    if (failed.nonEmpty)
      // rc stays 0 — the driver must still ingest the successful keys'
      // parquet + _errors.json; the error records are the loud signal.
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.toSeq.sorted.mkString(", "))
  }

  /** Testable core: runs each (filtered) query, writes parquet per success,
    * `_errors.json` for failures (always written, `{}` when clean), and the
    * oracle SQL dump. Returns the failure map.
    */
  def dump(
      spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String],
      sfDir: String,
      outDir: String,
      only: Set[String] = Set.empty): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
          // A RUNTIME failure (vs analysis) leaves a partially-written
          // output dir behind — delete it so the driver can never read a
          // partial dump as a real result for a failed key.
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) {
            import scala.jdk.CollectionConverters._
            Files.walk(dir).iterator().asScala.toSeq.reverse
              .foreach(p => Files.deleteIfExists(p))
          }
        }
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
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), obj(errors))
    // A filtered run restricts the SQL dump to the filtered names too: a
    // partial dump mixed with stale parquet from an earlier unfiltered run
    // must not masquerade as a full one to a subsequent selfcheck.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    errors.toMap
  }
}
