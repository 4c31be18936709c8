package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlySubstrings] — the optional third arg
    // (comma-separated name fragments) restricts the dump for focused
    // local iteration; the driver always runs the two-arg full form.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).headOption
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SessionTuning.builder(cpus, "verify").getOrCreate()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_SQL_ONLY=1 → emit just oracle_sql.json (the ANN
    // oracles are data-dependent, so tools/ratio.py needs them
    // generated at the target sf dir without a full result dump).
    val sqlOnly = sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")
    val selected = (if (sqlOnly) Map.empty[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]
      else SparkEntry.queries).filter { case (n, _) =>
      only.forall(_.exists(n.contains)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist intermediates (q26/q28/q96) must not
      // accumulate cached blocks across the 99-query dump
      graft.functions.PersistLeases.releaseAll()
      spark.catalog.clearCache()
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
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .filter { case (k, _) => only.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
