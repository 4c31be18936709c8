package graftbench

import org.apache.spark.sql.SparkSession

object BenchSpark {
  lazy val spark: SparkSession = {
    val tmp = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
  }
}
