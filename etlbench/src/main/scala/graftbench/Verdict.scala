package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Operation accounting for a run. Every measured operation is
  * attempted once; a wrong answer or a thrown error counts as failed
  * and is kept in the totals, never skipped.
  */
final class Verdict {
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Records one operation whose output check returned `mismatches`
    * (empty = correct).
    */
  def record(mismatches: Seq[String]): Unit = {
    attempted += 1
    if (mismatches.nonEmpty) {
      failed += 1
      if (problems.size < 20) problems ++= mismatches.take(3)
    }
  }

  def failRatio: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  def correct: Boolean = attempted > 0 && failed == 0
}

/** Order-independent table digest: row count plus the sum of a 64-bit
  * hash of each row rendered as text (NULL as `\N`, columns joined by
  * U+001F). Equal multisets of rows give equal digests.
  */
object Digest {
  final case class Value(rows: Long, hashSum: BigDecimal)

  private val Sep = "\u001f"

  def render(cols: Seq[String]): Column =
    concat_ws(Sep, cols.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)

  /** Digests of several named frames (each with its columns), in one
    * Spark job.
    */
  def ofFrames(frames: Seq[(String, DataFrame, Seq[String])]): Map[String, Value] = {
    val hashed = frames.map { case (name, df, cols) =>
      df.select(lit(name).as("t"), xxhash64(render(cols)).as("h"))
    }.reduce(_ union _)
    val found = hashed.groupBy("t").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> Value(r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap
    frames.map { case (name, _, _) => name -> found.getOrElse(name, Value(0, BigDecimal(0))) }.toMap
  }

  def ofFrame(df: DataFrame, cols: Seq[String]): Value =
    ofFrames(Seq(("", df, cols)))("")

  def renderRow(values: Seq[String]): String =
    values.map(v => if (v == null) "\\N" else v).mkString(Sep)

  /** The model's digest, computed driver-side with the same 64-bit hash
    * (and seed) as Spark's `xxhash64` of a string column.
    */
  def ofModel(t: ModelTable): Value = {
    var sum = BigDecimal(0)
    t.rows.foreach { r =>
      val b = renderRow(r.toSeq).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      sum += XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    Value(t.rows.size.toLong, sum)
  }
}
