package graft.queries

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.PersistLeases

/** `BandedLsh.execute` expects its caller to have persisted the input:
  * with no hot bucket the band join reads the input again instead of a
  * banded cache of its own. q187, q189 and q191 hold their input (the
  * quantized vectors, the fingerprints) under a `PersistLeases.persist`
  * lease, so the pairs they return read it from the cache rather than
  * recomputing it from the source tables.
  */
class LeasedInputSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private val Inputs = Seq(
    "q187_calibrated_embed_neardup" -> Set("vec_id", "vq", "nsq"),
    "q189_calibrated_simhash" -> Set("doc_id", "sh"),
    "q191_calibrated_simhash64" -> Set("doc_id", "sh"))

  for ((name, inputCols) <- Inputs)
    test(s"$name: the returned pairs read the persisted input from the cache") {
      PersistLeases.releaseAll()
      spark.catalog.clearCache()
      val pairs = Registry.all(name).impl(spark, dir)
      pairs.collect(): Unit
      val cachedReads = collect(pairs.queryExecution.executedPlan) {
        case scan: InMemoryTableScanExec => scan.relation.output.map(_.name).toSet
      }
      PersistLeases.releaseAll()
      spark.catalog.clearCache()
      assert(cachedReads.contains(inputCols),
        s"no InMemoryTableScan of $inputCols; cached reads: $cachedReads")
    }
}
