package graftbench

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.GenesExonsEtl
import graft.sources.Gff3

/** The traced `etl_load` run attributes GFF3 parsing to a `sources.gff3`
  * span by persisting `Gff3.read` first; that only holds if the loader's
  * own `Gff3.read` plan is then served from the cache.
  */
class CacheReuseSpec extends AnyFunSuite {

  test("a loader's Gff3.read scan is replaced by an earlier persisted Gff3.read") {
    val spark = BenchSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("cache-reuse")
    val f = dir.resolve("genes.gff3")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "##gff-version 3",
      "chr1\tRefSeq\tgene\t10\t90\t.\t+\t.\tID=g1;Dbxref=GeneID:1;Symbol=A;Name=A",
      "chr1\tRefSeq\texon\t10\t40\t.\t+\t.\tID=e1;Parent=g1"))
    val cached = Gff3.read(spark, f.toString).persist()
    try {
      cached.count()
      val genes = GenesExonsEtl.load(spark, f.toString, 9606).genes
      val plan = genes.queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty, plan.treeString)
      assert(genes.count() == 1)
    } finally cached.unpersist(blocking = true)
  }
}
