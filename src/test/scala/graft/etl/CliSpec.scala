package graft.etl

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The CLI mirrors the reference's create-then-append family pattern
  * (`create_database.sh:16-18`): `-c` overwrites the parquet table,
  * a second invocation without `-c` appends.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fx = "/root/repo/src/test/resources/fixtures"

  test("create-then-append matches the shell script's family pattern") {
    val out = graft.TestSpark.scratchDir("graft_cli")
    Main.run(spark, "genes-exons", create = true, out,
      Array(s"$fx/genes_human.gff3", "9606"))
    val n1 = spark.read.parquet(s"$out/gene").count()
    assert(n1 > 0)
    // append run (reference: mouse/rat appends; same file here)
    Main.run(spark, "genes-exons", create = false, out,
      Array(s"$fx/genes_human.gff3", "9606"))
    assert(spark.read.parquet(s"$out/gene").count() == 2 * n1)
    // -c drops and recreates
    Main.run(spark, "genes-exons", create = true, out,
      Array(s"$fx/genes_human.gff3", "9606"))
    assert(spark.read.parquet(s"$out/gene").count() == n1)
  }

  test("jdbc sink: Derby round-trip equals the direct load, append appends") {
    val dir = graft.TestSpark.scratchDir("graft_jdbc")
    val url = s"jdbc:derby:$dir/graft.db;create=true"
    Main.run(spark, "genes-exons", create = true, url,
      Array(s"$fx/genes_human.gff3", "9606"))
    val direct = GenesExonsEtl.load(spark, s"$fx/genes_human.gff3", 9606).genes
    val back = spark.read.jdbc(url, "gene", new java.util.Properties())
      .select(direct.columns.map(org.apache.spark.sql.functions.col): _*)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(canon(back) == canon(direct) && direct.count() > 0)
    // append run doubles the rows (reference family pattern over jdbc)
    Main.run(spark, "genes-exons", create = false, url,
      Array(s"$fx/genes_human.gff3", "9606"))
    assert(spark.read.jdbc(url, "gene", new java.util.Properties()).count()
      == 2 * direct.count())
  }

  test("Pipeline.writeJdbc lands every table of a run") {
    val dir = graft.TestSpark.scratchDir("graft_jdbc_pipe")
    val url = s"jdbc:derby:$dir/pipe.db;create=true"
    val tables = Pipeline.run(spark, Pipeline.Inputs(
      genes = Seq(Pipeline.SpeciesFile(s"$fx/genes_human.gff3", 9606)),
      obo = Seq(s"$fx/ontology_go.obo")))
    Pipeline.writeJdbc(tables, url)
    for ((name, df) <- tables)
      assert(spark.read.jdbc(url, name, new java.util.Properties()).count()
        == df.count(), s"table $name row count mismatch after jdbc round-trip")
  }

  test("ontology command loads terms, closure pairs, and GAF map") {
    val out = graft.TestSpark.scratchDir("graft_cli_onto")
    Main.run(spark, "ontology", create = true, out,
      Array(s"$fx/ontology_go.obo,$fx/ontology_mp.obo",
        s"$fx/annotations_go_human.gaf:9606"))
    assert(spark.read.parquet(s"$out/on_terms").count() == 8)
    assert(spark.read.parquet(s"$out/on_pairs").count() == 11)
    assert(spark.read.parquet(s"$out/gene_ontology_map").count() > 0)
  }

  test("ontology command: the taxon follows a gaf path's last colon") {
    val out = graft.TestSpark.scratchDir("graft_cli_onto_uri")
    val obo = s"$fx/ontology_go.obo"
    Main.run(spark, "ontology", create = true, out,
      Array(obo, s"file:$fx/annotations_go_human.gaf:9606"))
    assert(spark.read.parquet(s"$out/gene_ontology_map").count() ===
      OntologyEtl.loadGafs(spark, Seq((s"$fx/annotations_go_human.gaf", 9606))).count())
    for (bad <- Seq(s"$fx/annotations_go_human.gaf", s"file:$fx/annotations_go_human.gaf:human")) {
      val ex = intercept[IllegalArgumentException](
        Main.run(spark, "ontology", create = true, out, Array(obo, bad)))
      assert(ex.getMessage.contains(bad), ex.getMessage)
    }
  }
}
