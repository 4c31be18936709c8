package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.model.EtlOptions

/** CLI mirroring the reference's loader surface
  * (`create_database.sh:16-53`): one subcommand per loader family,
  * `-c` = create (overwrite) vs append — exactly the flag semantics of
  * `import_*.py -c` — with a parquet table directory in place of the
  * SQLite file. A user of the reference swaps
  * `python src/import_genes_exons.py -c db.db genes.gff3 9606` for
  * `graft.etl.Main genes-exons -c out/ genes.gff3 9606`.
  *
  * Usage:
  * {{{
  *   Main genes-exons [-c] <outDir> <gff3> <taxonId>
  *   Main features    [-c] <outDir> <gff3> <taxonId>
  *   Main cytobands   [-c] <outDir> <gff3> <taxonId>
  *   Main blocks      [-c] <outDir> <tsv>
  *   Main homologs    [-c] <outDir> <tsv>
  *   Main variants    [-c] <outDir> <vcf> <taxonId>
  *   Main ontology    [-c] <outDir> <obo,obo,...> [gaf:taxon ...]
  * }}}
  *
  * Append keeps the reference's create-then-append family pattern
  * working verbatim; for new deployments `Pipeline.run` +
  * `writeObserved` loads every family in one session with the partitioned/sorted
  * layout (preferred: one job, no per-invocation session cost).
  *
  * Passing a `jdbc:` URL as `<outDir>` routes every table through the
  * SQLite-parity JDBC sink instead of parquet (`Pipeline.writeJdbc`) —
  * e.g. `jdbc:sqlite:synteny.db` with sqlite-jdbc on the classpath, or
  * `jdbc:derby:out.db;create=true` with the Derby jars Spark ships.
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.etl.Main <command> [-c] <outDir> <inputs...>
        |commands: genes-exons features cytobands blocks homologs
        |          variants ontology (see scaladoc)""".stripMargin)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) usage()
    val cmd = args(0)
    val create = args(1) == "-c"
    val rest = if (create) args.drop(2) else args.drop(1)
    if (rest.length < 2) usage()
    val outDir = rest(0)
    val inputs = rest.drop(1)

    val spark = graft.SessionTuning.builder(
      sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "etl").getOrCreate()
    try run(spark, cmd, create, outDir, inputs)
    finally spark.stop()
  }

  def run(spark: SparkSession, cmd: String, create: Boolean,
      outDir: String, inputs: Array[String],
      opts: EtlOptions = EtlOptions()): Unit = {
    val mode = if (create) SaveMode.Overwrite else SaveMode.Append
    // A jdbc: URL in the outDir position selects the SQLite-parity
    // JDBC sink (single-writer, see Pipeline.writeJdbc); anything else
    // is a parquet table directory.
    def save(name: String, df: DataFrame): Unit = {
      if (outDir.startsWith("jdbc:"))
        df.coalesce(1).write.mode(mode)
          .jdbc(outDir, name, new java.util.Properties())
      else
        df.write.mode(mode).parquet(s"$outDir/$name")
      println(s"[graft-etl] $name: ${mode.toString.toLowerCase} OK")
    }
    cmd match {
      case "genes-exons" =>
        val r = GenesExonsEtl.load(spark, inputs(0), inputs(1).toInt)
        save("gene", r.genes); save("exon", r.exons)
      case "features" =>
        save("feature", FeaturesEtl.load(spark, inputs(0), inputs(1).toInt, opts))
      case "cytobands" =>
        save("cytogenetic_band", CytoBandEtl.load(spark, inputs(0), inputs(1).toInt))
      case "blocks" =>
        save("syntenic_block", SyntenyBlocksEtl.load(spark, inputs(0), opts))
      case "homologs" =>
        save("homolog", HomologsEtl.load(spark, inputs(0)).homologs)
      case "variants" =>
        save("snp_variant", VariantsEtl.load(spark, inputs(0), inputs(1).toInt))
      case "ontology" =>
        val obo = inputs(0).split(",").toSeq
        // the taxon follows the last ':', so a path may carry a scheme
        val gaf = inputs.drop(1).toSeq.map { g =>
          val at = g.lastIndexOf(':')
          val taxon = g.substring(at + 1).toIntOption
          require(at > 0 && taxon.isDefined, s"ontology: expected <gaf>:<taxonId>, got '$g'")
          (g.substring(0, at), taxon.get)
        }
        val r = OntologyEtl.load(spark, obo)
        save("on_terms", r.terms); save("on_pairs", r.pairs)
        if (gaf.nonEmpty) save("gene_ontology_map", OntologyEtl.loadGafs(spark, gaf))
      case other =>
        System.err.println(s"unknown command: $other"); usage()
    }
  }
}
