package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Closure, Dedup}
import graft.sources.{InputFiles, Obo}

/** Ontology tables: OBO terms, GAF gene↔term mappings, and the
  * pre-materialized transitive closure (reference
  * `import_ontology.py:54-145,192-309,312-349`).
  *
  * Space-for-time design kept from the reference: the full
  * ancestor→descendant closure of the (union of all ontologies')
  * `is_a` DAG is computed once at load and persisted, so downstream
  * term-expansion is a single equi-join instead of a recursive query.
  * The closure itself runs as a distributed semi-naive fixpoint
  * (`graft.operators.Closure`) instead of the reference's in-heap
  * worklist — the one stage whose memory scales with |graph|².
  *
  * All OBO files are read in one `obo` scan, and all GAF files in one
  * `lines` scan whose rows carry their file's index and in-file order.
  */
object OntologyEtl {

  final case class Result(terms: DataFrame, pairs: DataFrame)

  /** `on_terms` and `on_pairs`.
    * @param oboPaths ontology files in load order (GO, MP, DO)
    */
  def load(spark: SparkSession, oboPaths: Seq[String]): Result = {
    // U4 — one term table + one is_a graph across all ontologies
    // (module-global dict in the reference, `import_ontology.py:54`).
    // One scan over every file. Not cached: the closure's one bounded
    // collect and the terms write each parse the files once, and no
    // cache entry outlives the load to serve a later load's read of a
    // rewritten file.
    val events = Obo.read(spark, oboPaths).toDF()

    val termsRaw = events.filter(col("kind") === "term")
      .select(col("id"), col("name"), col("namespace"),
        col("definition").as("def"))
    // Duplicate term id raises in the reference (`:222-224`) — D2.
    val terms = Dedup.assertNoDuplicateKeys(termsRaw, Seq("id"))

    // A1 — closure over general→specialized edges: `X is_a P` means
    // parent = P (general), child = X (specialized).
    val edges = events.filter(col("kind") === "isa")
      .select(col("parent"), col("id").as("child"))
    val closure = Closure.transitiveClosure(edges, "parent", "child")

    // A3 — deterministic emit order; relationship literal as stored.
    val pairs = closure
      .select(col("ancestor").as("parent"), col("descendant").as("child"),
        lit("is_a").as("relationship"))
      .orderBy("parent", "child")

    // A2 — distinct transitive descendant count; terms with no
    // descendants keep a NULL count (reference leaves them unset).
    val counts = Closure.descendantCounts(closure)
      .select(col("ancestor").as("id"), col("n_descendants").as("count"))
    Result(terms.join(counts, Seq("id"), "left"), pairs)
  }

  /** `gene_ontology_map` (S7/F2/F5/C8/D1) from every GAF file, in one
    * `lines` scan: each line not a `!` comment (F2) is tab-split as the
    * reference splits it, and an empty field is null; a line too short
    * to hold the taxon field has none, and the F5 filter drops it. It
    * reads no term table: a mapping's term need not be loaded.
    *
    * @param gafFiles (path, taxonId) in shell-script order — order
    *                 matters: gene_ontology_map's PK is NOT
    *                 taxon-qualified, so a later file's (gene, term)
    *                 overwrites an earlier species' row
    *                 (`import_ontology.py:181`, SURVEY.md §7.6.5);
    *                 each file is named once
    */
  def loadGafs(spark: SparkSession, gafFiles: Seq[(String, Int)]): DataFrame = {
    def field(i: Int) = trim(nullif(get(col("f"), lit(i)), lit("")))
    val all = InputFiles.tabLines(spark, gafFiles.map(_._1))
      .filter(!col("value").startsWith("!"))
      .select(
        field(1).as("gene_id"),
        field(4).as("ontology_id"),
        // C8 — first taxon of `taxon:9606|taxon:1280`.
        element_at(split(regexp_replace(field(12), "taxon:", ""), "\\|"), 1)
          .cast("int").as("taxonid"),
        col(InputFiles.Column),
        col(InputFiles.Ordinal))
      .filter(col("taxonid") === InputFiles.perFile(gafFiles.map(_._2))) // F5
    // D1 — INSERT OR REPLACE on (gene_id, ontology_id): last write in
    // cross-file shell order, then file order, wins.
    Dedup.lastWins(all, Seq("gene_id", "ontology_id"), InputFiles.fileOrder,
      keep = Seq("gene_id", "ontology_id", "taxonid"))
  }
}
