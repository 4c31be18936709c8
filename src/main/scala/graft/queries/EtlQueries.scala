package graft.queries

import org.apache.spark.sql.functions._
import graft.etl._
import graft.model.EtlOptions

/** Reference-format ETL pipelines exposed through the driver's query
  * gate: each query runs a full parser pipeline over a committed
  * fixture (src/test/resources/fixtures) and the oracle re-derives the
  * same table with DuckDB `read_csv` + SQL. Queries whose parse is not
  * reasonably SQL-expressible (OBO stanzas) are registered without an
  * oracle → rows-only check; their semantics are pinned by EtlSpec's
  * golden tests instead.
  *
  * Fixtures chosen for the oracles are free of order-sensitive dedup
  * collisions (SQL over read_csv has no file-order column); the
  * order-sensitive D1/D3/D4 behaviors are covered by EtlSpec.
  */
object EtlQueries {

  private val Fx = "/root/repo/src/test/resources/fixtures"

  /** DuckDB CTE: 9-column GFF3 read with comment stripping. */
  private def gffCte(file: String): String = s"""
    raw AS (
      SELECT * FROM read_csv('$Fx/$file', delim='\t', header=false,
        null_padding=true, auto_detect=false, columns={'c0':'VARCHAR','c1':'VARCHAR',
        'c2':'VARCHAR','c3':'VARCHAR','c4':'VARCHAR','c5':'VARCHAR',
        'c6':'VARCHAR','c7':'VARCHAR','c8':'VARCHAR'})
      WHERE c0 NOT LIKE '#%')"""

  /** DuckDB CTEs: OBO stanza parse of the two ontology fixtures into
    * `terms` (obsolete-filtered) and `edges` (child→parent is_a, with
    * edges before an `is_obsolete: true` marker kept — the reference's
    * module-global is_a dict behavior). Part of a `WITH RECURSIVE`
    * prefix so callers can append a closure CTE.
    */
  private def oboCtes: String = s"""
    files AS (
      SELECT content FROM read_text('$Fx/ontology_go.obo')
      UNION ALL
      SELECT content FROM read_text('$Fx/ontology_mp.obo')),
    chunks AS (
      SELECT unnest(string_split(content, '[Term]')) AS ch FROM files),
    stanzas AS (
      SELECT string_split(ch, chr(10) || '[')[1] AS st FROM chunks
      WHERE regexp_matches(ch, '(?m)^id: ')),
    terms AS (
      SELECT regexp_extract(st, '(?m)^id: (\\S+)', 1) AS id,
             nullif(regexp_extract(st, '(?m)^name: ([^\\n]*)', 1), '') AS name,
             nullif(regexp_extract(st, '(?m)^namespace: ([^\\n]*)', 1), '') AS namespace,
             nullif(regexp_extract(st, '(?m)^def: ([^\\n]*)', 1), '') AS "def"
      FROM stanzas WHERE NOT st LIKE '%is_obsolete: true%'),
    edges AS (
      SELECT regexp_extract(st, '(?m)^id: (\\S+)', 1) AS child,
             unnest(regexp_extract_all(string_split(st, 'is_obsolete: true')[1],
                    '(?m)^is_a: (\\S+)', 1)) AS parent
      FROM stanzas)"""

  /** DuckDB: trimmed value of one GFF3 attribute, null when missing. */
  private def dAttr(name: String): String =
    s"nullif(trim(regexp_extract(c8, '(^|;)\\s*$name\\s*=\\s*([^;]*)', 2)), '')"
  private def dAttrFirst(name: String): String =
    s"string_split(${dAttr(name)}, ',')[1]"

  /** DuckDB CTEs over `raw` ([[gffCte]]) linking exons to genes as
    * `GenesExonsEtl` does: the exon rows `ex(exon_id, parent_attr,
    * exon_chr, exon_start_pos, exon_end_pos)` and the gene rows they
    * name as parent, `gn(gene_row_id, parent_gene)`.
    */
  private def exonGeneCtes: String = s"""ex AS (
          SELECT ${dAttr("ID")} AS exon_id, ${dAttr("Parent")} AS parent_attr,
                 regexp_replace(c0, 'chr', '', 'g') AS exon_chr,
                 CAST(c3 AS BIGINT) - 1 AS exon_start_pos,
                 CAST(c4 AS BIGINT) AS exon_end_pos
          FROM raw WHERE ${dAttr("Parent")} IS NOT NULL),
        gn AS (
          SELECT ${dAttr("ID")} AS gene_row_id,
                 ${dAttrFirst("Dbxref")} AS parent_gene
          FROM raw
          WHERE ${dAttr("Parent")} IS NULL AND ${dAttr("Dbxref")} IS NOT NULL)"""

  val queries: Map[String, Q] = Map(
    // ---- S3/V1/V2/C3/C4/U1: positional synteny TSV -----------------
    "q40_etl_synteny_blocks" -> Q(
      impl = (s, _) =>
        SyntenyBlocksEtl.load(s, s"$Fx/blocks_humanrat.txt")
          .orderBy("ref_taxonid", "comp_taxonid", "ref_chr", "ref_start_pos"),
      oracle = Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('$Fx/blocks_humanrat.txt', delim='\t',
            header=false, columns={'c0':'VARCHAR','c1':'VARCHAR','c2':'VARCHAR',
            'c3':'VARCHAR','c4':'VARCHAR','c5':'VARCHAR','c6':'VARCHAR',
            'c7':'VARCHAR','c8':'VARCHAR','c9':'VARCHAR'})),
        fwd AS (
          SELECT CAST(c1 AS INT) AS ref_taxonid, c0 AS ref_chr,
                 CAST(c2 AS BIGINT) AS ref_start_pos, CAST(c3 AS BIGINT) AS ref_end_pos,
                 CAST(c5 AS INT) AS comp_taxonid, c4 AS comp_chr,
                 CAST(c6 AS BIGINT) AS comp_start_pos, CAST(c7 AS BIGINT) AS comp_end_pos,
                 c8 = '+' AS same_orientation, substr(c9, 4) AS symbol
          FROM raw),
        rev AS (
          SELECT CAST(c5 AS INT), c4, CAST(c6 AS BIGINT), CAST(c7 AS BIGINT),
                 CAST(c1 AS INT), c0, CAST(c2 AS BIGINT), CAST(c3 AS BIGINT),
                 c8 = '+', substr(c9, 4)
          FROM raw)
        SELECT * FROM (SELECT * FROM fwd UNION ALL SELECT * FROM rev)
        ORDER BY ref_taxonid, comp_taxonid, ref_chr, ref_start_pos""")),

    // ---- S4/V3/C2/C9/U2: header-validated homolog TSV --------------
    "q41_etl_homologs" -> Q(
      impl = (s, _) =>
        HomologsEtl.load(s, s"$Fx/homologs_rathuman.tsv").homologs
          .orderBy("ref_gene_id", "ref_taxon_id", "comp_gene_id"),
      oracle = Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('$Fx/homologs_rathuman.tsv', delim='\t',
            header=false, skip=1, columns={'type':'VARCHAR','taxonid1':'VARCHAR',
            'id1':'VARCHAR','symbol1':'VARCHAR','seqid1':'VARCHAR',
            'start1':'VARCHAR','end1':'VARCHAR','taxonid2':'VARCHAR',
            'id2':'VARCHAR','symbol2':'VARCHAR','seqid2':'VARCHAR',
            'start2':'VARCHAR','end2':'VARCHAR'})),
        fwd AS (
          SELECT id1 AS ref_gene_id, symbol1 AS ref_gene_sym,
                 CAST(taxonid1 AS INT) AS ref_taxon_id,
                 regexp_replace(seqid1, '^chr', '', 'i') AS ref_seq_id,
                 CAST(start1 AS BIGINT) AS ref_start, CAST(end1 AS BIGINT) AS ref_end,
                 id2 AS comp_gene_id, symbol2 AS comp_gene_sym,
                 CAST(taxonid2 AS INT) AS comp_taxon_id,
                 regexp_replace(seqid2, '^chr', '', 'i') AS comp_seq_id,
                 CAST(start2 AS BIGINT) AS comp_start, CAST(end2 AS BIGINT) AS comp_end
          FROM raw),
        rev AS (
          SELECT id2, symbol2, CAST(taxonid2 AS INT),
                 regexp_replace(seqid2, '^chr', '', 'i'),
                 CAST(start2 AS BIGINT), CAST(end2 AS BIGINT),
                 id1, symbol1, CAST(taxonid1 AS INT),
                 regexp_replace(seqid1, '^chr', '', 'i'),
                 CAST(start1 AS BIGINT), CAST(end1 AS BIGINT)
          FROM raw)
        SELECT * FROM (SELECT * FROM fwd UNION ALL SELECT * FROM rev)
        ORDER BY ref_gene_id, ref_taxon_id, comp_gene_id""")),

    // ---- S7/F2/F5/C8: GAF gene↔term mappings -----------------------
    "q42_etl_gaf" -> Q(
      impl = (s, _) =>
        OntologyEtl.loadGafs(s, Seq((s"$Fx/annotations_go_human.gaf", 9606)))
          .orderBy("gene_id", "ontology_id"),
      oracle = Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('$Fx/annotations_go_human.gaf', delim='\t',
            header=false, null_padding=true, auto_detect=false,
            columns={'c0':'VARCHAR','c1':'VARCHAR','c2':'VARCHAR','c3':'VARCHAR',
            'c4':'VARCHAR','c5':'VARCHAR','c6':'VARCHAR','c7':'VARCHAR',
            'c8':'VARCHAR','c9':'VARCHAR','c10':'VARCHAR','c11':'VARCHAR',
            'c12':'VARCHAR','c13':'VARCHAR','c14':'VARCHAR','c15':'VARCHAR',
            'c16':'VARCHAR'})
          WHERE c0 NOT LIKE '!%')
        SELECT DISTINCT trim(c1) AS gene_id, trim(c4) AS ontology_id,
               CAST(string_split(replace(trim(c12), 'taxon:', ''), '|')[1] AS INT)
                 AS taxonid
        FROM raw
        WHERE CAST(string_split(replace(trim(c12), 'taxon:', ''), '|')[1] AS INT) = 9606
        ORDER BY gene_id, ontology_id""")),

    // ---- S5/X3/C1/C7: VCF variants ---------------------------------
    "q43_etl_variants" -> Q(
      impl = (s, _) =>
        VariantsEtl.load(s, s"$Fx/variants_human.vcf", 9606)
          .orderBy("pos", "gene"),
      oracle = Some(s"""
        WITH raw AS (
          SELECT * FROM read_csv('$Fx/variants_human.vcf', delim='\t',
            header=false, null_padding=true, auto_detect=false, columns={'c0':'VARCHAR',
            'c1':'VARCHAR','c2':'VARCHAR','c3':'VARCHAR','c4':'VARCHAR',
            'c5':'VARCHAR','c6':'VARCHAR','c7':'VARCHAR'})
          WHERE c0 NOT LIKE '#%'),
        g AS (
          SELECT *, unnest(string_split(
            regexp_extract(c7, '(^|;)CG=([^;]*)', 2), ',')) AS gene
          FROM raw)
        SELECT regexp_replace(c0, 'chr', '', 'g') AS chr,
               CAST(c1 AS BIGINT) AS pos,
               nullif(c2, '.') AS id,
               c3 AS ref_base,
               CASE WHEN c4 = '.' THEN '' ELSE replace(c4, ',', '/') END AS alt_allele,
               CAST(nullif(c5, '.') AS DOUBLE) AS quality,
               nullif(c6, '.') AS filter,
               CAST(string_split(regexp_extract(c7, '(^|;)AF=([^;]*)', 2), ',')[1]
                 AS DOUBLE) AS frequency,
               gene,
               string_split(regexp_extract(c7, '(^|;)LT=([^;]*)', 2), ',')[1]
                 AS trait_id,
               9606 AS taxon_id
        FROM g ORDER BY pos, gene""")),

    // ---- S2/F1/F4/C2/C5/C6: feature GFF3 (hand-rolled parser) ------
    "q44_etl_features" -> Q(
      impl = (s, _) =>
        FeaturesEtl.load(s, s"$Fx/features_rat.gff3", 10116).orderBy("id"),
      oracle = Some {
        val bl = FeaturesEtl.blacklist(EtlOptions())
          .toSeq.sorted.map(t => s"'$t'").mkString(", ")
        s"""
        WITH ${gffCte("features_rat.gff3")}
        SELECT 10116 AS taxon_id,
               nullif(regexp_replace(c0, '^chr', '', 'i'), '.') AS seq_id,
               nullif(c1, '.') AS source,
               nullif(c2, '.') AS type,
               CAST(nullif(c3, '.') AS BIGINT) AS start,
               CAST(nullif(c4, '.') AS BIGINT) AS "end",
               CAST(nullif(c5, '.') AS DOUBLE) AS score,
               nullif(c6, '.') AS strand,
               CAST(nullif(c7, '.') AS INT) AS phase,
               nullif(${dAttr("ID")}, '.') AS id,
               nullif(${dAttr("Name")}, '.') AS name,
               nullif(${dAttr("Dbxref")}, '.') AS dbxref,
               nullif(${dAttr("bioType")}, '.') AS bio_type,
               nullif(${dAttr("Status")}, '.') AS status,
               nullif(${dAttr("Parent")}, '.') AS parent
        FROM raw WHERE c2 NOT IN ($bl)
        ORDER BY id"""
      }),

    // ---- S1/F7/C1/C11/C12: genes from GFF3 -------------------------
    "q45_etl_genes" -> Q(
      impl = (s, _) =>
        GenesExonsEtl.load(s, s"$Fx/genes_human.gff3", 9606).genes
          .orderBy("gene_id"),
      oracle = Some(s"""
        WITH ${gffCte("genes_human.gff3")}
        SELECT ${dAttrFirst("Dbxref")} AS gene_id,
               9606 AS gene_taxonid,
               ${dAttrFirst("Symbol")} AS gene_symbol,
               regexp_replace(c0, 'chr', '', 'g') AS gene_chr,
               CAST(c3 AS BIGINT) - 1 AS gene_start_pos,
               CAST(c4 AS BIGINT) AS gene_end_pos,
               CASE WHEN c6 = '+' THEN '1' WHEN c6 = '-' THEN '-1' END AS gene_strand,
               c2 AS gene_type,
               ${dAttrFirst("Name")} AS gene_name
        FROM raw
        WHERE ${dAttr("Parent")} IS NULL AND ${dAttr("Dbxref")} IS NOT NULL
        ORDER BY gene_id""")),

    // ---- X2: exon flatten via Parent join --------------------------
    "q46_etl_exons" -> Q(
      impl = (s, _) =>
        GenesExonsEtl.load(s, s"$Fx/genes_human.gff3", 9606).exons
          .orderBy("exon_id"),
      oracle = Some(s"""
        WITH ${gffCte("genes_human.gff3")},
        $exonGeneCtes
        SELECT exon_id, parent_gene, 9606 AS taxonid, exon_chr,
               exon_start_pos, exon_end_pos
        FROM ex JOIN gn ON ex.parent_attr = gn.gene_row_id
        ORDER BY exon_id""")),

    // ---- C1/C11: cytobands -----------------------------------------
    "q47_etl_cytobands" -> Q(
      impl = (s, _) =>
        CytoBandEtl.load(s, s"$Fx/cytoband_human.gff3", 9606)
          .orderBy("chr", "start"),
      oracle = Some(s"""
        WITH ${gffCte("cytoband_human.gff3")}
        SELECT ${dAttrFirst("ID")} AS id, 9606 AS taxon_id,
               regexp_replace(c0, 'chr', '', 'g') AS chr,
               ${dAttrFirst("source")} AS source,
               c2 AS type,
               CAST(c3 AS BIGINT) AS start,
               CAST(c4 AS BIGINT) AS "end",
               ${dAttrFirst("Location")} AS location,
               ${dAttrFirst("Color")} AS color
        FROM raw ORDER BY chr, start""")),

    // ---- the reference's gene(gene_taxonid, gene_symbol, gene_chr,
    // gene_type) index (import_genes_exons.py:62) implies a symbol/
    // type search; in the parquet layout the taxon partition + the
    // symbol predicate pushed into the scan serve the same lookup ----
    "q90_symbol_search" -> Q(
      impl = (s, _) =>
        GenesExonsEtl.load(s, s"$Fx/genes_human.gff3", 9606).genes
          .filter(col("gene_taxonid") === 9606 &&
            col("gene_type") === "gene" &&
            col("gene_symbol") >= "B" && col("gene_symbol") < "E")
          .select("gene_id", "gene_symbol", "gene_chr", "gene_type")
          .orderBy("gene_symbol"),
      oracle = Some(s"""
        WITH ${gffCte("genes_human.gff3")},
        g AS (
          SELECT ${dAttrFirst("Dbxref")} AS gene_id,
                 ${dAttrFirst("Symbol")} AS gene_symbol,
                 regexp_replace(c0, 'chr', '', 'g') AS gene_chr,
                 c2 AS gene_type
          FROM raw
          WHERE ${dAttr("Parent")} IS NULL AND ${dAttr("Dbxref")} IS NOT NULL)
        SELECT gene_id, gene_symbol, gene_chr, gene_type
        FROM g
        WHERE gene_type = 'gene' AND gene_symbol >= 'B' AND gene_symbol < 'E'
        ORDER BY gene_symbol""")),

    // ---- the reference's exon(parent_gene, exon_start_pos) index
    // (import_genes_exons.py:76): ordered exon-of-gene retrieval; the
    // exon parquet is sorted by exactly this pair within each taxon
    // partition (Pipeline.layout, LayoutSpec) ------------------------
    "q91_exons_of_gene" -> Q(
      impl = (s, _) =>
        GenesExonsEtl.load(s, s"$Fx/genes_human.gff3", 9606).exons
          .filter(col("parent_gene") === "GeneID:100")
          .select("exon_id", "parent_gene", "exon_start_pos", "exon_end_pos")
          .orderBy("exon_start_pos", "exon_id"),
      oracle = Some(s"""
        WITH ${gffCte("genes_human.gff3")},
        $exonGeneCtes
        SELECT exon_id, parent_gene, exon_start_pos, exon_end_pos
        FROM ex JOIN gn ON ex.parent_attr = gn.gene_row_id
        WHERE parent_gene = 'GeneID:100'
        ORDER BY exon_start_pos, exon_id""")),

    // ---- V1-style validation at scale: classify rows of a dirty
    // input instead of dying on the first bad one — arity check +
    // try_cast per typed column, the tolerant counterpart of the
    // reference's abort-on-assert loaders (EtlSpec covers the
    // abort/skip modes; this pins the classification dataflow) -------
    "q88_dirty_input" -> Q(
      impl = (s, _) => {
        // Blank lines are dropped (not classified) to mirror the
        // oracle's `value <> ''` filter — both engines must see the
        // identical row set.
        val lines = s.read.textFile(s"$Fx/variants_dirty.vcf")
          .filter(!col("value").startsWith("#") && length(col("value")) > 0)
        lines
          .withColumn("c", split(col("value"), "\t"))
          .withColumn("arity_ok", size(col("c")) >= 8)
          .withColumn("pos_ok", expr("try_cast(c[1] AS BIGINT)").isNotNull)
          .withColumn("qual_ok",
            expr("c[5] = '.' OR try_cast(c[5] AS DOUBLE) IS NOT NULL"))
          .withColumn("status", when(!col("arity_ok"), "bad_arity")
            .when(!col("pos_ok"), "bad_pos")
            .when(!col("qual_ok"), "bad_qual")
            .otherwise("ok"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      oracle = Some(s"""
        WITH raw AS (
          SELECT unnest(string_split(content, chr(10))) AS value
          FROM read_text('$Fx/variants_dirty.vcf')),
        body AS (
          SELECT value FROM raw
          WHERE value <> '' AND value NOT LIKE '#%'),
        c AS (SELECT string_split(value, chr(9)) AS c FROM body),
        f AS (SELECT len(c) >= 8 AS arity_ok,
                     TRY_CAST(c[2] AS BIGINT) IS NOT NULL AS pos_ok,
                     (c[6] = '.' OR TRY_CAST(c[6] AS DOUBLE) IS NOT NULL)
                       AS qual_ok
              FROM c)
        SELECT CASE WHEN NOT arity_ok THEN 'bad_arity'
                    WHEN NOT pos_ok THEN 'bad_pos'
                    WHEN NOT qual_ok THEN 'bad_qual'
                    ELSE 'ok' END AS status,
               CAST(count(*) AS BIGINT) AS n
        FROM f GROUP BY 1 ORDER BY status""")),

    // ---- S6/F6/X4/A1/A2/A3: OBO terms + closure. The oracle parses
    // the stanza format in SQL: read_text → split on '[Term]' →
    // truncate each chunk at the next section header → (?m)-anchored
    // field extraction, with the reference's obsolete semantics
    // (term discarded, but is_a edges seen before the marker kept —
    // `import_ontology.py:252-256` vs the module-global is_a dict).
    // Closure/descendant-counts via a recursive CTE ------------------
    "q48_etl_ontology_terms" -> Q(
      impl = (s, _) =>
        OntologyEtl.load(s,
            Seq(s"$Fx/ontology_go.obo", s"$Fx/ontology_mp.obo"))
          .terms.orderBy("id"),
      oracle = Some(s"""
        WITH RECURSIVE $oboCtes,
        cl(ancestor, descendant) AS (
          SELECT parent, child FROM edges
          UNION
          SELECT cl.ancestor, e.child FROM cl JOIN edges e ON cl.descendant = e.parent),
        cnt AS (SELECT ancestor, CAST(count(*) AS BIGINT) AS count
                FROM cl GROUP BY ancestor)
        SELECT t.id, t.name, t.namespace, t."def", cnt.count
        FROM terms t LEFT JOIN cnt ON cnt.ancestor = t.id
        ORDER BY t.id""")),
    // ---- DataSourceV2 GFF3 connector: typed scan with column
    // pruning + pushed string-equality filter ------------------------
    "q75_gff3_source" -> Q(
      impl = (s, _) =>
        s.read.format("gff3").load(s"$Fx/features_rat.gff3")
          .filter(col("strand") === "+")
          .groupBy("type")
          .agg(count(lit(1)).as("n"),
            min("start").as("min_start"), max("end").as("max_end"))
          .orderBy("type"),
      oracle = Some(s"""
        WITH ${gffCte("features_rat.gff3")}
        SELECT c2 AS type, CAST(count(*) AS BIGINT) AS n,
               CAST(min(CAST(nullif(c3, '.') AS BIGINT)) AS BIGINT) AS min_start,
               CAST(max(CAST(nullif(c4, '.') AS BIGINT)) AS BIGINT) AS max_end
        FROM raw WHERE c6 = '+'
        GROUP BY c2 ORDER BY type""")),

    "q49_etl_closure" -> Q(
      impl = (s, _) =>
        OntologyEtl.load(s,
            Seq(s"$Fx/ontology_go.obo", s"$Fx/ontology_mp.obo"))
          .pairs.orderBy("parent", "child"),
      oracle = Some(s"""
        WITH RECURSIVE $oboCtes,
        cl(ancestor, descendant) AS (
          SELECT parent, child FROM edges
          UNION
          SELECT cl.ancestor, e.child FROM cl JOIN edges e ON cl.descendant = e.parent)
        SELECT ancestor AS parent, descendant AS child, 'is_a' AS relationship
        FROM cl ORDER BY parent, child""")),

    // ---- q113: ontology term depth — minimum is_a hops from the
    // roots (terms never appearing as a child), the "level" facet the
    // browser's term tree renders. BFS layer assignment
    // (`Closure.minDepths`): a node's first visit IS its minimum
    // depth, so each round is one equi-join + one anti-join and no
    // per-node min aggregation survives to the end -------------------
    "q113_term_depth" -> Q(
      impl = (s, _) => {
        val events = Seq(s"$Fx/ontology_go.obo", s"$Fx/ontology_mp.obo")
          .map(graft.sources.Obo.read(s, _)).reduce(_ union _).toDF()
        val edges = events.filter(col("kind") === "isa")
          .select(col("parent"), col("id").as("child"))
        graft.operators.Closure.minDepths(edges)
          .select(col("node").as("term_id"), col("depth"))
          .orderBy("term_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE $oboCtes,
        roots AS (SELECT DISTINCT parent AS node FROM edges
                  WHERE parent NOT IN (SELECT child FROM edges)),
        d(node, depth) AS (
          SELECT node, 0 FROM roots
          UNION
          SELECT e.child, d.depth + 1
          FROM d JOIN edges e ON d.node = e.parent)
        SELECT node AS term_id, CAST(min(depth) AS BIGINT) AS depth
        FROM d GROUP BY node ORDER BY term_id"""))
  )
}
