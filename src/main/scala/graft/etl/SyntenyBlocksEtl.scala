package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.EtlOptions
import graft.operators.Dedup
import graft.sources.InputFiles

/** Syntenic-block table from positional 10-column TSV (reference
  * `import_synteny_blocks.py:60-120`).
  *
  * Input columns: ref_chr ref_taxonid ref_start ref_end comp_chr
  * comp_taxonid comp_start comp_end orientation(+/−) ID=SynBlockNNN.
  *
  * Semantics:
  *  - V1/V2: any row with ≠10 fields or a block id not starting
  *    `ID=SynBlock` aborts the whole load (`:63-70`), naming its file;
  *  - C3: same_orientation = (orientation == "+") (`:95`);
  *  - C4: symbol = block id minus the `ID=` prefix (`:101`);
  *  - U1: every row lands twice — forward, then ref↔comp swapped
  *    (`:100-115`), as one `explode` of the two structs;
  *  - D1: `INSERT OR REPLACE` on PK (ref_taxonid, comp_taxonid,
  *    ref_chr, ref_start_pos) into the one table every file loads
  *    into — last write in (file, line) order wins, with the swapped
  *    copy ordered after its forward twin (the order is the scan's
  *    `__file` and `__ord`);
  *  - D4 (`strictSqliteCompat`): the reference's UNIQUE index on
  *    (ref_taxonid, comp_taxonid, ref_chr) additionally collapses to
  *    one block per chromosome pair (`:58-59`) — almost certainly a
  *    bug, reproduced only behind the flag.
  *
  * Every file is read in one `lines` scan ([[InputFiles.tabLines]]).
  */
object SyntenyBlocksEtl {

  /** The block table of `paths`, loaded in that order, from one scan;
    * the V1/V2 validation of every file is one job.
    */
  def load(spark: SparkSession, paths: Seq[String], opts: EtlOptions): DataFrame = {
    val lines = InputFiles.tabLines(spark, paths)

    // V1/V2 validation — abort the load on any malformed row; the
    // first three in (file, line) order, from one job.
    val bad = lines
      .filter(size(col("f")) =!= 10 || !col("f")(9).startsWith("ID=SynBlock"))
      .orderBy(InputFiles.fileOrder: _*)
      .select(InputFiles.Column, "value")
      .limit(3).collect()
    require(bad.isEmpty, "syntenic block validation failed (arity/id): " +
      bad.map(r => s"${paths(r.getInt(0))}: ${r.getString(1)}").mkString("; "))

    def block(rT: Int, rC: Int, rS: Int, rE: Int, cT: Int, cC: Int, cS: Int,
        cE: Int, dir: Int) =
      struct(
        col("f")(rT).cast("int").as("ref_taxonid"),
        col("f")(rC).as("ref_chr"),
        col("f")(rS).cast("long").as("ref_start_pos"),
        col("f")(rE).cast("long").as("ref_end_pos"),
        col("f")(cT).cast("int").as("comp_taxonid"),
        col("f")(cC).as("comp_chr"),
        col("f")(cS).cast("long").as("comp_start_pos"),
        col("f")(cE).cast("long").as("comp_end_pos"),
        (col("f")(8) === "+").as("same_orientation"),
        substring(col("f")(9), 4, Int.MaxValue).as("symbol"),
        lit(dir).as("__twin"))

    val both = lines.select(InputFiles.fileOrder :+ explode(array(
        block(1, 0, 2, 3, 5, 4, 6, 7, dir = 0),
        block(5, 4, 6, 7, 1, 0, 2, 3, dir = 1))).as("__row"): _*)
      .select(InputFiles.fileOrder :+ col("__row.*"): _*)

    // The last dedup of the chain drops __file, __ord and __twin from
    // both the packed struct and the output (r22 keep projection) —
    // they are only ordering inputs, never consumed columns.
    val ord = InputFiles.fileOrder :+ col("__twin")
    val dataCols = both.columns.filterNot(Set(InputFiles.Column, InputFiles.Ordinal, "__twin")).toSeq
    val byPk = Dedup.lastWins(both,
      keys = Seq("ref_taxonid", "comp_taxonid", "ref_chr", "ref_start_pos"),
      ord = ord, keep = if (opts.strictSqliteCompat) both.columns.toSeq else dataCols)
    if (opts.strictSqliteCompat)
      Dedup.lastWins(byPk, keys = Seq("ref_taxonid", "comp_taxonid", "ref_chr"), ord = ord,
        keep = dataCols)
    else byPk
  }

  /** [[load]] of one file. */
  def load(spark: SparkSession, path: String,
      opts: EtlOptions = EtlOptions()): DataFrame = load(spark, Seq(path), opts)
}
