package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup / upsert semantics of the reference's three SQLite conflict
  * modes (SURVEY.md §2.6; reference `import_synteny_blocks.py:83`,
  * `import_homologs.py:114`, `import_genes_exons.py:120-126`,
  * `import_features.py:203-211`).
  *
  * D1/D3 run as ONE aggregation — `min`/`max` of a
  * `struct(ord…, kept non-key columns)` per key — instead of the former
  * exchange + per-partition sort + row_number window (r21, guide
  * §2.3 "aggregate before you shuffle"): the partial aggregate
  * combines map-side, so the shuffle carries at most one row per
  * (map task, key) rather than every input row. It is not a hash
  * aggregation: `min`/`max` of a struct has no fixed-width buffer, so
  * Spark plans a `SortAggregate` with a `Sort` on each side of the
  * exchange (the q40–q42 and q44 plans). Struct comparison is
  * lexicographic by field with nulls ordered first — exactly
  * `ORDER BY … ASC NULLS FIRST` under `min`
  * and `ORDER BY … DESC NULLS LAST` under `max`, Spark's window
  * defaults, so winners are identical to the window form wherever the
  * ordering keys are unique per key group; on full ties the pick is
  * deterministic (whole-row extremum) where the window's was
  * scan-order-dependent. AQE handles skewed key groups.
  */
object Dedup {

  /** D1 — `INSERT OR REPLACE`: last write (by `ord`) wins per key.
    * @note `ord` must be unique per key group. On a tie the winner is
    *   the payload-struct extremum, not the first or last row in scan
    *   order.
    */
  def lastWins(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame =
    pick(df, keys, ord, useMax = true, df.columns.toSeq)

  /** D1 with an explicit output projection: only `keep` columns (in
    * `keep` order) survive, and — the point — only the non-key subset
    * of `keep` is packed into the aggregated struct, so Catalyst can
    * prune the scan to keys ∪ ord-references ∪ keep instead of the
    * whole table (r22; the all-columns form widened q09's ReadSchema
    * from 3 to all 11 lineitem columns — a full-width scan + shuffle
    * at 100 TB for columns the query never outputs).
    * @note `ord` must be unique per key group. On a tie the winner is
    *   the payload-struct extremum, not the first or last row in scan
    *   order.
    */
  def lastWins(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      keep: Seq[String]): DataFrame =
    pick(df, keys, ord, useMax = true, keep)

  /** D3 — `INSERT`-and-skip-dup: first write (by `ord`) wins per key.
    * @note `ord` must be unique per key group. On a tie the winner is
    *   the payload-struct extremum, not the first or last row in scan
    *   order.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame =
    pick(df, keys, ord, useMax = false, df.columns.toSeq)

  /** D3 with an explicit output projection — see the 4-arg [[lastWins]].
    * @note `ord` must be unique per key group. On a tie the winner is
    *   the payload-struct extremum, not the first or last row in scan
    *   order.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      keep: Seq[String]): DataFrame =
    pick(df, keys, ord, useMax = false, keep)

  /** Packed-column requirements (ADVICE r21): every `keep`/key column
    * lands inside a `min`/`max` struct, so its type must be ORDERABLE —
    * a MapType anywhere in it throws AnalysisException where the old
    * row_number window worked; this pre-check turns that into a clear
    * message. And the winner on full-ordering ties is the payload-
    * struct extremum, not scan order: callers must keep `ord` unique
    * per key group (the ETL call sites order by the scan-filled
    * `__file` and `__ord` of `graft.sources.InputFiles`, the others by
    * unique key suffixes).
    */
  private def assertOrderable(df: DataFrame, cols: Seq[String]): Unit = {
    def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.MapType => true
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    cols.filter(c => hasMap(df.schema(c).dataType)) match {
      case bad if bad.nonEmpty => throw new IllegalArgumentException(
        s"Dedup.lastWins/keepFirst order rows by a min/max struct, which " +
          s"requires orderable column types; ${bad.mkString(", ")} " +
          "contain(s) MapType — project or re-encode before dedup, or " +
          "exclude via the keep parameter")
      case _ =>
    }
  }

  private def pick(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      useMax: Boolean, keep: Seq[String]): DataFrame = {
    val missing = keep.filterNot(df.columns.contains)
    require(missing.isEmpty, s"keep columns not in input: ${missing.mkString(", ")}")
    val keySet = keys.toSet
    // Key columns are constant within a group — reading them back from
    // the grouping keys instead of the packed struct never changes the
    // extremum (they compare equal) and keeps them out of the shuffled
    // payload.
    val payload = keep.filterNot(keySet)
    assertOrderable(df, keys ++ payload)
    if (payload.isEmpty)
      // keep ⊆ keys: every kept column is constant per group.
      return df.select(keys.map(col): _*).distinct()
        .select(keep.map(col): _*)
    val ordered = struct(
      ord.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } :+
        struct(payload.map(col): _*).as("__row"): _*)
    df.groupBy(keys.map(col): _*)
      .agg((if (useMax) max(ordered) else min(ordered)).as("__pick"))
      .select(keep.map(c =>
        (if (keySet(c)) col(s"`$c`") else col(s"__pick.__row.`$c`")).as(c)): _*)
  }

  /** D2 — plain `INSERT` with PK: any duplicate key aborts the load
    * (reference rolls back the whole file transaction). Implemented
    * as an in-plan guard: a per-key window count feeds `assert_true`,
    * so the job fails at materialization time — the Spark analog of
    * "the transaction aborts" — without an extra eager driver action.
    */
  def assertNoDuplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__dupcnt", count(lit(1)).over(w))
      .withColumn("__dupchk", assert_true(col("__dupcnt") === 1,
        concat(lit(s"duplicate primary key on (${keys.mkString(",")}): "),
          concat_ws(",", keys.map(c => col(c).cast("string")): _*))))
      .filter(col("__dupchk").isNull)
      .drop("__dupcnt", "__dupchk")
  }
}
