package graft.model

/** Fidelity switches for the reference's committed quirks
  * (SURVEY.md §7.6). Defaults reproduce the reference byte-for-byte.
  */
final case class EtlOptions(
    /** D4: also collapse syntenic blocks to one per (pair, ref_chr) —
      * the reference's UNIQUE-index side effect.
      */
    strictSqliteCompat: Boolean = false,
    /** F4: repair the `'mRNA' 'exon'` string-concat bug so mRNA/exon
      * rows are actually blacklisted.
      */
    fixBlacklist: Boolean = false)
