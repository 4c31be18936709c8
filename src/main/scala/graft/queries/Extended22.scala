package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{MinHashLsh, TextFns, VecFns}

/** Round-13: LSH self-calibration — the "calibration knob" the decade
  * curve documents, turned into operators for BOTH banded-LSH
  * families:
  *
  *   - q184 (embedding / hyperplane): for each planes-per-band config,
  *     ONE corpus pass computes the exact per-bucket occupancy
  *     histogram and from it the exact banded-join cost —
  *     Σ m·(m−1)/2 candidate pairs — plus the bucket count and the
  *     worst bucket; selects the narrowest config whose candidate load
  *     fits a per-vector pair budget (the monotone trade: fewer
  *     planes → higher recall → more pairs), widest as fallback.
  *   - q185 (text / MinHash): the same occupancy/cost sweep over the
  *     band-count grid of a fixed k=12 signature, each config tagged
  *     with its analytic recall threshold j50 — the Jaccard at which
  *     the banded s-curve reaches 50% detection, (1−0.5^(1/b))^(1/r) —
  *     and selection = the highest-recall (most-bands) config fitting
  *     the budget, fewest-bands as fallback. Signatures are computed
  *     once by the zero-shuffle `signaturesFromTokens` pass and
  *     persisted; the grid sweep re-reads the tiny cached signature
  *     frame, never the corpus.
  *
  * At 100 TB each sweep is a groupBy over short keys per config — the
  * same shape as the candidate join it calibrates, minus the join —
  * so tuning costs one scan, not a dry-run of the dedup.
  *
  * Oracles: q184 replays the identical md5-derived ±1 hyperplanes per
  * config as literal VALUES (the q53/q31 pattern); q185 replays the
  * md5-prefix MinHash signature construction (the q162 pattern) and
  * the per-band md5 keys, with j50 emitted as the identical rounded
  * literal on both sides.
  */
object Extended22 {

  /** Fixed band count (matches the near-dup family's 4 bands). */
  private val Bands = 4

  /** Candidate planes-per-band grid, narrowest first. */
  private val PlaneGrid = Seq(2, 4, 6, 8)

  /** Budget: accepted expected candidate pairs per corpus vector. */
  private val PairsPerVecBudget = 20L

  /** Embedding dimensionality of the harness table. (Must be declared
    * before `queries`: the oracle string is built at object init.)
    */
  private val EmbDim = 64

  /** q185: MinHash signature length (matches the near-dup family). */
  private val MinhashK = Extended2.MinhashK

  /** q185: candidate band-count grid (divisors of k), fewest first. */
  private val BandGrid = Seq(2, 3, 4, 6)

  /** q185: accepted candidate pairs per signed document. */
  private val PairsPerDocBudget = 20L

  /** Analytic 50%-detection Jaccard of a (b bands × r rows) banded
    * join — the banded s-curve 1−(1−j^r)^b solved at 0.5 — rounded to
    * 6 places so the Scala impl and the SQL literal agree bit-exactly.
    */
  private def j50(b: Int): Double = {
    val r = MinhashK / b
    BigDecimal(math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  val queries: Map[String, Q] = Map(
    "q184_band_calibration" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        val maxPlanes = Bands * PlaneGrid.max
        // plane signs materialize ONCE per vector in a dedicated
        // projection (plane j is shared by every config covering it —
        // the grid reuses planes 0–7 four times), then every
        // (config, band) key is pure bit assembly — no per-config
        // corpus re-scan AND no per-config re-projection
        val signed = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .select((0 until maxPlanes).map(j =>
            VecFns.planeSign(col("vq"), j, EmbDim).as(s"__sg$j")): _*)
        val keyed = signed.select(explode(array(
          (for { p <- PlaneGrid; b <- 0 until Bands } yield
            struct(lit(p).as("p"), lit(b).as("band"),
              VecFns.lshBandKeyFromSigns(j => col(s"__sg$j"), b, p)
                .as("key"))): _*))
          .as("bk"))
          .select(col("bk.p"), col("bk.band"), col("bk.key"))
        val occ = keyed.groupBy("p", "band", "key")
          .agg(count(lit(1)).as("m"))
        val stats = occ.groupBy("p").agg(
          count(lit(1)).as("n_buckets"),
          max(col("m")).as("max_occ"),
          sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"))
        val n = Tables.embeddingsParallel(s, d)
          .agg(count(lit(1)).as("n_vec"))
        // selection via a window over the stats frame: it has exactly
        // |PlaneGrid| rows (a constant, not data-sized), so the
        // single-partition window is bounded and the corpus
        // aggregation above runs ONCE — a second aggregate + re-join
        // would traverse the whole corpus pass again
        val w = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        stats.crossJoin(broadcast(n))
          .withColumn("p_fit",
            min(when(col("cand_pairs") <= col("n_vec") * PairsPerVecBudget,
              col("p"))).over(w))
          .withColumn("p_max", max(col("p")).over(w))
          .select(col("p").cast("long").as("planes_per_band"),
            col("n_buckets"), col("max_occ"), col("cand_pairs"),
            (col("p") === coalesce(col("p_fit"), col("p_max")))
              .cast("long").as("selected"))
          .orderBy("planes_per_band")
      },
      oracle = Some {
        val maxPlanes = Bands * PlaneGrid.max
        val weightRows = (for {
          j <- 0 until maxPlanes
          i <- 1 to EmbDim
        } yield s"($j,$i,${VecFns.hyperplaneWeight(j, i - 1)})")
          .mkString(",")
        val perConfig = PlaneGrid.map { p =>
          val pw = (0 until p).map(m => s"($m,${1L << m})").mkString(",")
          s"""
        bk$p AS (
          SELECT vec_id, j // $p AS band,
                 CAST(sum(CASE WHEN pr >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM proj JOIN (VALUES $pw) pw$p(m, pv) ON pw$p.m = j % $p
          WHERE j < ${Bands * p}
          GROUP BY 1, 2),
        occ$p AS (
          SELECT band, key, count(*) AS m FROM bk$p GROUP BY 1, 2),
        stat$p AS (
          SELECT CAST($p AS BIGINT) AS planes_per_band,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(max(m) AS BIGINT) AS max_occ,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs
          FROM occ$p)"""
        }.mkString(",")
        val unioned = PlaneGrid.map(p => s"SELECT * FROM stat$p")
          .mkString(" UNION ALL ")
        s"""
        WITH f AS (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings),
        qv AS (SELECT vec_id, i,
                      CAST(round(CAST(x AS DOUBLE) * ${VecFns.Scale}) AS BIGINT) AS e
               FROM f),
        w(j, i, wt) AS (VALUES $weightRows),
        proj AS (
          SELECT qv.vec_id, w.j, CAST(sum(qv.e * w.wt) AS BIGINT) AS pr
          FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2),$perConfig,
        allstats AS ($unioned),
        sel AS (
          SELECT min(CASE WHEN cand_pairs <=
                       $PairsPerVecBudget * (SELECT count(*) FROM embeddings)
                     THEN planes_per_band END) AS p_fit,
                 max(planes_per_band) AS p_max
          FROM allstats)
        SELECT planes_per_band, n_buckets, max_occ, cand_pairs,
               CAST(planes_per_band = coalesce(p_fit, p_max) AS BIGINT) AS selected
        FROM allstats CROSS JOIN sel
        ORDER BY planes_per_band"""
      },
      bench = true),

    "q185_minhash_calibration" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val toks = Tables.docsParallel(s, d)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
        // one zero-shuffle signature pass; the grid sweep below
        // re-reads the cached per-doc frame, never the corpus
        val sigs = MinHashLsh.signaturesFromTokens(
          toks, "doc_id", "t", 3, MinhashK).persist()
        // the whole grid's (bands, band, key) rows come from ONE
        // explode pass over the signatures (BandedLsh.occupancy — the
        // same operator the q186/q190 calibration runs) instead of a
        // per-config bandKeys + unionByName that scanned the persisted
        // signature frame |BandGrid| times. Identical rows, identical
        // md5 count (Σ_b b keys per signature row).
        val occ = graft.functions.BandedLsh.occupancy(
            MinHashLsh.family(sigs, "doc_id", MinhashK), BandGrid)
          .withColumnRenamed("cfg", "bands")
        val stats = occ.groupBy("bands").agg(
            count(lit(1)).as("n_buckets"),
            max(col("m")).as("max_occ"),
            sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"),
            sum(col("m")).as("tot"))
          .withColumn("n_docs", expr("tot div bands"))
        val curve = BandGrid
          .map(b => (b, (MinhashK / b).toLong, j50(b)))
          .toDF("bands", "r", "j50")
        val w = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        stats.join(broadcast(curve), "bands")
          .withColumn("b_fit",
            max(when(col("cand_pairs") <= col("n_docs") * PairsPerDocBudget,
              col("bands"))).over(w))
          .withColumn("b_min", min(col("bands")).over(w))
          .select(col("bands").cast("long"), col("r"), col("j50"),
            col("n_buckets"), col("max_occ"), col("cand_pairs"),
            (col("bands") === coalesce(col("b_fit"), col("b_min")))
              .cast("long").as("selected"))
          .orderBy("bands")
      },
      oracle = Some {
        val sigSelect = (0 until MinhashK).map(i =>
          s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
            s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
        val perConfig = BandGrid.map { b =>
          val r = MinhashK / b
          val bandRows = (0 until b).map { bi =>
            val key = (bi * r until (bi + 1) * r)
              .map(i => s"s$i").mkString(" || '|' || ")
            s"SELECT doc_id, $bi AS band, ${MinHashLsh.bandKeySql(key)} AS key FROM sig"
          }.mkString("\n UNION ALL\n ")
          s"""
        band$b AS ($bandRows),
        occ$b AS (
          SELECT band, key, count(*) AS m FROM band$b GROUP BY 1, 2),
        stat$b AS (
          SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS r,
                 CAST(${j50(b)} AS DOUBLE) AS j50,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(max(m) AS BIGINT) AS max_occ,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $b AS BIGINT) AS n_docs
          FROM occ$b)"""
        }.mkString(",")
        val unioned = BandGrid.map(b => s"SELECT * FROM stat$b")
          .mkString(" UNION ALL ")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),$perConfig,
        allstats AS ($unioned),
        sel AS (
          SELECT max(CASE WHEN cand_pairs <= $PairsPerDocBudget * n_docs
                     THEN bands END) AS b_fit,
                 min(bands) AS b_min
          FROM allstats)
        SELECT bands, r, j50, n_buckets, max_occ, cand_pairs,
               CAST(bands = coalesce(b_fit, b_min) AS BIGINT) AS selected
        FROM allstats CROSS JOIN sel
        ORDER BY bands"""
      },
      bench = true))
}
