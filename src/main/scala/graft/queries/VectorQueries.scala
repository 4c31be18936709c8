package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{PersistLeases, TextFns, VecFns}
import graft.functions.expressions.GraftFunctions
import graft.operators.{Ivf, TopK}
import Shared.{EmbDim, weightRows, powerRows, planeProjCtes}

/** Similarity search and vector analytics over the `embeddings` table:
  * brute-force cosine top-k (the exactness baseline), random-hyperplane
  * LSH-bucketed ANN (candidate generation becomes an equi-join on a
  * bucket id instead of a cross join), IVF, PQ and IVF-PQ ANN,
  * SemDeDup within k-means cells, LSH-bucket medoids, per-dimension
  * statistics, a Johnson–Lindenstrauss projection audit, and hybrid
  * BM25 + cosine retrieval.
  *
  * All scores are exact: vectors are quantized to longs, dot products
  * and norms are integer sums (associative → partitioning-independent),
  * and the final cosine is a deterministic double expression. See
  * `VecFns`. The ANN oracles that embed a trained model are generated
  * (`AnnOracles`).
  */
object VectorQueries {

  private val NQueries = 20 // vec_id < 20 are the query vectors
  private val K = 5
  private val NPlanes = 8

  private[queries] def quantized(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    // Parallel read matters here: this frame is the *streamed* side of
    // every broadcast scoring join below, so its partition count is
    // the scoring parallelism (Tables.embeddingsParallel).
    Tables.embeddingsParallel(s, d)
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
  }

  /** The top `K` neighbours per query of the candidate rows `cand`
    * (q_id, q_vq, q_nsq, n_id, n_vq, n_nsq) by exact quantized cosine,
    * ties to the lower n_id: (q_id, rk, n_id, cos_r) — q30 and q31.
    */
  private def cosineTopK(cand: DataFrame): DataFrame = {
    val scored = cand
      .withColumn("dot", VecFns.dotQFast(col("q_vq"), col("n_vq")))
      .withColumn("cos", VecFns.cosineFromQ(col("dot"), col("q_nsq"), col("n_nsq")))
    TopK.perGroup(scored, Seq("q_id"), Seq(col("cos").desc, col("n_id").asc), K)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy("q_id", "rk")
  }

  /** Shared oracle CTEs: element-wise quantized vectors + norms. */
  private[queries] def quantCtes: String = s"""
        f AS (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings),
        qv AS (SELECT vec_id, i,
                      CAST(round(CAST(x AS DOUBLE) * ${VecFns.Scale}) AS BIGINT) AS e
               FROM f),
        norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS nsq
                  FROM qv GROUP BY vec_id)"""

  /** Hyperplane-sign bucket ids in SQL — the exact integer mirror of
    * `VecFns.lshBucket` (same md5-derived ±1 weights, same bit
    * packing). Depends on `quantCtes`'s `qv`. Shared with q127's
    * bucket-centroid dedup so both oracles pin ONE construction.
    */
  private def lshBucketCtes: String = s"""${planeProjCtes(NPlanes)},
        pw(j, pv) AS (VALUES ${powerRows(NPlanes)}),
        buckets AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN p >= 0 THEN pv ELSE 0 END) AS BIGINT) AS bucket
          FROM proj JOIN pw ON proj.j = pw.j GROUP BY vec_id)"""

  /** DuckDB tail of an exact-cosine top-`k`: the cosine of each
    * (q_id, n_id, dot) row of CTE `dots` (`scored`), its rank per
    * query by (cos DESC, n_id) (`ranked`, the `TopK.perGroup`
    * tie-break), and the top `k` per query.
    */
  private def rankedSelect(k: Int): String = s"""
        scored AS (
          SELECT d.q_id, d.n_id,
                 CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(qa.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
          FROM dots d
            JOIN norms qa ON qa.vec_id = d.q_id
            JOIN norms nb ON nb.vec_id = d.n_id),
        ranked AS (
          SELECT q_id, n_id, cos, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
          FROM scored)
        SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
        FROM ranked WHERE rk <= $k ORDER BY q_id, rk"""

  /** DuckDB exact-cosine top-`k` of the (q_id, n_id) candidate pairs
    * of CTE `cand`: their quantized dot products `dots`, then
    * [[rankedSelect]]. Depends on [[quantCtes]].
    */
  private[queries] def candRankedSelect(cand: String, k: Int): String = s"""
        dots AS (
          SELECT c.q_id, c.n_id, CAST(sum(a.e * b.e) AS BIGINT) AS dot
          FROM $cand c
            JOIN qv a ON a.vec_id = c.q_id
            JOIN qv b ON b.vec_id = c.n_id AND b.i = a.i
          GROUP BY 1, 2),${rankedSelect(k)}"""

  private val JlPlanes = 16     // q172 projection dims for the JL audit
  private val RrfK = 60L        // q176 standard RRF rank damping
  private val ListN = 50        // q176 per-system candidate-list depth
  private val FuseN = 20        // q176 fused output depth

  /** q178 cluster count. Test-scale value; at corpus scale SemDeDup
    * runs k ≈ N/⟨cluster⟩ (the paper uses 50k clusters for 100M+
    * docs) — the within-cell quadratic is bounded by ⟨cluster⟩², and
    * cells are numerous enough to hash-partition evenly.
    */
  private val SemK = 16
  /** q178 cosine threshold in micro-units (0.30): chosen against the
    * synthetic embeddings' cosine distribution (99.5th pct ≈ 0.32) so
    * the drop set is non-trivial; production SemDeDup runs ≥ 0.9 on
    * real, strongly-clustered embeddings.
    */
  private val TauMicro = 300000L

  val queries: Map[String, Q] = Map(
    // ---- brute-force cosine top-k ----------------------------------
    "q30_embed_knn" -> Q(
      impl = (s, d) => {
        val all = quantized(s, d)
        val q = broadcast(
          all.filter(col("vec_id") < NQueries).toDF("q_id", "q_vq", "q_nsq"))
        val v = all.toDF("n_id", "n_vq", "n_nsq")
        cosineTopK(v.crossJoin(q).filter(col("q_id") =!= col("n_id")))
      },
      oracle = Some(s"""
        WITH $quantCtes,
        dots AS (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 CAST(sum(a.e * b.e) AS BIGINT) AS dot
          FROM qv a JOIN qv b
            ON a.i = b.i AND a.vec_id < $NQueries AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        ${rankedSelect(K)}"""),
      bench = true),

    // ---- LSH-bucketed ANN ------------------------------------------
    "q31_ann_lsh" -> Q(
      impl = (s, d) => {
        val all = quantized(s, d)
          .withColumn("bucket", VecFns.lshBucket(col("vq"), NPlanes, EmbDim))
        val q = broadcast(
          all.filter(col("vec_id") < NQueries)
            .toDF("q_id", "q_vq", "q_nsq", "bucket"))
        val v = all.toDF("n_id", "n_vq", "n_nsq", "bucket")
        cosineTopK(v.join(q, "bucket").filter(col("q_id") =!= col("n_id")))
      },
      oracle = Some(s"""
        WITH $quantCtes,
        $lshBucketCtes,
        cand AS (
          SELECT q.vec_id AS q_id, v.vec_id AS n_id
          FROM buckets q JOIN buckets v
            ON q.bucket = v.bucket AND q.vec_id < $NQueries AND q.vec_id <> v.vec_id),
        ${candRankedSelect("cand", K)}""")),

    // ---- IVF ANN (k-means coarse quantizer; the quantizer is data-
    // trained but deterministic, so the oracle re-trains the identical
    // model and bakes it into the SQL — see AnnOracles; recall vs
    // brute force additionally pinned by VectorSpec) ------------------
    "q54_ann_ivf" -> Q(
      impl = (s, d) => {
        val all = quantized(s, d)
        val model = graft.operators.Ivf.train(
          Tables.load(s, d, "embeddings"), "embedding", k = 16)
        val q = all.filter(col("vec_id") < NQueries)
        graft.operators.Ivf.search(all, q, "vec_id", model,
          nprobe = 6, topK = K)
      },
      oracle = None,
      oracleGen = Some((s, d) => AnnOracles.ivfOracle(
        graft.operators.Ivf.train(
          Tables.load(s, d, "embeddings"), "embedding", k = 16),
        NQueries, nprobe = 6, k = K))),

    // ---- higher-order array functions over embeddings: transform /
    // filter / aggregate on the vector column, all inside codegen —
    // the declarative path for per-vector feature engineering --------
    "q87_vector_stats" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"),
            graft.functions.VecFns.quantize(col("embedding")).as("vq"))
          .select(col("vec_id"),
            size(col("vq")).cast("long").as("dim"),
            aggregate(col("vq"), lit(0L), (acc, x) => acc + x).as("sum_q"),
            size(filter(col("vq"), _ > 0)).cast("long").as("n_pos"),
            array_max(col("vq")).as("max_q"),
            array_min(col("vq")).as("min_q"))
          .orderBy("vec_id"),
      oracle = Some(s"""
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * ${graft.functions.VecFns.Scale})
                        AS BIGINT)) AS vq
          FROM embeddings)
        SELECT vec_id,
               len(vq) AS dim,
               CAST(list_sum(vq) AS BIGINT) AS sum_q,
               len(list_filter(vq, x -> x > 0)) AS n_pos,
               CAST(list_max(vq) AS BIGINT) AS max_q,
               CAST(list_min(vq) AS BIGINT) AS min_q
        FROM q ORDER BY vec_id""")),

    // ---- SemDeDup-style representative selection: embeddings are
    // hashed into hyperplane-LSH buckets (the q31 construction), each
    // bucket elects the member closest to its centroid, the rest are
    // near-duplicates to drop. Division-free: minimizing the true
    // L2-to-mean is equivalent to minimizing Σ_i (cnt·e_i − se_i)²
    // (scale by cnt²), so centroid and distances stay exact integers
    // — no float, no truncate-vs-floor division divergence. Shape:
    // one posexplode (narrow), two hash shuffles on (bucket, i) and
    // (bucket, vec_id), one struct-min per bucket. The bucket key is
    // the partition unit — at 100 TB the bucket count (2^nPlanes ×
    // growable band splits) is tuned so a bucket's members fit a
    // task, and the argmin never materializes an all-pairs join ------
    "q127_bucket_medoid" -> Q(
      impl = (s, d) => {
        GraftFunctions.register(s)
        val emb = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .withColumn("bucket",
            VecFns.lshBucket(col("vq"), NPlanes, EmbDim))
        val comp = emb.select(col("bucket"), col("vec_id"),
          posexplode(col("vq")).as(Seq("i0", "e")))
          .withColumn("i", col("i0") + 1).drop("i0")
        val cent = comp.groupBy("bucket", "i")
          .agg(sum("e").as("se"), count(lit(1)).as("cnt"))
        val dist = comp.join(cent, Seq("bucket", "i"))
          .withColumn("dt",
            (col("cnt") * col("e") - col("se")) * (col("cnt") * col("e") - col("se")))
          .groupBy("bucket", "vec_id").agg(sum("dt").as("dist2"))
        dist.groupBy("bucket")
          .agg(min(struct(col("dist2"), col("vec_id"))).as("m"),
            count(lit(1)).as("n_members"))
          .select(col("bucket"), col("m.vec_id").as("rep_id"),
            col("m.dist2").as("dist2"), col("n_members"))
          .orderBy("bucket")
      },
      oracle = Some(s"""
        WITH ${quantCtes},
        ${lshBucketCtes},
        cent AS (
          SELECT b.bucket, qv.i, CAST(sum(qv.e) AS BIGINT) AS se,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM qv JOIN buckets b ON b.vec_id = qv.vec_id
          GROUP BY 1, 2),
        dist AS (
          SELECT b.bucket, qv.vec_id,
                 CAST(sum((c.cnt * qv.e - c.se) * (c.cnt * qv.e - c.se)) AS BIGINT) AS dist2
          FROM qv
            JOIN buckets b ON b.vec_id = qv.vec_id
            JOIN cent c ON c.bucket = b.bucket AND c.i = qv.i
          GROUP BY 1, 2),
        r AS (
          SELECT bucket, vec_id, dist2,
                 row_number() OVER (PARTITION BY bucket ORDER BY dist2, vec_id) AS rk,
                 CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS n_members
          FROM dist)
        SELECT bucket, vec_id AS rep_id, dist2, n_members
        FROM r WHERE rk = 1 ORDER BY bucket"""),
      bench = true),

    // ---- product-quantization ANN: corpus → 8 byte-codes per vector
    // (8 subspaces × 16-centroid codebooks), query scoring = ADC table
    // lookups, exact-cosine re-rank of a 50-candidate shortlist. The
    // codebooks are data-trained but deterministic, so the oracle
    // re-trains them and bakes the literals into the SQL (AnnOracles);
    // recall@5 vs brute force additionally pinned by PqSpec ----------
    "q166_pq_ann" -> Q(
      impl = (s, d) => {
        val all = quantized(s, d).toDF("n_id", "n_vq", "n_nsq")
        val model = graft.operators.Pq.train(
          Tables.load(s, d, "embeddings"), "embedding", m = 8, k = 16)
        val q = all.filter(col("n_id") < NQueries)
          .toDF("q_id", "q_vq", "q_nsq")
        graft.operators.Pq.search(all, q, model, rerank = 50, topK = K)
      },
      oracle = None,
      oracleGen = Some((s, d) => AnnOracles.pqOracle(
        graft.operators.Pq.train(
          Tables.load(s, d, "embeddings"), "embedding", m = 8, k = 16),
        NQueries, rerank = 50, k = K))),

    // ---- IVF-PQ: the billion-vector composition — coarse cells turn
    // the scoring join into an equi-join (only nprobe cells touched
    // per query), ADC scores the cells' code lists in the compressed
    // domain, exact re-rank on the shortlist. Both quantizers are
    // deterministic retrains in the oracle generator (AnnOracles);
    // recall additionally pinned by PqSpec --------------------------
    "q167_ivfpq_ann" -> Q(
      impl = (s, d) => {
        val all = quantized(s, d).toDF("n_id", "n_vq", "n_nsq")
        val raw = Tables.load(s, d, "embeddings")
        val (coarse, model) = graft.operators.Pq.trainIvfPq(
          raw, "embedding", coarseK = 16, m = 8, k = 16)
        val q = all.filter(col("n_id") < NQueries)
          .toDF("q_id", "q_vq", "q_nsq")
        graft.operators.Pq.searchIvfPq(all, q, coarse, model,
          nprobe = 6, rerank = 50, topK = K)
      },
      oracle = None,
      oracleGen = Some { (s, d) =>
        val (coarse, model) = graft.operators.Pq.trainIvfPq(
          Tables.load(s, d, "embeddings"), "embedding",
          coarseK = 16, m = 8, k = 16)
        AnnOracles.ivfPqOracle(coarse, model, NQueries,
          nprobe = 6, rerank = 50, k = K)
      }),

    // ---- Johnson–Lindenstrauss audit of the ±1 projection family:
    // project quantized embeddings 64→16 dims with the deterministic
    // hyperplane matrix, and measure how well squared distances
    // survive (ratio = |P(a−b)|²/16 ÷ |a−b|²; JL says ≈ 1). Pair set
    // = consecutive vec_ids (a deterministic O(N) probe, no N²). All
    // quantities integer until two divisions, so the audit hashes
    // exactly cross-engine. The op that certifies a projection before
    // the cheap 16-dim representation replaces the full vector in a
    // dedup/ANN tier -------------------------------------------------
    "q172_jl_audit" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        val e = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
        val pairs = e.toDF("aid", "avq")
          .join(e.toDF("bid", "bvq"), col("bid") === col("aid") + 1)
          .withColumn("diff", zip_with(col("avq"), col("bvq"), (x, y) => x - y))
        val dq = VecFns.dotQFast(col("diff"), col("diff"))
        val dp = (0 until JlPlanes).map { j =>
          val w = typedlit((0 until EmbDim).map(i => VecFns.hyperplaneWeight(j, i)))
          val p = VecFns.dotQFast(col("diff"), w)
          p * p
        }.reduce(_ + _)
        pairs
          .withColumn("dq", dq).withColumn("dp", dp)
          .filter(col("dq") > 0)
          .withColumn("ratio",
            (col("dp").cast("double") / JlPlanes) / col("dq").cast("double"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg("ratio"), 6).as("mean_ratio"),
            round(min("ratio"), 6).as("min_ratio"),
            round(max("ratio"), 6).as("max_ratio"),
            sum(when(col("ratio").between(0.5, 2.0), 1L).otherwise(0L))
              .as("n_in_band"))
      },
      oracle = Some {
        s"""
        WITH ${quantCtes},
        dv AS (
          SELECT a.vec_id AS aid, a.i, a.e - b.e AS de
          FROM qv a JOIN qv b ON b.vec_id = a.vec_id + 1 AND b.i = a.i),
        dq AS (SELECT aid, CAST(sum(de * de) AS BIGINT) AS dq
               FROM dv GROUP BY aid),
        ew(j, i, wt) AS (VALUES ${weightRows(JlPlanes)}),
        pj AS (
          SELECT dv.aid, ew.j, CAST(sum(dv.de * ew.wt) AS BIGINT) AS p
          FROM dv JOIN ew ON dv.i = ew.i GROUP BY 1, 2),
        dp AS (SELECT aid, CAST(sum(p * p) AS BIGINT) AS dp
               FROM pj GROUP BY aid),
        r AS (
          SELECT (CAST(dp AS DOUBLE) / $JlPlanes) / CAST(dq.dq AS DOUBLE) AS ratio
          FROM dq JOIN dp USING (aid) WHERE dq.dq > 0)
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(ratio), 6) AS mean_ratio,
               round(min(ratio), 6) AS min_ratio,
               round(max(ratio), 6) AS max_ratio,
               CAST(sum(CASE WHEN ratio BETWEEN 0.5 AND 2.0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_in_band
        FROM r"""
      },
      bench = true),

    // ---- hybrid retrieval: reciprocal-rank fusion of two top-50
    // candidate lists over the embedding-backed docs (doc_id < 2000)
    // — the BM25 lexical ranking (q174's scoring) and the cosine
    // ranking against query vector 0 (q30's exact integer-quantized
    // scoring). RRF score = Σ 1/(60 + rank) in exact nanounits
    // (integer division → bit-reproducible; doubles appear only
    // inside each system's own rounded ranking key). Each list is a
    // per-system top-k (partial top-k merge / broadcast-scored
    // candidates), fused by a tiny rank-keyed outer join: at 100 TB
    // nothing here shuffles more than the two 50-row lists ----------
    "q176_rrf_fusion" -> Q(
      impl = (s, d) => {
        // lexical side: q174's BM25 over the embedding-backed subset.
        // The tokenized slice feeds two branches (corpus stats and the
        // term tf) — persist so the scan + tokenize runs once (r16
        // ratio audit: the per-branch recomputes of 1-row aggregates
        // were q176's floor; bounded at <2000 rows by the filter)
        val docs = PersistLeases.persist(Tables.docsParallel(s, d)
          .filter(col("doc_id") < 2000)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
          .withColumn("len", size(col("t"))))
        val stats = docs.agg(count(lit(1)).as("n"), sum("len").as("sumlen"))
        val tf = docs
          .select(col("doc_id"), col("len"), explode(col("t")).as("tok"))
          .filter(col("tok").isin(DocQueries.Bm25Terms.map(x => x: Any): _*))
          .groupBy("doc_id", "len", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok")
          .agg(count_distinct(col("doc_id")).as("dfreq"))
        val bm = tf.join(broadcast(dfreq), "tok")
          .crossJoin(broadcast(stats))
          .withColumn("avglen", col("sumlen").cast("double") / col("n"))
          .withColumn("idf", log(lit(1.0) +
            (col("n") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)))
          .withColumn("contrib",
            col("idf") * (col("tf") * 2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
          .groupBy("doc_id").agg(round(sum("contrib"), 6).as("bm25"))
        // global top-50: partial top-k merge, then a 50-row window
        val text50 = bm.orderBy(col("bm25").desc, col("doc_id")).limit(ListN)
          .withColumn("rt", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("rt"))
        // vector side: q30's exact quantized cosine vs query vec 0;
        // quantized vectors feed the query-vector lookup AND the scored
        // scan — persist so quantization runs once
        val all = PersistLeases.persist(quantized(s, d))
        val q0 = broadcast(all.filter(col("vec_id") === 0)
          .toDF("q_id", "q_vq", "q_nsq"))
        val scored = all.toDF("n_id", "n_vq", "n_nsq").crossJoin(q0)
          .filter(col("n_id") =!= col("q_id"))
          .withColumn("dot", VecFns.dotQFast(col("q_vq"), col("n_vq")))
          .withColumn("cos",
            VecFns.cosineFromQ(col("dot"), col("q_nsq"), col("n_nsq")))
          .withColumn("cos_r", round(col("cos"), 6))
        val vec50 = scored.orderBy(col("cos_r").desc, col("n_id")).limit(ListN)
          .withColumn("rv", row_number().over(
            Window.orderBy(col("cos_r").desc, col("n_id"))).cast("long"))
          .select(col("n_id").as("doc_id"), col("rv"))
        text50.join(vec50, Seq("doc_id"), "full_outer")
          .withColumn("rrf_nano",
            coalesce(expr(s"1000000000 div (${RrfK} + rt)"), lit(0L)) +
              coalesce(expr(s"1000000000 div (${RrfK} + rv)"), lit(0L)))
          .select(col("doc_id"), col("rt").as("r_text"), col("rv").as("r_vec"),
            col("rrf_nano"))
          .orderBy(col("rrf_nano").desc, col("doc_id"))
          .limit(FuseN)
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents WHERE doc_id < 2000),
        dl AS (SELECT doc_id, len(t) AS len, t FROM d),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(len) AS BIGINT) AS sumlen FROM dl),
        tf AS (SELECT doc_id, len, tok, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, len, unnest(t) AS tok FROM dl)
               WHERE tok IN (${DocQueries.Bm25Terms.map("'" + _ + "'").mkString(",")})
               GROUP BY 1, 2, 3),
        dfr AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq
                FROM tf GROUP BY tok),
        sc AS (SELECT tf.doc_id,
                 ln(1.0 + (st.n - dfr.dfreq + 0.5)/(dfr.dfreq + 0.5))
                   * (tf.tf*2.2) /
                   (tf.tf + 1.2*(0.25 + 0.75*tf.len
                     / (CAST(st.sumlen AS DOUBLE)/st.n))) AS contrib
               FROM tf JOIN dfr USING (tok) CROSS JOIN st),
        bm AS (SELECT doc_id, round(sum(contrib), 6) AS bm25
               FROM sc GROUP BY doc_id),
        t AS (SELECT doc_id, rn AS rt FROM
               (SELECT doc_id, CAST(row_number() OVER (
                  ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rn FROM bm)
              WHERE rn <= $ListN),
        ${quantCtes},
        dots AS (SELECT b.vec_id AS n_id, CAST(sum(a.e*b.e) AS BIGINT) AS dot
                 FROM qv a JOIN qv b ON a.i = b.i
                   AND a.vec_id = 0 AND b.vec_id <> 0 GROUP BY 1),
        cosd AS (SELECT dt.n_id,
                   CAST(dt.dot AS DOUBLE)
                     / (sqrt(CAST(qa.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
                 FROM dots dt
                   JOIN norms qa ON qa.vec_id = 0
                   JOIN norms nb ON nb.vec_id = dt.n_id),
        v AS (SELECT n_id AS doc_id, rn AS rv FROM
               (SELECT n_id, CAST(row_number() OVER (
                  ORDER BY round(cos, 6) DESC, n_id) AS BIGINT) AS rn FROM cosd)
              WHERE rn <= $ListN),
        u AS (SELECT coalesce(t.doc_id, v.doc_id) AS doc_id, t.rt, v.rv
              FROM t FULL OUTER JOIN v ON v.doc_id = t.doc_id)
        SELECT doc_id, rt AS r_text, rv AS r_vec,
               coalesce(1000000000 // ($RrfK + rt), 0)
                 + coalesce(1000000000 // ($RrfK + rv), 0) AS rrf_nano
        FROM u ORDER BY rrf_nano DESC, doc_id LIMIT $FuseN"""),
      bench = true),

    // ---- SemDeDup: k-means cells (the q54 coarse quantizer — seeded
    // sample + fixed-iteration Lloyd's, so training is deterministic),
    // then inside each cell drop every vector that has an EARLIER
    // (lower-id) neighbor at cosine ≥ tau. The deterministic
    // "dominated by an earlier vector" form of the paper's
    // within-cluster pruning: a single self-equi-join on the cell id,
    // exact integer cosines, no iteration. 100 TB shape: candidate
    // pairs are bucketed by cell (k scales with N, keeping ⟨cell⟩ —
    // and so the per-cell quadratic — constant), the join is one hash
    // shuffle on a numerous key, and the verdict per vector is a
    // distinct + left anti semi — no driver state beyond the k×dim
    // centroid table folded into codegen --------------------------
    "q178_semdedup" -> Q(
      impl = (s, d) => {
        val model = Ivf.train(
          Tables.load(s, d, "embeddings"), "embedding", k = SemK)
        val cells = quantized(s, d)
          .withColumn("cell", Ivf.assignCell(col("vq"), model).cast("long"))
        val a = cells.select(col("cell"), col("vec_id").as("a_id"),
          col("vq").as("a_vq"), col("nsq").as("a_nsq"))
        val b = cells.select(col("cell"), col("vec_id").as("b_id"),
          col("vq").as("b_vq"), col("nsq").as("b_nsq"))
        val dropped = a.join(b, "cell")
          .filter(col("a_id") < col("b_id"))
          .filter(VecFns.cosineFromQ(
            VecFns.dotQFast(col("a_vq"), col("b_vq")),
            col("a_nsq"), col("b_nsq")) >= lit(TauMicro) / lit(1000000.0))
          .select(col("b_id")).distinct()
        cells.join(dropped, cells("vec_id") === dropped("b_id"), "left")
          .select(col("cell"), col("vec_id"), col("b_id").isNotNull.as("drp"))
          .groupBy("cell")
          .agg(
            count(lit(1)).as("n_vecs"),
            sum(when(col("drp"), 1L).otherwise(0L)).as("n_dropped"),
            md5(array_join(
              transform(array_sort(collect_list(when(!col("drp"), col("vec_id")))),
                x => x.cast("string")),
              ",")).as("kept_hash"))
          .orderBy("cell")
      },
      oracle = None,
      oracleGen = Some((s, d) => AnnOracles.semDedupOracle(
        Ivf.train(Tables.load(s, d, "embeddings"), "embedding", k = SemK),
        TauMicro)),
      bench = true)
  )
}
