package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.core.Staging
import graft.sources.Tables

/** The similarity family: vector search, clustering and retrieval, through
  * [[graft.ext.Similarity]] and [[graft.ext.Retrieval]].
  */
object SimilarityQueries {

  val all: Seq[Query] = Seq(
    Query("q33_knn_brute", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      ext.Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 5), 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 3).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    },
      // embeddings cast FLOAT[]→DOUBLE[] so DuckDB's cosine runs in the same
      // double precision as Similarity.cosine (float32 rounds 0.24 to
      // 0.2399999…, which survives round(,3) as a value diff)
      Oracle("""SELECT query_id, neighbor_id, rank, cos FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |               CAST(b.embedding AS DOUBLE[])) DESC,
        |               b.vec_id) AS BIGINT) AS rank,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])), 3) AS cos
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // planes=4 is a FLOOR, not the bucket count: the default
    // targetBucketRows/maxBucketRows guards make the effective plane
    // count corpus-adaptive and cap per-bucket occupancy, so the
    // band-bucket self-join's candidate budget stays O(corpus) as the
    // corpus outgrows 16 buckets (the round-14 `weak` finding: 290 s
    // at the 100x rung from a quadratic pair budget at fixed planes=4)
    Query("q34_lsh_neighbors", (s, dir) =>
      ext.Similarity.lshNearNeighbors(t(s, dir, "embeddings"),
          threshold = 0.3, planes = 4)
        .orderBy(col("id_a"), col("id_b")),
      RowsOnly(Seq("LshRecallSpec", "LshRecallAtScaleSpec"))),

    Query("q38_ivf_assign", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      ext.Similarity.ivfAssign(emb, centroids)
        .select(col("vec_id"), col("centroid_id"))
        .orderBy(col("vec_id"))
    },
      Oracle("""SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.vec_id AS centroid_id,
        |    CAST(row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC,
        |               c.vec_id) AS BIGINT) AS rn
        |  FROM embeddings e JOIN embeddings c ON c.vec_id < 8)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // one Lloyd's k-means iteration (the IVF centroid builder): assign
    // via broadcast argmax-cosine, recompute element-wise means. Output
    // is a scalar signature of each new centroid (dim-0 + L2 norm), so
    // the full mean vector is oracle-checked without array compares
    Query("q60_kmeans_step", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      ext.Similarity.kmeansStep(emb, centroids)
        .select(col("centroid_id"), col("n_members"),
          round(element_at(col("centroid"), 1) + lit(1e-9), 4).as("c0"),
          round(sqrt(aggregate(col("centroid"), lit(0.0),
            (a, x) => a + x * x)) + lit(1e-9), 4).as("cnorm"))
        .orderBy(col("centroid_id"))
    },
      // assignment CTE is q38's proven argmax; per-dim means via a lateral
      // index series over the member vectors
      Oracle("""WITH cent AS (SELECT vec_id AS centroid_id,
        |                     CAST(embedding AS DOUBLE[]) AS centroid
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |               c.centroid) DESC, c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |mem AS (SELECT a.centroid_id, e.embedding
        |        FROM asg a JOIN embeddings e USING (vec_id)),
        |dims AS (SELECT centroid_id, i.pos,
        |                avg(CAST(embedding[i.pos] AS DOUBLE)) AS m
        |         FROM mem, LATERAL (SELECT unnest(generate_series(1,
        |                len(embedding))) AS pos) i
        |         GROUP BY 1, 2),
        |sums AS (SELECT centroid_id, sqrt(sum(m*m)) AS cnorm,
        |                max(CASE WHEN pos = 1 THEN m END) AS c0
        |         FROM dims GROUP BY 1),
        |cnt AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members
        |        FROM asg GROUP BY 1)
        |SELECT s.centroid_id, c.n_members, round(s.c0 + 1e-9, 4) AS c0,
        |       round(s.cnorm + 1e-9, 4) AS cnorm
        |FROM sums s JOIN cnt c USING (centroid_id)
        |ORDER BY centroid_id""".stripMargin)),

    // the ITERATED centroid builder (Similarity.kmeans, two Lloyd rounds
    // from the q60 seeds): each round is fully distributed, only the
    // k-row centroid frame crosses iterations. Oracle unrolls both
    // rounds in SQL; output is the q60-style scalar signature (dim-0 +
    // L2 norm) so the full mean vectors are hash-checked without array
    // compares
    Query("q65_kmeans_converged", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      ext.Similarity.kmeans(emb, seeds, maxIter = 2, eps = 0.0)
        .select(col("centroid_id"),
          round(element_at(col("centroid"), 1) + lit(1e-9), 4).as("c0"),
          round(sqrt(aggregate(col("centroid"), lit(0.0),
            (a, x) => a + x * x)) + lit(1e-9), 4).as("cnorm"))
        .orderBy(col("centroid_id"))
    },
      // q60's assignment/mean CTEs unrolled TWICE: cent1 rebuilds arrays
      // from the per-dim means (list ORDER BY pos), asg2 re-runs the
      // argmax against cent1, dims2 yields the round-2 means
      Oracle("""WITH cent0 AS (SELECT vec_id AS centroid_id,
        |                      CAST(embedding AS DOUBLE[]) AS centroid
        |               FROM embeddings WHERE vec_id < 8),
        |asg1 AS (SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |               c.centroid) DESC, c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN cent0 c) WHERE rn = 1),
        |dims1 AS (SELECT a.centroid_id, i.pos,
        |                 avg(CAST(e.embedding[i.pos] AS DOUBLE)) AS m
        |          FROM asg1 a JOIN embeddings e USING (vec_id),
        |               LATERAL (SELECT unnest(generate_series(1,
        |                 len(e.embedding))) AS pos) i
        |          GROUP BY 1, 2),
        |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS centroid
        |          FROM dims1 GROUP BY 1),
        |asg2 AS (SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |               c.centroid) DESC, c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN cent1 c) WHERE rn = 1),
        |dims2 AS (SELECT a.centroid_id, i.pos,
        |                 avg(CAST(e.embedding[i.pos] AS DOUBLE)) AS m
        |          FROM asg2 a JOIN embeddings e USING (vec_id),
        |               LATERAL (SELECT unnest(generate_series(1,
        |                 len(e.embedding))) AS pos) i
        |          GROUP BY 1, 2)
        |SELECT centroid_id,
        |       round(max(CASE WHEN pos = 1 THEN m END) + 1e-9, 4) AS c0,
        |       round(sqrt(sum(m*m)) + 1e-9, 4) AS cnorm
        |FROM dims2 GROUP BY 1 ORDER BY centroid_id""".stripMargin)),

    // IVF probe search: exact top-k within probed cells → deterministic,
    // so oracle-checked unlike sampling ANN
    Query("q47_ivf_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      ext.Similarity.ivfSearch(emb, centroids, emb.filter(col("vec_id") < 5),
          nprobe = 2, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("pair_cos"), 3).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    },
      // every cosine runs on DOUBLE[] so ordering matches Spark's
      // double-precision ranks (float32 near-ties could flip ranks)
      Oracle("""WITH cent AS (SELECT vec_id AS centroid_id,
        |                     CAST(embedding AS DOUBLE[]) AS centroid
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |               c.centroid) DESC, c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |probe AS (SELECT vec_id AS query_id, centroid_id FROM (
        |  SELECT q.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |               c.centroid) DESC, c.centroid_id) AS rn
        |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
        |  WHERE rn <= 2),
        |cand AS (SELECT p.query_id, a.neighbor_id
        |         FROM probe p JOIN asg a USING (centroid_id)
        |         WHERE a.neighbor_id <> p.query_id)
        |SELECT query_id, neighbor_id, rank, cos FROM (
        |  SELECT c.query_id, c.neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |               CAST(ne.embedding AS DOUBLE[])) DESC,
        |               c.neighbor_id) AS BIGINT) AS rank,
        |    round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |          CAST(ne.embedding AS DOUBLE[])), 3) AS cos
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.query_id
        |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // kNN label-vote evaluation: 5-NN majority vote over the embedding
    // corpus vs the true label, per-label accuracy — the
    // neighborhood-consistency eval next to q244's centroid classifier
    // (centroids test linear separability, kNN tests local structure).
    // The query side is a DETERMINISTIC 10% sample (vec_id % 10): an
    // all-vectors eval is a corpus², and the audit needs a sample, not
    // the product — cost stays |corpus|·|sample|, linear in the corpus.
    // Cosines rounded 6dp BEFORE the k-bounded ranking so both engines
    // rank identical values; the vote argmax ties break label-ascending
    Query("q267_knn_label_accuracy", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("_qid"),
          col("embedding").as("_qv"), col("label").as("_qlab"))
      // fanOutForMapWork (r17, guide §2.5): 400k broadcast-pair cosines
      // + the k-bounded aggregator all run in the corpus scan stage —
      // single-task on the one-row-group embeddings table
      val c = Tables.fanOutForMapWork(
        emb.select(col("vec_id").as("_cid"),
          col("embedding").as("_cv"), col("label").as("_clab")))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("_cid") =!= col("_qid"))
        .select(col("_qid"), col("_qlab"), col("_cid"), col("_clab"),
          round(ext.Similarity.cosine(col("_qv"), col("_cv")), 6)
            .as("_cos"))
      val top = operators.Relational.topKPerGroupAgg(scored, k = 5,
          groupCols = Seq("_qid", "_qlab"), score = col("_cos"),
          id = col("_cid"), scoreName = "_s", idName = "_cid")
        .join(c.select(col("_cid"), col("_clab")), Seq("_cid"))
      val w = Window.partitionBy(col("_qid"))
        .orderBy(col("_cnt").desc, col("_clab"))
      top.groupBy(col("_qid"), col("_qlab"), col("_clab"))
        .agg(count(lit(1)).as("_cnt"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .groupBy(col("_qlab").as("label"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("_clab") === col("_qlab"), 1L).otherwise(0L))
            .as("n_correct"),
          round(avg(when(col("_clab") === col("_qlab"), 1.0)
            .otherwise(0.0)) + lit(1e-9), 4).as("accuracy"))
        .orderBy(col("label"))
    },
      // same 6dp cosines, rank-5 vote, label-ascending argmax
      Oracle("""WITH ex AS (SELECT vec_id, pos - 1 AS pos,
        |    CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS pos
        |    FROM embeddings) u),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nm
        |  FROM ex GROUP BY 1),
        |dot AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    sum(a.v * b.v) AS d
        |  FROM ex a JOIN ex b ON a.pos = b.pos
        |    AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id % 10 = 0
        |  GROUP BY 1, 2),
        |cos AS (SELECT qid, cid,
        |    round(d / (na.nm * nb.nm), 6) AS c
        |  FROM dot JOIN nrm na ON na.vec_id = qid
        |  JOIN nrm nb ON nb.vec_id = cid),
        |rk AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |    ORDER BY c DESC, cid) AS rk FROM cos),
        |votes AS (SELECT t.qid, e.label AS clab, count(*) AS cnt
        |  FROM rk t JOIN embeddings e ON e.vec_id = t.cid
        |  WHERE t.rk <= 5 GROUP BY 1, 2),
        |pred AS (SELECT v.qid, v.clab, row_number() OVER (
        |    PARTITION BY v.qid ORDER BY v.cnt DESC, v.clab) AS r
        |  FROM votes v)
        |SELECT e.label, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN p.clab = e.label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(avg(CASE WHEN p.clab = e.label THEN 1.0 ELSE 0.0 END)
        |    + 1e-9, 4) AS accuracy
        |FROM pred p JOIN embeddings e ON e.vec_id = p.qid
        |WHERE p.r = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sign-LSH on ENGINE-PORTABLE md5 plane signs, fully oracled — the
    // last LSH family member without an oracled twin (q294 ALS, q295
    // MinHash, q296 SimHash; VERDICT r13 #4): the shipped q34 keys on
    // xxhash64 Rademacher planes, so only its math twin is
    // DuckDB-replayable. Identical algebra to Similarity.
    // signLshSignature — bit p = sign of ⟨vec, r_p⟩, banded bucketing,
    // Hamming verify — with two portability moves: (a) plane signs
    // from md5("p:d") hex parity; (b) vectors QUANTIZED to integers
    // (floor(x·1000 + 0.5)) so the projection sums are exact — a float
    // vote sum near zero could flip sign between engines' summation
    // orders, and `floor` dodges round-half-mode drift entirely.
    // Corpus = embeddings stratum vec_id < 1000 (q296's slice
    // contract: the twin certifies math identity; the full-corpus
    // scale shape is the shipped q34/q66's, under the package audits)
    // + 50 planted copies at +100000 with an integer perturbation
    // ((d·7)%19 − 9 ≈ ±2% of the ~±400 quantized components), which
    // land at sig-Hamming ≈ 0: the output is exactly the planted
    // near-dup structure plus any ambient near-agreeing pairs. 32
    // planes / 4 disjoint 8-bit blocks: pigeonhole-exhaustive at
    // Hamming ≤ 3, and random pairs sit at expected Hamming 16 with
    // P(≤3) ≈ 1.3e-6 — bucket-join candidates stay block-local, never
    // corpus². Sig frame STAGED corpus-keyed like q295/q296 (the
    // 32-sum md5 sweep bills once per corpus snapshot).
    Query("q297_signlsh_oracled", (s, dir) => {
      val sigs = Staging.frame(s, dir, "embeddings", "q297sig") {
        q297SigInput(t(s, dir, "embeddings"))
      }
      ext.Dedup.hammingPairs(sigs, "vec_id", Seq("sig"), bits = 32,
          blocks = 4, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the identical sign-LSH algebra on md5 plane signs: quantize
      // (floor(x·1000 + 0.5) — bit-exact in both engines, no round-half
      // mode), per-plane signed integer vote sums, 32-bit sig, exact
      // 8-bit-block agreement candidates (pigeonhole-exhaustive at
      // Hamming ≤ 3), bit_count(xor) verify. Corpus stratum vec_id <
      // 1000 + 50 integer-perturbed copies at +100000 matches the Spark
      // side; DISTINCT replaces the first-agreeing-block map-side dedup
      // (same pair set)
      Oracle {
        val signCase = (p: Int) =>
          s"CASE WHEN ('0x' || substring(md5('$p:' || d::VARCHAR), 1, 1))" +
            s"::BIGINT % 2 = 1 THEN 1 ELSE -1 END"
        val voteSums = (0 until 32).map(p =>
          s"sum(q * ${signCase(p)}) AS s$p").mkString(",\n    ")
        val sigExpr = (0 until 32).map(p =>
          s"(CASE WHEN s$p > 0 THEN ${1L << p} ELSE 0 END)").mkString(" + ")
        s"""WITH qrows AS (
          |  SELECT vec_id, d1 - 1 AS d,
          |    CAST(floor(CAST(embedding[d1] AS DOUBLE) * 1000 + 0.5)
          |      AS BIGINT) AS q
          |  FROM (SELECT vec_id, embedding,
          |      unnest(generate_series(1, len(embedding))) AS d1
          |    FROM embeddings WHERE vec_id < 1000) u),
          |corpus AS (
          |  SELECT vec_id, d, q FROM qrows
          |  UNION ALL
          |  SELECT vec_id + 100000, d, q + (d * 7) % 19 - 9
          |  FROM qrows WHERE vec_id < 50),
          |votes AS (SELECT vec_id,
          |    $voteSums
          |  FROM corpus GROUP BY vec_id),
          |sigs AS (SELECT vec_id, CAST($sigExpr AS BIGINT) AS sig
          |  FROM votes),
          |bnd AS (SELECT vec_id, sig, b, (sig >> (8 * b)) & 255 AS bucket
          |  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b) g),
          |cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
          |    bit_count(xor(a.sig, c.sig)) AS hamming
          |  FROM bnd a JOIN bnd c
          |    ON a.b = c.b AND a.bucket = c.bucket AND a.vec_id < c.vec_id
          |  WHERE bit_count(xor(a.sig, c.sig)) <= 3)
          |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
          |FROM cand ORDER BY id_a, id_b""".stripMargin
      }),

    // BM25 ranked retrieval: per-term tf is a map-side fold over the
    // staged token array (terms are literal — no (doc,term) explode, no
    // term-keyed shuffle), corpus stats (N, avgdl, df) are ONE
    // single-row aggregate broadcast back, ranking is a global top-k
    Query("q77_bm25_search", (s, dir) =>
      ext.Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "vector", "customer", "merge"), k = 10),
      // BM25 with the +1 idf floor; constants are written as the same
      // IEEE expressions the Spark side evaluates ((1.2 + 1), (1 - 0.75))
      // so both engines derive bit-identical doubles before the 4-dp
      // rounding; tf/len/df/avgdl are integer-valued doubles (exact)
      Oracle("""WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |m AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len,
        |    CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(t, x -> x = 'customer')) AS DOUBLE) AS tf2,
        |    CAST(len(list_filter(t, x -> x = 'merge')) AS DOUBLE) AS tf3
        |  FROM d),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS df3
        |  FROM m)
        |SELECT doc_id, round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * (1.2 + 1))
        |      / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * (1.2 + 1))
        |      / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * (1.2 + 1))
        |      / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + ln((n - df3 + 0.5) / (df3 + 0.5) + 1) * (tf3 * (1.2 + 1))
        |      / (tf3 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + 1e-9, 4) AS score
        |FROM m, s ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // hybrid lexical+dense retrieval, reciprocal-rank fusion: BM25
    // candidates + embedding-cosine candidates (query = doc 0's vector,
    // excluded from its own dense list) fused on RANK only — each
    // retriever ends in a k-bounded top-k, so fusion joins 2×50 rows,
    // never the corpus (two corpus scans total, both map-side folds)
    Query("q122_hybrid_rrf", (s, dir) => {
      val qv = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      ext.Retrieval.hybridRrf(t(s, dir, "documents"),
          t(s, dir, "embeddings").filter(col("vec_id") =!= 0), qv,
          "doc_id", "text", "vec_id", "embedding",
          terms = Seq("spark", "vector", "customer", "merge"),
          candidates = 50, k = 10)
        .orderBy(col("rrf").desc, col("doc_id"))
    },
      // q77's BM25 CTEs cut to 50 with ranks, a dense cosine-vs-doc-0 list
      // (q33's DOUBLE[] cast), full-outer fused on 1/(60+rank); 6 dp —
      // adjacent deep ranks differ by ~8e-5, inside 4-dp aliasing
      Oracle("""WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |m AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len,
        |    CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(t, x -> x = 'customer')) AS DOUBLE) AS tf2,
        |    CAST(len(list_filter(t, x -> x = 'merge')) AS DOUBLE) AS tf3
        |  FROM d),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS df3
        |  FROM m),
        |sc AS (SELECT doc_id, round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * (1.2 + 1))
        |      / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * (1.2 + 1))
        |      / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * (1.2 + 1))
        |      / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + ln((n - df3 + 0.5) / (df3 + 0.5) + 1) * (tf3 * (1.2 + 1))
        |      / (tf3 + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
        |  + 1e-9, 4) AS score FROM m, s),
        |lex AS (SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM (SELECT doc_id, score FROM sc
        |        ORDER BY score DESC, doc_id LIMIT 50)),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 0),
        |den0 AS (SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> 0
        |  ORDER BY cos DESC, e.vec_id LIMIT 50),
        |den AS (SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rank FROM den0)
        |SELECT doc_id, lex_rank, dense_rank, rrf FROM (
        |  SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id, l.lex_rank,
        |    de.dense_rank,
        |    round(COALESCE(1.0 / (60.0 + l.lex_rank), 0.0)
        |        + COALESCE(1.0 / (60.0 + de.dense_rank), 0.0)
        |        + 1e-9, 6) AS rrf
        |  FROM lex l FULL OUTER JOIN den de ON l.doc_id = de.doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // MMR diversified top-5 from the 20 nearest neighbors of doc 0's
    // vector: greedy λ·relevance − (1−λ)·max-redundancy selection —
    // corpus-sized work is ONE k-bounded candidate cut; the greedy loop
    // runs on candidates² driver-side doubles (parameter-bounded, the
    // documented k×dim class)
    Query("q124_mmr_diverse", (s, dir) => {
      val qv = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      ext.Similarity.mmrSelect(
          t(s, dir, "embeddings").filter(col("vec_id") =!= 0), qv,
          lambdaRel = 0.7, candidates = 20, select = 5)
        .select(col("rank"), col("vec_id"),
          (round(col("mmr") + lit(1e-9), 4) + lit(0.0)).as("mmr"))
        .orderBy(col("rank"))
    },
      // greedy MMR unrolled as 5 chained argmax CTEs (LIMIT 1 each, id
      // tie-break); sims in DOUBLE[] precision (q33), penalty = max over
      // the selected set; (1 - 0.7) spelled out so both engines derive
      // the identical IEEE 0.30000000000000004
      Oracle("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 0),
        |cand AS (SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS simq
        |  FROM embeddings e, q WHERE e.vec_id <> 0
        |  ORDER BY simq DESC, e.vec_id LIMIT 20),
        |p1 AS (SELECT id, v, 0.7 * simq - (1 - 0.7) * 0.0 AS mmr
        |  FROM cand ORDER BY mmr DESC, id LIMIT 1),
        |s1 AS (SELECT id, v FROM p1),
        |p2 AS (SELECT c.id, c.v, 0.7 * c.simq - (1 - 0.7) *
        |    (SELECT max(list_cosine_similarity(c.v, p.v)) FROM s1 p) AS mmr
        |  FROM cand c WHERE c.id NOT IN (SELECT id FROM s1)
        |  ORDER BY mmr DESC, c.id LIMIT 1),
        |s2 AS (SELECT id, v FROM s1 UNION ALL SELECT id, v FROM p2),
        |p3 AS (SELECT c.id, c.v, 0.7 * c.simq - (1 - 0.7) *
        |    (SELECT max(list_cosine_similarity(c.v, p.v)) FROM s2 p) AS mmr
        |  FROM cand c WHERE c.id NOT IN (SELECT id FROM s2)
        |  ORDER BY mmr DESC, c.id LIMIT 1),
        |s3 AS (SELECT id, v FROM s2 UNION ALL SELECT id, v FROM p3),
        |p4 AS (SELECT c.id, c.v, 0.7 * c.simq - (1 - 0.7) *
        |    (SELECT max(list_cosine_similarity(c.v, p.v)) FROM s3 p) AS mmr
        |  FROM cand c WHERE c.id NOT IN (SELECT id FROM s3)
        |  ORDER BY mmr DESC, c.id LIMIT 1),
        |s4 AS (SELECT id, v FROM s3 UNION ALL SELECT id, v FROM p4),
        |p5 AS (SELECT c.id, c.v, 0.7 * c.simq - (1 - 0.7) *
        |    (SELECT max(list_cosine_similarity(c.v, p.v)) FROM s4 p) AS mmr
        |  FROM cand c WHERE c.id NOT IN (SELECT id FROM s4)
        |  ORDER BY mmr DESC, c.id LIMIT 1)
        |SELECT CAST(rank AS BIGINT) AS rank, id AS vec_id,
        |  round(mmr + 1e-9, 4) + 0.0 AS mmr
        |FROM (SELECT 1 AS rank, id, mmr FROM p1
        |  UNION ALL SELECT 2, id, mmr FROM p2
        |  UNION ALL SELECT 3, id, mmr FROM p3
        |  UNION ALL SELECT 4, id, mmr FROM p4
        |  UNION ALL SELECT 5, id, mmr FROM p5)
        |ORDER BY rank""".stripMargin)),

    // offline ranking-quality report: P@10 / MRR / NDCG@10 of the
    // dense retriever (q33's kNN) against the embeddings' class
    // labels — metric math runs on the ALREADY k-bounded ranked
    // frame, so the retriever stays the only corpus-sized stage
    Query("q126_retrieval_eval", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lbl = emb.select(col("vec_id"), col("label"))
      val ranked = ext.Similarity
        .bruteForceKnn(emb, emb.filter(col("vec_id") < 5), 10)
        .join(lbl.select(col("vec_id").as("query_id"),
          col("label").as("_ql")), "query_id")
        .join(lbl.select(col("vec_id").as("neighbor_id"),
          col("label").as("_nl")), "neighbor_id")
        .withColumn("rel", (col("_ql") === col("_nl")).cast("long"))
      ext.Retrieval.rankingMetrics(ranked, "query_id", "rank", "rel",
          k = 10)
        .orderBy(col("query_id"))
    },
      // q33's ranked kNN joined against labels; p@k and MRR are exact
      // rationals, DCG/IDCG go through log2 (written ln/ln to mirror the
      // op structure) and round at 4 dp — sum order is engine-dependent
      Oracle("""WITH r AS (SELECT query_id, neighbor_id, rank FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      CAST(row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                 CAST(b.embedding AS DOUBLE[])) DESC,
        |                 b.vec_id) AS BIGINT) AS rank
        |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |    WHERE a.vec_id < 5) WHERE rank <= 10),
        |j AS (SELECT r.query_id, r.rank,
        |    CAST(ql.label = nl.label AS BIGINT) AS rel
        |  FROM r JOIN embeddings ql ON ql.vec_id = r.query_id
        |         JOIN embeddings nl ON nl.vec_id = r.neighbor_id),
        |a AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
        |    sum(rel) / 10.0 AS p_at_k,
        |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
        |    sum(CASE WHEN rel = 1
        |        THEN 1.0 / (ln(rank + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg
        |  FROM j GROUP BY query_id)
        |SELECT query_id, n_rel, p_at_k,
        |  COALESCE(1.0 / first_rel, 0.0) AS mrr,
        |  CASE WHEN n_rel = 0 THEN 0.0 ELSE
        |    round(dcg / list_sum(list_transform(
        |      generate_series(1, n_rel),
        |      i -> 1.0 / (ln(i + 1.0) / ln(2.0)))) + 1e-9, 4)
        |  END AS ndcg
        |FROM a ORDER BY query_id""".stripMargin)),

    // int8 scalar-quantized top-k — PQ's training-light sibling (q85):
    // per-dim min/max bounds, uint8 codes (exact integers both
    // engines), symmetric INTEGER dot ranking. The code stream is ¼
    // the bytes of float32; ranking is the k-bounded aggregate
    Query("q137_sq_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = ext.Similarity.sqTrain(emb)
      ext.Similarity.sqSearch(emb, model, emb.filter(col("vec_id") < 5),
          k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // per-dim bounds via lateral range over the double-cast list; codes
      // are the identical fixed chain ((v-lo)/range*255, HALF_UP round,
      // clamp) → exact integers; ranking by INTEGER dot, ties by id
      Oracle("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings),
        |x AS (SELECT vec_id, generate_subscripts(v, 1) AS i,
        |    unnest(v) AS val FROM e),
        |d AS (SELECT i, min(val) AS lo, max(val) AS hi FROM x GROUP BY i),
        |c AS (SELECT vec_id, x.i,
        |    CASE WHEN hi = lo THEN 0 ELSE CAST(least(greatest(
        |      round((val - lo) / (hi - lo) * 255), 0), 255) AS BIGINT)
        |    END AS code
        |  FROM x JOIN d USING (i)),
        |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(sum(a.code * b.code) AS BIGINT) AS qdot
        |  FROM c a JOIN c b USING (i)
        |  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rank, qdot FROM (
        |  SELECT query_id, neighbor_id, qdot,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM s)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // calibration/reliability bins — q126's companion eval: predicted
    // per-user click share (an exact count ratio → deterministic bin
    // edges) vs observed purchase rate, 10 equal-width bins
    Query("q138_calibration", (s, dir) => {
      val perUser = t(s, dir, "events").groupBy(col("user_id")).agg(
        (sum(when(col("event_type") === "click", 1).otherwise(0))
          / count(lit(1))).as("pred"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("label"))
      ext.Retrieval.calibrationBins(perUser, "pred", "label", bins = 10)
        .orderBy(col("bin"))
    },
      // pred is the exact rational clicks/n → floor(pred*10) is
      // deterministic both engines; bin means round at 4 dp
      Oracle("""WITH u AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      / CAST(count(*) AS DOUBLE) AS pred,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS label
        |  FROM events GROUP BY user_id)
        |SELECT CAST(least(floor(pred * 10), 9) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(avg(pred) + 1e-9, 4) AS avg_pred,
        |  round(avg(CAST(label AS DOUBLE)) + 1e-9, 4) AS obs_rate,
        |  round(abs(avg(pred) - avg(CAST(label AS DOUBLE))) + 1e-9, 4)
        |    AS abs_gap
        |FROM u GROUP BY 1 ORDER BY bin""".stripMargin)),

    // the full ANN architecture: IVF cells pick WHICH codes to scan,
    // PQ codes shrink WHAT a scan reads, exact re-rank restores true
    // cosines. Rows-only like q85 (k-means codebook); SimilaritySpec
    // pins nprobe=|cells| ≡ pqSearch and recall vs brute force
    Query("q95_ivfpq_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid"))
      // m=8/maxIter=5/rerank=200 (was 4/1/50): the round-10 bench-scale
      // recall measurement (PqRecallAtScaleSpec) put the old codebook at
      // 0.37 recall@10 vs IVF-exact at sf0.1 — a fixture-scale-only
      // contract. The stronger quantizer + deeper exact re-rank reach
      // 0.93; training stays one-time staged setup and rerank is a
      // FIXED per-query candidate budget, corpus-size-independent
      val model = pqTrainStaged(s, dir, m = 8, k = 16, maxIter = 5)
      ext.Similarity.ivfPqSearch(emb, centroids, model,
          emb.filter(col("vec_id") < 5), nprobe = 3, k = 10, rerank = 200)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 3).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    },
      RowsOnly(Seq("SimilaritySpec", "PqRecallAtScaleSpec"))),

    // product-quantization ANN: train per-subspace codebooks (m=4×16
    // codes over dim 64), ADC-score the compressed code stream, exact
    // re-rank of the top-50. Rows-only (iterated k-means codebook);
    // SimilaritySpec pins recall@10 vs bruteForceKnn
    Query("q85_pq_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // m=8/maxIter=5/rerank=200 (was 4/1/50): bench-scale recall@10 vs
      // brute force was 0.24 with the old codebook (PqRecallAtScaleSpec,
      // the round-10 find); now 0.75. See q95's note
      val model = pqTrainStaged(s, dir, m = 8, k = 16, maxIter = 5)
      ext.Similarity.pqSearch(emb, model, emb.filter(col("vec_id") < 5),
          k = 10, rerank = 200)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 3).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    },
      RowsOnly(Seq("SimilaritySpec", "PqRecallAtScaleSpec")))
  )
}
