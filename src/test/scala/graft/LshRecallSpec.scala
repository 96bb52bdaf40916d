package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.functions.{ShingleHashes, SimHash64}

/** Recall of the LSH-based near-dup/near-neighbor operators, measured at
  * the SHIPPED q30/q31/q34 parameters over the same constructed positives
  * the queries run on (`SparkEntry.withNearDups`: 50 truncated copies at
  * doc_id+100000). Truth sets are computed exactly (no LSH), so these
  * numbers are real recall, not self-confirmation:
  *
  *  - MinHash (16 hashes, 4 bands): probabilistic banding; recall over
  *    pairs with true Jaccard ≥ 0.5 asserted ≥ 0.8 (analytically ≥ 0.97
  *    for the ≥ 0.875-Jaccard truncation pairs).
  *  - SimHash (16-bit blocks, maxHamming 3): the blocking is EXHAUSTIVE
  *    for Hamming ≤ 3 (pigeonhole over 4 blocks) — recall must be 1.0.
  *  - Sign-LSH (4 planes): recall over perturbed embedding copies; a
  *    bucket miss needs a plane projection to flip sign under a ~1%
  *    perturbation, so recall ≥ 0.8 with margin.
  */
class LshRecallSpec extends SparkTestBase {

  private lazy val corpus: DataFrame = SparkEntry.withNearDups(spark, sf)

  /** The 50 constructed (original, truncated-copy) pairs with exact
    * per-pair shingle-hash Jaccard and SimHash Hamming distance.
    */
  private lazy val constructedPairs: DataFrame = {
    val sigs = corpus.select(col("doc_id"),
      ShingleHashes(col("text"), 3).as("sh"),
      SimHash64(col("text")).as("sig"))
    val orig = sigs.select(col("doc_id").as("id_a"),
      col("sh").as("sh_a"), col("sig").as("sig_a"))
    val copy = sigs.filter(col("doc_id") >= 100000)
      .select((col("doc_id") - 100000).as("id_a"), col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("sig").as("sig_b"))
    orig.join(copy, "id_a")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .select("id_a", "id_b", "jaccard", "hamming")
      .cache()
  }

  test("q30 path: MinHash LSH recall >= 0.8 over true-Jaccard>=0.5 positives") {
    val truth = constructedPairs.filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b")
    val nTruth = truth.count()
    assert(nTruth >= 25L, s"vacuous truth set ($nTruth pairs)")
    val found = Dedup.minhashNearDups(corpus, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b")
    val hits = truth.join(found, Seq("id_a", "id_b"), "left_semi").count()
    val recall = hits.toDouble / nTruth
    info(f"minhash recall: $hits/$nTruth = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f < 0.8")
  }

  test("q295 path: portable md5-minhash recall >= 0.8 over the same " +
    "true-Jaccard>=0.5 positives") {
    // the oracle-checked md5 twin must find the constructed positives
    // at least as reliably as the shipped xxhash64 path — same banding
    // geometry, same threshold, independent hash family
    val truth = constructedPairs.filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b")
    val nTruth = truth.count()
    assert(nTruth >= 25L, s"vacuous truth set ($nTruth pairs)")
    val found = Dedup.minhashPairsFromSigs(
        Dedup.minhashPortableSigs(corpus, "doc_id", "text"), "doc_id",
        threshold = 0.5).select("id_a", "id_b")
    val hits = truth.join(found, Seq("id_a", "id_b"), "left_semi").count()
    val recall = hits.toDouble / nTruth
    info(f"portable minhash recall: $hits/$nTruth = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f < 0.8")
  }

  test("q31 path: SimHash blocking recall == 1.0 over Hamming<=3 positives") {
    val truth = constructedPairs.filter(col("hamming") <= 3)
      .select("id_a", "id_b")
    val nTruth = truth.count()
    assert(nTruth >= 10L, s"vacuous truth set ($nTruth pairs)")
    val found = Dedup.simhashNearDups(corpus, "doc_id", "text",
      maxHamming = 3).select("id_a", "id_b")
    val hits = truth.join(found, Seq("id_a", "id_b"), "left_semi").count()
    info(s"simhash recall: $hits/$nTruth")
    assert(hits === nTruth,
      s"Hamming<=3 blocking must be exhaustive; missed ${nTruth - hits}")
  }

  test("banded sign-LSH raises recall over single-band at equal plane count") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // larger perturbation (~5%) so single-band recall has headroom to lose
    val perturbed = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => (x.cast("double") +
            (xxhash64(i) % 100).cast("double") / 2000.0).cast("float"))
          .as("embedding"))
    val withCopies = emb.union(perturbed)
    def recall(bands: Int): Long =
      graft.ext.Similarity.lshNearNeighbors(withCopies,
          threshold = 0.3, planes = 8, bands = bands)
        .filter(col("id_b") === col("id_a") + 100000 && col("id_a") < 50)
        .count()
    val single = recall(1)
    val banded = recall(4)
    info(s"8-plane recall: 1 band $single/50, 4 bands $banded/50")
    assert(banded >= single, s"banding lowered recall: $banded < $single")
    assert(banded >= 45L, s"4x8 banding should be near-exhaustive: $banded/50")
  }

  test("q34 path: sign-LSH recall >= 0.8 over perturbed embedding copies") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // deterministic ~1%-scale perturbation (values are ~±0.4): cosine with
    // the original stays ≈1, far above the 0.3 threshold — every copy is a
    // true near-neighbor of its source
    val perturbed = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => (x.cast("double") +
            (xxhash64(i) % 100).cast("double") / 10000.0).cast("float"))
          .as("embedding"))
    val withCopies = emb.union(perturbed)
    val found = Similarity.lshNearNeighbors(withCopies,
        threshold = 0.3, planes = 4)
      .filter(col("id_b") === col("id_a") + 100000 && col("id_a") < 50)
    val hits = found.count()
    val recall = hits / 50.0
    info(f"sign-LSH recall: $hits/50 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f < 0.8")
  }
}
