package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as
  * a shuffle plan that survives 100 TB:
  *
  *  - exact:      hash-groupBy on a content digest (one shuffle on the
  *                digest — uniform keys, no skew)
  *  - banded LSH: every signature path — MinHash (q30/q63 and the md5
  *                twin q295), SimHash and the bit-signature twins
  *                ([[hammingPairs]]), sign-LSH
  *                ([[Similarity.lshNearNeighbors]]) and embedding cells
  *                ([[embeddingNearDups]]) — computes per-band bucket keys
  *                map-side and pairs through ONE operator,
  *                [[bandPairs]]: one (band, bucket) self-join, each pair
  *                kept once at its first agreeing band, then verified
  *                (shingle Jaccard, signature agreement, Hamming,
  *                cosine). Bucket-local, never all-pairs.
  *  - n-gram Jaccard / containment / shared spans: inverted index —
  *                postings shuffled once on a 64-bit posting key, then
  *                capped and paired in one streaming pass
  *                ([[graft.plans.PostingPairs]]), never all-pairs
  */
object Dedup {

  /** Exact dedup: keep the smallest id per content digest. Deterministic
    * (unlike dropDuplicates) and one shuffle on md5(text).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Stage id + distinct shingle-hash array via the native
    * [[graft.functions.ShingleHashes]] expression: one codegen'd pass per
    * document (tokenize → shingle → distinct → xxhash64), no intermediate
    * string arrays.
    */
  private def shingleHashed(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleHashes(col(textCol), shingleN).as("sh"))

  /** Deterministic MinHash signature from a materialized shingle-hash
    * column (`sh: array<long>`). Each of the k hash functions remixes the
    * 64-bit shingle hash with the function index — k long hashes per
    * shingle instead of k string hashes, same LSH family guarantees.
    * Pure column algebra: computed map-side per row; no explode/shuffle.
    */
  def minhashSignatureFromHashes(df: DataFrame, numHashes: Int): DataFrame =
    df.withColumn("sig", array((0 until numHashes).map { i =>
      // min over the empty shingle set (docs shorter than the shingle
      // size) is the Long.MaxValue identity, not null — keeps the
      // signature non-nullable and bit-equal to MinHashSignature
      coalesce(array_min(transform(col("sh"), h => xxhash64(h, lit(i)))),
        lit(Long.MaxValue))
    }: _*))

  /** Candidate pairs of rows sharing a bucket in any band: the one
    * banded self-join behind every LSH near-dup path here and in
    * [[Similarity.lshNearNeighbors]]. `keys` holds one bucket-key
    * expression per band, over `rows`' columns. Each row is posted once
    * per band as (band, bucket), and the postings self-join on
    * (band, bucket) with id_a < id_b — the pair count is bucket-local,
    * never corpus².
    *
    * A pair sharing buckets in several bands meets once per shared
    * band. It is kept only at its FIRST band whose keys are equal,
    * compared from the key arrays both sides carry: the same values the
    * join matched on, so the result is exactly the `distinct()` pair
    * set over all shared buckets, without a shuffle of the pair stream.
    * A null key never joins and never agrees.
    *
    * `postings` transforms the posting frame (`idCol`, the carried
    * columns, band, bucket) before the join — the hook an occupancy cap
    * uses. Lazy: building the frame launches no job. Output: id_a,
    * `c`_a for each carried column `c`, id_b, `c`_b.
    */
  def bandPairs(rows: DataFrame, idCol: String, keys: Seq[Column],
                carried: Seq[String] = Nil,
                postings: DataFrame => DataFrame = identity): DataFrame = {
    val kept = col(idCol) +: col("_keys") +: carried.map(col)
    // posexplode_outer, not posexplode: for an inner generator Spark
    // infers `size(_keys) > 0` and pushes it, with the key expressions
    // inlined, below the generator, so every signature would be
    // computed again per band. The key array is never empty or null,
    // so the outer generator emits the same rows.
    val posted = postings(rows
      .select(col(idCol) +: array(keys: _*).as("_keys") +: carried.map(col): _*)
      .select(kept :+ posexplode_outer(col("_keys")).as(Seq("band", "bucket")): _*))
    def side(s: String): DataFrame = posted.select(col("band") +:
      col("bucket") +: col(idCol).as(s"id_$s") +: col("_keys").as(s"_keys_$s") +:
      carried.map(c => col(c).as(s"${c}_$s")): _*)
    def agree(k: Int): Column = col("_keys_a")(k) === col("_keys_b")(k)
    val firstAgreeing = (1 until keys.size)
      .foldLeft(when(agree(0), 0))((acc, k) => acc.when(agree(k), k))
    def out(s: String) = col(s"id_$s") +: carried.map(c => col(s"${c}_$s"))
    side("a").join(side("b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") && col("band") === firstAgreeing)
      .select(out("a") ++ out("b"): _*)
  }

  /** Pairs of bit signatures within Hamming distance `maxHamming`. Each
    * of the `words` long columns holds a signature of `bits` bits
    * (the low ones); each word is cut into `blocks` equal blocks, the
    * blocks are the band keys of [[bandPairs]], and every candidate is
    * verified with Σ bit_count(xor) over the words. Two signatures
    * within distance d < |blocks| agree exactly on at least one block
    * (pigeonhole), so the blocking is EXHAUSTIVE: the result is every
    * pair at distance ≤ `maxHamming`, once, with id_a < id_b. Output:
    * (id_a, id_b, hamming: long).
    */
  def hammingPairs(sigs: DataFrame, idCol: String, words: Seq[String],
                   bits: Int, blocks: Int, maxHamming: Int): DataFrame = {
    require(words.nonEmpty && bits > 0 && bits <= 64 && blocks > 0 &&
      bits % blocks == 0, "blocks must divide the bit count of a long")
    require(maxHamming < blocks * words.size,
      "pigeonhole exhaustiveness needs maxHamming < blocks")
    val width = bits / blocks
    // mask AFTER the shift: shiftright is arithmetic, and a word with
    // bit 63 set would otherwise sign-extend into its top block
    val keys = for (w <- words; b <- 0 until blocks)
      yield shiftright(col(w), b * width).bitwiseAND(-1L >>> (64 - width))
    val hamming = words.map(w =>
      bit_count(col(s"${w}_a").bitwiseXOR(col(s"${w}_b")))).reduce(_ + _)
    bandPairs(sigs, idCol, keys, words)
      .select(col("id_a"), col("id_b"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** ENGINE-PORTABLE MinHash signatures (the q295 twin's sig half):
    * identical math to [[minhashNearDups]] but built on `md5` — a hash
    * BOTH Spark and DuckDB implement bit-identically — so the whole
    * pipeline (shingle → per-seed minhash → banded buckets → candidate
    * pairs → signature-agreement estimate, [[minhashPairsFromSigs]]) is
    * replayable by the SQL oracle, promoting the LSH *math* from
    * CI-pinned to oracle-checked the way q294 did for ALS. The shipped
    * q30/q63 operators keep `xxhash64` (codegen'd long-arithmetic, no
    * hex strings — the fast path); both pair through [[bandPairs]].
    *
    * minhash_s(doc) = min over shingles of md5("s:" || shingle) — a
    * fixed-width lowercase-hex string, so lexicographic MIN equals
    * numeric min. Per-doc array `mh` of `numHashes` min-hashes over
    * distinct `shingleN`-gram shingles. Separate from the pair half so
    * a caller can MATERIALIZE it (corpus-keyed parquet staging — a
    * production dedup index builds signatures once per corpus
    * snapshot): the 16×|shingles| md5 sweep is the whole cold cost.
    *
    * Short docs (< shingleN tokens) are safe under ANSI mode (the
    * Spark 4 default): token lookups use `try_element_at`, which
    * returns null out-of-range exactly like DuckDB's `t[i]`, and the
    * null propagates through `concat` (not `concat_ws`) mirroring SQL
    * `||` — the doc's lone shingle is NULL, its md5s are NULL, `min`
    * skips it, and the all-null signature can never clear the
    * agreement threshold, so both engines drop the doc gracefully.
    */
  def minhashPortableSigs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 16, shingleN: Int = 3)
  : DataFrame = {
    val toks = split(lower(col(textCol)), "\\s+")
    val sh = array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (shingleN - 1), lit(1))),
      i => concat((1 until 2 * shingleN).map { j =>
        if (j % 2 == 1) try_element_at(toks, i + (j - 1) / 2) else lit(" ")
      }: _*)))
    // explode to (doc, shingle) rows and take per-seed MIN as a plain
    // aggregate (map-side combine): computing the 16 array_min's over a
    // shingle-array column instead lets CollapseProject inline the
    // whole shingle construction into each of the 16 expressions —
    // measured 22 s vs 2 s at sf0.1 for identical output. The doc-row
    // repartition spreads the 16×|shingles| md5 projection across the
    // cluster — the corpus usually arrives as few parquet files, and
    // without it the hot projection runs at file parallelism
    val hashed = df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), explode(sh).as("_x"))
      .select(col(idCol) +: (0 until numHashes).map(s =>
        md5(concat(lit(s + ":"), col("_x"))).as(s"_h$s")): _*)
    hashed.groupBy(col(idCol))
      .agg(min(col("_h0")).as("_m0"),
        (1 until numHashes).map(s => min(col(s"_h$s")).as(s"_m$s")): _*)
      .select(col(idCol),
        array((0 until numHashes).map(s => col(s"_m$s")): _*).as("mh"))
  }

  /** The pair half of the q295 twin, over an (id, mh) frame from
    * [[minhashPortableSigs]]: a band's bucket key is the concatenation
    * of its `numHashes/bands` hashes, [[bandPairs]] pairs them, and
    * est_jaccard = (#agreeing seeds)/numHashes — an exact k/n rational
    * (no float drift). Bands are compared as these strings, the values
    * the join matched on: `concat_ws` skips nulls, so equal strings are
    * not the same relation as equal components.
    */
  def minhashPairsFromSigs(sigs: DataFrame, idCol: String,
                           threshold: Double = 0.5, numHashes: Int = 16,
                           bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    val keys = (0 until bands).map(b => concat_ws("", (0 until rowsPerBand)
      .map(r => element_at(col("mh"), b * rowsPerBand + r + 1)): _*))
    bandPairs(sigs, idCol, keys)
      .join(sigs.select(col(idCol).as("id_a"), col("mh").as("mh_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("mh").as("mh_b")), "id_b")
      .withColumn("est_jaccard",
        round(aggregate(zip_with(col("mh_a"), col("mh_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), _ + _).cast("double") / numHashes + lit(1e-9), 4))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Width of [[simhashPortableSigs]]' signature. */
  val portableSimhashBits = 60

  /** ENGINE-PORTABLE SimHash signatures (the q296 twin's sig half) —
    * the q295 promotion applied to the bit-vote math: the shipped q31
    * operator keys on the codegen'd seed-42 XXH64
    * [[graft.functions.SimHash64]] (Spark-internal, not replayable by a
    * SQL oracle). This twin runs the IDENTICAL algebra — per-token
    * hash, per-bit majority vote, and, through [[hammingPairs]], the
    * same block-exact candidate generation and bit_count verify — on
    * md5, which Spark and DuckDB implement bit-identically.
    *
    * tokval(t) = first 15 md5 hex chars of the lowercase token as a
    * 60-bit integer (Spark `conv(_,16,10)` ≡ DuckDB `('0x'||_)::BIGINT`;
    * 15 hex chars is the widest value that fits a SIGNED 64-bit int in
    * both engines — 16 would overflow BIGINT); signature bit i is set
    * iff Σ_tokens (2·bit_i(tokval) − 1) > 0 — exactly
    * [[simhashFromHashes]]' vote at width 60, within 4 bits of the
    * shipped 64-bit strictness (a 32-bit draft emitted 85k pairs at
    * sf0.1 where the shipped q31 finds ~60 — same math, far looser
    * Hamming-≤-3 semantics). With 4 blocks of 15 bits a random-doc
    * pair sits at expected Hamming 30, so the output is near-dup
    * pairs, not bucket noise.
    *
    * Scale shape: one md5 + 60 bit-tests per token row, map-side
    * combined into 60 per-doc sums; everything downstream is
    * |docs|-sized. The vote runs over token ROWS (explode, plain
    * aggregates) for the same CollapseProject reason as
    * [[minhashPortableSigs]]. The sig column is a 60-term sum of whens;
    * without a materialization boundary CollapseProject inlines that
    * tree into every block key on both join sides, so callers stage
    * the frame (q296 stages it corpus-keyed).
    */
  def simhashPortableSigs(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val bits = portableSimhashBits
    val tokval = conv(substring(md5(col("_tok")), 1, 15), 16, 10)
      .cast("long")
    df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("_tok"))
      .select(col(idCol) +: (0 until bits).map(i =>
        when(shiftright(tokval, i).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L).as(s"_v$i")): _*)
      .groupBy(col(idCol))
      .agg(sum(col("_v0")).as("_s0"),
        (1 until bits).map(i => sum(col(s"_v$i")).as(s"_s$i")): _*)
      .select(col(idCol),
        (0 until bits).map(i =>
          when(col(s"_s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Candidate near-dup pairs from shared LSH buckets, verified with
    * exact shingle-Jaccard ≥ `threshold`. A band's bucket key is the
    * xxhash64 of its `numHashes/bands` signature slice, seeded by the
    * band index; [[bandPairs]] pairs the rows, so the pair count is
    * bucket-local, not quadratic in the corpus.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, numHashes: Int = 16,
                      bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val rowsPerBand = numHashes / bands
    // fused native expression (spec pins equality with the staged
    // minhashSignatureFromHashes ∘ ShingleHashes composition)
    val sigs = df.select(col(idCol),
      graft.functions.MinHashSignature(col(textCol), shingleN, numHashes)
        .as("sig"))
    val candidates = bandPairs(sigs, idCol, (0 until bands).map(b =>
      xxhash64(concat_ws(",",
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))))
    // verification Jaccard runs on the hash arrays — set sizes are
    // identical to string-shingle sets modulo 64-bit collisions. The
    // native JaccardSim expression (one hash-probe loop per pair, no
    // scratch arrays) replaces array_intersect+array_union; the spec
    // pins value equality with that algebra
    val docs = shingleHashed(df, idCol, textCol, shingleN)
    candidates
      .join(docs.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        round(graft.functions.JaccardSim(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash from a materialized token-hash array attribute: each
    * signature bit is the sign of the sum over tokens of (2·bit−1).
    * Column algebra only; per-row cost is tokens × 64 bit tests.
    */
  def simhashFromHashes(hashes: Column): Column = {
    val bits = (0 until 64).map { i =>
      val bitSum = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** SimHash near-dup pairs: [[hammingPairs]] over the 64-bit
    * [[graft.functions.SimHash64]] signature in 4 blocks of 16 bits
    * (two signatures within Hamming distance 3 must agree on at least
    * one block). A `maxHamming` above 3 takes the smallest power-of-two
    * block count above it, so the blocking stays exhaustive.
    *
    * BOUNDED-CORPUS VARIANT (round 15/16 adjudication): 16-bit blocks
    * are the widest exhaustive blocking a 64-bit signature allows at
    * d ≤ 3, so the candidate budget is Θ(n²/2^16) — measured ×60.6 for
    * ×9.2 rows by BucketPairBudgetAuditSpec. Fine to ~10^6–10^7 docs
    * (the block join stays under ~10^8 candidates); beyond that use
    * [[simhashNearDups128]] (32-bit blocks, measured linear), a
    * different operating point (Hamming over 128 bits), not a drop-in.
    * q31 keeps this shape because the q296 oracle twin mirrors its
    * 64-bit algebra; it is the only main-source caller.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    hammingPairs(
      df.select(col(idCol), graft.functions.SimHash64(col(textCol)).as("sig")),
      idCol, Seq("sig"), bits = 64,
      blocks = math.max(4, Integer.highestOneBit(maxHamming) * 2), maxHamming)

  /** 128-bit SimHash near-dup pairs — [[simhashNearDups]]' scale path
    * (BucketPairBudgetAuditSpec, round 15). The 64-bit operator's
    * 16-bit blocks are the widest pigeonhole-exhaustive blocking for
    * Hamming ≤ 3 on a 64-bit signature (exhaustive needs ≥ d+1 = 4
    * blocks), so per-block-value occupancy is ∝ n/2^16 and the
    * candidate join's pair budget is Θ(n²/2^16) — measured ×60.6
    * budget growth for ×9.2 rows on the sf0.01→sf0.1 rung while the
    * true-pair output stayed linear (59→588). The fix the audit
    * prescribes is a WIDER KEY SPACE: two independent seed-42/seed-1042
    * XXH64 signature halves form a 128-bit SimHash whose 4 blocks (two
    * per half) are 32 bits wide — same ≥-1-exact-block exhaustiveness
    * at d ≤ 3, but occupancy ∝ n/2^32, pushing the quadratic knee out
    * by 2^16× (linear to ~10^9 docs). Hamming is over all 128 bits, so
    * d ≤ 3 here is a STRICTER near-dup test than the 64-bit operator's
    * (the bit budget doubles but the threshold doesn't) — a different
    * operating point, not a drop-in: q31 keeps the 64-bit fixture the
    * q296 oracle twin mirrors, and callers pick by corpus size.
    */
  def simhashNearDups128(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 3): DataFrame =
    hammingPairs(
      df.select(col(idCol),
        graft.functions.SimHash64(col(textCol)).as("sig_lo"),
        graft.functions.SimHash64Seeded(col(textCol), 1042L).as("sig_hi")),
      idCol, Seq("sig_lo", "sig_hi"), bits = 64, blocks = 2, maxHamming)

  /** Apply a near-dup pair list to the corpus: drop every document that
    * has a LOWER-id near-duplicate partner, keeping the canonical (min-id)
    * representative of each duplicate group. Pairs are emitted with
    * id_a < id_b by every generator here, so dropping the distinct id_b
    * side removes exactly the non-representatives — one semi-join-shaped
    * anti-join, no connected-components iteration. (Greedy per-pair
    * selection, the standard training-pipeline choice: a long similarity
    * CHAIN keeps its local minima rather than collapsing to one global
    * representative.)
    */
  def dropNearDups(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair graph via iterated min-label propagation. Where
    * [[dropNearDups]] is greedy-per-pair (a similarity CHAIN keeps its
    * local minima), this computes the TRANSITIVE closure: every node in
    * a component gets the component's minimum id as `cluster_id` — the
    * semantics you want when "duplicate group" must mean one canonical
    * representative per chain (A~B, B~C ⇒ {A,B,C} is one cluster even
    * though A≁C directly).
    *
    * Runs on [[Graph]]'s vertex-program kernel: each round, the nodes
    * whose label moved send it to their neighbours and every node keeps
    * the least label it holds or receives; one small reduce per round
    * counts the moves, and each round's state is local-checkpointed.
    * Converges in O(component diameter) rounds, NOT corpus size:
    * near-dup chains are short (a 100 TB corpus has billions of SMALL
    * clusters, not one long path), so 3–5 rounds is typical, and a
    * pathological long chain costs one cheap stage per hop.
    *
    * Input: pairs with (id_a, id_b) columns (any generator above).
    * Output: (id, cluster_id) for every id that appears in a pair —
    * isolated docs aren't duplicated, so they're not in any cluster.
    */
  def duplicateClusters(pairs: DataFrame): DataFrame =
    Graph.components(pairs, "id_a", "id_b")

  /** Exact pairwise shingle-Jaccard via an inverted index: explode each
    * doc's distinct shingles into postings, equi-join postings on the
    * shingle (within `partitionCols`), count common shingles per pair,
    * derive |A ∪ B| = |A| + |B| − |A ∩ B|. Only pairs that SHARE at least
    * one shingle ever materialize, so cost is Σ posting-list², not
    * corpus².
    *
    * Hot-posting cap (`maxPostingDf`): a shingle appearing in f documents
    * contributes f(f−1)/2 candidate pairs — ONE boilerplate stop-shingle
    * ("all rights reserved") makes pairing quadratic in its posting list
    * at corpus scale. Postings are shuffled ONCE on the posting key and
    * sorted; [[graft.plans.PostingPairs]] then walks each posting list in
    * one streaming pass, drops a list with more than `maxPostingDf`
    * distinct documents whole, and emits every pair of the rest — so an
    * over-cap list never forms a pair and never sits in memory beyond
    * its first `maxPostingDf + 1` rows. Dropping a hot shingle from both
    * sides undercounts `inter` only for pairs whose overlap was that
    * boilerplate — which is exactly the overlap a near-dup pipeline
    * wants to ignore. Pairs sharing nothing but capped shingles do not
    * materialize at all. Note `jaccard` keeps the PRE-cap set sizes in
    * its denominator, so pairs that do share a capped shingle score lower
    * than their true Jaccard — the exact-oracle hash-match (q61) holds
    * while the corpus has no shingle over the cap.
    *
    * The operator de-duplicates ids within a posting list. A document's
    * shingles are distinct, so that changes nothing unless two of one
    * document's shingles collide in the 64-bit posting key (the pair's
    * `inter` then counts the key once, not twice); several NULL-id
    * documents on one key count once toward the cap.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3,
                        partitionCols: Seq[String] = Nil,
                        maxPostingDf: Int = 1000): DataFrame =
    shinglePairCounts(df, idCol, textCol, shingleN, partitionCols,
        maxPostingDf)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Asymmetric CONTAINMENT near-dup pairs: `inter / min(|A|, |B|)` —
    * the subset-inclusion statistic Jaccard misses. A short document
    * quoted whole inside a long one has Jaccard ≈ |A|/|B| (→ 0 as the
    * host grows) but containment ≈ 1; it is the right score for
    * quote-inclusion, article-plus-comments wrappers, and truncated
    * re-crawls (Broder's resemblance-vs-containment distinction,
    * SEQUENCES'97). Same inverted-index plan as [[ngramJaccardPairs]]
    * (Σ posting², hot-posting cap, never corpus²) — only the final
    * projection differs. `minContainment` filters after the exact
    * per-pair count; the denominator uses PRE-cap set sizes, mirroring
    * the jaccard convention documented above.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3,
                       partitionCols: Seq[String] = Nil,
                       maxPostingDf: Int = 1000,
                       minContainment: Double = 0.0): DataFrame =
    shinglePairCounts(df, idCol, textCol, shingleN, partitionCols,
        maxPostingDf)
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Shared inverted-index pair engine for [[ngramJaccardPairs]] /
    * [[containmentPairs]]: (id_a, id_b, n_a, n_b, inter) with
    * id_a < id_b, for pairs sharing ≥ 1 sub-cap shingle.
    */
  private def shinglePairCounts(df: DataFrame, idCol: String,
                                textCol: String, shingleN: Int,
                                partitionCols: Seq[String],
                                maxPostingDf: Int): DataFrame = {
    val part = partitionCols.map(col)
    // fanOutForMapWork: the shingle build is the operator's dominant
    // narrow work — a one-row-group input would shingle the whole
    // corpus in one task
    val d = graft.sources.Tables.fanOutForMapWork(
        df.select(part :+ col(idCol) :+ col(textCol): _*))
      .select(part :+ col(idCol) :+
        graft.functions.ShingleHashes(col(textCol), shingleN).as("sh"): _*)
      .select(part :+ col(idCol) :+ col("sh") :+
        size(col("sh")).as("n"): _*)
    // explode_outer + a null filter on the GENERATED column, not explode:
    // for explode(sh) Spark infers `size(sh) > 0 AND isnotnull(sh)` on
    // the generator input and pushes it, with sh inlined, below the
    // fan-out exchange, so every document would be shingled twice. The
    // outer generator's one null row per shingle-less document is
    // dropped here instead.
    // posting key = one 64-bit remix of (partition cols, shingle hash):
    // the shuffle moves longs instead of string tuples. A cross-key
    // collision needs two xxhash64 values to agree (~n²/2⁶⁵ for n
    // distinct postings) — negligible against shingling sampling noise.
    val postings = d
      .select(part :+ col(idCol) :+ col("n") :+
        explode_outer(col("sh")).as("_shingle"): _*)
      .filter(col("_shingle").isNotNull)
      .select(xxhash64(part :+ col("_shingle"): _*).as("pkey"),
        col(idCol), col("n"))
    graft.plans.PostingPairs(postings, "pkey", idCol, Seq("n"), maxPostingDf)
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Verbatim shared-SPAN detection: pairs of documents sharing at
    * least `minShared` identical `window`-character substrings — the
    * contamination/quotation/boilerplate signal whole-doc similarity
    * misses: two long documents sharing ONE 300-char verbatim block
    * have near-zero shingle Jaccard (q32's statistic) yet are exactly
    * what an exact-substring dedup pass must catch. Char-level and
    * tokenizer-free, so it also catches markup/code spans.
    *
    * Alignment: fixed-stride window sampling is offset-sensitive (a
    * span shifted by 1 char samples disjoint windows on the two
    * sides), so selection is CONTENT-DEFINED — every position's
    * window is a candidate, and a window is kept iff its md5 starts
    * with '0' (1/16 of positions, in expectation every ~16 chars of a
    * shared span). Both documents then anchor the SAME windows inside
    * any shared region regardless of offset — the winnowing/
    * fingerprinting family (Schleimer et al., SIGMOD'03), with the
    * deterministic-hash anchor making the result engine-exact (md5 is
    * identical in Spark and any SQL oracle; a production run swaps a
    * rolling polynomial hash for the per-position digest and hashes
    * the posting key to 64-bit — same plan, cheaper per char, at the
    * cost of oracle-exactness).
    *
    * Shape at 100 TB: the posting stream is |corpus chars|/16 rows;
    * pair generation is the inverted-index pass — Σ posting² with the
    * same hot-window cap as [[ngramJaccardPairs]] (`maxPostingDf`
    * bounds the boilerplate blowup). One exchange on the window key
    * feeds [[graft.plans.PostingPairs]], which de-duplicates each
    * document's repeated windows, drops over-cap lists and pairs the
    * rest in one streaming pass. Docs shorter than `window` yield no
    * postings (both engines' empty position range).
    *
    * Output: (id_a, id_b, n_shared) with id_a < id_b,
    * n_shared ≥ `minShared` anchored windows in common.
    *
    * 64-bit posting-key collision bound (VERDICT r17 #6 — the one
    * documented divergence from the string-keyed oracle): pair
    * generation keys on `xxhash64(window)`, so two DISTINCT surviving
    * windows colliding in 64 bits merge their posting groups. At
    * 100 TB ≈ 10¹⁴ chars the anchored-window stream is ~6×10¹² rows
    * (1/16 sampling), so expected colliding distinct-window pairs are
    * ~D²/2⁶⁵ ≈ 10⁶. A collision only corrupts OUTPUT when (a) the two
    * windows' doc sets cross (typical |docs(w)| ≈ 1 post-sampling,
    * capped at `maxPostingDf`) AND (b) the affected doc pair clears
    * `minShared = 2`, i.e. shares a SECOND key — another independent
    * collision (~10⁶/D ≈ 10⁻⁷ each) or a real shared window (rare by
    * definition for non-duplicate pairs, and already-duplicate pairs
    * are reported anyway). Expected phantom output pairs ≈
    * 10⁶ × P(second shared key) ≪ 1 at 100 TB. To retire even that,
    * widen the key to two independent hashes
    * (`xxhash64(w), xxhash64(reverse(w))`) and join on both — same
    * long-keyed plan, bound drops to ~D²/2¹²⁹ ≈ 10⁻¹³.
    */
  def sharedSpanPairs(df: DataFrame, idCol: String, textCol: String,
                      window: Int = 32, minShared: Long = 2L,
                      maxPostingDf: Int = 1000): DataFrame = {
    // stage text as an attribute before the HOF touches it (the
    // lambda-capture trap: outer EXPRESSIONS re-evaluate per element).
    // fanOutForMapWork (r17, guide §2.5): the per-position window md5
    // below is the operator's dominant cost and runs in the SCAN stage —
    // a one-row-group input would hash the whole corpus in one task
    val staged = graft.sources.Tables.fanOutForMapWork(
      df.select(col(idCol), col(textCol).as("_txt"))
        .filter(length(col("_txt")) >= window))
    // posting key = one 64-bit remix of the anchored window
    // (shinglePairCounts' documented trick): the shuffle moves longs
    // instead of 32-char strings, and a cross-key collision needs two
    // xxhash64 values to agree (~n²/2⁶⁵ for n distinct windows) —
    // negligible against the 1/16 anchor sampling itself (r17)
    val postings = staged
      .select(col(idCol), explode(transform(
        sequence(lit(1), length(col("_txt")) - (window - 1)),
        i => col("_txt").substr(i, lit(window)))).as("_win"))
      .filter(md5(col("_win")).startsWith("0"))
      .select(xxhash64(col("_win")).as("_wkey"), col(idCol))
    graft.plans.PostingPairs(postings, "_wkey", idCol, Nil, maxPostingDf)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Train/eval decontamination: for every corpus document, count the
    * distinct token n-gram shingles it shares with an evaluation set —
    * the benchmark-leakage audit every serious training pipeline runs
    * before a model ships.
    *
    * Shape at 100 TB: eval sets are small (10³–10⁶ docs), so their
    * distinct shingles BROADCAST; the corpus is exploded to
    * (doc, shingle) map-side and probes the broadcast hash relation —
    * no shuffle touches corpus×eval, and the only exchange is the
    * per-doc overlap count grouped on the high-cardinality doc id. The
    * alternative — arrays_overlap against one giant eval-shingle array
    * — would rebuild the probe set per ROW; the broadcast join builds
    * it once per task.
    *
    * Returns every corpus row's (idCol, n_overlap, contaminated 0/1);
    * docs sharing nothing keep n_overlap = 0, so the caller filters or
    * audits without losing rows.
    */
  def contaminationStats(corpus: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String, shingleN: Int)
  : DataFrame = {
    val evalShingles = shingleStream(eval, idCol, textCol, shingleN)
      .select(col("_sh")).distinct()
    val hits = shingleStream(corpus, idCol, textCol, shingleN)
      .join(broadcast(evalShingles), Seq("_sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    overlapReport(corpus, idCol, hits)
  }

  /** (idCol, _sh) stream of each doc's DISTINCT token n-gram shingles. */
  private def shingleStream(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int): DataFrame = df
    .select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    .select(col(idCol),
      explode(TextOps.shinglesFromTokens(col("_toks"), shingleN))
        .as("_sh"))

  /** Left-join the per-doc hit counts back so no corpus row is lost. */
  private def overlapReport(corpus: DataFrame, idCol: String,
                            hits: DataFrame): DataFrame =
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0L).cast("long")
          .as("contaminated"))

  /** [[contaminationStats]] for the regime where even the eval shingle
    * set is too large to broadcast as raw strings (full eval-suite
    * sweeps): ship its BLOOM FILTER instead (~10 bits/item at 1% fpp —
    * two orders of magnitude smaller than the strings), prefilter the
    * corpus shingle stream map-side inside codegen, and run the exact
    * join only over the ~fpp-sized survivor stream. The exact join is a
    * plain shuffle join ON PURPOSE — the premise is that the eval side
    * does not broadcast — but by then the corpus side has been cut by
    * the filter, so the exchange is survivors-only. Bloom filters have
    * no false negatives and the verify join removes the false
    * positives, so the result is IDENTICAL to [[contaminationStats]]
    * (same oracle).
    *
    * Cost: two extra tiny jobs on the eval side (distinct-count to size
    * the filter, then the filter build — Spark's own mergeable
    * treeAggregate under `stat.bloomFilter`).
    */
  def decontaminateBloom(corpus: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String, shingleN: Int,
                         fpp: Double = 0.01): DataFrame = {
    val evalShingles = shingleStream(eval, idCol, textCol, shingleN)
      .select(col("_sh")).distinct()
    val hashed = evalShingles.select(xxhash64(col("_sh")).as("_h"))
    val bf = hashed.stat.bloomFilter("_h",
      math.max(hashed.count(), 1L), fpp)
    val bytes = graft.functions.BloomMightContain.serialize(bf)
    val survivors = shingleStream(corpus, idCol, textCol, shingleN)
      .filter(graft.functions.BloomMightContain(
        xxhash64(col("_sh")), bytes))
    val hits = survivors.join(evalShingles, Seq("_sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    overlapReport(corpus, idCol, hits)
  }

  /** Fuzzy string matching via the SymSpell deletion neighborhood —
    * every pair of DISTINCT strings within Levenshtein distance 1,
    * found without an all-pairs comparison and without recall loss:
    * two strings are within one edit iff they share a member of each
    * other's {identity + single-character-deletion} variant set, so an
    * equi-join on variant keys generates a candidate superset and a
    * per-pair `levenshtein` verify (codegen built-in) removes the rest.
    * This is EXACT blocking — unlike first-letter/length banding there
    * is no "the edit hit the blocking key" escape.
    *
    * Shape at 100 TB: |distinct strings| × (len+1) posting rows, an
    * equi-join whose cost is Σ posting² per variant key (bounded by
    * near-duplicate cluster sizes — the same Σ|bucket|² contract as the
    * MinHash band join), then one distinct on surviving pairs. The
    * entity-resolution/typo-clustering primitive.
    */
  def fuzzyNamePairs(df: DataFrame, strCol: String): DataFrame = {
    val names = df.select(col(strCol).as("_s")).distinct()
    // both sides of the self-join read this frame — cached so the
    // distinct + variant explode runs once (multi-reference rule)
    val keyed = graft.core.Caches.cached(
      names.select(col("_s"),
        explode(array_distinct(transform(
          sequence(lit(0), length(col("_s"))),
          i => concat(col("_s").substr(lit(1), i),
            col("_s").substr(i + 2, length(col("_s"))))))).as("_k")))
    // persist the (small) verified pair list, release the posting frame
    graft.core.Caches.materializedThenRelease(
      keyed
        .join(keyed.select(col("_k"), col("_s").as("name_b")),
          Seq("_k"))
        .filter(col("_s") < col("name_b"))
        .select(col("_s").as("name_a"), col("name_b"))
        .distinct()
        .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist")),
      keyed)
  }

  /** Line-level boilerplate removal (the C4-style cleanup): drop every
    * line that occurs in more than `maxLineDf` distinct documents
    * ("all rights reserved", cookie banners, nav text), keep everything
    * else in original order, and reassemble each document.
    *
    * Shuffle shape at 100 TB: ONE exchange on the line hash computes
    * per-line document frequency (partial count-distinct map-side); the
    * over-threshold lines are then at most |corpus-lines|/maxLineDf
    * DISTINCT strings — small by construction — so the removal join is
    * a BROADCAST anti-join against the hot-line list, and reassembly
    * shuffles on the high-cardinality doc id. No full-size frame ever
    * meets a skewed or low-cardinality key.
    *
    * Documents whose every line is boilerplate survive with empty text
    * (left join + coalesce), so the operator never drops rows — that is
    * [[dropNearDups]]'s job.
    */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           maxLineDf: Long, sep: String = "\n")
  : DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), sep)).as(Seq("_pos", "_line")))
    val hot = lines.groupBy(col("_line"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxLineDf)
      .select(col("_line"))
    val kept = lines.join(broadcast(hot), Seq("_line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line")), sep).as("_clean"))
    df.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_clean"), lit("")).as("text_clean"))
  }

  /** Embedding-cosine near-duplicate pairs, cell-bounded (the SemDeDup
    * shape): assign every vector to its nearest centroid via the same
    * broadcast argmax-cosine as [[Similarity.ivfAssign]] (same tie-break,
    * so IVF search and semantic dedup agree on cells), then score ONLY
    * within-cell pairs. Pair cost is Σ|cell|² instead of |corpus|² — the
    * property that makes semantic dedup feasible at 100 TB, where the
    * all-pairs join is not a plan. Recall < 1 by construction (a near-dup
    * pair split across two cells is missed — raise k-means quality or
    * probe neighboring cells to recover); EXACT copies always share a
    * cell, since identical vectors produce identical centroid cosines.
    * Size k WITH the corpus (k ∝ N / target cell size, e.g. via the
    * [[Similarity.kmeans]] builder): at fixed k, cell occupancy grows
    * linearly with N and the in-cell pair join quadratically — the 10×
    * smoke in PLANS.md measures exactly that on the fixed-k q66.
    *
    * The corpus is scanned once; the vector rides through the argmax
    * window (no re-join to fetch it back). The cell id is the single
    * band key of [[bandPairs]], so the pair join shuffles on
    * (band, cell) — one exchange, reused across the two sides. Emits
    * (id_a, id_b, cos) with id_a < id_b, ready for [[dropNearDups]].
    */
  def embeddingNearDups(df: DataFrame, centroids: DataFrame,
                        threshold: Double, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        cIdCol: String = "centroid_id",
                        cVecCol: String = "centroid"): DataFrame = {
    import graft.operators.Relational
    val joined = df.join(broadcast(centroids))
      .withColumn("_cos", Similarity.cosine(col(vecCol), col(cVecCol)))
    val asg = Relational.topKPerGroup(joined, 1, Seq(idCol),
        Seq(col("_cos").desc, col(cIdCol)))
      .select(col(cIdCol), col(idCol), col(vecCol))
    bandPairs(asg, idCol, Seq(col(cIdCol)), Seq(vecCol))
      .withColumn("cos",
        Similarity.cosine(col(s"${vecCol}_a"), col(s"${vecCol}_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
