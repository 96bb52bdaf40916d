package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build the 10× scale-smoke dataset PLANS.md's growth tables use:
  * replicate the sf0.1 fact tables 10× with offset PRIMARY keys into
  * /tmp/sf1 (dims copied as-is, foreign keys untouched — the dims stay
  * shared, per-entity streams get 10× deeper). documents/embeddings
  * replicate as EXACT content copies under offset ids, which makes
  * every doc/vector a member of a 10-way duplicate group — the
  * worst-case dedup workload the near-dup family is smoked against.
  *
  * Usage: `runMain graft.tools.MakeTenX [srcDir] [destDir] [copies]
  * [eventsAxis] [docsAxis]` (defaults /root/testdata/sf0.1 → /tmp/sf1
  * × 10). Offsets are `i * max(10^8, 10^ceil(log10(max_key + 1)))` —
  * decimal-aligned so replica ids are recognizable and never collide,
  * floored at 10^8 so they also clear the engine's planted-mutation id
  * namespaces (documents +1e5/+2e5, embeddings +1e5, orders +1e7) at
  * any copy count.
  *
  * `docsAxis=distinct` replicates documents as DISTINCT content: copy i
  * applies letter permutation #i (translate — length, token count, and
  * word structure preserved exactly; identity for copy 0). Copies < 26
  * use pure rotations, so their ALPHABETIC token vocabularies are
  * pairwise disjoint — tokens containing only digits/punctuation pass
  * through translate unchanged and ARE shared verbatim across all
  * copies, so the text-scan/posting-join families still see some
  * cross-copy shared tokens at every copy count (ADVICE r11); copies
  * ≥ 26 reuse a rotation composed with a one-position
  * swap, so two copies 26 apart DO share every word containing none of
  * the swapped letters — substantial token/shingle overlap, though
  * shared-shingle Jaccard stays far below the 0.5 near-dup threshold
  * (ADVICE r10). The guarantee this tool actually provides, at every
  * copy count ≤ 676, is: N× documents with NO new near-duplicate
  * pairs at the shipped threshold, and an N× DISTINCT document set for
  * the text-scan family (phrase search, TF-IDF, posting joins) — the
  * growth axis the default exact-copy mode (the dedup worst case)
  * cannot probe (r9 verdict item #4). A probe needing true cross-copy
  * token disjointness past 26 copies would need seed-derived full
  * random permutations instead.
  *
  * `eventsAxis=users` additionally offsets events' user_id: 10× USERS
  * with the same per-user stream, the organic-growth axis the
  * co-engagement graph family scales along (the default event_id-only
  * axis deepens per-user streams — the window-stress axis — but maps
  * every replica to the same (user, item) pairs, which `distinct()`
  * collapses: co-engagement counts stay flat while the corpus-scaled
  * support rises 10×, and the graph goes empty — correct thresholding
  * of literal duplication, but not a graph-growth smoke). The events
  * offset is rounded up to a multiple of the 4000-item vocabulary
  * (and require-checked), so replica events keep their item identity
  * (event_id % 4000) on BOTH axes at any source corpus size.
  */
object MakeTenX {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.local(appName = "graft-10x")

    def load(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")

    // dims: shared (copied so the dest dir is self-contained)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => save(load(t), t))

    // Replica ids must ALSO clear the engine's planted-mutation id
    // namespaces (documents +1e5/+2e5 in chainedCorpus/withNearDups,
    // embeddings +1e5, orders CDC inserts +1e7): at 30 copies the plain
    // decimal offset (10^4 for documents) walked replica ids straight
    // into [1e5, 2.1e5], and the engine's ID-KEYED pair math vs the
    // oracle's ROW-KEYED all-pairs diverged on the collided ids (the
    // round-12 30x-sweep find; 10x passed only because max replica id
    // stayed at 95999). Flooring the offset at 10^8 keeps every replica
    // id above every planted namespace at any copy count ≤ 676, with
    // BIGINT headroom to spare.
    val plantedNamespaceFloor = 100000000L
    def decimalOffset(maxKey: Long): Long = {
      var off = 1L
      while (off <= maxKey) off *= 10
      math.max(off, plantedNamespaceFloor)
    }
    /** Replicate with `keys` offset per copy; all other columns
      * verbatim. Returns the per-copy offset so FK-sharing tables can
      * reuse it.
      */
    def replicate(t: String, keys: Seq[String],
                  sharedOff: Option[Long] = None, align: Long = 1L): Long = {
      val df = load(t)
      val off = sharedOff.getOrElse {
        val maxKey = df.agg(
          keys.map(k => max(col(k)).cast("long")).reduce((a, b) =>
            when(a >= b, a).otherwise(b)).as("m"))
          .head().getLong(0)
        val dec = decimalOffset(maxKey)
        // round UP to the caller's alignment: a decimal offset is only a
        // multiple of the 4000-item vocabulary at >= 10^5 (10^4/4000 =
        // 2.5), so a small source corpus would otherwise silently shift
        // replica item identities (event_id % 4000)
        ((dec + align - 1) / align) * align
      }
      require(off % align == 0,
        s"$t offset $off not aligned to $align — replica ids would shift")
      val out = (0 until copies).map { i =>
        keys.foldLeft(df)((acc, k) =>
          acc.withColumn(k, (col(k) + lit(i * off)).cast(df.schema(k).dataType)))
      }.reduce(_ unionByName _)
      save(out, t)
      off
    }
    // lineitem reuses orders' offset so replica i's l_orderkey FK still
    // lands on replica i's o_orderkey
    val orderOff = replicate("orders", Seq("o_orderkey"))
    replicate("lineitem", Seq("l_orderkey"), Some(orderOff))
    if (args.length > 3 && args(3) == "users")
      replicate("events", Seq("event_id", "user_id"), align = 4000L)
    else
      replicate("events", Seq("event_id"), align = 4000L)
    if (args.length > 4 && args(4) == "distinct") {
      // distinct-content replication: copy i applies letter permutation
      // #i = rotation by (i mod 26) composed with a block-dependent
      // swap (block = i/26 swaps position 0 with position block), so
      // all copies < 26*26 carry pairwise-distinct permutations —
      // pure rotation alone repeats content every 26 copies (a 100x
      // build would silently reintroduce 4-way duplicate groups).
      // Identity at copy 0.
      require(copies <= 676, s"distinct mode supports <= 676 copies")
      val df = load("documents")
      val maxKey = df.agg(max(col("doc_id")).cast("long")).head().getLong(0)
      val off = decimalOffset(maxKey)
      val lower = "abcdefghijklmnopqrstuvwxyz"
      def perm(i: Int): String = {
        val r = (lower.drop(i % 26) + lower.take(i % 26)).toCharArray
        val b = i / 26
        if (b > 0) { val t = r(0); r(0) = r(b); r(b) = t }
        new String(r)
      }
      val out = (0 until copies).map { i =>
        val p = perm(i)
        df.withColumn("doc_id", (col("doc_id") + lit(i * off))
            .cast(df.schema("doc_id").dataType))
          .withColumn("text",
            translate(col("text"), lower + lower.toUpperCase,
              p + p.toUpperCase))
      }.reduce(_ unionByName _)
      save(out, "documents")
    } else
      replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    println(s"[make10x] wrote $dest at ${copies}x of $src")
    spark.stop()
  }
}
