package graft.operators

import graft.{Q, Tables}
import graft.functions.{CrossHash, MinHashCoefficients => MC}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash-groupBy), n-gram Jaccard, MinHash + banded LSH, SimHash
  * with pigeonhole candidate generation, and LSH-bucketed quantized-
  * embedding cosine near-dup.
  *
  * Determinism contract: every hash is the md5-derived 60-bit integer
  * ([[graft.functions.CrossHash]]) that DuckDB computes identically, so
  * each query carries a full SQL oracle — including the LSH pipelines,
  * which are usually "unverifiable" in cross-engine tests.
  *
  * Scale design (100 TB — each pair-generation query is sub-quadratic):
  *   - exact dedup is one hash-shuffle on the group key — the minimal
  *     possible plan (map-side partial agg first);
  *   - every near-dup pipeline first collapses byte-identical documents
  *     to one representative (`rep`) so identical texts can never flood
  *     an LSH bucket, then joins on *int64 hashes*, never raw strings;
  *   - n-gram Jaccard drops shingles whose document frequency exceeds
  *     [[DfCap]]: a shingle shared by hundreds of documents cannot
  *     discriminate near-duplicates but makes the shingle self-join
  *     quadratic in its frequency — the cap bounds per-key join fanout
  *     at DfCap² (skew-proof shuffle at any corpus size);
  *   - MinHash computes all 16 permutations in ONE aggregation over the
  *     shingle stream (16 MIN columns — no 16× row explosion), bands are
  *     4 projected columns, and the banded self-join touches only docs
  *     agreeing on a full band signature;
  *   - every banded self-join (MinHash bands, SimHash chunks, sign-LSH
  *     bands — q42/q44/q45/q63) additionally drops buckets larger than
  *     [[BucketCap]] before pairing, so one degenerate band value can
  *     never emit O(B²) pairs on a single shuffle key (see the cap's
  *     doc for the recall trade);
  *   - embedding near-dup buckets vectors by random-hyperplane sign-LSH
  *     (8 bands × 6 bits over 48 fixed pseudo-random hyperplanes) and
  *     re-checks candidates with an exact int64 cosine test. Recall vs
  *     the exact all-pairs scan rises with cosine (sign-LSH property):
  *     ~50% at the 0.4 threshold on near-orthogonal synthetic data,
  *     →1 for true duplicate clusters (cos ≥ 0.9). The quantize-to-int
  *     trick keeps the re-check reproducible across engines,
  *     partitionings and SIMD, unlike float accumulation.
  */
object Dedup {
  import CrossHash.{h60, h60Sql, P}

  /** Max documents a shingle may appear in before q41 ignores it. */
  val DfCap = 50

  /** Max members an LSH bucket may hold before the whole bucket is
    * dropped from candidate generation (q42/q44/q45/q63). A band value
    * shared by B documents makes the banded self-join emit B² candidate
    * pairs on ONE shuffle key — boilerplate/template corpora produce
    * exactly such degenerate buckets, and at 100 TB a single hot key
    * stalls the stage. The cap bounds per-key join fanout at BucketCap²
    * (the same guard [[DfCap]] gives q41's shingle join); dropping
    * oversized buckets costs recall on the most-templated clusters,
    * which is the documented LSH trade — exact dedup (q40) still
    * collapses byte-identical members of those clusters.
    */
  val BucketCap = 128

  /** Drop every LSH bucket (group of rows equal on `keys`) with more
    * than `cap` members. One map-side-combinable count aggregation plus
    * an explicitly BROADCAST anti-join: the hot set (bucket keys with
    * > cap members) is small by construction at any corpus size —
    * degenerate buckets are the exception, not the rule — so the big
    * side never shuffles for the guard, and no window ever runs over
    * the skewed key.
    */
  def capBuckets(df: DataFrame, cap: Int, keys: String*): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bc")).filter(col("bc") > cap)
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** [[capBuckets]] when each row REPRESENTS `w` raw rows (the r17
    * signature pre-collapse): the bucket census sums the weights, so
    * the drop decision is byte-identical to running the uncollapsed
    * form on the raw rows.
    */
  def capBucketsWeighted(df: DataFrame, cap: Int, w: String,
      keys: String*): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(sum(col(w)).as("bc")).filter(col("bc") > cap)
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** DuckDB mirror of [[capBuckets]]: a CTE selecting `cols` from `src`
    * keeping only rows whose (`keys`) bucket has ≤ `cap` members.
    */
  def capBucketsSql(src: String, cap: Int, cols: String, keys: String*): String =
    s"(SELECT $cols FROM (SELECT *, COUNT(*) OVER (PARTITION BY ${keys.mkString(", ")}) AS bc " +
      s"FROM $src) WHERE bc <= $cap)"

  import EmbeddingLsh.{NumBands, BandBits}

  // ---- public library surface -------------------------------------------
  // Each operator takes any (id, text) frame; the q40-q45 gate entries
  // below are these operators instantiated on the `documents` table.

  /** Normalize an arbitrary corpus frame to (doc_id, text). */
  def corpus(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** Exact dedup: survivor (min id), copy count and content fingerprint
    * per distinct text — one map-side-combinable hash aggregate.
    */
  def exactDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    corpus(df, idCol, textCol)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_copies"))
      .select(col("survivor"), col("n_copies"), h60(col("text")).as("fp"))

  /** Normalized exact dedup (the C4/RefinedWeb first pass): documents
    * equal after case-folding, punctuation-stripping and whitespace
    * collapse are duplicates even when their raw bytes differ —
    * catching the re-hosted copy with different capitalization or
    * list markup that byte-exact dedup ([[exactDedup]]) misses, at
    * exact-dedup cost (one map-side-combinable hash aggregate, no
    * pairing). Output per normalized-content group: survivor (min id),
    * copy count, DISTINCT raw-variant count (how much work the
    * normalization did beyond byte equality) and the normalized
    * fingerprint.
    *
    * Scale: the group key here is the normalized text itself so the
    * gate is value-exact; at corpus scale group on `fp` (the emitted
    * 60-bit fingerprint, or a 128-bit hash) so the shuffle moves 8–16
    * bytes per doc instead of the document body.
    */
  def normalizedDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    corpus(df, idCol, textCol)
      .select(col("doc_id"), col("text"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("norm"))
      .groupBy(col("norm"))
      .agg(min(col("doc_id")).as("survivor"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("text")).as("n_variants"))
      .select(col("survivor"), col("n_copies"), col("n_variants"),
        h60(col("norm")).as("fp"))

  /** Representative pairs with word-bigram Jaccard above `jacNum/jacDen`
    * (exact integer comparison), hot shingles above `dfCap` ignored.
    * Output: (d1, d2, n_inter, n_union).
    */
  def jaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dfCap: Int = DfCap,
      jacNum: Int = 1, jacDen: Int = 5): DataFrame = {
    import graft.functions.CollectCapped.collect_capped
    val sh = shinglesOf(corpus(df, idCol, textCol))
    // ONE aggregation both applies the document-frequency cap (null =
    // hot shingle, dropped whole — identical to the old count + anti-join
    // semantics) and gathers each shingle's member docs; sizes and
    // intersections then both derive from this (persisted) bucket frame
    // instead of three passes over the raw shingle stream.
    val buckets = GraftCache.track(
      sh.groupBy("h")
        .agg(collect_capped(col("doc_id"), dfCap).as("ids"))
        .filter(col("ids").isNotNull)
        .select(sort_array(col("ids")).as("ids")))
    val sz = buckets.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = buckets
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        pairExpr("ids", (x, y) => s"struct($x AS d1, $y AS d2)"))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.as("sx"), col("d1") === col("sx.doc_id"))
      .join(sz.as("sy"), col("d2") === col("sy.doc_id"))
      .filter(col("i") * jacDen > (col("sx.n") + col("sy.n") - col("i")) * jacNum)
      .select(col("d1"), col("d2"), col("i").as("n_inter"),
        (col("sx.n") + col("sy.n") - col("i")).as("n_union"))
  }

  /** All (i < j) position pairs of array column `arr` as structs built
    * by `mk(x, y)` — the single definition of the subtle 1-based slice
    * arithmetic shared by every bucket-collect pair path.
    */
  private def pairExpr(arr: String, mk: (String, String) => String): String =
    s"flatten(transform($arr, (x, i) -> " +
      s"transform(slice($arr, i + 2, size($arr)), y -> ${mk("x", "y")})))"

  /** All intra-bucket id pairs (d1 < d2) of `rows` grouped by `keys`,
    * buckets larger than `cap` dropped whole. ONE aggregation applies
    * the cap and gathers the members ([[graft.functions.CollectCappedAgg]]
    * keeps at most cap+1 elements of state per group — scale-safe on
    * degenerate buckets), then pairs generate from the sorted member
    * array — no second pass over the banded rows, no anti-join, no
    * self-join. Stage count 2 (bucket agg + distinct) where the
    * count/anti-join/self-join formulation re-reads the banded frame
    * three times.
    */
  def bucketPairs(rows: DataFrame, keys: Seq[String], cap: Int,
      idCol: String = "doc_id"): DataFrame = {
    import graft.functions.CollectCapped.collect_capped
    rows.groupBy(keys.map(col): _*)
      .agg(collect_capped(col(idCol), cap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(sort_array(col("ids")).as("ids"))
      .select(explode(expr(
        pairExpr("ids", (x, y) => s"struct($x AS d1, $y AS d2)"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
  }

  /** MinHash signatures (doc_id, m0..m15) of a (doc_id, text) corpus:
    * 16 permutation minima computed as 16 MIN aggregate columns in ONE
    * groupBy — no row explosion.
    */
  // dedup=false deliberately: min() is dedup-idempotent, and the r14
  // A/B showed the distinct's extra exchange costs what the 16-buffer
  // collapse saves (bigram shingles repeat far less than the unigram
  // tokens that made simhashOf's count-weighted dedup a −19% win)
  def minhashSignatures(c: DataFrame): DataFrame =
    signaturesOf(shinglesOf(c, dedup = false))

  /** Signatures from an already-computed (doc_id, h) shingle stream —
    * the seam that lets [[minhashCalibration]] shingle ONCE. */
  private def signaturesOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), (col("h") % P).as("hm"))
      .groupBy("doc_id")
      .agg(
        min((col("hm") * MC.A(0) + MC.B(0)) % P).as("m0"),
        (1 until MC.NumHashes).map(j =>
          min((col("hm") * MC.A(j) + MC.B(j)) % P).as(s"m$j")): _*)

  /** Banded rows (doc_id, band, sig) of a signature frame. */
  private def lshBands(mh: DataFrame): DataFrame = {
    val bandCols = (0 until MC.NumHashes / MC.BandRows).map { k =>
      concat_ws(",", (0 until MC.BandRows).map(r => col(s"m${MC.BandRows * k + r}")): _*)
    }
    mh.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
  }

  /** MinHash-LSH candidate pairs (d1 < d2) for any (id, text) frame. */
  def minhashLshPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bucketCap: Int = BucketCap): DataFrame =
    bucketPairs(lshBands(minhashSignatures(corpus(df, idCol, textCol))),
      Seq("band", "sig"), bucketCap)

  /** MinHash estimator calibration over the LSH candidate pairs: for
    * each pair, the signature agreement count (of [[MinhashConf.NumHashes]]
    * components — matches/16 is the Jaccard ESTIMATE) next to the TRUE
    * shingle-set intersection and union sizes. The report that tells
    * you whether 16 permutations and 4×4 banding are enough for YOUR
    * corpus before you spend a cluster-day deduplicating 100 TB with
    * them — estimator quality must itself be a query.
    *
    * All-integer output (d1, d2, sig_matches, n_inter, n_union); the
    * consumer divides. Scale shape: true-Jaccard counting runs ONLY on
    * the LSH-bounded candidate pairs (pairs × shingles-per-doc keyed
    * joins), the signature frame is one row of 16 ints per doc, and
    * both are computed once and shared via [[GraftCache]].
    */
  def minhashCalibration(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bucketCap: Int = BucketCap): DataFrame = {
    val c = corpus(df, idCol, textCol)
    // shingle ONCE: the raw stream feeds both the signatures and (via
    // distinct) the true-Jaccard sets
    val raw = GraftCache.track(shinglesOf(c, dedup = false))
    val mh = GraftCache.track(signaturesOf(raw))
    val pairs = GraftCache.track(bucketPairs(lshBands(mh), Seq("band", "sig"), bucketCap))
    val sh = GraftCache.track(raw.distinct())
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("x"), col("d1") === col("x.doc_id"))
      .join(sh.as("y"), col("d2") === col("y.doc_id") && col("x.h") === col("y.h"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    val matches = (0 until MC.NumHashes)
      .map(j => when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(mh.as("a"), col("d1") === col("a.doc_id"))
      .join(mh.as("b"), col("d2") === col("b.doc_id"))
      .select(col("d1"), col("d2"), matches.cast("long").as("sig_matches"))
      .join(inter, Seq("d1", "d2"), "left")
      .join(sz.select(col("doc_id").as("d1"), col("n").as("nx")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("ny")), "d2")
      .select(col("d1"), col("d2"), col("sig_matches"),
        coalesce(col("i"), lit(0L)).as("n_inter"),
        (col("nx") + col("ny") - coalesce(col("i"), lit(0L))).as("n_union"))
  }

  /** Edit-distance verification of MinHash-LSH candidate pairs — the
    * "confirm before you delete" stage of a near-dup pipeline. LSH
    * candidates are probabilistic; production dedup re-checks each
    * surviving pair with a true string metric before merging clusters.
    *
    * Emits every candidate pair with its exact Levenshtein distance,
    * the longer text's length, and a `verified` verdict
    * (`dist * den <= num * len_max`, default ≤ 3/4 of the longer
    * text). Integer-exact comparison; the distance is
    * [[graft.functions.EditDistance]] — Myers' bit-parallel algorithm,
    * value-identical to `levenshtein` in both engines (pinned by
    * EditDistanceSpec) at ~1/60th the work on these document lengths.
    *
    * Scale shape: the distance runs ONLY on the LSH-bounded candidate
    * set (BucketCap caps any bucket's pair fan-out), never all-pairs;
    * the two text lookups are keyed joins on doc_id.
    */
  def verifiedNearDups(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", num: Int = 3, den: Int = 4): DataFrame = {
    val c = corpus(df, idCol, textCol)
    minhashLshPairs(df, idCol, textCol)
      .join(c.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(c.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.EditDistance.edit_distance(col("t1"), col("t2")).as("dist"),
        greatest(length(col("t1")), length(col("t2"))).as("len_max"))
      .withColumn("verified", col("dist") * den <= col("len_max") * num)
  }

  /** 60-bit SimHash per document for any (id, text) frame — ONE
    * codegen'd byte scan per row ([[graft.functions.SimHash60]]), no
    * explode, no token rows, no shuffle: the signature is a pure
    * projection over the corpus scan. The per-occurrence ±1 vote it
    * computes equals the count-weighted vote over distinct tokens the
    * r14 two-aggregate form computed (±c ≡ c occurrences of ±1), and
    * the oracle keeps that per-distinct-token SQL formulation —
    * SimHashSpec randomized-pins expression ≡ aggregate form.
    * Measured (r16 A/B, SPARK_GRAFT_ONLY=q43,q44,q80 sf0.1, 3-run
    * medians): q43 1.11 → 0.47, q44 1.36 → 0.57, q80 1.49 → 0.82 —
    * the last hot family off array-expression land (VERDICT r15 #1).
    */
  def simhashOf(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    corpus(df, idCol, textCol)
      .select(col("doc_id"),
        graft.functions.SimHash.simhash60(col("text")).as("simhash"))

  /** SimHash near-dup pairs: pigeonhole 15-bit chunk equality proposes,
    * exact hamming ≤ `maxHamming` confirms. Output (d1, d2, hamm).
    *
    * Exact-duplicate PRE-COLLAPSE (r17, VERDICT r16 #2): byte-identical
    * documents share a signature and collide in EVERY chunk, so the r16
    * per-doc banding paid O(copies²) candidate generation + a doc-pair
    * distinct on boilerplate corpora — exactly the production regime a
    * dedup pipeline exists for (the 100× identical-text stress point
    * read 36 s vs 8.9 salted). One row per DISTINCT signature enters
    * the banding instead, carrying its copy count and up to `cap`
    * member ids; the bucket-drop census stays the RAW doc count
    * (Σ copy counts, [[graft.functions.CollectWeightCappedAgg]]), so
    * the collapsed plan is byte-identical to the uncollapsed oracle. A
    * group larger than the cap saturates every bucket it touches — its
    * members can never pair, so its NULL member array is exact, not a
    * loss. Dedup happens at SIGNATURE level (a pair of signatures
    * co-occurs in ≤ 4 chunks): the distinct shuffles signature pairs,
    * and member expansion runs AFTER it — the doc-pair stream is
    * generated exactly once, never shuffled.
    */
  def simhashPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 8,
      bucketCap: Int = BucketCap): DataFrame =
    sigPairs(simhashOf(df, idCol, textCol), maxHamming, bucketCap)

  /** [[simhashPairs]]'s pairing stage over an ARBITRARY 60-bit
    * signature frame (doc_id, simhash) — extracted (r19) so any
    * signature family rides the same pre-collapsed banded machinery:
    * SimHash text signatures here, [[Multimodal.dhashPairs]]'
    * perceptual dHash fingerprints, anything else whose Hamming
    * distance means similarity. Semantics and the cap census are
    * exactly the scaladoc above.
    */
  def sigPairs(sh: DataFrame, maxHamming: Int = 8,
      bucketCap: Int = BucketCap): DataFrame = {
    import graft.functions.CollectCapped.{collect_capped, collect_wcapped}
    // sort_array CANONICALIZES the member list (r17 review): collect
    // order is fetch-order-dependent, so a partial stage recompute
    // after an executor loss could rebuild the same group as [5,3]
    // beside surviving [3,5] rows — the signature-pair distinct below
    // compares the arrays and would stop collapsing them
    val groups = sh.groupBy("simhash")
      .agg(sort_array(collect_capped(col("doc_id"), bucketCap)).as("ms"),
        count(lit(1)).as("sz"))
    val ch = groups.select(col("simhash"), col("ms"), col("sz"),
        explode(expr("sequence(0, 3)")).as("k"))
      .withColumn("cv", expr("shiftright(simhash, 15 * k) % 32768"))
    val buckets = ch.groupBy("k", "cv")
      .agg(collect_wcapped(
        struct(col("simhash").as("s"), col("ms"), col("sz")),
        col("sz"), bucketCap).as("gs"))
      .filter(col("gs").isNotNull)
    // one explode emits BOTH kinds of signature-level record: cross
    // pairs of distinct signatures in the bucket, and each multi-copy
    // group as a self record (s1 = s2) whose expansion is its internal
    // pairs; the distinct collapses multi-chunk co-occurrence at this
    // level, where rows are groups², not docs²
    val pairsSig = buckets
      .select(explode(expr(
        "concat(" +
          pairExpr("gs", (x, y) =>
            s"struct(least($x.s, $y.s) AS s1, greatest($x.s, $y.s) AS s2, " +
              s"if($x.s < $y.s, $x.ms, $y.ms) AS m1, " +
              s"if($x.s < $y.s, $y.ms, $x.ms) AS m2)") +
          ", filter(transform(gs, g -> " +
          "struct(g.s AS s1, g.s AS s2, g.ms AS m1, g.ms AS m2)), " +
          "p -> size(p.m1) >= 2))")).as("p"))
      .select(col("p.s1").as("s1"), col("p.s2").as("s2"),
        col("p.m1").as("m1"), col("p.m2").as("m2"))
      .distinct()
      .filter(expr(s"bit_count(s1 ^ s2) <= $maxHamming"))
    pairsSig
      .select(explode(expr(
        "if(s1 = s2, " +
          pairExpr("m1", (x, y) =>
            s"struct(least($x, $y) AS d1, greatest($x, $y) AS d2)") + ", " +
          "flatten(transform(m1, a -> transform(m2, b -> " +
          "struct(least(a, b) AS d1, greatest(a, b) AS d2)))))")).as("q"),
        expr(s"cast(bit_count(s1 ^ s2) AS bigint)").as("hamm"))
      .select(col("q.d1").as("d1"), col("q.d2").as("d2"), col("hamm"))
  }

  /** Incremental dedup — the daily-ingest pattern: admit only NEW
    * documents that are neither byte-identical (exact fingerprint
    * anti-join) nor SimHash-near (hamming ≤ `maxHamming`) to ANY
    * document of the existing reference corpus. Unlike q40–q45, the
    * candidate join is BIPARTITE (new chunks × old chunks), so the
    * heavy side is proportional to the new batch, not the corpus:
    * the old corpus contributes one (fp) set and one chunk table —
    * both computed in single aggregation passes and in practice
    * maintained incrementally between ingests. Internal duplicates
    * WITHIN the new batch are q40's job, not this operator's.
    * Output: surviving new documents (doc_id, fp).
    */
  def incrementalDedup(newDf: DataFrame, oldDf: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 8, bucketCap: Int = BucketCap): DataFrame = {
    import graft.functions.CollectCapped.collect_capped
    val nw = corpus(newDf, idCol, textCol)
    val old = GraftCache.track(corpus(oldDf, idCol, textCol))
    val oldFp = old.select(h60(col("text")).as("fp")).distinct()
    val fresh = GraftCache.track(
      nw.select(col("doc_id"), col("text"), h60(col("text")).as("fp"))
        .join(oldFp, Seq("fp"), "left_anti"))
    // r17 signature pre-collapse (the [[simhashPairs]] discipline on the
    // bipartite join): both sides band one row per DISTINCT signature
    // with its copy count — each side's bucket-drop census stays the
    // RAW chunk count ([[capBucketsWeighted]]), so the result is
    // byte-identical to per-doc banding. The old side never needs
    // member ids at all (only its signatures gate); the new side
    // carries up to cap members, expanded only AFTER the signature-level
    // distinct — no per-doc candidate stream exists anywhere.
    def sigChunks(g: DataFrame): DataFrame =
      g.select(g.columns.map(col) :+ explode(expr("sequence(0, 3)")).as("k"): _*)
        .withColumn("cv", expr("shiftright(simhash, 15 * k) % 32768"))
    val grpN = simhashOf(fresh, "doc_id", "text").groupBy("simhash")
      .agg(sort_array(collect_capped(col("doc_id"), bucketCap)).as("ms"),
        count(lit(1)).as("sz"))
    val grpO = simhashOf(old, "doc_id", "text").groupBy("simhash")
      .agg(count(lit(1)).as("sz"))
    val chN = capBucketsWeighted(sigChunks(grpN), bucketCap, "sz", "k", "cv")
    val chO = capBucketsWeighted(sigChunks(grpO), bucketCap, "sz", "k", "cv")
    val near = chN.as("x").join(chO.as("y"),
        col("x.k") === col("y.k") && col("x.cv") === col("y.cv"))
      .filter(expr(s"bit_count(x.simhash ^ y.simhash) <= $maxHamming"))
      .select(col("x.simhash").as("simhash"), col("x.ms").as("ms"))
      .distinct()
      .select(explode(col("ms")).as("doc_id"))
    fresh.join(near, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** DuckDB CTE chain computing `${p}sh(doc_id, simhash)` over CTE/table
    * `src` — the q43/q44 SimHash formulation with prefixed CTE names so
    * q80 can instantiate it twice (new batch + old corpus).
    */
  private def simhashSql(src: String, p: String): String =
    s"${p}tok AS (SELECT doc_id, t AS tok, COUNT(*) AS cnt FROM " +
      s" (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM $src) GROUP BY 1, 2), " +
      s"${p}th AS (SELECT doc_id, cnt, " + h60Sql("tok") + s" AS th FROM ${p}tok), " +
      s"${p}bits AS (SELECT doc_id, b, SUM(CASE WHEN (th >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS sb " +
      s" FROM ${p}th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) GROUP BY 1, 2), " +
      s"${p}sh AS (SELECT doc_id, SUM(CASE WHEN sb > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash " +
      s" FROM ${p}bits GROUP BY doc_id)"

  /** Embedding near-dup pairs over a [[EmbeddingLsh.quantize]]d frame:
    * sign-LSH bands propose, the exact integer test
    * `cosDen²·dot² ≥ cosNum²·‖a‖²·‖b‖²` (cosine ≥ cosNum/cosDen)
    * confirms. Output (v1, v2, dot, na, nb).
    */
  def embeddingNearDupPairs(n0: DataFrame, cosNum: Int = 2, cosDen: Int = 5,
      bucketCap: Int = BucketCap): DataFrame = {
    val n = GraftCache.track(n0)
    // candidate generation via the single-aggregation bucket collect;
    // the exact integer cosine recheck below still joins the (persisted)
    // quantized frame for both members' vectors
    val cand = bucketPairs(EmbeddingLsh.bands(n), Seq("k", "bv"), bucketCap,
        idCol = "vec_id")
      .select(col("d1").as("v1"), col("d2").as("v2"))
    cand
      .join(n.as("a"), col("v1") === col("a.vec_id"))
      .join(n.as("b"), col("v2") === col("b.vec_id"))
      .select(col("v1"), col("v2"),
        EmbeddingLsh.qdot(col("a.q"), col("b.q")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .filter(col("dot") >= 0 &&
        lit(cosDen * cosDen) * col("dot") * col("dot") >=
          lit(cosNum * cosNum) * col("na") * col("nb"))
  }

  // ---- shared exact-dedup representative + shingle pipeline --------------

  private val repSql =
    "rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)"

  /** (doc_id, h): 60-bit hashes of word-bigram shingles of each
    * representative document (byte-identical texts first collapse to
    * their min-id representative); docs with < 2 tokens dropped. Joining
    * on int64 hashes instead of raw shingle strings keeps shuffle keys
    * 8 bytes wide (reference relies on remote engines for this kind of
    * normalization; here it is explicit).
    *
    * `dedup=true` (the default) adds the per-document DISTINCT that set
    * semantics (Jaccard counting, document frequency) require — a
    * (doc_id, h) shuffle. MinHash passes `dedup=false`: MIN over each
    * permutation is idempotent under duplicates, so the distinct
    * shuffle would buy nothing (the map-side partial MIN already
    * collapses them for free).
    */
  def shinglesOf(c: DataFrame, dedup: Boolean = true): DataFrame = {
    // r20: all bigram-shingle hashes in ONE byte scan
    // ([[graft.functions.SpanHash]]) — the former chain materialized the
    // split array, built a concat string per position and re-parsed an
    // md5 HEX string per shingle (`conv`); the md5 values are unchanged
    // (SpanHashSpec pins equality with this exact chain), so every
    // downstream signature, band and oracle hash is byte-identical.
    // Docs with < 2 tokens yield an empty array ≡ the old size filter.
    val sh = c.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.SpanHash.span_hash60(col("text"), 2)).as("h"))
    if (dedup) sh.distinct() else sh
  }

  private val shinglesSql: String =
    repSql + ", " +
      "t AS (SELECT doc_id, string_split(text,' ') AS a FROM rep " +
      "WHERE len(string_split(text,' ')) >= 2), " +
      "sh AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, " +
      "unnest([('0x'||substr(md5(a[i]||' '||a[i+1]),1,15))::BIGINT " +
      "FOR i IN generate_series(1, len(a)-1)]) AS h FROM t))"

  /** The q42 oracle as a reusable CTE chain ending in `pairs(d1, d2)` —
    * the distinct MinHash-LSH candidate pairs. [[Cluster]]'s q74 oracle
    * extends it with the recursive component closure.
    */
  private[operators] val minhashPairsCtes: String = {
    val mins = (0 until MC.NumHashes)
      .map(j => s"MIN((${MC.A(j)}*hm+${MC.B(j)})%$P) AS m$j").mkString(", ")
    val bands = (0 until MC.NumHashes / MC.BandRows).map { k =>
      val ms = (0 until MC.BandRows).map(r => s"m${MC.BandRows * k + r}").mkString(", ")
      s"SELECT doc_id, $k AS band, concat_ws(',', $ms) AS sig FROM mh"
    }.mkString(" UNION ALL ")
    shinglesSql + ", " +
      s"hm AS (SELECT doc_id, h % $P AS hm FROM sh), " +
      s"mh AS (SELECT doc_id, $mins FROM hm GROUP BY doc_id), " +
      s"sig AS ($bands), " +
      s"sigf AS ${capBucketsSql("sig", BucketCap, "doc_id, band, sig", "band", "sig")}, " +
      "pairs AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2 FROM sigf x JOIN sigf y " +
      "ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)"
  }

  // Quantized embeddings + sign-LSH primitives live in [[EmbeddingLsh]]
  // (shared with the ANN similarity-search operators, q62/q63).
  import EmbeddingLsh.{quantized, quantizedSql, qdot, qdotSql}

  /** The q45 oracle as a reusable CTE chain over quantized-vector CTE
    * `src(vec_id, q, nrm)`, ending in `epairs(v1, v2, dot, na, nb)` —
    * the confirmed embedding near-dup pairs. [[Cluster]]'s q89 oracle
    * extends it with the recursive component closure (the embedding
    * twin of [[minhashPairsCtes]]); [[Curation]]'s q91 instantiates it
    * over the exact-dedup representatives only.
    */
  private[operators] def embPairsCtesFor(src: String): String = {
    // the bits/bd/bands chain is EmbeddingLsh.bandsSql — one rendering
    // of the sign-LSH geometry shared with the q63 ANN oracle
    EmbeddingLsh.bandsSql(src) + ", " +
      s"bandsf AS ${capBucketsSql("bands", BucketCap, "vec_id, k, bv", "k", "bv")}, " +
      "cand AS (SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2 FROM bandsf x JOIN bandsf y " +
      " ON x.k = y.k AND x.bv = y.bv AND x.vec_id < y.vec_id), " +
      "p AS (SELECT v1, v2, " + qdotSql("a.q", "b.q") + s" AS dot, a.nrm AS na, b.nrm AS nb " +
      s" FROM cand JOIN $src a ON v1 = a.vec_id JOIN $src b ON v2 = b.vec_id), " +
      "epairs AS (SELECT v1, v2, dot, na, nb FROM p " +
      " WHERE dot >= 0 AND 25 * dot * dot >= 4 * na * nb)"
  }

  /** [[embPairsCtesFor]] over the full quantized `embeddings` table. */
  private[operators] val embPairsCtes: String =
    quantizedSql + ", " + embPairsCtesFor("n")

  /** Tokens per span for [[dupSpans]]. */
  val SpanK = 8

  /** Per-document duplicated-span metrics — the exact-substring dedup
    * signal of Lee et al. ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): for each document, how many of
    * its k-token spans (positionally counted) also occur in at least
    * one OTHER document, plus an integer per-mille fraction. Unlike the
    * whole-document pipelines above this measures partial overlap —
    * boilerplate headers, templated passages — without any pairing.
    *
    * Scale shape: the span stream is ~tokens×1 rows but never joins on
    * strings — spans reduce to int64 hashes immediately; the
    * duplicated-hash set is ONE map-side-combinable min/max aggregate
    * over that stream, and the join back on `h` is an int64
    * shuffled-hash join AQE can skew-split. No driver-side state, no
    * window over an unbounded key, no per-(span, doc) intermediate.
    */
  def dupSpans(docs: DataFrame, k: Int = SpanK,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // tracked: the span stream feeds BOTH the dup-set aggregate and the
    // join probe; recomputing it means re-hashing every span, while the
    // materialized frame is two longs per span — the expensive-
    // recompute/small-rows case the r14 persist rule (CLAUDE.md) says to
    // cache (measured: q97 sf0.1 cold median 1.40 → 1.19 s; the q102
    // counter-case is a cheap scan). r20: the stream is ONE byte scan
    // per document ([[graft.functions.SpanHash]], hash values pinned
    // identical) — no split array, no per-span concat_ws string, no md5
    // hex reparse; short docs yield empty arrays ≡ the old size filter.
    val spans = graft.operators.GraftCache.track(t
      .select(col("doc_id"), explode(
        graft.functions.SpanHash.span_hash60(col("text"), k)).as("h")))
    // "Appears in ≥2 DISTINCT documents" is exactly min(doc) ≠ max(doc)
    // per span hash — one map-side-combinable aggregate over the raw
    // span stream (a span repeated only within one document keeps
    // min = max and is correctly not duplicated). Deliberately an
    // aggregate + join on h, NOT a window over h: a window group holds
    // a span's entire posting list in ONE task (a corpus-wide
    // boilerplate span = millions of buffered rows at scale, and
    // WindowExec gets no AQE skew handling), while the join's skewed
    // key is AQE-splittable. shuffle_hash hint: hashing the (smaller)
    // distinct-h side skips the two full span-stream sorts a sort-merge
    // join would pay (20× corpus: 44 s → 16.7 s with this plan).
    val dup = spans.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("h")
    val nd = spans.join(dup.hint("shuffle_hash"), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    // n_spans from the allocation-free token counter (≡ size(split)):
    // the only remaining consumer of the split array is gone with it
    t.select(col("doc_id"),
        greatest(graft.functions.TokenScan.token_count(col("text")) - (k - 1),
          lit(0)).cast("long").as("n_spans"))
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).cast("long").as("n_dup"),
        expr("(1000 * coalesce(n_dup, 0)) div greatest(n_spans, 1)")
          .cast("long").as("dup_permille"))
  }

  /** Exact-substring dedup REMOVAL — the step the Lee et al. pipeline
    * (arXiv:2107.06499) runs after measuring duplicated spans
    * ([[dupSpans]]): for each document, the maximal KEPT token ranges
    * once every k-token span that also occurs in another document is
    * removed. Emits one row per kept range, `(doc_id, kept_from,
    * kept_to)` in 1-based inclusive token positions — a document with
    * no cross-document spans keeps one full range, a fully-duplicated
    * document keeps none. Suffix-array-free: the reference pipeline
    * builds a corpus suffix array; here the same span-hash stream the
    * metrics use drives interval arithmetic instead.
    *
    * Scale shape: the positional span stream (3 int64s per span) feeds
    * the dup-set aggregate and the probe join exactly as in
    * [[dupSpans]] (same persist rule, same AQE-splittable int64 join);
    * the interval union + complement runs in per-DOCUMENT windows over
    * the DUPLICATED positions only — partitions bounded by document
    * length, the safe window regime (never a corpus-sized key).
    */
  def dupSpanRemoval(docs: DataFrame, k: Int = SpanK,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // tracked like q97's stream: feeds BOTH the dup-set aggregate and
    // the probe join; rows are three longs. r20: one byte scan per
    // document ([[graft.functions.SpanHash]], hash values pinned
    // identical) — the 1-based span position is the posexplode index + 1
    // (the expression emits spans in position order), so no per-span
    // struct, concat string or md5 hex reparse exists anywhere.
    val spans = graft.operators.GraftCache.track(t
      .select(col("doc_id"), posexplode(
        graft.functions.SpanHash.span_hash60(col("text"), k)).as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("i"), col("h")))
    val dup = spans.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("h")
    // duplicated span START positions per document (one span per
    // position, so no dedup needed)
    val dpos = spans.join(dup.hint("shuffle_hash"), "h").select("doc_id", "i")
    // interval complement DIRECTLY from consecutive dup positions: all
    // spans share length k, so coverage ends (i + k − 1) are MONOTONE in
    // i and the running coverage max is simply lag(i) + k − 1 — a kept
    // gap opens between consecutive positions iff i > lag(i) + k, and
    // the head gap [1, i₁−1] exists iff the first position i₁ > 1.
    // (The first cut built merged covered intervals with a
    // running-max window + groupBy + a second window over the merged
    // set; the monotonicity argument deletes both extra passes — at the
    // all-duplicated 100× stress point the dup-position stream is 50 M
    // rows, and the only remaining 50 M-row ops are ONE sort-window and
    // one max aggregate.)
    val wOrd = Window.partitionBy("doc_id").orderBy("i")
    val gaps = dpos
      .withColumn("kept_from",
        coalesce(lag(col("i"), 1).over(wOrd) + k, lit(1L)))
      .withColumn("kept_to", col("i") - 1)
      .filter(col("kept_to") >= col("kept_from"))
      .select(col("doc_id"), col("kept_from"), col("kept_to"))
    val n = t.select(col("doc_id"),
      graft.functions.TokenScan.token_count(col("text")).cast("long").as("n"))
    val mx = dpos.groupBy("doc_id").agg(max(col("i")).as("mi"))
    val tails = n.join(mx, "doc_id").filter(col("n") >= col("mi") + k)
      .select(col("doc_id"), (col("mi") + k).as("kept_from"), col("n").as("kept_to"))
    val untouched = n.join(mx, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("kept_from"), col("n").as("kept_to"))
    gaps.unionByName(tails).unionByName(untouched)
  }

  def queries: Seq[Q] = Seq(

    Q("q40_exact_dedup",
      "SELECT MIN(doc_id) AS survivor, COUNT(*) AS n_copies, " +
        h60Sql("text") + " AS fp FROM documents GROUP BY text ORDER BY survivor") { (s, dir) =>
      exactDedup(Tables.load(s, dir, "documents")).orderBy("survivor")
    },

    // Normalized exact dedup: same aggregate shape as q40 over the
    // case-folded / punctuation-stripped / whitespace-collapsed text.
    // `[^a-z0-9]+` means the same thing to Java regex and RE2, so both
    // engines produce identical normal forms.
    Q("q118_normalized_dedup",
      "WITH nrm AS (SELECT doc_id, text, " +
        "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents) " +
        "SELECT MIN(doc_id) AS survivor, COUNT(*) AS n_copies, " +
        "COUNT(DISTINCT text) AS n_variants, " +
        h60Sql("norm") + " AS fp FROM nrm GROUP BY norm ORDER BY survivor") { (s, dir) =>
      normalizedDedup(Tables.load(s, dir, "documents")).orderBy("survivor")
    },

    // Representative pairs with word-bigram Jaccard > 0.2 over shingles
    // with document frequency <= DfCap; threshold compared as
    // 5*|A∩B| > |A∪B| (exact integers).
    Q("q41_ngram_jaccard_pairs",
      "WITH " + shinglesSql + ", " +
        s"hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > $DfCap), " +
        "shf AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id), " +
        "inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i " +
        " FROM shf x JOIN shf y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT d1, d2, i AS n_inter, sx.n + sy.n - i AS n_union " +
        "FROM inter JOIN sz sx ON d1 = sx.doc_id JOIN sz sy ON d2 = sy.doc_id " +
        "WHERE i * 5 > sx.n + sy.n - i ORDER BY d1, d2") { (s, dir) =>
      jaccardPairs(Tables.load(s, dir, "documents")).orderBy("d1", "d2")
    },

    // MinHash (16 permutations computed as 16 MIN aggregates in ONE
    // groupBy — no row explosion) + banded LSH (4 bands × 4 rows):
    // candidate pairs are representatives agreeing on a full band.
    Q("q42_minhash_lsh",
      "WITH " + minhashPairsCtes +
        " SELECT d1, d2 FROM pairs ORDER BY d1, d2") { (s, dir) =>
      minhashLshPairs(Tables.load(s, dir, "documents")).orderBy("d1", "d2")
    },

    // MinHash calibration: per candidate pair, signature agreement
    // (the estimate's numerator) next to true shingle intersection and
    // union — the estimator-quality report, all integers.
    Q("q119_minhash_calibration", {
      val matchSum = (0 until MC.NumHashes)
        .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
      "WITH " + minhashPairsCtes + ", " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
        "ji AS (SELECT p.d1, p.d2, COUNT(*) AS i FROM pairs p " +
        " JOIN sh x ON x.doc_id = p.d1 " +
        " JOIN sh y ON y.doc_id = p.d2 AND x.h = y.h GROUP BY 1, 2), " +
        s"sm AS (SELECT p.d1, p.d2, ($matchSum)::BIGINT AS sig_matches FROM pairs p " +
        " JOIN mh a ON a.doc_id = p.d1 JOIN mh b ON b.doc_id = p.d2) " +
        "SELECT sm.d1, sm.d2, sm.sig_matches, COALESCE(ji.i, 0) AS n_inter, " +
        "sx.n + sy.n - COALESCE(ji.i, 0) AS n_union " +
        "FROM sm LEFT JOIN ji ON sm.d1 = ji.d1 AND sm.d2 = ji.d2 " +
        "JOIN sz sx ON sm.d1 = sx.doc_id JOIN sz sy ON sm.d2 = sy.doc_id " +
        "ORDER BY sm.d1, sm.d2"
    }) { (s, dir) =>
      minhashCalibration(Tables.load(s, dir, "documents")).orderBy("d1", "d2")
    },

    // Exact Levenshtein verification over the LSH candidate pairs:
    // candidates are probabilistic, the verdict is metric-exact. The
    // oracle recomputes the full pair pipeline plus DuckDB's own
    // levenshtein on the joined texts.
    Q("q116_neardup_verify",
      "WITH " + minhashPairsCtes +
        ", j AS (SELECT p.d1 AS d1, p.d2 AS d2, " +
        "levenshtein(a.text, b.text) AS dist, " +
        "greatest(len(a.text), len(b.text)) AS len_max " +
        "FROM pairs p JOIN documents a ON a.doc_id = p.d1 " +
        "JOIN documents b ON b.doc_id = p.d2) " +
        "SELECT d1, d2, dist, len_max, (dist * 4 <= len_max * 3) AS verified " +
        "FROM j ORDER BY d1, d2") { (s, dir) =>
      verifiedNearDups(Tables.load(s, dir, "documents")).orderBy("d1", "d2")
    },

    // KMV distinct-count sketch per source: a native Catalyst
    // TypedImperativeAggregate keeps only the k=8 smallest distinct
    // 60-bit text hashes per group (O(k) state at any cardinality,
    // mergeable map-side), and the estimate (k-1)·2^60 / kth is exact
    // IEEE arithmetic over exactly-representable values — so even the
    // sketch hash-matches the DuckDB oracle (which computes the same
    // k-th minimum with a window rank).
    Q("q46_kmv_sketch",
      "WITH h AS (SELECT DISTINCT source, " + h60Sql("text") + " AS h FROM documents), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h), " +
        "kt AS (SELECT source, h AS kth FROM r WHERE rn = 8), " +
        "nx AS (SELECT source, COUNT(DISTINCT text) AS n_exact FROM documents GROUP BY source) " +
        "SELECT nx.source AS source, n_exact, kth, " +
        "(7::DOUBLE * 1152921504606846976::DOUBLE) / kth::DOUBLE AS est " +
        "FROM nx JOIN kt ON nx.source = kt.source ORDER BY nx.source") { (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(
          countDistinct(col("text")).as("n_exact"),
          graft.functions.KmvSketch.kth_min(h60(col("text")), 8).as("kth"))
        .filter(col("kth").isNotNull)
        .select(col("source"), col("n_exact"), col("kth"),
          (lit(7.0 * 1152921504606846976.0) / col("kth").cast("double")).as("est"))
        .orderBy("source")
    },

    // The SAME sketch computed through the pure-SQL surface: the
    // GraftExtensions-registered graft_h60 / graft_kmv_kth_min
    // functions, exercised end-to-end by spark.sql text (the entry
    // point a SQL-only user of the engine gets). Same oracle shape as
    // q46 — the two entry points must agree with DuckDB AND each other.
    Q("q114_sql_surface",
      "WITH h AS (SELECT DISTINCT source, " + h60Sql("text") + " AS h FROM documents), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h), " +
        "kt AS (SELECT source, h AS kth FROM r WHERE rn = 8) " +
        "SELECT source, kth FROM kt ORDER BY source") { (s, dir) =>
      Tables.load(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql("""SELECT source, graft_kmv_kth_min(graft_h60(text), 8) AS kth
              |FROM graft_documents GROUP BY source
              |HAVING kth IS NOT NULL ORDER BY source""".stripMargin)
    },

    // 60-bit SimHash: per-token 60-bit hash, token-frequency-weighted
    // sign vote per bit position.
    Q("q43_simhash",
      // the tok/th/bits/sh chain is simhashSql — ONE rendering of the
      // SimHash vote arithmetic, shared with q44 and q80's oracles
      "WITH " + simhashSql("documents", "") +
        " SELECT doc_id, simhash FROM sh ORDER BY doc_id") { (s, dir) =>
      simhashOf(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Candidate pairs: equal 15-bit chunk (pigeonhole over 4 chunks
    // guarantees recall for hamming ≤ 3), then exact hamming ≤ 8 filter.
    Q("q44_simhash_pairs",
      "WITH " + simhashSql("documents", "") + ", " +
        "ch AS (SELECT doc_id, simhash, k, (simhash >> (15 * k)) & 32767 AS cv " +
        " FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)), " +
        s"chf AS ${capBucketsSql("ch", BucketCap, "doc_id, simhash, k, cv", "k", "cv")}, " +
        "cand AS (SELECT DISTINCT x.doc_id AS d1, x.simhash AS h1, y.doc_id AS d2, y.simhash AS h2 " +
        " FROM chf x JOIN chf y ON x.k = y.k AND x.cv = y.cv AND x.doc_id < y.doc_id) " +
        "SELECT d1, d2, bit_count(xor(h1, h2))::BIGINT AS hamm FROM cand " +
        "WHERE bit_count(xor(h1, h2)) <= 8 ORDER BY d1, d2") { (s, dir) =>
      simhashPairs(Tables.load(s, dir, "documents")).orderBy("d1", "d2")
    },

    // Incremental dedup: the new batch (every 5th doc_id) admitted
    // against the existing corpus — exact-fp anti-join plus bipartite
    // SimHash pigeonhole + hamming gate.
    Q("q80_incremental_dedup",
      "WITH oldc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0), " +
        "oldfp AS (SELECT DISTINCT " + h60Sql("text") + " AS fp FROM oldc), " +
        "fresh AS (SELECT doc_id, text, " + h60Sql("text") + " AS fp FROM documents " +
        " WHERE doc_id % 5 = 0 AND " + h60Sql("text") + " NOT IN (SELECT fp FROM oldfp)), " +
        simhashSql("fresh", "n") + ", " + simhashSql("oldc", "o") + ", " +
        "nch AS (SELECT doc_id, simhash, k, (simhash >> (15 * k)) & 32767 AS cv " +
        " FROM nsh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)), " +
        "och AS (SELECT doc_id, simhash, k, (simhash >> (15 * k)) & 32767 AS cv " +
        " FROM osh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)), " +
        s"nchf AS ${capBucketsSql("nch", BucketCap, "doc_id, simhash, k, cv", "k", "cv")}, " +
        s"ochf AS ${capBucketsSql("och", BucketCap, "doc_id, simhash, k, cv", "k", "cv")}, " +
        "near AS (SELECT DISTINCT x.doc_id FROM nchf x JOIN ochf y " +
        " ON x.k = y.k AND x.cv = y.cv " +
        " WHERE bit_count(xor(x.simhash, y.simhash)) <= 8) " +
        "SELECT doc_id, fp FROM fresh WHERE doc_id NOT IN (SELECT doc_id FROM near) " +
        "ORDER BY doc_id") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      incrementalDedup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0)).orderBy("doc_id")
    },

    // Embedding near-dup, sub-quadratic: sign-LSH banding over fixed
    // hyperplanes generates candidates; the exact int64 cosine test
    //   dot ≥ 0  AND  25·dot² ≥ 4·‖a‖²·‖b‖²   (0.4² = 4/25)
    // confirms them. No cross join anywhere in the plan.
    Q("q45_embedding_neardup",
      "WITH " + embPairsCtes +
        " SELECT v1, v2, dot, na, nb FROM epairs ORDER BY v1, v2") { (s, dir) =>
      embeddingNearDupPairs(quantized(s, dir)).orderBy("v1", "v2")
    },

    // Duplicated-span metrics: positional count of 8-token spans that
    // occur in more than one document (exact-substring dedup signal,
    // Lee et al. arXiv:2107.06499), with an integer per-mille fraction.
    Q("q97_dup_spans",
      "WITH t AS (SELECT doc_id, string_split(text,' ') AS a FROM documents), " +
        "sp AS (SELECT doc_id AS sd, unnest([" +
        h60Sql(s"array_to_string(a[i:i+${SpanK - 1}],' ')") +
        s" FOR i IN generate_series(1, len(a)-${SpanK - 1})]) AS h " +
        s"FROM t WHERE len(a) >= $SpanK), " +
        "dup AS (SELECT h FROM sp GROUP BY h HAVING MIN(sd) <> MAX(sd)), " +
        "nd AS (SELECT sd, COUNT(*)::BIGINT AS n_dup FROM sp " +
        "WHERE h IN (SELECT h FROM dup) GROUP BY sd) " +
        s"SELECT t.doc_id, GREATEST(len(a)-${SpanK - 1}, 0)::BIGINT AS n_spans, " +
        "COALESCE(nd.n_dup, 0)::BIGINT AS n_dup, " +
        s"(1000 * COALESCE(nd.n_dup,0) // GREATEST(len(a)-${SpanK - 1},1))::BIGINT " +
        "AS dup_permille FROM t LEFT JOIN nd ON t.doc_id = nd.sd " +
        "ORDER BY t.doc_id") { (s, dir) =>
      dupSpans(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Exact-substring dedup REMOVAL (the Lee et al. pipeline's second
    // half): per-document kept token ranges after every cross-document
    // 8-token span is cut — q97's span CTE extended with positional
    // interval union + complement. sp is referenced by both the dup-set
    // build and the probe → AS MATERIALIZED (DuckDB per-reference
    // inlining rule).
    Q("q156_dup_span_removal",
      "WITH t AS (SELECT doc_id, string_split(text,' ') AS a FROM documents), " +
        "sp AS MATERIALIZED (SELECT doc_id AS sd, unnest([{'i': i, 'h': " +
        h60Sql(s"array_to_string(a[i:i+${SpanK - 1}],' ')") +
        s"} FOR i IN generate_series(1, len(a)-${SpanK - 1})]) AS x " +
        s"FROM t WHERE len(a) >= $SpanK), " +
        "spp AS (SELECT sd, x.i AS i, x.h AS h FROM sp), " +
        "dup AS (SELECT h FROM spp GROUP BY h HAVING MIN(sd) <> MAX(sd)), " +
        "dpos AS (SELECT sd, i FROM spp WHERE h IN (SELECT h FROM dup)), " +
        s"g AS (SELECT sd, i, CASE WHEN i > COALESCE(MAX(i+${SpanK - 1}) " +
        "OVER (PARTITION BY sd ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND 1 PRECEDING), 0) + 1 THEN 1 ELSE 0 END AS brk FROM dpos), " +
        "gg AS (SELECT sd, i, SUM(brk) OVER (PARTITION BY sd ORDER BY i " +
        "ROWS UNBOUNDED PRECEDING) AS grp FROM g), " +
        s"cov AS (SELECT sd, grp, MIN(i) AS cs, MAX(i)+${SpanK - 1} AS ce " +
        "FROM gg GROUP BY sd, grp), " +
        "gaps AS (SELECT sd, COALESCE(LAG(ce) OVER (PARTITION BY sd " +
        "ORDER BY cs), 0) + 1 AS kept_from, cs - 1 AS kept_to FROM cov), " +
        "mx AS (SELECT sd, MAX(ce) AS mce FROM cov GROUP BY sd), " +
        "tl AS (SELECT t.doc_id AS sd, mce + 1 AS kept_from, len(a) AS kept_to " +
        "FROM t JOIN mx ON t.doc_id = mx.sd WHERE len(a) > mce), " +
        "fl AS (SELECT doc_id AS sd, 1 AS kept_from, len(a) AS kept_to FROM t " +
        "WHERE doc_id NOT IN (SELECT sd FROM mx)) " +
        "SELECT sd AS doc_id, kept_from::BIGINT AS kept_from, kept_to::BIGINT AS kept_to " +
        "FROM (SELECT * FROM gaps WHERE kept_to >= kept_from " +
        "UNION ALL SELECT * FROM tl UNION ALL SELECT * FROM fl) " +
        "ORDER BY doc_id, kept_from") { (s, dir) =>
      dupSpanRemoval(Tables.load(s, dir, "documents"))
        .orderBy("doc_id", "kept_from")
    }
  )

}
