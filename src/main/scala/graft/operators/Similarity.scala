package graft.operators

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding
  * column — the first-class search operator the near-dup join (q45) is
  * not: given a query set, return each query's top-k neighbors by
  * cosine.
  *
  * Public library surface: [[annBruteForce]], [[annLsh]], [[annIvf]],
  * each over a [[EmbeddingLsh.quantize]]d frame `(vec_id, q, nrm)` and a
  * query predicate. The q62/q63/q70 gate entries below are these
  * operators instantiated on the `embeddings` test table.
  *
  * Three variants, as the brief requires:
  *   - q62 brute-force: exact top-k baseline. Query set broadcast, one
  *     pass over the vectors, per-query TopK window. O(N·Q) — the
  *     correctness yardstick and still the right plan when Q is small
  *     (the fact table is read once, never shuffled except the tiny
  *     result).
  *   - q63 LSH-bucketed: the scale path. Candidates = vectors sharing a
  *     sign-LSH band with the query ([[EmbeddingLsh]], same 8×6
  *     geometry as q45), ranked by exact cosine. Work is proportional
  *     to bucket collisions, not N·Q; recall < 1 by construction and
  *     rises with similarity (documented LSH property).
  *   - q70 IVF (inverted file): the second scale path. A coarse
  *     quantizer (sampled seed centroids — the standard practice at
  *     corpus scale, where k-means itself trains on a sample) assigns
  *     every vector to its nearest cell in ONE broadcast pass whose
  *     argmax folds map-side (no N×C shuffle); queries probe their
  *     NProbe nearest cells and exact-rank only those cells' members,
  *     so work is ~N·Q·NProbe/C. Recall < 1 when a true neighbor lands
  *     in an unprobed cell — the documented IVF trade.
  *
  * Cross-engine exactness: cosine = dot / sqrt(na·nb) where dot, na, nb
  * are exact int64 < 2^53 — one division + one sqrt, both correctly
  * rounded by IEEE 754, so BOTH engines produce bit-identical doubles
  * and the top-k cut (with vec_id tiebreak) is deterministic.
  */
object Similarity {
  import EmbeddingLsh._

  /** Every vector with `vec_id % QueryStride == 0` is a query. */
  val QueryStride = 250
  val TopK = 10

  /** IVF geometry: seed centroids are vectors with
    * `vec_id % CentroidStride == 0`; each query probes NProbe cells.
    */
  val CentroidStride = 100
  val NProbe = 2

  /** k-means training geometry for the q78 gate. */
  val KmeansK = 8
  val KmeansIters = 2

  private val cosSql =
    s"(${qdotSql("qs.qq", "n.q")})::DOUBLE / sqrt((qs.qn * n.nrm)::DOUBLE)"

  private def cosOf(q: Column, nrm: Column, cq: Column, cn: Column): Column =
    qdot(q, cq).cast("double") / sqrt((nrm * cn).cast("double"))

  private def topK(p: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "cos")
      .orderBy("qid", "vec_id")
  }

  /** Exact-cosine re-rank of (qid, vec_id) candidate pairs against the
    * quantized frame `n`, shared by the LSH and IVF ANN paths so a
    * change to the re-rank (ties, persists) cannot diverge them.
    */
  private def rerank(cand: DataFrame, n: DataFrame, k: Int): DataFrame = {
    val p = cand
      .join(n.select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn")), Seq("qid"))
      .join(n, Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        cosOf(col("qq"), col("qn"), col("q"), col("nrm")).as("cos"))
    topK(p, k)
  }

  /** Exact top-k cosine neighbors of every vector satisfying `isQuery`
    * (a predicate over `vec_id`). `n` is a quantized (vec_id, q, nrm)
    * frame. The query set is broadcast; the vector set streams once.
    */
  def annBruteForce(n: DataFrame, isQuery: Column, k: Int = TopK): DataFrame = {
    val qs = n.filter(isQuery)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val p = n.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosOf(col("qq"), col("qn"), col("q"), col("nrm")).as("cos"))
    topK(p, k)
  }

  /** Sign-LSH-bucketed top-k: candidates share a band value with the
    * query, oversized buckets dropped ([[Dedup.BucketCap]]), exact
    * cosine re-rank. Sub-quadratic at any corpus size.
    */
  def annLsh(n0: DataFrame, isQuery: Column, k: Int = TopK,
      bucketCap: Int = Dedup.BucketCap): DataFrame = {
    val n = GraftCache.track(n0)
    // persisted: the 48-hyperplane signature pass runs once, not once
    // per self-join side; oversized buckets dropped (Dedup.BucketCap)
    // so a degenerate band value cannot emit O(B²) candidates
    val bds = Dedup.capBuckets(
      GraftCache.track(bands(n)), bucketCap, "k", "bv")
    val qb = bds.filter(isQuery)
      .select(col("vec_id").as("qid"), col("k"), col("bv"))
    val cand = qb.join(bds.as("vb"),
        qb("k") === col("vb.k") && qb("bv") === col("vb.bv") &&
          col("vb.vec_id") =!= qb("qid"))
      .select(col("qid"), col("vb.vec_id").as("vec_id"))
      .distinct()
    rerank(cand, n, k)
  }

  /** IVF top-k: vectors satisfying `isCentroid` seed the coarse
    * quantizer; every vector joins its nearest cell (ONE broadcast
    * pass, map-side argmax); queries probe their `nprobe` nearest
    * cells and exact-rank only those members.
    */
  def annIvf(n0: DataFrame, isQuery: Column, isCentroid: Column,
      nprobe: Int = NProbe, k: Int = TopK): DataFrame = {
    val n = GraftCache.track(n0)
    val cents = n.filter(isCentroid)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cn"))
    // Cell assignment: centroids broadcast, argmax folds map-side via
    // partial max(struct) — the N×C pair stream never crosses the
    // wire, only one row per vector does. Ties break to the larger
    // cid (struct ordering), mirrored by the oracle's cid DESC.
    val asg = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosOf(col("q"), col("nrm"), col("cq"), col("cn")).as("cos"))
      .groupBy("vec_id").agg(max(struct(col("cos"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    val qs = n.filter(isQuery)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val wp = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    val probes = qs.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        cosOf(col("qq"), col("qn"), col("cq"), col("cn")).as("cos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe).select("qid", "cid")
    // probed cells → candidate members; assignment is unique per
    // vector and probes unique per (qid, cell), so no distinct needed
    val cand = probes.join(asg, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    rerank(cand, n, k)
  }

  /** Integer-exact k-means (Lloyd) TRAINING for the IVF coarse
    * quantizer — the step q70 samples its way around: `iters` rounds of
    * assign + centroid update over a quantized (vec_id, q, nrm) frame,
    * returning the final per-vector assignment (vec_id, cell, dist).
    *
    * Scale shape per round:
    *   - ASSIGNMENT is a narrow, shuffle-free projection: the k
    *     centroids are driver-collected model state (k rows — the same
    *     pattern MLlib's KMeans uses) baked in as LITERALS, so each
    *     vector computes its k distances with the codegen'd [[qdot]]
    *     and takes `array_min` over (dist, cell) structs. The corpus
    *     never shuffles to be assigned.
    *   - UPDATE is ONE map-side-combinable aggregation: 64 per-component
    *     SUMs + a COUNT per cell (the SimHash 60-column trick), then
    *     the new centroid is the TRUNCATING integer mean `sum div cnt`
    *     — Spark's `div` and DuckDB's `//` both truncate toward zero,
    *     so centroids stay bit-identical cross-engine and the whole
    *     training run is hash-matchable (no floating point anywhere).
    *   - Cells that lose all members keep their previous centroid.
    *
    * Distances are squared L2 over int64: ‖v‖² − 2·v·c + ‖c‖², exact.
    * Ties break to the smaller cell id via the struct ordering.
    */
  def kmeansAssign(n0: DataFrame, k: Int = KmeansK,
      iters: Int = KmeansIters): DataFrame = GraftCache.scoped {
    val n = GraftCache.track(n0)
    // deterministic seeds: the k smallest vec_ids
    var cents: Array[(Long, Seq[Long], Long)] = n.orderBy("vec_id").limit(k)
      .select("vec_id", "q", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    def assign(): DataFrame = {
      val entries = cents.map { case (cell, cq, cn) =>
        struct((col("nrm") - lit(2L) * qdot(col("q"), typedLit(cq)) + lit(cn)).as("d"),
          lit(cell).as("c"))
      }
      n.withColumn("m", array_min(array(entries.toIndexedSeq: _*)))
        .select(col("vec_id"), col("q"), col("m.c").as("cell"), col("m.d").as("dist"))
    }
    val dims = cents.head._2.length
    for (_ <- 1 until iters) {
      val sums = (0 until dims).map(i => sum(expr(s"element_at(q, ${i + 1})")).as(s"s$i"))
      val upd = assign().groupBy("cell")
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .select(col("cell"),
          array((0 until dims).map(i => expr(s"s$i div cnt")): _*).as("q"))
        .withColumn("nrm", expr("aggregate(q, cast(0 AS bigint), (acc, x) -> acc + x * x)"))
        .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
      cents = cents.map { case (cell, q0, nrm0) =>
        upd.get(cell).map { case (q1, nrm1) => (cell, q1, nrm1) }
          .getOrElse((cell, q0, nrm0))
      }
    }
    assign().select("vec_id", "cell", "dist")
  }

  /** Histogram bins per cluster for [[semanticOutliers]]'s threshold
    * selection: bin width is `max((max-min) div ProtoBins, 1)` per
    * cell, so the histogram is bounded at ~4096 rows per cluster at ANY
    * distance scale (and degrades to exact-distance granularity when
    * the cluster's spread is under 4096).
    */
  val ProtoBins: Long = 4096L

  /** Per-mille of each cluster flagged prototypical (the decile). */
  val ProtoPermille = 100

  /** Per-cluster prototypicality flags — the data-pruning signal of
    * Sorscher et al. ("Beyond neural scaling laws", arXiv:2206.14486):
    * within each k-means cluster, the vectors closest to their centroid
    * are the prototypical/redundant examples a pruning pass drops
    * first. Emits (vec_id, cell, dist, proto) with proto = 1 for the
    * nearest ~10% (tie-inclusive).
    *
    * Scale shape: assignment is [[kmeansAssign]]'s shuffle-free
    * literal-centroid projection; the decile threshold is selected on a
    * per-cell HISTOGRAM of binned distances — per-cell min/max is one
    * k-row aggregate that broadcasts back, binning is `(dist - mn) div
    * width` with width = `max((mx-mn) div` [[ProtoBins]]`, 1)`, and one
    * map-side-combinable aggregation collapses the corpus to ≤4096
    * (cell, bin) counts per cluster, so the quantile never sorts or
    * buffers per-vector distances (the lengthQuantiles rank trick,
    * binned because squared distances are near-unique); the k-row
    * threshold table broadcasts back. Bin-granularity ties keep
    * selection pure-integer and engine-exact.
    */
  /** SemDeDup similarity threshold for the q164 gate, probed on the
    * testdata embeddings (within-cell cosine p99 ≈ 0.33, max ≈ 0.51 on
    * this near-random corpus): 0.30 drops a real ~1–2% tail without
    * emptying a cell. Production embedding spaces cluster far tighter —
    * the paper's operating range is 1 − ε ≈ 0.95+; the threshold is the
    * caller's knob.
    */
  val SemDedupThr = 0.30

  /** SemDeDup — SEMANTIC deduplication by cluster-scoped pairwise
    * similarity (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540 §2):
    * k-means the corpus, compare pairs only WITHIN a cluster, and drop
    * every vector whose cosine to an earlier-ranked cluster member
    * reaches `thr` — keeping, per duplicate group, the member FARTHEST
    * from its centroid (the paper's "keep low-centroid-similarity"
    * choice: hard examples survive, prototypical copies drop). The
    * paper's matrix formulation compares against ALL earlier-ranked
    * members, kept or dropped — mirrored here (documented choice, same
    * as theirs).
    *
    * Output (vec_id, cell, dist, kept) for every vector; kept = 1 for
    * survivors.
    *
    * Scale shape: the composition VERDICT r17 #8 sketched, entirely
    * from shipped parts — [[kmeansAssign]]'s shuffle-free
    * literal-centroid assignment, ONE per-cell rank window, and a
    * cell-keyed equi self-join (never a cartesian): the quadratic term
    * is per-cell (N/k)², bounded by k — the paper's own knob (they run
    * 50k clusters at web scale). All inputs to the threshold compare
    * are exact int64 → one IEEE division each, so both engines cut the
    * same pairs bit-for-bit.
    */
  def semDeDup(n0: DataFrame, k: Int = KmeansK, iters: Int = KmeansIters,
      thr: Double = SemDedupThr): DataFrame = {
    val n = GraftCache.track(n0)
    semDeDupFlags(kmeansAssign(n, k, iters).join(n, "vec_id"), thr)
  }

  /** The per-cell keep/drop decision over an assigned member frame
    * (vec_id, cell, dist, q, nrm) — the shared core of [[semDeDup]],
    * [[semDeDupWith]], and the streaming incremental form
    * (`EventStream.semDeDupTo` recomputes exactly the TOUCHED cells'
    * flags through this same code, so streamed ≡ batch by
    * construction). The decision is strictly per-cell: a cell's flags
    * depend only on that cell's members, which is what makes the
    * cell-scoped incremental recompute exact.
    */
  private[graft] def semDeDupFlags(members: DataFrame,
      thr: Double): DataFrame = {
    val w = Window.partitionBy("cell").orderBy(col("dist").desc, col("vec_id"))
    // persisted: the ranked assignment feeds both self-join sides and
    // the output join
    val l = GraftCache.track(members
      .select("vec_id", "cell", "dist", "q", "nrm")
      .withColumn("rnk", row_number().over(w)))
    val dup = l.as("i").join(l.as("j"),
        col("i.cell") === col("j.cell") && col("j.rnk") < col("i.rnk"))
      .filter(cosOf(col("i.q"), col("i.nrm"), col("j.q"), col("j.nrm")) >= thr)
      .select(col("i.vec_id").as("vec_id")).distinct()
    l.join(dup.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dist"),
        when(col("dup").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** [[semDeDup]]'s CORPUS-SCALE form: assignment over an explicit
    * trained centroid frame ([[ivfTrainCents]] — C cells as a frame,
    * broadcast argmin, never driver literals) instead of the gate's
    * literal-centroid [[kmeansAssign]]. The paper runs 50k clusters at
    * web scale precisely because the per-cell quadratic term is the
    * cost: with C = √N the total pair work is N^1.5 — the same
    * assignment arithmetic (exact int64 d², ties to the smaller cid),
    * so AlgorithmPropertySpec pins this form against a sequential
    * reference over the same trained centroids.
    */
  def semDeDupWith(n0: DataFrame, cents: DataFrame,
      thr: Double = SemDedupThr): DataFrame = {
    val n = GraftCache.track(n0)
    semDeDupFlags(ivfAssign(n, cents).select("vec_id", "cell", "dist")
      .join(n, "vec_id"), thr)
  }

  def semanticOutliers(n0: DataFrame, k: Int = KmeansK, iters: Int = KmeansIters,
      permille: Int = ProtoPermille): DataFrame = {
    val a = kmeansAssign(n0, k, iters)
    val mm = a.groupBy("cell").agg(min(col("dist")).as("mn"), max(col("dist")).as("mx"))
      .withColumn("w", greatest(expr(s"(mx - mn) div $ProtoBins"), lit(1L)))
      .select("cell", "mn", "w")
    val ab = a.join(broadcast(mm), "cell")
      .withColumn("b", expr("(dist - mn) div w"))
    val g = ab.groupBy(col("cell"), col("b")).agg(count(lit(1)).as("cnt"))
    val cum = g.withColumn("cum", sum(col("cnt")).over(
      org.apache.spark.sql.expressions.Window.partitionBy("cell").orderBy("b")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val tot = g.groupBy("cell").agg(sum(col("cnt")).as("tot"))
    val th = cum.join(tot, "cell")
      .filter(col("cum") * 1000 >= col("tot") * permille)
      .groupBy("cell").agg(min(col("b")).as("bth"))
    ab.join(broadcast(th), "cell")
      .select(col("vec_id"), col("cell"), col("dist"),
        when(col("b") <= col("bth"), 1).otherwise(0).as("proto"))
  }

  /** PQ geometry (q158): m subspaces × ksub codes, trained with
    * [[PqIters]] integer-Lloyd rounds per subspace (seeds + 1 update,
    * the [[KmeansIters]] convention). 64 dims / 8 = 8-dim subspaces;
    * a code table is m·ksub·dsub = 1024 driver longs.
    */
  val PqM = 8
  val PqKsub = 16
  val PqIters = 2

  /** Per-subspace PQ codebooks over a quantized (vec_id, q, nrm) frame
    * — the training half of [[pqAdc]] (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", PAMI 2011 §II): m
    * independent k-means over the (dims/m)-dim sub-vectors, each trained with
    * the SAME integer-Lloyd discipline as [[kmeansAssign]] (truncating
    * `div` means, empty cells keep their previous centroid, ties to the
    * smaller code), so the whole table is bit-identical cross-engine.
    * Seeds per subspace are the sub-vectors of the ksub SMALLEST
    * vec_ids, codes numbered by that order (positional — the LUT index).
    *
    * Returns books(s)(c) = (coords, nrm): m·ksub·dsub driver longs —
    * k-bounded model state, the k-means-centroid policy.
    *
    * Scale shape per subspace per round: assignment is the shuffle-free
    * literal-centroid projection; the update is ONE map-side-combinable
    * aggregation (dsub SUMs + COUNT per code). m and iters are
    * constants, so training is a constant number of corpus passes over
    * the (persisted) quantized frame.
    */
  def pqTrain(n: DataFrame, m: Int = PqM, ksub: Int = PqKsub,
      iters: Int = PqIters): Array[Array[(Seq[Long], Long)]] = {
    val seeds = n.orderBy("vec_id").limit(ksub).select("q").collect()
      .map(_.getSeq[Long](0))
    require(seeds.nonEmpty, "pq: empty corpus")
    val dims = seeds.head.length
    require(dims % m == 0, s"pq: $dims dims not divisible by $m subspaces")
    val dsub = dims / m
    // books(s)(code) = (coords, nrm); seeds positionally coded
    var books: Array[Array[(Seq[Long], Long)]] = Array.tabulate(m) { s =>
      seeds.map { q =>
        val cq = q.slice(s * dsub, (s + 1) * dsub)
        (cq, cq.map(x => x * x).sum)
      }
    }
    // every Lloyd round is ONE job over the corpus: each row explodes
    // into m (subspace, code, sub-vector) structs — the argmin against
    // that subspace's literal centroids computed inline — and a single
    // map-side-combinable aggregation keyed by (s, code) folds all
    // m·ksub centroid updates at once (r16: the per-subspace loop ran m
    // serial aggregation jobs and made q158 the suite's slowest query;
    // job-launch overhead, not arithmetic, was the cost). The slice/norm
    // subtrees are FACTORED into per-subspace columns ([[pqSubCols]]):
    // embedding them per codebook entry made the expression tree m·ksub
    // slices+aggregates wide, and q158/q159's ~2 s data-independent price
    // was Catalyst walking it (r17 A/B in BASELINE).
    for (_ <- 1 until iters) {
      val structs = (0 until m).map { s =>
        val sq = col(s"_sq$s")
        val sn = col(s"_sn$s")
        val entries = books(s).zipWithIndex.map { case ((cq, cn), code) =>
          struct((sn - lit(2L) * EmbeddingLsh.qdot(sq, typedLit(cq)) + lit(cn)).as("d"),
            lit(code).as("c"))
        }
        struct(lit(s).as("s"),
          array_min(array(entries.toIndexedSeq: _*)).getField("c").as("code"),
          sq.as("sq"))
      }
      val sums = (0 until dsub).map(i =>
        sum(expr(s"element_at(sq, ${i + 1})")).as(s"s$i"))
      val upd = pqSubCols(n, m, dsub).select(explode(array(structs: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"), col("e.sq").as("sq"))
        .groupBy("s", "code")
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .select(col("s"), col("code"),
          array((0 until dsub).map(i => expr(s"s$i div cnt")): _*).as("cq"))
        .withColumn("cn", expr("aggregate(cq, cast(0 AS bigint), (acc, x) -> acc + x * x)"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getSeq[Long](2), r.getLong(3))))
        .toMap
      books = Array.tabulate(m) { s =>
        books(s).zipWithIndex.map { case (prev, code) =>
          upd.getOrElse((s, code), prev) // empty cells keep their centroid
        }
      }
    }
    books
  }

  /** PQ-encode a quantized frame against trained codebooks: a pure
    * shuffle-free projection (vec_id, codes[m]) — each subspace's code
    * is an argmin over ksub LITERAL centroids via the codegen'd
    * [[EmbeddingLsh.qdot]], ties to the smaller code. The compressed
    * representation a vector store ships: m bytes/vector at ksub ≤ 256
    * (the q47 SQ8 discipline, per-subspace-adaptive instead of
    * per-dimension).
    */
  /** Per-subspace slice + squared-norm columns `_sq{s}`/`_sn{s}` over
    * `vecCol` — factored ONCE here instead of being re-embedded in
    * every codebook-entry expression: the m·ksub-wide trees the inline
    * form produced cost ~2 s of data-independent Catalyst walk per
    * query (r17 A/B, BASELINE "pq tree factoring").
    */
  private def pqSubCols(df: DataFrame, m: Int, dsub: Int,
      vecCol: String = "q"): DataFrame =
    df.select(df.columns.map(col) ++ (0 until m).flatMap { s =>
      Seq(slice(col(vecCol), s * dsub + 1, dsub).as(s"_sq$s"),
        expr(s"aggregate(slice($vecCol, ${s * dsub + 1}, $dsub), " +
          "cast(0 AS bigint), (acc, x) -> acc + x * x)").as(s"_sn$s"))
    }: _*)

  def pqEncode(n: DataFrame, books: Array[Array[(Seq[Long], Long)]],
      keep: Seq[String] = Nil): DataFrame = {
    val m = books.length
    val dsub = books(0)(0)._1.length
    val codeCols = (0 until m).map { s =>
      val sq = col(s"_sq$s")
      val sn = col(s"_sn$s")
      val entries = books(s).zipWithIndex.map { case ((cq, cn), code) =>
        struct((sn - lit(2L) * EmbeddingLsh.qdot(sq, typedLit(cq)) + lit(cn)).as("d"),
          lit(code).as("c"))
      }
      array_min(array(entries.toIndexedSeq: _*)).getField("c")
    }
    pqSubCols(n, m, dsub)
      .select(col("vec_id") +: array(codeCols: _*).as("codes")
        +: keep.map(col): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k search (Jégou et al. PAMI 2011
    * §III.B): every database vector is compressed to m codes; each
    * query builds its m×ksub lookup table of EXACT int64 sub-distances
    * to every centroid, and a vector's approximate squared L2 distance
    * is the sum of m table lookups — no decompression, no per-pair dot
    * product. Output (qid, vec_id, adc), k rows per query, ascending
    * distance (ties to the smaller vec_id).
    *
    * Scale shape: training is [[pqTrain]]'s constant corpus passes;
    * encoding is a shuffle-free projection; the query side (queries ×
    * their 64-long LUT arrays) BROADCASTS against the encoded fact
    * stream, and the per-pair work is m array lookups + (m−1) integer
    * adds — the compressed-domain scan that makes ADC the memory-bound
    * regime's winner at corpus scale. The per-query top-k window is the
    * same shared machinery as q62/q63/q70 (the pair stream is the
    * shuffle, exactly the brute-force baseline's shape, but each pair
    * costs 4 lookups instead of a 64-dim dot and the scanned table is
    * m codes instead of 64 coords).
    *
    * Cross-engine exactness: coords, centroids, LUT entries and ADC
    * sums are all int64 (< 2^32 here) — no floating point anywhere, so
    * the DuckDB oracle hash-matches bit-for-bit including every
    * tiebreak.
    *
    * Recall regime (the annLsh/annIvf honesty note): the gate corpus is
    * near-orthogonal unit-norm noise, the hardest case for any coded
    * index — true neighbors are barely closer than random, so 32-bit
    * codes land recall@10 ≈ 0.3 there (probed m/ksub sweeps: m 4→8
    * moved 6/20→7/20, ksub 16→32 nothing). On clustered data the codes
    * separate cleanly — OperatorApiSpec pins that every top-10 entry of
    * a 3-cluster corpus stays in the query's cluster (within-cluster
    * ordering is jitter-sized, below any code's resolution by
    * construction) — which is the property the measurement operator
    * exists to expose per-dataset.
    */
  def pqAdc(n0: DataFrame, isQuery: Column, m: Int = PqM, ksub: Int = PqKsub,
      iters: Int = PqIters, k: Int = TopK): DataFrame = {
    val n = GraftCache.track(n0)
    val books = pqTrain(n, m, ksub, iters)
    val dsub = books(0)(0)._1.length
    // a corpus smaller than ksub trains fewer codes — the LUT offsets
    // must use the EFFECTIVE codebook size or every subspace past the
    // first would read the wrong table slice
    val kEff = books(0).length
    val enc = pqEncode(n, books)
    // per-query LUT as ONE literal-indexed array column: element
    // s·kEff + c holds ‖qsub_s − cent_{s,c}‖² in exact int64 (slice/norm
    // factored through [[pqSubCols]] — see its doc)
    val lutEntries = for (s <- 0 until m; (cq, cn) <- books(s)) yield
      col(s"_sn$s") - lit(2L) *
        EmbeddingLsh.qdot(col(s"_sq$s"), typedLit(cq)) + lit(cn)
    val qs = pqSubCols(n.filter(isQuery), m, dsub)
      .select(col("vec_id").as("qid"), array(lutEntries: _*).as("lut"))
    val adc = (0 until m).map(s =>
      element_at(col("lut"),
        (lit(s * kEff) + element_at(col("codes"), s + 1) + lit(1)).cast("int")))
      .reduce(_ + _)
    val p = enc.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), adc.as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id"))
    p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "adc")
      .orderBy("qid", "vec_id")
  }

  /** IVFADC top-k search (Jégou et al. PAMI 2011 §IV — the system the
    * paper actually ships): [[pqAdc]]'s compressed-domain scan coupled
    * with the coarse inverted file, so each query scans only its
    * `nprobe` probed cells instead of the whole corpus — the candidate-
    * restriction term that turns par-with-brute-force into a real index
    * at corpus scale (VERDICT r16 #1).
    *
    * Chain: (1) coarse quantizer = the q70 IVF discipline (vectors
    * satisfying `isCentroid` seed the cells) but in exact squared L2,
    * the metric PQ codes approximate; every vector joins its nearest
    * cell in ONE broadcast pass whose argmin folds map-side. (2) ONE
    * product quantizer is trained on the RESIDUALS y − c(y) and shared
    * across all cells (§IV.A: per-cell codebooks would multiply the
    * model by C; the residual energy is what the shared codebook
    * spends its codes on). Residuals stay exact int64 (coordinate
    * differences). (3) Encode = shuffle-free literal-codebook
    * projection of the residual frame, carrying the cell. (4) A query
    * probes its `nprobe` nearest cells; PER PROBED CELL it builds the
    * m×ksub LUT of its residual against the shared codebooks (the
    * query's residual differs per cell — the per-cell LUT rebuild is
    * the documented IVFADC query cost, nprobe·m·ksub sub-distances).
    * (5) The tiny (Q·nprobe)-row LUT frame BROADCASTS against the
    * encoded stream joined ON CELL — the scan touches only probed
    * cells' members, each pair costing m lookups + adds.
    *
    * Cross-engine exactness: coords, residuals, centroids, LUT entries
    * and ADC sums are all int64 — the DuckDB oracle hash-matches every
    * tiebreak (assignment and probe ties to the smaller cid, codes to
    * the smaller code, top-k to the smaller vec_id).
    */
  /** The q159 centroid frame (cid, cq, cn) over a quantized corpus. */
  private[graft] def ivfCents(n: DataFrame, isCentroid: Column): DataFrame =
    n.filter(isCentroid)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cn"))

  /** Coarse L2 cell assignment (vec_id, cell, q, cq): centroids
    * broadcast, argmin folds map-side, ties to the smaller cid (q/cq
    * ride the struct — constant per group, so they never influence the
    * (d, cid) min). Shared by [[ivfAdc]], centroid training, SemDeDup
    * and the streaming index maintenance, so their cell assignments
    * cannot drift.
    */
  private[graft] def ivfAssign(n: DataFrame, cents: DataFrame): DataFrame =
    n.crossJoin(broadcast(cents))
      .select(col("vec_id"), struct(
        (col("nrm") - lit(2L) * qdot(col("q"), col("cq")) + col("cn")).as("d"),
        col("cid"), col("q"), col("cq")).as("e"))
      .groupBy("vec_id").agg(min(col("e")).as("e"))
      .select(col("vec_id"), col("e.cid").as("cell"),
        col("e.q").as("q"), col("e.cq").as("cq"), col("e.d").as("dist"))

  /** Each query's `nprobe` nearest cells with the query's PER-CELL
    * residual (qid, cell, rq = q − c); ties to the smaller cid.
    */
  private[graft] def ivfProbes(n: DataFrame, cents: DataFrame,
      isQuery: Column, nprobe: Int): DataFrame = {
    val qs = n.filter(isQuery)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val wp = Window.partitionBy("qid").orderBy(col("d").asc, col("cid"))
    qs.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"), col("cq"),
        (col("qn") - lit(2L) * qdot(col("qq"), col("cq")) + col("cn")).as("d"),
        col("qq"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid").as("cell"),
        zip_with(col("qq"), col("cq"), (x, y) => x - y).as("rq"))
  }

  def ivfAdc(n0: DataFrame, isQuery: Column, isCentroid: Column,
      nprobe: Int = NProbe, m: Int = PqM, ksub: Int = PqKsub,
      iters: Int = PqIters, k: Int = TopK): DataFrame =
    ivfAdcWith(n0, isQuery, ivfCents(n0, isCentroid), nprobe, m, ksub,
      iters, k)

  /** Integer-Lloyd TRAINING for the IVFADC coarse quantizer, with the
    * cell count C a FIRST-CLASS parameter (VERDICT r17 #3: the gates'
    * stride-sampled seeding makes C track N — fine at gate scale where
    * the oracle must replay the seeds, quadratic at corpus scale; the
    * production sizing is C ≈ √N, the paper's balance point between the
    * N·C coarse assignment and the N·nprobe/C scan). `c` ≤ 0 defaults
    * to ⌈√N⌉.
    *
    * Seeds are a deterministic HASH-SPREAD sample: the C vectors with
    * the smallest (h60(vec_id), vec_id) — NOT the C smallest ids (the
    * kmeansAssign gate convention, fine at k = 8, but id order
    * correlates with data layout at corpus scale: the first 100× sweep
    * seeded every centroid inside one shifted copy and the skewed
    * cells made nprobe=1 scan 7.7% of all pairs instead of ~0.5%).
    * Each round is ONE broadcast argmin assignment
    * ([[ivfAssign]] — the corpus never shuffles) plus ONE map-side-
    * combinable per-cell aggregation, with truncating `div` integer
    * means and empty cells keeping their previous centroid — the exact
    * arithmetic [[kmeansAssign]] pins cross-engine. Unlike kmeansAssign
    * the centroids stay a ≤C-row FRAME (localCheckpointed per round),
    * not driver literals: C ≈ √N can be thousands, far past what a
    * literal-centroid codegen expression tolerates, and [[ivfAssign]]
    * broadcasts the frame anyway. Returns (cid, cq, cn) — feed it to
    * [[ivfAdcWith]] / [[ivfAdcRerankWith]]; gate, sweep, and production
    * share that one chain.
    */
  def ivfTrainCents(n0: DataFrame, c: Int = 0,
      iters: Int = KmeansIters): DataFrame = GraftCache.scoped {
    val n = GraftCache.track(n0)
    val cEff = if (c > 0) c
      else math.max(1, math.ceil(math.sqrt(n.count().toDouble)).toInt)
    val nrm2 = "aggregate(cq, cast(0 AS bigint), (acc, x) -> acc + x * x)"
    var cents = n.orderBy(
        graft.functions.CrossHash.h60(col("vec_id").cast("string")), col("vec_id"))
      .limit(cEff)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
      .withColumn("cn", expr(nrm2))
      .localCheckpoint()
    val dims = n.select(size(col("q"))).head().getInt(0)
    for (_ <- 1 until iters) {
      val sums = (0 until dims).map(i =>
        sum(expr(s"element_at(q, ${i + 1})")).as(s"s$i"))
      val upd = ivfAssign(n, cents)
        .groupBy(col("cell").as("cid"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .select(col("cid"),
          array((0 until dims).map(i => expr(s"s$i div cnt")): _*).as("uq"))
        .withColumn("un",
          expr(nrm2.replace("cq", "uq")))
      cents = cents
        .join(upd, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("uq"), col("cq")).as("cq"),
          coalesce(col("un"), col("cn")).as("cn"))
        .localCheckpoint()
    }
    cents
  }

  /** [[ivfAdc]] over an explicit centroid frame (cid, cq, cn) — the
    * shared core the gate's predicate-seeded form and the trained
    * [[ivfTrainCents]] form both run through, so the two cannot drift.
    */
  def ivfAdcWith(n0: DataFrame, isQuery: Column, cents: DataFrame,
      nprobe: Int = NProbe, m: Int = PqM, ksub: Int = PqKsub,
      iters: Int = PqIters, k: Int = TopK): DataFrame = {
    val n = GraftCache.track(n0)
    // residual frame (vec_id, cell, q = y − c(y)) — the PQ training and
    // encode input; persisted: training re-reads it iters·1 times
    val res = GraftCache.track(ivfResiduals(n, cents))
    val books = pqTrain(res, m, ksub, iters)
    val enc = pqEncode(res, books, keep = Seq("cell"))
    val probes = ivfProbes(n, cents, isQuery, nprobe)
    adcScan(enc, probes, books, k)
  }

  /** Residual frame (vec_id, cell, q = y − c(y)) over the coarse
    * assignment — the PQ training and encode input, shared by
    * [[ivfAdcWith]] and [[AnnIndex]]'s build/append encode so the two
    * cannot drift.
    */
  private[graft] def ivfResiduals(n: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(n, cents)
      .select(col("vec_id"), col("cell"),
        zip_with(col("q"), col("cq"), (x, y) => x - y).as("q"))

  /** The compressed-domain cell-pruned scan shared by [[ivfAdcWith]]
    * and [[AnnIndex.search]]'s persisted-index read path (so the
    * in-memory and on-disk query paths are the SAME code): `enc` is the
    * encoded posting stream (vec_id, cell, codes), `probes` the
    * per-(query, probed-cell) residual frame (qid, cell, rq) from
    * [[ivfProbes]], `books` the residual codebooks. Per-(query, cell)
    * residual LUTs broadcast-HASH-join the encoded stream ON CELL —
    * unprobed cells never join; each pair costs m lookups + adds.
    * Output (qid, vec_id, adc), k rows per query ascending distance
    * (ties to the smaller vec_id), ordered (qid, vec_id).
    */
  private[graft] def adcScan(enc: DataFrame, probes: DataFrame,
      books: Array[Array[(Seq[Long], Long)]], k: Int): DataFrame = {
    val m = books.length
    val kEff = books(0).length
    val dsub = books(0)(0)._1.length
    // per-(query, probed-cell) residual LUT; slice/norm factored through
    // [[pqSubCols]] over the residual column
    val lutEntries = for (s <- 0 until m; (cq, cn) <- books(s)) yield
      col(s"_sn$s") - lit(2L) * qdot(col(s"_sq$s"), typedLit(cq)) + lit(cn)
    val qlut = pqSubCols(probes, m, dsub, vecCol = "rq")
      .select(col("qid"), col("cell"), array(lutEntries: _*).as("lut"))
    val adc = (0 until m).map(s =>
      element_at(col("lut"),
        (lit(s * kEff) + element_at(col("codes"), s + 1) + lit(1)).cast("int")))
      .reduce(_ + _)
    // the cell-pruned scan: encoded stream equi-joined (broadcast) on
    // cell against the Q·nprobe LUT rows — unprobed cells never join
    val p = enc.join(broadcast(qlut), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), adc.as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id"))
    p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "adc")
      .orderBy("qid", "vec_id")
  }

  /** IVFADC + re-ranking (Jégou et al. PAMI 2011 §V — the shipped
    * system's final stage): the quantized ADC distance UNDERESTIMATES
    * for far candidates, so raising nprobe can LOWER recall as
    * displaced far-cell candidates crowd out true neighbors (measured:
    * the r17 ivfsweep's 5,813 → 5,332 fall from nprobe 1 → all-cells).
    * The fix the paper ships: keep the compressed scan but take the
    * top R = `rFactor`·k by ADC, then re-rank ONLY those R with exact
    * int64 squared L2 — the exact pass touches R rows per query, so the
    * scan stays compressed-domain and the displacement error is bounded
    * by whether a true neighbor makes the top R at all.
    *
    * Output (qid, vec_id, d2), k rows per query ascending exact
    * distance (ties to the smaller vec_id). All int64 — the DuckDB
    * oracle hash-matches every tiebreak.
    */
  def ivfAdcRerank(n0: DataFrame, isQuery: Column, isCentroid: Column,
      nprobe: Int = NProbe, m: Int = PqM, ksub: Int = PqKsub,
      iters: Int = PqIters, k: Int = TopK, rFactor: Int = 4): DataFrame =
    ivfAdcRerankWith(n0, isQuery, ivfCents(n0, isCentroid), nprobe, m,
      ksub, iters, k, rFactor)

  /** [[ivfAdcRerank]] over an explicit centroid frame — see
    * [[ivfAdcWith]].
    */
  def ivfAdcRerankWith(n0: DataFrame, isQuery: Column, cents: DataFrame,
      nprobe: Int = NProbe, m: Int = PqM, ksub: Int = PqKsub,
      iters: Int = PqIters, k: Int = TopK, rFactor: Int = 4): DataFrame = {
    val n = GraftCache.track(n0)
    val cand = ivfAdcWith(n, isQuery, cents, nprobe, m, ksub, iters,
        k = rFactor * k)
      .select("qid", "vec_id")
    exactRerank(cand, n, k)
  }

  /** Exact int64-L2 re-rank of (qid, vec_id) candidate pairs against
    * the original vectors `n` — the §V pass shared by
    * [[ivfAdcRerankWith]] and [[AnnIndex.searchRerank]] (the persisted
    * index stores codes, not coordinates, so the exact pass fetches
    * originals from the corpus frame — the shipped systems' shape too).
    */
  private[graft] def exactRerank(cand: DataFrame, n: DataFrame,
      k: Int): DataFrame = {
    val p = cand
      .join(n.select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qn")), Seq("qid"))
      .join(n, Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        (col("qn") - lit(2L) * qdot(col("qq"), col("q")) + col("nrm")).as("d2"))
    val w = Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id"))
    p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "d2")
      .orderBy("qid", "vec_id")
  }

  /** Gate table dimensionality for the q47 oracle's generate_series. */
  val SqDim = 64

  /** 8-bit scalar quantization (SQ8) of an embedding column: per-dimension
    * corpus [min,max] ranges, each coordinate mapped to an integer code in
    * [0,255] — the storage-compression step a vector store runs before
    * indexing (4× smaller than f32, distance error bounded by the grid
    * step). The search-side counterpart is [[EmbeddingLsh.quantize]]
    * (global ×100 grid for exact int64 dots); SQ8 is the per-dimension
    * adaptive grid that actually ships to disk.
    *
    * Scale shape: the range model is ONE map-combinable aggregation keyed
    * by the d dimension indices (posexplode partials fold min/max per
    * dimension on every executor; the shuffle moves d rows), collected as
    * bounded driver model state (2·d doubles — the k-means-centroid
    * policy); code assignment is then a SHUFFLE-FREE per-row projection
    * with the ranges as literal arrays — the corpus streams once and is
    * never exchanged.
    *
    * Cross-engine exactness: x, mn, mx widen float→double exactly; the
    * code is floor((x−mn)·255/(mx−mn)) — two IEEE-rounded ops and a
    * correctly-rounded floor, identical in both engines — clamped to
    * [0,255]; degenerate dimensions (mx = mn) code to 0.
    */
  def sq8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    // aggregate over the DOUBLE widening so the collected model state
    // is element-type agnostic (float[], double[], decimal[] vectors
    // all work — getFloat on a double column would ClassCast)
    val ranges = v.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("i").collect()
    val mns = array(ranges.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxs = array(ranges.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    v.select(col("vec_id"),
      transform(col("v"), (x, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        when(mx > mn,
          least(lit(255L), greatest(lit(0L),
            floor((x.cast("double") - mn) * lit(255.0) / (mx - mn)))))
          .otherwise(lit(0L))
      }).as("codes"))
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most-similar vectors with a DIFFERENT label —
    * the near-misses that actually teach a metric-learning model (a
    * random negative is trivially far; the informative ones are the
    * closest wrong answers). Input is a quantized frame that carries a
    * `label` column ([[EmbeddingLsh.quantize]] with `keep`).
    *
    * Scale shape: identical to [[annBruteForce]] — query set broadcast,
    * one pass over the vectors, per-query TopK window; the label
    * mismatch is a predicate on the broadcast pair stream, not a join.
    * For corpus-scale mining swap the candidate source to the LSH/IVF
    * paths exactly as q63/q70 do for retrieval.
    */
  def hardNegatives(n: DataFrame, isQuery: Column, k: Int = TopK): DataFrame = {
    val qs = n.filter(isQuery)
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qn"), col("label").as("qlabel"))
    val p = n.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"),
        cosOf(col("qq"), col("qn"), col("q"), col("nrm")).as("cos"))
    topK(p, k)
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation operator that closes the ANN loop: an index whose recall
    * is unmeasured is unshippable, and at corpus scale the measurement
    * itself must be a query (sample queries, run both paths, join), not
    * a notebook. Inputs are two (qid, vec_id, …) top-k frames (e.g.
    * [[annBruteForce]] as the yardstick and [[annIvf]] or [[annLsh]] as
    * the candidate); output is one row per query:
    * (qid, k_exact, hits) with recall = hits / k_exact left to the
    * consumer so the gate stays pure-integer (the Q-doc's
    * "no division in compared values" rule).
    *
    * Scale shape: both inputs are top-k results — k rows per query —
    * so the join and per-query count aggregate move k·Q rows however
    * large the corpus is; the expensive part is producing the inputs,
    * which share one persisted quantized frame.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("qid"), col("vec_id"))
      .join(approx.select(col("qid"), col("vec_id"), lit(1L).as("hit")),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("k_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .orderBy("qid")

  /** Shared oracle fragments: query-set CTE `qs`, brute-force chain
    * ending in `bf(qid, vec_id, cos)`, IVF chain ending in
    * `ivf(qid, vec_id, cos)`. CTE names are disjoint so q62, q70 and
    * the q117 recall gate all instantiate the SAME fragments — the
    * estimator and its yardstick cannot silently diverge from the
    * operators they grade.
    */
  private def topkSql(pairs: String, out: String): String =
    s"$out AS (SELECT qid, vec_id, cos FROM (SELECT qid, vec_id, cos, " +
      "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn " +
      s"FROM $pairs) WHERE rn <= $TopK)"

  private val qsCte: String =
    s"qs AS (SELECT vec_id AS qid, q AS qq, nrm AS qn FROM n WHERE vec_id % $QueryStride = 0)"

  private val bruteCtes: String =
    s"bfp AS (SELECT qid, n.vec_id AS vec_id, $cosSql AS cos FROM qs JOIN n ON n.vec_id <> qs.qid), " +
      topkSql("bfp", "bf")

  private val ivfCtes: String =
    s"cents AS (SELECT vec_id AS cid, q AS cq, nrm AS cn FROM n WHERE vec_id % $CentroidStride = 0), " +
      s"iasg0 AS (SELECT n.vec_id AS vec_id, c.cid AS cid, " +
      s"(${qdotSql("n.q", "c.cq")})::DOUBLE / sqrt((n.nrm * c.cn)::DOUBLE) AS cos FROM n JOIN cents c ON true), " +
      "iasg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn FROM iasg0) WHERE rn = 1), " +
      s"ipr0 AS (SELECT qs.qid AS qid, c.cid AS cid, " +
      s"(${qdotSql("qs.qq", "c.cq")})::DOUBLE / sqrt((qs.qn * c.cn)::DOUBLE) AS cos FROM qs JOIN cents c ON true), " +
      "iprobe AS (SELECT qid, cid FROM (SELECT qid, cid, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM ipr0) WHERE rn <= $NProbe), " +
      "icand AS (SELECT iprobe.qid AS qid, iasg.vec_id AS vec_id FROM iprobe " +
      " JOIN iasg ON iprobe.cid = iasg.cid AND iasg.vec_id <> iprobe.qid), " +
      "ivp AS (SELECT icand.qid, icand.vec_id, " +
      s"(${qdotSql("a.q", "b.q")})::DOUBLE / sqrt((a.nrm * b.nrm)::DOUBLE) AS cos " +
      " FROM icand JOIN n a ON icand.qid = a.vec_id JOIN n b ON icand.vec_id = b.vec_id), " +
      topkSql("ivp", "ivf")

  /** One subspace of the q158/q159 PQ oracle: slice → seed codebook
    * (ksub smallest vec_ids, positionally coded) → one integer-Lloyd
    * update → final codes + (when `withLut`) the query-side LUT over
    * the source's OWN rows. Prefixed `ps{s}` so all [[PqM]] subspaces
    * instantiate the same fragment; `src` is the (vec_id, q) relation
    * to train on — `n` for q158's plain ADC, the residual frame for
    * q159's IVFADC (whose query LUTs are per probed cell, built
    * outside this fragment). Reused CTEs are AS MATERIALIZED (the
    * DuckDB per-reference-inlining rule — the slice frame alone is
    * referenced five times per subspace).
    */
  private def pqSubCtes(s: Int, src: String = "n",
      withLut: Boolean = true): String = {
    val dsub = 64 / PqM
    val lo = s * dsub + 1
    val hi = (s + 1) * dsub
    val p = s"ps$s"
    def dist(t: String, c: String) =
      s"$t.sn - 2*${qdotSql(s"$t.sq", s"$c.cq")} + $c.cn"
    s"${p}sub AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS sq, " +
      s"list_aggregate([x*x FOR x IN q[$lo:$hi]], 'sum')::BIGINT AS sn FROM $src), " +
      s"${p}c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, " +
      s"sq AS cq, sn AS cn FROM ${p}sub ORDER BY vec_id LIMIT $PqKsub), " +
      s"${p}a1 AS (SELECT vec_id, code FROM (SELECT t.vec_id, c.code, " +
      s"row_number() OVER (PARTITION BY t.vec_id ORDER BY ${dist("t", "c")}, c.code) AS rn " +
      s"FROM ${p}sub t CROSS JOIN ${p}c0 c) WHERE rn = 1), " +
      s"${p}e AS (SELECT a.code, i, sq[i] AS x FROM ${p}a1 a JOIN ${p}sub USING (vec_id) " +
      s"CROSS JOIN (SELECT unnest(generate_series(1,$dsub)) AS i)), " +
      s"${p}s AS (SELECT code, i, CAST(SUM(x) AS BIGINT) AS sm, COUNT(*) AS cnt " +
      s"FROM ${p}e GROUP BY 1, 2), " +
      s"${p}u AS (SELECT code, list(sm // cnt ORDER BY i) AS cq FROM ${p}s GROUP BY code), " +
      s"${p}c1 AS MATERIALIZED (SELECT pc.code, COALESCE(u.cq, pc.cq) AS cq, " +
      s"COALESCE(list_aggregate([x*x FOR x IN u.cq],'sum')::BIGINT, pc.cn) AS cn " +
      s"FROM ${p}c0 pc LEFT JOIN ${p}u u ON pc.code = u.code), " +
      s"${p}code AS MATERIALIZED (SELECT vec_id, code FROM (SELECT t.vec_id, c.code, " +
      s"row_number() OVER (PARTITION BY t.vec_id ORDER BY ${dist("t", "c")}, c.code) AS rn " +
      s"FROM ${p}sub t CROSS JOIN ${p}c1 c) WHERE rn = 1)" +
      (if (!withLut) "" else ", " +
        s"${p}lut AS MATERIALIZED (SELECT t.vec_id AS qid, c.code, ${dist("t", "c")} AS d " +
        s"FROM ${p}sub t CROSS JOIN ${p}c1 c WHERE t.vec_id % $QueryStride = 0)")
  }

  /** The full q158 ADC chain: per-subspace codes + LUTs → per-pair
    * m-lookup sum → ascending top-k `adck(qid, vec_id)`.
    */
  private def pqCtes: String = {
    val subs = (0 until PqM).map(pqSubCtes(_)).mkString(", ")
    val enc = (0 until PqM)
      .map(s => s"SELECT vec_id, $s AS s, code FROM ps${s}code")
      .mkString(" UNION ALL ")
    val lut = (0 until PqM)
      .map(s => s"SELECT qid, $s AS s, code, d FROM ps${s}lut")
      .mkString(" UNION ALL ")
    subs + ", " +
      s"pqenc AS ($enc), pqlut AS ($lut), " +
      "adcp AS (SELECT l.qid, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc " +
      "FROM pqenc e JOIN pqlut l ON e.s = l.s AND e.code = l.code " +
      "WHERE e.vec_id <> l.qid GROUP BY 1, 2), " +
      "adck AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn " +
      s"FROM adcp) WHERE rn <= $TopK)"
  }

  /** The q159 IVFADC chain (PAMI 2011 §IV), mirroring [[ivfAdc]] CTE
    * for CTE: coarse L2 cells → residual frame `vres` → the SAME
    * per-subspace Lloyd fragment as q158 trained on residuals → encoded
    * stream with cells → per-(query, probed-cell) residual LUTs →
    * cell-restricted ADC sums → ascending top-k `vadck(qid, vec_id)`.
    * All int64; every tiebreak mirrored (cells/probes to the smaller
    * cid, codes to the smaller code, top-k to the smaller vec_id).
    */
  private def ivfadcCtes: String = ivfadcCtes(TopK)

  /** `r` = the ADC top-R cut `vadck` keeps per query (TopK for q159;
    * rFactor·TopK for q161's re-ranked form).
    */
  private def ivfadcCtes(r: Int): String = {
    val dsub = 64 / PqM
    def dist(qn: String, q: String, c: String) =
      s"$qn - 2*${qdotSql(q, s"$c.cq")} + $c.cn"
    val subs = (0 until PqM).map(pqSubCtes(_, "vres", withLut = false))
      .mkString(", ")
    val enc = (0 until PqM)
      .map(s => s"SELECT vec_id, $s AS s, code FROM ps${s}code")
      .mkString(" UNION ALL ")
    val luts = (0 until PqM).map { s =>
      val lo = s * dsub + 1
      val hi = (s + 1) * dsub
      val sn = s"list_aggregate([x*x FOR x IN r.rq[$lo:$hi]], 'sum')::BIGINT"
      s"vl$s AS (SELECT r.qid, r.cid, $s AS s, c.code, " +
        s"$sn - 2*${qdotSql(s"r.rq[$lo:$hi]", "c.cq")} + c.cn AS d " +
        s"FROM vqres r CROSS JOIN ps${s}c1 c)"
    }.mkString(", ")
    s"vcents AS MATERIALIZED (SELECT vec_id AS cid, q AS cq, nrm AS cn FROM n " +
      s"WHERE vec_id % $CentroidStride = 0), " +
      "vasg AS MATERIALIZED (SELECT vec_id, cid, cq FROM (" +
      "SELECT n.vec_id, c.cid, c.cq, row_number() OVER (PARTITION BY n.vec_id " +
      s"ORDER BY ${dist("n.nrm", "n.q", "c")}, c.cid) AS rn " +
      "FROM n CROSS JOIN vcents c) WHERE rn = 1), " +
      "vres AS MATERIALIZED (SELECT a.vec_id, a.cid, " +
      "[n.q[i] - a.cq[i] FOR i IN generate_series(1, len(n.q))] AS q " +
      "FROM vasg a JOIN n USING (vec_id)), " +
      subs + ", " +
      s"venc AS MATERIALIZED (SELECT e.vec_id, r.cid, e.s, e.code " +
      s"FROM ($enc) e JOIN vres r USING (vec_id)), " +
      s"vqs AS (SELECT vec_id AS qid, q, nrm FROM n WHERE vec_id % $QueryStride = 0), " +
      "vprobe AS (SELECT qid, cid, cq FROM (" +
      "SELECT v.qid, c.cid, c.cq, row_number() OVER (PARTITION BY v.qid " +
      s"ORDER BY ${dist("v.nrm", "v.q", "c")}, c.cid) AS rn " +
      s"FROM vqs v CROSS JOIN vcents c) WHERE rn <= $NProbe), " +
      "vqres AS MATERIALIZED (SELECT p.qid, p.cid, " +
      "[v.q[i] - p.cq[i] FOR i IN generate_series(1, len(v.q))] AS rq " +
      "FROM vprobe p JOIN vqs v ON p.qid = v.qid), " +
      luts + ", " +
      "vlut AS (" + (0 until PqM).map(s => s"SELECT * FROM vl$s")
        .mkString(" UNION ALL ") + "), " +
      "vadcp AS (SELECT l.qid, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc " +
      "FROM venc e JOIN vlut l ON e.cid = l.cid AND e.s = l.s AND e.code = l.code " +
      "WHERE e.vec_id <> l.qid GROUP BY 1, 2), " +
      "vadck AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn " +
      s"FROM vadcp) WHERE rn <= $r)"
  }

  /** q161's exact re-rank of the ADC top-R: `vrrk(qid, vec_id)` — exact
    * int64 squared L2 over the R candidates only (PAMI 2011 §V).
    */
  private def ivfRerankCtes: String =
    "vrr0 AS (SELECT c.qid, c.vec_id, " +
      s"a.nrm - 2*${qdotSql("a.q", "b.q")} + b.nrm AS d2 " +
      "FROM vadck c JOIN n a ON c.qid = a.vec_id JOIN n b ON c.vec_id = b.vec_id), " +
      "vrrk AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn " +
      s"FROM vrr0) WHERE rn <= $TopK)"

  /** The q78 oracle CTE chain (quantize → seed → 2 Lloyd rounds),
    * ending in `a2(vec_id, cell, dist)` — reused by q98's
    * prototypicality oracle.
    */
  private[operators] val kmeansCtes: String = {
    def assignSql(cs: String, out: String): String =
      s"$out AS (SELECT vec_id, cell, dist FROM (" +
        s"SELECT n.vec_id, c.cell, n.nrm - 2*${qdotSql("n.q", "c.q")} + c.nrm AS dist, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"n.nrm - 2*${qdotSql("n.q", "c.q")} + c.nrm, c.cell) AS rn " +
        s"FROM n CROSS JOIN $cs c) WHERE rn = 1)"
    def updateSql(a: String, prev: String, out: String): String =
      s"e$out AS (SELECT $a.cell, i, q[i] AS x FROM $a JOIN n USING (vec_id) " +
        "CROSS JOIN (SELECT unnest(generate_series(1,64)) AS i)), " +
        s"s$out AS (SELECT cell, i, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS cnt " +
        s"FROM e$out GROUP BY 1, 2), " +
        s"q$out AS (SELECT cell, list(s // cnt ORDER BY i) AS q FROM s$out GROUP BY cell), " +
        s"$out AS (SELECT p.cell, COALESCE(u.q, p.q) AS q, " +
        "COALESCE(list_aggregate([x*x FOR x IN u.q],'sum')::BIGINT, p.nrm) AS nrm " +
        s"FROM $prev p LEFT JOIN q$out u ON p.cell = u.cell)"
    quantizedSql + ", " +
      s"c0 AS (SELECT vec_id AS cell, q, nrm FROM n WHERE vec_id < $KmeansK), " +
      assignSql("c0", "a1") + ", " + updateSql("a1", "c0", "c1") + ", " +
      assignSql("c1", "a2")
  }


  /** The q150/q151 oracles' shared CTE chain: quantize → null-free →
    * augmented Gramian → covariance cc0 → per-component power rounds,
    * canonical sign, and Rayleigh-quotient deflation, ending in
    * cp0..cp{k-1} (each component's signed rows) plus `pcs` (their
    * union). Chained CTEs are AS MATERIALIZED — DuckDB inlines plain
    * CTEs per reference and the deflation chain's fan-out expands the
    * tree EXPONENTIALLY (observed as "too many open files" at k=4).
    */
  private def pcaOracleCtes(k: Int, iters: Int, scale: Long): String = {
      def comp(m: Int): String = {
        val rounds = (1 to iters).map { r =>
          val prev = s"x${m}_${r - 1}"
          s"y${m}_$r AS MATERIALIZED (SELECT cc$m.i AS i, CAST(SUM(cc$m.c * $prev.x) AS BIGINT) AS y " +
            s"FROM cc$m JOIN $prev ON cc$m.j = $prev.j GROUP BY cc$m.i), " +
            s"d${m}_$r AS MATERIALIZED (SELECT GREATEST(CAST(1 AS BIGINT), " +
            s"CAST(MAX(ABS(y)) // $scale AS BIGINT)) AS d FROM y${m}_$r), " +
            s"x${m}_$r AS MATERIALIZED (SELECT y${m}_$r.i AS j, " +
            s"CAST((y - ((y % d + d) % d)) // d AS BIGINT) AS x " +
            s"FROM y${m}_$r CROSS JOIN d${m}_$r)"
        }.mkString(", ")
        val xf = s"x${m}_$iters"
        val base = s"x${m}_0 AS MATERIALIZED (SELECT DISTINCT i AS j, " +
          s"CAST($scale AS BIGINT) AS x FROM cc$m), " + rounds + ", " +
          s"vs$m AS MATERIALIZED (SELECT CASE WHEN x < 0 THEN CAST(-1 AS BIGINT) " +
          s"ELSE CAST(1 AS BIGINT) END AS sg FROM $xf " +
          "ORDER BY ABS(x) DESC, j ASC LIMIT 1), " +
          s"cp$m AS MATERIALIZED (SELECT CAST($m AS BIGINT) AS m, j AS i, x * sg AS pc " +
          s"FROM $xf CROSS JOIN vs$m)"
        if (m == k - 1) base else base + ", " +
          s"vt$m AS MATERIALIZED (SELECT CAST(SUM(x * x) AS BIGINT) AS vtv FROM $xf), " +
          s"qq$m AS MATERIALIZED (SELECT CAST(SUM(CAST(cc$m.c AS HUGEINT) * xi.x * xj.x) " +
          s"AS HUGEINT) AS q FROM cc$m " +
          s"JOIN $xf xi ON cc$m.i = xi.j JOIN $xf xj ON cc$m.j = xj.j), " +
          s"lm$m AS MATERIALIZED (SELECT CAST((q - ((q % vtv + vtv) % vtv)) // vtv " +
          s"AS BIGINT) AS lam FROM qq$m CROSS JOIN vt$m), " +
          s"cc${m + 1} AS MATERIALIZED (SELECT t.i AS i, t.j AS j, " +
          "CAST(t.c - (t.p - ((t.p % t.vtv + t.vtv) % t.vtv)) // t.vtv " +
          "AS BIGINT) AS c FROM " +
          s"(SELECT cc$m.i AS i, cc$m.j AS j, cc$m.c AS c, " +
          "CAST(lam AS HUGEINT) * xi.x * xj.x AS p, vtv FROM " +
          s"cc$m JOIN $xf xi ON cc$m.i = xi.j JOIN $xf xj ON cc$m.j = xj.j " +
          s"CROSS JOIN lm$m CROSS JOIN vt$m) t)"
      }
      quantizedSql + ", " +
        nullFreeSql +
        "q1 AS (SELECT vec_id, [CAST(1 AS BIGINT)] || q AS q FROM nf), " +
        "u0 AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM q1), " +
        "u AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM u0), " +
        "g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g " +
        " FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2), " +
        "nn AS (SELECT g::DECIMAL(18,0) AS n FROM g WHERE i = 0 AND j = 0), " +
        "s AS (SELECT j - 1 AS k, g::DECIMAL(18,0) AS s FROM g WHERE i = 0 AND j > 0), " +
        "cc0 AS MATERIALIZED (SELECT gi.i - 1 AS i, gi.j - 1 AS j, " +
        "CAST(CAST(nn.n * gi.g::DECIMAL(18,0) - si.s * sj.s AS DECIMAL(38,0)) AS BIGINT) AS c " +
        "FROM g gi CROSS JOIN nn JOIN s si ON gi.i - 1 = si.k JOIN s sj ON gi.j - 1 = sj.k " +
        "WHERE gi.i > 0 AND gi.j > 0), " +
        (0 until k).map(comp).mkString(", ") + ", " +
        "pcs AS (" +
        (0 until k).map(m => s"SELECT * FROM cp$m").mkString(" UNION ALL ") +
        ")"
  }

  def queries: Seq[Q] = Seq(

    Q("q62_ann_bruteforce",
      "WITH " + quantizedSql + ", " + qsCte + ", " + bruteCtes +
        " SELECT qid, vec_id, cos FROM bf ORDER BY qid, vec_id") { (s, dir) =>
      annBruteForce(quantized(s, dir), col("vec_id") % QueryStride === 0)
    },

    Q("q63_ann_lsh",
      "WITH " + quantizedSql + ", " + bandsSql() + ", " +
        s"bandsf AS ${Dedup.capBucketsSql("bands", Dedup.BucketCap, "vec_id, k, bv", "k", "bv")}, " +
        s"cand AS (SELECT DISTINCT qb.vec_id AS qid, vb.vec_id AS vec_id FROM bandsf qb " +
        s" JOIN bandsf vb ON qb.k = vb.k AND qb.bv = vb.bv " +
        s" AND qb.vec_id % $QueryStride = 0 AND vb.vec_id <> qb.vec_id), " +
        "p AS (SELECT cand.qid, cand.vec_id, " +
        s"(${qdotSql("a.q", "b.q")})::DOUBLE / sqrt((a.nrm * b.nrm)::DOUBLE) AS cos " +
        " FROM cand JOIN n a ON cand.qid = a.vec_id JOIN n b ON cand.vec_id = b.vec_id), " +
        "r AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM p) " +
        s"SELECT qid, vec_id, cos FROM r WHERE rn <= $TopK ORDER BY qid, vec_id") { (s, dir) =>
      annLsh(quantized(s, dir), col("vec_id") % QueryStride === 0)
    },

    Q("q70_ann_ivf",
      "WITH " + quantizedSql + ", " + qsCte + ", " + ivfCtes +
        " SELECT qid, vec_id, cos FROM ivf ORDER BY qid, vec_id") { (s, dir) =>
      annIvf(quantized(s, dir), col("vec_id") % QueryStride === 0,
        col("vec_id") % CentroidStride === 0)
    },

    // ANN index-quality evaluation: per-query recall of the IVF path
    // against the exact brute-force yardstick, as pure integers
    // (hits of k_exact). Both sides instantiate the same oracle
    // fragments as q62/q70, and the Spark side reuses the operators
    // themselves over ONE shared persisted quantized frame.
    Q("q117_ann_recall",
      "WITH " + quantizedSql + ", " + qsCte + ", " + bruteCtes + ", " + ivfCtes +
        " SELECT bf.qid AS qid, COUNT(*)::BIGINT AS k_exact, " +
        "SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits " +
        "FROM bf LEFT JOIN ivf ON bf.qid = ivf.qid AND bf.vec_id = ivf.vec_id " +
        "GROUP BY bf.qid ORDER BY qid") { (s, dir) =>
      val n = GraftCache.track(quantized(s, dir))
      val isQ = col("vec_id") % QueryStride === 0
      recallAtK(
        annBruteForce(n, isQ),
        annIvf(n, isQ, col("vec_id") % CentroidStride === 0))
    },

    // Product-quantization ADC search (Jégou et al. PAMI 2011), gated
    // through the recall@k harness exactly like q117: the compressed-
    // domain scan's quality is measured against the exact brute-force
    // yardstick, and the whole chain — per-subspace integer-Lloyd
    // codebooks, codes, LUTs, ADC sums, both top-k cuts — is int64, so
    // the oracle hash-matches every tiebreak. (Part of the
    // beyond-the-reference pipeline surface, like q62–q70: the
    // reference ships no vector search; PQ completes the SQ8 + IVF
    // compression/index family per VERDICT r15 #6.)
    Q("q158_pq_adc",
      "WITH " + quantizedSql + ", " + qsCte + ", " + bruteCtes + ", " + pqCtes +
        " SELECT bf.qid AS qid, COUNT(*)::BIGINT AS k_exact, " +
        "SUM(CASE WHEN adck.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits " +
        "FROM bf LEFT JOIN adck ON bf.qid = adck.qid AND bf.vec_id = adck.vec_id " +
        "GROUP BY bf.qid ORDER BY qid") { (s, dir) =>
      val n = GraftCache.track(quantized(s, dir))
      val isQ = col("vec_id") % QueryStride === 0
      // r19 (VERDICT r18 #1): the QUERY path reads the PERSISTED index
      // — [[AnnIndex.zeroCent]] makes the artifact a plain-PQ index
      // whose nprobe=1 search is bit-identical to [[pqAdc]]'s full
      // compressed scan; train once (content-addressed), query many.
      // The oracle (unchanged) replays the full train chain.
      val idx = AnnIndex.ensure("pq", n, AnnIndex.zeroCent(s, SqDim))
      recallAtK(annBruteForce(n, isQ),
        AnnIndex.search(s, idx, n.filter(isQ), nprobe = 1))
    },

    // IVFADC (PAMI 2011 §IV): the coarse inverted file coupled with a
    // residual product quantizer — each query ADC-scans only its probed
    // cells. Gated like q117/q158 through the recall@k harness against
    // the exact brute-force yardstick; the whole chain (L2 cells,
    // residuals, shared residual codebooks, per-probed-cell LUTs, ADC
    // sums, both top-k cuts) is int64, so the oracle hash-matches every
    // tiebreak. VERDICT r16 #1.
    Q("q159_ivfadc",
      "WITH " + quantizedSql + ", " + qsCte + ", " + bruteCtes + ", " + ivfadcCtes +
        " SELECT bf.qid AS qid, COUNT(*)::BIGINT AS k_exact, " +
        "SUM(CASE WHEN vadck.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits " +
        "FROM bf LEFT JOIN vadck ON bf.qid = vadck.qid AND bf.vec_id = vadck.vec_id " +
        "GROUP BY bf.qid ORDER BY qid") { (s, dir) =>
      val n = GraftCache.track(quantized(s, dir))
      val isQ = col("vec_id") % QueryStride === 0
      // r19 (VERDICT r18 #1): query path reads the persisted IVFADC
      // artifact (same frozen stride-seeded cells the oracle replays);
      // [[AnnIndex.search]] runs the SAME ivfProbes+adcScan code as
      // [[ivfAdcWith]], so the result hash-matches the unchanged oracle.
      val idx = AnnIndex.ensure("ivf", n,
        ivfCents(n, col("vec_id") % CentroidStride === 0))
      recallAtK(annBruteForce(n, isQ), AnnIndex.search(s, idx, n.filter(isQ)))
    },

    // IVFADC + re-ranking (PAMI 2011 §V): exact-L2 re-rank of the ADC
    // top-4k — the displacement fix the shipped system ends with (the
    // r17 sweep measured recall FALLING with nprobe on the clustered
    // corpus; re-ranking bounds that error to top-R membership). Gated
    // like q159 through the recall@k harness; all-int64, oracle
    // hash-matches every tiebreak.
    Q("q161_ivfadc_rerank",
      "WITH " + quantizedSql + ", " + qsCte + ", " + bruteCtes + ", " +
        ivfadcCtes(4 * TopK) + ", " + ivfRerankCtes +
        " SELECT bf.qid AS qid, COUNT(*)::BIGINT AS k_exact, " +
        "SUM(CASE WHEN vrrk.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits " +
        "FROM bf LEFT JOIN vrrk ON bf.qid = vrrk.qid AND bf.vec_id = vrrk.vec_id " +
        "GROUP BY bf.qid ORDER BY qid") { (s, dir) =>
      val n = GraftCache.track(quantized(s, dir))
      val isQ = col("vec_id") % QueryStride === 0
      // r19: shares q159's persisted artifact (same corpus, cells, and
      // geometry → same content-addressed path); the §V exact re-rank
      // fetches originals from the corpus frame.
      val idx = AnnIndex.ensure("ivf", n,
        ivfCents(n, col("vec_id") % CentroidStride === 0))
      recallAtK(annBruteForce(n, isQ),
        AnnIndex.searchRerank(s, idx, n.filter(isQ), n))
    },

    // Hard-negative mining: per query, the nearest vectors of a
    // DIFFERENT label — same exact-cosine machinery as q62 with the
    // label-mismatch predicate on the broadcast pair stream.
    Q("q122_hard_negatives",
      "WITH " + quantizedSql + ", " +
        "nl AS (SELECT n.vec_id AS vec_id, q, nrm, label FROM n JOIN embeddings USING (vec_id)), " +
        s"hq AS (SELECT vec_id AS qid, q AS qq, nrm AS qn, label AS ql FROM nl WHERE vec_id % $QueryStride = 0), " +
        "hp AS (SELECT qid, nl.vec_id AS vec_id, " +
        s"(${qdotSql("hq.qq", "nl.q")})::DOUBLE / sqrt((hq.qn * nl.nrm)::DOUBLE) AS cos " +
        "FROM hq JOIN nl ON nl.vec_id <> hq.qid AND nl.label <> hq.ql) " +
        "SELECT qid, vec_id, cos FROM (SELECT qid, vec_id, cos, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM hp) " +
        s"WHERE rn <= $TopK ORDER BY qid, vec_id") { (s, dir) =>
      val e = graft.Tables.load(s, dir, "embeddings")
      val n = quantize(e, "vec_id", "embedding", keep = Seq("label"))
      hardNegatives(n, col("vec_id") % QueryStride === 0)
    },

    // SQ8 scalar quantization, gated in LONG FORM (vec_id, i, code):
    // every element of every code vector is value-checked while the
    // compared columns stay scalar-typed (the library surface [[sq8]]
    // returns the array form; posexplode here is presentation only).
    Q("q47_sq8_quantize",
      "WITH e AS (SELECT vec_id, embedding AS v FROM embeddings), " +
        s"dims AS (SELECT unnest(generate_series(1, $SqDim)) AS i), " +
        "d AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx " +
        "FROM e CROSS JOIN dims GROUP BY i) " +
        "SELECT vec_id, i - 1 AS i, " +
        "CASE WHEN mx > mn THEN LEAST(CAST(255 AS BIGINT), GREATEST(CAST(0 AS BIGINT), " +
        "CAST(FLOOR((v[i]::DOUBLE - mn::DOUBLE) * CAST(255.0 AS DOUBLE) / (mx::DOUBLE - mn::DOUBLE)) AS BIGINT))) " +
        "ELSE CAST(0 AS BIGINT) END AS code " +
        "FROM e CROSS JOIN dims JOIN d USING (i) ORDER BY vec_id, i") { (s, dir) =>
      sq8(graft.Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("i", "code")))
        .select(col("vec_id"), col("i").cast("long").as("i"), col("code"))
        .orderBy("vec_id", "i")
    },

    // Integer-exact k-means training (2 Lloyd rounds, k=8): even the
    // iterative trainer hash-matches DuckDB — assignment distances and
    // truncating-mean centroid updates are pure int64 in both engines.
    Q("q78_kmeans_train",
      "WITH " + kmeansCtes +
        " SELECT vec_id, cell, dist FROM a2 ORDER BY vec_id") { (s, dir) =>
      kmeansAssign(quantized(s, dir)).orderBy("vec_id")
    },

    // Per-cluster prototypicality flags (Sorscher et al., "Beyond
    // neural scaling laws", arXiv:2206.14486: data pruning ranks
    // examples by distance to their cluster centroid — the closest are
    // the prototypical/redundant ones). The decile threshold is picked
    // on a BUCKETED distance histogram, tie-inclusive at bucket
    // granularity, so selection is pure integer arithmetic both engines
    // reproduce bit-for-bit.
    // SemDeDup (q164): cluster-scoped semantic dedup — every pair is
    // compared only within its k-means cell, the duplicate drops and
    // the farthest-from-centroid member survives its group. Same
    // integer Lloyd chain as q78; the pairwise cut is exact int64 dot /
    // IEEE sqrt+divide, so both engines cut identical pairs.
    Q("q164_semdedup",
      "WITH " + kmeansCtes + ", " +
        "r AS (SELECT vec_id, cell, dist, row_number() OVER (" +
        "PARTITION BY cell ORDER BY dist DESC, vec_id) AS rnk FROM a2), " +
        "l AS (SELECT r.vec_id, r.cell, r.rnk, n.q, n.nrm " +
        "FROM r JOIN n USING (vec_id)), " +
        "dup AS (SELECT DISTINCT i.vec_id AS vec_id FROM l i " +
        "JOIN l j ON i.cell = j.cell AND j.rnk < i.rnk " +
        s"WHERE (${qdotSql("i.q", "j.q")})::DOUBLE / " +
        s"sqrt((i.nrm * j.nrm)::DOUBLE) >= $SemDedupThr) " +
        "SELECT r.vec_id AS vec_id, r.cell AS cell, r.dist AS dist, " +
        "CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept " +
        "FROM r LEFT JOIN dup ON r.vec_id = dup.vec_id ORDER BY vec_id") { (s, dir) =>
      semDeDup(quantized(s, dir)).orderBy("vec_id")
    },

    Q("q98_semantic_outliers",
      "WITH " + kmeansCtes + ", " +
        "mm AS (SELECT cell, MIN(dist) AS mn, " +
        s"GREATEST((MAX(dist) - MIN(dist)) // $ProtoBins, 1) AS w FROM a2 GROUP BY cell), " +
        "ab AS (SELECT a2.vec_id, a2.cell, a2.dist, (a2.dist - mm.mn) // mm.w AS b " +
        "FROM a2 JOIN mm ON a2.cell = mm.cell), " +
        "g AS (SELECT cell, b, COUNT(*) AS cnt FROM ab GROUP BY 1, 2), " +
        "cum AS (SELECT cell, b, SUM(cnt) OVER (PARTITION BY cell ORDER BY b " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM g), " +
        "tot AS (SELECT cell, SUM(cnt)::BIGINT AS tot FROM g GROUP BY cell), " +
        "th AS (SELECT cum.cell, MIN(b) AS bth FROM cum JOIN tot ON cum.cell = tot.cell " +
        s"WHERE 1000 * cum >= $ProtoPermille * tot GROUP BY cum.cell) " +
        "SELECT ab.vec_id, ab.cell, ab.dist, " +
        "CASE WHEN ab.b <= th.bth THEN 1 ELSE 0 END AS proto " +
        "FROM ab JOIN th ON ab.cell = th.cell ORDER BY ab.vec_id") { (s, dir) =>
      semanticOutliers(quantized(s, dir)).orderBy("vec_id")
    },

    // Exact d×d Gramian of the quantized corpus: the single-pass,
    // map-side-combinable statistic PCA / whitening / OPQ rotation
    // training reads off an embedding corpus. ONE aggregation with
    // O(d²) mergeable int64 state ([[graft.functions.Gram]] — the
    // shuffle carries one 2 080-long partial per partition at d = 64,
    // NEVER vector data), then a d²-row explode whose size depends on
    // d alone, not the corpus. The oracle computes the same sums from
    // an unnest self-join — exact int64 on both engines.
    Q("q138_gram_matrix",
      "WITH " + quantizedSql + ", " +
        // listwise deletion, the operator's contract: a vector with ANY
        // null component contributes nothing (count included) — not the
        // per-element null-skip a bare SUM(a.x*b.x) would give
        nullFreeSql +
        "u0 AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM nf), " +
        "u AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM u0) " +
        "SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g " +
        "FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2 ORDER BY i, j") { (s, dir) =>
      gramMatrix(quantized(s, dir)).orderBy("i", "j")
    },

    // Exact covariance NUMERATOR matrix n·G − s·sᵀ via the augmented-
    // vector trick: prepending 1 to every vector makes ONE Gramian pass
    // carry the count (cell 0,0), the linear sums (row 0) and G (the
    // rest) — mean-centering without a second corpus pass. The matrix
    // arithmetic runs post-aggregation over d² rows in DECIMAL(18,0)
    // products (exact to 10³⁷ — safe where n·G overflows int64 at
    // ~10¹⁹). The GATE emits `c` as BIGINT on both sides: r11's driver
    // hash-canonicalization of max-width decimals diverged on the
    // suite's only DECIMAL(38,0) column even with values identical, so
    // the gate pins a driver-proven wire type — the same lesson the
    // reference encodes by pinning exact per-engine wire types
    // (`crates/postgres/src/arrow_sql_gen/schema.rs:53-107`). Value-
    // exact at gate scale (measured |c| ≤ 4.6×10⁷ at sf0.01) and LOUD
    // past it: Spark runs ANSI (4.x default, never overridden here) and
    // DuckDB always errors on a CAST overflow, so a scale change fails
    // instead of wrapping. [[covarianceMatrix]]'s DECIMAL(38,0) API is
    // unchanged for the ~10¹⁹ regime.
    Q("q139_covariance",
      "WITH " + quantizedSql + ", " +
        nullFreeSql +
        "q1 AS (SELECT vec_id, [CAST(1 AS BIGINT)] || q AS q FROM nf), " +
        "u0 AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM q1), " +
        "u AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM u0), " +
        "g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g " +
        " FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2), " +
        "nn AS (SELECT g::DECIMAL(18,0) AS n FROM g WHERE i = 0 AND j = 0), " +
        "s AS (SELECT j - 1 AS k, g::DECIMAL(18,0) AS s FROM g WHERE i = 0 AND j > 0) " +
        "SELECT gi.i - 1 AS i, gi.j - 1 AS j, " +
        "CAST(CAST(nn.n * gi.g::DECIMAL(18,0) - si.s * sj.s AS DECIMAL(38,0)) AS BIGINT) AS c " +
        "FROM g gi CROSS JOIN nn JOIN s si ON gi.i - 1 = si.k JOIN s sj ON gi.j - 1 = sj.k " +
        "WHERE gi.i > 0 AND gi.j > 0 ORDER BY i, j") { (s, dir) =>
      covarianceMatrix(quantized(s, dir))
        .select(col("i"), col("j"), col("c").cast("long").as("c"))
        .orderBy("i", "j")
    },

    // Pearson correlation matrix of the quantized corpus — the feature-
    // redundancy statistic for pruning near-duplicate embedding
    // dimensions. Same ONE corpus pass as q139 (the augmented Gramian);
    // the normalization corr = c / (√vᵢᵢ·√vⱼⱼ) runs over d² rows with
    // the SAME float expression shape on both engines: decimal→double
    // casts, IEEE sqrt/multiply/divide are each correctly rounded, so
    // identical exact-integer inputs give bit-identical doubles.
    Q("q140_correlation",
      "WITH " + quantizedSql + ", " +
        nullFreeSql +
        "q1 AS (SELECT vec_id, [CAST(1 AS BIGINT)] || q AS q FROM nf), " +
        "u0 AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM q1), " +
        "u AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM u0), " +
        "g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g " +
        " FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2), " +
        "nn AS (SELECT g::DECIMAL(18,0) AS n FROM g WHERE i = 0 AND j = 0), " +
        "s AS (SELECT j - 1 AS k, g::DECIMAL(18,0) AS s FROM g WHERE i = 0 AND j > 0), " +
        "c AS (SELECT gi.i - 1 AS i, gi.j - 1 AS j, " +
        "CAST(nn.n * gi.g::DECIMAL(18,0) - si.s * sj.s AS DECIMAL(38,0)) AS c " +
        "FROM g gi CROSS JOIN nn JOIN s si ON gi.i - 1 = si.k JOIN s sj ON gi.j - 1 = sj.k " +
        "WHERE gi.i > 0 AND gi.j > 0), " +
        "d AS (SELECT i AS k, c AS v FROM c WHERE i = j) " +
        "SELECT c.i AS i, c.j AS j, " +
        "c.c::DOUBLE / (SQRT(di.v::DOUBLE) * SQRT(dj.v::DOUBLE)) AS corr " +
        "FROM c JOIN d di ON c.i = di.k JOIN d dj ON c.j = dj.k " +
        "WHERE di.v > 0 AND dj.v > 0 ORDER BY i, j") { (s, dir) =>
      correlationMatrix(quantized(s, dir)).orderBy("i", "j")
    },

    // Per-dimension z-score standardization (feature normalization
    // before k-means / ANN): z = (n·x − s)/√v over exact integer
    // numerators from ONE augmented-Gramian pass — no float mean ever
    // forms, so the cast/sqrt/divide finish is bit-identical on both
    // engines. Long-form output value-checks every standardized
    // component (q47's gating style).
    Q("q141_standardize",
      "WITH " + quantizedSql + ", " +
        nullFreeSql +
        "q1 AS (SELECT vec_id, [CAST(1 AS BIGINT)] || q AS q FROM nf), " +
        "u0 AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM q1), " +
        "u AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM u0), " +
        "g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g " +
        " FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2), " +
        "nn AS (SELECT g::DECIMAL(18,0) AS n FROM g WHERE i = 0 AND j = 0), " +
        "s AS (SELECT j - 1 AS k, g::DECIMAL(18,0) AS s FROM g WHERE i = 0 AND j > 0), " +
        "d AS (SELECT g.i - 1 AS k, " +
        "CAST(nn.n * g.g::DECIMAL(18,0) - s.s * s.s AS DECIMAL(38,0)) AS v " +
        "FROM g CROSS JOIN nn JOIN s ON g.i - 1 = s.k " +
        "WHERE g.i = g.j AND g.i > 0), " +
        "uv AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM n), " +
        "uw AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM uv) " +
        "SELECT uw.vec_id AS vec_id, uw.i AS i, " +
        "CAST(nn.n * uw.x - s.s AS DOUBLE) / SQRT(d.v::DOUBLE) AS z " +
        "FROM uw CROSS JOIN nn JOIN s ON uw.i = s.k JOIN d ON uw.i = d.k " +
        "WHERE d.v > 0 ORDER BY vec_id, i") { (s, dir) =>
      standardize(quantized(s, dir)).orderBy("vec_id", "i")
    },

    // Top principal component by 3 integer-exact power-iteration rounds
    // on the covariance numerators — the PCA-prep consumer of the
    // q138–q141 statistics, bit-identical cross-engine (q100's
    // discipline on a SIGNED matrix: the portable floor-div
    // `(y − ((y % d + d) % d)) div d` renders identically in both
    // engines because the subtrahend makes y an exact multiple of d).
    // The oracle unrolls the same rounds as chained CTEs over the
    // identical covariance chain; every SUM casts back to BIGINT
    // (DuckDB HUGEINT, the r6 lesson).
    Q("q149_principal_component", {
      val scale = 1000000L
      val rounds = (1 to 3).map { i =>
        val prev = s"px${i - 1}"
        s"py$i AS (SELECT cc.i AS i, CAST(SUM(cc.c * $prev.x) AS BIGINT) AS y " +
          s"FROM cc JOIN $prev ON cc.j = $prev.j GROUP BY cc.i), " +
          s"pm$i AS (SELECT GREATEST(CAST(1 AS BIGINT), " +
          s"CAST(MAX(ABS(y)) // $scale AS BIGINT)) AS d FROM py$i), " +
          s"px$i AS (SELECT py$i.i AS j, " +
          s"CAST((y - ((y % d + d) % d)) // d AS BIGINT) AS x " +
          s"FROM py$i CROSS JOIN pm$i)"
      }.mkString(", ")
      "WITH " + quantizedSql + ", " +
        nullFreeSql +
        "q1 AS (SELECT vec_id, [CAST(1 AS BIGINT)] || q AS q FROM nf), " +
        "u0 AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM q1), " +
        "u AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM u0), " +
        "g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g " +
        " FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2), " +
        "nn AS (SELECT g::DECIMAL(18,0) AS n FROM g WHERE i = 0 AND j = 0), " +
        "s AS (SELECT j - 1 AS k, g::DECIMAL(18,0) AS s FROM g WHERE i = 0 AND j > 0), " +
        "cc AS (SELECT gi.i - 1 AS i, gi.j - 1 AS j, " +
        "CAST(CAST(nn.n * gi.g::DECIMAL(18,0) - si.s * sj.s AS DECIMAL(38,0)) AS BIGINT) AS c " +
        "FROM g gi CROSS JOIN nn JOIN s si ON gi.i - 1 = si.k JOIN s sj ON gi.j - 1 = sj.k " +
        "WHERE gi.i > 0 AND gi.j > 0), " +
        s"px0 AS (SELECT DISTINCT i AS j, CAST($scale AS BIGINT) AS x FROM cc), " +
        rounds +
        " SELECT j AS i, x AS pc FROM px3 ORDER BY i"
    }) { (s, dir) =>
      principalComponent(quantized(s, dir)).orderBy("i")
    },

    // Top-4 principal components via deflation (r12 verdict item 5) —
    // the full PCA-prep eigenbasis, bit-identical cross-engine: the
    // oracle unrolls k components × 3 power rounds plus the integer
    // Rayleigh-quotient downdate between them as chained CTEs over the
    // identical covariance chain, every floor-div in the exact-multiple
    // portable form, the two wide deflation products as HUGEINT where
    // Spark rides DECIMAL(38,0) (same exact integers; final columns
    // BIGINT on both sides). Signs canonicalized: each component's
    // largest-|value| entry (smallest i on ties) is positive. Overflow
    // bounds in [[principalComponents]]'s Scaladoc; at gate scale
    // (|c| ≤ 4.6×10⁷, q139's measured bound) every intermediate sits
    // orders of magnitude inside them, and ANSI/HUGEINT fail loudly
    // past them. The chained CTEs are AS MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, and the deflation chain references each
    // matrix generation several times — inlining expands the tree
    // EXPONENTIALLY down the chain (observed as "too many open files"
    // on the base parquet at k=4 before any timeout).
    Q("q150_principal_components",
      "WITH " + pcaOracleCtes(4, 6, 1000000L) +
        " SELECT m, i, pc FROM pcs ORDER BY m, i") { (s, dir) =>
      principalComponents(quantized(s, dir)).orderBy("m", "i")
    },

    // PCA projection — the eigenbasis applied back to the corpus: each
    // vector's exact int64 score on each of the top-4 components
    // (units ×100·scale of the true projection). The oracle reuses the
    // full q150 deflation chain, then joins the unnested null-free
    // vectors against the component rows — SUM(x·pc) per (vec_id, m),
    // BIGINT on both sides. The Spark side never joins: the basis is
    // k=4 literal arrays inside codegen'd qdot calls (q78's
    // literal-centroid discipline), listwise null deletion matching
    // the Gram family's contract.
    Q("q151_pca_project",
      "WITH " + pcaOracleCtes(4, 6, 1000000L) + ", " +
        "uv AS (SELECT vec_id, q, UNNEST(generate_series(1, len(q))) AS ix FROM nf), " +
        "uw AS (SELECT vec_id, ix - 1 AS i, q[ix] AS x FROM uv) " +
        "SELECT uw.vec_id AS vec_id, pcs.m AS m, " +
        "CAST(SUM(uw.x * pcs.pc) AS BIGINT) AS score " +
        "FROM uw JOIN pcs ON uw.i = pcs.i GROUP BY 1, 2 " +
        "ORDER BY vec_id, m") { (s, dir) =>
      pcaProject(quantized(s, dir)).orderBy("vec_id", "m")
    }
  )

  /** Exact d×d Gramian of a [[EmbeddingLsh.quantize]]d frame as
    * (i, j, g) rows — see the q138 gate note for the scale shape.
    */
  def gramMatrix(n0: DataFrame): DataFrame =
    n0.agg(graft.functions.Gram.gram(col("q")).as("gm"))
      .select(posexplode(col("gm")).as(Seq("i", "r")))
      .select(col("i"), posexplode(col("r")).as(Seq("j", "g")))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("g"))

  /** Exact covariance numerators n·Gᵢⱼ − sᵢ·sⱼ of a quantized frame as
    * (i, j, c DECIMAL(38,0)) rows — ONE corpus pass (the augmented
    * Gramian), then d²-row driver-scale arithmetic. Divide by n·(n−1)
    * (or n²) downstream for the sample (population) covariance; the
    * numerators stay integer-exact so the division point — and any
    * float rounding — is the CALLER's choice, not baked in here.
    */
  /** The augmented Gramian (prepend 1 to every vector): ONE corpus pass
    * whose d²-row result carries the count (0,0), the linear sums
    * (row 0) and G — eagerly localCheckpointed so the branches reading
    * it never re-run the pass. Checkpoint, not a tracked persist: the
    * blocks are reference-managed (ContextCleaner frees them when the
    * returned frame is dropped), so repeated library calls don't
    * accumulate pinned cache entries the caller never knew to release.
    */
  private def augmentedGram(n0: DataFrame): DataFrame =
    gramMatrix(n0.select(graft.functions.Gram.augmented(col("q")).as("q")))
      .localCheckpoint(true)

  def covarianceMatrix(n0: DataFrame): DataFrame = {
    val g = augmentedGram(n0)
    val nn = g.filter(col("i") === 0 && col("j") === 0)
      .select(col("g").cast("decimal(18,0)").as("n"))
    val s = g.filter(col("i") === 0 && col("j") > 0)
    val si = s.select((col("j") - 1).as("ki"), col("g").cast("decimal(18,0)").as("si"))
    val sj = s.select((col("j") - 1).as("kj"), col("g").cast("decimal(18,0)").as("sj"))
    g.filter(col("i") > 0 && col("j") > 0)
      .select((col("i") - 1).as("i"), (col("j") - 1).as("j"),
        col("g").cast("decimal(18,0)").as("g"))
      .join(broadcast(si), col("i") === col("ki"))
      .join(broadcast(sj), col("j") === col("kj"))
      .crossJoin(broadcast(nn))
      .select(col("i"), col("j"),
        (col("n") * col("g") - col("si") * col("sj"))
          .cast("decimal(38,0)").as("c"))
  }

  /** Pearson correlation matrix corr(i,j) = cᵢⱼ / (√cᵢᵢ·√cⱼⱼ) over the
    * exact covariance numerators — constant (zero-variance) dimensions
    * are dropped rather than emitted as NaN/∞. The float finish
    * normalizes per ROW of a d²-row frame: the square roots are taken
    * of exact integers cast to double, so any engine evaluating the
    * same expression shape reproduces the doubles bit-for-bit (each of
    * cast, sqrt, multiply, divide is correctly rounded; √vᵢ·√vⱼ avoids
    * the vᵢ·vⱼ product, which would overflow DECIMAL(38) at ~10¹⁹
    * per-dimension sums of squares long before the doubles degrade).
    */
  def correlationMatrix(n0: DataFrame): DataFrame = {
    val cov = covarianceMatrix(n0)
    def diag(k: String, v: String) = cov.filter(col("i") === col("j"))
      .select(col("i").as(k), col("c").as(v))
    cov.join(broadcast(diag("ki", "vi")), col("i") === col("ki"))
      .join(broadcast(diag("kj", "vj")), col("j") === col("kj"))
      .filter(col("vi") > 0 && col("vj") > 0)
      .select(col("i"), col("j"),
        (col("c").cast("double") /
          (sqrt(col("vi").cast("double")) * sqrt(col("vj").cast("double"))))
          .as("corr"))
  }

  /** Per-dimension z-score standardization of a quantized frame as
    * (vec_id, i, z) rows — feature normalization before k-means / ANN,
    * the training-pipeline staple. Algebra avoids ever forming a float
    * mean: z = (x − s/n)/(√v/n) = (n·x − s)/√v with s the linear sums
    * and v = n·G − s² the variance numerators, ALL exact integers from
    * the one augmented-Gramian corpus pass — so the float finish is the
    * same cast/sqrt/divide shape as q140 and both engines emit
    * bit-identical doubles. The per-row work is a d-row broadcast join
    * + projection: shuffle-free beyond the Gramian's O(d²) partials.
    * Zero-variance dimensions are dropped, not emitted as NaN.
    */
  def standardize(n0: DataFrame): DataFrame = {
    val g = augmentedGram(n0)
    val nn = g.filter(col("i") === 0 && col("j") === 0)
      .select(col("g").cast("decimal(18,0)").as("n"))
    val s = g.filter(col("i") === 0 && col("j") > 0)
      .select((col("j") - 1).as("k"), col("g").cast("decimal(18,0)").as("s"))
    val d = g.filter(col("i") === col("j") && col("i") > 0)
      .select((col("i") - 1).as("kd"), col("g").cast("decimal(18,0)").as("gii"))
    // broadcast explicitly like every sibling 1-row stats join — the
    // r11 size-estimate lesson applies uniformly, not where AQE rescues
    val stats = s.join(d, col("k") === col("kd")).crossJoin(broadcast(nn))
      .select(col("k"), col("n"), col("s"),
        (col("n") * col("gii") - col("s") * col("s"))
          .cast("decimal(38,0)").as("v"))
      .filter(col("v") > 0)
    n0.select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
      .join(broadcast(stats), col("i") === col("k"))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        ((col("n") * col("x") - col("s")).cast("double") /
          sqrt(col("v").cast("double"))).as("z"))
  }

  /** Top principal component of the quantized corpus via INTEGER-EXACT
    * power iteration on the covariance numerators — the PCA/whitening
    * prep step the q138–q141 statistics exist to feed, run to a
    * bit-identical cross-engine result (q100 centrality's discipline,
    * applied to a signed matrix).
    *
    * ONE corpus pass total (the shared augmented Gramian); every
    * iteration then runs over the d²-row matrix — corpus-INDEPENDENT
    * cost, so at 100 TB the iterations are driver-trivial while the
    * statistic is the same single mergeable aggregate as q139.
    *
    * Integer discipline, signed: y = C·x is exact int64 (bounds below);
    * per-round renormalization divides by `d = max(1, max|y| div S)` so
    * max|x| lands in [S, 2S). Components are SIGNED, where floor vs
    * truncation division DIVERGES between engines — the portable
    * floor-div `(y − ((y % d + d) % d)) div d` is used verbatim on both
    * sides: the subtrahend makes y an exact multiple of d, so any
    * division rounding yields the same quotient. Overflow bounds:
    * |C| ≤ n·Σx² per cell grows linearly with corpus rows; |C|·2S·d
    * must stay under 2^63 — at S = 10⁶, d = 64 that admits |C| up to
    * ~7×10¹⁰ (≈10⁸ vectors at the testdata's value magnitudes), and
    * ANSI mode fails the multiply loudly past it.
    */
  def principalComponent(n0: DataFrame, iters: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    val c = covarianceMatrix(n0)
      .select(col("i"), col("j"), col("c").cast("long").as("c"))
      .localCheckpoint(true)
    var x = c.select(col("i")).distinct().select(col("i").as("j"),
      lit(scale).as("x"))
    for (_ <- 1 to iters) {
      val y = c.join(broadcast(x), "j")
        .groupBy(col("i"))
        .agg(sum(col("c") * col("x")).as("y"))
      val m = y.agg(greatest(lit(1L),
        expr(s"max(abs(y)) div $scale")).as("d"))
      x = y.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          expr("(y - ((y % d + d) % d)) div d").as("x"))
        .localCheckpoint(true)
    }
    x.select(col("j").as("i"), col("x").as("pc"))
  }

  /** Top-k principal components via [[principalComponent]]'s power
    * iteration plus HOTELLING DEFLATION between components — the full
    * PCA-prep output (whitening / OPQ rotation training reads the
    * leading eigenbasis, not one direction). (m, i, pc) rows, component
    * index m in [0, k); signs CANONICALIZED so each component's
    * largest-|value| entry (smallest index on ties) is positive — an
    * eigenvector's sign is arbitrary, the API's isn't.
    *
    * Deflation in the same portable integer discipline as the rounds,
    * so both engines walk bit-identical matrices: with v the final
    * iterate (max|v| in [S, 2S)) and vᵀv exact int64,
    *   λ  = floorDiv(vᵀCv, vᵀv)            — the integer Rayleigh quotient
    *   Cᵢⱼ ← Cᵢⱼ − floorDiv(λ·vᵢ·vⱼ, vᵀv)  — rank-one downdate
    * where each floorDiv is the exact-multiple form
    * `(p − ((p % q + q) % q)) div q` (truncation ≡ floor once the
    * dividend is an exact multiple — q149's rule; for int64 that form
    * IS Math.floorDiv, which the driver tier uses). The two wide
    * products ride BigInt here and HUGEINT in the oracle — identical
    * integer values either way.
    *
    * Overflow bounds (gate note, r12 verdict item 5): vᵀv ≤ d·4S²
    * (≈2.6×10¹⁴ at d=64, S=10⁶ — int64-safe); |vᵀCv| ≤ d²·max|c|·4S²
    * (DECIMAL(38,0)-safe for max|c| up to ~6×10²¹, i.e. always — c is
    * int64); |λ| ≤ λmax(C) ≤ d·max|c| (int64-safe for max|c| <
    * 1.4×10¹⁷); |λ·vᵢvⱼ| ≤ d·max|c|·4S² (DECIMAL(38,0)-safe to
    * max|c| ≈ 10²⁴); each deflated cell grows by at most |λ| ≈ the
    * eigenvalue it removes, so k deflations stay int64 while
    * (k+1)·d·max|c| < 2⁶³ — ANSI mode fails LOUDLY past every one of
    * these, never wraps. Deflation rounding (<1 ulp per cell) leaves a
    * residual of the removed component at magnitude ~d per cell —
    * negligible against real eigenvalue gaps and IDENTICAL on both
    * engines, which is the contract: deterministic bit-equal output,
    * accuracy scaling with `iters` exactly as single-component power
    * iteration does. The default is 6 rounds (vs the single-component
    * op's 3): later components inherit every earlier one's convergence
    * error through deflation — at 3 rounds components 2/3 measured
    * |cos| ≈ 0.25 on the testdata, at 6 the property spec pins < 0.2 —
    * and the extra rounds are corpus-independent d²-row work, so the
    * accuracy is free at scale.
    *
    * Cost at 100 TB: unchanged from q149 — the corpus is touched ONCE
    * (the shared augmented Gramian); all k·iters rounds and k−1
    * deflations run on the d²-row matrix with broadcast joins,
    * corpus-INDEPENDENT driver-trivial work.
    */
  def principalComponents(n0: DataFrame, k: Int = 4, iters: Int = 6,
      scale: Long = 1000000L): DataFrame = {
    val spark = n0.sparkSession
    // ONE distributed corpus pass (the shared augmented Gramian). The
    // d²-cell covariance matrix is then DRIVER state BY CONSTRUCTION —
    // d is the embedding dimension, corpus-independent, 32 KB at
    // d = 64 — so the k·iters rounds and k−1 deflations run as exact
    // driver integer arithmetic (the Cluster.scala driver-tier
    // precedent, here with a STRUCTURAL tier boundary, not a
    // data-dependent one). The first distributed form spent 3.5 s of
    // bench wall on 24 localCheckpointed 4096-row rounds — pure
    // orchestration overhead on work a core does in microseconds.
    // Arithmetic is bit-identical to the oracle's CTE unroll:
    // Math.floorDiv IS the portable exact-multiple form for int64,
    // BigInt carries the two wide products the oracle puts in HUGEINT,
    // and add/multiplyExact keeps the ANSI-loud overflow contract.
    val cells = covarianceMatrix(n0)
      .select(col("i"), col("j"), col("c").cast("long").as("c"))
      .collect()
    val dims = cells.map(_.getLong(0)).distinct.sorted
    val idx = dims.zipWithIndex.toMap
    val d = dims.length
    val cm = Array.ofDim[Long](d, d)
    cells.foreach(r => cm(idx(r.getLong(0)))(idx(r.getLong(1))) = r.getLong(2))
    def floorDivBig(p: BigInt, q: BigInt): BigInt = {
      val r = (p % q + q) % q
      (p - r) / q
    }
    val out = Seq.newBuilder[(Long, Long, Long)]
    for (m <- 0 until k) {
      var x = Array.fill(d)(scale)
      for (_ <- 1 to iters) {
        val y = Array.tabulate(d) { i =>
          var s = 0L; var j = 0
          while (j < d) {
            s = Math.addExact(s, Math.multiplyExact(cm(i)(j), x(j))); j += 1
          }
          s
        }
        val dd = math.max(1L, y.map(math.abs).max / scale)
        x = y.map(Math.floorDiv(_, dd))
      }
      // canonical sign: largest-|x| entry (smallest index on ties) > 0
      val lead = x.indices.minBy(i => (-math.abs(x(i)), i))
      val sg = if (x(lead) < 0) -1L else 1L
      x.indices.foreach(i => out += ((m.toLong, dims(i), x(i) * sg)))
      if (m < k - 1) {
        var vtv = 0L
        x.foreach(v => vtv = Math.addExact(vtv, Math.multiplyExact(v, v)))
        var q = BigInt(0)
        for (i <- 0 until d; j <- 0 until d)
          q += BigInt(cm(i)(j)) * x(i) * x(j)
        val lamB = floorDivBig(q, vtv)
        require(lamB.isValidLong, s"principalComponents: λ $lamB overflows int64")
        val lam = lamB.toLong
        for (i <- 0 until d; j <- 0 until d) {
          val delta = floorDivBig(BigInt(lam) * x(i) * x(j), vtv)
          require(delta.isValidLong,
            s"principalComponents: deflation cell overflows int64")
          cm(i)(j) = Math.subtractExact(cm(i)(j), delta.toLong)
        }
      }
    }
    import spark.implicits._
    spark.createDataset(out.result()).toDF("m", "i", "pc")
  }

  /** PCA projection — the eigenbasis's consumer: every vector's score
    * on each of the top-k components, (vec_id, m, score) rows. The
    * dimensionality-reduction step an OPQ/whitening pipeline actually
    * runs over the corpus after training the basis.
    *
    * Exact int64 end to end: score = Σᵢ qᵢ·pcᵢ in the quantized units
    * (q is ×100, pc is ×scale ⇒ score is ×100·scale of the true
    * projection) — |score| ≤ d·max|q|·2·scale ≈ 5×10¹² at the testdata
    * magnitudes, and [[graft.functions.QDot]] throws on int64 overflow
    * (Math.multiplyExact/addExact) exactly where the DuckDB oracle's
    * BIGINT multiply errors — symmetric loud failure, runtime-enforced
    * (ADVICE r13). Listwise deletion like every
    * Gram-family op: a vector with ANY null component gets no scores.
    *
    * Plan shape: [[principalComponents]] is ONE distributed corpus
    * pass + driver-tier iterations; the projection is then a SECOND
    * corpus pass computing k codegen'd [[graft.functions.QDot]]
    * products per row against the k LITERAL component vectors —
    * completely shuffle-free (no join, no aggregate; the basis rides
    * into codegen as constants, exactly q78's literal-centroid
    * discipline). Two passes total at any corpus size.
    */
  def pcaProject(n0: DataFrame, k: Int = 4, iters: Int = 6,
      scale: Long = 1000000L): DataFrame = {
    val comps: Map[Long, Seq[Long]] = principalComponents(n0, k, iters, scale)
      .collect().toSeq.groupBy(_.getLong(0))
      .map { case (m, rs) => m -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val nf = n0.filter(
      expr("size(q) = size(filter(q, x -> x IS NOT NULL))"))
    val scores = (0 until k).map { m =>
      struct(lit(m.toLong).as("m"),
        graft.operators.EmbeddingLsh.qdot(col("q"),
          typedLit(comps(m.toLong))).as("score"))
    }
    nf.select(col("vec_id"), explode(array(scores: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.score").as("score"))
  }
}
