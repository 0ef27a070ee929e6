package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn pair lists (the output of the LSH
  * dedup operators, q41-q45) into per-document canonical assignments —
  * the step a training-data pipeline actually needs, since "keep one
  * representative per near-duplicate CLUSTER" requires the transitive
  * closure of the pairwise relation, not the pairs themselves.
  *
  * Scale design (100 TB): connected components run over the PAIR
  * GRAPH, which is orders of magnitude smaller than the corpus (only
  * documents that appear in some near-dup pair participate; everything
  * else never leaves the one-pass representative mapping). The
  * distributed tier is alternating star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14): O(log n)
  * rounds regardless of graph diameter, with an edge frame that
  * SHRINKS as components contract. An iterative min-label loop
  * (1 join/round but O(diameter) rounds over the FULL edge set) was
  * this tier's first implementation and was retired on measurement:
  * the r11 cluster scale probe found the LSH pair graph's diameter
  * GROWING with corpus size (supersteps 10 → 26 across 1×→100×, wall
  * 24.0 s at 2.08 M edges) while star contraction stayed flat
  * (4 → 5 rounds, 13.2 s, identical labeling) — the near-dup-graphs-
  * are-shallow assumption does not survive scale. `maxIters` still
  * fails loudly instead of looping unboundedly.
  */
object Cluster extends org.apache.spark.internal.Logging {

  /** Connected components of the undirected graph given as (d1, d2)
    * pairs: returns (v, cluster) where cluster is the minimum vertex id
    * reachable from v.
    *
    * TIERED BY GRAPH SIZE — the decision a 100 TB deployment actually
    * wants: the pair graph is orders of magnitude smaller than the
    * corpus, and most corpora produce one that fits a single machine
    * easily. The edge frame is persisted ONCE and its exact size read
    * with a single `count()` (a limit-probe cannot short-circuit the
    * aggregation pipeline that produces the edges — see the inline
    * note at the probe); at or under
    * `smallGraphThreshold` edges the closure runs as driver-side
    * union-find with path compression (microseconds, zero supersteps —
    * the same "small model state on the driver" pattern as the k-means
    * centroids), above it [[connectedComponentsStar]] takes over.
    * Both paths produce the identical deterministic labeling
    * (component min), so callers and oracles cannot tell them apart;
    * AlgorithmPropertySpec cross-checks them against each other and a
    * sequential reference. `smallGraphThreshold = 0` forces the
    * distributed path (plan audits use this).
    *
    * Distributed path: every round ends in an EAGER `localCheckpoint` —
    * without the lineage cut, round k's logical plan embeds round
    * k−1's several times over, the tree grows geometrically and ~20
    * rounds exhaust the DRIVER heap during analysis — the classic
    * iterative-DataFrame failure. The checkpoint keeps each round's
    * plan O(1) deep; on a real cluster one would use reliable
    * `checkpoint()` (localCheckpoint trades executor-loss recovery for
    * speed — the right trade in a single-JVM harness, and the
    * contracted edge frame is tiny relative to the corpus either way).
    */
  /** Edge counts up to this collect() in ONE job inside the driver
    * tier (≈70 MB of Rows); between this and `smallGraphThreshold` the
    * edges stream via toLocalIterator instead. */
  private[operators] val CollectRowCap: Long = 1 << 20

  def connectedComponents(pairs: DataFrame, maxIters: Int = 100,
      smallGraphThreshold: Long = 4 << 20): DataFrame = GraftCache.scoped {
    val pairsLong = pairs.select(
      col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"))

    // Driver union-find: state is two longs per VERTEX; edges fold into
    // the forest as they arrive and are never all held at once (beyond
    // the bounded fast-probe batch).
    def unionFind(rows: java.util.Iterator[org.apache.spark.sql.Row]): DataFrame = {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val n = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      val verts = new java.util.LinkedHashSet[java.lang.Long]()
      while (rows.hasNext) {
        val row = rows.next()
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        verts.add(a); verts.add(b)
      }
      val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](verts.size)
      val vi = verts.iterator()
      while (vi.hasNext) { val v = vi.next().longValue(); labels += ((v, find(v))) }
      val spark = pairs.sparkSession
      import spark.implicits._
      labels.toSeq.toDF("v", "cluster")
    }

    // The pair pipeline is an aggregation — a limit-probe cannot
    // short-circuit it, and a failed probe would pay one full wasted
    // computation (measured 2x wall at 20x scale). So: persist ONCE,
    // count (this materializes the cache), then pick the driver tier —
    // a single collect job when the KNOWN count stays under
    // ~70 MB of Rows (CollectRowCap), per-partition toLocalIterator
    // streaming between that and smallGraphThreshold (the driver never
    // holds the edge set — union-find state is two longs per vertex;
    // this is what lets the threshold sit at 4M edges without the
    // r6-advice memory spike), and star contraction above.
    val cached = GraftCache.track(pairsLong)
    try {
      val n = if (smallGraphThreshold > 0) cached.count() else Long.MaxValue
      if (n <= math.min(Cluster.CollectRowCap, smallGraphThreshold))
        return unionFind(java.util.Arrays.asList(cached.collect(): _*).iterator())
      if (n <= smallGraphThreshold)
        return unionFind(cached.toLocalIterator())
      connectedComponentsStar(cached, maxIters)
    } finally GraftCache.release(cached)
  }

  /** Alternating star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round runs
    * large-star (every neighbor LARGER than u re-attaches to
    * m = min(N(u) ∪ {u})) then small-star (every neighbor ≤ u, and u
    * itself, re-attach to the min of that closed neighborhood), until
    * the edge set stops changing — at which point the edges ARE the
    * answer: star graphs (child → component-min root).
    *
    * Why star contraction and not min-label propagation (this tier's
    * first implementation): min-label's round count is the graph
    * DIAMETER, and the cluster scale probe measured that diameter
    * growing with corpus size (10 → 26 supersteps across 1×→100×:
    * near-dup chains get longer as more document variants appear).
    * Star contraction's round count is O(log n) regardless of
    * diameter, and — the part that matters at 100 TB — its edge frame
    * SHRINKS as components contract, so later rounds join less data,
    * where min-label re-joins the full edge set every round. Measured
    * on the identical 2.08 M-edge graph: 13.2 s / 5 rounds vs
    * 24.0 s / 26, identical labeling.
    *
    * Loop discipline: eager localCheckpoint per round (the plan would
    * otherwise grow geometrically), an EXACT fixed-point test (star
    * forests are precisely the fixed points of the large+small round),
    * loud failure at `maxIters`.
    */
  private[graft] def connectedComponentsStar(
      pairsLong: DataFrame, maxIters: Int): DataFrame = {
    var e = pairsLong
      .select(least(col("d1"), col("d2")).as("u"),
        greatest(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .select(col("v").as("u"), col("u").as("v")) // orient child→parent
      .localCheckpoint(true)
    var it = 0
    var done = false
    while (!done) {
      it += 1
      require(it <= maxIters,
        s"connectedComponents: no convergence after $maxIters rounds " +
          "(star contraction needs O(log n) rounds; raise maxIters)")
      // large-star on the symmetric closure: every neighbor v > u
      // attaches to m = min(N(u) ∪ {u})
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star on the (child > parent) orientation: u and all its
      // parents re-attach to the smallest parent
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val next = ls.join(ssMin, "u")
        .select(explode(array(
            struct(col("v").as("u"), col("m").as("v")),
            struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      // EXACT fixed-point test, no hash: the round maps an edge set to
      // itself iff it is a star forest, i.e. no parent is also a child
      // — one semi join over the (shrinking) checkpointed frame
      done = next.join(next.select(col("u").as("pv")).distinct(),
        col("v") === col("pv"), "left_semi").isEmpty
      e = next
    }
    val roots = e.select(col("v").as("u"), col("v"))
    val labeled = e.union(roots).distinct()
      .select(col("u").as("v"), col("v").as("cluster"))
    // A vertex appearing ONLY in self-loop pairs never enters the star
    // loop (the u≠v filter drops it) but the driver union-find tier DOES
    // label it — and the two tiers must produce the identical labeling
    // (AlgorithmPropertySpec checks both tiers against a reference
    // union-find; OperatorApiSpec pins the self-loop case). Everything
    // touching pairsLong materializes EAGERLY here, while the caller's
    // persist is still alive (the returned plan must not reference the
    // input — the caller unpersists it on return, and a lazy branch
    // would silently recompute the whole pair-proposal pipeline); and
    // the singleton set is derived WITHOUT joining against the O(V)
    // labeled frame — the tiny self-vertex frame broadcasts INTO one
    // edge scan instead, so no full-vertex build side exists at any
    // corpus size.
    val sv = pairsLong.filter(col("d1") === col("d2"))
      .select(col("d1").as("v")).distinct().localCheckpoint(true)
    if (sv.isEmpty) labeled // the normal case: one cheap filter job
    else {
      val covered = pairsLong.filter(col("d1") =!= col("d2"))
        .select(explode(array(col("d1"), col("d2"))).as("v"))
        .join(broadcast(sv), Seq("v"), "left_semi").distinct()
      val selfOnly = sv.join(covered, Seq("v"), "left_anti")
        .select(col("v"), col("v").as("cluster"))
        .localCheckpoint(true) // both sides tiny; eager before unpersist
      labeled.union(selfOnly)
    }
  }

  /** PageRank-style centrality over an undirected near-dup pair graph —
    * the authority signal for picking the CANONICAL document of a
    * duplicate cluster (the member most connected to the rest), and the
    * engine's power-iteration graph primitive (the same loop computes
    * link-graph quality weights à la Common Crawl's domain ranking).
    *
    * Integer-exact power iteration: scores are int64 at `scale`;
    * contribution = score div degree (truncating — all values positive,
    * so floor = trunc in both engines); update = (100−damp)·scale/100 +
    * (damp·Σcontrib) div 100. No floating point anywhere, so ranks are
    * bit-identical across engines, runs and partitionings. Bounds:
    * Σcontrib ≤ in-degree·scale, so damp·Σ stays below 2^63 for
    * in-degrees up to ~9·10⁷ at the default scale — beyond that, lower
    * `scale`.
    *
    * Scale shape: each round is one int64-keyed join (edges ⋈ scores —
    * AQE-skew-splittable hubs) and one map-combinable sum. The edge
    * frame persists across the `iters` rounds and releases before
    * return (the result is eagerly localCheckpoint()ed, the
    * [[connectedComponents]] discipline), leaving no cached state
    * behind. Degree and score frames are vertex-sized, never collected.
    */
  def centrality(pairs: DataFrame, iters: Int = 3, dampPct: Int = 85,
      scale: Long = 1000000000L): DataFrame = {
    val e = GraftCache.track(
      pairs.select(col("d1").cast("long").as("src"), col("d2").cast("long").as("dst"))
        .union(pairs.select(col("d2").cast("long").as("src"), col("d1").cast("long").as("dst")))
        .distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val base = (100L - dampPct) * scale / 100L
    var scores = deg.select(col("src").as("v"), lit(scale).as("score"))
    for (_ <- 1 to iters) {
      scores = e.join(deg, "src")
        .join(scores, col("src") === col("v"))
        .select(col("dst"), expr("score div deg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("v"),
          (lit(base) + expr(s"($dampPct * s) div 100")).as("score"))
    }
    val out = scores.localCheckpoint(true)
    GraftCache.release(e)
    out
  }

  /** Map every document of an (id, text) frame to its canonical id: the
    * minimum doc_id over the union of its exact-duplicate group and the
    * connected component of [[Dedup.minhashLshPairs]] its representative
    * belongs to. Documents in no near-dup pair map to their
    * exact-duplicate survivor (themselves when unique).
    */
  def resolveDuplicates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val rep = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        min("doc_id").over(Window.partitionBy("text")).as("rep"))
    val cc = connectedComponents(Dedup.minhashLshPairs(df, idCol, textCol))
    rep.join(cc, rep("rep") === cc("v"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("rep")).as("canonical"))
  }

  /** Keep-best duplicate resolution: one surviving document per
    * duplicate cluster, chosen by QUALITY rather than id — the policy a
    * training-data pipeline actually wants (the longest/cleanest copy
    * survives, not whichever arrived first). The argmax is ONE
    * map-side-combinable struct-max aggregate over the cluster key
    * (lexicographic (score, -id) order makes the tiebreak
    * deterministic: highest score, then lowest id), so resolution costs
    * a single shuffle beyond the [[resolveDuplicates]] closure at any
    * corpus size.
    */
  def keepBest(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", scoreCol: String = "n_chars"): DataFrame = {
    val canon = resolveDuplicates(df, idCol, textCol)
    val scored = df.select(col(idCol).as("doc_id"), col(scoreCol).as("score"))
    canon.join(scored, "doc_id")
      .groupBy("canonical")
      .agg(
        max(struct(col("score").as("s"), (-col("doc_id")).as("negid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("canonical"), (-col("best.negid")).as("keeper_id"),
        col("best.s").as("keeper_chars"), col("n_members"))
  }

  /** Semantic duplicate clusters over an embedding frame: canonical =
    * min vec_id of the connected component of the sign-LSH near-dup
    * pair graph ([[Dedup.embeddingNearDupPairs]]); vectors in no pair
    * map to themselves. The embedding-space twin of
    * [[resolveDuplicates]] — semantic dedup needs the transitive
    * closure exactly like text dedup does (A≈B, B≈C ⇒ one cluster even
    * when A·C misses the threshold).
    */
  def semanticClusters(n0: DataFrame, ids: DataFrame): DataFrame = {
    val pairs = Dedup.embeddingNearDupPairs(n0)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val cc = connectedComponents(pairs)
    ids.join(cc, ids("vec_id") === cc("v"), "left")
      .select(col("vec_id"), coalesce(col("cluster"), col("vec_id")).as("canonical"))
  }

  def queries: Seq[Q] = Seq(
    // Every document mapped to the min-id canonical of its duplicate
    // cluster (exact dups + transitive MinHash-LSH near-dups). The
    // oracle computes the same closure with a recursive CTE over the
    // identical pair set (the factored q42 CTE chain).
    Q("q74_dup_clusters",
      "WITH RECURSIVE " + Dedup.minhashPairsCtes + ", " +
        "e AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs), " +
        "r AS (SELECT d1 AS v, d2 AS u FROM e " +
        " UNION SELECT r.v, e.d2 FROM r JOIN e ON r.u = e.d1), " +
        "lab AS (SELECT v, LEAST(v, MIN(u)) AS cluster FROM r GROUP BY v), " +
        "rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep FROM documents) " +
        "SELECT rm.doc_id AS doc_id, COALESCE(lab.cluster, rm.rep) AS canonical " +
        "FROM rm LEFT JOIN lab ON rm.rep = lab.v ORDER BY doc_id") { (s, dir) =>
      // persisted before the presentation sort: the range partitioner's
      // sample pass would otherwise execute the rep-window + join twice
      GraftCache.track(resolveDuplicates(Tables.load(s, dir, "documents")))
        .orderBy("doc_id")
    },

    // PageRank centrality over the MinHash-LSH near-dup graph: 3
    // integer-exact power-iteration rounds; the oracle unrolls the same
    // rounds as chained CTEs over the identical pair set (the factored
    // q42 chain). Every SUM is cast back to BIGINT (DuckDB HUGEINT — the
    // r6 lesson) so both engines iterate on int64.
    Q("q100_centrality", {
      val damp = 85; val scale = 1000000000L
      val base = (100L - damp) * scale / 100L
      val rounds = (1 to 3).map { i =>
        val prev = s"s${i - 1}"
        s"c$i AS (SELECT e.dst AS v, CAST(SUM($prev.score // deg.deg) AS BIGINT) AS s " +
          s"FROM e JOIN deg USING (src) JOIN $prev ON $prev.v = e.src GROUP BY e.dst), " +
          s"s$i AS (SELECT v, $base + ($damp * s) // 100 AS score FROM c$i)"
      }.mkString(", ")
      "WITH " + Dedup.minhashPairsCtes + ", " +
        "e AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs), " +
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src), " +
        s"s0 AS (SELECT src AS v, CAST($scale AS BIGINT) AS score FROM deg), " +
        rounds +
        " SELECT v AS doc_id, score FROM s3 ORDER BY doc_id"
    }) { (s, dir) =>
      centrality(Dedup.minhashLshPairs(Tables.load(s, dir, "documents")))
        .select(col("v").as("doc_id"), col("score"))
        .orderBy("doc_id")
    },

    // Keep-best resolution: the longest member (min-id tiebreak) of
    // every duplicate cluster survives. Oracle = the q74 closure plus a
    // windowed per-cluster max and a FILTERed argmin — all integer
    // comparisons, bit-stable in both engines.
    Q("q113_keep_best",
      "WITH RECURSIVE " + Dedup.minhashPairsCtes + ", " +
        "e AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs), " +
        "r AS (SELECT d1 AS v, d2 AS u FROM e " +
        " UNION SELECT r.v, e.d2 FROM r JOIN e ON r.u = e.d1), " +
        "lab AS (SELECT v, LEAST(v, MIN(u)) AS cluster FROM r GROUP BY v), " +
        "rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep FROM documents), " +
        "m AS (SELECT rm.doc_id AS doc_id, COALESCE(lab.cluster, rm.rep) AS canonical " +
        "FROM rm LEFT JOIN lab ON rm.rep = lab.v), " +
        "j AS (SELECT m.canonical, d.doc_id, d.n_chars, " +
        "MAX(d.n_chars) OVER (PARTITION BY m.canonical) AS mx " +
        "FROM m JOIN documents d USING (doc_id)) " +
        "SELECT canonical, MIN(doc_id) FILTER (WHERE n_chars = mx) AS keeper_id, " +
        "MAX(n_chars) AS keeper_chars, COUNT(*) AS n_members " +
        "FROM j GROUP BY canonical ORDER BY canonical") { (s, dir) =>
      keepBest(Tables.load(s, dir, "documents")).orderBy("canonical")
    },

    // Semantic dedup end-to-end: every vector mapped to the min-id
    // canonical of its embedding near-dup component. Oracle = q45's
    // pair CTE chain + the same recursive closure as q74.
    Q("q89_semantic_clusters",
      "WITH RECURSIVE " + Dedup.embPairsCtes + ", " +
        "e AS (SELECT v1 AS d1, v2 AS d2 FROM epairs UNION SELECT v2, v1 FROM epairs), " +
        "r AS (SELECT d1 AS v, d2 AS u FROM e " +
        " UNION SELECT r.v, e.d2 FROM r JOIN e ON r.u = e.d1), " +
        "lab AS (SELECT v, LEAST(v, MIN(u)) AS cluster FROM r GROUP BY v) " +
        "SELECT em.vec_id AS vec_id, COALESCE(lab.cluster, em.vec_id) AS canonical " +
        "FROM embeddings em LEFT JOIN lab ON em.vec_id = lab.v ORDER BY vec_id") { (s, dir) =>
      GraftCache.track(semanticClusters(
          graft.operators.EmbeddingLsh.quantized(s, dir),
          Tables.load(s, dir, "embeddings").select("vec_id")))
        .orderBy("vec_id")
    }
  )
}
