package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dedup/similarity/text operators are a LIBRARY, not demo queries:
  * each takes any DataFrame with caller-named columns. These tests run
  * them on synthetic frames whose columns are named nothing like the
  * gate tables'.
  */
class OperatorApiSpec extends AnyFunSuite with SparkFixture {

  private def docs = {
    import spark.implicits._
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (12L, "the quick brown fox leaps over the lazy dog"), // near dup
      (13L, "completely different content entirely here now")
    ).toDF("id", "body")
  }

  test("exactDedup collapses byte-identical texts under any column names") {
    val out = exactDedupSorted()
    assert(out.length == 3)
    val dup = out.find(_._1 == 10L).get
    assert(dup._2 == 2L, "both copies counted")
  }

  private def exactDedupSorted(): Array[(Long, Long)] = {
    import spark.implicits._
    Dedup.exactDedup(docs, idCol = "id", textCol = "body")
      .select(col("survivor"), col("n_copies"))
      .as[(Long, Long)].collect().sortBy(_._1)
  }

  test("normalizedDedup collapses case/punctuation/whitespace variants") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"), // same after normalization
      (3L, "HELLO WORLD."), // same after normalization
      (4L, "hello there world") // different
    ).toDF("id", "body")
    val out = Dedup.normalizedDedup(d, idCol = "id", textCol = "body")
      .select(col("survivor"), col("n_copies"), col("n_variants"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 3L), (4L, 1L, 1L)))
    // byte-exact dedup sees 4 distinct texts — the normalization did the work
    assert(Dedup.exactDedup(d, "id", "body").count() == 4)
  }

  test("recallAtK: approx==exact gives full recall; misses are counted") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("qid", "vec_id")
    val full = Similarity.recallAtK(exact, exact)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(full.toSeq == Seq((1L, 2L, 2L), (2L, 1L, 1L)))
    val approx = Seq((1L, 10L), (1L, 99L)).toDF("qid", "vec_id") // one hit, qid 2 absent
    val part = Similarity.recallAtK(exact, approx)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(part.toSeq == Seq((1L, 2L, 1L), (2L, 1L, 0L)))
  }

  test("minhashCalibration reports exact shingle overlap for LSH pairs") {
    import spark.implicits._
    val out = Dedup.minhashCalibration(docs, idCol = "id", textCol = "body")
      .as[(Long, Long, Long, Long, Long)].collect()
    val p = out.find(r => r._1 == 10L && r._2 == 12L)
      .getOrElse(fail(s"near-dup pair not a candidate: ${out.mkString(",")}"))
    // bigram sets: 8 each, differing in (fox jumps|leaps), (jumps|leaps over)
    assert(p._4 == 6L && p._5 == 10L, s"true Jaccard wrong: $p")
    assert(p._3 >= 4L && p._3 <= 16L, s"signature matches out of range: $p")
    assert(out.forall(r => r._4 <= r._5 && r._3 <= 16L))
  }

  test("jaccardPairs + minhashLshPairs + simhashPairs find the near-dup pair") {
    import spark.implicits._
    val jac = Dedup.jaccardPairs(docs, "id", "body")
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(jac.contains((10L, 12L)), s"jaccard missed the near-dup: $jac")
    val mh = Dedup.minhashLshPairs(docs, "id", "body")
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(mh.contains((10L, 12L)), s"minhash missed the near-dup: $mh")
    val sp = Dedup.simhashPairs(docs, "id", "body")
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(sp.contains((10L, 12L)), s"simhash missed the near-dup: $sp")
    // the unrelated doc never pairs with anything
    assert(!(jac ++ mh ++ sp).exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("pqAdc: perfect recall on cluster-separated data; codes bounded by ksub") {
    import spark.implicits._
    // 3 tight clusters of 40 unit-ish vectors in 64 dims: cluster c
    // concentrates its mass on dims [16c, 16c+16) with small per-vector
    // jitter elsewhere. True neighbors are same-cluster by a wide
    // margin, so the 8×16 product grid must separate them — the
    // pqAdc recall-regime claim (near-orthogonal noise ≈ 0.3 at the
    // gate, clustered data → 1.0).
    val rnd = new scala.util.Random(83)
    val vecs = for (c <- 0 until 3; i <- 0 until 40) yield {
      val v = Array.fill(64)(rnd.nextDouble() * 0.02 - 0.01)
      for (d <- 16 * c until 16 * c + 16) v(d) += 0.25
      (c * 40L + i, v.toSeq)
    }
    val n = EmbeddingLsh.quantize(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val isQ = col("vec_id") % 40 === 0 // one query per cluster
    val adc = Similarity.pqAdc(n, isQ)
      .as[(Long, Long, Long)].collect()
    assert(adc.map(_._1).distinct.sorted.toSeq == Seq(0L, 40L, 80L))
    for ((qid, vid, _) <- adc)
      assert(vid / 40 == qid / 40,
        s"query $qid got cross-cluster neighbor $vid in its top-10")
    // recallAtK plumbing: k_exact = 10 per query. Within-cluster
    // ORDERING is jitter-sized (±1 grid unit) — below what any coded
    // representation can resolve by construction — so the pinned
    // property is cluster containment above, not within-cluster recall.
    val rec = Similarity.recallAtK(
      Similarity.annBruteForce(n, isQ), Similarity.pqAdc(n, isQ))
      .as[(Long, Long, Long)].collect()
    assert(rec.length == 3 && rec.forall(_._2 == 10L), rec.mkString(","))
    // codes are positional indexes into the ksub-entry codebooks
    val codes = Similarity.pqEncode(n, Similarity.pqTrain(n))
      .select(explode(col("codes"))).as[Int].collect()
    assert(codes.forall(c => c >= 0 && c < Similarity.PqKsub))
    // corpus SMALLER than ksub: every vector seeds its own code, so the
    // codebooks are exact and ADC distance == exact squared L2 — pins
    // the effective-codebook-size LUT offsets (a ksub-parameter offset
    // would misalign every subspace past the first)
    val tiny = EmbeddingLsh.quantize(
      vecs.take(5).toDF("vec_id", "embedding"), "vec_id", "embedding")
    val tinyAdc = Similarity.pqAdc(tiny, col("vec_id") === 0, k = 4)
      .as[(Long, Long, Long)].collect().toSeq
    val exact = tiny.as[(Long, Seq[Long], Long)].collect()
    val q0 = exact.find(_._1 == 0L).get._2
    val want = exact.filter(_._1 != 0L).map { case (id, v, _) =>
      (id, v.zip(q0).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(t => (t._2, t._1)).take(4).map { case (id, d) => (0L, id, d) }
      .sortBy(_._2).toSeq // pqAdc presents (qid, vec_id)-ordered
    assert(tinyAdc == want, s"small-corpus ADC != exact L2: $tinyAdc vs $want")
  }

  test("dupSpans counts positional k-token spans shared across documents") {
    import spark.implicits._
    // 10 tokens -> 3 spans of k=8 per doc. Docs 20/21 share all three
    // spans (identical text); doc 22 shares only the first span with
    // them (same first 8 tokens, divergent tail); doc 23 shares none;
    // doc 24 is too short for any span.
    val corpus = Seq(
      (20L, "a b c d e f g h i j"),
      (21L, "a b c d e f g h i j"),
      (22L, "a b c d e f g h X Y"),
      (23L, "p q r s t u v w x y"),
      (24L, "too short")
    ).toDF("id", "body")
    val out = Dedup.dupSpans(corpus, idCol = "id", textCol = "body")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3)).toSeq == Seq(
      (20L, 3L, 3L), (21L, 3L, 3L), (22L, 3L, 1L), (23L, 3L, 0L), (24L, 0L, 0L)))
    // per-mille is integer floor division; the empty doc divides by 1
    val pm = out.map(r => (r._1, r._4)).toMap
    assert(pm(20L) == 1000L && pm(22L) == 333L && pm(23L) == 0L && pm(24L) == 0L)
  }

  test("chunkWindows: overlapping windows, kept tail, single chunk for short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")), // 40 tokens -> 2 chunks
      (2L, "a b c d e")                               // short -> 1 chunk of 5
    ).toDF("id", "body")
    val out = TextAnalysis.chunkWindows(docs, idCol = "id", textCol = "body")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 0L, 32L), (1L, 1L, 24L), (2L, 0L, 5L)))
    // second window starts at token 17: fingerprints must differ
    assert(out(0)._4 != out(1)._4)
  }

  test("shardOrder gives contiguous per-shard positions, stable under repartitioning") {
    import spark.implicits._
    val ids = (0L until 200L).map(i => (i, s"t$i")).toDF("key", "body")
    val out = Curation.shardOrder(ids, nShards = 4, idCol = "key")
      .as[(Long, Long, Long)].collect()
    assert(out.length == 200 && out.map(_._1).distinct.length == 200)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // partitioning-independent: same layout from a differently-arranged input
    val out2 = Curation.shardOrder(ids.repartition(7).sortWithinPartitions(desc("key")),
      nShards = 4, idCol = "key").as[(Long, Long, Long)].collect()
    assert(out.toSet == out2.toSet, "layout changed with input partitioning")
  }

  test("semanticOutliers flags the nearest decile of each cluster, tie-inclusive") {
    import spark.implicits._
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        (((i * 2654435761L + j * 40503L) % 1024L) - 512L) / 256.0f))
    }.toDF("key", "vec")
    val out = Similarity.semanticOutliers(
      EmbeddingLsh.quantize(vecs, idCol = "key", vecCol = "vec"))
      .as[(Long, Long, Long, Int)].collect()
    val byCell = out.groupBy(_._2)
    byCell.foreach { case (cell, rows) =>
      val flagged = rows.filter(_._4 == 1)
      assert(flagged.nonEmpty, s"cell $cell flagged nothing")
      // every flagged distance is <= every unflagged distance
      val maxF = flagged.map(_._3).max
      val unflagged = rows.filter(_._4 == 0)
      assert(unflagged.forall(_._3 >= maxF),
        s"cell $cell flagged a farther vector than an unflagged one")
    }
    // decile-ish overall: ties within one histogram bin can overshoot
    // in a tiny cluster, but the corpus can't be mostly "prototypical"
    assert(out.count(_._4 == 1) * 2 < out.length,
      s"flagged ${out.count(_._4 == 1)}/${out.length} corpus-wide")
  }

  test("ann operators run over quantize() of caller-named embedding frames") {
    import spark.implicits._
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(64)(j => ((i * 7 + j) % 13 - 6) / 10.0f))
    }.toDF("key", "vec")
    val n = EmbeddingLsh.quantize(vecs, idCol = "key", vecCol = "vec")
    val bf = Similarity.annBruteForce(n, col("vec_id") % 4 === 0, k = 3)
    val rows = bf.collect()
    assert(rows.length == 9, s"3 queries x top-3: ${rows.length}") // 0,4,8
    val ivf = Similarity.annIvf(n, col("vec_id") % 4 === 0,
      col("vec_id") % 3 === 0, nprobe = 2, k = 3).collect()
    assert(ivf.nonEmpty)
    // every IVF hit is for a declared query, never self, at most k each
    assert(ivf.forall(r => r.getLong(0) % 4 == 0 && r.getLong(0) != r.getLong(1)))
    assert(ivf.groupBy(_.getLong(0)).values.forall(_.length <= 3))
  }

  test("hardNegatives returns only cross-label neighbors") {
    import spark.implicits._
    val vecs = (0 until 12).map { i =>
      (i.toLong, (i % 3), Array.tabulate(64)(j => ((i * 7 + j) % 13 - 6) / 10.0f))
    }.toDF("key", "lbl", "vec")
    val n = EmbeddingLsh.quantize(vecs, idCol = "key", vecCol = "vec",
      keep = Seq("lbl")).withColumnRenamed("lbl", "label")
    val out = Similarity.hardNegatives(n, col("vec_id") % 4 === 0, k = 3).collect()
    assert(out.nonEmpty)
    val lbl = (id: Long) => id % 3
    out.foreach { r =>
      assert(r.getLong(0) % 4 == 0 && r.getLong(0) != r.getLong(1))
      assert(lbl(r.getLong(0)) != lbl(r.getLong(1)), s"same-label negative: $r")
    }
    assert(out.groupBy(_.getLong(0)).values.forall(_.length <= 3))
  }

  test("text analysis operators accept caller-named columns") {
    val ts = TextAnalysis.tokenStats(docs, "id", "body").collect()
    assert(ts.length == 4 && ts.forall(_.getInt(1) > 0))
    val q = TextAnalysis.qualityScore(docs, "id", "body").collect()
    assert(q.forall(r => r.getDouble(4) <= 1.0))
    val fp = TextAnalysis.fingerprints(docs, "id", "body").collect()
    assert(fp.map(_.getLong(1)).distinct.length == 3) // dup texts share fp
  }

  test("redactTerms masks word-boundary occurrences and counts them") {
    val out = TextAnalysis.redactTerms(docs,
        terms = Seq("fox", "dog"), mask = "<x>", idCol = "id", textCol = "body")
      .orderBy("doc_id").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(2, 2, 2, 0))
    assert(out.head.getString(2) ==
      "the quick brown <x> jumps over the lazy <x>")
    // word-boundary: "foxes" must NOT be masked by term "fox"
    import spark.implicits._
    val wb = TextAnalysis.redactTerms(Seq((1L, "fox foxes outfox"))
        .toDF("id", "body"), Seq("fox"), "<x>", "id", "body").collect()(0)
    assert(wb.getInt(1) == 1 && wb.getString(2) == "<x> foxes outfox")
    // blocklist terms are LITERALS: regex metacharacters must neither
    // throw ("c++") nor overmatch ("a.b" redacting "arb")
    val meta = TextAnalysis.redactTerms(
      Seq((1L, "c++ and arb and a.b here")).toDF("id", "body"),
      Seq("c++", "a.b"), "<x>", "id", "body").collect()(0)
    assert(meta.getInt(1) == 2 && meta.getString(2) == "<x> and arb and <x> here")
  }

  test("piiRedact counts sequentially and never double-counts a span") {
    import spark.implicits._
    val out = TextAnalysis.piiRedact(Seq(
      // a phone-shaped local part: consumed by the email stage, so the
      // phone counter (which runs on the already-redacted text) sees 0
      (1L, "mail 555-123-4567@evil.example.com now"),
      (2L, "ip 10.0.0.1 and phone 555-123-4567 and a@b.co"),
      (3L, "clean text only")
    ).toDF("id", "body"), idCol = "id", textCol = "body")
      .orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 1 && out(0).getInt(2) == 0 && out(0).getInt(3) == 0)
    assert(out(0).getString(4) == "mail <EMAIL> now")
    assert(out(1).getInt(1) == 1 && out(1).getInt(2) == 1 && out(1).getInt(3) == 1)
    assert(out(1).getString(4) == "ip <IP> and phone <PHONE> and <EMAIL>")
    assert(out(2).getInt(1) == 0 && out(2).getString(4) == "clean text only")
  }

  test("verifiedNearDups confirms the near-dup pair with exact distance") {
    import spark.implicits._
    val out = Dedup.verifiedNearDups(docs, idCol = "id", textCol = "body")
      .as[(Long, Long, Int, Int, Boolean)].collect()
    val p = out.find(r => r._1 == 10L && r._2 == 12L)
    assert(p.isDefined, s"LSH candidate (10,12) missing: ${out.toSeq}")
    // "jumps" -> "leaps": substitutions at 'j'->'l' and 'um'->'ea' = 3 edits
    assert(p.get._3 == 3 && p.get._5, s"bad verify row: ${p.get}")
    // the exact-dup pair (10,11) has distance 0
    assert(out.find(r => r._1 == 10L && r._2 == 11L).forall(r => r._3 == 0 && r._5))
  }

  test("vocabPrune rewrites OOV tokens and counts them") {
    import spark.implicits._
    // vocabulary = top-2 by (count desc, token): "the" (4), then the
    // six singletons tie-broken alphabetically -> "brown"? no: counts
    // over all docs: the=6, fox=3, quick=3, ... pick k=1 -> only "the"
    val out = TextAnalysis.vocabPrune(docs, k = 1, unk = "?",
        idCol = "id", textCol = "body").orderBy("doc_id").collect()
    assert(out.head.getString(1) == "the ? ? ? ? ? the ? ?")
    assert(out.head.getInt(2) == 7)
    assert(out.last.getInt(2) == 6) // doc 13: no "the" at all
  }

  test("stratifiedSample keeps exactly ⌊cnt·num/den⌋ rows per group, stably") {
    import spark.implicits._
    val df = (1L to 97L).map(i => (s"g${i % 3}", i, s"text $i"))
      .toDF("src", "id", "body")
    def sample(parts: Int) = Curation.stratifiedSample(
        df.repartition(parts), "src", "id", "body", num = 1, den = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = sample(3)
    val sizes = got.groupBy(_._1).view.mapValues(_.size).toMap
    // groups have 33/32/32 members -> exactly 8 sampled from each
    assert(sizes == Map("g0" -> 8, "g1" -> 8, "g2" -> 8), sizes.toString)
    // deterministic: same membership under a different partitioning
    assert(sample(11) == got)
  }

  test("weightedSample: integer-exact priority order, weight-monotone, partition-stable") {
    import spark.implicits._
    val df = (1L to 400L).map(i =>
      (i, s"g${i % 2}", 1L + (i * i) % 50, s"doc body $i"))
      .toDF("doc_id", "source", "n_chars", "text")
    def run(parts: Int) = Curation.weightedSample(df.repartition(parts), 60)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val got = run(4)
    assert(got.length == 60)
    // deterministic: identical selection AND order under repartitioning
    assert(run(13).toSeq == got.toSeq)
    // the emitted priority key really is u div max(w,1) for every row,
    // and the selection is the GLOBAL top-k of that key (local recompute)
    val all = df.select(col("doc_id"), col("n_chars"),
        (graft.functions.CrossHash.h60(col("text")) + 1).as("u"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keyed = all.map { case (id, w, u) => (u / math.max(w, 1L), u, id, w) }.sorted
    assert(got.map(_._1).toSeq == keyed.take(60).map(_._3).toSeq)
    assert(got.forall { case (id, w, pk) =>
      keyed.exists(k => k._3 == id && k._1 == pk && k._4 == w) })
    // weight-monotone in expectation: the mean weight of the selected
    // set must exceed the corpus mean (the point of weighting)
    val meanSel = got.map(_._2).sum.toDouble / got.length
    val meanAll = all.map(_._2).sum.toDouble / all.length
    assert(meanSel > meanAll, s"selected mean $meanSel <= corpus mean $meanAll")
  }

  test("heavyHitters accepts caller-named text columns") {
    val hh = TextAnalysis.heavyHitters(docs, k = 3, capacity = 64,
      textCol = "body").collect()
    assert(hh.head.getString(0) == "the" && hh.head.getLong(1) == 6L)
  }

  test("curate dedups, gates on quality+language, budgets tokens") {
    import spark.implicits._
    val out = Curation.curate(docs, idCol = "id", textCol = "body")
      .select("doc_id", "n_tokens", "n_bpe_tokens")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    // doc 11 (exact dup of 10) is gone; the fox docs pass the 'en'
    // density gate ("the" twice in 9 tokens); doc 13 has zero stopwords
    // and fails the language gate
    assert(out.map(_._1).toSeq == Seq(10L, 12L), out.mkString(","))
    assert(out.forall(r => r._2 == 9 && r._3 == 9))
    // tightening the quality threshold to require ALL-distinct non-stop
    // tokens drops the fox docs too ("the" repeats: nd-sh=7 < 9)
    val strict = Curation.curate(docs, "id", "body", qualityNum = 1, qualityDen = 1)
    assert(strict.count() == 0)
  }

  test("connectedComponents labels every vertex with its component min") {
    import spark.implicits._
    // a path (1-2-3-4), a clique pair (10-11), a bridge-joined pair (20-21, 21-22)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("d1", "d2")
    val cc = Cluster.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), cc)
  }

  test("cents-sum → double converts with ONE rounding past 2^53") {
    import spark.implicits._
    // q06/q12/q90 accumulate money as int64 cents; group sums at 100 TB
    // cross 2^53, where cast-to-double-then-divide rounds TWICE and
    // diverges from the oracle's single correctly-rounded DECIMAL→double
    // conversion. The production form divides in exact decimal first.
    val ns = (1L to 200L).map(k => (1L << 53) + 7 * k)
    def want(n: Long): Double =
      new java.math.BigDecimal(n).movePointLeft(2).doubleValue()
    assert(ns.exists(n => n.toDouble / 100.0 != want(n)),
      "candidate set has no double-rounding witness — widen it")
    val got = ns.toDF("c")
      .select(col("c"),
        (col("c").cast(org.apache.spark.sql.types.DecimalType(28, 0)) /
          lit(100)).cast("double").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (n <- ns) assert(got(n) == want(n), s"n=$n")
  }

  test("connectedComponents labels self-loop-only vertices in BOTH tiers") {
    import spark.implicits._
    // vertex 5 and 7 appear only as self-loops, 2 has a self-loop AND a
    // real edge — every tier must emit the identical labeling (tier
    // agreement must hold on arbitrary pair sources, so a self-loop row
    // must not vanish from the star path)
    val pairs = Seq((5L, 5L), (1L, 2L), (7L, 7L), (2L, 2L)).toDF("d1", "d2")
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L)
    val driver = Cluster.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val starred = Cluster.connectedComponents(pairs, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver == want, driver)
    assert(starred == want, starred)
  }

  test("connectedComponents fails loudly when rounds exceed maxIters") {
    import spark.implicits._
    // star contraction halves a path's height per round, so a
    // 200-vertex path needs ~log2(200) ≈ 8 rounds — robustly over a
    // bound of 2; threshold 0 forces the distributed tier (the guard
    // lives there — the driver union-find has no iteration bound)
    val chain = (0 until 199).map(i => (i.toLong, i + 1L)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      Cluster.connectedComponents(chain, maxIters = 2, smallGraphThreshold = 0)
        .collect()
    }
    assert(e.getMessage.contains("no convergence"), e.getMessage)
    // and converges fine when the bound allows
    val cc = Cluster.connectedComponents(chain, maxIters = 15, smallGraphThreshold = 0)
      .as[(Long, Long)].collect()
    assert(cc.forall(_._2 == 0L) && cc.length == 200, cc.mkString(","))
  }

  test("resolveDuplicates maps exact+near dups to one canonical id") {
    import spark.implicits._
    val out = Cluster.resolveDuplicates(docs, idCol = "id", textCol = "body")
      .as[(Long, Long)].collect().toMap
    // 10/11 byte-identical, 12 near-dup of their representative → all 10;
    // 13 unrelated → itself
    assert(out == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L), out)
  }

  test("incrementalDedup admits only docs new to the reference corpus") {
    import spark.implicits._
    val old = docs.filter(col("id").isin(10L, 13L))
    val batch = docs.filter(col("id").isin(11L, 12L))
      .union(Seq((14L, "genuinely novel words appear in this one")).toDF("id", "body"))
    val out = Dedup.incrementalDedup(batch, old, idCol = "id", textCol = "body")
      .select("doc_id").as[Long].collect().toSet
    // 11 is byte-identical to old 10 (exact gate), 12 is its near-dup
    // (simhash gate); only the novel doc survives
    assert(out == Set(14L), out)
  }

  test("decontaminate flags docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox says hello")).toDF("id", "body")
    val out = Curation.decontaminate(docs, bench, n = 4, idCol = "id", textCol = "body")
      .as[(Long, Long)].collect().toMap
    // fox docs share "the quick brown fox"; doc 13 shares nothing
    assert(out.keySet == Set(10L, 11L, 12L), out)
    assert(!out.contains(13L))
    // distinct-gram counting: each fox doc has exactly one shared 4-gram
    assert(out.values.toSet == Set(1L), out)
  }

  test("dsirSelect ranks target-like candidates first; 1-token docs are features, not crashes") {
    import spark.implicits._
    // target is "spark"-themed; candidate 20/21 share its profile,
    // 22/23/24 do not; 24 is a single token (the Spark sequence(1,0)
    // descent hazard — DuckDB's generate_series(1,0) is empty, and the
    // operator must match, not throw). Scores are feature-occurrence
    // SUMS (the paper's shape too), so a 1-token TARGET-themed doc can
    // legitimately outrank longer mixed docs — the off-theme 1-token
    // doc pins only the no-crash edge, not a length-normalization claim.
    val target = Seq(
      (1L, "spark shuffle spark join"),
      (2L, "spark plan shuffle")).toDF("id", "body")
    val cand = Seq(
      (20L, "spark shuffle join"),
      (21L, "spark plan spark"),
      (22L, "cats eat fish daily"),
      (23L, "rain falls on hills"),
      (24L, "cats")).toDF("id", "body")
    val out = Curation.dsirSelect(target, cand, idCol = "id",
        textCol = "body", topN = 2)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(out == Set(20L, 21L), out.toString)
  }

  test("doremiReweight up-weights the reference-like domain and feeds mixSample directly") {
    import spark.implicits._
    // the reference's bigrams are DETERMINISTIC (P(beta|alpha) = 1 →
    // ref_ppm = 10⁶ for alpha-beta chains), while the raw candidate
    // corpus splits alpha's continuations across domains — so src_a's
    // chains score ref_ppm > raw_ppm (positive excess) and src_b's
    // off-vocabulary bigrams score ref 0 (clipped): the multiplicative
    // update must move weight toward src_a while smoothing keeps src_b
    // sampled
    val reference = Seq(
      (1L, "alpha beta alpha beta alpha beta"),
      (2L, "alpha beta alpha beta")).toDF("id", "body")
    val cand = Seq(
      (20L, "src_a", "alpha beta alpha beta"),
      (21L, "src_a", "alpha beta alpha"),
      (22L, "src_b", "alpha gamma alpha delta"),
      (23L, "src_b", "gamma delta gamma epsilon")).toDF("id", "src", "body")
    val w = Curation.doremiReweight(reference, cand, idCol = "id",
        textCol = "body", groupCol = "src")
      .as[(String, Long, Long)].collect().map { case (s, _, wt) => s -> wt }.toMap
    assert(w("src_a") > w("src_b"), w.toString)
    assert(w("src_b") > 0L, "smoothing must keep every domain sampled")
    // the output IS mixSample's rate table — the composition the
    // operator exists for (weights are parts-of-DoremiScale)
    val rates = w.toSeq.map { case (s, wt) => s -> wt.toInt }
    val kept = Curation.mixSample(cand, rates, defaultRate = 0,
      den = Curation.DoremiScale.toInt, groupCol = "src", textCol = "body")
    assert(kept.count() <= cand.count())
  }

  test("rhoExcess single-pass dual-LM fold ≡ two independent lmScoreAgainst passes") {
    import spark.implicits._
    // r19 restructure pin: one tracked bigram stream probing both LM
    // tables must produce the exact (ref_ppm, raw_ppm, excess) the
    // two-pass shape did — same LEFT-join + coalesce-0 OOV rule, same
    // integer div.
    val reference = Seq(
      (1L, "alpha beta alpha beta gamma"),
      (2L, "alpha beta delta")).toDF("id", "body")
    val cand = Seq(
      (20L, "alpha beta alpha"),
      (21L, "alpha gamma alpha delta"),
      (22L, "zeta eta theta"),
      (23L, "alpha beta alpha beta alpha")).toDF("id", "body")
    val got = Curation.rhoExcess(reference, cand, idCol = "id",
        textCol = "body")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val refScore = TextAnalysis.lmScoreAgainst(cand,
        TextAnalysis.lmTable(reference, "id", "body"), "id", "body")
      .select(col("doc_id"), col("lm_ppm").as("ref_ppm"))
    val rawScore = TextAnalysis.lmScoreAgainst(cand,
        TextAnalysis.lmTable(cand, "id", "body"), "id", "body")
      .select(col("doc_id"), col("lm_ppm").as("raw_ppm"))
    val want = refScore.join(rawScore, "doc_id")
      .select(col("doc_id"), col("ref_ppm"), col("raw_ppm"),
        (col("ref_ppm") - col("raw_ppm")).as("excess"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("repetitionStats counts duplicate bigrams and the top token") {
    import spark.implicits._
    val rep = Seq((1L, "spam spam spam spam eggs"),
      (2L, "all of these six tokens differ")).toDF("id", "body")
    val out = TextAnalysis.repetitionStats(rep, "id", "body")
      .select("doc_id", "n_bigrams", "n_dup_bigrams", "top_tok_count", "flagged")
      .as[(Long, Int, Int, Long, Int)].collect().sortBy(_._1)
    // "spam spam" bigram appears 3× (2 dups); top token spam ×4 of 5
    assert(out(0) == ((1L, 4, 2, 4L, 1)), out.mkString(","))
    // 6 distinct tokens: top fraction 1/6 ≤ 20% threshold → unflagged
    assert(out(1) == ((2L, 5, 0, 1L, 0)), out.mkString(","))
  }

  test("kmeansAssign separates obvious clusters with literal-centroid assignment") {
    import spark.implicits._
    // even ids cluster on axis 0, odd ids on axis 1; seeds (ids 0, 1)
    // land one per cluster, so 2 Lloyd rounds give a perfect split
    val vecs = (0 until 10).map { i =>
      val v = Array.fill(64)(0.0f)
      v(i % 2) = 10.0f; v(2 + (i % 2)) = i * 0.01f
      (i.toLong, v)
    }.toDF("key", "vec")
    val out = Similarity.kmeansAssign(
      EmbeddingLsh.quantize(vecs, "key", "vec"), k = 2, iters = 2)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(out == (0 until 10).map(i => i.toLong -> (i % 2).toLong).toMap, out)
  }

  test("tfidfTopTerms ranks group-distinctive terms first") {
    import spark.implicits._
    val corp = Seq(
      ("a", "common apple apple apple"), ("a", "common apple"),
      ("b", "common banana banana"), ("b", "common banana banana banana"))
      .toDF("src", "body")
    val out = TextAnalysis.tfidfTopTerms(corp, "src", "body", k = 1)
      .select("grp", "tok").as[(String, String)].collect().toMap
    // "common" appears in both groups (df=2), fruits in one (df=1):
    // the fruit outranks it despite equal tf
    assert(out == Map("a" -> "apple", "b" -> "banana"), out)
  }

  test("packSequences assigns a consistent global prefix-sum position") {
    import spark.implicits._
    val corp = (0 until 40).map(i =>
      (i.toLong, (0 to i % 5).map(j => s"w$i$j").mkString(" "))).toDF("id", "body")
    val out = Curation.packSequences(corp, "id", "body", capacity = 7, parts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 40)
    // reconstruct the global order and check start positions are the
    // exact running sum — i.e. the distributed two-pass prefix sum
    // equals the sequential one
    val byStart = out.sortBy(r => r._3 * 7 + r._4)
    val starts = byStart.scanLeft(0L)((acc, r) => acc + r._2).init
    byStart.zip(starts).foreach { case ((id, n, bin, off), s) =>
      assert(bin == s / 7 && off == s % 7, s"doc $id: ($bin,$off) vs start $s")
    }
    assert(out.forall(_._4 < 7))
  }

  test("tokenBudget keeps each group's best-quality prefix") {
    import spark.implicits._
    val corp = Seq(
      ("g1", 1L, "alpha beta gamma delta"), // q=4 (distinct, no stopwords)
      ("g1", 2L, "the the the the"),        // q=1-4=-3 → worst
      ("g1", 3L, "eps zeta eta"),           // q=3
      ("g2", 4L, "one two three")).toDF("src", "id", "body")
    val out = Curation.tokenBudget(corp, "src", "id", "body", budget = 7)
      .select("doc_id").as[Long].collect().toSet
    // g1: doc1 (4 toks) + doc3 (3 toks) fill the budget; doc2 would
    // exceed it and ranks last anyway. g2: fits whole.
    assert(out == Set(1L, 3L, 4L), out)
  }

  test("hashSplit is deterministic and exhaustive") {
    import spark.implicits._
    val s1 = Curation.hashSplit(docs, textCol = "body")
      .select("id", "split").as[(Long, String)].collect().toMap
    val s2 = Curation.hashSplit(docs, textCol = "body")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(s1 == s2, "split must not depend on run or partitioning")
    assert(s1.values.forall(v => v == "train" || v == "val"))
    // identical texts land in the same split
    assert(s1(10L) == s1(11L))
  }

  test("mixSample keeps rate-100 sources whole and is partition-independent") {
    import spark.implicits._
    val corp = (1L to 200L).map(i => (s"grp${i % 4}", i, s"document number $i body"))
      .toDF("src", "id", "body")
    val rates = Seq("grp0" -> 100, "grp1" -> 0)
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.mixSample(df, rates, defaultRate = 50,
          groupCol = "src", textCol = "body")
        .select("id").as[Long].collect().toSet
    val kept = run(corp)
    val grp0 = (1L to 200L).filter(_ % 4 == 0).toSet
    assert(grp0.subsetOf(kept), "rate 100 must keep every grp0 doc")
    assert(!kept.exists(_ % 4 == 1), "rate 0 must drop every grp1 doc")
    val mid = kept.count(i => i % 4 == 2 || i % 4 == 3)
    assert(mid > 10 && mid < 90, s"default rate 50 wildly off: $mid of 100")
    assert(run(corp.repartition(7)) == kept, "membership must not depend on partitioning")
  }

  test("composition pivots token counts with zero-fill for absent pairs") {
    import spark.implicits._
    val corp = Seq(
      ("sA", "xx", "one two three"),
      ("sA", "yy", "four five"),
      ("sB", "xx", "six")).toDF("src", "language", "body")
    val out = Curation.composition(corp, Seq("xx", "yy", "zz"),
        groupCol = "src", langCol = "language", textCol = "body")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("sA") == ((3L, 2L, 0L)), out)
    assert(out("sB") == ((1L, 0L, 0L)), "absent (source, lang) pairs must read 0")
  }

  test("sq8 codes hit the grid endpoints and zero degenerate dimensions") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.0f, 10.0f, 7.5f)),
      (2L, Seq(4.0f, 10.0f, 2.5f)),
      (3L, Seq(2.0f, 10.0f, 5.0f))).toDF("vid", "emb")
    val out = Similarity.sq8(vecs, "vid", "emb")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // dim 0 spans [0,4]: min codes 0, max codes 255; dim 1 is constant
    // (degenerate) → 0; dim 2 spans [2.5,7.5]: midpoint codes 127
    assert(out(1L)(0) == 0L && out(2L)(0) == 255L)
    assert(out.values.forall(_(1) == 0L), "constant dimension must code 0")
    assert(out(3L)(2) == 127L, s"midpoint code: ${out(3L)(2)}")
    assert(out.values.flatten.forall(c => c >= 0L && c <= 255L))
  }

  test("invertedIndex band-selects vocabulary and sorts postings") {
    import spark.implicits._
    // "aa bb"/"bb cc" appear in docs 1,2 (df=2 of 4 docs = 500‰ — in
    // band), "cc dd" in all 4 (1000‰ — above band), "dd ee"/"ee ff"
    // only in doc 4 (250‰ — below band)
    val corp = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb cc dd"),
      (3L, "cc dd"), (4L, "cc dd ee ff")).toDF("id", "body")
    val idx = TextAnalysis.invertedIndex(corp, loPermille = 400,
        hiPermille = 600, idCol = "id", textCol = "body")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    assert(idx.map(_._1).toSeq == Seq("aa bb", "bb cc"), idx.mkString(","))
    assert(idx.forall(e => e._2 == 2L && e._3 == Seq(1L, 2L)), idx.mkString(","))
  }
}
