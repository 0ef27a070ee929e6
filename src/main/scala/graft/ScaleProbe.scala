package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible source of BASELINE.md's N× scale-up measurements: build
  * a key-shifted N× union of a testdata table and time the PRODUCTION
  * queries or an operator chain cold over it, so wall-vs-rows curves
  * are regenerable (the BASELINE entries cite runs of this probe, not
  * hand runs).
  *
  * Usage: `sbt "runMain graft.ScaleProbe <sfDir> <factor> <op>"` where
  * op is one of [[ops]]:
  *  - a family curve from [[families]] (lm, spans, simhash, sessions,
  *    curation, text, gram): N× one fact table, per-query cold times;
  *  - `relational`: the TPC-H flagship set over N× lineitem/orders/events;
  *  - `textlayout`: the text family on the N× corpus as written vs the
  *    `Layout.textWrite` files × row-group rewrite of the same rows;
  *  - a one-call operator chain (neardup, lsh, dedup, annbrute, annivf,
  *    pqadc, semdedup, ivfadc) over N× documents or embeddings.
  *
  * Emits one JSON line: {"op":…,"factor":N,"rows":R,"sec":S}, plus a
  * per-query map for the curves.
  *
  * The ANN pair is the scale argument for the IVF index: brute-force
  * work is N·Q (queries scale with the corpus, so N× data is N²×
  * dots), while IVF holds ~N·Q·NProbe/C with C growing with N — the
  * divergence of the two curves at 10× is the measured reason the
  * approximate path exists.
  */
object ScaleProbe {

  /** N copies of `embeddings` with shifted ids and a per-copy
    * DETERMINISTIC component perturbation (copy index mixed into two
    * coordinates before quantization) so copies are near but not
    * identical in cosine space — cell occupancy and top-k structure
    * stay realistic instead of N identical stacked vectors.
    */
  def scaledEmbeddings(spark: SparkSession, dir: String, factor: Int): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val shift = 1L << 32
    (0 until factor).map { i =>
      base.select((col("vec_id") + lit(i * shift)).as("vec_id"),
        expr(s"transform(embedding, (x, j) -> " +
          s"CAST(x + CASE WHEN j < 2 THEN ${i}.0 / 50.0 ELSE 0.0 END AS FLOAT))")
          .as("embedding"))
    }.reduce(_ unionByName _)
  }

  /** N copies of `documents` with doc_ids shifted per copy and EVERY
    * token suffixed with the copy index — copies share zero shingles,
    * so they are NOT near-dups of each other: the dedup structure per
    * copy matches the base corpus, giving N× the work, not an N²
    * cross-copy candidate blowup (a trailing-salt variant of this probe
    * measured exactly that blowup — one changed shingle keeps ~0.95
    * Jaccard and every copy pair collides in LSH).
    */
  def scaledDocuments(spark: SparkSession, dir: String, factor: Int): DataFrame = {
    val base = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val shift = 1L << 32
    (0 until factor).map { i =>
      base.select((col("doc_id") + lit(i * shift)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1c$i").as("text"))
    }.reduce(_ unionByName _)
  }

  /** A scaled RELATIONAL dataset directory: the two fact tables
    * (lineitem, orders) unioned N× with per-copy shifted ORDER keys —
    * copies join among themselves exactly like the base data — while
    * dimension keys stay unshifted, so the 1× dims (symlinked) remain
    * valid join targets. That is the realistic warehouse shape: facts
    * grow ~linearly, dims grow much slower, and the broadcast-dim
    * strategy the suite's plans pin must keep holding as facts scale.
    * Returns the directory, laid out exactly like a testdata sf dir so
    * the PRODUCTION `SparkEntry.queries` run on it unmodified.
    */
  def scaledRelationalDir(spark: SparkSession, dir: String, factor: Int): String = {
    // SPARK_GRAFT_SCALED_DIR pins the output path and REUSES an already
    // -built dataset (cross-engine comparisons run the oracle over the
    // same files; rebuilding 60 M rows per probe invocation would also
    // dominate the wall)
    sys.env.get("SPARK_GRAFT_SCALED_DIR").foreach { p =>
      val path = java.nio.file.Paths.get(p)
      def present(t: String) =
        java.nio.file.Files.exists(path.resolve(t + ".parquet"))
      if (present("lineitem") && present("orders")) {
        // validate the reused dataset really IS this factor — silently
        // adopting a prior run's files would emit a mislabeled result
        for (fact <- Seq("lineitem", "events")) {
          val have = spark.read.parquet(s"$p/$fact.parquet").count()
          val want = Tables.load(spark, dir, fact).count() * factor
          if (have != want) throw new IllegalStateException(
            s"SPARK_GRAFT_SCALED_DIR=$p holds $have $fact rows but factor " +
              s"$factor needs $want — clear the directory or fix the factor " +
              "(r12 scaled datasets carry events as a third fact; a pre-r12 " +
              "directory symlinks it and must be rebuilt)")
        }
        // the dim symlinks were created against whatever base dir built
        // the dataset — a row-count match alone would silently join the
        // scaled facts against STALE dims from a different sfDir of the
        // same size; require one dim link to resolve under this sfDir
        // compare REAL paths: the same base dir expressed relative, with
        // '.'/'..' components, or through a parent symlink must not
        // falsely reject a consistent dataset. A DANGLING dim link (its
        // base dir was deleted — the exact staleness this guard exists
        // for) must still reach the explanatory error below, so fall
        // back to the link's raw normalized target instead of letting
        // toRealPath throw a bare NoSuchFileException.
        val dimLink = path.resolve("nation.parquet")
        def real(p: java.nio.file.Path, fb: => java.nio.file.Path) =
          try p.toRealPath() catch { case _: java.io.IOException => fb }
        val wantDim = real(java.nio.file.Paths.get(s"$dir/nation.parquet"),
          java.nio.file.Paths.get(s"$dir/nation.parquet").toAbsolutePath.normalize())
        if (java.nio.file.Files.isSymbolicLink(dimLink) &&
            real(dimLink,
              java.nio.file.Files.readSymbolicLink(dimLink).normalize()) != wantDim)
          throw new IllegalStateException(
            s"SPARK_GRAFT_SCALED_DIR=$p dims point at " +
              s"${java.nio.file.Files.readSymbolicLink(dimLink)} but this run's " +
              s"base dir is $dir — the reused dataset was built from a " +
              "different base; clear the directory")
        return p
      }
      if (present("lineitem") || present("orders")) throw new IllegalStateException(
        s"SPARK_GRAFT_SCALED_DIR=$p is a half-built dataset — clear it")
      java.nio.file.Files.createDirectories(path)
      return buildScaledInto(spark, dir, factor, p.toString)
    }
    val out = java.nio.file.Files.createTempDirectory(s"graft_rel${factor}x_").toString
    buildScaledInto(spark, dir, factor, out)
  }

  private def buildScaledInto(spark: SparkSession, dir: String, factor: Int,
      out: String): String = {
    val shift = 1L << 32
    def scaleFact(name: String, keyCol: String): Unit = {
      val base = Tables.load(spark, dir, name)
      (0 until factor).map { i =>
        base.withColumn(keyCol, col(keyCol) + lit(i * shift))
      }.reduce(_ unionByName _)
        .write.parquet(s"$out/$name.parquet")
    }
    scaleFact("lineitem", "l_orderkey")
    scaleFact("orders", "o_orderkey")
    // events is the third FACT (r12, so the layout/merge gates measure
    // at N× in the same dataset): event_id-shifted copies sharing the
    // SAME time window — facts grow N×, the partition count doesn't
    scaleFact("events", "event_id")
    for (t <- Seq("customer", "supplier", "part", "nation", "region",
        "documents", "embeddings"))
      // absolute target: a relative one would resolve against the LINK's
      // directory, dangling whenever sfDir was given relative to cwd
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet").toAbsolutePath)
    out
  }

  /** One per-family scale curve: N× copies of `table` with the
    * `shiftCols` keys shifted per copy, timed over the production
    * `queries`. */
  final case class Family(table: String, shiftCols: Seq[String], queries: Seq[String])

  /** The family curves by op name. Each row's comment names the design
    * claim its curve measures; the protocol is [[familyCurve]]'s.
    */
  val families: Map[String, Family] = Map(
    // Bigram-LM (r14): corpus LM statistics (q37) and the per-doc
    // CCNet-style LM score (q154) — vocabulary-bounded LM state and one
    // composite-key stream join. q155 is the LM score as a curation
    // GATE beside the dedup shuffle and quality predicates (r15); the
    // RHO/DoReMi pair shares the LM state in dual-probe form (r20).
    "lm" -> Family("documents", Seq("doc_id"),
      Seq("q37_bigram_lm", "q154_lm_score", "q155_lm_gated_curate",
        "q165_rho_select", "q166_doremi_mix")),
    // Duplicated spans (r15): the q97 metrics and the q156 removal form
    // — the AQE-splittable int64 span join (shared) and, for removal,
    // the per-document-bounded interval windows.
    "spans" -> Family("documents", Seq("doc_id"),
      Seq("q97_dup_spans", "q156_dup_span_removal")),
    // SimHash (r14): the deduped two-stage vote shape (count pair
    // collapsing repeated tokens, then the 60-buffer vote pair).
    "simhash" -> Family("documents", Seq("doc_id"),
      Seq("q43_simhash", "q44_simhash_pairs", "q80_incremental_dedup")),
    // Sessions/window family (r11): sessionize, funnel, lead-lag and
    // retention share ONE user-key exchange by design. User AND event
    // ids shift per copy, so copies never share a window partition.
    "sessions" -> Family("events", Seq("user_id", "event_id"),
      Seq("q87_sessionize", "q92_funnel", "q93_lead_lag", "q94_retention")),
    // Curation (r11): training-data selection (hash split, sequence
    // packing, per-source token budget, stratified sampling, shard
    // order, weighted top-k) plus the DSIR selection pair (r18). q91 is
    // excluded: it joins the 1× embeddings table, so scaling documents
    // alone would measure a shape production never runs.
    "curation" -> Family("documents", Seq("doc_id"),
      Seq("q77_hash_split", "q81_pack_sequences", "q82_token_budget",
        "q85_stratified_sample", "q99_shard_order", "q136_weighted_sample",
        "q162_dsir_select", "q163_dsir_resample")),
    // Text analysis (r11): per-row scoring/tokenization projections
    // whose claim is SHUFFLE-FREENESS — cost tracks the scan with no
    // re-shuffle knee. q157 (BM25 top-k, r15) and the fused-redaction
    // pair (r20) share the shuffle-free per-row shape.
    "text" -> Family("documents", Seq("doc_id"),
      Seq("q30_token_stats", "q32_lang_id", "q34_rolling_fingerprint",
        "q35_bpe_tokens", "q157_bm25_topk", "q84_blocklist_redact",
        "q115_pii_redact")),
    // Embedding statistics (r11): ONE corpus pass with O(d²) mergeable
    // state — the shuffle carries d²-long partials, never vectors.
    "gram" -> Family("embeddings", Seq("vec_id"),
      Seq("q138_gram_matrix", "q139_covariance", "q140_correlation",
        "q141_standardize", "q149_principal_component")))

  /** The `relational` op's default query set (Bench qid matching). */
  val relationalQueries: Seq[String] = Seq("q06", "q08", "q14", "q102", "q108", "q109")

  /** The `textlayout` op's queries: the scan-floor-bound text family. */
  val textLayoutQueries: Seq[String] = Seq("q30_token_stats", "q32_lang_id",
    "q34_rolling_fingerprint", "q35_bpe_tokens", "q157_bm25_topk")

  /** `textlayout`'s curated rewrite: 64 files × 32 MB row groups, the
    * layout BENCH100_r20 records (parquet read parallelism is bounded
    * by row groups, so files × blocks is sized to cores). */
  private val TextFiles = 64
  private val TextBlockBytes = 32L << 20

  private val chainOps = Seq("neardup", "lsh", "dedup", "annbrute", "annivf",
    "pqadc", "semdedup", "ivfadc")

  /** Every op `main` accepts. */
  val ops: Seq[String] =
    (families.keys.toSeq ++ Seq("relational", "textlayout") ++ chainOps).sorted

  /** Per query: one untimed warm pass at the BASE sf dir (JIT + codegen
    * for the exact plan shape, cheap), then ONE cold timed pass over
    * `dir`. Returns (qid, seconds) per query.
    */
  private def coldTimes(spark: SparkSession, sfDir: String, dir: String,
      names: Seq[String], tag: String): Seq[(String, Double)] = names.map { name =>
    val fn = SparkEntry.queries(name)
    def once(d: String): Double = {
      operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once(sfDir)
    val sec = once(dir)
    System.err.println(f"[scaleprobe] $name $tag $sec%.3f s")
    name.takeWhile(_ != '_') -> sec
  }

  private def qmap(t: Seq[(String, Double)]): String =
    t.map { case (q, s) => f""""$q":$s%.3f""" }.mkString("{", ",", "}")

  /** Shared protocol for the family curves: N× copies of ONE fact table
    * with per-copy key-shifted columns — copies never interact, so work
    * scales N×, the relational curve's model — 1× symlinked siblings,
    * then each PRODUCTION query timed by [[coldTimes]], emitting the
    * driver-parseable JSON line.
    */
  private def familyCurve(spark: SparkSession, sfDir: String, factor: Int,
      opName: String, family: Family): Unit = {
    val Family(table, shiftCols, names) = family
    // SPARK_GRAFT_FAMILY_DIR pins the scaled fact dir (built once,
    // row-count-validated on reuse, never cleaned up) so a DuckDB
    // oracle can time the SAME parquet files for cross-engine points —
    // the SCALED_DIR/DOCS_DIR discipline extended to the family curves.
    val pinned = sys.env.get("SPARK_GRAFT_FAMILY_DIR")
    val out = pinned.getOrElse(java.nio.file.Files.createTempDirectory(
      s"graft_${opName}${factor}x_").toString)
    val factPath = java.nio.file.Paths.get(s"$out/$table.parquet")
    // build manifest (ADVICE r16): row count alone cannot tell a pinned
    // dir built under different shiftCols (or from a different base) from
    // the one this run needs — identity is pinned at build time and
    // compared verbatim on reuse, failing with the mismatch named
    val manifestPath = java.nio.file.Paths.get(s"$out/_graft_family")
    val manifest = s"table=$table factor=$factor " +
      s"shiftCols=${shiftCols.mkString(",")} " +
      s"base=${java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize()}"
    if (!java.nio.file.Files.exists(factPath)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      val base = Tables.load(spark, sfDir, table)
      val shift = 1L << 32
      (0 until factor).map { i =>
        shiftCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * shift)))
      }.reduce(_ unionByName _).write.parquet(factPath.toString)
      java.nio.file.Files.write(manifestPath, manifest.getBytes("UTF-8"))
    } else {
      val got = if (java.nio.file.Files.exists(manifestPath))
        new String(java.nio.file.Files.readAllBytes(manifestPath), "UTF-8")
      else "<no manifest — dir predates the build-manifest discipline>"
      if (got != manifest) throw new IllegalStateException(
        s"familyCurve: pinned $out was built as [$got] but this run " +
          s"needs [$manifest] — clear the pinned dir")
    }
    for (t <- Tables.names if t != table) {
      val link = java.nio.file.Paths.get(s"$out/$t.parquet")
      if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
    }
    val rows = spark.read.parquet(factPath.toString).count()
    val want = Tables.load(spark, sfDir, table).count() * factor
    if (rows != want) throw new IllegalStateException(
      s"familyCurve: $factPath holds $rows rows but factor $factor needs " +
        s"$want — stale pinned dir?")
    val timed = coldTimes(spark, sfDir, out, names, s"${factor}x")
    // scalastyle:off println
    println(f"""{"op":"$opName","factor":$factor,"rows":$rows,""" +
      f""""sec":${timed.map(_._2).sum}%.3f,"queries":${qmap(timed)}}""")
    // scalastyle:on println
    spark.stop()
    // reclaim the scaled fact + symlinks — repeated 100× family runs
    // otherwise accumulate multi-GB /tmp datasets (walk never follows
    // the dim symlinks, so only the links themselves are removed, never
    // the base sf data). A PINNED dir is deliberately kept (cross-engine
    // reuse).
    if (pinned.isEmpty) cleanupDir(out)
  }

  /** Reverse-walk delete of a probe scratch dir (shared by every arm
    * that materializes scaled tables).
    */
  private def cleanupDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Relational N× curve (the dedup-decade counterpart): the
    * TPC-H-shaped flagship suite queries COLD over N× fact tables,
    * emitting a per-query map alongside the usual op line. Queries via
    * SPARK_GRAFT_QUERIES (Bench qid matching).
    */
  private def relational(spark: SparkSession, sfDir: String, factor: Int): Unit = {
    // Broadcast sizing scales with executor memory exactly like the
    // shuffle-partition knee scales with cores: a 128 GiB local[32]
    // JVM (or any production executor ≥8 GiB) hashes a 128 MB build
    // side trivially, and the 100× star joins hinge on it — the
    // dim-reduced orders survivor set estimates ~70 MB at 100×, so
    // Spark's laptop-era 10 MB default demotes the q14 fact join to a
    // SortMergeJoin that shuffles all 60 M lineitem rows (8.9 s vs
    // 6.1 s cold with the broadcast probe, measured r11). Past this
    // threshold's reach the demotion is CORRECT — that is the q137
    // bloom pre-filter's regime.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      sys.env.getOrElse("SPARK_GRAFT_BCAST", (128L << 20).toString))
    val wanted = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(',').toSeq)
      .getOrElse(relationalQueries)
    val selected = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      wanted.exists(p => p == n || p == n.takeWhile(_ != '_'))
    }
    val scaledDir = scaledRelationalDir(spark, sfDir, factor)
    val rows = Tables.load(spark, scaledDir, "lineitem").count()
    val timed = coldTimes(spark, sfDir, scaledDir, selected, s"${factor}x")
    // scalastyle:off println
    println(f"""{"op":"relational","factor":$factor,"rows":$rows,""" +
      f""""sec":${timed.map(_._2).sum}%.3f,"queries":${qmap(timed)}}""")
    // scalastyle:on println
    spark.stop()
    // a pinned dataset (SPARK_GRAFT_SCALED_DIR) is kept for reuse across
    // invocations; an unpinned one has a random name, so keeping it
    // would only fill /tmp
    if (sys.env.get("SPARK_GRAFT_SCALED_DIR").isEmpty) cleanupDir(scaledDir)
  }

  /** Text-scan LAYOUT A/B (r17, the centsWrite read-floor precedent
    * applied to the text family): the 100× text queries are
    * scan-floor-bound, and parquet read parallelism is bounded by ROW
    * GROUPS — so rewrite the scaled documents corpus at a cores-matched
    * files × row-group layout and time the SAME queries on both layouts.
    * Both dirs are printed (and kept) so scripts/duck_time.py can run
    * the cross-engine points on the SAME files.
    */
  private def textLayout(spark: SparkSession, sfDir: String, factor: Int): Unit = {
    val root = java.nio.file.Files.createTempDirectory(
      s"graft_textlayout${factor}x_").toString
    val (ctl, cur) = (s"$root/control", s"$root/curated")
    // control: the familyCurve corpus + write (full base schema,
    // doc_id-shifted copies, whatever task layout the union leaves —
    // comparable to the committed text-family 100× points); curated:
    // files × blockBytes rewrite of the SAME rows
    val base = Tables.load(spark, sfDir, "documents")
    (0 until factor).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * (1L << 32))))
      .reduce(_ unionByName _)
      .write.parquet(s"$ctl/documents.parquet")
    val rows = spark.read.parquet(s"$ctl/documents.parquet").count()
    // the probe measures the SHIPPED operator, not a hand-rolled twin
    // (r17 review): q160 gates textWrite, so the committed evidence
    // must time textWrite's exact rewrite
    operators.Layout.textWrite(
      spark.read.parquet(s"$ctl/documents.parquet"),
      s"$cur/documents.parquet", TextFiles, TextBlockBytes)
    for (d <- Seq(ctl, cur); t <- Tables.names if t != "documents")
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$d/$t.parquet"),
        java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
    val tc = coldTimes(spark, sfDir, ctl, textLayoutQueries, ctl)
    val tu = coldTimes(spark, sfDir, cur, textLayoutQueries, cur)
    // scalastyle:off println
    println(f"""{"op":"textlayout","factor":$factor,"rows":$rows,""" +
      f""""files":$TextFiles,"block":$TextBlockBytes,""" +
      f""""control_sec":${tc.map(_._2).sum}%.3f,"curated_sec":${tu.map(_._2).sum}%.3f,""" +
      f""""control":${qmap(tc)},"curated":${qmap(tu)},""" +
      f""""control_dir":"$ctl","curated_dir":"$cur"}""")
    // scalastyle:on println
    spark.stop()
  }

  /** One operator chain over N× documents or embeddings: an untimed
    * warm-up run (JIT + codegen + page cache), then one timed run.
    */
  private def chain(spark: SparkSession, sfDir: String, factor: Int, op: String): Unit = {
    // SPARK_GRAFT_DOCS_DIR materializes the scaled corpus as parquet
    // (built once, reused with a row-count validation like the
    // relational SCALED_DIR) so (a) the op reads from disk like a real
    // pipeline and (b) a DuckDB oracle can run over the SAME files for
    // cross-engine comparisons.
    lazy val docs = sys.env.get("SPARK_GRAFT_DOCS_DIR") match {
      case Some(p) =>
        val f = java.nio.file.Paths.get(p, "documents.parquet")
        if (!java.nio.file.Files.exists(f)) {
          java.nio.file.Files.createDirectories(f.getParent)
          scaledDocuments(spark, sfDir, factor).write.parquet(f.toString)
        }
        val df = spark.read.parquet(f.toString)
        val want = Tables.load(spark, sfDir, "documents").count() * factor
        val have = df.count()
        if (have != want) throw new IllegalStateException(
          s"SPARK_GRAFT_DOCS_DIR=$p holds $have rows but factor $factor needs $want")
        df
      case None => scaledDocuments(spark, sfDir, factor)
    }
    lazy val vecs = operators.EmbeddingLsh.quantize(
      scaledEmbeddings(spark, sfDir, factor), "vec_id", "embedding")
    val isQuery = col("vec_id") % operators.Similarity.QueryStride === 0
    def run(): Long = {
      val df = op match {
        case "neardup" => operators.Dedup.verifiedNearDups(docs)
        case "lsh" => operators.Dedup.minhashLshPairs(docs)
        case "dedup" => docs.groupBy("text").agg(min("doc_id").as("doc_id"))
        case "annbrute" => operators.Similarity.annBruteForce(vecs, isQuery)
        case "annivf" => operators.Similarity.annIvf(vecs, isQuery,
          col("vec_id") % operators.Similarity.CentroidStride === 0)
        // r16: the q158 PQ-ADC path over the same perturbed N× vectors —
        // training + encode + compressed-domain scan, end to end (the
        // point under measure: per-pair cost is m lookups, so the scan
        // side should track annbrute's curve at a constant discount
        // while the per-vector footprint is m codes, not d coords)
        case "pqadc" => operators.Similarity.pqAdc(vecs, isQuery)
        // r18: SemDeDup's corpus-scale form — √N trained cells bound
        // the per-cell quadratic pair term to N^1.5 total (the paper's
        // many-clusters regime; the q164 gate form's literal-centroid
        // k=8 would be (N/8)²·8 = N²/8 here). Emits the full keep/drop
        // decision; rows = corpus size.
        case "semdedup" => operators.Similarity.semDeDupWith(vecs,
          operators.Similarity.ivfTrainCents(vecs))
        // r17: the q159 IVFADC path — coarse cells + residual PQ, each
        // query scanning only its probed cells (nprobe via
        // SPARK_GRAFT_NPROBE); read against pqadc's same-factor point,
        // the delta IS the candidate-restriction term. r18: the coarse
        // quantizer is Lloyd-trained at C ≈ √N (ivfTrainCents — no env
        // knob, the production sizing)
        case "ivfadc" => operators.Similarity.ivfAdcWith(vecs, isQuery,
          operators.Similarity.ivfTrainCents(vecs),
          nprobe = sys.env.getOrElse("SPARK_GRAFT_NPROBE",
            operators.Similarity.NProbe.toString).toInt)
      }
      val n = df.count()
      operators.GraftCache.releaseAll()
      spark.catalog.clearCache()
      n
    }
    run() // untimed warm-up (JIT + codegen + page cache)
    operators.GraftCache.releaseAll(); spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val rows = run()
    val sec = (System.nanoTime() - t0) / 1e9
    // scalastyle:off println
    println(f"""{"op":"$op","factor":$factor,"rows":$rows,"sec":$sec%.3f}""")
    // scalastyle:on println
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, factor, op) =
      (args(0), args(1).toInt, if (args.length > 2) args(2) else "neardup")
    // reject a bad op before paying for a Spark session
    if (!ops.contains(op)) throw new IllegalArgumentException(
      s"unknown op '$op'; valid ops: ${ops.mkString(", ")}")
    // this main's JSON lines are machine-parsed: every f"…%.3f" must
    // render a '.' decimal point regardless of host locale (Bench uses
    // formatLocal(Locale.ROOT,…) per call; a dedicated main can pin the
    // process default once and cover every site)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "4"))
      // 1 MB splits keep all 32 cores busy on sf0.1's ~10 MB files; at
      // 100× they shatter a 1.5 GB fact into ~1500 tasks whose launch
      // overhead dominates — override to taste per factor (the same
      // scale-with-the-data lesson as SPARK_GRAFT_SHUFFLE)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART", (1 << 20).toString))
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    op match {
      case "relational" => relational(spark, sfDir, factor)
      case "textlayout" => textLayout(spark, sfDir, factor)
      case f if families.contains(f) => familyCurve(spark, sfDir, factor, f, families(f))
      case _ => chain(spark, sfDir, factor, op)
    }
  }
}
