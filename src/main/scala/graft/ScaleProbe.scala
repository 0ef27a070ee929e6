package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible source of BASELINE.md's N× scale-up measurements: build
  * a key-shifted N× union of a testdata table in memory and time an
  * operator chain cold over it, so wall-vs-rows curves are regenerable
  * (the BASELINE entries cite runs of this probe, not hand runs).
  *
  * Usage: `sbt "runMain graft.ScaleProbe <sfDir> <factor> <op>"`
  * where op ∈ {neardup (q116 chain), lsh (q42 chain), dedup (q40),
  * annbrute (q62 exact top-k), annivf (q70 inverted-file top-k)}.
  * Emits one JSON line: {"op":…,"factor":N,"rows":R,"sec":S}.
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
    // SAME time window — facts grow N×, the partition count doesn't,
    // the merge probe's model
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

  /** Shared protocol for the per-family scale curves (sessions,
    * curation, and any future family): N× copies of ONE fact table with
    * per-copy key-shifted columns — copies never interact, so work
    * scales N×, the relational curve's model — 1× symlinked siblings,
    * then each PRODUCTION query warmed untimed at 1× (JIT + codegen for
    * the exact plan shape) and timed COLD at N×, emitting the
    * driver-parseable JSON line. The family is only (name, fact table,
    * shift columns, query list); the measurement discipline itself
    * lives here once, so a protocol fix cannot diverge across families.
    */
  private def familyCurve(spark: SparkSession, sfDir: String, factor: Int,
      opName: String, table: String, shiftCols: Seq[String],
      names: Seq[String]): Unit = {
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
    val timed = names.map { name =>
      val fn = SparkEntry.queries(name)
      operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm, untimed
      operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, out).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaleprobe] $name ${factor}x $sec%.3f s")
      name.takeWhile(_ != '_') -> sec
    }
    val qmap = timed.map { case (q, s) => f""""$q":$s%.3f""" }.mkString("{", ",", "}")
    // scalastyle:off println
    println(f"""{"op":"$opName","factor":$factor,"rows":$rows,""" +
      f""""sec":${timed.map(_._2).sum}%.3f,"queries":$qmap}""")
    // scalastyle:on println
    spark.stop()
    // reclaim the scaled fact + symlinks like the layout/bloom/merge
    // probes do — repeated 100× family runs otherwise accumulate
    // multi-GB /tmp datasets (walk never follows the dim symlinks, so
    // only the links themselves are removed, never the base sf data).
    // A PINNED dir is deliberately kept (cross-engine reuse).
    if (pinned.isEmpty) cleanupDir(out)
  }

  /** Reclaim a scaledRelationalDir built into a random temp dir —
    * pinned datasets (SPARK_GRAFT_SCALED_DIR) are deliberately kept for
    * reuse across probe invocations; an unpinned one can never be
    * reused (random name) so keeping it only fills /tmp.
    */
  private def cleanupScaledUnlessPinned(scaledDir: String): Unit =
    if (sys.env.get("SPARK_GRAFT_SCALED_DIR").isEmpty) cleanupDir(scaledDir)

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

  def main(args: Array[String]): Unit = {
    // this main's JSON lines are machine-parsed: every f"…%.3f" below
    // must render a '.' decimal point regardless of host locale (Bench
    // uses formatLocal(Locale.ROOT,…) per call; a dedicated main can
    // pin the process default once and cover every site)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (sfDir, factor, op) =
      (args(0), args(1).toInt, if (args.length > 2) args(2) else "neardup")
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
    // Relational N× curve (the dedup-decade counterpart): run the
    // TPC-H-shaped flagship suite queries COLD over N× fact tables.
    // Per query: one warm pass at the BASE sf dir (JIT + codegen for
    // these exact plan shapes, cheap), then ONE timed pass at N× —
    // emits a per-query map alongside the usual op line. Queries via
    // SPARK_GRAFT_QUERIES (Bench qid matching).
    if (op == "relational") {
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
      val wanted = sys.env.getOrElse("SPARK_GRAFT_QUERIES",
        "q06,q08,q14,q102,q108,q109").split(',').toSeq
      val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
        wanted.exists(p => p == n || p == n.takeWhile(_ != '_'))
      }
      val scaledDir = scaledRelationalDir(spark, sfDir, factor)
      val rows = Tables.load(spark, scaledDir, "lineitem").count()
      def once(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val timed = selected.map { case (name, fn) =>
        once(fn, sfDir) // warm the plan shape at base scale, untimed
        val sec = once(fn, scaledDir)
        System.err.println(f"[scaleprobe] $name ${factor}x $sec%.3f s")
        name.takeWhile(_ != '_') -> sec
      }
      val total = timed.map(_._2).sum
      val qmap = timed.map { case (q, s) => f""""$q":$s%.3f""" }.mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"relational","factor":$factor,"rows":$rows,"sec":$total%.3f,"queries":$qmap}""")
      // scalastyle:on println
      spark.stop()
      cleanupScaledUnlessPinned(scaledDir)
      return
    }
    // Layout curve (r11): Z-order clustered write over the N× lineitem,
    // measured against the linear (leading-column-sorted) control on
    // identical rows and file counts. Emits the write cost of BOTH
    // layouts (clustering is a priced rewrite, not free), the zone-map
    // candidate-file counts for second-dimension point predicates (the
    // manifest-level skip a lake format performs), and the wall time of
    // the ACTUAL filtered scans (the row-group-level skip parquet
    // performs today) — the claim is z ≪ linear on both, at every
    // factor. l_suppkey is never key-shifted by the scaled build, so
    // its domain stays dim-sized while the fact grows N× — exactly the
    // facts-grow/dims-don't model the relational probe pins.
    if (op == "layout") {
      val scaledDir = scaledRelationalDir(spark, sfDir, factor)
      val cols = Seq("l_partkey", "l_suppkey")
      def lineitem(dir: String): DataFrame = Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val li = lineitem(scaledDir)
      val rows = li.count()
      // files sized to the data like shuffle partitions are: ~16 at 1×,
      // capped where file-count overhead would swamp the local probe
      val files = math.max(16, math.min(256, 16 * factor))
      val zOut = java.nio.file.Files.createTempDirectory(s"graft_zlay${factor}x_").toString
      val linOut = java.nio.file.Files.createTempDirectory(s"graft_linlay${factor}x_").toString
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // warm the write path untimed at base scale (JIT + committer init)
      val warm = java.nio.file.Files.createTempDirectory("graft_laywarm_").toString
      operators.Layout.clusterWrite(lineitem(sfDir), cols, warm, 4)
      val zSec = timed(operators.Layout.clusterWrite(li, cols, zOut, files))
      val linSec = timed(operators.Layout.linearWrite(li, "l_partkey", linOut, files))
      val (slo, shi) = operators.Layout.columnRanges(li, Seq("l_suppkey"))("l_suppkey")
      val probes = (0 until 8).map(i => slo + (shi - slo) * i / 7).distinct
      val zm = operators.Layout.zoneMap(spark, zOut, "l_suppkey").cache()
      val lm = operators.Layout.zoneMap(spark, linOut, "l_suppkey").cache()
      val zCand = probes.map(operators.Layout.candidateFiles(zm, _)).sum
      val linCand = probes.map(operators.Layout.candidateFiles(lm, _)).sum
      def scan(path: String, s: Long): Double = timed {
        spark.read.parquet(path).filter(col("l_suppkey") === s)
          .agg(sum(col("l_extendedprice")).as("rev"))
          .write.format("noop").mode("overwrite").save()
      }
      scan(zOut, probes.head); scan(linOut, probes.head) // warm, untimed
      val zScan = probes.map(scan(zOut, _)).sum
      val linScan = probes.map(scan(linOut, _)).sum
      // scalastyle:off println
      println(f"""{"op":"layout","factor":$factor,"rows":$rows,""" +
        f""""sec":$zSec%.3f,"linear_write_sec":$linSec%.3f,"files":$files,""" +
        f""""probes":${probes.length},"z_candidate_files":$zCand,""" +
        f""""linear_candidate_files":$linCand,"z_scan_sec":$zScan%.3f,""" +
        f""""linear_scan_sec":$linScan%.3f}""")
      // scalastyle:on println
      spark.stop()
      Seq(zOut, linOut, warm).foreach(cleanupDir)
      cleanupScaledUnlessPinned(scaledDir)
      return
    }
    // Bloom curve (r11): point lookups on the column the z-layout
    // leaves SCATTERED (l_orderkey — every file spans nearly the whole
    // key domain, so zone maps are useless). Same clustered layout
    // written twice, with and without parquet bloom filters on
    // l_orderkey; 8 domain-interior point probes (mostly absent in the
    // sparse keyshifted space — bloom's canonical win case). Emits the
    // bloom census per layout: parquet DISCARDS blooms for fully
    // dictionary-encoded chunks (the dictionary is already an exact
    // row-group filter), so small factors legitimately show bloomfiles=0
    // and flat lookups — the bitsets and the win appear exactly where
    // chunks overflow the 1 MB dictionary page.
    if (op == "bloom") {
      val scaledDir = scaledRelationalDir(spark, sfDir, factor)
      val cols = Seq("l_partkey", "l_suppkey")
      val li = Tables.load(spark, scaledDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val rows = li.count()
      val files = math.max(16, math.min(256, 16 * factor))
      val ndvPerGroup = math.max(8192L, rows / files)
      val bOut = java.nio.file.Files.createTempDirectory(s"graft_bloom${factor}x_").toString
      val pOut = java.nio.file.Files.createTempDirectory(s"graft_plain${factor}x_").toString
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val bSec = timed(operators.Layout.clusterWriteWithBloom(
        li, cols, Seq("l_orderkey"), bOut, files, ndvPerGroup))
      val pSec = timed(operators.Layout.clusterWrite(li, cols, pOut, files))
      // bloom census over the BLOOM layout's files (footer reads only —
      // a manifest-sized loop; any-row-group aware via the shared helper)
      def bloomFiles(out: String): Int =
        new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .count(f => operators.Layout.bloomColumns(spark, f).contains("l_orderkey"))
      val census = bloomFiles(bOut)
      val (kLo, kHi) = operators.Layout.columnRanges(li, Seq("l_orderkey"))("l_orderkey")
      val probes = (0 until 8).map(i => kLo + (kHi - kLo) * i / 7 + 3).distinct
      def look(path: String, k: Long): Double = timed {
        spark.read.parquet(path).filter(col("l_orderkey") === lit(k))
          .agg(sum(col("l_extendedprice")).as("rev"))
          .write.format("noop").mode("overwrite").save()
      }
      look(bOut, probes.head); look(pOut, probes.head) // warm, untimed
      val bLook = probes.map(look(bOut, _)).sum
      val pLook = probes.map(look(pOut, _)).sum
      // scalastyle:off println
      println(f"""{"op":"bloom","factor":$factor,"rows":$rows,""" +
        f""""sec":$bSec%.3f,"plain_write_sec":$pSec%.3f,"files":$files,""" +
        f""""bloomfiles":$census,"probes":${probes.length},""" +
        f""""bloom_lookup_sec":$bLook%.3f,"plain_lookup_sec":$pLook%.3f}""")
      // scalastyle:on println
      spark.stop()
      Seq(bOut, pOut).foreach(cleanupDir)
      cleanupScaledUnlessPinned(scaledDir)
      return
    }
    // q06-on-curated-layout A/B (r12, verdict item 4): the committed
    // q06 over the scaled ORIGINAL lineitem vs the same Q1 semantics
    // over the CENTS curated layout (Layout.centsWrite; q148 proves the
    // two value-identical cross-engine). The decimal-decode +
    // per-row-decimal-product tax the r11 A/B isolated is a LAYOUT
    // choice once the engine owns its files — this measures what the
    // choice buys at N×. The cents write itself is timed (a curated
    // rewrite is priced, like clusterWrite); the scan numbers are cold
    // single passes after a 1× warm of each plan shape. Emits
    // `q06_sec` (original layout), `sec` (cents layout), `write_sec`.
    if (op == "q06cents") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BCAST", (128L << 20).toString))
      val scaledDir = scaledRelationalDir(spark, sfDir, factor)
      val money = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // The curated layout also stores the filter column as DATE (int32
      // decode instead of int64 timestamp): value-preserving for the
      // midnight-boundary Q1 filter ONLY because every l_shipdate is
      // midnight — asserted loudly at write, not assumed
      // … and the two single-char enum flags as ASCII codes (pure,
      // invertible via chr() on the 6 OUTPUT rows — grouping hashes two
      // ints per row instead of two UTF8 strings). Both curations
      // assert their preconditions loudly instead of assuming them.
      def curatedCols(dir: String): DataFrame = {
        val li = Tables.load(spark, dir, "lineitem")
        val bad = li.filter(
          col("l_shipdate") =!= date_trunc("day", col("l_shipdate")) ||
            length(col("l_returnflag")) =!= 1 ||
            length(col("l_linestatus")) =!= 1).count()
        require(bad == 0,
          s"$bad rows break the curation preconditions (sub-day shipdate " +
            "or multi-char flag) — the layout would change Q1 semantics")
        li.select(ascii(col("l_returnflag")).as("l_returnflag_a"),
          ascii(col("l_linestatus")).as("l_linestatus_a"),
          to_date(col("l_shipdate")).as("l_shipdate"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
      }
      // SPARK_GRAFT_CENTS_DIR pins the curated output so a DuckDB
      // oracle can be timed over the SAME files (the BENCH100
      // "DuckDB-on-same-layout" comparison); unpinned runs clean up
      val pinnedCents = sys.env.get("SPARK_GRAFT_CENTS_DIR")
      val centsDir = pinnedCents.getOrElse(
        java.nio.file.Files.createTempDirectory(s"graft_cents${factor}x_").toString)
      // warm the write + both plan shapes at 1×, untimed
      val warmDir = java.nio.file.Files.createTempDirectory("graft_centswarm_").toString
      operators.Layout.centsWrite(curatedCols(sfDir),
        money, s"$warmDir/lineitem_cents")
      def centsQ1(path: String): DataFrame = {
        def m(s6: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
          (s6.cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
            lit(math.pow(10, scale).toLong)).cast("double")
        val disc4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
        val charge6 = disc4 * (lit(100L) + col("l_tax_c"))
        spark.read.parquet(path)
          .filter(col("l_shipdate") <= to_date(lit("1998-09-02")))
          .groupBy("l_returnflag_a", "l_linestatus_a")
          .agg(m(sum(col("l_quantity_c")), 2).as("sum_qty"),
            m(sum(col("l_extendedprice_c")), 2).as("sum_base_price"),
            m(sum(disc4), 4).as("sum_disc_price"),
            m(sum(charge6), 6).as("sum_charge"),
            (m(sum(col("l_quantity_c")), 2) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .select(expr("char(l_returnflag_a)").as("l_returnflag"),
            expr("char(l_linestatus_a)").as("l_linestatus"),
            col("sum_qty"), col("sum_base_price"), col("sum_disc_price"),
            col("sum_charge"), col("avg_qty"), col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      }
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val q06 = SparkEntry.queries("q06_agg_tpch_q1")
      noop(q06(spark, sfDir)) // warm original shape
      noop(centsQ1(s"$warmDir/lineitem_cents")) // warm cents shape
      val rows = Tables.load(spark, scaledDir, "lineitem").count()
      // curatedCols runs its precondition-validation count() EAGERLY —
      // evaluate it before the timer so write_sec prices the rewrite,
      // not an extra validation scan of the whole fact
      val curatedScaled = curatedCols(scaledDir)
      val writeSec = timed(operators.Layout.centsWrite(
        curatedScaled, money, s"$centsDir/lineitem_cents"))
      val origSec = timed(noop(q06(spark, scaledDir)))
      val centsSec = timed(noop(centsQ1(s"$centsDir/lineitem_cents")))
      System.err.println(f"[scaleprobe] q06cents ${factor}x orig=$origSec%.3f " +
        f"cents=$centsSec%.3f write=$writeSec%.3f")
      // scalastyle:off println
      println(f"""{"op":"q06cents","factor":$factor,"rows":$rows,""" +
        f""""sec":$centsSec%.3f,"q06_sec":$origSec%.3f,"write_sec":$writeSec%.3f}""")
      // scalastyle:on println
      spark.stop()
      (if (pinnedCents.isEmpty) Seq(centsDir, warmDir) else Seq(warmDir))
        .foreach(cleanupDir)
      cleanupScaledUnlessPinned(scaledDir)
      return
    }
    // Cents-layout FLAGSHIP A/B (r13, verdict item 4): the whole 100×
    // flagship six over the original lineitem vs a curated-cents
    // lineitem carrying EVERY column the six read (money as int64
    // cents, shipdate as DATE, the two 1-char flags as ascii — the
    // q06cents curations, now on the full column set, preconditions
    // asserted loudly). ONE centsWrite, reused by all six. Semantics
    // are not taken on faith: the warm pass at 1× builds the same
    // layout from the base sf and asserts each cents variant's
    // (count, value-checksum) signature EQUALS its original's over
    // identical data — then the 100× passes time both layouts cold.
    // q108 reads no money at all (keys + dates only) — it rides along
    // as the control: its delta isolates the DATE-decode + narrower-
    // file effect from the decimal-decode effect the money queries add.
    if (op == "centsrel") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BCAST", (128L << 20).toString))
      val scaledDir = scaledRelationalDir(spark, sfDir, factor)
      val money = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def curatedAll(dir: String): DataFrame = {
        val li = Tables.load(spark, dir, "lineitem")
        val bad = li.filter(
          col("l_shipdate") =!= date_trunc("day", col("l_shipdate")) ||
            length(col("l_returnflag")) =!= 1 ||
            length(col("l_linestatus")) =!= 1).count()
        require(bad == 0,
          s"$bad rows break the curation preconditions — the layout " +
            "would change query semantics")
        li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"),
          ascii(col("l_returnflag")).as("l_returnflag_a"),
          ascii(col("l_linestatus")).as("l_linestatus_a"),
          to_date(col("l_shipdate")).as("l_shipdate"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
      }
      // exact int64-cents sum → one exact decimal division → one double
      // rounding (q148's discipline); unit = 10^-scale of the product
      def m(s6: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
        (s6.cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
          lit(math.pow(10, scale).toLong)).cast("double")
      def li(cents: String): DataFrame = spark.read.parquet(s"$cents/lineitem_cents")
      // ---- the six cents variants (same plan shapes as the committed
      // queries, money arithmetic on primitive longs end to end) ------
      def q06c(cents: String, dir: String): DataFrame = {
        val disc4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
        val charge6 = disc4 * (lit(100L) + col("l_tax_c"))
        li(cents)
          .filter(col("l_shipdate") <= to_date(lit("1998-09-02")))
          .groupBy("l_returnflag_a", "l_linestatus_a")
          .agg(m(sum(col("l_quantity_c")), 2).as("sum_qty"),
            m(sum(col("l_extendedprice_c")), 2).as("sum_base_price"),
            m(sum(disc4), 4).as("sum_disc_price"),
            m(sum(charge6), 6).as("sum_charge"),
            (m(sum(col("l_quantity_c")), 2) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .select(expr("char(l_returnflag_a)").as("l_returnflag"),
            expr("char(l_linestatus_a)").as("l_linestatus"),
            col("sum_qty"), col("sum_base_price"), col("sum_disc_price"),
            col("sum_charge"), col("avg_qty"), col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      }
      def q08c(cents: String, dir: String): DataFrame = {
        // ordering by l_quantity_c is the original l_quantity order
        // (monotone ×100); the running sum is an int64 window state.
        // The per-ROW finish must NOT be a decimal division — this
        // query emits 60M rows and a DECIMAL(38,0)/100 per row measured
        // 25.1 → 34.7 s at 100× (slower than the original!); the double
        // finish cents/100.0 is value-identical here because the
        // running cents sum is < 2^53 (int64→double exact, one
        // correctly-rounded division — the same single rounding the
        // decimal path performs; bound: max running qty ≈ 50×60M×100 =
        // 3×10¹¹ cents, 2^53 ≈ 9×10¹⁵) and the 1× signature assert
        // below proves the equality on real data, not just by argument.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity_c")
          .rowsBetween(Long.MinValue, 0)
        li(cents)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            (sum(col("l_quantity_c")).over(w).cast("double") / lit(100.0))
              .as("running_qty"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      }
      def q14c(cents: String, dir: String): DataFrame = {
        val r = Tables.load(spark, dir, "region")
          .filter(col("r_name").isin("ASIA", "EUROPE"))
        val n = Tables.load(spark, dir, "nation")
        val c = Tables.load(spark, dir, "customer")
        val o = Tables.load(spark, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        val dims = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey", "n_name")
        val o2 = o.join(broadcast(dims), col("o_custkey") === col("c_custkey"), "left_semi")
          .select("o_orderkey", "o_custkey")
        li(cents).select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .join(o2, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
          .groupBy("n_name")
          .agg(m(sum(col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))), 4)
            .as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      }
      def q102c(cents: String, dir: String): DataFrame = {
        // no cache: the r14 starprof A/B (rescan beats cache-build on
        // both layouts at 100×; mirrors the committed q102)
        val l = li(cents)
          .select("l_partkey", "l_quantity_c", "l_extendedprice_c")
        val stats = l.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity_c")).as("sq"), count(lit(1)).as("cnt"))
        // the threshold compare is pure int64: quantity_c*5*cnt < sq is
        // the declared decimal compare with both sides scaled by 100
        l.join(broadcast(Tables.load(spark, dir, "part")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(stats), col("pk") === col("l_partkey"))
          .filter(col("l_quantity_c") * 5 * col("cnt") < col("sq"))
          .groupBy("p_brand")
          .agg(m(sum(col("l_extendedprice_c")), 2).as("total_price"),
            count(lit(1)).as("n"))
          .orderBy("p_brand")
      }
      def q108c(cents: String, dir: String): DataFrame = {
        val ordF = Tables.load(spark, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val late = operators.GraftCache.track(li(cents)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(ordF, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate").cast("timestamp") >
            col("o_orderdate") + expr("INTERVAL 100 DAYS"))
          .select("l_orderkey", "l_suppkey"))
        val others = li(cents)
          .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
        val lateOthers = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
        late
          .join(others, col("ok2") === col("l_orderkey") &&
            col("sk2") =!= col("l_suppkey"), "left_semi")
          .join(lateOthers, col("ok3") === col("l_orderkey") &&
            col("sk3") =!= col("l_suppkey"), "left_anti")
          .join(broadcast(Tables.load(spark, dir, "supplier")),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
          .limit(100)
      }
      def q109c(cents: String, dir: String): DataFrame = {
        // mirrors the committed q109's r13 all-broadcast star: orders
        // semi-reduced through the customer/region gate before the fact
        val vol4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
        val custNation = Tables.load(spark, dir, "nation")
          .join(broadcast(Tables.load(spark, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cnk"))
        val suppNation = Tables.load(spark, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val eurCust = Tables.load(spark, dir, "customer")
          .join(broadcast(custNation), col("c_nationkey") === col("cnk"))
          .select("c_custkey")
        val o2 = Tables.load(spark, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
          .join(broadcast(eurCust), col("o_custkey") === col("c_custkey"), "left_semi")
          .select("o_orderkey", "o_orderdate")
        li(cents)
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice_c", "l_discount_c")
          .join(broadcast(Tables.load(spark, dir, "part")
            .filter(col("p_type") === "ECONOMY")),
            col("p_partkey") === col("l_partkey"))
          .join(o2, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.load(spark, dir, "supplier")),
            col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(suppNation), col("s_nationkey") === col("snk"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(m(sum(when(col("supp_nation") === "NATION_3", vol4)
              .otherwise(lit(0L))), 4).as("num"),
            m(sum(vol4), 4).as("den"))
          .select(col("o_year"), (col("num") / col("den")).as("mkt_share"))
          .orderBy("o_year")
      }
      val variants0: Seq[(String, (String, String) => DataFrame)] = Seq(
        "q06" -> q06c _, "q08" -> q08c _, "q102" -> q102c _,
        "q108" -> q108c _, "q109" -> q109c _, "q14" -> q14c _)
      // iteration aid, like the relational probe's: run a subset only
      val variants = sys.env.get("SPARK_GRAFT_QUERIES")
        .map(_.split(',').toSet)
        .fold(variants0)(w => variants0.filter(v => w(v._1)))
      val origs: Map[String, (SparkSession, String) => DataFrame] =
        Map("q06" -> SparkEntry.queries("q06_agg_tpch_q1"),
          "q08" -> SparkEntry.queries("q08_window_running"),
          "q102" -> SparkEntry.queries("q102_tpch_q17"),
          "q108" -> SparkEntry.queries("q108_tpch_q21"),
          "q109" -> SparkEntry.queries("q109_tpch_q8"),
          "q14" -> SparkEntry.queries("q14_multi_join"))
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def timed(f: => Unit): Double = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // value-checksum signature: row count + summed row hash — layout
      // must never change CONTENT, proven at 1× before anything is timed
      def sig(df: DataFrame): String = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
            .cast("decimal(38,0)"))).head()
        s"${r.get(0)}/${r.get(1)}"
      }
      val warmDir = java.nio.file.Files.createTempDirectory("graft_crelwarm_").toString
      operators.Layout.centsWrite(curatedAll(sfDir), money, s"$warmDir/lineitem_cents")
      for ((id, cv) <- variants) {
        val (so, sc) = (sig(origs(id)(spark, sfDir)), sig(cv(warmDir, sfDir)))
        require(so == sc, s"$id cents variant diverges at 1×: orig=$so cents=$sc")
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      }
      System.err.println("[scaleprobe] centsrel: all six 1× signatures match")
      val rows = Tables.load(spark, scaledDir, "lineitem").count()
      val pinned = sys.env.get("SPARK_GRAFT_CENTSREL_DIR")
      val centsDir = pinned.getOrElse(
        java.nio.file.Files.createTempDirectory(s"graft_crel${factor}x_").toString)
      val curatedScaled = curatedAll(scaledDir) // eager validation count
      // best-config layout from the r13 read-floor probe: 64 files ×
      // 32 MB row groups (tunable for A/B)
      val centsFiles = sys.env.getOrElse("SPARK_GRAFT_CENTSFILES", "64").toInt
      val centsBlock = sys.env.getOrElse("SPARK_GRAFT_CENTSBLOCK",
        (32L << 20).toString).toLong
      val writeSec = timed(operators.Layout.centsWrite(
        curatedScaled, money, s"$centsDir/lineitem_cents", centsFiles, centsBlock))
      val timedPairs = variants.map { case (id, cv) =>
        val o = timed(noop(origs(id)(spark, scaledDir)))
        val c = timed(noop(cv(centsDir, scaledDir)))
        System.err.println(f"[scaleprobe] centsrel/$id ${factor}x orig=$o%.3f cents=$c%.3f")
        (id, o, c)
      }
      val om = timedPairs.map { case (q, o, _) => f""""$q":$o%.3f""" }.mkString("{", ",", "}")
      val cm = timedPairs.map { case (q, _, c) => f""""$q":$c%.3f""" }.mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"centsrel","factor":$factor,"rows":$rows,""" +
        f""""sec":${timedPairs.map(_._3).sum}%.3f,""" +
        f""""orig_sec":${timedPairs.map(_._2).sum}%.3f,""" +
        f""""write_sec":$writeSec%.3f,""" +
        f""""queries_orig":$om,"queries_cents":$cm}""")
      // scalastyle:on println
      spark.stop()
      (if (pinned.isEmpty) Seq(centsDir, warmDir) else Seq(warmDir))
        .foreach(cleanupDir)
      cleanupScaledUnlessPinned(scaledDir)
      return
    }
    // Star-join decomposition over a PINNED N× cents layout (r14,
    // verdict item 3): on identical cents files DuckDB beats Spark 3–5×
    // on the broadcast stars (q14/q102/q109) while Spark wins the q08
    // window — so the gap is the star execution path, not scan floor.
    // This arm answers WHERE the seconds go: scan floor alone, the
    // orders reduction pass alone, the committed shape, and
    // semantics-preserving re-plans (single composed probe on the fact,
    // cache-vs-rescan for q102's double read, composed supplier dim for
    // q109, a shuffle-hash control). Every variant's result is
    // signature-compared against the committed shape AT THIS SCALE
    // before anything is timed. Two timed reps per variant (cold:
    // caches cleared), both emitted — read them against the host-phase
    // protocol band.
    if (op == "starprof") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BCAST", (128L << 20).toString))
      val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR",
        sys.error("starprof needs SPARK_GRAFT_SCALED_DIR (a built N× dataset)"))
      val cents = sys.env.getOrElse("SPARK_GRAFT_CENTSREL_DIR",
        sys.error("starprof needs SPARK_GRAFT_CENTSREL_DIR (a built cents layout)"))
      def li: DataFrame = spark.read.parquet(s"$cents/lineitem_cents")
      def m(s6: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
        (s6.cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
          lit(math.pow(10, scale).toLong)).cast("double")
      val rows = li.count()
      // ---- q14 family ----
      def dims14: DataFrame = Tables.load(spark, scaledDir, "customer")
        .join(broadcast(Tables.load(spark, scaledDir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(spark, scaledDir, "region")
          .filter(col("r_name").isin("ASIA", "EUROPE"))),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name")
      def ord14: DataFrame = Tables.load(spark, scaledDir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      def o2_14: DataFrame = ord14
        .join(broadcast(dims14), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey")
      val rev4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
      def q14committed: DataFrame =
        li.select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .join(o2_14, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(dims14), col("o_custkey") === col("c_custkey"))
          .groupBy("n_name")
          .agg(m(sum(rev4), 4).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      def q14single: DataFrame = {
        // ONE fact probe: orders tagged with n_name through the same
        // broadcast dim chain (inner ≡ semi here — c_custkey unique),
        // composed o3 = (o_orderkey, n_name) broadcast EXPLICITLY (its
        // Catalyst estimate is join-product-inflated; the true size is
        // ≤ the 12% orders survivor set — fact-bounded, so this variant
        // is a measurement, not automatically the committed plan)
        val o3 = ord14
          .join(broadcast(dims14), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "n_name")
        li.select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .join(broadcast(o3), col("l_orderkey") === col("o_orderkey"))
          .groupBy("n_name")
          .agg(m(sum(rev4), 4).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      }
      def q14shj: DataFrame =
        li.select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .join(o2_14.hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(dims14), col("o_custkey") === col("c_custkey"))
          .groupBy("n_name")
          .agg(m(sum(rev4), 4).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      // int-coded grouping: hash-aggregate 60M rows on the nation KEY
      // (long) instead of its name (string), recover names post-agg
      // from a 25-row broadcast — isolates string-hash cost in the agg
      def dims14i: DataFrame = Tables.load(spark, scaledDir, "customer")
        .join(broadcast(Tables.load(spark, scaledDir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(spark, scaledDir, "region")
          .filter(col("r_name").isin("ASIA", "EUROPE"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_nationkey").as("nk"))
      def q14intgroup: DataFrame =
        li.select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .join(o2_14, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(dims14i), col("o_custkey") === col("c_custkey"))
          .groupBy("nk")
          .agg(m(sum(rev4), 4).as("revenue"))
          .join(broadcast(Tables.load(spark, scaledDir, "nation")
            .select(col("n_nationkey").as("nk"), col("n_name"))), Seq("nk"))
          .select("n_name", "revenue")
          .orderBy(desc("revenue"), col("n_name"))
      // single composed probe AND int grouping together
      def q14best: DataFrame = {
        val o3 = ord14
          .join(broadcast(dims14i), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("nk"))
        li.select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .join(broadcast(o3), col("l_orderkey") === col("o_orderkey"))
          .groupBy("nk")
          .agg(m(sum(rev4), 4).as("revenue"))
          .join(broadcast(Tables.load(spark, scaledDir, "nation")
            .select(col("n_nationkey").as("nk"), col("n_name"))), Seq("nk"))
          .select("n_name", "revenue")
          .orderBy(desc("revenue"), col("n_name"))
      }
      // broadcast-BUILD cost in isolation: compute o2 and build its
      // broadcast hash relation against a 1-row probe — the driver
      // collect + LongHashedRelation build + send, with no fact scan
      def q14bbuild: DataFrame = spark.range(1)
        .select(lit(-1L).as("o_orderkey"))
        .join(broadcast(o2_14), Seq("o_orderkey"), "left")
        .agg(count(lit(1)).as("n"))
      // r14 verdict item 4 — the one unprobed vectorized lever on the
      // committed q14 decomposition's ~1.5 s probe-loop floor: push the
      // ~15%-survivor selection INTO the scan stage as a q137-style
      // graft_might_contain pre-filter over the semi-reduced orders
      // keys, so the broadcast hash probe sees only bloom survivors.
      // The bet under measure: failing a row via a cache-resident bloom
      // bit array is cheaper than failing it via a multi-MB
      // LongHashedRelation lookup. Keys frame cached per the q137
      // exception (it feeds the EAGER scalar-subquery bloom build and
      // the join build); an uncached control isolates that choice.
      def q14bloomOf(track: Boolean): DataFrame = {
        val keys = if (track) operators.GraftCache.track(o2_14) else o2_14
        keys.createOrReplaceTempView("graft_q14_keys")
        li.select("l_orderkey", "l_extendedprice_c", "l_discount_c")
          .filter(expr("graft_might_contain((SELECT graft_bloom_agg(" +
            "o_orderkey, 8000000) FROM graft_q14_keys), l_orderkey)"))
          .join(keys, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(dims14), col("o_custkey") === col("c_custkey"))
          .groupBy("n_name")
          .agg(m(sum(rev4), 4).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      }
      // ---- q102 family ----
      def q102of(l: DataFrame): DataFrame = {
        val stats = l.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity_c")).as("sq"), count(lit(1)).as("cnt"))
        l.join(broadcast(Tables.load(spark, scaledDir, "part")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(stats), col("pk") === col("l_partkey"))
          .filter(col("l_quantity_c") * 5 * col("cnt") < col("sq"))
          .groupBy("p_brand")
          .agg(m(sum(col("l_extendedprice_c")), 2).as("total_price"),
            count(lit(1)).as("n"))
          .orderBy("p_brand")
      }
      def q102cached: DataFrame = q102of(operators.GraftCache.track(
        li.select("l_partkey", "l_quantity_c", "l_extendedprice_c")))
      def q102rescan: DataFrame = q102of(
        li.select("l_partkey", "l_quantity_c", "l_extendedprice_c"))
      // the ORIGINAL-layout pair (decimal money): does cache-vs-rescan
      // flip with the scan cost, or was the r11 "scan once" rule an
      // artifact of its era's layout too?
      def q102origOf(l: DataFrame): DataFrame = {
        val stats = l.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
        l.join(broadcast(Tables.load(spark, scaledDir, "part")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(stats), col("pk") === col("l_partkey"))
          .filter(col("l_quantity") * 5 * col("cnt") < col("sq"))
          .groupBy("p_brand")
          .agg(sum(col("l_extendedprice")).cast("double").as("total_price"),
            count(lit(1)).as("n"))
          .orderBy("p_brand")
      }
      def liOrig: DataFrame = Tables.load(spark, scaledDir, "lineitem")
        .select(col("l_partkey"),
          col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("l_quantity"),
          col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("l_extendedprice"))
      def q102origCached: DataFrame = q102origOf(operators.GraftCache.track(liOrig))
      def q102origRescan: DataFrame = q102origOf(liOrig)
      def q102stats: DataFrame = li
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity_c")).as("sq"), count(lit(1)).as("cnt"))
      // ---- q108 cache audit ----
      // q108's `late` is the OTHER fact-sized GraftCache frame — but
      // unlike q102's cheap projection, recomputing it costs a full
      // lineitem⋈orders join, and it feeds BOTH the semi and the anti
      // side. Does the q102 inversion generalize, or does an expensive-
      // to-recompute frame still earn its cache?
      def q108of(track: Boolean): DataFrame = {
        val ordF = Tables.load(spark, scaledDir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val late0 = Tables.load(spark, scaledDir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(ordF, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 100 DAYS"))
          .select("l_orderkey", "l_suppkey")
        val late = if (track) operators.GraftCache.track(late0) else late0
        val others = Tables.load(spark, scaledDir, "lineitem")
          .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
        val lateOthers = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
        late
          .join(others, col("ok2") === col("l_orderkey") &&
            col("sk2") =!= col("l_suppkey"), "left_semi")
          .join(lateOthers, col("ok3") === col("l_orderkey") &&
            col("sk3") =!= col("l_suppkey"), "left_anti")
          .join(broadcast(Tables.load(spark, scaledDir, "supplier")),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
          .limit(100)
      }
      // ---- q109 family ----
      def q109of(composedSupp: Boolean): DataFrame = {
        val vol4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
        val custNation = Tables.load(spark, scaledDir, "nation")
          .join(broadcast(Tables.load(spark, scaledDir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cnk"))
        val suppNation = Tables.load(spark, scaledDir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val eurCust = Tables.load(spark, scaledDir, "customer")
          .join(broadcast(custNation), col("c_nationkey") === col("cnk"))
          .select("c_custkey")
        val o2 = Tables.load(spark, scaledDir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
          .join(broadcast(eurCust), col("o_custkey") === col("c_custkey"), "left_semi")
          .select("o_orderkey", "o_orderdate")
        val factToSupp = li
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice_c", "l_discount_c")
          .join(broadcast(Tables.load(spark, scaledDir, "part")
            .filter(col("p_type") === "ECONOMY")),
            col("p_partkey") === col("l_partkey"))
          .join(o2, col("o_orderkey") === col("l_orderkey"))
        val tagged =
          if (composedSupp) {
            // ONE probe for the supplier→nation chain: the 2-column
            // (s_suppkey, supp_nation) map is dim-bounded — composing
            // it off the fact path removes a whole broadcast probe
            val suppMap = Tables.load(spark, scaledDir, "supplier")
              .join(broadcast(suppNation), col("s_nationkey") === col("snk"))
              .select("s_suppkey", "supp_nation")
            factToSupp.join(broadcast(suppMap), col("s_suppkey") === col("l_suppkey"))
          } else factToSupp
            .join(broadcast(Tables.load(spark, scaledDir, "supplier")),
              col("s_suppkey") === col("l_suppkey"))
            .join(broadcast(suppNation), col("s_nationkey") === col("snk"))
        tagged
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(m(sum(when(col("supp_nation") === "NATION_3", vol4)
              .otherwise(lit(0L))), 4).as("num"),
            m(sum(vol4), 4).as("den"))
          .select(col("o_year"), (col("num") / col("den")).as("mkt_share"))
          .orderBy("o_year")
      }
      // ---- floors ----
      def scan3: DataFrame = li
        .select("l_orderkey", "l_extendedprice_c", "l_discount_c")
        .agg(sum(col("l_extendedprice_c")).as("a"),
          sum(col("l_discount_c")).as("b"), count(lit(1)).as("n"))
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def cold(): Unit = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      }
      def sig(df: DataFrame): String = {
        val cs = df.columns
        val r = df.agg(count(lit(1)), sum(xxhash64(cs.map(col).toIndexedSeq: _*)
          .cast("decimal(38,0)"))).head()
        s"${r.get(0)}/${r.get(1)}"
      }
      // semantics first: every re-plan must equal its committed shape
      require(sig(q14single) == sig(q14committed), "q14 single-probe diverges")
      require(sig(q14shj) == sig(q14committed), "q14 SHJ control diverges")
      cold()
      require(sig(q14intgroup) == sig(q14committed), "q14 int-group diverges")
      require(sig(q14best) == sig(q14committed), "q14 combined variant diverges")
      cold()
      require(sig(q14bloomOf(true)) == sig(q14committed), "q14 bloom diverges")
      cold()
      require(sig(q102rescan) == sig(q102cached), "q102 rescan diverges")
      cold()
      require(sig(q102origRescan) == sig(q102origCached), "q102 orig rescan diverges")
      cold()
      require(sig(q109of(true)) == sig(q109of(false)), "q109 composed-supp diverges")
      cold()
      require(sig(q108of(true)) == sig(q108of(false)), "q108 rescan diverges")
      cold()
      System.err.println("[scaleprobe] starprof: all variant signatures match")
      val variants: Seq[(String, () => DataFrame)] = Seq(
        "q14_scan3" -> (() => scan3),
        "q14_ordpass" -> (() => o2_14),
        "q14_committed" -> (() => q14committed),
        "q14_single_probe" -> (() => q14single),
        "q14_shj" -> (() => q14shj),
        "q14_intgroup" -> (() => q14intgroup),
        "q14_1p_int" -> (() => q14best),
        "q14_bloom" -> (() => q14bloomOf(true)),
        "q14_bloom_nocache" -> (() => q14bloomOf(false)),
        "q14_bbuild" -> (() => q14bbuild),
        "q102_stats_scan" -> (() => q102stats),
        "q102_committed_cache" -> (() => q102cached),
        "q102_rescan" -> (() => q102rescan),
        "q102_orig_cache" -> (() => q102origCached),
        "q102_orig_rescan" -> (() => q102origRescan),
        "q108_committed_cache" -> (() => q108of(true)),
        "q108_rescan" -> (() => q108of(false)),
        "q109_committed" -> (() => q109of(false)),
        "q109_composed_supp" -> (() => q109of(true)))
      def timed(f: => Unit): Double = {
        cold(); val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val timedPoints = variants.map { case (name, mk) =>
        noop(mk()) // shape warm (JIT/codegen), untimed
        val r1 = timed(noop(mk()))
        val r2 = timed(noop(mk()))
        System.err.println(f"[scaleprobe] starprof/$name $r1%.3f $r2%.3f")
        (name, r1, r2)
      }
      val qm = timedPoints.map { case (n, a, b) => f""""$n":[$a%.3f,$b%.3f]""" }
        .mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"starprof","factor":$factor,"rows":$rows,""" +
        f""""sec":${timedPoints.map(_._2).sum}%.3f,"queries":$qm}""")
      // scalastyle:on println
      spark.stop()
      return
    }
    // Cents-layout READ-FLOOR probe (r13, verdict item 2): what does
    // Spark's vectorized reader + 6-group hash aggregate COST on this
    // layout as file count, row-group size and split size vary? Each
    // point times (a) the bare floor — scan + shipdate filter + count —
    // and (b) the full cents Q1, cold, after a shape warm. If the floor
    // holds ≥ the DuckDB-whole-query cost everywhere, the residual is
    // the engine constant and BASELINE commits the asymptote.
    if (op == "centsfloor") {
      val cents = sys.env.getOrElse("SPARK_GRAFT_CENTS_DIR",
        sys.error("centsfloor needs SPARK_GRAFT_CENTS_DIR (a built cents layout)"))
      val src = spark.read.parquet(s"$cents/lineitem_cents")
      val rows = src.count()
      def q1(path: String): DataFrame = {
        def m(s6: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
          (s6.cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
            lit(math.pow(10, scale).toLong)).cast("double")
        val disc4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
        val charge6 = disc4 * (lit(100L) + col("l_tax_c"))
        spark.read.parquet(path)
          .filter(col("l_shipdate") <= to_date(lit("1998-09-02")))
          .groupBy("l_returnflag_a", "l_linestatus_a")
          .agg(m(sum(col("l_quantity_c")), 2).as("sum_qty"),
            m(sum(col("l_extendedprice_c")), 2).as("sum_base_price"),
            m(sum(disc4), 4).as("sum_disc_price"),
            m(sum(charge6), 6).as("sum_charge"),
            (m(sum(col("l_quantity_c")), 2) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag_a", "l_linestatus_a")
      }
      def floor(path: String): DataFrame =
        spark.read.parquet(path)
          .filter(col("l_shipdate") <= to_date(lit("1998-09-02")))
          .agg(count(lit(1)).as("n"))
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def timed(f: => Unit): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val fileCounts = Seq(4, 16, 64)
      val blockMb = sys.env.getOrElse("SPARK_GRAFT_BLOCKMB", "128").toInt
      val maxParts = Seq(16L << 20, 128L << 20)
      val out = java.nio.file.Files.createTempDirectory(s"graft_cfloor_").toString
      // control: the pinned layout AS-IS (same host, same run — the
      // committed r12 numbers were a different host phase)
      val control = maxParts.flatMap { mp =>
        spark.conf.set("spark.sql.files.maxPartitionBytes", mp.toString)
        val srcPath = s"$cents/lineitem_cents"
        noop(floor(srcPath)); noop(q1(srcPath)) // warm
        val fl = timed(noop(floor(srcPath)))
        val fu = timed(noop(q1(srcPath)))
        System.err.println(f"[scaleprobe] centsfloor src mp=${mp >> 20}MB " +
          f"floor=$fl%.3f full=$fu%.3f")
        Seq(f""""src_mp${mp >> 20}":[$fl%.3f,$fu%.3f]""")
      }
      val results = control ++ fileCounts.flatMap { files =>
        val dir = s"$out/f$files"
        src.repartition(files)
          .write.option("parquet.block.size", (blockMb.toLong << 20).toString)
          .mode("overwrite").parquet(dir)
        maxParts.flatMap { mp =>
          spark.conf.set("spark.sql.files.maxPartitionBytes", mp.toString)
          noop(floor(dir)); noop(q1(dir)) // warm shapes at this config
          val fl = timed(noop(floor(dir)))
          val fu = timed(noop(q1(dir)))
          System.err.println(f"[scaleprobe] centsfloor files=$files mp=${mp >> 20}MB " +
            f"floor=$fl%.3f full=$fu%.3f")
          Seq(f""""f${files}_mp${mp >> 20}":[$fl%.3f,$fu%.3f]""")
        }
      }
      // scalastyle:off println
      println(f"""{"op":"centsfloor","factor":$factor,"rows":$rows,""" +
        f""""block_mb":$blockMb,"points":${results.mkString("{", ",", "}")}}""")
      // scalastyle:on println
      spark.stop()
      cleanupDir(out)
      return
    }
    // Layout-gate WRITE/READ split (r13, verdict item 6): the q143–q146
    // BENCH100 rows bundled a layout REBUILD with the probe read — not
    // like-for-like beside a read-only DuckDB column. This op times the
    // two phases separately over the N× facts: invest (the clustered /
    // partitioned write, priced once per table lifetime) and payoff
    // (the pruned read, paid per query) — exactly the gates' internal
    // phases.
    if (op == "layoutsplit") {
      val scaledDir = scaledRelationalDir(spark, sfDir, factor)
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def timed(f: => Unit): Double = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val li = Tables.load(spark, scaledDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val rows = li.count()
      val out = java.nio.file.Files.createTempDirectory(s"graft_lsplit${factor}x_").toString
      // warm the write/read paths untimed at 1×
      operators.Layout.clusterWrite(Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"),
        Seq("l_partkey", "l_suppkey"), s"$out/warm", 4)
      def agg143(df: DataFrame): DataFrame = df
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
        .orderBy(col("l_suppkey"))
      // q143: clustered write, then the zone-map pruned 1-D band read.
      // The zone map is table-lifetime MANIFEST state: built once after
      // the write (its own timed phase — at lake scale it comes free
      // from footers), consulted per read — a read that re-derives it
      // pays a full stats scan per query and misreports the payoff.
      val zdir = s"$out/li_z"
      val w143 = timed(operators.Layout.clusterWrite(
        li, Seq("l_partkey", "l_suppkey"), zdir, 16))
      var zm1: DataFrame = null
      var zmAll: DataFrame = null
      val manifestSec = timed {
        zm1 = operators.Layout.zoneMap(spark, zdir, "l_suppkey").cache()
        zm1.count()
        zmAll = operators.Layout.zoneMapAll(
          spark, zdir, Seq("l_partkey", "l_suppkey")).cache()
        zmAll.count()
      }
      def read143 = agg143(operators.Layout.prunedRead(
        spark, zdir, "l_suppkey", 3L, 7L, Some(zm1)))
      noop(read143) // warm
      val r143 = timed(noop(read143))
      // q146: the 2-D rectangle read over the same clustered layout
      // (the gate rebuilds its own copy; the write cost is w143's twin,
      // so it is not re-paid here — read phase only)
      def agg146(df: DataFrame): DataFrame = df
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
        .orderBy(col("l_partkey"), col("l_suppkey"))
      val rect = Seq(("l_partkey", 100L, 400L), ("l_suppkey", 2L, 6L))
      def read146 = agg146(operators.Layout.prunedReadRect(
        spark, zdir, rect, Some(zmAll)))
      noop(read146) // warm
      val r146 = timed(noop(read146))
      // q144/q145: date-partitioned events — write, directory-pruned
      // read, and the partition-scoped merge as its own phase
      val ev = Tables.load(spark, scaledDir, "events")
      val day = to_date(timestamp_micros(Tables.epochMicros(ev)))
      val base = ev.select(col("event_id"), col("event_type"),
        col("value"), day.as("event_date"))
      val pdir = s"$out/ev_bydate"
      val w144 = timed(operators.Layout.partitionedWrite(base, "event_date", pdir))
      def agg144(df: DataFrame): DataFrame = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy(col("event_type"))
      def pruned144: DataFrame = spark.read.parquet(pdir)
        .filter(col("event_date").between(
          to_date(lit("2024-01-10")), to_date(lit("2024-01-12"))))
      noop(agg144(pruned144)) // warm
      val r144 = timed(noop(agg144(pruned144)))
      // q145's merge: the 2-of-30-days correction set, applied to the
      // already-written table (write phase shared with q144's)
      val touched = base.filter(col("event_date").between(
        to_date(lit("2024-01-10")), to_date(lit("2024-01-11"))))
      // materialize the correction set BEFORE the timer: deriving it
      // scans the full fact (filter + union), which is the caller's
      // cost, not the merge's — unmaterialized it ran inside mergeInto
      // twice (touched-partition distinct + the merged write) and made
      // the 2-of-30-days merge read slower than the full rewrite
      val updates = touched.select(col("event_id"),
          lit("adjusted").as("event_type"),
          (col("value") + lit(100.0)).as("value"), col("event_date"))
        .unionByName(touched.select(
          (col("event_id") + lit(1L << 60)).as("event_id"),
          lit("backfill").as("event_type"), col("value"), col("event_date")))
        .localCheckpoint()
      val m145 = timed(operators.Layout.mergeInto(
        spark, pdir, updates, "event_date", "event_id"))
      val r145 = timed(noop(agg144(spark.read.parquet(pdir))))
      // scalastyle:off println
      println(f"""{"op":"layoutsplit","factor":$factor,"rows":$rows,""" +
        f""""sec":${w143 + manifestSec + r143 + r146 + w144 + r144 + m145 + r145}%.3f,""" +
        f""""q143_write_sec":$w143%.3f,"manifest_sec":$manifestSec%.3f,""" +
        f""""q143_read_sec":$r143%.3f,""" +
        f""""q146_read_sec":$r146%.3f,""" +
        f""""q144_write_sec":$w144%.3f,"q144_read_sec":$r144%.3f,""" +
        f""""q145_merge_sec":$m145%.3f,"q145_read_sec":$r145%.3f}""")
      // scalastyle:on println
      spark.stop()
      cleanupDir(out)
      cleanupScaledUnlessPinned(scaledDir)
      return
    }
    // Bloom REGIME probe (r12): the semi-join plan race the q137 bloom
    // surface exists for, at the regime boundary the q14 analysis
    // predicts. TPC-H can't stage it (key count and probe selectivity
    // both ride l_quantity and move together), so the shape is
    // parametric: a fact of F = factor × 1M rows with uniform keys over
    // a domain D = F, and a key set of K = D/10 distinct keys — 10%
    // probe selectivity at ANY key count, so K alone crosses the
    // broadcast boundary. Three plans over identical on-disk parquet,
    // each warmed untimed at 1/10 scale:
    //   shuffle — shuffle-hash semi join, broadcasts disabled (the plan
    //     Spark correctly picks past broadcast reach); pays the full
    //     fact shuffle.
    //   bcast — forced broadcast semi join (no fact shuffle, but the
    //     driver collects + hashes all K keys and ships them to every
    //     executor; per-executor memory bounds this at ~10⁷ keys in
    //     production — the local 128 GiB JVM can build far past the
    //     realistic boundary, so its cost CURVE is the evidence, not an
    //     OOM).
    //   bloom — q137's exact production pattern: graft_bloom_agg over
    //     the keys (one small aggregate), graft_might_contain pre-filter
    //     on the fact scan, then the SAME shuffle-hash semi join for
    //     exactness — the shuffle now carries ~10% of the fact.
    // The claim measured: bloom ≤ shuffle always (it strictly reduces
    // the shuffle), and past the broadcast boundary bloom beats bcast
    // too — the row BASELINE's bloom table needs (r11 verdict item 3).
    if (op == "bloomregime") {
      val f = factor.toLong * 1000000L
      val keyFrac = sys.env.getOrElse("SPARK_GRAFT_KEYFRAC", "10").toLong
      val k = math.max(1L, f / keyFrac)
      val out = java.nio.file.Files.createTempDirectory(s"graft_bregime${factor}x_").toString
      // The fact is DOCUMENT-shaped — a 32-char FINGERPRINT key (how a
      // real keep-list/decontamination set keys: content hashes, not
      // longs) plus a 64-byte incompressible payload — and the job
      // EMITS the selected rows (no aggregate): the curation semi-join
      // shape this surface is for, where the shuffle carries row
      // content. A narrow long-keyed fact with an aggregate above would
      // let the single-JVM harness hide exactly the costs the bloom
      // removes (measured: 3-column long-keyed fact at 100M rows
      // shuffles in 5.2 s — cheaper than the bloom's own probe pass —
      // and a long-key broadcast hashes 10M keys nearly for free,
      // 7.7 s vs bloom 8.0; string keys carry the build cost every
      // per-executor broadcast pays). The deterministic scramble
      // spreads fact keys over the domain; the keys side takes every
      // keyFrac-th domain point — exact selectivity at any scale.
      // kid (the underlying domain point) rides along ONLY for the
      // 1/10-scale warm-pass filter — 8 bytes on every variant equally
      spark.range(f).select(
          md5((col("id") * 2654435761L % f).cast("string")).as("k"),
          (col("id") * 2654435761L % f).as("kid"),
          md5(col("id").cast("string")).as("payload"),
          md5((col("id") + 1).cast("string")).as("payload2"))
        .write.parquet(s"$out/fact.parquet")
      spark.range(k).select(
          md5((col("id") * keyFrac).cast("string")).as("bk"),
          (col("id") * keyFrac).as("bkid"))
        .write.parquet(s"$out/keys.parquet")
      def fact = spark.read.parquet(s"$out/fact.parquet")
      def keys = spark.read.parquet(s"$out/keys.parquet")
      def variant(name: String, probeScale: Double = 1.0): DataFrame = {
        val fk = if (probeScale >= 1.0) fact
          else fact.filter(col("kid") < (f * probeScale).toLong)
        val ks = if (probeScale >= 1.0) keys
          else keys.filter(col("bkid") < (f * probeScale).toLong)
        name match {
          case "shuffle" =>
            fk.join(ks.hint("shuffle_hash"), col("k") === col("bk"), "left_semi")
          case "bcast" =>
            fk.join(broadcast(ks), col("k") === col("bk"), "left_semi")
          case "bloom" =>
            val tracked = operators.GraftCache.track(ks)
            tracked.createOrReplaceTempView("graft_regime_keys")
            fk.filter(expr("graft_might_contain((SELECT graft_bloom_agg(bk, " +
                s"$k) FROM graft_regime_keys), k)"))
              .join(tracked.hint("shuffle_hash"), col("k") === col("bk"), "left_semi")
        }
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def timed(name: String): Double = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        variant(name, 0.1).write.format("noop").mode("overwrite").save() // warm
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        variant(name).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scaleprobe] bloomregime/$name ${factor}x $sec%.3f s")
        sec
      }
      val survivors = fact.join(keys, col("k") === col("bk"), "left_semi").count()
      val sSec = timed("shuffle")
      val bcSec = timed("bcast")
      val blSec = timed("bloom")
      // scalastyle:off println
      println(f"""{"op":"bloomregime","factor":$factor,"rows":$f,"keys":$k,""" +
        f""""survivors":$survivors,"sec":$blSec%.3f,"shuffle_sec":$sSec%.3f,""" +
        f""""bcast_sec":$bcSec%.3f}""")
      // scalastyle:on println
      spark.stop()
      cleanupDir(out)
      return
    }
    // Merge curve (r11): partition-scoped mergeInto vs the full
    // partitioned rewrite it replaces, on the N× events table. Copies
    // are event_id-shifted but share the SAME 30-day window — facts
    // grow N×, the partition count doesn't (exactly the
    // facts-grow/dims-don't model, applied to time). The correction
    // set touches 2 of 30 days; the claim is merge wall ≈ the touched
    // fraction of the rewrite wall, at every factor — the number that
    // makes late-data fixes affordable at 100 TB.
    if (op == "merge") {
      val ev = Tables.load(spark, sfDir, "events")
      val shift = 1L << 32
      val scaled = (0 until factor)
        .map(i => ev.withColumn("event_id", col("event_id") + lit(i * shift)))
        .reduce(_ unionByName _)
      val day = to_date(timestamp_micros(Tables.epochMicros(ev)))
      val frame = scaled.select(col("event_id"), col("event_type"),
        col("value"), day.as("event_date"))
      val rows = frame.count()
      val table = java.nio.file.Files.createTempDirectory(
        s"graft_mrg${factor}x_").toString + "/events"
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // warm both paths untimed at base scale (JIT + committer init)
      val warm = java.nio.file.Files.createTempDirectory("graft_mrgwarm_")
        .toString + "/events"
      val warmFrame = ev.select(col("event_id"), col("event_type"),
        col("value"), day.as("event_date"))
      operators.Layout.partitionedWrite(warmFrame, "event_date", warm)
      operators.Layout.mergeInto(spark, warm,
        warmFrame.limit(1000), "event_date", "event_id")
      val writeSec = timed(
        operators.Layout.partitionedWrite(frame, "event_date", table))
      // corrections derived from the table itself (the self-referential
      // update case: mergeInto's checkpoint must sever this lineage too).
      // SPARK_GRAFT_MERGE_DAYS (default "2") sweeps the touched-day
      // count — the r14 adaptive-fallback A/B: at which touched SHARE
      // does the surgical merge stop beating a staged full rewrite of
      // the merged frame? Each sweep point restores the table first
      // (full rewrite of the pristine frame, untimed) so merges never
      // compound.
      val allDays = spark.read.parquet(table).select("event_date")
        .distinct().orderBy("event_date")
        .collect().map(_.getDate(0)) // 30 values — driver-tier
      val sweep = sys.env.getOrElse("SPARK_GRAFT_MERGE_DAYS", "2")
        .split(',').map(_.trim.toInt).toSeq
      val pristine = frame.localCheckpoint()
      // restore by POSITION, not value (ADVICE r14): a sweep list that
      // repeats the head value ("2,5,2") must still restore before the
      // later point, or merges compound into its timings
      val points = sweep.zipWithIndex.map { case (nDays, idx) =>
        if (idx > 0) // restore between points
          operators.Layout.partitionedWrite(pristine, "event_date", table)
        // materialized: the update set must survive the table restore
        // between the two timed paths (a lazy plan pins the ORIGINAL
        // file listing, which the restore replaces), and q145's rule —
        // update-set derivation cost is the caller's, not the merge's
        val updates = spark.read.parquet(table)
          .filter(col("event_date").isInCollection(
            allDays.take(nDays).toIndexedSeq))
          .withColumn("value", col("value") + lit(1.0))
          .localCheckpoint()
        val updRows = updates.count()
        val mergeSec = timed(
          operators.Layout.mergeInto(spark, table, updates,
            "event_date", "event_id"))
        // the fallback's true cost at this share: anti-join + staged
        // full write of the merged frame (no checkpoint, no dynamic
        // commit) — what Layout.mergeInto's rewrite path runs
        operators.Layout.partitionedWrite(pristine, "event_date", table)
        val rewriteSec = timed(
          operators.Layout.mergeInto(spark, table, updates,
            "event_date", "event_id", rewriteShare = 0.0))
        System.err.println(f"[scaleprobe] merge days=$nDays upd=$updRows " +
          f"merge=$mergeSec%.3f rewrite=$rewriteSec%.3f")
        (nDays, updRows, mergeSec, rewriteSec)
      }
      val days = allDays.length
      // scalastyle:off println
      val sweepJson = points.map { case (d, u, m, w) =>
        f""""d$d":{"update_rows":$u,"merge_sec":$m%.3f,"rewrite_sec":$w%.3f}"""
      }.mkString(",")
      println(f"""{"op":"merge","factor":$factor,"rows":$rows,""" +
        f""""sec":${points.head._3}%.3f,"full_write_sec":$writeSec%.3f,""" +
        f""""update_rows":${points.head._2},"days_touched":${points.head._1},""" +
        f""""days_total":$days,"sweep":{$sweepJson}}""")
      // scalastyle:on println
      spark.stop()
      Seq(table, warm).map(d => java.nio.file.Paths.get(d).getParent.toString)
        .foreach(cleanupDir)
      return
    }
    // Federation-collapse payoff, measured: the SAME join+aggregate over
    // a live DuckDB fact table (factor × 100k rows) and a 1k-row dim,
    // once with both tables on one server (collapses to ONE remote
    // statement — only ~1k aggregated rows cross the wire) and once
    // with the dim on a SECOND server (never merged — Spark must pull
    // the whole fact table through JDBC and join locally). The gap IS
    // the federation argument at scale, in seconds.
    if (op == "federation") {
      val dirA = java.nio.file.Files.createTempDirectory("graft_feda")
      val dirB = java.nio.file.Files.createTempDirectory("graft_fedb")
      val (urlA, urlB) = (s"jdbc:duckdb:$dirA/a.duckdb", s"jdbc:duckdb:$dirB/b.duckdb")
      val rows = factor.toLong * 100000L
      for ((url, ddl) <- Seq(
          urlA -> Seq(
            "CREATE SCHEMA app",
            s"CREATE TABLE app.fact AS SELECT r AS k, r % 1000 AS grp, " +
              s"(r * 7 % 10000) / 100.0 AS v FROM range($rows) t(r)",
            "CREATE TABLE app.dim AS SELECT r AS grp, 'g' || r AS name FROM range(1000) t(r)"),
          urlB -> Seq(
            "CREATE SCHEMA app",
            "CREATE TABLE app.dim AS SELECT r AS grp, 'g' || r AS name FROM range(1000) t(r)"))) {
        val c = java.sql.DriverManager.getConnection(url)
        try { val st = c.createStatement(); ddl.foreach(st.execute); st.close() }
        finally c.close()
      }
      spark.conf.set("spark.sql.catalog.feda", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set("spark.sql.catalog.feda.url", urlA)
      spark.conf.set("spark.sql.catalog.fedb", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set("spark.sql.catalog.fedb.url", urlB)
      def q(dimTable: String): DataFrame = spark.table("feda.app.fact")
        .join(spark.table(dimTable), "grp")
        .groupBy("name").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      def time(dimTable: String): Double = {
        val t0 = System.nanoTime()
        q(dimTable).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      time("feda.app.dim"); time("fedb.app.dim") // untimed warm-up
      val collapsed = time("feda.app.dim")
      val crossServer = time("fedb.app.dim")
      // scalastyle:off println
      println(f"""{"op":"federation","factor":$factor,"rows":$rows,""" +
        f""""sec":$collapsed%.3f,"cross_server_sec":$crossServer%.3f}""")
      // scalastyle:on println
      spark.stop()
      return
    }
    // Sessions/window-family curve (r11): the four event-analytics
    // queries (sessionize, funnel, retention, lead-lag) share ONE
    // user-key exchange by design — this measures that claim across a
    // scale decade instead of arguing it. N× events with per-copy
    // shifted user AND event ids: copies never share a window
    // partition, so the work scales N× with zero cross-copy
    // interaction, exactly the relational curve's key-shift model. The
    // PRODUCTION SparkEntry queries run unmodified (presentation sort
    // included — output production is part of the honest cost, as in
    // the relational probe).
    // Bigram-LM family curve (r14): corpus LM statistics (q37) and the
    // per-doc CCNet-style LM score (q154) under N× doc growth — the
    // scale claims are vocabulary-bounded LM state and one
    // composite-key stream join. r15 adds the composed form (q155):
    // the LM score as a curation GATE beside the dedup shuffle and
    // quality predicates, the pipeline CCNet actually runs.
    if (op == "lm") {
      familyCurve(spark, sfDir, factor, "lm", "documents",
        Seq("doc_id"),
        // r20 (VERDICT r19 #7): the RHO/DoReMi pair joins the LM curve —
        // same vocabulary-bounded LM state, dual-probe form
        Seq("q37_bigram_lm", "q154_lm_score", "q155_lm_gated_curate",
          "q165_rho_select", "q166_doremi_mix"))
      return
    }
    // Duplicated-span family curve (r15): the q97 metrics and the q156
    // removal form under N× doc growth — the scale claims are the
    // AQE-splittable int64 span join (shared) and, for removal, the
    // per-document-bounded interval windows.
    if (op == "spans") {
      familyCurve(spark, sfDir, factor, "spans", "documents",
        Seq("doc_id"),
        Seq("q97_dup_spans", "q156_dup_span_removal"))
      return
    }
    // SimHash family curve (r14): the deduped two-stage vote shape
    // (count pair collapsing repeated tokens, then the 60-buffer vote
    // pair) under N× doc growth — the A/B that repinned q43's plan was
    // sf0.1; this curve is the scale-holds evidence.
    if (op == "simhash") {
      familyCurve(spark, sfDir, factor, "simhash", "documents",
        Seq("doc_id"),
        Seq("q43_simhash", "q44_simhash_pairs", "q80_incremental_dedup"))
      return
    }
    if (op == "sessions") {
      familyCurve(spark, sfDir, factor, "sessions", "events",
        Seq("user_id", "event_id"),
        Seq("q87_sessionize", "q92_funnel", "q93_lead_lag", "q94_retention"))
      return
    }
    // Curated-EVENTS layout A/B (r13 verdict item 8): the cents
    // discipline applied to the events fact. The sessions family
    // (q87/q92/q93/q94) reads (user_id, event_id, ts, event_type,
    // value); the curated layout precomputes ts → epoch-µs int64 `us`
    // (no timestamp decode, no per-row conversion) and dictionary-codes
    // event_type → int `et_c` (dict written beside the table —
    // deterministic: codes by sorted name). Semantics are
    // signature-asserted at 1× per query before anything is timed;
    // the curated table is written at the cents floor config (64 files
    // × 32 MB row groups). Commit the layout only if the family clears
    // ~15% (the verdict's bar).
    if (op == "sesscur") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BCAST", (128L << 20).toString))
      val shift = 1L << 32
      val baseEv = Tables.load(spark, sfDir, "events")
      def scaledEv(dir: String): DataFrame = {
        val b = Tables.load(spark, dir, "events")
        (0 until factor).map { i =>
          b.withColumn("user_id", col("user_id") + lit(i * shift))
            .withColumn("event_id", col("event_id") + lit(i * shift))
        }.reduce(_ unionByName _)
      }
      // deterministic dictionary: tiny cardinality, codes by sorted name
      val etNames = baseEv.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted
      val etCode: Map[String, Int] = etNames.zipWithIndex.toMap
      def curate(ev: DataFrame): DataFrame = {
        val codeCol = etNames.foldLeft(lit(-1)) { (acc, n) =>
          when(col("event_type") === n, lit(etCode(n))).otherwise(acc)
        }
        ev.select(col("user_id"), col("event_id"),
          Tables.epochMicros(ev).as("us"), codeCol.as("et_c"), col("value"))
      }
      // ---- curated twins (plan shapes mirror the committed queries) --
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      def q87c(cur: DataFrame): DataFrame = {
        val gapUs = 240 * 60L * 1000000L
        val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cur.select("user_id", "event_id", "us", "value")
          .withColumn("prev", lag("us", 1).over(wOrd))
          .withColumn("brk",
            when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
              .otherwise(0L))
          .withColumn("sess", sum("brk").over(wRun))
          .groupBy("user_id", "sess")
          .agg(count(lit(1)).as("n_events"),
            min("us").as("start_us"), max("us").as("end_us"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double")
              .as("sum_value"))
          .orderBy("user_id", "sess")
      }
      def q92c(cur: DataFrame): DataFrame = {
        val steps = Seq("view", "click", "purchase").map(n =>
          etCode.getOrElse(n, sys.error(
            s"sesscur: event_type '$n' missing from events")))
        val base = cur
          .groupBy("user_id")
          .agg(min(when(col("et_c") === steps.head, col("us"))).as("t0"),
            steps.tail.zipWithIndex.map { case (c, i) =>
              min(when(col("et_c") === c, col("us"))).as(s"t${i + 1}")
            }: _*)
        val stage = steps.indices.tail.foldLeft(
            (when(col("t0").isNotNull, 1L).otherwise(0L), col("t0"))) {
          case ((st, prevT), i) =>
            val ok = col(s"t$i").isNotNull && col(s"t$i") >= prevT && st === i.toLong
            (when(ok, (i + 1).toLong).otherwise(st),
              when(ok, col(s"t$i")).otherwise(prevT))
        }._1
        base.withColumn("stage", stage).orderBy("user_id")
      }
      def q93c(cur: DataFrame): DataFrame = {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        cur.select(col("user_id"), col("event_id"), col("us"),
            lag("us", 1, -1L).over(w).as("prev_us"),
            lead("us", 1, -1L).over(w).as("next_us"),
            (col("us") - lag("us", 1).over(w)).as("gap_us"))
          .orderBy("user_id", "us", "event_id")
      }
      def q94c(cur: DataFrame): DataFrame = {
        val days = cur.select(col("user_id"), expr("us div 86400000000").as("d"))
        val first = days.groupBy("user_id").agg(min("d").as("d0"))
        days.join(first, "user_id")
          .groupBy(col("d0").as("cohort_day"), (col("d") - col("d0")).as("days_since"))
          .agg(countDistinct("user_id").as("n_active"))
          .orderBy("cohort_day", "days_since")
      }
      val twins: Seq[(String, DataFrame => DataFrame)] = Seq(
        "q87_sessionize" -> q87c _, "q92_funnel" -> q92c _,
        "q93_lead_lag" -> q93c _, "q94_retention" -> q94c _)
      def sig(df: DataFrame): String = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
            .cast("decimal(38,0)"))).head()
        s"${r.get(0)}/${r.get(1)}"
      }
      // semantics at 1×: curated twin == committed query over same data
      val warm = java.nio.file.Files.createTempDirectory("graft_scurwarm_").toString
      curate(baseEv).write.parquet(s"$warm/events_cur")
      for ((name, twin) <- twins) {
        val (so, sc) = (sig(SparkEntry.queries(name)(spark, sfDir)),
          sig(twin(spark.read.parquet(s"$warm/events_cur"))))
        require(so == sc, s"$name curated twin diverges at 1×: orig=$so cur=$sc")
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      }
      System.err.println("[scaleprobe] sesscur: all four 1× signatures match")
      // scaled original (the control) + scaled curated table
      val out = java.nio.file.Files.createTempDirectory(
        s"graft_scur${factor}x_").toString
      scaledEv(sfDir).write.parquet(s"$out/events.parquet")
      for (t <- Tables.names if t != "events")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$out/$t.parquet"),
          java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
      val rows = spark.read.parquet(s"$out/events.parquet").count()
      val files = sys.env.getOrElse("SPARK_GRAFT_CENTSFILES", "64").toInt
      val blockBytes = sys.env.getOrElse("SPARK_GRAFT_CENTSBLOCK",
        (32L << 20).toString).toLong
      def timed(f: => Unit): Double = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val writeSec = timed {
        val cur = curate(spark.read.parquet(s"$out/events.parquet"))
          .repartition(files)
        cur.write.mode("overwrite")
          .option("parquet.block.size", blockBytes.toString)
          .parquet(s"$out/events_cur")
      }
      val pairs = twins.map { case (name, twin) =>
        val o = timed(noop(SparkEntry.queries(name)(spark, out)))
        val c = timed(noop(twin(spark.read.parquet(s"$out/events_cur"))))
        System.err.println(f"[scaleprobe] sesscur/$name ${factor}x orig=$o%.3f cur=$c%.3f")
        (name.takeWhile(_ != '_'), o, c)
      }
      val om = pairs.map { case (q, o, _) => f""""$q":$o%.3f""" }.mkString("{", ",", "}")
      val cm = pairs.map { case (q, _, c) => f""""$q":$c%.3f""" }.mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"sesscur","factor":$factor,"rows":$rows,""" +
        f""""sec":${pairs.map(_._3).sum}%.3f,""" +
        f""""orig_sec":${pairs.map(_._2).sum}%.3f,""" +
        f""""write_sec":$writeSec%.3f,""" +
        f""""queries_orig":$om,"queries_cur":$cm}""")
      // scalastyle:on println
      spark.stop()
      Seq(out, warm).foreach(cleanupDir)
      return
    }
    // Curation-family curve: the training-data selection operators
    // (hash split, sequence packing's distributed two-pass prefix sum,
    // per-source token-budget window, stratified sampling, shard
    // order, weighted top-k) COLD over N× doc_id-shifted documents —
    // the PRODUCTION queries run unmodified, the sessions-probe
    // protocol. q91 (semantic curate) is deliberately excluded: it
    // joins the 1× embeddings table, so scaling documents alone would
    // measure a shape production never runs.
    if (op == "curation") {
      familyCurve(spark, sfDir, factor, "curation", "documents",
        Seq("doc_id"),
        Seq("q77_hash_split", "q81_pack_sequences", "q82_token_budget",
          "q85_stratified_sample", "q99_shard_order", "q136_weighted_sample",
          // r18: the DSIR selection pair — broadcast-weight scoring with
          // a map-side per-doc fold (q162 top-N; q163 adds the per-row
          // Gumbel lookup + TakeOrdered), candidates stream once
          "q162_dsir_select", "q163_dsir_resample"))
      return
    }
    // Text-analysis family curve: the per-row scoring/tokenization
    // operators (token stats, language id, rolling fingerprints, BPE)
    // COLD over N× doc_id-shifted documents. The design claim under
    // measure is SHUFFLE-FREENESS: these are HOF/codegen projections,
    // so cost should track the scan linearly with no re-shuffle knee —
    // the complement of the sessions curve's one-exchange claim. r15
    // adds q157 (BM25 top-k): its fact path is the same shuffle-free
    // shape (1-row stats broadcast + per-row tf counts + TakeOrdered),
    // so it belongs on this curve, not the LM one.
    if (op == "text") {
      familyCurve(spark, sfDir, factor, "text", "documents", Seq("doc_id"),
        // r20 (VERDICT r19 #7): the fused-redaction pair joins the
        // shuffle-free per-row curve it belongs to
        Seq("q30_token_stats", "q32_lang_id", "q34_rolling_fingerprint",
          "q35_bpe_tokens", "q157_bm25_topk", "q84_blocklist_redact",
          "q115_pii_redact"))
      return
    }
    // Text-scan LAYOUT probe (r17, VERDICT r16 #3 — the centsWrite
    // read-floor precedent applied to the text family): the 100× text
    // queries are scan-floor-bound (q157 at the family floor, ~3.5×
    // DuckDB on the SAME files), and parquet read parallelism is
    // bounded by ROW GROUPS — so rewrite the scaled documents corpus at
    // a cores-matched files × row-group layout and time the SAME
    // queries on both layouts. Both dirs are printed so
    // scripts/duck_time.py can run the cross-engine points on the SAME
    // files; knobs: SPARK_GRAFT_TEXTFILES (default 64),
    // SPARK_GRAFT_TEXTBLOCK (row-group bytes, default 32 MB).
    if (op == "textlayout") {
      val names = Seq("q30_token_stats", "q32_lang_id",
        "q34_rolling_fingerprint", "q35_bpe_tokens", "q157_bm25_topk")
      val files = sys.env.getOrElse("SPARK_GRAFT_TEXTFILES", "64").toInt
      val blockB = sys.env.getOrElse("SPARK_GRAFT_TEXTBLOCK",
        (32L << 20).toString).toLong
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
        s"$cur/documents.parquet", files, blockB)
      for (d <- Seq(ctl, cur); t <- Tables.names if t != "documents")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$d/$t.parquet"),
          java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
      def time(dir: String): Seq[(String, Double)] = names.map { name =>
        val fn = SparkEntry.queries(name)
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[textlayout] $name $dir $sec%.3f")
        name.takeWhile(_ != '_') -> sec
      }
      val tc = time(ctl)
      val tu = time(cur)
      def qmap(t: Seq[(String, Double)]) =
        t.map { case (q, s) => f""""$q":$s%.3f""" }.mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"textlayout","factor":$factor,"rows":$rows,""" +
        f""""files":$files,"block":$blockB,""" +
        f""""control_sec":${tc.map(_._2).sum}%.3f,"curated_sec":${tu.map(_._2).sum}%.3f,""" +
        f""""control":${qmap(tc)},"curated":${qmap(tu)},""" +
        f""""control_dir":"$ctl","curated_dir":"$cur"}""")
      // scalastyle:on println
      spark.stop()
      return
    }
    // r18 (VERDICT r17 #6): the q160 read-floor discipline applied to
    // the EVENTS fact — textWrite is a SEMANTICS-FREE rewrite (schema
    // kept), so the PRODUCTION sessions-family queries run unmodified
    // over both layouts, and a DuckDB oracle can run over the SAME
    // files for the cross-engine adopt-or-reject point. Control = the
    // familyCurve corpus + write (user/event-id-shifted copies, union
    // task layout); curated = files × blockBytes textWrite of the SAME
    // rows.
    if (op == "eventslayout") {
      val names = Seq("q87_sessionize", "q92_funnel", "q93_lead_lag",
        "q94_retention")
      val files = sys.env.getOrElse("SPARK_GRAFT_TEXTFILES", "64").toInt
      val blockB = sys.env.getOrElse("SPARK_GRAFT_TEXTBLOCK",
        (32L << 20).toString).toLong
      val root = java.nio.file.Files.createTempDirectory(
        s"graft_evlayout${factor}x_").toString
      val (ctl, cur) = (s"$root/control", s"$root/curated")
      val shift = 1L << 32
      val base = Tables.load(spark, sfDir, "events")
      (0 until factor).map(i =>
          base.withColumn("user_id", col("user_id") + lit(i * shift))
            .withColumn("event_id", col("event_id") + lit(i * shift)))
        .reduce(_ unionByName _)
        .write.parquet(s"$ctl/events.parquet")
      val rows = spark.read.parquet(s"$ctl/events.parquet").count()
      val writeSec = {
        val t0 = System.nanoTime()
        operators.Layout.textWrite(
          spark.read.parquet(s"$ctl/events.parquet"),
          s"$cur/events.parquet", files, blockB)
        (System.nanoTime() - t0) / 1e9
      }
      for (d <- Seq(ctl, cur); t <- Tables.names if t != "events")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$d/$t.parquet"),
          java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
      // INTERLEAVED cold reps (this host's multi-minute phases would
      // otherwise land on one whole layout's pass and fake the verdict
      // either way — the first two single-shot runs read −74% and +39%
      // for the same code): each query alternates control/curated three
      // times, so both layouts see every phase, and the reported number
      // is the per-layout median.
      val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
      def shot(name: String, dir: String): Double = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val pairs = names.map { name =>
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save() // warm, untimed
        val both = (1 to reps).map(_ => (shot(name, ctl), shot(name, cur)))
        System.err.println(f"[eventslayout] $name ctl=" +
          both.map(b => f"${b._1}%.2f").mkString(",") + " cur=" +
          both.map(b => f"${b._2}%.2f").mkString(","))
        (name.takeWhile(_ != '_'), median(both.map(_._1)), median(both.map(_._2)))
      }
      val tc = pairs.map(p => (p._1, p._2))
      val tu = pairs.map(p => (p._1, p._3))
      def qmap(t: Seq[(String, Double)]) =
        t.map { case (q, s) => f""""$q":$s%.3f""" }.mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"eventslayout","factor":$factor,"rows":$rows,""" +
        f""""files":$files,"block":$blockB,"write_sec":$writeSec%.3f,""" +
        f""""control_sec":${tc.map(_._2).sum}%.3f,"curated_sec":${tu.map(_._2).sum}%.3f,""" +
        f""""control":${qmap(tc)},"curated":${qmap(tu)},""" +
        f""""control_dir":"$ctl","curated_dir":"$cur"}""")
      // scalastyle:on println
      spark.stop()
      return
    }
    // Embedding-statistics family curve: the Gramian / covariance /
    // correlation queries COLD over N× vec_id-shifted embeddings. The
    // design claim under measure: ONE corpus pass with O(d²) mergeable
    // state — the shuffle carries d²-long partials per partition, never
    // vectors, so the curve should be scan-bound and near-flat until
    // per-row d²/2 multiply-adds dominate.
    if (op == "gram") {
      familyCurve(spark, sfDir, factor, "gram", "embeddings", Seq("vec_id"),
        Seq("q138_gram_matrix", "q139_covariance", "q140_correlation",
          "q141_standardize", "q149_principal_component"))
      return
    }
    // Connected-components TIER A/B over the production MinHash-LSH
    // pair graph at N×. The tiered-closure claim ("driver union-find at
    // or under the threshold, star contraction above,
    // identical labeling either way") has so far been measured only
    // incidentally (the r7 20× threshold regression); this probe makes
    // it a first-class curve. Protocol: materialize the pair graph to
    // parquet ONCE (timed separately as `pairs_sec` — proposal cost is
    // q42's story, not the closure's), then run each shape cold on the
    // identical on-disk edges — the NATURAL tier, the FORCED distributed
    // tier (smallGraphThreshold=0), and the 3-round integer-exact
    // centrality loop — with a 1× warm pass per shape (JIT/codegen, the
    // relational probe's protocol). The two tiers' labelings must agree
    // by order/partitioning-independent signature or the probe throws.
    if (op == "cluster") {
      val out = java.nio.file.Files.createTempDirectory(s"graft_cc${factor}x_").toString
      def buildPairs(f: Int, path: String): Unit = {
        operators.Dedup.minhashLshPairs(scaledDocuments(spark, sfDir, f))
          .select("d1", "d2").write.parquet(path)
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
      }
      val t0 = System.nanoTime()
      buildPairs(factor, s"$out/pairs.parquet")
      val pairsSec = (System.nanoTime() - t0) / 1e9
      buildPairs(1, s"$out/warm.parquet")
      val pairs = spark.read.parquet(s"$out/pairs.parquet")
      val warm = spark.read.parquet(s"$out/warm.parquet")
      val edges = pairs.count()
      // signature = (label rows, Σ xxhash64(row) as DECIMAL(38,0) — the
      // int64 sum would trip ANSI overflow): equal multisets of
      // (v, cluster) rows give equal signatures regardless of order,
      // partitioning, or which tier produced them; count guards the
      // degenerate empty case
      def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      def timedRun(name: String, fn: DataFrame => DataFrame)
          : ((String, Double), (Long, java.math.BigDecimal)) = {
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        sig(fn(warm)) // warm, untimed
        operators.GraftCache.releaseAll(); spark.catalog.clearCache()
        val t = System.nanoTime()
        val s = sig(fn(pairs))
        val sec = (System.nanoTime() - t) / 1e9
        System.err.println(f"[scaleprobe] cluster/$name ${factor}x $sec%.3f s sig=$s")
        ((name, sec), s)
      }
      val (tTier, sTier) = timedRun("cc_tiered",
        p => operators.Cluster.connectedComponents(p))
      val (tDist, sDist) = timedRun("cc_dist",
        p => operators.Cluster.connectedComponents(p, smallGraphThreshold = 0))
      val rounds = operators.Cluster.lastDistributedRounds.get()
      require(sTier == sDist,
        s"tier labelings diverge at ${factor}x: driver=$sTier distributed=$sDist")
      val (tRank, _) = timedRun("centrality", p => operators.Cluster.centrality(p))
      val verts = pairs.select(explode(array(col("d1"), col("d2")))).distinct().count()
      val timed = Seq(tTier, tDist, tRank)
      val qmap = timed.map { case (q, s) => f""""$q":$s%.3f""" }.mkString("{", ",", "}")
      // scalastyle:off println
      println(f"""{"op":"cluster","factor":$factor,"edges":$edges,"verts":$verts,""" +
        f""""pairs_sec":$pairsSec%.3f,"rounds":$rounds,"tiers_agree":true,""" +
        f""""sec":${timed.map(_._2).sum}%.3f,"queries":$qmap}""")
      // scalastyle:on println
      spark.stop()
      cleanupDir(out)
      return
    }
    // Streaming throughput curve: N micro-batches of the events table
    // (one file per batch; each copy's event-times shifted forward one
    // hour and user ids key-shifted, so the watermark ADVANCES batch to
    // batch and windows close and evict state exactly as in production)
    // through the watermarked hourly aggregate, file source →
    // processAllAvailable. Extends BASELINE round-6's MemoryStream
    // measurement a decade with the production source path.
    // Stateful streaming dedup at N×: every event carries a DISTINCT
    // fingerprint (worst case for dedup state), event-times advance one
    // hour per micro-batch, lateness is 10 minutes — so the watermark
    // EVICTS each batch's fingerprints as soon as the next batch lands.
    // `statemax` (max `numRowsTotal` across progress events) is the
    // direct observation that state stays ~one batch deep while N×100k
    // distinct keys stream through — the "bounded by rate × lateness,
    // not corpus size" claim ([[streaming.EventStream.dedupStream]])
    // read off the state store itself.
    if (op == "streamdedup" || op == "stream") {
      // Shared harness for the two streaming probes (a divergence here
      // once let one probe measure drop-throughput — keep it single):
      // batch i's per-copy projection goes through the PRODUCTION file
      // source as exactly one micro-batch, with every progress event
      // retained (the default 100-entry recentProgress window would
      // silently exclude early batches from dropped/statemax at
      // factor ≥ ~100).
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
        (factor + 100).toString)
      val srcDir = java.nio.file.Files.createTempDirectory("graft_streamsrc").toString
      val base = Tables.load(spark, sfDir, "events")
      // batch i occupies EXACTLY hour window [i h, (i+1) h): the base
      // table's timestamps span weeks, so a naive +i h shift would leave
      // batch 0's watermark ABOVE most later batches and the stream
      // would silently drop them as late (caught by numRowsDropped —
      // rate without this fix measured drop throughput, not work)
      val hourUs = 3600L * 1000000L
      val off = timestamp_micros(pmod(Tables.epochMicros(base), lit(hourUs)))
      val shift = 1L << 32
      def writeBatch(i: Int, projected: DataFrame): Unit =
        projected.coalesce(1).write.mode("append").parquet(srcDir)
      (0 until factor).foreach { i =>
        val ts = (off + expr(s"INTERVAL $i HOURS")).as("ts")
        if (op == "streamdedup")
          // the id rides INSIDE the text so every row's fingerprint is
          // distinct — maximal dedup state, none of it droppable early
          writeBatch(i, base.select(ts,
            (col("event_id") + lit(i * shift)).as("doc_id"),
            concat(col("props"), lit(s"#$i#"), col("event_id")).as("text")))
        else
          writeBatch(i, base.select(ts,
            col("event_type"), col("value"),
            (col("user_id") + lit(i * shift)).as("user_id")))
      }
      val rows = spark.read.parquet(srcDir).count()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_streamck").toString
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val pipeline =
        if (op == "streamdedup") streaming.EventStream.dedupStream(stream)
        else streaming.EventStream.hourlyAggregate(stream)
      val t0 = System.nanoTime()
      val q = pipeline
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      // BOTH ops emit dropped (and statemax): the rate must never be
      // able to silently become a drop-throughput number again
      val sos = q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
      val stateMax = sos.map(_.numRowsTotal).foldLeft(0L)(math.max)
      val dropped = sos.map(_.numRowsDroppedByWatermark).sum
      q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // scalastyle:off println
      println(f"""{"op":"$op%s","factor":$factor,"rows":$rows,"sec":$sec%.3f,""" +
        f""""rate":${math.round(rows / sec)},"statemax":$stateMax,"dropped":$dropped}""")
      // scalastyle:on println
      spark.stop()
      return
    }
    // one-time live-file seed + catalog registration for the fileswap op
    lazy val fileswapLiveReady: Unit = {
      val dir0 = java.nio.file.Files.createTempDirectory("graft_swapb")
      val path = s"$dir0/live.duckdb"
      val url = s"jdbc:duckdb:$path"
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE SCHEMA app")
        st.execute("CREATE TABLE app.sib AS " +
          s"SELECT r AS id, md5(r::VARCHAR) AS pad FROM range(${factor.toLong * 100000L}) t(r)")
        st.execute("CREATE TABLE app.t (k BIGINT)")
        st.execute("CHECKPOINT")
        st.close()
      } finally c.close()
      spark.conf.set("spark.sql.catalog.swapb", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set("spark.sql.catalog.swapb.url", url)
    }
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
    // q159 done-criteria sweep (VERDICT r16 #1): recall@k and the EXACT
    // scanned-pair census per nprobe, against the plain-ADC yardstick
    // that scans every pair — the committed evidence that candidate
    // restriction buys its recall at a fraction of the scan, and that
    // at equal scanned-pair budget (nprobe = all cells) the residual
    // codebooks are at least as good as q158's plain codebooks.
    if (op == "ivfsweep") {
      import operators.Similarity
      // coarse quantizer TRAINED at C ≈ √N (VERDICT r17 #3: the r17
      // sweep worked around the gate's stride-derived C — which scales
      // as N/100 and makes the N·C coarse assignment quadratic — with
      // an env knob; C is now a first-class ivfTrainCents parameter
      // with the paper's √N default, and gate/sweep/production share
      // the one ivfAdcWith chain)
      val cents = Similarity.ivfTrainCents(vecs).localCheckpoint()
      val nCells = cents.count().toInt
      val bf = Similarity.annBruteForce(
        operators.GraftCache.track(vecs), isQuery).localCheckpoint()
      operators.GraftCache.releaseAll()
      val rows = vecs.count()
      val nQ = bf.select("qid").distinct().count()
      val asg = Similarity.ivfAssign(vecs, cents)
        .select("vec_id", "cell").localCheckpoint()
      val sizes = asg.groupBy("cell").agg(count(lit(1)).as("sz"))
      // SPARK_GRAFT_RERANK=1 sweeps the +R re-ranked form (q161) instead
      // of plain IVFADC; SPARK_GRAFT_NPROBES picks the nprobe points
      val rerank = sys.env.get("SPARK_GRAFT_RERANK").contains("1")
      val probeList = sys.env.get("SPARK_GRAFT_NPROBES")
        .map(_.split(',').toSeq.map(_.trim.toInt))
        .getOrElse(Seq(1, 2, 4, 8, 16).filter(_ < nCells) :+ nCells)
      val points = probeList.map { np =>
        val t0 = System.nanoTime()
        val approx =
          if (rerank) Similarity.ivfAdcRerankWith(vecs, isQuery, cents, nprobe = np)
          else Similarity.ivfAdcWith(vecs, isQuery, cents, nprobe = np)
        val r = Similarity.recallAtK(bf, approx)
          .agg(sum(col("hits")).as("h"), sum(col("k_exact")).as("k")).head()
        val sec = (System.nanoTime() - t0) / 1e9
        operators.GraftCache.releaseAll()
        val pairs = Similarity.ivfProbes(vecs, cents, isQuery, np)
          .select("qid", "cell").join(sizes, "cell")
          .join(asg.withColumnRenamed("vec_id", "qid")
            .withColumnRenamed("cell", "qcell"), "qid")
          .select((col("sz") - when(col("cell") === col("qcell"), 1L)
            .otherwise(0L)).as("p"))
          .agg(sum(col("p"))).head().getLong(0)
        operators.GraftCache.releaseAll()
        f"""{"nprobe":$np,"hits":${r.getLong(0)},"k":${r.getLong(1)},""" +
          f""""pairs":$pairs,"sec":$sec%.3f}"""
      }
      // the plain-ADC yardstick re-run is the sweep's most expensive
      // point — SPARK_GRAFT_NOADC=1 skips it when a committed
      // same-factor point already exists (BASELINE r17)
      val t0 = System.nanoTime()
      val pq =
        if (sys.env.get("SPARK_GRAFT_NOADC").contains("1")) null
        else Similarity.recallAtK(bf, Similarity.pqAdc(vecs, isQuery))
          .agg(sum(col("hits")).as("h"), sum(col("k_exact")).as("k")).head()
      val pqSec = (System.nanoTime() - t0) / 1e9
      operators.GraftCache.releaseAll()
      val adcJson = if (pq == null) "" else
        f""","adc":{"hits":${pq.getLong(0)},"k":${pq.getLong(1)},""" +
          f""""pairs":${nQ * (rows - 1)},"sec":$pqSec%.3f}"""
      // scalastyle:off println
      println(f"""{"op":"ivfsweep","rerank":${if (rerank) 1 else 0},"factor":$factor,"rows":$rows,""" +
        f""""cells":$nCells,"queries":$nQ,"sweep":[${points.mkString(",")}]""" +
        adcJson + "}")
      // scalastyle:on println
      spark.stop()
      return
    }
    // r19 (VERDICT r18 #1 done-criteria at scale): the persisted ANN
    // index's lifecycle costs at N× — build once (train + encode +
    // write), then the QUERY-ONLY price the artifact exists for,
    // against the r18 regime's per-execution full chain
    // (ivfAdcWith = re-train every execution) on the same vectors and
    // the same trained cells. Plus the mutation surface: one 1%-of-
    // corpus append batch (encode-against-frozen-model cost — batch-
    // proportional by construction), its tombstone delete, and the
    // compact fold. Queries run 3× and report the median.
    if (op == "annidx") {
      import operators.{AnnIndex, GraftCache, Similarity}
      val v = GraftCache.track(vecs)
      val rows = v.count()
      val path = java.nio.file.Files.createTempDirectory("graft_annidx_probe")
        .toString + "/idx"
      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = body
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val (cents, trainSec) = timed(
        Similarity.ivfTrainCents(v).localCheckpoint())
      val (_, buildSec) = timed(AnnIndex.build(v, path, cents))
      val qs = v.filter(isQuery).localCheckpoint()
      def q1(): Double = {
        val (_, s) = timed(AnnIndex.search(spark, path, qs)
          .write.format("noop").mode("overwrite").save())
        s
      }
      val querySec = Seq(q1(), q1(), q1()).sorted.apply(1)
      // the r18 regime on identical inputs: full chain per execution
      val (_, chainSec) = timed(
        Similarity.ivfAdcWith(v, isQuery, cents)
          .write.format("noop").mode("overwrite").save())
      GraftCache.releaseAll()
      val maxId = v.agg(max(col("vec_id"))).head().getLong(0)
      val batch = v.filter(col("vec_id") % 100 === 7)
        .select((col("vec_id") + maxId + 1).as("vec_id"), col("q"), col("nrm"))
        .localCheckpoint()
      val bRows = batch.count()
      val (_, appendSec) = timed(AnnIndex.maintainBatch(
        batch, spark.emptyDataFrame.select(lit(0L).as("vec_id")).limit(0),
        path, 1L))
      val (_, deleteSec) = timed(AnnIndex.maintainBatch(
        batch.limit(0), batch.select("vec_id"), path, 2L))
      val (_, compactSec) = timed(AnnIndex.compact(spark, path))
      val query2Sec = q1()
      // scalastyle:off println
      println(f"""{"op":"annidx","factor":$factor,"rows":$rows,""" +
        f""""train_sec":$trainSec%.3f,"build_sec":$buildSec%.3f,""" +
        f""""query_sec":$querySec%.3f,"chain_sec":$chainSec%.3f,""" +
        f""""append_rows":$bRows,"append_sec":$appendSec%.3f,""" +
        f""""delete_sec":$deleteSec%.3f,"compact_sec":$compactSec%.3f,""" +
        f""""query2_sec":$query2Sec%.3f}""")
      // scalastyle:on println
      spark.stop()
      return
    }
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
        // Prepared-batch INSERT throughput through the DSv2 write path
        // into a live engine — the ONE performance artifact the
        // reference publishes is exactly this shape
        // (`benches/sqlite_insert_benchmark.rs:41-140`, rows/sec and
        // µs/row per batches×rows config). factor × 100k synthetic
        // rows; batch size from SPARK_GRAFT_BATCH (default 1000).
        case ins @ ("insertderby" | "insertduckdb") =>
          val url =
            if (ins == "insertderby")
              s"jdbc:derby:memory:graft_insb_${System.nanoTime()};create=true"
            else {
              val d = java.nio.file.Files.createTempDirectory("graft_insb")
              s"jdbc:duckdb:$d/ins.duckdb"
            }
          spark.conf.set("spark.sql.catalog.insb", "graft.sources.jdbc.GraftCatalog")
          spark.conf.set("spark.sql.catalog.insb.url", url)
          spark.conf.set("spark.sql.catalog.insb.batchsize",
            sys.env.getOrElse("SPARK_GRAFT_BATCH", "1000"))
          spark.sql("CREATE NAMESPACE IF NOT EXISTS insb.app")
          val t = s"insb.app.t${System.nanoTime()}"
          val rows = factor.toLong * 100000L
          spark.range(rows).select(col("id"),
            (col("id") % 997).as("grp"),
            concat(lit("name_"), col("id")).as("name"),
            ((col("id") * 7 % 10000) / 100.0).as("v"))
            .writeTo(t).create()
          spark.table(t)
        // W5 file-swap cost vs SIBLING data volume: the swap's price is
        // copying every OTHER table into the staging generation (the
        // refreshed table itself is tiny here), so wall should scale
        // with factor × 100k sibling rows — the measured form of the
        // "swap is O(other tables), not O(refreshed data)" claim.
        // Setup (seed + catalog) happens ONCE, outside both the warm-up
        // and the timed run — Spark caches the catalog plugin by NAME,
        // so per-run conf.set would be ignored anyway (review finding);
        // the timed region is exactly stage→copy→checkpoint→swap.
        case "fileswap" =>
          fileswapLiveReady
          spark.range(10).select(col("id").as("k"))
            .writeTo("swapb.app.t").option("overwritemode", "fileswap")
            .overwrite(lit(true))
          spark.table("swapb.app.t")
        case other => throw new IllegalArgumentException(s"unknown op $other")
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
}
